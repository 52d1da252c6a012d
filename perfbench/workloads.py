"""Shared workload machinery: the outcome type, the timed window, and the
summaries every workload reports."""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import stats

#: a window runs at least this many ops, so op_p50 always satisfies the
#: percentile rule (ten samples beyond the median)
MIN_OPS = stats.min_samples(0.5)
SPARK_COUNTERS = ("jobs", "stages", "single_task_stages", "tasks")
#: op classes every traced run reports Spark counters for
CLASSES = ("search", "trace", "agg", "analytics")

#: gated end-to-end metrics (name, unit), printed by every --trace 0 run
E2E = (("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_ms", "ms"),
       ("peak_rss_mb", "MB"))

#: per-layer metrics (name, unit, better), printed by every --trace 1 run;
#: a layer a workload does not exercise reads 0
PER_LAYER = (
    ("api.self_ms", "ms", "lower"),
    ("transform.pipeline_ms", "ms", "lower"),
    ("transform.process_single_ms", "ms", "lower"),
    ("operators.search_ids_ms", "ms", "lower"),
    ("operators.fetch_ms", "ms", "lower"),
    ("operators.counts_ms", "ms", "lower"),
    ("operators.field_values_ms", "ms", "lower"),
    ("operators.call_graph_ms", "ms", "lower"),
    ("operators.index_write_ms", "ms", "lower"),
    ("sources.get_raw_trace_ms", "ms", "lower"),
    ("sources.read_records_ms", "ms", "lower"),
    ("sources.events_to_spans_ms", "ms", "lower"),
    ("sources.store_write_ms", "ms", "lower"),
    ("entry_queries.plan_ms", "ms", "lower"),
    ("entry_queries.exec_ms", "ms", "lower"),
    ("session.pins_per_op", "count", "lower"),
    ("session.release_ms", "ms", "lower"),
    ("streaming.op_ms", "ms", "lower"),
    ("streaming.batches_per_op", "count", "lower"),
    ("streaming.batch_ms", "ms", "lower"),
    ("streaming.sessionize_ms", "ms", "lower"),
    ("streaming.sinks_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    *((f"spark.{c}.{k}_per_op", "count", "lower")
      for c in CLASSES for k in SPARK_COUNTERS),
    ("spark.local1_ratio", "x", "higher"),
    ("trace_overhead_pct", "%", "lower"),
)


@dataclass
class Outcome:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    record: dict = field(default_factory=dict)


@dataclass
class Op:
    """One request: its type, class, parameters and, once run, its wall
    time, result, error and (traced runs) Spark counters."""

    kind: str
    cls: str
    params: dict
    seconds: float = 0.0
    result: object = None
    error: str | None = None
    counters: dict | None = None


class Phases(dict):
    """Wall seconds per named phase of a run, for the run record."""

    @contextmanager
    def __call__(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self[name] = round(self.get(name, 0) + time.perf_counter() - t, 3)


class Checker:
    """Counts checked ops and keeps the first few failures for the record."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, op: Op, verdict) -> None:
        """``verdict`` is a zero-argument callable returning None when the
        op's output is right, else a message."""
        self.attempted += 1
        msg = op.error
        if msg is None:
            try:
                msg = verdict()
            except Exception as e:  # a check that cannot run is a failure
                msg = f"check raised {type(e).__name__}: {e}"
        if msg is not None:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(f"{op.kind} {op.params}: {msg}"[:300])


def run_op(op: Op, call, counters=None) -> Op:
    """Time ``call(op)``; under ``counters`` (a probes.JobCounters) also
    record the op's Spark jobs/stages/tasks. Exceptions are recorded on
    the op, never raised."""
    t = time.perf_counter()
    try:
        if counters is None:
            op.result = call(op)
        else:
            op.result, op.counters = counters.run(lambda: call(op))
    except Exception as e:
        op.error = f"{type(e).__name__}: {e}"[:300]
    op.seconds = time.perf_counter() - t
    return op


def window(schedule, call, seconds: float, counters=None, min_ops: int = MIN_OPS,
           whole=None) -> tuple[list[Op], float]:
    """Closed loop, one client: run ops from ``schedule`` back to back until
    ``seconds`` have passed and at least ``min_ops`` ops ran. ``whole``
    (an int) makes the window end only on a multiple of that many ops.
    Returns the ops and the window's wall time."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    for op in schedule:
        ops.append(run_op(op, call, counters))
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and len(ops) >= min_ops and (
            whole is None or len(ops) % whole == 0
        ):
            return ops, elapsed
    return ops, time.perf_counter() - t0


def paired_window(schedule, call, seconds: float, counters, whole=None) -> tuple[list[Op], list[Op]]:
    """Traced-run window: every scheduled op runs twice back to back, once
    plain and once under ``counters``, alternating which goes first, so
    warm-up drift and cache effects cancel between the two lists. Ends by
    the rules of :func:`window`, counted on the plain ops."""
    plain: list[Op] = []
    traced: list[Op] = []
    t0 = time.perf_counter()
    for i, op in enumerate(schedule):
        twin = Op(op.kind, op.cls, dict(op.params))
        pair = [(op, None), (twin, counters)]
        for o, c in pair if i % 2 == 0 else pair[::-1]:
            run_op(o, call, c)
        plain.append(op)
        traced.append(twin)
        if time.perf_counter() - t0 >= seconds and len(plain) >= MIN_OPS and (
            whole is None or len(plain) % whole == 0
        ):
            break
    return plain, traced


def e2e(ops: list[Op], wall_s: float, setup_s: float) -> dict[str, tuple[float, str]]:
    """The gated end-to-end metrics of one timed window."""
    ms = [o.seconds * 1000 for o in ops]
    p50 = stats.percentile(ms, 0.5)
    if p50 is None:
        raise RuntimeError(f"window ran {len(ms)} ops; op_p50 needs {MIN_OPS}")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "op_p50_ms": (p50, "ms"),
    }


def class_medians(ops: list[Op]) -> dict:
    """Per-class p50 (null when the class has too few samples for the
    percentile rule) with the sample count, plus op_p90 under the same
    rule."""
    by: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by[o.cls].append(o.seconds * 1000)
    out = {
        f"{c}_p50_ms": {"value": stats.percentile(v, 0.5), "samples": len(v)}
        for c, v in sorted(by.items())
    }
    ms = [o.seconds * 1000 for o in ops]
    out["op_p90_ms"] = {"value": stats.percentile(ms, 0.9), "samples": len(ms)}
    out["op_median_ms_by_kind"] = {
        k: round(stats.median(v), 3)
        for k, v in sorted(_by_kind(ops).items())
    }
    return out


def _by_kind(ops: list[Op]) -> dict[str, list[float]]:
    by: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by[o.kind].append(o.seconds * 1000)
    return by


def spark_layers(ops: list[Op]) -> tuple[dict[str, tuple[float, str]], dict]:
    """Per-class medians of the Spark counters of traced ops, and for the
    record the distinct counter tuples seen per op type (one tuple means
    the counts repeat exactly)."""
    metrics = {}
    for c in CLASSES:
        mine = [o.counters for o in ops if o.cls == c and o.counters]
        for k in SPARK_COUNTERS:
            vals = [m[k] for m in mine]
            metrics[f"spark.{c}.{k}_per_op"] = (stats.median(vals) if vals else 0, "count")
    seen: dict[str, set] = defaultdict(set)
    for o in ops:
        if o.counters:
            seen[o.kind].add(tuple(o.counters[k] for k in SPARK_COUNTERS))
    record = {k: sorted(v) for k, v in sorted(seen.items())}
    return metrics, record


def overhead_pct(untraced: list[Op], traced: list[Op]) -> float:
    """Traced minus untraced median op time, as a percentage of untraced
    (the two lists from one :func:`paired_window`)."""
    u = stats.median([o.seconds for o in untraced])
    t = stats.median([o.seconds for o in traced])
    return (t - u) / u * 100


def idle_layers(metrics: dict) -> dict[str, tuple[float, str]]:
    """Zeros for the per-layer metrics this workload does not exercise."""
    return {n: (0, u) for n, u, _ in PER_LAYER if n not in metrics}


def run(ctx) -> Outcome:
    if ctx.workload == "reader":
        import reader as mod
    elif ctx.workload == "registry":
        import registry as mod
    else:
        import ingest as mod
    return mod.run(ctx)
