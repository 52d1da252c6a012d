"""``registry``: the query registry's cold-endpoint shape.

Cycles in a fixed order over PASS: eight reference-surface registry
queries plus the five analytics lines pinned for no-regression. Each op
is ``__spark_entry__.queries()[name](spark, sf_dir)``, then
``.toPandas()`` (the rows, as the oracle comparison reads them), then
``session.release_materialized()``; every op rebuilds spans
and the index from events inline and fires its eager ``materialize``
pins.

Every op's rows, warm-up included, are compared with the query's
``oracle_sql()`` DuckDB mirror through ``tests/oracle_harness.compare``.
The warm-up pass runs exactly the timed code path once per query.

Setup is what a registry caller pays before the first query: a cold
session start (a fresh JVM) plus importing ``__spark_entry__`` and building
``queries()``. It is timed once per run: repeating it means launching
another JVM, about 8 s on 4 cores, which the run budget does not have; the
median over runs absorbs its spread.
"""

from __future__ import annotations

import time

import datagen
import stats
import workloads as W
from workloads import Op

# sf0.01-sized inputs (the scale of the oracle suite's correctness runs)
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500

#: frozen op list, name -> class: reference-surface queries of each
#: family (search, trace lookup, aggregation), the processed-search
#: pipeline, and the five analytics lines pinned for no-regression
QUERIES = {
    "search_traces": "search",
    "search_tag_range": "search",
    "search_traces_processed": "search",
    "get_trace": "trace",
    "get_raw_traces": "trace",
    "call_graph": "trace",
    "trace_counts": "agg",
    "field_values": "agg",
    "critical_path_contrib": "analytics",
    "tail_latency_attribution": "analytics",
    "dedup_cascade_yield": "analytics",
    "split_balance_audit": "analytics",
    "knn_label_consistency": "analytics",
}
#: one timed pass, in this fixed order: the six heavy lines once and the
#: seven light reference queries twice, 20 ops (enough for the p50 rule)
#: in one pass. Two passes of every query once cost half as much again
#: per run, and the run budget does not have it.
PASS = (
    "search_traces", "critical_path_contrib", "get_trace", "trace_counts",
    "tail_latency_attribution", "search_tag_range", "call_graph",
    "search_traces_processed", "field_values", "get_raw_traces",
    "dedup_cascade_yield", "search_traces", "get_trace", "split_balance_audit",
    "trace_counts", "search_tag_range", "knn_label_consistency", "call_graph",
    "field_values", "get_raw_traces",
)
#: the one op the local[1] baseline repeats
LOCAL1_OP = "search_traces_processed"


def schedule(names):
    while True:
        for name in names:
            yield Op(name, QUERIES[name], {})


class _Collected:
    """An already-collected result in the shape oracle_harness.compare
    reads (it only calls ``toPandas()``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def make_call(spark, registry, sf_dir: str):
    """The op: build the plan (with its eager pins), collect its rows,
    release the pins. Records plan/exec/release seconds and the pin count
    on the op; returns the rows as pandas."""
    from haystack_traces_spark.session import release_materialized

    def call(op: Op):
        t0 = time.perf_counter()
        df = registry[op.kind](spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.toPandas()
        t2 = time.perf_counter()
        pins = release_materialized()
        t3 = time.perf_counter()
        op.params.update(plan_s=t1 - t0, exec_s=t2 - t1, release_s=t3 - t2, pins=pins)
        return rows

    return call


def run(ctx) -> W.Outcome:
    import probes

    phases = W.Phases()
    with phases("data"):
        sf = datagen.write_tables(ctx.work / "sf", ctx.seed, N_EVENTS, N_USERS, N_DOCS, N_VECS)
        sf_dir = str(sf)

    with phases("setup"):
        t = time.perf_counter()
        spark = ctx.start_spark()
        import __spark_entry__

        registry = __spark_entry__.queries()
        setup_s = time.perf_counter() - t
    oracles = __spark_entry__.oracle_sql()

    from tests.oracle_harness import compare, run_oracle

    checker = W.Checker()
    with phases("oracle"):
        want = {name: run_oracle(oracles[name], sf_dir) for name in QUERIES}

    def verdict(op: Op):
        compare(_Collected(op.result), want[op.kind], op.kind)

    # warm-up: one untimed pass, each query once
    call = make_call(spark, registry, sf_dir)
    with phases("warmup"):
        warm, _ = W.window(schedule(QUERIES), call, 0, min_ops=len(QUERIES))
    with phases("window"):
        if not ctx.trace:
            ops, wall = W.window(schedule(PASS), call, ctx.seconds, whole=len(PASS))
        else:
            # traced: every op also runs once more under a job group
            counters = probes.JobCounters(spark.sparkContext)
            ops, traced = W.paired_window(schedule(PASS), call, ctx.seconds, counters,
                                          whole=len(PASS))
    with phases("check"):
        for op in warm + ops + (traced if ctx.trace else []):
            checker.check(op, lambda: verdict(op))

    out = W.Outcome()
    out.record = {
        "ops": len(ops),
        "passes": len(ops) // len(PASS),
        "warmup_ms_by_kind": {o.kind: round(o.seconds * 1000, 3) for o in warm},
        "phases_s": phases,
        **W.class_medians(ops),
    }
    if not ctx.trace:
        out.metrics = W.e2e(ops, wall, setup_s)
    else:
        m = {
            "entry_queries.plan_ms": (stats.median([o.params["plan_s"] for o in traced]) * 1000, "ms"),
            "entry_queries.exec_ms": (stats.median([o.params["exec_s"] for o in traced]) * 1000, "ms"),
            "session.pins_per_op": (sum(o.params["pins"] for o in traced) / len(traced), "count"),
            "session.release_ms": (sum(o.params["release_s"] for o in traced) / len(traced) * 1000, "ms"),
            "trace_overhead_pct": (W.overhead_pct(ops, traced), "%"),
        }
        spark_m, spark_rec = W.spark_layers(traced)
        m.update(spark_m)

        # one op at local[1]: what the k-way parallelism buys
        spark = ctx.start_spark(1)
        call1 = make_call(spark, __spark_entry__.queries(), sf_dir)
        for _ in range(2):  # second call is the warm one
            one = W.run_op(Op(LOCAL1_OP, QUERIES[LOCAL1_OP], {}), call1)
            checker.check(one, lambda: verdict(one))
        k_s = stats.median([o.seconds for o in ops if o.kind == LOCAL1_OP])
        m["spark.local1_ratio"] = (one.seconds / k_s, "x")
        m.update(W.idle_layers(m))
        out.metrics = m
        out.record.update({
            "spark_counters_by_kind": spark_rec,
            "local1_op": LOCAL1_OP,
            "plan_ms_by_kind": {o.kind: round(o.params["plan_s"] * 1000, 3) for o in traced},
            "pins_by_kind": {o.kind: o.params["pins"] for o in traced},
        })
    out.attempted, out.failed = checker.attempted, checker.failed
    out.record.update({
        "fail_ratio": stats.fail_ratio(checker.failed, checker.attempted),
        "failures": checker.failures,
    })
    return out

