"""``ingest``: the streaming indexer write path.

Each op runs ``streaming.ingest.run_backfill`` into fresh table and
checkpoint directories over a fixed JSON span corpus: the 50k
client/server spans of the reader's events in CORPUS_FILES files, read
FILES_PER_TRIGGER files per micro-batch (four data batches plus the flush
batch). Each op's trace_store must hold every span and trace and its
trace_index one row per trace.

Not a gated workload (one warm op takes 15-25 s on 4 cores, so a run long
enough for a steady median does not fit the benchmark's run budget); the
traced ``reader`` run calls :func:`layer_block` so the streaming layers
are still measured on every traced run.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from pathlib import Path

import datagen
import stats
import workloads as W
from workloads import Op

CORPUS_FILES = 8
FILES_PER_TRIGGER = 2
SETUP_REPEATS = 3


def write_corpus(spark, spans_path: str, out: Path) -> None:
    """JSON span corpus in CORPUS_FILES files, split by span id so each
    trace's spans spread over several micro-batches."""
    spark.read.parquet(spans_path).repartition(CORPUS_FILES, "span_id").write.json(str(out))


def backfill(spark, corpus: Path, d: Path) -> None:
    from haystack_traces_spark.streaming.ingest import run_backfill

    run_backfill(spark, str(corpus), str(d / "tables"), str(d / "ckpt"),
                 max_files_per_trigger=FILES_PER_TRIGGER)


def check(spark, d: Path, want_spans: int, want_traces: int):
    """None when the op wrote every span and trace, else what is wrong."""
    import pyspark.sql.functions as F

    store = spark.read.parquet(str(d / "tables" / "trace_store"))
    got = store.agg(F.sum(F.size("spans")).alias("spans"),
                    F.countDistinct("trace_id").alias("traces")).first()
    idx = spark.read.parquet(str(d / "tables" / "trace_index"))
    got_idx = idx.agg(F.count(F.lit(1)).alias("rows"),
                      F.countDistinct("traceid").alias("traces")).first()
    have = (got["spans"], got["traces"], got_idx["rows"], got_idx["traces"])
    want = (want_spans, want_traces, want_traces, want_traces)
    return None if have == want else f"(store spans, store traces, index rows, index traces) {have} != {want}"


class Progress:
    """StreamingQueryListener keeping every micro-batch progress report."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                reports.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


@contextmanager
def timed_topology(sink_s: list, sessionize_s: list):
    """Swap in an IngestTopology whose process_batch first materializes the
    sessionized buffers (timing the stateful step) and then times the
    three sink appends."""
    import haystack_traces_spark.streaming.ingest as ing

    base = ing.IngestTopology

    class Timed(base):
        def process_batch(self, buffers, batch_id):
            t = time.perf_counter()
            buffers.persist()
            buffers.count()
            t1 = time.perf_counter()
            try:
                super().process_batch(buffers, batch_id)
            finally:
                buffers.unpersist()
            sessionize_s.append(t1 - t)
            sink_s.append(time.perf_counter() - t1)

    ing.IngestTopology = Timed
    try:
        yield
    finally:
        ing.IngestTopology = base


def _wait_reports(prog: Progress, settle_s: float = 0.5, cap_s: float = 5.0) -> None:
    """Progress events arrive asynchronously: wait until none arrived for
    ``settle_s``."""
    deadline = time.monotonic() + cap_s
    n = -1
    while n != len(prog.reports) and time.monotonic() < deadline:
        n = len(prog.reports)
        time.sleep(settle_s)


def _expect(spark, path: str, reader: str = "parquet") -> tuple[int, int]:
    """(spans, traces) an op over the spans at ``path`` must write."""
    from haystack_traces_spark.schemas import SPAN

    df = spark.read.schema(SPAN).json(path) if reader == "json" else spark.read.parquet(path)
    return df.count(), df.select("trace_id").distinct().count()


def layer_block(ctx, spark, spans_path: str, checker: W.Checker) -> W.Outcome:
    """A warm-up backfill of one corpus file, then one traced backfill of
    the whole corpus, which supplies the streaming.* layer metrics."""
    corpus = ctx.work / "corpus"
    write_corpus(spark, spans_path, corpus)
    small = ctx.work / "corpus_small"
    small.mkdir()
    first = sorted(corpus.glob("part-*"))[0]
    (small / first.name).write_bytes(first.read_bytes())
    prog = Progress()
    spark.streams.addListener(prog.listener)
    sinks: list[float] = []
    sess: list[float] = []
    try:
        with timed_topology(sinks, sess):
            for i, src in enumerate((small, corpus)):
                want = _expect(spark, str(src), "json")
                d = ctx.work / f"ingest{i}"
                _wait_reports(prog)
                del prog.reports[:], sinks[:], sess[:]
                op = W.run_op(Op("backfill", "ingest", {"run": i}),
                              lambda op: backfill(spark, src, d))
                checker.check(op, lambda: check(spark, d, *want))
        _wait_reports(prog)
    finally:
        spark.streams.removeListener(prog.listener)
    reports = list(prog.reports)
    batch_ms = [r.durationMs.get("triggerExecution", 0) for r in reports]
    state_rows = [s.numRowsTotal for r in reports for s in r.stateOperators] or [0]
    state_b = [s.memoryUsedBytes for r in reports for s in r.stateOperators] or [0]
    out = W.Outcome()
    out.metrics = {
        "streaming.op_ms": (op.seconds * 1000, "ms"),
        "streaming.batches_per_op": (len(reports), "count"),
        "streaming.batch_ms": (stats.median(batch_ms) if batch_ms else 0.0, "ms"),
        "streaming.sessionize_ms": (sum(sess) * 1000, "ms"),
        "streaming.sinks_ms": (sum(sinks) * 1000, "ms"),
        "streaming.state_rows": (max(state_rows), "count"),
        "streaming.state_mb": (max(state_b) / 2**20, "MB"),
    }
    out.record = {"ingest_batch_ms": batch_ms, "ingest_spans": want[0],
                  "ingest_traces": want[1]}
    return out


def run(ctx) -> W.Outcome:
    """Standalone ingest workload (not in BENCHMARK.json): corpus written
    SETUP_REPEATS times in setup, one warm-up op, then backfills until
    ``--seconds`` pass. op_p50 and batch_p50 follow the percentile rule, so
    they are null unless the run is long enough (20 ops / 20 batches)."""
    import reader

    sf = datagen.write_tables(ctx.work / "sf", ctx.seed, reader.N_EVENTS, reader.N_USERS)
    spark = ctx.start_spark()
    from haystack_traces_spark.session import fan_out_cheap
    from haystack_traces_spark.sources.events import spans_cs_from_events

    spans_path = str(ctx.work / "spans")
    spans_cs_from_events(fan_out_cheap(spark.read.parquet(str(sf / "events.parquet")))
                         ).write.parquet(spans_path)
    want_spans, want_traces = _expect(spark, spans_path)
    setups = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        write_corpus(spark, spans_path, ctx.work / f"corpus{i}")
        setups.append(time.perf_counter() - t)
    corpus = ctx.work / f"corpus{SETUP_REPEATS - 1}"

    checker = W.Checker()
    prog = Progress()
    spark.streams.addListener(prog.listener)

    def one(op):
        backfill(spark, corpus, op.params["dir"])

    sched = (Op("backfill", "ingest", {"dir": ctx.work / f"op{i}"})
             for i in itertools.count())
    warm = W.run_op(next(sched), one)
    checker.check(warm, lambda: check(spark, warm.params["dir"], want_spans, want_traces))
    _wait_reports(prog)
    del prog.reports[:]
    ops, wall = W.window(sched, one, ctx.seconds, min_ops=1)
    _wait_reports(prog)
    spark.streams.removeListener(prog.listener)
    for op in ops:
        checker.check(op, lambda: check(spark, op.params["dir"], want_spans, want_traces))
    batch_ms = [r.durationMs.get("triggerExecution", 0) for r in prog.reports]
    ms = [o.seconds * 1000 for o in ops]
    out = W.Outcome(attempted=checker.attempted, failed=checker.failed)
    out.metrics = {
        "setup_s": (stats.median(setups), "s"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "op_p50_ms": (stats.percentile(ms, 0.5), "ms"),
        "spans_per_s": (want_spans * len(ops) / wall, "1/s"),
        "batch_p50_ms": (stats.percentile(batch_ms, 0.5), "ms"),
    }
    out.record = {
        "fail_ratio": stats.fail_ratio(checker.failed, checker.attempted),
        "failures": checker.failures,
        "ops": len(ops),
        "op_median_ms": stats.median(ms),
        "batches": len(batch_ms),
        "batch_median_ms": stats.median(batch_ms) if batch_ms else None,
        "spans": want_spans,
        "traces": want_traces,
    }
    return out
