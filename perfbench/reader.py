"""``reader``: the TraceEngine service under a seeded request mix.

Setup builds the trace store, trace index and service catalog from 50k
client/server spans (1,500 traces, 5 services) and opens a TraceEngine on
them; it runs SETUP_REPEATS times and setup_s is the median. Then one
closed-loop client runs blocks of nine requests (BLOCK: the eight endpoint
calls below, ``search_ids`` twice) in a seeded order with seeded
parameters. Every answer is checked after the
window against DuckDB over the same events.
"""

from __future__ import annotations

import random
import time
from collections import defaultdict
from pathlib import Path

import datagen
import stats
import workloads as W
from workloads import Op

N_EVENTS = 25_750  # -> exactly 50,000 client/server spans over N_USERS traces
N_USERS = 1_500
SETUP_REPEATS = 3
LIMIT = 20
DURATIONS = (50_000, 100_000, 200_000)  # duration > x filters, micros
HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
COUNTS_INTERVAL_US = 6 * HOUR_US
SEARCH_END = datagen.T0_US + 31 * DAY_US

KINDS = {
    "search_processed": "search",
    "search_raw": "search",
    "search_ids": "search",
    "get_trace": "trace",
    "get_raw_traces": "trace",
    "call_graph": "trace",
    "counts": "agg",
    "field_values": "agg",
}


#: one block of requests: every endpoint call once and ``search_ids`` twice.
#: The odd block length puts the median of a whole-block window inside
#: one call type's cluster of times (``counts``) instead of on the gap
#: between two: with eight calls per block, op_p50 averaged the slowest
#: ``counts`` and the fastest ``field_values`` call and spread 0.23 over
#: ten seeds.
BLOCK = sorted(KINDS) + ["search_ids"]


def schedule(seed: int):
    """Endless blocks, each BLOCK shuffled; windows end on block
    boundaries, so every window has the same mix whatever the seed. The
    seeded parameters (service, duration filter, trace ids, counts
    window) do not change how much work a call does."""
    rng = random.Random(seed)
    kinds = list(BLOCK)
    while True:
        rng.shuffle(kinds)
        for kind in kinds:
            yield Op(kind, KINDS[kind], {
                "svc": rng.choice(datagen.EVENT_TYPES),
                "dur": rng.choice(DURATIONS),
                "tids": [str(t) for t in rng.sample(range(N_USERS), 3)],
                "day": rng.randrange(23),
            })


# ---------------------------------------------------------------- requests --

def _search_req(p):
    from haystack_traces_spark.operators.expression import ExpressionTree, Field
    from haystack_traces_spark.operators.search import SearchRequest

    return SearchRequest(datagen.T0_US, SEARCH_END, LIMIT, ExpressionTree((
        Field("servicename", p["svc"], "EQUAL"),
        Field("duration", p["dur"], "GREATER_THAN"),
    )))


def _counts_req(p):
    from haystack_traces_spark.operators.counts import TraceCountsRequest

    start = datagen.T0_US + p["day"] * DAY_US
    return TraceCountsRequest(start, start + 7 * DAY_US, COUNTS_INTERVAL_US)


def _fv_filters(p):
    from haystack_traces_spark.operators.expression import Field

    # the duration co-filter keeps the call on the index path (a lone
    # service filter is answered from the service catalog)
    return [Field("servicename", p["svc"], "EQUAL"),
            Field("duration", p["dur"], "GREATER_THAN")]


def call(engine, op: Op):
    """One endpoint call, driven to the client-visible answer."""
    p = op.params
    tid = p["tids"][0]
    k = op.kind
    if k == "search_processed":
        return engine.search_traces(_search_req(p)).collect()
    if k == "search_raw":
        return engine.search_traces(_search_req(p), processed=False).collect()
    if k == "search_ids":
        return engine.search_trace_ids(_search_req(p)).collect()
    if k == "get_trace":
        return engine.get_trace(tid)
    if k == "get_raw_traces":
        return engine.get_raw_traces(p["tids"]).collect()
    if k == "call_graph":
        return engine.get_trace_call_graph(tid).collect()
    if k == "counts":
        return engine.get_trace_counts(_counts_req(p)).collect()
    if k == "field_values":
        return engine.get_field_values("operationname", _fv_filters(p)).collect()
    raise ValueError(k)


# ------------------------------------------------------------------- setup --

def build(spark, events_path: str, d: Path) -> tuple[object, dict[str, float]]:
    """events -> spans -> store / index / catalog on disk -> TraceEngine.
    Returns the engine and the wall time of each layer."""
    from haystack_traces_spark.operators.field_values import build_service_catalog
    from haystack_traces_spark.operators.index import build_trace_index, write_trace_index
    from haystack_traces_spark.session import fan_out_cheap
    from haystack_traces_spark.sources.events import spans_cs_from_events
    from haystack_traces_spark.sources.spans import build_trace_store, write_trace_store

    t = [time.perf_counter()]
    spans_cs_from_events(fan_out_cheap(spark.read.parquet(events_path))).write.parquet(
        str(d / "spans"))
    t.append(time.perf_counter())
    spans = spark.read.parquet(str(d / "spans"))
    write_trace_store(build_trace_store(spans), str(d / "store"))
    t.append(time.perf_counter())
    write_trace_index(build_trace_index(spans, with_partition_cols=True), str(d / "index"))
    t.append(time.perf_counter())
    build_service_catalog(spans).write.parquet(str(d / "catalog"))
    engine = reopen(spark, d)
    t.append(time.perf_counter())
    names = ("sources.events_to_spans", "sources.store_write", "operators.index_write",
             "setup_total")
    parts = {n: b - a for n, a, b in zip(names[:3], t, t[1:])}
    parts["setup_total"] = t[-1] - t[0]
    return engine, parts


def reopen(spark, d: Path):
    """A TraceEngine over tables a previous build left in ``d``."""
    from haystack_traces_spark.api import TraceEngine

    return TraceEngine(
        spark.read.parquet(str(d / "spans")),
        trace_store=spark.read.parquet(str(d / "store")),
        trace_index=spark.read.parquet(str(d / "index")),
        service_catalog=spark.read.parquet(str(d / "catalog")),
    )


# ------------------------------------------------------------------- check --

class Expected:
    """DuckDB answers over the same events parquet, through the engine's
    SQL mirror of the client/server span projection."""

    def __init__(self, events_path: str):
        import duckdb

        from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

        self.con = con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        con.execute(f"CREATE TABLE ev AS {EVENT_SPANS_CS_CTE} SELECT * FROM ev")
        con.execute(f"CREATE TABLE cs AS {EVENT_SPANS_CS_CTE} SELECT * FROM cs_spans")
        con.execute("""
            CREATE TABLE grp AS
            SELECT trace_id, lower(service_name) AS svc, lower(operation_name) AS op,
                   MIN(start_time - start_time % 1000000) AS st,
                   MAX(CASE WHEN duration > 20000000 THEN duration - duration % 1000000
                            ELSE duration END) AS max_dur
            FROM cs WHERE service_name <> '' AND operation_name <> ''
            GROUP BY 1, 2, 3""")
        con.execute("CREATE TABLE idx AS SELECT trace_id, MIN(st) AS st FROM grp GROUP BY 1")
        self.n_cs = dict(con.execute("SELECT trace_id, COUNT(*) FROM cs GROUP BY 1").fetchall())
        self.n_ev = dict(con.execute("SELECT trace_id, COUNT(*) FROM ev GROUP BY 1").fetchall())
        self._memo: dict = {}

    def _q(self, sql: str, args=()):
        key = (sql, tuple(args))
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql, list(args)).fetchall()
        return self._memo[key]

    def search(self, p) -> list[tuple[str, int]]:
        return self._q("""
            SELECT trace_id, st FROM idx
            WHERE st BETWEEN ? AND ?
              AND trace_id IN (SELECT trace_id FROM grp WHERE svc = ?)
              AND trace_id IN (SELECT trace_id FROM grp WHERE max_dur > ?)
            ORDER BY st DESC, trace_id DESC LIMIT ?""",
            (datagen.T0_US, SEARCH_END, p["svc"], p["dur"], LIMIT))

    def edges(self, tid: str) -> list[tuple]:
        return sorted(self._q("""
            SELECT parent_service, parent_operation, service_name, operation_name, 2 * net
            FROM ev WHERE trace_id = ? AND parent_span_id <> ''""", (tid,)))

    def counts(self, p) -> list[tuple[int, int]]:
        start = datagen.T0_US + p["day"] * DAY_US
        end, i = start + 7 * DAY_US, COUNTS_INTERVAL_US
        return self._q("""
            SELECT b.ts, COALESCE(c.n, 0) FROM
              (SELECT UNNEST(generate_series(?, ?, ?)) AS ts) b
              LEFT JOIN (SELECT st - st % ? AS ts, COUNT(*) AS n FROM idx
                         WHERE st BETWEEN ? AND ? GROUP BY 1) c USING (ts)
            WHERE b.ts BETWEEN ? AND ? ORDER BY 1""",
            ((start // i) * i, (end // i) * i, i, i, start, end, start, end))

    def field_values(self, p) -> list[str]:
        return [r[0] for r in self._q("""
            SELECT DISTINCT op FROM grp WHERE svc = ? AND max_dur > ?
            ORDER BY op LIMIT 1000""", (p["svc"], p["dur"]))]


def verdict(exp: Expected, op: Op):
    """None when ``op.result`` is the right answer, else what is wrong."""
    p, r, k = op.params, op.result, op.kind
    tid = p["tids"][0]
    if k in ("search_processed", "search_raw", "search_ids"):
        want = exp.search(p)
        if k == "search_ids":
            got = [(row["traceid"], row["starttime"]) for row in r]
            return None if got == want else f"ids {got[:3]}... != {want[:3]}..."
        sizes = exp.n_ev if k == "search_processed" else exp.n_cs
        got = sorted((row["trace_id"], len(row["spans"])) for row in r)
        want = sorted((t, sizes[t]) for t, _ in want)
        return None if got == want else f"(trace, spans) {got[:3]}... != {want[:3]}..."
    if k == "get_trace":
        ok = len(r) == exp.n_ev[tid] and all(s["trace_id"] == tid for s in r)
        return None if ok else f"{len(r)} spans, want {exp.n_ev[tid]}"
    if k == "get_raw_traces":
        got = sorted((row["trace_id"], len(row["spans"])) for row in r)
        want = sorted((t, exp.n_cs[t]) for t in p["tids"])
        return None if got == want else f"{got} != {want}"
    if k == "call_graph":
        got = sorted((e["from_service"], e["from_operation"], e["to_service"],
                      e["to_operation"], e["network_delta"]) for e in r)
        return None if got == exp.edges(tid) else f"{len(got)} edges != {len(exp.edges(tid))}"
    if k == "counts":
        got = [(row["timestamp"], row["count"]) for row in r]
        return None if got == exp.counts(p) else "histogram differs"
    if k == "field_values":
        got = [row["value"] for row in r]
        return None if got == exp.field_values(p) else f"{got} != {exp.field_values(p)}"
    return f"unknown op {k}"


# ------------------------------------------------------------------ layers --

def decompose(spark, engine, op: Op) -> dict[str, float]:
    """Re-run the op one layer at a time through each module's public
    function, returning seconds per layer. Inputs of a layer are
    materialized first, so each time covers that layer only."""
    from haystack_traces_spark.operators.callgraph import trace_call_graph
    from haystack_traces_spark.operators.counts import trace_counts
    from haystack_traces_spark.operators.field_values import field_values
    from haystack_traces_spark.operators.search import fetch_traces, search_trace_ids
    from haystack_traces_spark.schemas import SPAN
    from haystack_traces_spark.sources.spans import get_raw_trace, read_trace_records
    from haystack_traces_spark.transform.pipeline import process_single, transform_traces

    p, k = op.params, op.kind
    tid = p["tids"][0]
    parts: dict[str, float] = {}

    def timed(name, fn):
        t = time.perf_counter()
        out = fn()
        parts[name] = time.perf_counter() - t
        return out

    if k.startswith("search"):
        ids = timed("operators.search_ids",
                    lambda: search_trace_ids(engine.trace_index, _search_req(p)).collect())
        if k == "search_ids":
            return parts
        ids_df = spark.createDataFrame(ids, "traceid string, starttime long")
        fetched = timed("operators.fetch",
                        lambda: fetch_traces(engine.trace_store, ids_df).collect())
        if k == "search_raw":
            return parts
        flat = spark.createDataFrame(
            [s.asDict(recursive=True) for row in fetched for s in row["spans"]], SPAN
        ).persist()
        flat.count()
        timed("transform.pipeline",
              lambda: transform_traces(flat, engine.processor).collect())
        flat.unpersist()
    elif k in ("get_trace", "call_graph"):
        rows = timed("sources.get_raw_trace",
                     lambda: get_raw_trace(engine.trace_store, tid).collect())
        spans = [s.asDict(recursive=True) for s in rows[0]["spans"]]
        processed = timed("transform.process_single",
                          lambda: process_single(tid, spans, engine.processor))
        if k == "call_graph":
            df = spark.createDataFrame(processed, SPAN)
            timed("operators.call_graph", lambda: trace_call_graph(df).collect())
    elif k == "get_raw_traces":
        timed("sources.read_records",
              lambda: read_trace_records(engine.trace_store, p["tids"]).collect())
    elif k == "counts":
        timed("operators.counts",
              lambda: trace_counts(engine.trace_index, _counts_req(p)).collect())
    elif k == "field_values":
        timed("operators.field_values",
              lambda: field_values(engine.trace_index, "operationname", _fv_filters(p)).collect())
    return parts


LAYERS = (
    "transform.pipeline", "transform.process_single", "operators.search_ids",
    "operators.fetch", "operators.counts", "operators.field_values",
    "operators.call_graph", "sources.get_raw_trace", "sources.read_records",
    "sources.events_to_spans", "sources.store_write", "operators.index_write",
)


# --------------------------------------------------------------------- run --

def run(ctx) -> W.Outcome:
    import probes

    phases = W.Phases()
    with phases("data"):
        sf = datagen.write_tables(ctx.work / "sf", ctx.seed, N_EVENTS, N_USERS)
        events_path = str(sf / "events.parquet")
    with phases("spark_start"):
        spark = ctx.start_spark()

    setups = []
    with phases("setup"):
        for i in range(SETUP_REPEATS):
            engine, parts = build(spark, events_path, ctx.work / f"setup{i}")
            setups.append(parts)
    setup_s = stats.median([s["setup_total"] for s in setups])
    table_dir = ctx.work / f"setup{SETUP_REPEATS - 1}"

    with phases("oracle"):
        exp = Expected(events_path)
    checker = W.Checker()
    fn = lambda op: call(engine, op)  # noqa: E731
    sched = schedule(ctx.seed)
    # warm-up: one untimed block of every call, checked like the rest
    with phases("warmup"):
        for _ in range(len(BLOCK)):
            op = W.run_op(next(sched), fn)
            checker.check(op, lambda: verdict(exp, op))

    if not ctx.trace:
        with phases("window"):
            ops, wall = W.window(sched, fn, ctx.seconds, whole=len(BLOCK))
    else:
        # traced: every op also runs once more under a job group
        counters = probes.JobCounters(spark.sparkContext)
        with phases("window"):
            ops, traced = W.paired_window(sched, fn, ctx.seconds, counters,
                                          whole=len(BLOCK))
    with phases("check"):
        for op in ops:
            checker.check(op, lambda: verdict(exp, op))

    out = W.Outcome(attempted=checker.attempted, failed=checker.failed)
    out.record = {
        "fail_ratio": stats.fail_ratio(checker.failed, checker.attempted),
        "failures": checker.failures,
        "ops": len(ops),
        "setup_repeats_s": [round(s["setup_total"], 3) for s in setups],
        "spans": sum(exp.n_cs.values()),
        "traces": len(exp.n_cs),
        "phases_s": phases,
        **W.class_medians(ops),
    }
    if not ctx.trace:
        out.metrics = W.e2e(ops, wall, setup_s)
        return out

    # each traced op, then its layer-by-layer re-run
    layer_s: dict[str, list[float]] = defaultdict(list)
    self_s = []
    with phases("layers"):
        for op in traced:
            checker.check(op, lambda: verdict(exp, op))
            parts = decompose(spark, engine, op)
            for name, s in parts.items():
                layer_s[name].append(s)
            self_s.append(stats.self_time(op.seconds, list(parts.values())))
    for s in setups:
        for name in ("sources.events_to_spans", "sources.store_write", "operators.index_write"):
            layer_s[name].append(s[name])

    m: dict[str, tuple[float, str]] = {}
    for name in LAYERS:
        m[f"{name}_ms"] = (stats.median(layer_s[name]) * 1000 if layer_s[name] else 0.0, "ms")
    m["api.self_ms"] = (stats.median(self_s) * 1000, "ms")
    spark_m, spark_rec = W.spark_layers(traced)
    m.update(spark_m)
    m["trace_overhead_pct"] = (W.overhead_pct(ops, traced), "%")

    import ingest

    with phases("ingest"):
        ing = ingest.layer_block(ctx, spark, str(table_dir / "spans"), checker)
    m.update(ing.metrics)

    # one op at local[1]: what the k-way parallelism buys
    base = next(o for o in ops if o.kind == "search_processed")
    with phases("local1"):
        spark = ctx.start_spark(1)
        engine1 = reopen(spark, table_dir)
        for _ in range(2):  # second call is the warm one
            one = W.run_op(Op(base.kind, base.cls, base.params), lambda op: call(engine1, op))
            checker.check(one, lambda: verdict(exp, one))
    k_s = stats.median([o.seconds for o in ops if o.kind == base.kind])
    m["spark.local1_ratio"] = (one.seconds / k_s, "x")

    m.update(W.idle_layers(m))
    out.metrics = m
    out.attempted, out.failed = checker.attempted, checker.failed
    out.record.update({
        "fail_ratio": stats.fail_ratio(checker.failed, checker.attempted),
        "failures": checker.failures,
        "spark_counters_by_kind": spark_rec,
        "local1_op": base.kind,
        **ing.record,
    })
    return out
