"""End-to-end transform pipeline over Spark (applyInPandas, Arrow round-trip)."""

from __future__ import annotations

from haystack_traces_spark.schemas import SPAN
from haystack_traces_spark.transform.model import tag_string_value
from haystack_traces_spark.transform.pipeline import (
    TraceProcessor,
    process_single,
    transform_traces,
)
from haystack_traces_spark.transform.transformers import InvalidTraceError
from tests.fixtures import T0, partial_client_server, span, valid_single_root


def _df(spark, spans):
    return spark.createDataFrame(spans, SPAN)


def test_pipeline_valid_trace_passthrough(spark):
    df = _df(spark, valid_single_root("tA"))
    out = transform_traces(df).collect()
    assert len(out) == 4
    assert out[0]["span_id"] == "root"  # sort: root first
    starts = [r["start_time"] for r in out[1:]]
    assert starts == sorted(starts)


def test_pipeline_merges_partials_and_drops_invalid(spark):
    rows = partial_client_server("tB")  # valid, has mergeable partials
    rows += [
        span(trace_id="tC", span_id="a", parent=""),
        span(trace_id="tC", span_id="b", parent=""),  # two roots -> invalid -> dropped
    ]
    out = transform_traces(_df(spark, rows)).collect()
    by_trace = {}
    for r in out:
        by_trace.setdefault(r["trace_id"], []).append(r)
    assert "tC" not in by_trace
    tb = by_trace["tB"]
    assert len(tb) == 2  # root + merged span
    merged = next(r for r in tb if r["span_id"] == "x")
    tags = [t.asDict() for t in merged["tags"]]
    assert any(t["key"] == "X-HAYSTACK-IS-MERGED-SPAN" for t in tags)


def test_pipeline_dedup_in_pre_chain(spark):
    s = span(trace_id="tD", span_id="r", parent="")
    rows = [s, dict(s)]
    out = transform_traces(_df(spark, rows)).collect()
    assert len(out) == 1


def test_process_single_raises_for_invalid():
    import pytest

    bad = [span(span_id="a", parent=""), span(span_id="b", parent="")]
    with pytest.raises(InvalidTraceError):
        process_single("t1", bad)


def test_process_single_with_repair_chain():
    """invalid_root repairs a multi-root trace when configured (U8 wired in)."""
    proc = TraceProcessor(
        validators=(),
        post=("partial_span_merge", "invalid_root", "sort"),
        span_id_factory=lambda: "fx",
    )
    bad = [
        span(span_id="a", parent="", start=T0, duration=10),
        span(span_id="b", parent="", start=T0 + 5, duration=10),
    ]
    out = process_single("t1", bad, proc)
    assert out[0]["span_id"] == "fx"
    assert len(out) == 3


def test_salted_store_build_matches_unsalted(spark):
    """Skew-guard path: salted two-phase collect produces the same per-trace
    span SETS as the direct collect (order within the array may differ)."""
    import pyspark.sql.functions as F

    from haystack_traces_spark.sources.events import spans_from_events
    from haystack_traces_spark.sources.spans import build_trace_store

    spans = spans_from_events(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    plain = {
        r["trace_id"]: sorted(s["span_id"] for s in r["spans"])
        for r in build_trace_store(spans).collect()
    }
    salted = {
        r["trace_id"]: sorted(s["span_id"] for s in r["spans"])
        for r in build_trace_store(spans, salt_buckets=8).collect()
    }
    assert plain == salted


def test_span_kind_column_function(spark):
    """span.kind tag wins; else zipkin-log inference; else NULL
    (SpanUtils.scala:45-55)."""
    from haystack_traces_spark.functions.span_funcs import span_kind
    from haystack_traces_spark.schemas import SPAN
    from tests.fixtures import span
    from haystack_traces_spark.transform.model import log, string_tag

    rows = [
        dict(span(trace_id="t", span_id="tagged"),
             tags=[string_tag("span.kind", "client")]),
        dict(span(trace_id="t", span_id="server_logs"),
             logs=[log(1, "sr"), log(2, "ss")]),
        dict(span(trace_id="t", span_id="client_logs"),
             logs=[log(1, "cs"), log(2, "cr")]),
        span(trace_id="t", span_id="bare"),
    ]
    df = spark.createDataFrame(rows, SPAN).select(
        "span_id", span_kind().alias("kind")
    )
    got = {r["span_id"]: r["kind"] for r in df.collect()}
    assert got == {
        "tagged": "client",
        "server_logs": "server",
        "client_logs": "client",
        "bare": None,
    }


def test_multi_backend_fanout_recovers_failed_store(spark):
    """S7 multi-backend union with recover-to-empty
    (GrpcTraceReaders.scala:52-66): a dead backend contributes nothing, live
    backends' rows for one trace merge into a single row (J2), and only
    all-backends-down fails the read."""
    import pytest as _pytest

    from haystack_traces_spark.sources.events import spans_from_events
    from haystack_traces_spark.sources.spans import build_trace_store, read_traces_fanout

    spans = spans_from_events(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    store_a = build_trace_store(spans.filter("CAST(span_id AS LONG) % 2 = 0"))
    store_b = build_trace_store(spans.filter("CAST(span_id AS LONG) % 2 = 1"))

    def dead_backend():
        return spark.read.parquet("/no/such/backend")

    whole = {
        r["trace_id"]: sorted(s["span_id"] for s in r["spans"])
        for r in build_trace_store(spans.filter("trace_id = '7'")).collect()
    }
    merged = {
        r["trace_id"]: sorted(s["span_id"] for s in r["spans"])
        for r in read_traces_fanout([store_a, dead_backend, store_b], ["7"]).collect()
    }
    # the two live partial backends reassemble the full trace; the dead one
    # is recovered to empty
    assert whole and merged == whole

    with _pytest.raises(RuntimeError, match="all trace backends failed"):
        read_traces_fanout([dead_backend, dead_backend], ["7"])


def test_engine_reads_across_extra_backends(spark):
    """TraceEngine configured with extra backends (one dead) reassembles a
    trace split across the primary and a secondary store — every key-lookup
    endpoint sees the union (GrpcTraceReaders.scala:52-66 config parity)."""
    from haystack_traces_spark.api import TraceEngine
    from haystack_traces_spark.sources.events import spans_from_events
    from haystack_traces_spark.sources.spans import build_trace_store

    spans = spans_from_events(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    even = spans.filter("CAST(span_id AS LONG) % 2 = 0")
    odd = spans.filter("CAST(span_id AS LONG) % 2 = 1")

    def dead():
        return spark.read.parquet("/no/such/backend")

    engine = TraceEngine(
        even,
        trace_store=build_trace_store(even),
        extra_backends=[dead, build_trace_store(odd)],
    )
    got = {s["span_id"] for s in engine.get_raw_trace("7").collect()[0]["spans"]}
    want = {
        r["span_id"] for r in spans.filter("trace_id = '7'").collect()
    }
    assert got and got == want  # both halves present despite the dead backend
    # the dead backend degraded that read, and the engine counted it
    assert engine.backend_failures == 1


def test_missing_key_lookups_return_empty(spark):
    """NOT_FOUND paths (TraceServiceIntegrationTestSpec:90-210): unknown ids
    yield 0 rows, never errors."""
    from haystack_traces_spark.sources.events import spans_from_events
    from haystack_traces_spark.sources.spans import (
        build_trace_store,
        get_raw_span,
        get_raw_trace,
        read_trace_records,
    )

    store = build_trace_store(
        spans_from_events(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    )
    assert get_raw_trace(store, "no-such-id").count() == 0
    assert read_trace_records(store, ["nope", "also-nope"]).count() == 0
    # existing trace, unknown span
    assert get_raw_span(store, "7", "no-such-span").count() == 0


def test_request_validation_fails_fast():
    """Q6 fail-fast (TraceSearchQueryGenerator.scala:37-39,52-54): invalid
    times/limit/interval raise BEFORE any plan is built."""
    import pytest as _pytest

    from haystack_traces_spark.operators.counts import TraceCountsRequest
    from haystack_traces_spark.operators.search import SearchRequest

    with _pytest.raises(ValueError):
        SearchRequest(0, 10, 5).validate()
    with _pytest.raises(ValueError):
        SearchRequest(1, -1, 5).validate()
    with _pytest.raises(ValueError):
        SearchRequest(1, 10, 0).validate()
    with _pytest.raises(ValueError):
        TraceCountsRequest(1, 10, 0).validate()
    SearchRequest(1, 10, 5).validate()  # valid passes


def test_compact_trace_index_equals_full_rebuild(spark):
    """Incremental maintenance invariant: for a split A ∪ B of the spans,
    compact(build(A) ∪ build(B)) == build(A ∪ B) up to set order — so the
    streaming path's duplicate index rows (reopened traces) can be folded
    offline without re-reading the span table."""
    from haystack_traces_spark.entry_queries import _spans
    from haystack_traces_spark.operators.index import (
        build_trace_index,
        compact_trace_index,
    )
    import pyspark.sql.functions as F

    spans = _spans(spark, "/root/testdata/sf0.001")
    a = spans.filter(F.col("span_id").cast("long") % 2 == 0)
    b = spans.filter(F.col("span_id").cast("long") % 2 == 1)
    merged = compact_trace_index(
        build_trace_index(a, with_partition_cols=True).unionByName(
            build_trace_index(b, with_partition_cols=True)
        )
    )
    full = build_trace_index(spans, with_partition_cols=True)

    def canon(df):
        rows = {}
        for r in df.collect():
            groups = {}
            for grp in r["spans"]:
                d = grp.asDict()
                key = (d.pop("servicename"), d.pop("operationname"))
                groups[key] = {
                    k: tuple(sorted(x for x in v if x is not None)) if v else ()
                    for k, v in d.items()
                }
            rows[r["traceid"]] = (
                r["starttime"], r["rootduration"], r["dt"], r["hb"], groups
            )
        return rows

    cm, cf = canon(merged), canon(full)
    assert cm.keys() == cf.keys()
    assert cm == cf


def test_compact_preserves_promoted_unions(spark):
    """compact(promoted build(A) ∪ promoted build(B)) == promoted
    build(A ∪ B) INCLUDING the wl_<name> union columns — a compaction
    that silently dropped them would downgrade a promoted table on its
    first maintenance pass."""
    import pyspark.sql.functions as F

    from haystack_traces_spark.entry_queries import _spans
    from haystack_traces_spark.operators.index import (
        build_trace_index,
        compact_trace_index,
    )

    spans = _spans(spark, "/root/testdata/sf0.001")
    a = spans.filter(F.col("span_id").cast("long") % 2 == 0)
    b = spans.filter(F.col("span_id").cast("long") % 2 == 1)
    merged = compact_trace_index(
        build_trace_index(a, promote_whitelist=True).unionByName(
            build_trace_index(b, promote_whitelist=True)
        )
    )
    full = build_trace_index(spans, promote_whitelist=True)
    assert set(merged.columns) == set(full.columns)
    wl_cols = [c for c in full.columns if c.startswith("wl_")]
    assert wl_cols, "promoted build must carry wl_ columns"

    def canon(df):
        return {
            r["traceid"]: tuple(
                tuple(sorted(r[c])) for c in sorted(wl_cols)
            )
            for r in df.select("traceid", *wl_cols).collect()
        }

    assert canon(merged) == canon(full)


def test_upsert_trace_index_rewrites_only_touched_partitions(spark, tmp_path):
    """Incremental index maintenance (upsert_trace_index): after folding
    a late batch in, the on-disk index equals the full rebuild of
    A ∪ B — while the (dt, hb) partitions the batch does not touch are
    left byte-identical (file mtimes pinned). The safety invariant that
    dynamic overwrite never writes outside the partitions it read is
    exercised by t2's merge (existing row + late span, same bucket)."""
    import os

    import pyspark.sql.functions as F

    from haystack_traces_spark.operators.index import (
        HOURS_PER_BUCKET,
        build_trace_index,
        upsert_trace_index,
        write_trace_index,
    )

    hb_us = HOURS_PER_BUCKET * 3_600_000_000
    a_rows = [
        span(trace_id="t1", span_id="1", start=T0),
        span(trace_id="t2", span_id="2", start=T0 + hb_us + 100),
        span(trace_id="t3", span_id="3", start=T0 + 2 * hb_us + 100),
    ]
    b_rows = [
        # late span for existing trace t2 (same bucket -> compacts)
        span(trace_id="t2", span_id="4", service="svc_b",
             start=T0 + hb_us + 200),
        # brand-new trace in t3's bucket
        span(trace_id="t4", span_id="5", start=T0 + 2 * hb_us + 300),
    ]
    a = spark.createDataFrame(a_rows, SPAN)
    b = spark.createDataFrame(b_rows, SPAN)
    path = str(tmp_path / "idx")
    write_trace_index(
        build_trace_index(a, with_partition_cols=True), path
    )

    def part_dirs():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    idx0 = spark.read.parquet(path)
    t1_bucket = tuple(
        idx0.filter(F.col("traceid") == "t1")
        .select("dt", "hb")
        .collect()[0]
    )
    before = part_dirs()
    untouched_before = {
        p: t
        for p, t in before.items()
        if f"dt={t1_bucket[0]}/hb={t1_bucket[1]}/" in p
    }
    assert untouched_before, "t1's bucket must exist before the upsert"

    touched = upsert_trace_index(spark, path, b)
    assert len(touched) == 2 and t1_bucket not in {
        (dt, int(hb)) for dt, hb in touched
    }

    after = part_dirs()
    for p, t in untouched_before.items():
        assert p in after and after[p] == t, f"untouched file rewritten: {p}"

    got = spark.read.parquet(path)
    want = build_trace_index(
        a.unionByName(b), with_partition_cols=True
    )

    def canon(df):
        rows = {}
        for r in df.collect():
            groups = {}
            for grp in r["spans"]:
                d = grp.asDict()
                key = (d.pop("servicename"), d.pop("operationname"))
                groups[key] = {
                    k: tuple(sorted(x for x in v if x is not None)) if v else ()
                    for k, v in d.items()
                }
            rows[r["traceid"]] = (
                # str(dt): the partition-discovery read infers dt as DATE
                # while the build emits a string — same value either way
                r["starttime"], r["rootduration"], str(r["dt"]),
                int(r["hb"]), groups,
            )
        return rows

    assert canon(got) == canon(want)


def test_upsert_trace_index_promoted_and_cross_bucket(spark, tmp_path):
    """Review fixes pinned: (1) upserting a PROMOTED index auto-matches
    the on-disk wl_* columns (the delta is built with the same promoted
    fields, so the union cannot fail); (2) compaction is PARTITION-LOCAL
    — a trace with rows in two buckets keeps one row per bucket (reader
    dedups, the reference's ES-duplicate contract) instead of migrating
    the later bucket's row into the earlier one and leaving a stale
    file behind dynamic overwrite's back."""
    import pyspark.sql.functions as F

    from haystack_traces_spark.operators.index import (
        HOURS_PER_BUCKET,
        build_trace_index,
        upsert_trace_index,
        write_trace_index,
    )

    hb_us = HOURS_PER_BUCKET * 3_600_000_000
    a = spark.createDataFrame(
        [
            span(trace_id="t1", span_id="1", start=T0),
            span(trace_id="tx", span_id="2", start=T0 + hb_us + 100),
        ],
        SPAN,
    )
    # late span for tx lands in the NEXT bucket
    b = spark.createDataFrame(
        [span(trace_id="tx", span_id="3", service="svc_b",
              start=T0 + 2 * hb_us + 100)],
        SPAN,
    )
    path = str(tmp_path / "pidx")
    write_trace_index(
        build_trace_index(a, with_partition_cols=True,
                          promote_whitelist=True),
        path,
    )
    touched = upsert_trace_index(spark, path, b)
    assert len(touched) == 1  # only the late span's bucket

    got = spark.read.parquet(path)
    wl_cols = [c for c in got.columns if c.startswith("wl_")]
    assert wl_cols, "promoted columns survive the upsert"
    tx = got.filter(F.col("traceid") == "tx").collect()
    # one row PER BUCKET for the split trace; the original bucket's row
    # untouched, the new bucket's row carries the late span's service
    assert len(tx) == 2
    assert sorted(int(r["hb"]) for r in tx) == sorted(
        {int(r["hb"]) for r in tx}
    )
    svcs = {
        grp["servicename"] for r in tx for grp in r["spans"]
    }
    assert svcs == {"svc_a", "svc_b"}


def test_backend_failures_count_every_concurrent_degraded_read():
    """Each read that recovers a dead backend to empty is counted once,
    also when many threads read through one engine at the same time."""
    import sys
    import threading

    from haystack_traces_spark.api import TraceEngine

    def dead():
        raise OSError("backend unreachable")

    store = object()  # no live extra backend: the read returns the primary
    engine = TraceEngine(
        None, trace_store=store, trace_index=object(), service_catalog=object(),
        extra_backends=[dead, dead],
    )
    n_threads, reads = 16, 200
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [engine._store() for _ in range(reads)])
            for _ in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert engine._store() is store
    assert engine.backend_failures == 2 * (n_threads * reads + 1)
