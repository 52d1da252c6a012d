"""§2.9 scalar-function semantics — the known-hard coercion behaviors
(SURVEY §7.3 #2/#3): typed-tag union resolution, coerce-or-drop, duration
truncation thresholds, and the rootduration reference quirk."""

from __future__ import annotations

import pyspark.sql.functions as F

from haystack_traces_spark.functions.span_funcs import (
    LOW_CARDINALITY_DURATION_THRESHOLD,
    low_cardinality_duration,
    tag_value,
)
from haystack_traces_spark.operators.index import build_trace_index
from haystack_traces_spark.schemas import SPAN
from haystack_traces_spark.transform.model import long_tag, string_tag, tag
from tests.fixtures import span


def _df(spark, tags_per_row):
    rows = [
        dict(span(trace_id="t", span_id=f"s{i}"), tags=tags)
        for i, tags in enumerate(tags_per_row)
    ]
    return spark.createDataFrame(rows, SPAN)


def test_tag_value_typed_union_and_coerce_or_drop(spark):
    """5-way union resolution + coercion to the declared whitelist type;
    uncoercible values become NULL — the reference drops them
    (IndexDocumentGenerator.scala:113-144)."""
    df = _df(
        spark,
        [
            [long_tag("code", 7)],                  # native long
            [string_tag("code", "42")],             # numeric string coerces
            [string_tag("code", "not-a-number")],   # coercion fails -> NULL
            [tag("code", "BINARY", vbytes=b"9")],   # BINARY -> utf8 -> long
            [string_tag("other", "x")],             # tag absent -> NULL
        ],
    )
    got = [r[0] for r in df.select(tag_value("tags", "code", "long")).collect()]
    assert got == [7, 42, None, 9, None]


def test_tag_key_lookup_is_case_insensitive(spark):
    df = _df(spark, [[long_tag("ErrorCode", 3)]])
    got = df.select(tag_value("tags", "errorcode", "long")).collect()[0][0]
    assert got == 3


def test_tag_str_per_vtype_missing_empty_and_quoted_keys(spark):
    """tag_str stringifies the FIRST tag with the key, whatever its vtype;
    a missing key, an empty and a NULL tags array give NULL; quotes and
    backslashes in the key are matched literally."""
    from haystack_traces_spark.session import local_frame
    from haystack_traces_spark.transform.tags import tag_str

    tags_per_row = [
        [string_tag("k", "s"), string_tag("k", "second")],
        [long_tag("k", 42)],
        [tag("k", "DOUBLE", vdouble=1.5)],
        [tag("k", "BOOL", vbool=True)],
        [tag("k", "BINARY", vbytes=b"ab")],
        [string_tag("other", "x")],
        [],
        None,
        [string_tag("it's", "quoted"), string_tag("a\\b", "slashed")],
    ]
    rows = [
        dict(span(trace_id="t", span_id=f"s{i}"), tags=tags)
        for i, tags in enumerate(tags_per_row)
    ]
    df = local_frame(spark, rows, SPAN)
    got = [
        tuple(r)
        for r in df.orderBy("span_id").select(
            tag_str("tags", "k"), tag_str("tags", "it's"), tag_str("tags", "a\\b")
        ).collect()
    ]
    assert got == [
        ("s", None, None),
        ("42", None, None),
        ("1.5", None, None),
        ("true", None, None),
        ("ab", None, None),
        (None, None, None),
        (None, None, None),
        (None, None, None),
        (None, "quoted", "slashed"),
    ]


def test_low_cardinality_duration_threshold(spark):
    """Durations above 20 s truncate to whole seconds; below pass through
    (IndexDocumentGenerator.scala:37,146-157)."""
    df = spark.createDataFrame(
        [(19_999_999,), (20_000_000,), (20_000_001,), (25_123_456,)], "d long"
    )
    got = [r[0] for r in df.select(low_cardinality_duration("d")).collect()]
    assert got == [19_999_999, 20_000_000, 20_000_000, 25_000_000]
    assert LOW_CARDINALITY_DURATION_THRESHOLD == 20_000_000


def test_rootduration_reference_quirk_mode(spark):
    """'reference_quirk' replicates shipped behavior: parentSpanId == null is
    never true for proto3 strings, so rootduration is always 0
    (IndexDocumentGenerator.scala:56; SURVEY §7.3 #3)."""
    rows = [
        span(trace_id="t1", span_id="root", parent="", duration=500),
        span(trace_id="t1", span_id="c", parent="root", duration=100),
    ]
    df = spark.createDataFrame(rows, SPAN)
    evident = build_trace_index(df).select("rootduration").collect()[0][0]
    quirk = (
        build_trace_index(df, root_duration_mode="reference_quirk")
        .select("rootduration")
        .collect()[0][0]
    )
    assert evident == 500
    assert quirk == 0


def test_whitelist_alias_and_trace_context_routing(spark):
    """S9/Q2 subtleties: alias resolution (WhitelistIndexFieldConfiguration
    aliases) and searchContext='trace' fields getting their OWN nested query
    instead of joining the span-context co-occurrence group
    (SpansIndexQueryGenerator.scala:44-63)."""
    import pyspark.sql.functions as F2

    from haystack_traces_spark.config import WhitelistConfig, WhitelistField
    from haystack_traces_spark.operators.expression import (
        EQUAL,
        Field,
        compile_fields,
    )
    from haystack_traces_spark.operators.index import build_trace_index

    wl = WhitelistConfig(
        (
            WhitelistField("errorcode", "long", aliases=("ec", "err")),
            WhitelistField("role", "string", search_context="trace"),
        )
    )
    rows = [
        # trace A: errorcode=1 on svc x, role=haystack on svc y (different groups)
        dict(span(trace_id="A", span_id="a1", service="x"), tags=[long_tag("errorcode", 1)]),
        dict(span(trace_id="A", span_id="a2", service="y"), tags=[string_tag("role", "haystack")]),
        # trace B: both on the same group
        dict(span(trace_id="B", span_id="b1", service="x"),
             tags=[long_tag("errorcode", 1), string_tag("role", "haystack")]),
    ]
    df = spark.createDataFrame(rows, SPAN)
    idx = build_trace_index(df, wl)

    # alias 'ec' resolves to errorcode
    got = {
        r["traceid"]
        for r in idx.filter(compile_fields([Field("ec", 1, EQUAL)], wl)).collect()
    }
    assert got == {"A", "B"}

    # span-context errorcode + trace-context role: role does NOT need to
    # co-occur on the same (svc, op) group -> trace A still matches
    pred = compile_fields(
        [Field("errorcode", 1, EQUAL), Field("role", "haystack", EQUAL)], wl
    )
    got = {r["traceid"] for r in idx.filter(pred).collect()}
    assert got == {"A", "B"}

    # two span-context fields MUST co-occur -> only trace B
    wl_span = WhitelistConfig(
        (
            WhitelistField("errorcode", "long"),
            WhitelistField("role", "string"),  # default context: span
        )
    )
    idx2 = build_trace_index(df, wl_span)
    pred2 = compile_fields(
        [Field("errorcode", 1, EQUAL), Field("role", "haystack", EQUAL)], wl_span
    )
    got = {r["traceid"] for r in idx2.filter(pred2).collect()}
    assert got == {"B"}


def test_field_cardinalities_approx_within_tolerance(spark):
    """The approx_count_distinct scale path must track the exact counts
    (rsd 0.05 → well under 15% at these cardinalities)."""
    from haystack_traces_spark.entry_queries import _index
    from haystack_traces_spark.operators.field_values import field_cardinalities

    idx = _index(spark, "/root/testdata/sf0.001")
    exact = {r["field"]: r["n_values"] for r in field_cardinalities(idx).collect()}
    approx = {
        r["field"]: r["n_values"]
        for r in field_cardinalities(idx, exact=False).collect()
    }
    for f, n in exact.items():
        assert abs(approx[f] - n) <= max(1, 0.15 * n), (f, n, approx[f])


def test_latency_percentiles_approx_within_tolerance(spark):
    """percentile_approx scale path must track exact percentiles closely
    at default accuracy."""
    from haystack_traces_spark.entry_queries import _spans
    from haystack_traces_spark.streaming.metrics import service_latency_percentiles

    # sf0.01: per-service counts large enough that tail quantiles aren't
    # dominated by sample quantization (at sf0.001 p99 falls between the
    # top two samples and nearest-sample vs interpolation diverge ~25%)
    spans = _spans(spark, "/root/testdata/sf0.01")
    exact = {r["service_name"]: r for r in service_latency_percentiles(spans).collect()}
    approx = {
        r["service_name"]: r
        for r in service_latency_percentiles(spans, approx=True).collect()
    }
    for svc, e in exact.items():
        a = approx[svc]
        assert a["n_spans"] == e["n_spans"]
        # percentile_approx returns an actual sample (no interpolation), so
        # tail quantiles at sf0.001's tiny per-service counts quantize —
        # 10% bounds that discreteness, not the sketch error
        for p in ("p50", "p90", "p99"):
            assert abs(a[p] - e[p]) <= max(1.0, 0.10 * e[p]), (svc, p, e[p], a[p])


def test_timeline_and_critical_path_on_branching_tree(spark):
    """The parquet testdata traces are linear chains; this pins the
    branching cases: sibling subtrees, dangling parents (depth 0), and
    the critical-path argmax + lowest-leaf tie-break."""
    rows = [
        # (trace, span, parent, svc, start, dur)
        ("t1", "r", "", "api", 1000, 100),
        ("t1", "a", "r", "db", 1010, 30),
        ("t1", "b", "r", "cache", 1020, 50),   # heavier branch
        ("t1", "b1", "b", "disk", 1030, 40),
        ("t1", "x", "GONE", "orphan", 1040, 5),  # dangling parent -> depth 0
        ("t2", "s", "", "api", 2000, 10),
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "service_name string, start_time long, duration long",
    )
    from haystack_traces_spark.operators.timeline import (
        critical_path,
        span_self_time,
        trace_timeline,
    )

    tl = {(r["trace_id"], r["span_id"]): r for r in trace_timeline(df).collect()}
    assert tl[("t1", "r")]["depth"] == 0 and tl[("t1", "r")]["offset_us"] == 0
    assert tl[("t1", "b1")]["depth"] == 2 and tl[("t1", "b1")]["offset_us"] == 30
    assert tl[("t1", "x")]["depth"] == 0  # dangling parent = root-level

    cp = {r["trace_id"]: r for r in critical_path(df).collect()}
    # r(100) + b(50) + b1(40) = 190 beats r+a = 130 and x alone = 5
    assert cp["t1"]["leaf_span_id"] == "b1"
    assert cp["t1"]["path_duration"] == 190 and cp["t1"]["path_spans"] == 3
    assert cp["t2"]["leaf_span_id"] == "s" and cp["t2"]["path_duration"] == 10

    st = {(r["trace_id"], r["span_id"]): r for r in span_self_time(df).collect()}
    assert st[("t1", "r")]["self_time"] == 100 - (30 + 50)
    assert st[("t1", "b")]["self_time"] == 50 - 40
    assert st[("t1", "b1")]["child_time"] == 0


def test_timeline_cycle_guard_terminates(spark):
    """ADVICE r3: cyclic parent links (corrupt/adversarial raw spans) must
    not spin the per-trace walks forever — a cycle member roots at depth 0,
    and critical_path still emits a row even when a cycle leaves no leaf."""
    rows = [
        # t1: 2-cycle a<->b plus a normal child of a
        ("t1", "a", "b", "svc", 1000, 10),
        ("t1", "b", "a", "svc", 1001, 20),
        ("t1", "c", "a", "svc", 1002, 5),
        # t2: pure self-loop, no leaves at all
        ("t2", "s", "s", "svc", 2000, 7),
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "service_name string, start_time long, duration long",
    )
    from haystack_traces_spark.operators.timeline import (
        critical_path,
        trace_timeline,
    )

    tl = {(r["trace_id"], r["span_id"]): r for r in trace_timeline(df).collect()}
    assert len(tl) == 4  # terminated, every span emitted
    # one cycle member became the root; the other sits one hop below it
    assert {tl[("t1", "a")]["depth"], tl[("t1", "b")]["depth"]} == {0, 1}
    assert tl[("t2", "s")]["depth"] == 0

    cp = {r["trace_id"]: r for r in critical_path(df).collect()}
    assert set(cp) == {"t1", "t2"}
    assert cp["t2"]["leaf_span_id"] == "s" and cp["t2"]["path_duration"] == 7


def test_trace_completeness_detects_corrupt_forests(spark):
    """The rollup must separate well-formed, rootless, multi-root and
    dangling-parent traces (the synthetic corpus is 100% well-formed, so
    this pins the discriminating power on crafted corruption)."""
    import pyspark.sql.functions as F
    from haystack_traces_spark.entry_queries import q_trace_completeness

    rows = [
        # well-formed: one root + child
        ("t1", "a", "", "s", "op", 0, 10),
        ("t1", "b", "a", "s", "op", 1, 5),
        # rootless: all spans have parents (cycle)
        ("t2", "c", "d", "s", "op", 0, 10),
        ("t2", "d", "c", "s", "op", 1, 5),
        # multi-root
        ("t3", "e", "", "s", "op", 0, 10),
        ("t3", "f", "", "s", "op", 1, 5),
        # dangling parent
        ("t4", "g", "", "s", "op", 0, 10),
        ("t4", "h", "zz", "s", "op", 1, 5),
    ]
    spans = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "service_name string, operation_name string, start_time long, "
        "duration long",
    )
    # drive the same aggregation the query runs, on the crafted frame
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        out = q_trace_completeness(spark, "ignored").collect()[0]
    finally:
        EQ._spans = orig
    assert out["n_traces"] == 4
    assert out["n_well_formed"] == 1
    assert out["n_rootless"] == 1
    assert out["n_multi_root"] == 1
    assert out["n_with_dangling"] == 1


def test_error_root_causes_attributes_cycle_spans(spark):
    """ADVICE r4: an error span inside a cyclic parent chain must be
    ATTRIBUTED, not dropped — Spark's timeline walk roots cycle members
    (depth fallback 0), and the oracle's recursive CTE mirrors it with a
    LEFT JOIN + COALESCE(depth, 0). The synthetic corpus is 100%
    well-formed, so this pins the divergence on crafted corruption
    (single error span per cyclic trace — the deterministic case; see the
    oracle comment for the multi-error caveat)."""
    from haystack_traces_spark.entry_queries import (
        q_error_root_causes,
        sql_error_root_causes,
    )
    from haystack_traces_spark.transform.model import long_tag

    rows = [
        # t1: well-formed failing trace, deepest error on (svc_b, op_b)
        dict(span(trace_id="t1", span_id="a", parent=""), tags=[]),
        dict(
            span(trace_id="t1", span_id="b", parent="a", service="svc_b",
                 operation="op_b"),
            tags=[long_tag("errorcode", 99)],
        ),
        # t2: rootless 2-cycle c<->d, error on the cycle member
        dict(
            span(trace_id="t2", span_id="c", parent="d", service="svc_cyc",
                 operation="op_cyc"),
            tags=[long_tag("errorcode", 99)],
        ),
        dict(span(trace_id="t2", span_id="d", parent="c"), tags=[]),
    ]
    from haystack_traces_spark.schemas import SPAN

    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        got = {
            (r["servicename"], r["operationname"]): r["n_traces"]
            for r in q_error_root_causes(spark, "ignored").collect()
        }
    finally:
        EQ._spans = orig
    # BOTH traces attributed — the cyclic one must not vanish
    assert got == {("svc_b", "op_b"): 1, ("svc_cyc", "op_cyc"): 1}
    # and the oracle carries the mirrored fallback (regression guard)
    sql = sql_error_root_causes()
    assert "LEFT JOIN d" in sql and "COALESCE(d.depth, 0)" in sql


def test_critical_path_contrib_attributes_gating_service(spark):
    """The rollup must credit the services on the argmax chain ONLY: a
    heavy off-path sibling contributes nothing even though it dominates
    span volume."""
    from haystack_traces_spark.entry_queries import q_critical_path_contrib

    rows = [
        # chain: root(10) -> mid(5) -> leaf(100)  [path 115, svc a,b,c]
        dict(span(trace_id="t1", span_id="r", parent="", service="svc_a",
                  duration=10)),
        dict(span(trace_id="t1", span_id="m", parent="r", service="svc_b",
                  duration=5)),
        dict(span(trace_id="t1", span_id="l", parent="m", service="svc_c",
                  duration=100)),
        # off-path heavy sibling leaf: 90 < 100+5 ⇒ loses the argmax
        dict(span(trace_id="t1", span_id="x", parent="r", service="svc_big",
                  duration=90)),
    ]
    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        got = {
            r["servicename"]: (r["n_traces"], r["path_time"], r["share"])
            for r in q_critical_path_contrib(spark, "ignored").collect()
        }
    finally:
        EQ._spans = orig
    assert set(got) == {"svc_a", "svc_b", "svc_c"}  # svc_big off-path
    assert got["svc_c"] == (1, 100, round(100 / 115, 6))
    assert got["svc_a"][1] + got["svc_b"][1] + got["svc_c"][1] == 115


def test_span_fanout_stats_separates_gateway_from_leaves(spark):
    from haystack_traces_spark.entry_queries import q_span_fanout_stats

    rows = [
        dict(span(trace_id="t1", span_id="r", parent="", service="gw")),
        dict(span(trace_id="t1", span_id="c1", parent="r", service="leafsvc")),
        dict(span(trace_id="t1", span_id="c2", parent="r", service="leafsvc")),
        dict(span(trace_id="t1", span_id="c3", parent="r", service="leafsvc")),
    ]
    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        got = {r["servicename"]: r for r in
               q_span_fanout_stats(spark, "ignored").collect()}
    finally:
        EQ._spans = orig
    assert got["gw"]["avg_fanout"] == 3.0 and got["gw"]["max_fanout"] == 3
    assert got["gw"]["leaf_frac"] == 0.0
    assert got["leafsvc"]["avg_fanout"] == 0.0
    assert got["leafsvc"]["leaf_frac"] == 1.0


def test_murmur3_mirror_matches_f_hash(spark):
    """The pure-Python murmur3 mirror must stay bit-for-bit identical to
    Spark's F.hash — the ivf_pq_residual oracle's codebook sample order
    depends on it, and a drift here would surface only as an inscrutable
    driver-gate hash mismatch at a larger scale factor."""
    from haystack_traces_spark.datapipe.hashing import (
        murmur3_long,
        spark_hash_long_int,
    )

    ids = [0, 1, -1, -5, 7919, 2**31 - 1, -(2**31), 2**33 + 17, -(2**40) - 3]
    rows = (
        spark.createDataFrame([(i,) for i in ids], "id long")
        .select("id", F.hash("id").alias("h42"), F.hash("id", F.lit(7)).alias("h7"))
        .collect()
    )
    for r in rows:
        assert murmur3_long(r["id"], 42) == r["h42"], r
        assert spark_hash_long_int(r["id"], 7) == r["h7"], r


def test_error_cooccurrence_pairs_and_jaccard(spark):
    """svc_x and svc_y co-fail in 1 of (2, 2) failing traces → jaccard
    1/3; a service failing alone never forms a pair."""
    from haystack_traces_spark.entry_queries import q_error_cooccurrence
    from haystack_traces_spark.transform.model import long_tag

    err = [long_tag("errorcode", 99)]
    rows = [
        # t1: x and y both fail
        dict(span(trace_id="t1", span_id="a", service="svc_x"), tags=err),
        dict(span(trace_id="t1", span_id="b", service="svc_y"), tags=err),
        # t2: only x fails
        dict(span(trace_id="t2", span_id="c", service="svc_x"), tags=err),
        # t3: only y fails; z never fails
        dict(span(trace_id="t3", span_id="d", service="svc_y"), tags=err),
        dict(span(trace_id="t3", span_id="e", service="svc_z"), tags=[]),
    ]
    from haystack_traces_spark.schemas import SPAN

    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        out = q_error_cooccurrence(spark, "ignored").collect()
    finally:
        EQ._spans = orig
    assert len(out) == 1
    r = out[0]
    assert (r["svc_a"], r["svc_b"], r["n_both"]) == ("svc_x", "svc_y", 1)
    assert abs(r["cofail_jaccard"] - round(1 / 3, 6)) < 1e-9


def test_depth_profile_attributes_time_by_level(spark):
    from haystack_traces_spark.entry_queries import q_depth_profile

    rows = [
        dict(span(trace_id="t1", span_id="r", parent="", duration=10)),
        dict(span(trace_id="t1", span_id="c1", parent="r", duration=20)),
        dict(span(trace_id="t1", span_id="c2", parent="r", duration=30)),
        dict(span(trace_id="t1", span_id="g", parent="c1", duration=40)),
    ]
    from haystack_traces_spark.schemas import SPAN

    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        got = {r["depth"]: r for r in q_depth_profile(spark, "ignored").collect()}
    finally:
        EQ._spans = orig
    assert got[0]["total_duration"] == 10
    assert got[1]["n_spans"] == 2 and got[1]["avg_duration"] == 25.0
    assert got[2]["total_duration"] == 40


def test_tail_sampling_precedence_and_determinism(spark):
    """error > slow > hash precedence; drops are deterministic (same
    hash bucket on re-run); every error/slow trace is always kept."""
    from haystack_traces_spark.entry_queries import q_tail_sampling
    from haystack_traces_spark.transform.model import long_tag

    rows = [
        # error trace (also slow — error reason wins)
        dict(span(trace_id="e1", span_id="a", duration=9_999_999),
             tags=[long_tag("errorcode", 99)]),
        # slow trace, no error
        dict(span(trace_id="s1", span_id="b", duration=5_000_000), tags=[]),
        # fast clean traces — hash-sampled
        *[dict(span(trace_id=f"f{i}", span_id=f"c{i}", duration=10), tags=[])
          for i in range(20)],
    ]
    from haystack_traces_spark.schemas import SPAN

    spans = spark.createDataFrame(rows, SPAN)
    import haystack_traces_spark.entry_queries as EQ

    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        out1 = {r["trace_id"]: r for r in q_tail_sampling(spark, "x").collect()}
        out2 = {r["trace_id"]: r for r in q_tail_sampling(spark, "x").collect()}
    finally:
        EQ._spans = orig
    assert out1 == out2  # deterministic, no RNG state
    assert out1["e1"]["reason"] == "error" and out1["e1"]["sampled"]
    assert out1["s1"]["reason"] == "slow" and out1["s1"]["sampled"]
    fast = [r for t, r in out1.items() if t.startswith("f")]
    assert all(r["reason"] in ("hash", "drop") for r in fast)
    assert any(r["reason"] == "drop" for r in fast)  # rate actually bites
