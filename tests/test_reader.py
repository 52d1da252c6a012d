"""Reader endpoints answered on the driver (collect ids → key-lookup →
in-process transformer chain → local frame) return what the distributed
forms return: same rows, same per-trace span order, same schema."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from haystack_traces_spark.api import TraceEngine
from haystack_traces_spark.operators.callgraph import trace_call_graph
from haystack_traces_spark.operators.expression import ExpressionTree, Field
from haystack_traces_spark.operators.field_values import build_service_catalog
from haystack_traces_spark.operators.index import build_trace_index
from haystack_traces_spark.operators.search import (
    SearchRequest,
    fetch_traces,
    search_trace_ids,
)
from haystack_traces_spark.schemas import SPAN
from haystack_traces_spark.session import local_frame
from haystack_traces_spark.sources.events import spans_cs_from_events
from haystack_traces_spark.sources.spans import build_trace_store, get_raw_trace
from haystack_traces_spark.transform.pipeline import transform_traces
from tests.fixtures import span

T_LO, T_HI = 1_704_000_000_000_000, 1_707_000_000_000_000
# two roots: rejected by the root validator, so dropped from processed search
BAD = "bad-two-roots"


def _req(service: str) -> SearchRequest:
    return SearchRequest(
        T_LO, T_HI, 50, ExpressionTree((Field("servicename", service, "EQUAL"),))
    )


@pytest.fixture(scope="module")
def tables(spark, sf_dir, tmp_path_factory):
    """The fixture's client/server spans plus one invalid trace, written once as
    the store / index / catalog parquet tables the engine reads."""
    d = tmp_path_factory.mktemp("reader")
    bad = [
        span(trace_id=BAD, span_id=s, parent="", service="click", start=T_LO + 10**12)
        for s in ("a", "b")
    ]
    spans = spans_cs_from_events(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).unionByName(local_frame(spark, bad, SPAN))
    spans.write.parquet(str(d / "spans"))
    spans = spark.read.parquet(str(d / "spans"))
    build_trace_store(spans).write.parquet(str(d / "store"))
    build_trace_index(spans).write.parquet(str(d / "index"))
    build_service_catalog(spans).write.parquet(str(d / "catalog"))
    return {n: spark.read.parquet(str(d / n)) for n in ("spans", "store", "index", "catalog")}


def _engine(tables, extra_backends=None) -> TraceEngine:
    return TraceEngine(
        tables["spans"],
        trace_store=tables["store"],
        trace_index=tables["index"],
        service_catalog=tables["catalog"],
        extra_backends=extra_backends,
    )


@pytest.fixture(scope="module")
def engines(spark, tables):
    def dead():
        return spark.read.parquet("/no/such/backend")

    return [_engine(tables), _engine(tables, extra_backends=[dead])]


def _by_trace(rows) -> dict:
    return {r["trace_id"]: [s.asDict(recursive=True) for s in r["spans"]] for r in rows}


def _distributed_processed(engine, req):
    """fetch → transform_traces → regroup, span order from the pipeline's
    output position; plus the regrouped frame's schema."""
    fetched = fetch_traces(engine.trace_store, search_trace_ids(engine.trace_index, req))
    flat = fetched.select(F.explode("spans").alias("s")).select("s.*")
    schema = (
        transform_traces(flat)
        .groupBy("trace_id")
        .agg(F.collect_list(F.struct("*")).alias("spans"))
        .schema
    )
    by_trace: dict = {}
    for r in transform_traces(flat, with_pos=True).collect():
        d = r.asDict(recursive=True)
        by_trace.setdefault(d["trace_id"], []).append((d.pop("pos"), d))
    return schema, {t: [d for _, d in sorted(v, key=lambda x: x[0])] for t, v in by_trace.items()}


@pytest.mark.parametrize("service", ["click", "no-such-service"])
def test_search_traces_matches_distributed_forms(engines, service):
    req = _req(service)
    want_schema, want = _distributed_processed(engines[0], req)
    raw_want = fetch_traces(
        engines[0].trace_store, search_trace_ids(engines[0].trace_index, req)
    )
    for engine in engines:
        got = engine.search_traces(req)
        assert got.schema.simpleString() == want_schema.simpleString()
        rows = got.collect()
        assert _by_trace(rows) == want
        # processed traces come back in search order
        ids = [r["traceid"] for r in engine.search_trace_ids(req).collect()]
        assert [r["trace_id"] for r in rows] == [t for t in ids if t != BAD]

        raw = engine.search_traces(req, processed=False)
        assert raw.schema.simpleString() == raw_want.schema.simpleString()
        assert _by_trace(raw.collect()) == _by_trace(raw_want.collect())
    if service == "click":
        assert len(want) >= 10 and BAD not in want
        assert BAD in _by_trace(raw_want.collect())
    else:
        assert want == {}
    assert engines[1].backend_failures > 0


def test_call_graph_matches_distributed_form(engines, tables):
    tid = tables["spans"].select("trace_id").first()["trace_id"]
    flat = get_raw_trace(engines[0].trace_store, tid).select(
        F.explode("spans").alias("s")
    ).select("s.*")
    want = trace_call_graph(transform_traces(flat))
    want_rows = sorted(tuple(r) for r in want.collect())
    assert want_rows  # the client/server spans merge into call edges
    for engine in engines:
        got = engine.get_trace_call_graph(tid)
        assert got.schema.simpleString() == want.schema.simpleString()
        assert sorted(tuple(r) for r in got.collect()) == want_rows
        missing = engine.get_trace_call_graph("no-such-id")
        assert missing.schema.simpleString() == want.schema.simpleString()
        assert missing.collect() == []


def test_driver_answers_plan_as_local_table_scans(engines, tables):
    """Neither answer runs a grouped-map UDF or a shuffle: both plan as a
    LocalTableScan over the driver-held rows."""
    tid = tables["spans"].select("trace_id").first()["trace_id"]
    engine = engines[0]
    for df in (engine.search_traces(_req("click")), engine.get_trace_call_graph(tid)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan and "Exchange" not in plan, plan
