"""TraceEngine — facade mirroring the reference's 9 gRPC endpoints
(reader/.../services/TraceService.scala:50-134) as Python functions
(SURVEY.md §7.0).

Index scans and aggregations (search ids, counts, field values, raw key
lookups) are lazy DataFrame plans. Answers bounded by the request (at most
``limit`` traces, or one trace) are computed on the driver, as the
reference's reader does (TraceReader.scala:70-90,127-155): the ids are
collected, their stored rows key-looked-up, the transformer chain run
in-process, and the result handed back as an Arrow-backed local frame
(``session.local_frame``) whose collect runs no Spark job.

Endpoints: get_trace, get_raw_trace, get_raw_span, search_traces,
get_field_names, get_field_values, get_trace_counts, get_raw_traces,
get_trace_call_graph.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from haystack_traces_spark.config import DEFAULT_WHITELIST, WhitelistConfig
from haystack_traces_spark.operators import search as search_ops
from haystack_traces_spark.operators.callgraph import trace_call_graph
from haystack_traces_spark.operators.counts import TraceCountsRequest, trace_counts
from haystack_traces_spark.operators.expression import Field
from haystack_traces_spark.operators.field_values import (
    catalog_operations,
    catalog_services,
    field_names,
    field_values,
)
from haystack_traces_spark.operators.index import build_trace_index
from haystack_traces_spark.schemas import SPAN, TRACE
from haystack_traces_spark.session import local_frame
from haystack_traces_spark.sources.spans import (
    build_trace_store,
    get_raw_span,
    get_raw_trace,
    read_trace_records,
)
from haystack_traces_spark.transform.pipeline import TraceProcessor, process_single
from haystack_traces_spark.transform.transformers import InvalidTraceError


class TraceEngine:
    """Holds the engine tables and answers the nine reader endpoints.

    Construct from a flat spans DataFrame (batch) or attach pre-built
    parquet-backed tables (the streaming ingest writes those).
    """

    def __init__(
        self,
        spans: DataFrame,
        trace_store: DataFrame | None = None,
        trace_index: DataFrame | None = None,
        service_catalog: DataFrame | None = None,
        whitelist: WhitelistConfig = DEFAULT_WHITELIST,
        processor: TraceProcessor | None = None,
        extra_backends: list | None = None,
    ):
        from haystack_traces_spark.operators.field_values import build_service_catalog

        self.spans = spans
        self.whitelist = whitelist
        self.processor = processor or TraceProcessor()
        self.trace_store = (
            trace_store if trace_store is not None else build_trace_store(spans)
        )
        # additional trace backends (DataFrames or zero-arg callables) unioned
        # into every key lookup with per-backend recover-to-empty — the
        # reference's multi-backend reader config (GrpcTraceReaders.scala:52-66)
        self.extra_backends = list(extra_backends or [])
        # reads that recovered an unreachable extra backend to empty; the
        # lock keeps concurrent readers from losing a count
        self.backend_failures = 0
        self._failures_lock = threading.Lock()
        self.trace_index = (
            trace_index
            if trace_index is not None
            else build_trace_index(spans, whitelist)
        )
        self.service_catalog = (
            service_catalog
            if service_catalog is not None
            else build_service_catalog(spans)
        )

    def _store(self) -> DataFrame:
        """The trace store every read sees: the primary plus any extra
        backends, each recovered to empty if unreachable (O5 union;
        GrpcTraceReaders.scala:52-66). Evaluated per read so a backend that
        dies between calls degrades that call, not the engine."""
        if not self.extra_backends:
            return self.trace_store
        dfs = [self.trace_store]
        for b in self.extra_backends:
            try:
                dfs.append(b() if callable(b) else b)
            except Exception:
                # dead backend → empty contribution, counted
                with self._failures_lock:
                    self.backend_failures += 1
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # -- searches ----------------------------------------------------------
    def search_traces(
        self, req: search_ops.SearchRequest, processed: bool = True
    ) -> DataFrame:
        """Index → collect the ≤``limit`` ids → key-lookup. Raw traces come
        back as the lazy regrouped lookup; processed ones run the
        transformer chain per trace on the driver, in search order, and
        invalid traces are dropped (TraceReader.scala:82-90)."""
        ids = [r["traceid"] for r in self.search_trace_ids(req).collect()]
        if not processed:
            return self.get_raw_traces(ids)
        rows = []
        for tid, spans in self._lookup(ids).items():
            try:
                rows.append(
                    {"trace_id": tid, "spans": process_single(tid, spans, self.processor)}
                )
            except InvalidTraceError:
                continue
        return local_frame(self.spans.sparkSession, rows, TRACE)

    def search_trace_ids(self, req: search_ops.SearchRequest) -> DataFrame:
        return search_ops.search_trace_ids(self.trace_index, req, self.whitelist)

    # -- key lookups -------------------------------------------------------
    def get_trace(self, trace_id: str):
        """Processed single trace; raises InvalidTraceError on bad traces
        (fail-fast getTrace semantics, TraceReader.scala:44-51)."""
        spans = self._lookup([trace_id]).get(trace_id)
        if spans is None:
            return []
        return process_single(trace_id, spans, self.processor)

    def _lookup(self, trace_ids: list[str]) -> dict[str, list]:
        """Driver-side key lookup: every stored row of the given ids,
        merged per trace into span dicts (the TraceMerger re-union, J2),
        keyed in ``trace_ids`` order; ids with no stored row are absent."""
        if not trace_ids:
            return {}
        found: dict[str, list] = {}
        rows = read_trace_records(self._store(), trace_ids).select("trace_id", "spans")
        for row in rows.collect():
            found.setdefault(row["trace_id"], []).extend(
                s.asDict(recursive=True) for s in row["spans"]
            )
        return {t: found[t] for t in dict.fromkeys(trace_ids) if t in found}

    def get_raw_trace(self, trace_id: str) -> DataFrame:
        return get_raw_trace(self._store(), trace_id)

    def get_raw_traces(self, trace_ids: list[str]) -> DataFrame:
        return (
            read_trace_records(self._store(), trace_ids)
            .groupBy("trace_id")
            .agg(F.flatten(F.collect_list("spans")).alias("spans"))
        )

    def get_raw_span(self, trace_id: str, span_id: str) -> DataFrame:
        return get_raw_span(self._store(), trace_id, span_id)

    # -- aggregations ------------------------------------------------------
    def get_trace_counts(self, req: TraceCountsRequest) -> DataFrame:
        return trace_counts(self.trace_index, req, self.whitelist)

    def get_field_names(self) -> list[str]:
        return field_names(self.whitelist)

    def get_field_values(
        self, field_name: str, filters: list[Field] | None = None
    ) -> DataFrame:
        """Catalog fast path for the two cheap shapes
        (EsIndexedTraceStore.scala:104-122), else the index scan."""
        fname = field_name.lower()
        flt = filters or []
        if fname == "servicename" and not flt:
            return catalog_services(self.service_catalog)
        if (
            fname == "operationname"
            and len(flt) == 1
            and flt[0].name == "servicename"
            and flt[0].operator == "EQUAL"
        ):
            return catalog_operations(self.service_catalog, str(flt[0].value))
        return field_values(self.trace_index, fname, flt, self.whitelist)

    # -- graph -------------------------------------------------------------
    def get_trace_call_graph(self, trace_id: str) -> DataFrame:
        """Edges of the processed trace (TraceReader.scala:127-155); an
        unknown id gives no edges, an invalid trace raises like get_trace."""
        spans = self.get_trace(trace_id)
        return trace_call_graph(local_frame(self.spans.sparkSession, spans, SPAN))
