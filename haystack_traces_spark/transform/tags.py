"""Auxiliary tag names stamped by the merge/transform pipeline.

Parity with reference AuxiliaryTags
(reader/.../readers/utils/AuxiliaryTags.scala:20-43). Plus Column helpers for
reading tags out of the typed-union tags array.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

INFRASTRUCTURE_LOCATION = "X-HAYSTACK-AWS-REGION"
INFRASTRUCTURE_PROVIDER = "X-HAYSTACK-INFRASTRUCTURE-PROVIDER"

IS_MERGED_SPAN = "X-HAYSTACK-IS-MERGED-SPAN"
NETWORK_DELTA = "X-HAYSTACK-NETWORK-DELTA"

CLIENT_SERVICE_NAME = "X-HAYSTACK-CLIENT-SERVICE-NAME"
CLIENT_OP_NAME = "X-HAYSTACK-CLIENT-OPERATION-NAME"
CLIENT_SPAN_ID = "X-HAYSTACK-CLIENT-SPAN-ID"
CLIENT_START_TIME = "X-HAYSTACK-CLIENT-START-TIME"
CLIENT_DURATION = "X-HAYSTACK-CLIENT-DURATION"

SERVER_SERVICE_NAME = "X-HAYSTACK-SERVER-SERVICE-NAME"
SERVER_OP_NAME = "X-HAYSTACK-SERVER-OPERATION-NAME"
SERVER_START_TIME = "X-HAYSTACK-SERVER-START-TIME"
SERVER_DURATION = "X-HAYSTACK-SERVER-DURATION"

ERR_IS_MULTI_PARTIAL_SPAN = "X-HAYSTACK-ERR-IS-MULTI-PARTIAL-SPAN"

# InvalidRootTransformer autogen markers (InvalidRootTransformer.scala:40-79)
AUTOGEN_REASON = "X-HAYSTACK-AUTOGEN-REASON"
AUTOGEN_ROOT_COUNT = "X-HAYSTACK-AUTOGEN-ORIGINAL-ROOT-COUNT"

SPAN_KIND_TAG = "span.kind"


def tag_str(tags: str, key: str) -> Column:
    """String value of the first tag with the given key (any vtype).

    Built as one SQL string: the JVM parses it in a single call, where the
    same expression assembled from Python lambdas costs one py4j round trip
    per node (on a 4-vCPU VM, ~50 ms vs ~1 ms per column). The per-vtype
    CASE runs inside ``transform`` over the filtered matches, so the filter
    is evaluated once per row (the ``span_funcs.tag_value`` shape);
    ``try_element_at`` makes an empty or NULL tags array yield NULL."""
    lit = key.replace("\\", "\\\\").replace("'", "\\'")
    return F.expr(
        f"try_element_at(transform(filter(`{tags}`, t -> t.key = '{lit}'), "
        "t -> CASE t.vtype WHEN 'STRING' THEN t.vstr "
        "WHEN 'LONG' THEN CAST(t.vlong AS STRING) "
        "WHEN 'DOUBLE' THEN CAST(t.vdouble AS STRING) "
        "WHEN 'BOOL' THEN CAST(t.vbool AS STRING) "
        "WHEN 'BINARY' THEN CAST(t.vbytes AS STRING) END), 1)"
    )
