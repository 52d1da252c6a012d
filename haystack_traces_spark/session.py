"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (AQE on, skew-join handling,
zstd parquet) while remaining correct on local[N]:

- ``spark.sql.adaptive.enabled`` + skewJoin: runtime re-plan of shuffles, the
  first line of defense against hot traceIds / hot join keys at scale.
- ``spark.sql.session.timeZone=UTC``: all reference timestamps are epoch
  micros (UTC); keeps parquet/DuckDB/Spark agreement.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: older driver testdata stored
  TIMESTAMP(NANOS) which Spark has no native type for; reading them as raw
  nanos longs is lossless and avoids tz ambiguity entirely. Current testdata
  ships TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), for which this setting is
  a no-op — ``sources/events.py:_epoch_micros`` adapts per column dtype.
- ``spark.sql.parquet.compression.codec=zstd``: the reference ships zstd as a
  packer option (commons/.../packer/Packer.scala:29-77); parquet-zstd is the
  columnar equivalent.
- Arrow enabled for the pandas-UDF transformer chain.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make haystack_traces_spark importable on executor Python workers.

    Pandas-UDF closures reference this package by name; workers (local-mode
    subprocesses AND remote executors on a real cluster) need it on their
    path. ``addPyFile`` is the cluster-correct mechanism — a zip shipped with
    the job, unzipped into each worker's runtime path.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / "haystack_traces_spark_pkg.zip"
    src_mtime = max(p.stat().st_mtime for p in pkg_dir.rglob("*.py"))
    if not zip_path.exists() or zip_path.stat().st_mtime < src_mtime:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in pkg_dir.rglob("*.py"):
                zf.write(p, f"haystack_traces_spark/{p.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zip_path))


def fan_out(df, min_parts: int | None = None):
    """Spread a narrow input across cores before a CPU-bound chain.

    Small/single-file parquet arrives as 1 input split, which serializes
    every downstream expression until the first shuffle. One round-robin
    repartition up front is far cheaper than single-threading the scan-side
    work. A real multi-file table (the 100 TB case) already has >= cores
    splits and is returned untouched — the repartition is strictly a
    small-input adaptation, never an extra shuffle at scale.

    Width: the FULL defaultParallelism. That is the right (and only safe)
    default for chains whose scan side carries heavy per-row compute —
    the mapInPandas GEMM/bucketing stages run directly on this output,
    and narrowing them was measured 2-3x slower (the r12 AQE-floor
    refutation). Chains that are pure Catalyst expressions should use
    :func:`fan_out_cheap`, which derives the width from input size.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a catalog listing — unlike df.rdd.getNumPartitions()
    # it never forces a plan-to-RDD conversion per query. A non-file source
    # (in-memory test frame) lists zero files and gets the repartition,
    # which is the safe direction for small inputs.
    try:
        n_src = len(df.inputFiles())
    except Exception:
        n_src = 0
    if n_src < max(target // 2, 2):
        return df.repartition(target)
    return df


#: fan_out_cheap sizing: one task per this many input bytes. ~256 KiB of
#: zstd parquet decodes to a few MB of rows — past the point where the
#: per-task scheduling overhead (~5-10 ms serialize+launch+commit per
#: task, r13-opt floor experiment) beats the expression work it spreads.
#: Parameterized for deployments whose cheap chains are denser per byte.
FAN_OUT_CHEAP_BYTES_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_FANOUT_BYTES_PER_TASK", str(256 * 1024))
)


def _input_bytes(df) -> int | None:
    """Total on-disk bytes of the frame's LOCAL input files; None when the
    listing is empty or any file is remote/unstatable (callers then fall
    back to the compute-safe full width)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        if f.startswith("file:"):
            p = "/" + f[5:].lstrip("/")
        elif "://" in f:
            return None
        else:
            p = f
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def fan_out_cheap(df, min_parts: int | None = None):
    """fan_out for ROW-CHEAP chains: scan-side work that is pure Catalyst
    expressions (projections, windows, aggregates) with no Python/numpy
    stage before the first exchange.

    Guide §2.2/§8 (r13-opt): at tiny inputs a full-width repartition
    manufactures defaultParallelism near-empty tasks per downstream map
    stage, and the per-task scheduling floor dominates — the measured
    cause of the r12 32-core-slower-than-8-core inversion (warm tail
    actions ~2x slower at width 32 than width 8 on kB-MB inputs; width 8
    at 32 cores reproduces the 8-core times). The width is therefore
    derived from INPUT SIZE — one task per FAN_OUT_CHEAP_BYTES_PER_TASK,
    clamped to [2, defaultParallelism] — so it adapts across scale
    factors instead of being a constant tuned for either local mode or
    the cluster. At real scale the clamp hits defaultParallelism long
    before the multi-split fast path stops mattering, and fan_out's
    untouched-input path takes over entirely.

    Byte-derived widths are the WRONG proxy for compute-heavy chains
    (the r12 AQE-floor refutation: few shuffled MB can carry most of the
    job's compute) — which is exactly why this is a separate entry point
    the call site opts into with knowledge the optimizer lacks, never a
    global knob. Falls back to full-width fan_out whenever input bytes
    are unknowable (in-memory frames, remote filesystems)."""
    cap = min_parts or df.sparkSession.sparkContext.defaultParallelism
    b = _input_bytes(df)
    if b is None:
        return fan_out(df, cap)
    target = max(2, min(cap, -(-b // FAN_OUT_CHEAP_BYTES_PER_TASK)))
    return fan_out(df, target)


# Memoized *unresolved DataFrame plans* for the shared per-query source
# prefixes (spans projection, trace index, docs/embeddings scans). A
# DataFrame here is only a plan description: memoizing it caches ZERO
# data and ZERO results — every action still recomputes from the parquet
# inputs. What it removes is the per-query py4j expression-tree
# reconstruction of the identical prefix (measured r12-opt: ~0.2-0.6 s of
# driver-side Python per registry line, ~60 s across the 316-line bench —
# pure client-side overhead a Scala engine would not pay at any scale).
# Keyed by applicationId so a new session never sees a stale plan object.
_plan_memo: dict[tuple[str, str, str], "DataFrame"] = {}


def memo_plan(spark: SparkSession, sf_dir: str, key: str, build):
    """Return the session-memoized *plan* for source prefix ``key`` at
    ``sf_dir``, constructing it with ``build()`` on first use. Plans are
    immutable descriptions; sharing one object across queries is
    semantically identical to rebuilding it (Catalyst re-optimizes and
    re-executes per action)."""
    app_id = spark.sparkContext.applicationId
    k = (app_id, str(sf_dir), key)
    df = _plan_memo.get(k)
    if df is None:
        # prune entries of stopped sessions on miss (VERDICT r12 ask #7):
        # a new applicationId means every old app's plan objects are dead
        # weight — drop them so sequential sessions cannot accumulate. The
        # keys are snapshotted first: another thread may insert while this
        # one prunes, and iterating the live dict would then raise.
        for stale in [sk for sk in list(_plan_memo) if sk[0] != app_id]:
            _plan_memo.pop(stale, None)
        df = build()
        _plan_memo[k] = df
    return df


def local_frame(spark: SparkSession, rows: list[dict], schema):
    """A DataFrame over driver-held rows (dicts keyed by ``schema``'s field
    names), handed to the JVM as one Arrow table. It plans as a
    ``LocalRelation``: collecting it, or a filter/projection over it, runs
    no Spark job and starts no Python worker, where
    ``spark.createDataFrame(list)`` ships the rows through a PythonRDD job.
    For request-bounded answers (a few traces), not corpus-scale data."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


# Frames pinned by materialize(), released via release_materialized() —
# a long-lived session running the whole registry (bench.py, the oracle
# suite) would otherwise accumulate cached tables until LRU/disk pressure.
_materialized: list = []


def materialize(df):
    """persist + EAGER count: derived tables that feed both sides of a
    self-join (LSH buckets, minhash signatures, prefix indexes, shingle
    sets) must exist before the consuming action starts. A lazy persist
    lets the two join-side stages race and each compute the producer from
    scratch — for the hyperplane-bucket GEMM that is the whole table
    bucketed twice (measured 3-5x on the LSH family at sf0.1). On a
    cluster the same idea is "write the derived table, then join it";
    locally one narrow count() action fills the cache.

    Every pinned frame is tracked; callers that run MANY queries in one
    session (bench loops, oracle suites) should call
    :func:`release_materialized` after each query's consuming action."""
    df = df.persist()
    df.count()
    _materialized.append(df)
    return df


def release_materialized() -> int:
    """Unpersist every frame :func:`materialize` pinned since the last
    release. Safe once the consuming action has finished — the cache is a
    within-query racing guard, not a cross-query cache. Returns the number
    of frames released."""
    n = 0
    while _materialized:
        df = _materialized.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def get_spark(
    app_name: str = "haystack-traces-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # One BLAS thread per Python worker: N workers x M OpenBLAS threads
    # otherwise oversubscribes the box and numpy-backed operators (GEMM
    # scoring, LSH bucketing) show multi-x run-to-run variance. Parallelism
    # comes from Spark's task fan-out, not from nested BLAS threading.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor stays at Spark's default (1m, parallelism-
        # first). An r12-opt experiment raised it to 4m — shuffle BYTES
        # are the wrong proxy for stage cost here: the numpy/Arrow verify
        # stages (kNN-graph scoring, pair verification) shuffle few MB but
        # carry most of the compute, and the higher floor coalesced them
        # onto 1-5 cores (isolated cold A/B: knn_graph stage 8.0-8.8 s
        # default vs 10.8-12.7 s at 4m; full bench heavy lines +2-3x).
        # Parameterized override for deployments whose shuffles are
        # byte-dominated rather than compute-dominated.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # huge plan treeStrings (stateful streaming + nested span schema) feed
        # regex-based redaction on the stream thread → StackOverflowError;
        # capping the rendered plan string avoids it and speeds up big plans
        .config("spark.sql.maxPlanStringLength", "8192")
    )
    # cluster mode: same BLAS pinning on remote executors (local mode
    # inherits the driver env set above)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark
