"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload reader --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md):
  reader    TraceEngine request mix over a store/index built in setup
  registry  eight reference-surface registry queries plus five pinned
            analytics lines, each through __spark_entry__.queries()
  ingest    streaming backfill of a fixed JSON span corpus (not in
            BENCHMARK.json: its ops are too long for the gated run budget;
            its layers are measured inside the traced reader run)

The last stdout line is the result JSON ({"correct", "attempted", "failed",
"metrics"}); the line before it is the run record (configuration, versions,
fail_ratio, class medians, per-op-type Spark counters). With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer ones.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

# BLAS threads before numpy is imported anywhere: parallelism comes from
# Spark tasks, one BLAS thread each
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
#: Spark cores: every run is pinned to local[CORES]; a box with fewer
#: usable cores is refused rather than measured at another width
CORES = 4
#: the engine's default spark.driver.memory; set explicitly here because
#: -Xms in the JVM options below must match it
DRIVER_MEMORY = "8g"

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("reader", "registry", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    """What a workload gets: its parameters, a scratch directory inside
    the checkout, the RSS sampler, and a Spark factory pinned to local[k]."""

    def __init__(self, args, work: Path, cores: int):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = cores
        self.spark = None
        self.rss = None
        self.conf: dict = {}

    def start_spark(self, cores: int | None = None):
        """(Re)start the session at local[cores] (default k) with
        shuffle partitions = cores. Restarts reuse the running JVM."""
        if self.spark is not None:
            self.spark.stop()
        cores = cores or self.cores
        self.spark = new_spark(self.workload, self.work, cores)
        if cores == self.cores:
            self.conf = {
                "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                "driver_memory": self.spark.sparkContext.getConf().get("spark.driver.memory"),
                "spark_version": self.spark.version,
            }
        return self.spark


def new_spark(workload: str, work: Path, cores: int):
    """The engine's session at local[cores] with shuffle partitions =
    cores, its scratch files under ``work``."""
    from haystack_traces_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=spark_conf(work),
    )


def spark_conf(work: Path) -> dict[str, str]:
    java_opts = (
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'} "
        "-XX:-UsePerfData "
        # fixed heap shape: G1 otherwise resizes the young generation from
        # recent pause times and grows the old one when collections take
        # long, and between runs of the same code that moved peak RSS by
        # up to 25%. Young is fixed at 1 GiB and the whole heap committed
        # at the engine's 8g maximum, but not pre-touched: a page becomes
        # resident only when an object first lands on it, so peak RSS
        # follows the most heap the run ever occupied (pins, cached
        # blocks, promoted data), not when the collector chose to grow it
        f"-Xmn1g -Xms{DRIVER_MEMORY} "
        # compile hot methods after a tenth of the default invocation
        # counts, so one warm-up pass brings the JIT near steady state
        "-XX:CompileThresholdScaling=0.1"
    )
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
    }


def main(argv=None) -> int:
    args = _args(argv)
    nproc = len(os.sched_getaffinity(0))
    cores = CORES
    if cores > nproc:
        print(f"refusing to run: local[{cores}] exceeds nproc={nproc}", file=sys.stderr)
        return 2
    # the engine must be present next to the benchmark
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH_DIR))
    try:
        if not (ROOT / "haystack_traces_spark" / "__init__.py").is_file():
            raise ImportError(f"no haystack_traces_spark package under {ROOT}")
        import haystack_traces_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    work = BENCH_DIR / ".work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "local", "derby"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # every scratch file of the run (package zip, spill, checkpoints)
    # stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]

    import probes
    import workloads

    ctx = Context(args, work, cores)
    ctx.rss = probes.TreeRss().start()
    t0 = time.perf_counter()
    try:
        out = workloads.run(ctx)
    finally:
        if ctx.spark is not None:
            jvm_pools = probes.jvm_memory(ctx.spark)
            probes.stop_spark(ctx.spark)
        peak_mb = ctx.rss.stop()
        probes.wait_gone(ctx.rss.pids)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (BENCH_DIR / ".work").rmdir()
        except OSError:
            pass

    if not ctx.trace:
        out.metrics["peak_rss_mb"] = (peak_mb, "MB")
        out.record["peak_rss_mb_by_process"] = ctx.rss.peak_by_comm
        out.record["jvm_pools_mb"] = jvm_pools
    if args.workload != "ingest":
        want = [n for n, _ in workloads.E2E] if not ctx.trace else [
            n for n, _, _ in workloads.PER_LAYER]
        assert sorted(out.metrics) == sorted(want), sorted(set(out.metrics) ^ set(want))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "k": cores,
        **ctx.conf,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "wall_s": round(time.perf_counter() - t0, 3),
        **out.record,
    }
    print(json.dumps({"run": record}, sort_keys=True))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
