"""Steadiness check: run the benchmark once per seed on each workload and
print, per end-to-end metric, the median and the inter-quartile spread
(as a share of the median) next to a third of the metric's bound.

    python3 perfbench/steady.py --seeds 1-10 [--workload reader]

Runs are sequential, from the repository root, with BENCHMARK.json's
command and run_seconds. Ends non-zero if a run fails or a spread is not
below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def box_ms() -> float:
    """Wall time of a fixed single-thread Python loop, printed next to
    each run so a spread can be told apart from the machine's own drift
    (it is not applied to any metric)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t) * 1000


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = a.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in names:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in seeds(a.seeds):
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
            box = box_ms()
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"]
            print(f"{w} seed {seed}: {walls[-1]:.1f}s box {box:.0f}ms correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: wall median {stats.median(walls):.1f}s max {max(walls):.1f}s")
        if a.trace:
            continue
        for m in bench["end_to_end"]:
            v = values.get(m["name"], [])
            if len(v) < 3:
                continue
            sp = stats.spread(v)
            steady = sp < m["bound"] / 3
            ok &= steady
            print(f"  {m['name']:<12} median {stats.median(v):10.4g}  spread {sp:.4f}"
                  f"  bound/3 {m['bound'] / 3:.4f}  {'ok' if steady else 'NOISY'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
