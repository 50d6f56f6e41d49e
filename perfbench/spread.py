"""Run-to-run spread of the end-to-end metrics, as the bounds in
BENCHMARK.json are judged: run one workload once per seed, then print
each metric's median and the distance between its first and third
quartile as a share of the median.

    python3 perfbench/spread.py --workload stream_dashboard --seeds 1-10

Run from the root of a checkout.  Each run's full output is kept under
``.bench_work/spread/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = p.parse_args()
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    out_dir = os.path.join(common.WORK, "spread")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t = time.perf_counter()
        log = os.path.join(out_dir, f"{args.workload}-{seed}.log")
        with open(log, "w") as f:
            proc = subprocess.run(
                [sys.executable, os.path.join(common.BENCH_DIR, "run.py"),
                 "--workload", args.workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=common.ROOT, stdout=subprocess.PIPE, stderr=f, text=True,
            )
            f.write(proc.stdout)
        wall = time.perf_counter() - t
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {proc.returncode}, {wall:.1f} s, correct {result['correct']}, "
              + ", ".join(f"{k} {m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        print(f"{k}: median {common.median(vs):.4g}, iqr/median {common.iqr_share(vs):.4f} (n={len(vs)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
