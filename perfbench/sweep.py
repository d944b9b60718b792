"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload cdc_stream --seeds 1-10 --seconds 12
    python3 perfbench/sweep.py --workload lake_sql --seeds 1-5 --trace both

Runs ``run.py`` once per seed (sequentially, from the repository root)
and prints, per end-to-end metric, the median and the quartile spread
``(Q3 - Q1) / median`` over the seeds, plus each run's wall time. With
``--trace both`` each seed runs untraced and traced, and the tracing
overhead is reported as traced minus untraced end-to-end medians; the
per-layer medians of the traced runs are printed too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    detail = next((json.loads(line[len("detail "):]) for line in lines
                   if line.startswith("detail ")), None)
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0 or detail is None or not result["correct"]:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return detail, wall


def summarize(name: str, values: list[float]) -> str:
    med = statistics.median(values)
    spread = (quartile_spread(values) if len(values) >= 2 and med
              else float("nan"))
    vals = " ".join(f"{v:.4g}" for v in values)
    return f"  {name:<32} median={med:<11.5g} spread={spread:6.3f}  [{vals}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    runs: dict[int, list[dict]] = {m: [] for m in modes}
    walls: dict[int, list[float]] = {m: [] for m in modes}
    for seed in args.seeds:
        for m in modes:
            detail, wall = one(args.workload, seed, args.seconds, m)
            runs[m].append(detail)
            walls[m].append(wall)
            print(f"seed {seed} trace {m}: {wall:.1f} s "
                  + json.dumps({k: round(v, 4)
                                for k, v in detail["end_to_end"].items()}),
                  flush=True)
    for m in modes:
        print(f"{args.workload} trace={m} over {len(args.seeds)} seeds "
              f"(run wall median {statistics.median(walls[m]):.1f} s, "
              f"max {max(walls[m]):.1f} s)")
        for name in runs[m][0]["end_to_end"]:
            print(summarize(name, [d["end_to_end"][name] for d in runs[m]]))
        if m == 1:
            for name in runs[m][0]["per_layer"]:
                print(summarize(name, [d["per_layer"][name] for d in runs[m]]))
    if len(modes) == 2:
        print("tracing overhead (traced - untraced medians):")
        for name in runs[0][0]["end_to_end"]:
            a = statistics.median(d["end_to_end"][name] for d in runs[0])
            b = statistics.median(d["end_to_end"][name] for d in runs[1])
            print(f"  {name:<32} {b - a:+.5g} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
