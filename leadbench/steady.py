#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric's spread.

    python3 leadbench/steady.py --workload engine --seeds 1-10 \
        --seconds 16 --out leadbench/results/engine-set1.json

For each metric it records the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
(q3 - q1) / median. With ``--trace 1`` it records the per-layer
metrics instead. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    runs = []
    for seed in args.seeds:
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        detail = next(
            (json.loads(l[len("LEADBENCH "):]) for l in lines if l.startswith("LEADBENCH ")), {}
        )
        result = json.loads(lines[-1]) if lines else {}
        runs.append(
            {"seed": seed, "exit": proc.returncode, "wall_s": time.time() - t,
             "result": result, "detail": detail}
        )
        print(f"seed {seed}: exit {proc.returncode}, {time.time() - t:.1f} s", file=sys.stderr)

    names = list(runs[0]["result"].get("metrics", {}))
    summary = {}
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
        spread = stats.spread(values) if len(values) > 1 else {"median": values[0], "n": 1}
        summary[name] = {"unit": runs[0]["result"]["metrics"][name]["unit"], **spread}
    out = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "seeds": args.seeds,
        "all_correct": all(r["result"].get("correct") for r in runs),
        "run_wall_s": [r["wall_s"] for r in runs],
        "metrics": summary,
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for name, s in summary.items():
        print(f"{name:28s} median {s['median']:.4g} {s['unit']:6s} spread {s.get('iqr_share', 0):.3f}")
    return 0 if out["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
