"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1) / median next to its
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload cron_tick --seeds 1-10

Run from the repository root. One run at a time, as the benchmark's
closed loop requires; each result line is printed as it lands.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range A-B")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in _seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          **{k: round(v["value"], 4)
                             for k, v in res["metrics"].items()}}),
              flush=True)
        print("   ", lines[-2], flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:28s} median {med:12.4f} {m['unit']:6s} "
              f"spread {spread:6.3f}  bound {m['bound']}"
              f"{'  (> bound/3)' if spread > m['bound'] / 3 else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
