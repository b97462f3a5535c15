"""Smoke test of the benchmark itself, at the tiny input size.

    python3 perfbench/smoke.py            # from the repository root

Checks, for each workload, that an untraced run prints exactly the
end-to-end metrics of BENCHMARK.json and a traced run exactly its
per-layer metrics, with their units; that the traced run's spans nest
and its step spans (``cli.*`` or ``queries.*``) cover each traced
cycle; that a failed output check is counted; and that the benchmark
exits non-zero, printing no result, in a directory that holds only
BENCHMARK.json and perfbench/. Takes a few minutes (four Spark runs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SCRATCH = os.path.join(ROOT, ".perfbench", "smoke")


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "7",
                              "--seconds", "1", "--trace", str(trace),
                              "--tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    errs = []
    rc, lines = _run(ROOT, workload, trace)
    if rc != 0 or not lines:
        return [f"{workload} trace={trace}: exit {rc}"]
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{workload}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"]:
        errs.append(f"{workload} trace={trace}: run not correct: {lines[-3:]}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"{workload} trace={trace}: metric names/units differ: "
                    f"missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}")
    if trace:
        path = os.path.join(ROOT, ".perfbench", "results",
                            f"{workload}-s7-t1.json")
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        errs += [f"{workload}: {e}" for e in rec["nesting_errors"]]
        cover = rec["step_cover"]
        if len(cover) != 2 or min(cover) < 0.95:
            errs.append(f"{workload}: step spans cover {cover}")
    return errs


def check_failure_counted() -> list[str]:
    """A wrong output must raise fail_ratio above zero."""
    sys.path.insert(0, HERE)
    import gen
    import pipeline
    corpus = gen.Corpus(1)
    corpus.bootstrap_events(50)
    _, truth = corpus.tick_events(8, 0)
    p = pipeline.Pipeline(os.path.join(SCRATCH, "no-data"))
    p.attempted = 2
    p.solr_docs = lambda: {}
    p.watermark = lambda: "2000-01-01"
    pipeline.check_tick(p, corpus, {
        "tick": 0, "truth": truth, "wm_before": "2000-01-01",
        "out": {"ingest": {"records": -1}, "reindex": {"solr": -1}}})
    return [] if p.failed > 0 and p.problems else [
        "a failed output check was not counted"]


def check_bare_directory() -> list[str]:
    """Without the package the benchmark must fail fast and print no
    result."""
    d = os.path.join(SCRATCH, "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(d, "cron_tick", 0)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in lines):
        return [f"bare directory: exit {rc}, output {lines[-2:]}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    errs = check_failure_counted() + check_bare_directory()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs += check_run(spec, w["name"], trace)
    for e in errs:
        print(f"FAIL {e}")
    print("smoke: ok" if not errs else f"smoke: {len(errs)} failures")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
