"""The headline_queries workload's pass: a subset of ``bench.py``'s
``BENCH_QUERIES`` on a small generated twin of the test data, each
query's construction (``spark_fn(...)``) and execution (``count()``)
timed apart.

It is the only part of the benchmark that runs through ``sources``,
``queries`` and ``operators``. The twin comes from
``tools/gen_stress.py`` (fixed seeds, written inside the run's working
directory); each query's ``count()`` is checked against its DuckDB
oracle on the same files.
"""

from __future__ import annotations

import contextlib
import os
import random
import subprocess
import sys
import time

# One query per build-phase pattern ROADMAP item 2 names: a plain
# load_table scan + aggregate, a spread_small_scan probe with an eager
# pin_if_bounded, and a spread_small_scan on the vector table.
QUERIES = ("q1_pricing_summary", "benchmark_contamination", "cosine_topk")
# gen_stress.py's scale: a hundredth of the sf0.1 row counts
# (~6,000 lineitem rows, 50 documents)
TWIN_SCALE = "0.01"


def make_twin(root: str, out: str) -> None:
    """Write the twin tables with the repository's own generator."""
    subprocess.run([sys.executable, os.path.join(root, "tools",
                                                 "gen_stress.py"),
                    out, TWIN_SCALE],
                   check=True, capture_output=True, timeout=120)


def run_pass(spark, sf_dir: str, seed: int, tracer=None) -> list[dict]:
    """One pass over ``QUERIES`` in a seeded order; returns per-query
    rows, build and exec seconds."""
    from adsmasterpipeline_spark.queries import REGISTRY, _load
    _load()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)

    def span(name: str, **attrs):
        return (tracer.span(name, "queries", **attrs) if tracer
                else contextlib.nullcontext())
    out = []
    for name in order:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with span("queries.build", query=name):
            df = REGISTRY[name].spark_fn(spark, sf_dir)
        t1 = time.perf_counter()
        with span("queries.exec", query=name):
            rows = df.count()
        t2 = time.perf_counter()
        out.append({"query": name, "rows": rows,
                    "build_s": t1 - t0, "exec_s": t2 - t1})
    return out


def oracle_rows(sf_dir: str) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the twin's files."""
    import duckdb
    from adsmasterpipeline_spark.queries import REGISTRY, _load
    from adsmasterpipeline_spark.sources import TABLES
    _load()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {q: con.execute(
                    f"SELECT count(*) FROM ({REGISTRY[q].oracle})").fetchone()[0]
                for q in QUERIES}
    finally:
        con.close()
