"""Benchmark entry point.

    python3 perfbench/run.py --workload {cron_tick,headline_queries}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process on
``local[$SPARK_GRAFT_CPUS]`` (default: every core) with a fresh Spark
session; the last line of standard output is the JSON result. With
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run (see perfbench/README.md).
Working files go under ``.perfbench/`` in the current directory and
the data directory is removed at the end; the run's full record
(host, inputs, per-cycle times, spans) is kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import gen
import headline
import host
import pipeline
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# cron_tick input sizes: records of the cold load, which the ticks then
# update, and keys per tick batch (3% of the table, so every tick mixes
# inserts, payload and metrics updates, resends and tombstones). --tiny
# is the smoke-test size.
SIZES = {
    "full": {"table": 600, "batch": 18},
    "tiny": {"table": 300, "batch": 8},
}
WORKLOADS = ("cron_tick", "headline_queries")


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    return ap.parse_args(argv)


def _environment(workdir: str, event_dir: str | None) -> None:
    """Keep every file Spark writes inside the working directory and
    set the session options the benchmark adds to ``get_spark``'s."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package by name (pickled UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(spans.spark_conf(event_dir))
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    # every JVM, the spark-submit launcher's too, keeps its temporary
    # files in workdir and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    units = _units()
    sys.path.insert(0, ROOT)
    try:
        import adsmasterpipeline_spark.cli
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not adsmasterpipeline_spark.cli.__file__.startswith(ROOT + os.sep):
        print("perfbench: the package was imported from outside "
              f"{ROOT}: {adsmasterpipeline_spark.cli.__file__}",
              file=sys.stderr)
        return 2

    sizes = SIZES["tiny" if args.tiny else "full"]
    base = os.path.join(os.getcwd(), ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    workdir = os.path.join(base, f"run-{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    event_dir = os.path.join(workdir, "events") if args.trace else None
    _environment(workdir, event_dir)
    rec = host.record(args.seed, sizes, ROOT)
    ticks0 = host.cpu_ticks()

    t_setup = time.perf_counter()
    from adsmasterpipeline_spark.session import get_spark
    with host.RssSampler() as rss:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        rec["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version")
        tracer = spans.Tracer(spark.sparkContext) if args.trace else None
        # the registry's modules are imported in set-up, and before the
        # wrappers are installed, so those reach the names they bind
        from adsmasterpipeline_spark.queries import _load
        _load()
        if tracer:
            tracer.install()
        p = pipeline.Pipeline(workdir, tracer)
        try:
            fn = {"cron_tick": _cron_tick,
                  "headline_queries": _headline_queries}
            res = fn[args.workload](p, args, sizes, t_setup)
        except pipeline.CheckFailed as e:
            p.problems.append(str(e))
            res = None
        finally:
            if tracer:
                tracer.uninstall()
            _stop_spark(spark)
    rec["load1_after"] = host.load1()
    ticks1 = host.cpu_ticks()
    rec["steal_share"] = ((ticks1[0] - ticks0[0])
                          / max(1, ticks1[1] - ticks0[1]))

    ok = res is not None and not p.problems
    out = {"host": rec, "workload": args.workload, "trace": args.trace,
           "attempted": p.attempted, "failed": p.failed,
           "fail_ratio": p.failed / max(1, p.attempted),
           "problems": p.problems}
    metrics = {}
    if res is not None:
        res["peak_rss_mb"] = rss.peak_mb
        rec["peak_rss_by_command_mb"] = rss.peak_by_comm
        out.update({k: v for k, v in res.items() if k != "cycle_spans"})
        if tracer:
            log = spans.reduce_event_log(event_dir)
            out["spans"] = tracer.spans
            out["nesting_errors"] = spans.check_nesting(tracer.spans)
            out["step_cover"] = [spans.step_cover(tracer.spans, c)
                                 for c in res["cycle_spans"]]
            metrics = spans.layer_metrics(tracer.spans, log,
                                          res["cycle_spans"], res["counts"])
            out["layers"] = metrics
            untraced = _last_untraced(results, args.workload, args.seed,
                                      rec["code"])
            if untraced is not None:
                out["trace_overhead_s"] = _timed(res["e2e"]) - untraced
        else:
            metrics = res["e2e"]
    with open(os.path.join(results, f"{tag}.json"), "w",
              encoding="utf-8") as f:
        json.dump(out, f, indent=1, default=str)
    shutil.rmtree(workdir, ignore_errors=True)
    run_s = time.perf_counter() - t_start

    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"cycles={len(out.get('cycles', []))} "
          f"fail_ratio={out['fail_ratio']:.3f} run_s={run_s:.1f} "
          f"load1={rec['load1_before']}->{rec['load1_after']}"
          f"{' BUSY' if rec['busy'] else ''} "
          f"steal={rec['steal_share']:.3f}"
          + (f" trace_overhead_s={out['trace_overhead_s']:.3f}"
             if "trace_overhead_s" in out else ""))
    for what in p.problems:
        print(f"perfbench: check failed: {what}")
    print(json.dumps({
        "correct": ok, "attempted": max(1, p.attempted), "failed": p.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def _units() -> dict[str, str]:
    """Metric units, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _timed(e2e: dict) -> float:
    """The cold cycle plus the median warm one: the part of a run that
    tracing slows."""
    return e2e["first_cycle_s"] + e2e["cycle_s_p50"]


def _last_untraced(results: str, workload: str, seed: int,
                   code: str) -> float | None:
    """``_timed`` of the last untraced run with this workload and seed,
    if it ran the same code."""
    path = os.path.join(results, f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        r = json.load(f)
    if r.get("host", {}).get("code") != code or not r.get("e2e"):
        return None
    return _timed(r["e2e"])


def _cron_tick(p, args, sizes, t_setup) -> dict:
    n, batch = sizes["table"], sizes["batch"]
    rpf = pipeline.rows_per_file(n)
    corpus = gen.Corpus(args.seed)
    events = corpus.bootstrap_events(n)
    ev_dir = p.write_events("boot", events)
    setup_s = time.perf_counter() - t_setup
    with p.cycle_span(cycle="cold") as s:
        t0 = time.perf_counter()
        cold = pipeline.cold_load(p, ev_dir, n)
        cold_s = time.perf_counter() - t0
    pipeline.check_index(p, corpus, cold)
    pipeline.check_sitemap(p, corpus, cold["sitemap"])
    pipeline.check_outbox(p, corpus, cold["outbox"])
    ticks, measured, k, wm = [], 0.0, 0, p.watermark()
    while k == 0 or measured < args.seconds:
        t = pipeline.tick(p, corpus, k, batch, rpf, wm)
        wm = pipeline.check_tick(p, corpus, t)
        ticks.append(t)
        measured += t["wall"]
        k += 1
    touched = sum(len(t["truth"][x]) for t in ticks
                  for x in ("new", "updated", "resent", "deleted"))
    resent = sum(len(t["truth"]["resent"]) for t in ticks)
    first = ticks[0]
    rei = cold["reindex"]
    return {
        "e2e": {"setup_s": setup_s, "first_cycle_s": cold_s,
                "cycle_s_p50": statistics.median(t["wall"] for t in ticks)},
        "bootstrap": {"wall": cold_s, **cold["times"],
                      "rec_per_s": n / cold_s},
        "cycles": [{"wall": t["wall"], "events": t["events"], **t["times"],
                    "solr": t["out"]["reindex"].get("solr"),
                    "probes": {"ingest": t["out"]["ingest"].get("probe"),
                               **t["out"]["reindex"].get("probes", {})}}
                   for t in ticks],
        "stored_bytes_per_record":
            p.stored_bytes() / corpus.counts()["records"],
        "inputs": {"table_records": n, "events": len(events), "batch": batch,
                   "resend_share": resent / max(1, touched),
                   "touched_file_share": _touched_file_share(ticks),
                   "event_bytes": p.events_written, **corpus.counts()},
        # the traced metrics cover the cold cycle and the first tick
        "counts": {
            "events": len(events) + first["events"],
            "records_out": (cold["ingest"].get("records", 0)
                            + first["out"]["ingest"].get("records", 0)),
            "solr": rei.get("solr", 0) + first["out"]["reindex"].get("solr", 0),
            "metrics": (rei.get("metrics", 0)
                        + first["out"]["reindex"].get("metrics", 0)),
            "links": (rei.get("links", 0)
                      + first["out"]["reindex"].get("links", 0)),
            "touched": n + sum(len(first["truth"][x]) for x in
                               ("new", "updated", "resent", "deleted")),
            "outbox_requests": cold["outbox"].get("requests", 0),
            "live_files": _live_files(p)},
        "cycle_spans": ([s["id"], first["span"]] if s else []),
    }


def _headline_queries(p, args, sizes, t_setup) -> dict:
    twin = os.path.join(p.workdir, "twin")
    headline.make_twin(ROOT, twin)
    from adsmasterpipeline_spark.session import get_spark
    spark = get_spark()
    setup_s = time.perf_counter() - t_setup
    passes, oracle, measured = [], None, 0.0
    while len(passes) < 2 or measured < args.seconds:
        with p.cycle_span(cycle=len(passes)) as s:
            t0 = time.perf_counter()
            qs = _query_pass(p, spark, twin, args.seed + len(passes))
            wall = time.perf_counter() - t0
        if oracle is None:
            oracle = headline.oracle_rows(twin)
        for q in qs:
            p.check(q["rows"] == oracle[q["query"]],
                    f"pass {len(passes)}: {q['query']}: {q['rows']} rows "
                    f"!= oracle {oracle[q['query']]}")
        passes.append({"wall": wall, "queries": qs,
                       "span": s["id"] if s else None})
        if len(passes) > 1:
            measured += wall
    warm = [x["wall"] for x in passes[1:]]
    return {
        "e2e": {"setup_s": setup_s, "first_cycle_s": passes[0]["wall"],
                "cycle_s_p50": statistics.median(warm)},
        "cycles": passes,
        "inputs": {"twin_scale": headline.TWIN_SCALE,
                   "queries": list(headline.QUERIES)},
        "counts": {},
        "cycle_spans": [x["span"] for x in passes[:2]
                        if x["span"] is not None],
    }


def _query_pass(p, spark, twin: str, seed: int) -> list[dict]:
    """One headline pass; a query that raises is a failed operation and
    ends the run."""
    p.attempted += len(headline.QUERIES)
    try:
        return headline.run_pass(spark, twin, seed, p.tracer)
    except Exception as e:  # any error of a query fails the run
        p.failed += 1
        raise pipeline.CheckFailed(f"headline pass raised {e!r}") from e


def _touched_file_share(ticks) -> float:
    touched = live = 0
    for t in ticks:
        probe = t["out"]["ingest"].get("probe") or {}
        touched += probe.get("touched_files") or 0
        live += probe.get("live_files") or 0
    return touched / live if live else 0.0


def _live_files(p) -> int:
    from adsmasterpipeline_spark.session import get_spark
    from adsmasterpipeline_spark.sinks.txnlake import txn_table
    return len(txn_table(get_spark(), os.path.join(p.data, "records"))
               .live_files())


if __name__ == "__main__":
    sys.exit(main())
