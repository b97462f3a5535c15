"""Spans around the package's public functions, tagged Spark jobs, and
the reduction of the Spark event log to per-layer metrics.

Everything here works from outside the package: ``Tracer.install``
replaces module attributes and ``TxnTable``/``KeyValueStore`` methods
with wrappers, and the event log is switched on through Spark
configuration given before the session starts. Spans are kept in
memory and written when the run ends.

A span is ``{id, parent, name, layer, t0, t1, attrs}``. While a span is
the innermost open one, Spark jobs launched by the driver carry its id
as their job group, so each job, stage and task in the event log maps
back to one span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time

PKG = "adsmasterpipeline_spark"

# (module, attribute or Class.method, span name, layer). Lazy functions
# measure construction only; their execution lands in the eager span
# that consumes them.
WRAPPED = (
    ("storage", "merge_updates", "storage.merge_updates", "storage"),
    ("storage", "KeyValueStore.get", "storage.kv", "storage"),
    ("storage", "KeyValueStore.put", "storage.kv", "storage"),
    ("transform", "transform_records", "transform.transform_records",
     "transform"),
    ("transform", "solr_docs_json", "transform.solr_docs_json", "transform"),
    ("dispatch", "reindex", "dispatch.reindex", "dispatch"),
    ("dispatch", "mark_processed", "dispatch.mark_processed", "dispatch"),
    ("sinks.txnlake", "TxnTable.merge", "txnlake.merge", "txnlake"),
    ("sinks.txnlake", "TxnTable.overwrite", "txnlake.overwrite", "txnlake"),
    ("sinks.txnlake", "TxnTable.read_for_range", "txnlake.read_for_range",
     "txnlake"),
    ("sinks.txnlake", "TxnTable.read_for_keys", "txnlake.read_for_keys",
     "txnlake"),
    ("sinks.txnlake", "TxnTable._snapshot", "txnlake.snapshot", "txnlake"),
    ("sinks.txnlake", "TxnTable._commit", "txnlake.commit", "txnlake"),
    ("sinks.writers", "write_solr_dir", "writers.write_solr_dir", "writers"),
    ("sinks.writers", "write_links_dir", "writers.write_links_dir",
     "writers"),
    ("sinks.writers", "write_text_files", "writers.write_text_files",
     "writers"),
    ("sinks.writers", "metrics_upsert", "writers.metrics_upsert", "writers"),
    ("sitemap", "bootstrap", "sitemap.selection", "sitemap"),
    ("sitemap", "render_sitemap_files", "sitemap.render", "sitemap"),
    ("sitemap", "render_sitemap_index", "sitemap.render", "sitemap"),
    ("sitemap", "write_sitemap_files", "sitemap.write_sitemap_files",
     "sitemap"),
    ("outbox", "aff_augment_requests", "outbox.requests", "outbox"),
    ("outbox", "boost_requests", "outbox.requests", "outbox"),
    ("outbox", "classify_requests", "outbox.requests", "outbox"),
    ("outbox", "write_outbox", "outbox.write_outbox", "outbox"),
    ("sources.testdata", "load_table", "sources.load_table", "sources"),
    ("operators.skew", "spread_small_scan", "operators.spread_small_scan",
     "operators"),
    ("operators.pinning", "pin_if_bounded", "operators.pin_if_bounded",
     "operators"),
)

CLI_STEPS = ("ingest", "reindex", "sitemap_bootstrap", "outbox")


def spark_conf(event_dir: str) -> dict[str, str]:
    """Configuration that turns on an uncompressed event log."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span['id']}", span["name"])

    def open(self, name: str, layer: str, **attrs) -> dict:
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "t0": time.time(), "t1": None, "attrs": attrs}
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.time()
        if not self.stack or self.stack[-1] is not span:
            raise RuntimeError(f"span {span['name']} closed out of order")
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self.open(name, layer, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                _probe(name, args, out, s["attrs"])
                return out
        return wrapper

    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` and rebind each module
        attribute that refers to it, so names bound by
        ``from .x import f`` are traced too."""
        import importlib
        for mod_name, attr, name, layer in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._restore.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, name, layer))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, layer)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith(PKG)
                        and getattr(m, attr, None) is orig):
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def _probe(name: str, args, out, attrs: dict) -> None:
    """Driver-side counts read after a traced call; none launches a
    Spark job."""
    if name in ("txnlake.merge", "txnlake.read_for_range"):
        t = args[0]
        p = (t.last_merge_probe if name == "txnlake.merge"
             else t.last_read_probe) or {}
        attrs["live_files"] = p.get("live_files")
        for k in ("candidate_files", "touched_files"):
            if k in p:
                attrs[k] = len(p[k])
    elif name == "txnlake.commit":
        t, adds = args[0], args[2]
        size = 0
        for a in adds:
            rel = a if isinstance(a, str) else a["path"]
            path = rel if os.path.isabs(rel) else os.path.join(t.path, rel)
            if os.path.isfile(path):
                size += os.path.getsize(path)
        attrs["bytes"] = size
    elif name == "sitemap.write_sitemap_files":
        attrs["files"] = out


# -- event log reduction ----------------------------------------------------

def _read_event_log(event_dir: str) -> list[dict]:
    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, "
                           f"found {len(files)}")
    with open(files[0], encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def reduce_event_log(event_dir: str) -> dict:
    """Jobs, stages and tasks of the event log, keyed for span lookup:
    ``jobs[job_id] = {group, t0, t1, stages}``, ``stages[stage_id] =
    {job, tasks: [task metric dicts]}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _read_event_log(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "t0": ev["Submission Time"] / 1000.0, "t1": None,
                         "stages": ev.get("Stage IDs", [])}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "dur": (info.get("Finish Time", 0)
                        - info.get("Launch Time", 0)) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": (m.get("Disk Bytes Spilled", 0)
                          + m.get("Memory Bytes Spilled", 0)),
                "input_bytes": (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0),
                "input_records": (m.get("Input Metrics") or {}).get(
                    "Records Read", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
            })
    stages = {sid: {"job": stage_job.get(sid), "tasks": ts}
              for sid, ts in tasks.items()}
    return {"jobs": jobs, "stages": stages}


class SpanIndex:
    """Span tree queries over one run's spans and reduced event log."""

    def __init__(self, spans: list[dict], log: dict):
        self.spans = spans
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs = log["jobs"]
        self.stages = log["stages"]
        self.own_jobs: dict[int, list[int]] = {}
        for jid, j in self.jobs.items():
            g = j["group"] or ""
            if g.startswith("span-"):
                self.own_jobs.setdefault(int(g[5:]), []).append(jid)

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s, [])
        return out

    def jobs_under(self, sid: int) -> list[int]:
        return [j for s in self.subtree(sid) for j in self.own_jobs.get(s, [])]

    def tasks_under(self, sid: int) -> list[tuple[int, dict]]:
        jobs = set(self.jobs_under(sid))
        return [(st, t) for st, v in self.stages.items() if v["job"] in jobs
                for t in v["tasks"]]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = sum(self.spans[c]["t1"] - self.spans[c]["t0"]
                   for c in self.children.get(sid, []))
        return (s["t1"] - s["t0"]) - kids


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def check_nesting(spans: list[dict]) -> list[str]:
    """Every span closed and inside its parent's interval."""
    errs = []
    for s in spans:
        if s["t1"] is None:
            errs.append(f"span {s['id']} {s['name']} never closed")
            continue
        p = s["parent"]
        if p is not None:
            ps = spans[p]
            if not (ps["t0"] <= s["t0"] and s["t1"] <= ps["t1"]):
                errs.append(f"span {s['id']} {s['name']} outside parent "
                            f"{ps['name']}")
    return errs


def layer_metrics(spans: list[dict], log: dict, cycles: list[int],
                  counts: dict) -> dict[str, float]:
    """Per-layer metrics, each a total over the given cycles unless it
    is a ratio: the run's cold cycle and its first warm one. ``cycles``
    are the ids of their root spans; ``counts`` carries the
    benchmark-side counts (CLI outputs and ground truth) summed over
    those cycles. A layer the workload does not run reports 0."""
    idx = SpanIndex(spans, log)
    in_cycles = [s for c in cycles for s in idx.subtree(c)]
    by_name: dict[str, list[dict]] = {}
    for sid in in_cycles:
        by_name.setdefault(spans[sid]["name"], []).append(spans[sid])

    def total_s(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in by_name.get(name, []))

    def jobs_of(name: str) -> int:
        return sum(len(idx.jobs_under(s["id"])) for s in by_name.get(name, []))

    def attr_sum(name: str, key: str) -> float:
        return sum(s["attrs"].get(key) or 0 for s in by_name.get(name, []))

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    out: dict[str, float] = {}
    for step in CLI_STEPS:
        out[f"cli.{step}_s"] = total_s(f"cli.{step}")
        out[f"cli.{step}_jobs"] = jobs_of(f"cli.{step}")

    # Spark engine, over every job launched inside a timed cycle
    jobs = sorted({j for c in cycles for j in idx.jobs_under(c)})
    jobset = set(jobs)
    stage_ids = [s for s, v in idx.stages.items() if v["job"] in jobset]
    task_list = [t for s in stage_ids for t in idx.stages[s]["tasks"]]

    def tsum(k: str) -> float:
        return sum(t[k] for t in task_list)
    worst = 1.0
    for s in stage_ids:
        durs = [t["dur"] for t in idx.stages[s]["tasks"]]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            worst = max(worst, max(durs) / statistics.median(durs))
    busy = _union_length([(idx.jobs[j]["t0"], idx.jobs[j]["t1"])
                          for j in jobs if idx.jobs[j]["t1"] is not None])
    wall = sum(spans[c]["t1"] - spans[c]["t0"] for c in cycles)
    out.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": len(task_list),
        "spark.task_run_s": tsum("run_s"),
        "spark.task_cpu_s": tsum("cpu_s"),
        "spark.gc_s": tsum("gc_s"),
        "spark.shuffle_read_bytes": tsum("shuffle_read"),
        "spark.shuffle_write_bytes": tsum("shuffle_write"),
        "spark.spill_bytes": tsum("spill"),
        "spark.input_bytes": tsum("input_bytes"),
        "spark.output_bytes": tsum("output_bytes"),
        "spark.driver_only_s": max(0.0, wall - busy),
        "spark.max_over_median_task": worst,
    })

    out.update({
        "storage.merge_updates_build_s": total_s("storage.merge_updates"),
        "storage.events_in": counts.get("events", 0),
        "storage.records_out": counts.get("records_out", 0),
        "storage.kv_s": total_s("storage.kv"),
        "storage.kv_calls": len(by_name.get("storage.kv", [])),
        "transform.transform_records_build_s":
            total_s("transform.transform_records"),
        "transform.solr_docs_json_build_s":
            total_s("transform.solr_docs_json"),
        "dispatch.reindex_build_s": total_s("dispatch.reindex"),
        "dispatch.mark_processed_build_s":
            total_s("dispatch.mark_processed"),
        "dispatch.rows_scanned": sum(
            t["input_records"] for s in by_name.get("cli.reindex", [])
            for _, t in idx.tasks_under(s["id"])),
        "dispatch.solr_rows": counts.get("solr", 0),
        "dispatch.metrics_rows": counts.get("metrics", 0),
        "dispatch.links_rows": counts.get("links", 0),
        "dispatch.emit_ratio": ratio(counts.get("solr", 0),
                                     counts.get("touched", 0)),
    })

    for op in ("merge", "overwrite", "read_for_range", "read_for_keys",
               "snapshot"):
        out[f"txnlake.{op}_s"] = total_s(f"txnlake.{op}")
    out["txnlake.merge_calls"] = len(by_name.get("txnlake.merge", []))
    out["txnlake.snapshot_calls"] = len(by_name.get("txnlake.snapshot", []))
    out["txnlake.merge_candidate_over_live"] = ratio(
        attr_sum("txnlake.merge", "candidate_files"),
        attr_sum("txnlake.merge", "live_files"))
    out["txnlake.merge_touched_files"] = attr_sum(
        "txnlake.merge", "touched_files")
    out["txnlake.read_for_range_candidate_over_live"] = ratio(
        attr_sum("txnlake.read_for_range", "candidate_files"),
        attr_sum("txnlake.read_for_range", "live_files"))
    out["txnlake.live_files"] = counts.get("live_files", 0)
    out["txnlake.bytes_written"] = attr_sum("txnlake.commit", "bytes")
    out["txnlake.commits"] = len(by_name.get("txnlake.commit", []))

    def out_bytes(name: str) -> float:
        return sum(t["output_bytes"] for s in by_name.get(name, [])
                   for _, t in idx.tasks_under(s["id"]))
    for w in ("write_solr_dir", "write_links_dir", "write_text_files"):
        out[f"writers.{w}_s"] = total_s(f"writers.{w}")
    out["writers.metrics_upsert_build_s"] = total_s("writers.metrics_upsert")
    out["writers.bytes_written"] = (out_bytes("writers.write_solr_dir")
                                    + out_bytes("writers.write_links_dir"))

    out["sitemap.selection_build_s"] = total_s("sitemap.selection")
    out["sitemap.render_build_s"] = total_s("sitemap.render")
    out["sitemap.write_sitemap_files_s"] = \
        total_s("sitemap.write_sitemap_files")
    out["sitemap.files_written"] = attr_sum(
        "sitemap.write_sitemap_files", "files")

    out["outbox.requests_build_s"] = total_s("outbox.requests")
    out["outbox.write_outbox_s"] = total_s("outbox.write_outbox")
    out["outbox.requests"] = counts.get("outbox_requests", 0)

    # build/exec split of the headline passes and the source and
    # operator calls inside them
    build, run = {}, {}
    for s in by_name.get("queries.build", []):
        key = (s["parent"], s["attrs"]["query"])
        build[key] = s["t1"] - s["t0"]
    for s in by_name.get("queries.exec", []):
        key = (s["parent"], s["attrs"]["query"])
        run[key] = s["t1"] - s["t0"]
    out.update({
        "sources.load_table_s": total_s("sources.load_table"),
        "sources.load_table_calls": len(by_name.get("sources.load_table",
                                                    [])),
        "sources.load_table_jobs": jobs_of("sources.load_table"),
        "queries.build_s": total_s("queries.build"),
        "queries.exec_s": total_s("queries.exec"),
        "queries.build_jobs": jobs_of("queries.build"),
        "queries.exec_jobs": jobs_of("queries.exec"),
        "queries.build_heavier": sum(build[q] > run.get(q, 0.0)
                                     for q in build),
        "operators.spread_small_scan_s":
            total_s("operators.spread_small_scan"),
        "operators.spread_small_scan_jobs":
            jobs_of("operators.spread_small_scan"),
        "operators.pin_if_bounded_s": total_s("operators.pin_if_bounded"),
        "operators.pin_if_bounded_jobs": jobs_of("operators.pin_if_bounded"),
    })
    return out


def step_cover(spans: list[dict], cycle: int) -> float:
    """Share of a cycle's wall time covered by its step spans: the
    ``cli.*`` steps of a pipeline cycle, the ``queries.*`` spans of a
    query pass."""
    s = spans[cycle]
    kids = [c for c in spans if c["parent"] == cycle
            and c["name"].split(".")[0] in ("cli", "queries")]
    return sum(c["t1"] - c["t0"] for c in kids) / (s["t1"] - s["t0"])
