"""The cron_tick workload's two kinds of cycle, both driven through
``cli.main`` in one process:

- the cold cycle (bootstrap): ``ingest --fmt txn`` -> ``reindex`` ->
  ``sitemap --action bootstrap`` -> ``outbox --kind boost`` (full
  rescan) into an empty data directory;
- a warm cycle (tick): ``ingest`` of one batch into that table, then
  ``reindex`` on the KV watermark (no ``--since``).

Each CLI step starts only after the previous one returned (closed
loop, one client). Output checks run between cycles, outside the
timed region.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import math
import os
import time

import gen

SITES = 2              # sitemap.SITES: ads and scix
PER_SITEMAP = 50_000   # schemas.MAX_RECORDS_PER_SITEMAP
SAMPLED_DOCS = 25


class CheckFailed(Exception):
    pass


class Pipeline:
    """One run's data directory, CLI driver and operation tally."""

    def __init__(self, workdir: str, tracer=None):
        self.workdir = workdir
        self.data = os.path.join(workdir, "data")
        self.sitemap_out = os.path.join(self.data, "sitemap_files")
        self.outbox_out = os.path.join(self.data, "outbox", "boost")
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.events_written = 0

    # -- CLI steps ---------------------------------------------------------
    def cli(self, step: str, argv: list[str]) -> tuple[dict, float]:
        """Run one CLI step in-process; returns its JSON output and wall
        time. A raised error or non-zero exit counts as a failed
        operation and ends the run."""
        from adsmasterpipeline_spark.cli import main
        self.attempted += 1
        buf = io.StringIO()
        ctx = (self.tracer.span(f"cli.{step}", "cli") if self.tracer
               else contextlib.nullcontext())
        t0 = time.perf_counter()
        try:
            with ctx, contextlib.redirect_stdout(buf):
                rc = main(argv)
        except Exception as e:  # any error of the step fails the run
            self.failed += 1
            raise CheckFailed(f"{step} raised {e!r}") from e
        wall = time.perf_counter() - t0
        if rc != 0:
            self.failed += 1
            raise CheckFailed(f"{step} exited {rc}: {buf.getvalue()[-500:]}")
        return json.loads(buf.getvalue().strip().splitlines()[-1]), wall

    def cycle_span(self, **attrs):
        """The span of one timed cycle; a no-op when not tracing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span("cycle", "bench", **attrs)

    def check(self, ok: bool, what: str) -> None:
        """An output check; each failure counts as one failed
        operation, at most as many as steps were attempted."""
        if not ok:
            self.problems.append(what)
            self.failed = min(self.attempted, self.failed + 1)

    def ingest(self, events_dir: str, rows_per_file: int):
        return self.cli("ingest", [
            "ingest", "--events", events_dir, "--data", self.data,
            "--fmt", "txn", "--rows-per-file", str(rows_per_file)])

    def reindex(self, rows_per_file: int):
        return self.cli("reindex", [
            "reindex", "--data", self.data, "--fmt", "txn",
            "--rows-per-file", str(rows_per_file)])

    def sitemap(self, action: str):
        return self.cli(f"sitemap_{action}", [
            "sitemap", "--data", self.data, "--action", action,
            "--fmt", "txn", "--out", self.sitemap_out])

    def outbox(self):
        return self.cli("outbox", [
            "outbox", "--data", self.data, "--kind", "boost",
            "--fmt", "txn", "--out", self.outbox_out])

    def write_events(self, name: str, events: list[dict]) -> str:
        path = os.path.join(self.workdir, name)
        self.events_written += gen.write_events(path, events)
        return path

    # -- outputs -------------------------------------------------------------
    def solr_docs(self) -> dict[str, dict]:
        """The last reindex's solr batch, read as plain JSON lines."""
        docs = {}
        for fp in glob.glob(os.path.join(self.data, "sinks", "solr",
                                         "part-*")):
            with open(fp, encoding="utf-8") as f:
                for line in f:
                    row = json.loads(line)
                    docs[row["bibcode"]] = json.loads(row["doc"])
        return docs

    def stored_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.data):
            for name in files:
                total += os.path.getsize(os.path.join(root, name))
        return total

    def watermark(self) -> str | None:
        """The reindex watermark, read from the KV table's parquet
        without Spark."""
        import pyarrow.parquet as pq
        path = os.path.join(self.data, "kv")
        if not os.path.isdir(path):
            return None
        kv = pq.read_table(path).to_pydict()
        return dict(zip(kv["key"], kv["value"])).get("last.reindex.normal")


def rows_per_file(n: int) -> int:
    """Target rows per clustered file: a dozen files for a large table,
    at least 128 rows per file."""
    return max(128, n // 12)


# -- cold cycle ----------------------------------------------------------------

def cold_load(p: Pipeline, events_dir: str, n: int) -> dict:
    """ingest -> reindex -> sitemap bootstrap -> outbox into an empty
    data directory; returns step outputs and times."""
    rpf = rows_per_file(n)
    ing, t_ing = p.ingest(events_dir, rpf)
    rei, t_rei = p.reindex(rpf)
    out = {"ingest": ing, "reindex": rei,
           "times": {"ingest": t_ing, "reindex": t_rei}}
    out["sitemap"], out["times"]["sitemap"] = p.sitemap("bootstrap")
    out["outbox"], out["times"]["outbox"] = p.outbox()
    return out


def check_index(p: Pipeline, corpus: gen.Corpus, out: dict) -> None:
    """Counts of a cold ingest + reindex, and sampled solr docs against
    the payloads they came from."""
    c = corpus.counts()
    p.check(out["ingest"].get("records") == c["records"],
            f"ingest records {out['ingest'].get('records')} != {c['records']}")
    rei = out["reindex"]
    p.check(rei.get("solr") == c["ready"],
            f"solr rows {rei.get('solr')} != ready {c['ready']}")
    p.check(rei.get("metrics") == c["ready_with_metrics"],
            f"metrics rows {rei.get('metrics')} != "
            f"{c['ready_with_metrics']}")
    # every generated record carries bib links_data, the links fallback
    p.check(rei.get("links") == c["ready"],
            f"links rows {rei.get('links')} != ready {c['ready']}")
    docs = p.solr_docs()
    p.check(len(docs) == c["ready"],
            f"solr docs on disk {len(docs)} != ready {c['ready']}")
    for rec in corpus.sample(SAMPLED_DOCS):
        p.check(_doc_matches(docs.get(rec.bibcode), rec),
                f"doc {rec.bibcode} differs from its payloads")


def check_sitemap(p: Pipeline, corpus: gen.Corpus, sm: dict) -> None:
    included = corpus.counts()["included"]
    p.check(sm.get("rows") == included,
            f"sitemap rows {sm.get('rows')} != included {included}")
    files = SITES * math.ceil(included / PER_SITEMAP)
    p.check(sm.get("files") == files,
            f"sitemap files {sm.get('files')} != {files}")


def check_outbox(p: Pipeline, corpus: gen.Corpus, ob: dict) -> None:
    """Every generated record carries bib_data, so a full boost rescan
    emits one request per record."""
    records = corpus.counts()["records"]
    p.check(ob.get("requests") == records,
            f"outbox requests {ob.get('requests')} != records {records}")
    lines = 0
    for fp in glob.glob(os.path.join(p.outbox_out, "part-*")):
        with open(fp, encoding="utf-8") as f:
            lines += sum(1 for _ in f)
    p.check(lines == records,
            f"outbox holds {lines} requests on disk != records {records}")


def _doc_matches(doc: dict | None, rec: gen.Record) -> bool:
    if doc is None:
        return False
    bib, nb = rec.payloads["bib_data"], rec.payloads["nonbib_data"]
    want = {"title": bib["title"], "author": bib["author"],
            "abstract": bib["abstract"], "year": bib["year"],
            "citation_count": nb["citation_count"],
            "reference": nb["reference"]}
    if "metrics" in rec.payloads:
        want["citation"] = rec.payloads["metrics"]["citations"]
    return all(doc.get(k) == v for k, v in want.items())


# -- cron tick -----------------------------------------------------------------

def tick(p: Pipeline, corpus: gen.Corpus, k: int, batch: int, rpf: int,
         wm_before: str | None) -> dict:
    """One timed tick, ``ingest`` then ``reindex`` on the KV watermark;
    returns its wall time, step outputs and ground truth."""
    events, truth = corpus.tick_events(batch, k)
    ev_dir = p.write_events(f"tick-{k:04d}", events)
    with p.cycle_span(tick=k) as s:
        t0 = time.perf_counter()
        ing, t_ing = p.ingest(ev_dir, rpf)
        rei, t_rei = p.reindex(rpf)
        wall = time.perf_counter() - t0
    return {"tick": k, "wall": wall, "truth": truth, "events": len(events),
            "times": {"ingest": t_ing, "reindex": t_rei},
            "span": s["id"] if s else None,
            "out": {"ingest": ing, "reindex": rei}, "wm_before": wm_before}


def check_tick(p: Pipeline, corpus: gen.Corpus, t: dict) -> str | None:
    """Checks one tick; returns the watermark it left."""
    truth, out, k = t["truth"], t["out"], t["tick"]
    # tombstoned keys leave the table: the merged batch holds the rest
    live_touched = len(truth["new"]) + len(truth["updated"]) \
        + len(truth["resent"])
    p.check(out["ingest"].get("records") == live_touched,
            f"tick {k}: ingest records {out['ingest'].get('records')}"
            f" != {live_touched}")
    p.check(out["reindex"].get("solr") == truth["solr_rows"],
            f"tick {k}: solr rows {out['reindex'].get('solr')} != "
            f"{truth['solr_rows']}")
    docs = p.solr_docs()
    expect = {b for b in truth["new"] + truth["updated"]
              if corpus.records[b].ready}
    p.check(set(docs) == expect,
            f"tick {k}: solr batch keys differ from the changed ready "
            f"records")
    p.check(not set(docs) & set(truth["resent"]),
            f"tick {k}: a resend reached the solr batch")
    wm = p.watermark()
    p.check(wm is not None and (t["wm_before"] is None or wm > t["wm_before"]),
            f"tick {k}: KV watermark did not advance")
    return wm
