"""Streaming reindex on the TxnTable state store at stress volume
(VERDICT r5 task 5): bootstrap a large key-clustered records table,
then drive many SMALL micro-batches — the worst case for the round-5
merge probe, which scanned every live file per merge — and record,
per epoch, the merge wall time plus how many files the probe was
allowed to open (live vs candidate vs touched).

Two runs over identical inputs:

- ``pruned``  — per-file key min/max stats prune candidates
  driver-side (the round-6 behavior);
- ``full_scan`` — ``_prune_candidates`` monkeypatched to return every
  live file (the round-5 behavior), same inputs, same cadence.

Done-criterion from the verdict: the committed artifact shows
per-batch merge time bounded by TOUCHED files, not table size —
i.e. candidate counts stay flat and small in the pruned run while the
full-scan run's probe grows with the table.

Usage: python tools/stream_stress.py [--json OUT.json]
         [--rows N] [--epochs K] [--batch B]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _write_events(events_dir: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(events_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _bootstrap_rows(n: int) -> list[dict]:
    return [{"bibcode": f"B{i:07d}", "type": "bib_data",
             "status": "active",
             "payload": json.dumps({
                 "bibcode": f"B{i:07d}",
                 "title": [f"paper {i}"],
                 "author": [f"Author, {i % 997}"],
                 "abstract": f"abstract text for record {i} " * 4,
             }),
             "event_ts": "2024-01-01T00:00:00.000Z"}
            for i in range(n)]


def _epoch_rows(epoch: int, total: int, batch: int) -> list[dict]:
    # narrow CONTIGUOUS key window per epoch, deterministic position
    start = (epoch * 7919) % max(1, total - batch)
    return [{"bibcode": f"B{start + i:07d}", "type": "metrics",
             "status": "active",
             "payload": json.dumps({"citations": [f"C{epoch}-{i}"]}),
             "event_ts": f"2024-02-{(epoch % 27) + 1:02d}T00:00:00.000Z"}
            for i in range(batch)]


def _insert_rows(epoch: int, total: int, batch: int) -> list[dict]:
    """Brand-new keys every epoch — the table GROWS; the worst case
    for the round-6 insert path, which ran a full-table max(id)
    aggregate on every epoch containing an unseen key."""
    base = total + epoch * batch
    return [{"bibcode": f"B{base + i:07d}", "type": "bib_data",
             "status": "active",
             "payload": json.dumps({"bibcode": f"B{base + i:07d}",
                                    "title": [f"new {base + i}"]}),
             "event_ts": f"2024-02-{(epoch % 27) + 1:02d}"
                         "T00:00:00.000Z"}
            for i in range(batch)]


def run_mode(spark, workdir: str, mode: str, rows: int, epochs: int,
             batch: int, rows_per_file: int,
             insert_heavy: bool = False) -> dict:
    from adsmasterpipeline_spark.sinks.txnlake import TxnTable
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    events_dir = os.path.join(workdir, mode, "events")
    os.makedirs(events_dir)
    ing = StreamingIngest(
        spark, events_dir,
        os.path.join(workdir, mode, "records"),
        os.path.join(workdir, mode, "ckpt"), fmt="txn",
        txn_opts={"cluster_writes": True,
                  "rows_per_file": rows_per_file})

    timings: list[dict] = []
    full_reads = [0]
    orig_merge = TxnTable.merge
    orig_prune = TxnTable._prune_candidates
    orig_read = TxnTable.read
    orig_maxstat = TxnTable.max_stat

    def timed_merge(self, *a, **kw):
        t0 = time.time()
        v = orig_merge(self, *a, **kw)
        p = self.last_merge_probe or {}
        timings.append({
            "version": v, "merge_secs": round(time.time() - t0, 2),
            "live_files": p.get("live_files"),
            "candidate_files": len(p.get("candidate_files", [])),
            "touched_files": len(p.get("touched_files", [])),
        })
        return v

    def counted_read(self, *a, **kw):
        full_reads[0] += 1
        return orig_read(self, *a, **kw)

    TxnTable.merge = timed_merge
    TxnTable.read = counted_read
    if mode == "full_scan":
        TxnTable._prune_candidates = \
            lambda self, live, affected: list(live)
    if mode == "max_scan":
        # the round-6 insert path: stat fold disabled, so every
        # insert epoch falls back to the full-table max(id) aggregate
        TxnTable.max_stat = lambda self, col: None
    try:
        _write_events(events_dir, "boot.json", _bootstrap_rows(rows))
        t0 = time.time()
        ing.run_available_now()
        boot_secs = round(time.time() - t0, 2)
        epoch_wall = []
        for e in range(epochs):
            gen = _insert_rows if insert_heavy else _epoch_rows
            _write_events(events_dir, f"e{e:03d}.json",
                          gen(e, rows, batch))
            reads_before = full_reads[0]
            t0 = time.time()
            ing.run_available_now()
            epoch_wall.append((round(time.time() - t0, 2),
                               full_reads[0] - reads_before))
        for i, (w, r) in enumerate(epoch_wall):
            if i < len(timings):
                timings[i]["epoch_wall_secs"] = w
                timings[i]["full_table_reads"] = r
    finally:
        TxnTable.merge = orig_merge
        TxnTable._prune_candidates = orig_prune
        TxnTable.read = orig_read
        TxnTable.max_stat = orig_maxstat
    t = ing.table
    return {"bootstrap_secs": boot_secs,
            "final_version": t.version(),
            "final_live_files": len(t.live_files()),
            "final_rows": t.read().count(),
            "epochs": timings}


def main() -> int:
    from adsmasterpipeline_spark.session import get_spark

    argv = sys.argv[1:]
    json_out = None
    insert_heavy = False
    opts = {"rows": 262_144, "epochs": 10, "batch": 512}
    while argv:
        if argv[0] == "--json":
            json_out = argv[1]; argv = argv[2:]
        elif argv[0] == "--insert-heavy":
            insert_heavy = True; argv = argv[1:]
        elif argv[0] in ("--rows", "--epochs", "--batch"):
            opts[argv[0][2:]] = int(argv[1]); argv = argv[2:]
        else:
            raise SystemExit(f"unknown arg {argv[0]}")
    rows_per_file = max(4096, opts["rows"] // 32)

    spark = get_spark("stream_stress")
    workdir = tempfile.mkdtemp(prefix="stream_stress_")
    try:
        out = {"config": {**opts, "rows_per_file": rows_per_file,
                          "insert_heavy": insert_heavy},
               "modes": {}}
        # insert-heavy compares the round-7 stat-fold id numbering
        # against the round-6 full-max-scan path on a GROWING table
        # (done-criterion VERDICT r6 #1: pruned epoch wall stays flat
        # in table size, full_table_reads stays 0); the default mode
        # compares stats pruning against the round-5 full probe scan.
        modes = (("pruned", "max_scan") if insert_heavy
                 else ("pruned", "full_scan"))
        for mode in modes:
            r = run_mode(spark, workdir, mode, opts["rows"],
                         opts["epochs"], opts["batch"], rows_per_file,
                         insert_heavy=insert_heavy)
            out["modes"][mode] = r
            es = r["epochs"]       # bootstrap is an overwrite, not here
            tot = sum(e["merge_secs"] for e in es)
            cand = [e["candidate_files"] for e in es]
            reads = [e.get("full_table_reads") for e in es]
            print(f"{mode}: {len(es)} incremental merges, "
                  f"total {tot:.1f}s, candidates/epoch {cand}, "
                  f"full-table reads/epoch {reads}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
