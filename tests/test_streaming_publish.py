"""Round-7 streaming ingestion hardening (VERDICT r6 tasks 1 + 7):

- txn mode: an INSERT epoch must not scan the table for max(id) —
  id numbering folds from the per-file stats (O(batch) epochs even on
  insert-heavy streams);
- parquet mode: the snapshot publish is crash-atomic — a failure at
  any point leaves the previous COMPLETE snapshot readable (the old
  rmtree-then-rename had a window that left no table at all), and the
  replayed epoch then lands exactly once.

Reference analogues: Postgres autoincrement PK
(/root/reference/adsmp/models.py:49); the core-swap publish
(/root/reference/scripts/reindex.py:146-156).
"""

from __future__ import annotations

import json
import os

import pytest

from adsmasterpipeline_spark.sinks.lake import open_records


def _event(bibcode, i):
    return {"bibcode": bibcode, "type": "bib_data", "status": "active",
            "payload": json.dumps({"bibcode": bibcode,
                                   "title": [f"t{i}"]}),
            "event_ts": f"2024-01-01T00:00:{i % 60:02d}.000Z"}


def _write_events(events_dir, name, rows):
    with open(os.path.join(events_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _make_ingest(spark, tmp_path, fmt):
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest
    base = tmp_path / fmt
    events_dir = base / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(
        spark, str(events_dir), str(base / "records"),
        str(base / "ckpt"), fmt=fmt,
        txn_opts={"cluster_writes": True, "rows_per_file": 4}
        if fmt == "txn" else None)
    return ing, str(events_dir)


@pytest.mark.slow
def test_txn_insert_epoch_never_scans_table(spark, tmp_path):
    """VERDICT r6 #1 done-criterion (unit side): with id stats
    present, an epoch that inserts brand-new keys completes with
    TxnTable.read POISONED — the only way to number the inserts is
    the driver-side stat fold. Ids continue from the true table max
    with no collisions."""
    from adsmasterpipeline_spark.sinks.txnlake import TxnTable

    ing, events_dir = _make_ingest(spark, tmp_path, "txn")
    _write_events(events_dir, "boot.json",
                  [_event(f"B{i:03d}", i) for i in range(8)])
    ing.run_available_now()
    t = open_records(spark, ing.records_path)
    ids0 = {r["bibcode"]: r["id"] for r in
            t.read().select("bibcode", "id").collect()}
    assert set(ids0.values()) == set(range(1, 9))

    _write_events(events_dir, "ins.json",
                  [_event(f"N{i}", i) for i in range(3)]
                  + [_event("B001", 99)])          # mixed insert+update
    orig_read = TxnTable.read
    TxnTable.read = lambda self, *a, **k: (_ for _ in ()).throw(
        AssertionError("insert epoch scanned the table for max(id)"))
    try:
        ing.run_available_now()
    finally:
        TxnTable.read = orig_read

    rows = {r["bibcode"]: r["id"] for r in
            t.read().select("bibcode", "id").collect()}
    assert len(rows) == 11
    assert len(set(rows.values())) == 11, "id collision"
    assert {rows[f"N{i}"] for i in range(3)} == {9, 10, 11}
    assert rows["B001"] == ids0["B001"]            # update kept its id


@pytest.mark.slow
def test_parquet_publish_survives_crash_and_replays(spark, tmp_path):
    """VERDICT r6 task 7 done-criterion: kill the publish between the
    snapshot write and the pointer swap — the table must still read
    as the PREVIOUS complete snapshot; the replayed epoch then
    applies exactly once."""
    from adsmasterpipeline_spark.sinks import lake
    from pyspark.sql.streaming import StreamingQueryException

    ing, events_dir = _make_ingest(spark, tmp_path, "parquet")
    _write_events(events_dir, "b0.json",
                  [_event(f"B{i}", i) for i in range(4)])
    ing.run_available_now()
    assert os.path.islink(ing.records_path), \
        "publish must go through the symlink swap"
    before = {r["bibcode"] for r in
              spark.read.parquet(ing.records_path).collect()}
    assert before == {f"B{i}" for i in range(4)}

    # epoch 2 crashes AFTER the staging write, BEFORE the swap
    _write_events(events_dir, "b1.json", [_event("C9", 9)])
    orig = lake.publish_snapshot_dir

    def crash(path, staging):
        assert os.path.isdir(staging)     # snapshot fully written
        raise RuntimeError("injected crash before publish")

    lake.publish_snapshot_dir = crash
    try:
        with pytest.raises((StreamingQueryException, Exception)):
            ing.run_available_now()
    finally:
        lake.publish_snapshot_dir = orig

    spark.catalog.refreshByPath(ing.records_path)
    after_crash = {r["bibcode"] for r in
                   spark.read.parquet(ing.records_path).collect()}
    assert after_crash == before, "crash mid-publish lost the table"

    # restart: the unfinished epoch replays and lands exactly once
    ing.run_available_now()
    spark.catalog.refreshByPath(ing.records_path)
    final = spark.read.parquet(ing.records_path)
    assert {r["bibcode"] for r in final.collect()} == before | {"C9"}
    assert final.count() == 5
    # superseded snapshot dirs were swept (bounded disk)
    d = os.path.dirname(ing.records_path)
    base = os.path.basename(ing.records_path)
    cur = os.path.realpath(ing.records_path)
    stale = [n for n in os.listdir(d)
             if n.startswith(base + ".v")
             and os.path.join(d, n) != cur
             and os.path.realpath(os.path.join(d, n)) != cur]
    assert stale == []


@pytest.mark.slow
def test_txn_stream_auto_cleanup_bounds_log_listing(spark, tmp_path):
    """Long-running stream with auto-compact + auto-cleanup: the
    _txn/ entry-file count stays bounded by the checkpoint tail
    instead of growing one file per epoch, while state, replay
    detection and reads stay correct."""
    from adsmasterpipeline_spark.streaming.ingest import StreamingIngest

    base = tmp_path / "acl"
    events_dir = base / "events"
    events_dir.mkdir(parents=True)
    ing = StreamingIngest(
        spark, str(events_dir), str(base / "records"),
        str(base / "ckpt"), fmt="txn",
        txn_opts={"cluster_writes": True, "rows_per_file": 64,
                  "checkpoint_every": 3, "auto_compact_every": 3,
                  "auto_cleanup_log": True})
    for e in range(10):
        _write_events(str(events_dir), f"e{e}.json",
                      [_event(f"B{e:02d}{i}", i) for i in range(4)])
        ing.run_available_now()
    t = open_records(spark, ing.records_path)
    assert t.read().count() == 40
    log = os.path.join(str(base / "records"), "_txn")
    entries = [n for n in os.listdir(log)
               if n.endswith(".json") and not n.startswith("checkpoint")]
    # 10 epochs + compacts committed ~13 versions; the cleaned log
    # keeps only the post-checkpoint tail
    assert len(entries) <= 6, sorted(entries)
    assert t.version() >= 10


@pytest.mark.slow
def test_txn_stream_constraint_epoch_fails_clean_then_retries(
        spark, tmp_path):
    """VERDICT r9 task 5: streaming ingest routes through
    TxnTable.merge, so a CHECK-constraint violation fails the epoch
    MID-STREAM. The failure must be clean — the table version, live
    rows and on-disk data files are untouched (the staged files of
    the refused write are deleted, not orphaned) — and a corrected
    retry of the SAME epoch (same offsets, same app txn id) commits
    exactly once."""
    ing, events_dir = _make_ingest(spark, tmp_path, "txn")
    _write_events(events_dir, "boot.json",
                  [_event(f"G{i}", i) for i in range(4)])
    ing.run_available_now()                                      # v0
    t = open_records(spark, ing.records_path)
    assert t.set_constraint("no_bad", "bibcode NOT LIKE 'BAD%'") == 1

    def data_files():
        out = []
        for root, _d, files in os.walk(
                os.path.join(ing.records_path, "data")):
            out += sorted(os.path.join(root, n) for n in files
                          if n.endswith(".parquet"))
        return sorted(out)

    committed = data_files()
    bad_path = os.path.join(events_dir, "next.json")
    _write_events(events_dir, "next.json",
                  [_event("BAD1", 9), _event("G9", 9)])
    with pytest.raises(Exception, match="no_bad"):
        ing.run_available_now()

    # clean failure: no commit landed, no partial/orphan files live
    assert t.version() == 1
    assert data_files() == committed
    assert {r["bibcode"] for r in t.read().collect()} == \
        {f"G{i}" for i in range(4)}

    # operational fix: correct the event file IN PLACE — the replayed
    # epoch re-reads the same source path with the same epoch id, so
    # the retry carries the SAME app txn id and commits exactly once
    _write_events(events_dir, "next.json",
                  [_event("OK1", 9), _event("G9", 9)])
    ing.run_available_now()
    assert t.version() == 2
    rows = {r["bibcode"] for r in t.read().collect()}
    assert rows == {f"G{i}" for i in range(4)} | {"OK1", "G9"}

    # nothing replays on a further tick (txn-id idempotence intact)
    ing.run_available_now()
    assert t.version() == 2
    assert os.path.exists(bad_path)
