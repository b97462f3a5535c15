"""Sink writer tests: metrics MERGE upsert with column defaults
(adsmp/tests/test_metrics_update.py:83-166 scenarios) and directory
sinks."""

from __future__ import annotations

import json

import pytest

from adsmasterpipeline_spark.sinks.writers import (
    metrics_upsert, write_solr_dir, write_text_files,
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(b, json.dumps(m)) for b, m in rows], "bibcode string, metrics string")


def test_metrics_insert_defaults(spark):
    out = metrics_upsert(None, _batch(spark, [
        ("B1", {"citation_num": 5, "citations": ["x"]}),
        ("B2", {}),
    ])).collect()
    rows = {r["bibcode"]: r for r in out}
    assert rows["B1"]["citation_num"] == 5
    assert rows["B1"]["citations"] == ["x"]
    # server-side defaults (adsmp/models.py:203-211)
    assert rows["B2"]["author_num"] == 1
    assert rows["B2"]["citation_num"] == 0
    assert rows["B2"]["citations"] == []
    assert rows["B2"]["refereed"] is False


def test_metrics_update_mixed_batch(spark):
    existing = metrics_upsert(None, _batch(spark, [
        ("B1", {"citation_num": 5}), ("B2", {"citation_num": 1})])).cache()
    merged = metrics_upsert(existing, _batch(spark, [
        ("B2", {"citation_num": 9}),   # update
        ("B3", {"citation_num": 2}),   # insert
    ])).cache()
    rows = {r["bibcode"]: r for r in merged.collect()}
    assert set(rows) == {"B1", "B2", "B3"}
    assert rows["B1"]["citation_num"] == 5   # untouched survivor
    assert rows["B2"]["citation_num"] == 9   # incoming wins
    assert rows["B3"]["citation_num"] == 2


def test_dir_sinks(spark, tmp_path):
    docs = spark.createDataFrame([("B1", '{"a":1}')], "bibcode string, doc string")
    write_solr_dir(docs, str(tmp_path / "solr"))
    back = spark.read.json(str(tmp_path / "solr"))
    assert back.count() == 1

    write_text_files([("robots.txt", "Sitemap: x\n")], str(tmp_path / "txt"))
    assert (tmp_path / "txt" / "robots.txt").read_text() == "Sitemap: x\n"


@pytest.mark.slow
def test_lake_merge_parquet_matches_full_rewrite(spark, tmp_path):
    """The parquet snapshot store's merge applied incrementally must
    equal the full merged table merge_updates produces — proving the
    records-store interface carries the whole contract (SCALE.md's
    'sink change, not logic change')."""
    import datetime as dt
    import json as _json

    from pyspark.sql import functions as F
    from adsmasterpipeline_spark.schemas import EVENT_SCHEMA
    from adsmasterpipeline_spark.sinks.lake import open_records
    from adsmasterpipeline_spark.storage import empty_records, merge_updates

    now = F.lit(dt.datetime(2024, 1, 10)).cast("timestamp")
    ev1 = spark.createDataFrame([
        ("B1", "bib_data", "active", _json.dumps({"bibcode": "B1"}),
         dt.datetime(2024, 1, 1)),
        ("B2", "bib_data", "active", _json.dumps({"bibcode": "B2"}),
         dt.datetime(2024, 1, 1)),
    ], EVENT_SCHEMA)
    recs1, _ = merge_updates(empty_records(spark), ev1, now=now)
    path = str(tmp_path / "records")
    open_records(spark, path).overwrite(recs1.localCheckpoint())

    ev2 = spark.createDataFrame([
        ("B2", "metrics", "active", _json.dumps({"citations": ["x"]}),
         dt.datetime(2024, 1, 2)),
        ("B3", "bib_data", "active", _json.dumps({"bibcode": "B3"}),
         dt.datetime(2024, 1, 2)),
        ("B1", "bib_data", "deleted", None, dt.datetime(2024, 1, 2)),
    ], EVENT_SCHEMA)
    stored = spark.read.parquet(path)
    recs2, _ = merge_updates(stored, ev2, now=now)
    recs2 = recs2.localCheckpoint()  # survives the directory swap below
    # incremental view: touched rows + tombstones
    touched = recs2.join(ev2.select("bibcode").distinct(), "bibcode",
                         "left_semi").localCheckpoint()
    deleted = ev2.where("status = 'deleted'").select("bibcode").distinct()
    open_records(spark, path).merge(touched, deleted)

    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    want = sorted(tuple(r) for r in recs2.collect())
    assert got == want
    assert {r[0] for r in got} == {"B2", "B3"}
