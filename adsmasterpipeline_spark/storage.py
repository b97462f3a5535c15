"""Keyed upsert / merge core — the ingestion heart (SURVEY.md §2.2).

The reference applies one protobuf message at a time inside a Postgres
transaction (`update_storage`, `adsmp/app.py:120-195`), relying on the
serial Celery queue for ordering. The Spark engine is set-at-a-time:

1. ``fold_events`` — last-writer-wins per (bibcode, type) (M2) in one
   grouping pass: one row per bibcode with the newest payload +
   timestamp per type;
2. ``merge_updates`` — full-outer MERGE of the folded batch into the
   records table: per payload column ``coalesce(new, old)`` (M1),
   delete tombstones (M3, `delete_by_bibcode` adsmp/app.py:237-277),
   lazy scix_id generation on first bib_data (M7, adsmp/app.py:197-202),
   and a changelog DataFrame of pre-images (J6, adsmp/app.py:175).
   Both outputs derive from one ``merge_plan`` with one ``now``.

On a real cluster the records table is Delta/Iceberg and
``merge_updates`` is a ``MERGE INTO``; this repo has no lake-format
jars, so the same logic runs as join + coalesce + full overwrite
(copy-on-write). The join shuffles on ``bibcode`` only; the update
batch side is typically small → AQE picks a broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .schemas import PAYLOAD_TYPES, SCIX_ID_GENERATION_FIELDS

_DELETED = "deleted"


def fold_events(events: DataFrame) -> DataFrame:
    """Collapse an event batch to one row per bibcode: newest payload +
    event_ts per payload type (M2), plus a `is_delete` flag if the
    newest event overall for the bibcode is a delete, plus
    ``last_delete_ts`` (newest delete in the batch, null if none).

    Serial-replay equivalence (adsmp/app.py:120-195 + delete_by_bibcode
    :237-277): a delete wipes everything applied before it, so a
    per-type winner survives only if it is STRICTLY newer than the last
    delete — [update q@t1, delete@t2, update p@t3] must fold to {p},
    not {p, q}. Timestamp ties go to the delete (deterministic stand-in
    for unknowable queue order).

    One grouping pass, one shuffle on bibcode: per payload type the
    newest event's payload (null when that event is a delete), the
    newest delete's time, and whether the newest event overall is a
    delete (``max`` over ``(event_ts, is_delete)`` structs, so a delete
    wins a time tie).
    """
    is_del = F.col("status") == _DELETED
    agg = [
        F.max(F.when(is_del, F.col("event_ts"))).alias("last_delete_ts"),
        F.max(F.struct(F.col("event_ts").alias("ts"),
                       is_del.alias("d"))).getField("d").alias("is_delete"),
    ]
    agg += [
        F.max_by(F.when(~is_del, F.struct("payload", "event_ts")),
                 F.when(F.col("type") == p, F.col("event_ts"))).alias(f"_{p}")
        for p in PAYLOAD_TYPES
    ]
    folded = events.groupBy("bibcode").agg(*agg)
    cols = [F.col("bibcode"), F.col("last_delete_ts")]
    for p in PAYLOAD_TYPES:
        survives = (F.col("last_delete_ts").isNull()
                    | (F.col(f"_{p}.event_ts") > F.col("last_delete_ts")))
        cols.append(F.when(survives, F.col(f"_{p}.payload")).alias(f"new_{p}"))
        cols.append(F.when(survives, F.col(f"_{p}.event_ts"))
                    .alias(f"new_{p}_updated"))
    return folded.select(*cols, "is_delete")


def scix_id_col(bib_payload_json):
    """Deterministic scix id from configured bib_data fields
    (M7/F17, config.py:146-153): scix:XXXX-XXXX-XXXX derived from
    sha2 of the concatenated generation fields. JVM-side (sha2 +
    formatting), no UDF."""
    parts = [F.coalesce(F.get_json_object(bib_payload_json, f"$.{f}"), F.lit(""))
             for f in SCIX_ID_GENERATION_FIELDS]
    h = F.upper(F.sha2(F.concat_ws("\x1f", *parts), 256))
    return F.concat(
        F.lit("scix:"), F.substring(h, 1, 4), F.lit("-"),
        F.substring(h, 5, 4), F.lit("-"), F.substring(h, 9, 4))


# event batches above this many events number their inserts through
# operators.assignment.assign_sequential instead of one window
SCALABLE_INSERT_THRESHOLD = 100_000

# working columns of a merge plan (see merge_plan)
_PLAN_COLS = ("_is_del", "_is_new", "_log")


def merge_updates(records: DataFrame, events: DataFrame, now=None,
                  scalable_insert_threshold: int = SCALABLE_INSERT_THRESHOLD,
                  max_id: int | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """MERGE an event batch into the records table.

    Returns ``(new_records, changelog)``. ``new_records`` replaces the
    table; ``changelog`` is appended to the audit table (old value per
    changed payload column, M1; 'deleted' entries for tombstones, M3).
    Both derive from one ``merge_plan`` and carry the same ``now``
    (default: the driver's clock when the plan is built, so the
    changelog's ``created`` equals the record's ``updated`` however
    far apart the two are written). ``sinks.lake.merge_events`` pins
    that plan once instead, so the fold also executes once.

    Delete-then-newer-update batches follow the reference's serial
    replay (delete_by_bibcode wipes the row; the later update creates a
    fresh record containing only its own payload): record-side payload
    columns not strictly newer than the batch's last delete are nulled
    before coalescing, and the scix_id regenerates when the delete
    wiped bib_data.

    Insert-id assignment: small batches use one window over the insert
    partition; batches above ``scalable_insert_threshold`` route
    through ``operators.assignment.assign_sequential`` (bit-identical
    numbering, zero single-partition exchanges) so a bootstrap ingest
    of tens of millions of rows never funnels through one task.
    """
    # deterministic id assignment for inserts: continue from max id in
    # bibcode order (ids drive sitemap ordering, adsmp/models.py:47-50).
    # Callers merging against a SUBSET of the table (the txn streaming
    # path reads only candidate files) must pass the table-wide max_id
    # — the subset's max would collide fresh ids with existing rows.
    if max_id is None:
        max_id = (records.agg(F.max("id")).collect()[0][0] or 0) \
            if records.head(1) else 0
    scalable = events.count() > scalable_insert_threshold
    plan = merge_plan(records, events, now=now, max_id=max_id,
                      scalable=scalable)
    return merged_records(plan, max_id, scalable), changelog_rows(plan)


def merge_plan(records: DataFrame, events: DataFrame, now=None,
               max_id: int = 0, scalable: bool = False) -> DataFrame:
    """The one join both outputs of a merge derive from: the folded
    batch full-outer-joined to ``records``, one row per key holding
    its post-merge columns plus the working columns ``_is_del`` (the
    batch deletes the key), ``_is_new`` (the key is not in
    ``records``) and ``_log`` (the changelog rows the merge writes for
    the key, each stamped ``now``). ``merged_records`` and
    ``changelog_rows`` read it; pin it first and the fold runs once.

    Insert ids continue from ``max_id`` in bibcode order; with
    ``scalable`` they are left null for ``merged_records`` to number
    without a single-partition window."""
    if now is None:
        import datetime as dt
        now = F.lit(dt.datetime.now(dt.timezone.utc))
    upd = fold_events(events)
    joined = records.alias("r").join(upd.alias("u"), "bibcode", "full_outer")

    is_new = F.col("r.id").isNull()
    is_del = F.coalesce(F.col("u.is_delete"), F.lit(False))
    del_ts = F.col("u.last_delete_ts")
    # number only the insert batch (contiguous ids), not the whole table
    w_new = W.partitionBy(F.col("r.id").isNull()).orderBy("bibcode")

    any_update = F.greatest(*[
        F.col(f"u.new_{p}_updated").isNotNull() for p in PAYLOAD_TYPES])

    def _old(col_name: str, ts_name: str):
        """Record-side column, wiped when a batch delete supersedes it."""
        survives = del_ts.isNull() | (F.col(f"r.{ts_name}") > del_ts)
        return F.when(survives, F.col(f"r.{col_name}"))

    cols = [
        F.col("bibcode"),
        (F.lit(None).cast("long") if scalable
         else F.when(is_new, F.row_number().over(w_new) + F.lit(max_id))
         .otherwise(F.col("r.id"))).alias("id"),
    ]
    # lazy scix_id when bib_data first arrives (adsmp/app.py:197-202);
    # regenerated when a batch delete wiped the old bib_data (the
    # reference's fresh record would derive it anew)
    old_bib = _old("bib_data", "bib_data_updated")
    new_bib = F.coalesce(F.col("u.new_bib_data"), old_bib)
    old_scix = F.when(del_ts.isNull()
                      | (F.col("r.bib_data_updated") > del_ts),
                      F.col("r.scix_id"))
    cols.append(
        F.coalesce(old_scix,
                   F.when(new_bib.isNotNull(), scix_id_col(new_bib)))
        .alias("scix_id"))
    for p in PAYLOAD_TYPES:
        cols.append(F.coalesce(F.col(f"u.new_{p}"),
                               _old(p, f"{p}_updated")).alias(p))
    for p in PAYLOAD_TYPES:
        cols.append(F.coalesce(F.col(f"u.new_{p}_updated"),
                               _old(f"{p}_updated", f"{p}_updated"))
                    .alias(f"{p}_updated"))
    cols += [
        F.coalesce(F.col("r.created"), now).alias("created"),
        F.when(any_update, now).otherwise(F.col("r.updated")).alias("updated"),
        F.col("r.processed").alias("processed"),
        F.col("r.solr_processed").alias("solr_processed"),
        F.col("r.metrics_processed").alias("metrics_processed"),
        F.col("r.datalinks_processed").alias("datalinks_processed"),
        F.col("r.solr_checksum").alias("solr_checksum"),
        F.col("r.metrics_checksum").alias("metrics_checksum"),
        F.col("r.datalinks_checksum").alias("datalinks_checksum"),
        F.col("r.status").alias("status"),
    ]

    # changelog: one row per payload column actually overwritten, with
    # the pre-image (adsmp/app.py:175); plus delete tombstone entries
    # (adsmp/app.py:250).
    def entry(typ, oldvalue):
        return F.struct(now.alias("created"), F.lit(typ).alias("type"),
                        oldvalue.alias("oldvalue"))
    log_entries = [
        # delete tombstone: old bib_data as the pre-image (adsmp/app.py:250).
        # Fires for ANY delete in the batch — including one superseded by
        # a newer update (the reference logs the wipe before recreating).
        F.when(del_ts.isNotNull() | is_del,
               entry("deleted", F.col("r.bib_data"))),
    ]
    for p in PAYLOAD_TYPES:
        log_entries.append(
            F.when(F.col(f"u.new_{p}").isNotNull() & ~is_del,
                   entry(p, F.col(f"r.{p}"))))
    log = F.filter(F.array(*log_entries), lambda x: x.isNotNull())
    return joined.select(*cols, is_del.alias("_is_del"),
                         is_new.alias("_is_new"), log.alias("_log"))


def merged_records(plan: DataFrame, max_id: int = 0,
                   scalable: bool = False) -> DataFrame:
    """The post-merge rows of a ``merge_plan`` (deleted keys dropped):
    the new table rows of its keys."""
    new_records = plan.where(~F.col("_is_del"))
    if not scalable:
        return new_records.drop(*_PLAN_COLS)
    from .operators.assignment import assign_sequential
    existing = new_records.where(~F.col("_is_new")).drop(*_PLAN_COLS)
    fresh = (
        assign_sequential(new_records.where(F.col("_is_new")), "bibcode")
        .withColumn("id", F.col("seq") + F.lit(max_id + 1))
        .drop("seq", *_PLAN_COLS)
    )
    return existing.unionByName(fresh.select(*existing.columns))


def changelog_rows(plan: DataFrame) -> DataFrame:
    """The changelog rows of a ``merge_plan``."""
    return (
        plan.select(F.col("bibcode"), F.explode("_log").alias("e"))
        .select(
            F.col("e.created").alias("created"),
            F.col("bibcode").alias("key"),
            F.col("e.type").alias("type"),
            F.col("e.oldvalue").alias("oldvalue"),
            F.lit(False).alias("permanent"),
        )
    )


def update_scix_ids(records: DataFrame, flag: str,
                    bibcodes: list[str] | None = None) -> DataFrame:
    """M7 scix_id maintenance modes (``task_update_scixid``,
    adsmp/tasks.py:210-275):

    - ``update``: assign an id where one is missing and bib_data exists;
    - ``force``: regenerate from bib_data for every selected row
      (rows without bib_data go to null);
    - ``reset``: null out the id.

    ``bibcodes`` limits the affected rows (the reference's task operates
    on an explicit list); None applies to the whole table — whole-column
    expressions either way, no per-row loop.
    """
    if flag not in ("update", "force", "reset"):
        raise ValueError(f"flag must be update|force|reset, got {flag!r}")
    in_scope = (F.lit(True) if bibcodes is None
                else F.col("bibcode").isin(*bibcodes))
    gen = F.when(F.col("bib_data").isNotNull(),
                 scix_id_col(F.col("bib_data")))
    if flag == "update":
        new_id = F.when(F.col("scix_id").isNull(), gen) \
            .otherwise(F.col("scix_id"))
    elif flag == "force":
        new_id = gen
    else:  # reset
        new_id = F.lit(None).cast("string")
    return records.withColumn(
        "scix_id", F.when(in_scope, new_id).otherwise(F.col("scix_id")))


def repair_duplicates(records: DataFrame) -> DataFrame:
    """M6 — duplicate-row repair (scripts/fix_db_duplicates.py:57-73):
    for bibcodes holding several rows, take each payload column from the
    row where its ``*_updated`` is newest (per-column latest-wins), keep
    the lowest id, drop the rest. One ``max_by`` aggregation per payload
    column — a single shuffle on bibcode."""
    aggs = [F.min("id").alias("id"),
            F.min("scix_id").alias("scix_id")]
    for p in PAYLOAD_TYPES:
        aggs.append(F.max_by(p, F.coalesce(
            F.col(f"{p}_updated"),
            F.lit("0001-01-01 00:00:00").cast("timestamp"))).alias(p))
        aggs.append(F.max(f"{p}_updated").alias(f"{p}_updated"))
    for c in ("created", "updated", "processed", "solr_processed",
              "metrics_processed", "datalinks_processed"):
        aggs.append(F.max(c).alias(c))
    for c in ("solr_checksum", "metrics_checksum", "datalinks_checksum",
              "status"):
        aggs.append(F.max_by(c, F.coalesce(
            "updated", F.lit("0001-01-01 00:00:00").cast("timestamp")))
            .alias(c))
    return records.groupBy("bibcode").agg(*aggs) \
        .select(*[f.name for f in records.schema.fields])


def empty_records(spark) -> DataFrame:
    from .schemas import RECORDS_SCHEMA
    return spark.createDataFrame([], RECORDS_SCHEMA)


def delete_obsolete_records(records: DataFrame, cutoff) -> DataFrame:
    """M8: GC rows with no bib_data whose last update is older than the
    cutoff (`delete_obsolete_records`, run.py:258-293)."""
    return records.where(
        ~(F.col("bib_data").isNull() & (F.col("updated") <= F.lit(cutoff))))


class KeyValueStore:
    """Watermark / config store (`storage` table, adsmp/models.py:37-44;
    used by incremental reindex run.py:110-137): a directory holding one
    parquet file of ``key string, value string`` rows, which Spark
    (``spark.read.parquet``) and pyarrow read alike.

    Two string pairs do not need Spark: ``get`` and ``put`` read and
    write the file with pyarrow on the driver, no job launched. A put
    writes the whole table to a hidden temp file in the directory and
    renames it over ``part-00000.parquet`` — one atomic step, so a
    crash leaves either the old KV or the new one, never none. Readers
    skip hidden files, so a crashed put's temp file is never read.

    A missing directory (or one no put has published into yet) reads
    as empty. Anything else that cannot be read — a corrupt or
    truncated file, a permission error — raises: an unreadable KV
    silently read as "no watermark" would turn the next reindex into
    a full-table rescan."""

    _FILE = "part-00000.parquet"

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def _data_files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(n for n in os.listdir(self.path)
                      if n.endswith(".parquet")
                      and not n.startswith((".", "_")))

    def _load(self) -> dict[str, str]:
        import pyarrow.parquet as pq
        files = self._data_files()
        if self._FILE in files:
            # a put that crashed before sweeping the files of a KV
            # written by Spark leaves them next to the newer table
            files = [self._FILE]
        kv: dict[str, str] = {}
        for n in files:
            t = pq.read_table(os.path.join(self.path, n),
                              columns=["key", "value"])
            kv.update(zip(t.column("key").to_pylist(),
                          t.column("value").to_pylist()))
        return kv

    def get(self, key: str, default: str | None = None) -> str | None:
        return self._load().get(key, default)

    def put(self, key: str, value: str) -> None:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        kv = self._load()
        kv[key] = value
        table = pa.table({"key": pa.array(list(kv), pa.string()),
                          "value": pa.array(list(kv.values()),
                                            pa.string())})
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".put-{uuid.uuid4().hex}.parquet")
        try:
            with open(tmp, "wb") as f:
                pq.write_table(table, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.path, self._FILE))
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        # the part files of a KV written by Spark are superseded
        for n in self._data_files():
            if n != self._FILE:
                for stale in (n, f".{n}.crc"):
                    if os.path.exists(os.path.join(self.path, stale)):
                        os.unlink(os.path.join(self.path, stale))
