"""The records store: the one module that knows the records table's
storage format.

The reference's records table is Postgres with per-row transactional
upserts (``update_storage``, adsmp/app.py:45-77, :120-195). The Spark
engine computes merges set-at-a-time (``storage.merge_updates``) and
reads and writes the table through this module only, so the CLI and
the streaming classes run one upsert path whatever the format.

A table states its own format on disk; ``fmt`` only names the format
of a table that does not exist yet:

- ``"txn"``: the in-repo log-structured table (sinks/txnlake.py):
  atomic log commits, a file-granular MERGE that rewrites only the
  files holding matched keys, idempotent app txn ids, a change feed
  and time travel. The scale setting.
- ``"parquet"`` (default): a copy-on-write snapshot. Every write
  stages the full new table and atomically repoints a symlink. Kept
  as the reference the txn path is compared against.

Both stores answer the same calls: ``live_files``, ``read``,
``read_for_keys``, ``read_for_range``, ``max_stat``,
``merge(changed, deleted_keys)`` and ``overwrite``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .txnlake import TxnTable, txn_table

FORMATS = ("parquet", "txn")


class RecordsFormatError(ValueError):
    """A caller asked for something the table's format cannot give:
    a format that contradicts the table on disk, or a change feed
    from a parquet snapshot."""


def open_records(spark, path: str, fmt: str | None = None, **txn_opts):
    """The table at ``path`` in the format it was created with: a
    ``TxnTable`` when ``<path>/_txn`` exists, the parquet snapshot
    store when ``<path>`` is a snapshot, and for a missing table one
    in format ``fmt`` (default parquet). ``txn_opts`` configure a txn
    table and are ignored for a snapshot. Raises RecordsFormatError
    when ``fmt`` contradicts the table on disk."""
    on_disk = ("txn" if os.path.isdir(os.path.join(path, "_txn"))
               else "parquet" if os.path.exists(path) else None)
    if fmt is not None and fmt not in FORMATS:
        raise RecordsFormatError(f"unknown records format {fmt!r}")
    if on_disk is not None and fmt is not None and fmt != on_disk:
        raise RecordsFormatError(
            f"the table at {path} is {on_disk}; it cannot be used as "
            f"{fmt} (the format is chosen when the table is created)")
    if (on_disk or fmt) == "txn":
        return txn_table(spark, path, **txn_opts)
    return SnapshotTable(spark, path)


def require_change_feed(table) -> None:
    """Refuse a feed consumer on a parquet snapshot, which keeps no
    change feed (only a txn table does)."""
    if not isinstance(table, TxnTable):
        raise RecordsFormatError(
            f"the table at {table.path} is parquet, which keeps no "
            f"change feed; --incremental needs a txn table")


def read_records(table) -> DataFrame:
    """Every live row; the empty records frame for a table not yet
    created or emptied by deletes."""
    from ..storage import empty_records
    if table.live_files():
        return table.read()
    return empty_records(table.spark)


def merge_events(table, events: DataFrame, now=None):
    """Fold an event batch into the rows of its keys — the load half
    of the upsert: read only the rows of the batch's keys
    (``read_for_keys``), continue insert ids from the table-wide max
    (a driver-side stat fold, a column scan only when a file lacks
    the stat), then build the ``storage.merge_plan``.

    Everything downstream reads two pins: the events (counted in the
    same job, which picks the insert numbering) and the merge plan.
    So the event source is read once and the fold executes once,
    however many times the merge, the changelog write and the
    caller's counts consume the results.

    Returns ``(merged, changelog, deleted)``: ``merged`` holds the
    post-merge rows of the batch's keys; ``changelog`` the batch's
    changelog rows, stamped with the same ``now`` as ``merged``;
    ``deleted`` the batch keys that the events removed, or None when
    the table has no rows yet (publish then writes the whole table).
    All three read the pinned plan."""
    from ..operators.pinning import pin_counted
    from ..storage import (SCALABLE_INSERT_THRESHOLD, changelog_rows,
                           empty_records, merge_plan, merged_records)
    events, n_events = pin_counted(events)
    exists = bool(table.live_files())
    if exists:
        records = table.read_for_keys(events.select(table.key))
        max_id = table.max_stat("id")
        if max_id is None:
            max_id = table.read().agg(F.max("id")).collect()[0][0] or 0
    else:
        records, max_id = empty_records(table.spark), 0
    scalable = n_events > SCALABLE_INSERT_THRESHOLD
    plan = merge_plan(records, events, now=now, max_id=max_id,
                      scalable=scalable).localCheckpoint()
    merged = merged_records(plan, max_id, scalable)
    if scalable:
        merged = merged.localCheckpoint()
    deleted = (plan.where(F.col("_is_del")).select(table.key)
               if exists else None)
    return merged, changelog_rows(plan), deleted


def publish(table, merged: DataFrame, deleted: DataFrame | None,
            app_txn_id: str | None = None, merge_on_read: bool = False):
    """The write half of the upsert: MERGE the rows and tombstones
    into an existing table, or write a new one. Returns the txn
    table's version (unchanged when ``app_txn_id`` was already
    applied), None for a snapshot."""
    if deleted is None:
        return table.overwrite(merged, app_txn_id=app_txn_id)
    return table.merge(merged, deleted_keys=deleted,
                       app_txn_id=app_txn_id, merge_on_read=merge_on_read)


def apply_events(table, events: DataFrame, now=None,
                 app_txn_id: str | None = None,
                 merge_on_read: bool = False):
    """Upsert an event batch: ``merge_events`` then ``publish``. On a
    txn table this is O(touched files + batch), not O(table).
    Returns ``(merged, changelog, version)``."""
    merged, changelog, deleted = merge_events(table, events, now=now)
    version = publish(table, merged, deleted, app_txn_id=app_txn_id,
                      merge_on_read=merge_on_read)
    return merged, changelog, version


def write_metrics_sink(records_table, metrics: DataFrame, path: str,
                       rows_per_file: int):
    """Write one reindex batch's metrics rows to the metrics sink, in
    the records table's format. Next to a txn records table the sink
    is a key-clustered txn table each batch MERGEs into (defaults
    applied) — only files whose key range can hold a batch bibcode
    are opened, the executed analogue of the reference's INSERT .. ON
    CONFLICT (adsmp/app.py:45-77). Next to a parquet snapshot each
    batch replaces the sink directory. Returns the txn merge probe,
    else None."""
    if not isinstance(records_table, TxnTable):
        metrics.write.mode("overwrite").parquet(path)
        return None
    from ..operators.pinning import pin_counted
    from .writers import metrics_upsert
    incoming, n = pin_counted(metrics_upsert(None, metrics))
    mt = txn_table(records_table.spark, path, key="bibcode",
                   cluster_writes=True, rows_per_file=rows_per_file)
    if mt.live_files():
        mt.merge(incoming)
        return mt.last_merge_probe
    if n:
        mt.overwrite(incoming)
    return None


class SnapshotTable:
    """A parquet records table published as copy-on-write snapshots:
    every write stages the full new table and atomically swaps it in
    (``publish_snapshot_dir``). Correct at any scale but rewrite-
    amplified; it keeps no versions, statistics or change feed, so the
    txn-only arguments ``app_txn_id`` and ``merge_on_read`` are
    accepted and ignored."""

    key = "bibcode"
    # no file-skipping probes to report
    last_read_probe = None
    last_merge_probe = None

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    def live_files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(n for n in os.listdir(self.path)
                      if n.startswith("part-"))

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read_for_keys(self, keys: DataFrame) -> DataFrame:
        # lazy: merge_events pins the merge plan built on these rows,
        # so the pre-images outlive the snapshot a merge swaps out
        return self.read().join(keys.select(self.key).distinct(),
                                self.key, "left_semi")

    def read_for_range(self, col: str, lo=None, hi=None) -> DataFrame:
        df = self.read()
        if lo is not None:
            df = df.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(col) <= F.lit(hi))
        return df

    def max_stat(self, col: str):
        return None          # no per-file statistics: callers scan

    def merge(self, changed: DataFrame,
              deleted_keys: DataFrame | None = None,
              app_txn_id: str | None = None,
              merge_on_read: bool = False) -> None:
        """Upsert ``changed`` (full post-merge rows) and drop
        ``deleted_keys`` by rewriting the whole snapshot."""
        key = self.key
        survivors = self.read().join(changed.select(key), key, "left_anti")
        if deleted_keys is not None:
            survivors = survivors.join(deleted_keys.select(key), key,
                                       "left_anti")
            changed = changed.join(deleted_keys.select(key), key,
                                   "left_anti")
        # the union must be materialized off the source snapshot
        # before the swap removes it
        self.overwrite(survivors.unionByName(changed).localCheckpoint())

    def overwrite(self, df: DataFrame,
                  app_txn_id: str | None = None) -> None:
        staging = f"{self.path}.v-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staging)
        publish_snapshot_dir(self.path, staging)
        # The swap happens behind Spark's back: a cached relation over
        # the path (cmd_reindex caches records) would keep serving the
        # pre-swap rows to every later read in this session.
        self.spark.catalog.refreshByPath(self.path)


def publish_snapshot_dir(path: str, staging: str) -> None:
    """Atomically point ``path`` at the fully-written ``staging``
    directory (the reference's core-swap publish,
    scripts/reindex.py:146-156, made crash-safe — VERDICT r6 task 7).

    The old rmtree-then-rename publish had a window where a crash
    between the two left NO table at all. Here ``path`` is a SYMLINK
    to the current snapshot directory: publishing writes a temp
    symlink and ``os.rename``s it over ``path`` — one atomic step, so
    a crash at any point leaves ``path`` resolving to either the old
    or the new complete snapshot, never to nothing. The superseded
    snapshot dir and any orphans from crashed attempts are swept
    AFTER the swap (a crash mid-sweep leaves garbage, not data loss).

    One-time migration: a legacy REAL directory at ``path`` can't be
    atomically replaced by a symlink (rename onto a non-empty dir
    fails), so it is moved aside first — a microsecond window that
    exists once per table lifetime; a crash inside it leaves the old
    snapshot recoverable at ``path.legacy-*``.

    Single-writer contract (the streaming checkpoint / one CLI run
    serializes publishes); concurrent READERS are safe throughout.
    """
    path = os.path.abspath(path)
    staging = os.path.abspath(staging)
    prev = os.path.realpath(path) if os.path.islink(path) else None
    tmp = f"{path}.ptr-{uuid.uuid4().hex[:8]}"
    os.symlink(staging, tmp)
    if os.path.lexists(path) and not os.path.islink(path):
        legacy = f"{path}.legacy-{uuid.uuid4().hex[:8]}"
        os.rename(path, legacy)
        os.rename(tmp, path)
        shutil.rmtree(legacy, ignore_errors=True)
    else:
        os.rename(tmp, path)       # atomically replaces the symlink
        if prev and prev != staging:
            shutil.rmtree(prev, ignore_errors=True)
    # sweep orphan snapshot dirs / temp pointers from crashed attempts.
    # Snapshot dirs match ONLY the exact generated shape
    # ``base.v-<8 hex>`` (an older streaming writer also left
    # ``base.v<epoch digits>-<8 hex>``) — a bare ``base + ".v"``
    # prefix test also swept UNRELATED siblings like
    # ``records.v2_backup`` or ``records.vocab`` on every publish
    # (ADVICE r7: silent deletion of a neighbor dataset).
    cur = os.path.realpath(path)
    d, base = os.path.dirname(path), os.path.basename(path)
    snap_re = re.compile(re.escape(base) + r"\.v\d*-[0-9a-f]{8}$")
    for name in os.listdir(d):
        full = os.path.join(d, name)
        if full == path or os.path.realpath(full) == cur:
            continue
        if (snap_re.fullmatch(name) and os.path.isdir(full)
                and not os.path.islink(full)):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith((base + ".ptr-", base + ".legacy-")):
            if os.path.islink(full):
                os.unlink(full)
            else:
                shutil.rmtree(full, ignore_errors=True)
