"""Hive-partitioned parquet layout: directory-level partition pruning
and dynamic partition overwrite.

At 100 TB the events/records lake is laid out by a coarse partition
column (ingest day, source) so that

- an incremental query touching one day scans ONE directory, not the
  table: the filter becomes a ``PartitionFilters`` entry on the scan
  (pruned at planning time from directory names — zero data I/O for
  excluded partitions), and
- an incremental publish rewrites ONLY the partitions present in the
  new batch: ``partitionOverwriteMode=dynamic`` replaces touched
  day-directories at commit time and leaves every other partition's
  files untouched (commit-protocol atomicity only — crash-safe
  multi-file commits need a table format with a log, the txn
  records table in sinks/txnlake.py) — the pattern behind the
  reference's nightly incremental
  runs (full-table rewrite per batch is the classic lake anti-pattern
  at scale).

Reference analogue: the ``updated >= since`` incremental scan
(`run.py:148-160`) — partition pruning is what makes that scan O(batch)
instead of O(table). Both contracts are asserted on real plans/files in
tests/test_partitioned.py, not just claimed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str, *cols: str,
                      mode: str = "overwrite") -> None:
    """Write ``df`` as parquet partitioned by ``cols`` (Hive layout:
    one ``col=value/`` directory level per partition column)."""
    df.write.partitionBy(*cols).mode(mode).parquet(path)


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 *cols: str) -> None:
    """Overwrite ONLY the partitions present in ``df``.

    Uses the per-write ``partitionOverwriteMode=dynamic`` option (a
    DataFrameWriter option takes precedence over the session conf
    since Spark 3.0): partitions absent from ``df`` keep their
    existing files byte-for-byte; the touched ones are replaced
    wholesale. Scoping the mode to the single write (instead of
    mutating the session conf around it) keeps concurrent jobs on the
    same SparkSession safe — a concurrent plain ``mode("overwrite")``
    during a set/restore window would silently have become dynamic
    (keeping partitions it should drop), or vice versa. This is the
    idempotent re-publish primitive for incremental batches —
    replaying a batch rewrites the same directories to the same
    content.
    """
    (df.write.partitionBy(*cols).mode("overwrite")
       .option("partitionOverwriteMode", "dynamic").parquet(path))


def read_partition_pruned(spark: SparkSession, path: str,
                          **eq_filters) -> DataFrame:
    """Read a partitioned table with equality filters on partition
    columns. Stated declaratively — Catalyst turns each filter into a
    ``PartitionFilters`` entry so excluded directories are never
    listed into the scan."""
    df = spark.read.parquet(path)
    for col, val in eq_filters.items():
        df = df.where(df[col] == val)
    return df


def compact_partition(spark: SparkSession, path: str, part_col: str,
                      part_val: str, target_files: int = 1) -> int:
    """Rewrite ONE partition's many small files into ``target_files``
    — the small-files maintenance primitive (streaming/incremental
    ingest leaves a file per micro-batch; scans pay per-file open
    cost and the driver pays per-file listing).

    Reads the target partition's directory DIRECTLY (a path-level
    prune — Spark never lists the other partitions at all) and
    restores the partition column as a string literal, so ``day=01``
    keeps its exact directory name instead of round-tripping through
    type inference to int 1 and republishing under ``day=1``. The
    direct path also avoids mutating the session-global
    ``partitionColumnTypeInference`` conf, which would race with
    concurrent reads on the same SparkSession.
    Then coalesces — a narrow, shuffle-free fan-in — pins the
    result with ``localCheckpoint`` (one scan serves both the returned
    count and the write, AND the write no longer reads the very files
    it replaces), then republishes through a dynamic-partition
    overwrite so every other partition's files stay byte-untouched.

    Durability caveat (stated, not hand-waved): parquet-on-filesystem
    dynamic overwrite is atomic only at the commit-protocol level — a
    crash mid-commit can leave the partition partial. The checkpoint
    removes the read-own-input hazard within a healthy run; CRASH
    safety across runs needs a table format with a log (the txn
    records table in sinks/txnlake.py).
    """
    from pyspark.sql import functions as F
    part = (spark.read.parquet(f"{path}/{part_col}={part_val}")
            .withColumn(part_col, F.lit(str(part_val))))
    rows = part.coalesce(target_files).localCheckpoint()
    n = rows.count()
    overwrite_partitions_dynamic(rows, path, part_col)
    return n
