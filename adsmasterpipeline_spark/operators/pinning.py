"""Size-adaptive guard for corpus-scale localCheckpoint pins.

``localCheckpoint`` blocks live in executor memory+disk, are never
explicitly unpersisted inside a query, and are NOT fault-tolerant (a
lost executor loses its blocks and the severed lineage cannot recompute
them). That is a fine trade for intermediates that are *bounded* (a
vocabulary, a signature table, a pruned edge list) — but several query
paths pin intermediates that scale WITH the corpus (per-doc shingle
arrays, gram-position tables, tokenized corpora). At 100 TB such a pin
needs ~1x corpus of executor disk and dies with any lost executor.

``pin_if_bounded`` mirrors the driver-cap pattern used by the BPE merge
loop and the union-find cutover: below a byte budget the pin happens
exactly as before (every test/bench scale); above it the frame is
returned UNCHANGED, so the plan recomputes the subtree per consumer —
the safe distributed default, with lake materialization of the
intermediate being the real production answer (out of scope here: the
bench/oracle contract forbids cross-run persistence).

The budget check is driver-side file arithmetic on the input parquet
(zero Spark jobs, deterministic): the pinned intermediate of every
guarded site is O(input bytes) with a small constant, so input size is
an honest proxy. Both branches are semantically identical — the pin
only affects materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# Total within-run executor spill budget for ONE corpus-derived pin.
# Default 8 GiB: far above every bench/test tier (the sf1 stress
# documents table is ~6 MB) and far below any real cluster's aggregate
# executor disk — the guard only flips where the pin would genuinely
# hurt. Overridable per deployment.
PIN_BUDGET_BYTES = int(os.environ.get("SPARK_GRAFT_PIN_BUDGET_BYTES",
                                      str(8 << 30)))


def input_bytes(sf_dir: str, *tables: str) -> int:
    """On-disk bytes of the named input parquet tables (file or dir)."""
    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def pin_if_bounded(df: DataFrame, sf_dir: str, *tables: str,
                   factor: float = 8.0) -> DataFrame:
    """``df.localCheckpoint()`` iff ``factor x`` the input tables' bytes
    fits ``PIN_BUDGET_BYTES`` (``factor`` covers decompression + row
    overhead of the derived intermediate); above the budget ``df`` is
    returned unchanged (lazy recompute per consumer)."""
    if input_bytes(sf_dir, *tables) * factor <= PIN_BUDGET_BYTES:
        return df.localCheckpoint()
    return df


def pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``(df.localCheckpoint(), row count)`` for the price of one job.

    ``localCheckpoint()`` runs a job to materialize the pin and then a
    ``count()`` on the pinned frame runs two more (a partial-count map
    stage and the final reduce). Here the lazy pin is materialized by
    a plain row count of its JVM RDD: one job that both fills the
    pinned blocks and counts them. Shuffle stages upstream of the pin
    run when it is planned, as for an eager pin."""
    pinned = df.localCheckpoint(eager=False)
    return pinned, pinned._jdf.rdd().count()
