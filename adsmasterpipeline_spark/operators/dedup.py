"""Deduplication operators at training-data scale.

Four tiers, in order of cost:

1. ``exact_dedup`` — hash-groupBy on a normalized fingerprint; one
   shuffle on the hash (never on the text itself).
2. ``minhash_lsh_pairs`` — shingle → k minhashes → b bands; candidate
   pairs share a band bucket, so the pair space is a band-bucket
   equi-join (shuffle on small band keys), NOT an O(n²) cross join.
3. ``simhash`` — 64-bit near-dup signature; hamming-ball candidate
   generation via nibble banding.
4. ``verify_jaccard`` — exact token-set Jaccard on candidates only.

Hash notes: the scale implementations use ``xxhash64`` (JVM intrinsic,
5-10 GB/s/core). The oracle-checked variants in ``queries/text.py``
use md5 so DuckDB agrees; semantics are identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Survivor per fingerprint group = lowest id. Returns
    (id, fingerprint, group_size, is_keeper)."""
    fp = docs.select(F.col(id_col),
                     F.xxhash64(normalize_text(F.col(text_col))).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("_keeper"), F.count(F.lit(1)).alias("group_size"))
    return (fp.join(groups, "fingerprint")
            .select(id_col, "fingerprint", "group_size",
                    (F.col(id_col) == F.col("_keeper")).alias("is_keeper")))


def shingles(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingle set, computed without explode: zip_with over
    n shifted views of the token array (one slice per OFFSET, not per
    position — the per-position ``slice`` form measured 4.5x slower at
    sf0.1 because every element allocated its own sub-array).
    ``distinct=False`` keeps per-position multiplicity (diversity
    metrics count occurrences, set-similarity joins count members)."""
    norm = normalize_text(text)
    toks = F.split(norm, " ")
    k = F.size(toks) - (n - 1)

    acc = toks
    for off in range(1, n):
        shifted = F.slice(toks, off + 1,
                          F.greatest(F.size(toks) - off, F.lit(1)))
        # zip_with pads the shorter side with nulls; a null right-hand
        # token marks positions past the last full n-gram
        acc = F.zip_with(acc, shifted,
                         lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                             F.concat_ws(" ", a, b)))
    full = F.filter(acc, lambda x: x.isNotNull())
    if distinct:
        full = F.array_distinct(full)
    # guard short docs: the whole normalized text is their single shingle
    return F.when(k >= 1, full).otherwise(F.array(norm))


def minhash_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """Array of k min-hashes over a shingle-array column. Per-row
    aggregate; no shuffle.

    Hash family: Kirsch-Mitzenmacher double hashing — ONE xxhash64 per
    shingle, split into two 32-bit halves (b1, b2); permutation i is
    ``b1 + i*b2``. One JVM hash evaluation per shingle instead of k
    seeded xxhash calls, no change to the banding math; the 32-bit
    value space is irrelevant for a MIN statistic, and sums stay far
    below 2^63 so ANSI overflow checking never fires.

    ONE ``aggregate`` pass computes all k mins: the naive form
    (k separate ``array_min(transform(...))``) inlines the shingle
    subtree k times and the generated code blows up compilation
    (measured ~60s of Janino time at k=16 once the expression is also
    referenced from several join branches)."""
    init = F.array(*[F.lit((1 << 63) - 1).cast("long")
                     for _ in range(num_hashes)])

    def mins(acc, s):
        h = F.xxhash64(s)
        b1 = h.bitwiseAND(F.lit(0xFFFFFFFF))
        b2 = F.shiftrightunsigned(h, 32)
        return F.zip_with(
            acc,
            F.array(*[b1 + F.lit(i) * b2 for i in range(num_hashes)]),
            lambda a, b: F.least(a, b))

    return F.aggregate(sh, init, mins)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      jaccard_threshold: float = 0.7,
                      materialize: str = "cache") -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    shingle Jaccard. The only pairwise work happens inside band
    buckets: shuffle keys are (band_id, band_hash) — bounded fan-out
    even at 100 TB (hot buckets indicate true duplicate clusters).

    ``materialize`` picks how the signature table is pinned before the
    joins: ``"cache"`` (executor memory — single-node / fits-in-RAM),
    ``"checkpoint"`` (local checkpoint, severs lineage — the cluster
    option when signatures exceed memory or the DAG is reused across
    jobs), or ``"none"`` (lazy — only sane for tiny inputs; each join
    branch re-evaluates the signature expressions).
    """
    rows_per_band = num_hashes // bands
    # input-skew fix first (guide §2.5): one small parquet split — every
    # local tier — would run the whole interpreted shingle+minhash fold
    # below on a single core (measured 1.01 s -> 0.28 s at sf0.1 when
    # spread); a no-op once the scan is already parallel
    from .skew import spread_small_scan
    docs = spread_small_scan(docs.select(id_col, text_col))
    # Materialize the shingle table BEFORE deriving signatures: shingle
    # construction is the dominant cost and Catalyst does not eliminate
    # the common subtree across the _sh and _sig outputs (measured 2x:
    # both-in-one-projection evaluates shingles twice). The signature
    # aggregate is derived from the pinned _sh column, so shingles
    # evaluate exactly once and every join branch scans the
    # materialized table.
    base = docs.select(F.col(id_col),
                       shingles(F.col(text_col), shingle_n).alias("_sh"))
    if materialize == "cache":
        base = base.cache()
        base.count()
    elif materialize == "checkpoint":
        base = base.localCheckpoint(eager=True)
    elif materialize != "none":
        raise ValueError(f"materialize must be cache|checkpoint|none, "
                         f"got {materialize!r}")
    sig = base.select(
        F.col(id_col), F.col("_sh"),
        minhash_from_shingles(F.col("_sh"), num_hashes).alias("_sig"))

    # the band self-join runs on SLIM rows (id, band, bucket, bucket
    # array) only — carrying the shingle arrays through the join
    # measured 20x slower at sf0.1; payloads are fetched once per
    # surviving candidate pair instead
    bucket_cols = [
        F.xxhash64(F.concat_ws(
            ",", *[F.element_at("_sig", b * rows_per_band + r + 1)
                   .cast("string") for r in range(rows_per_band)]))
        for b in range(bands)]
    banded = sig.select(
        id_col,
        F.array(*bucket_cols).alias("_bkts"),
        F.posexplode(F.array(*bucket_cols)).alias("band", "bucket"),
    )

    a = banded.alias("a")
    b = banded.alias("b")
    # FIRST-MATCH-BAND pairing: a colliding pair is emitted only by the
    # lowest band where its buckets agree, so the candidate set is
    # unique BY CONSTRUCTION — the old dropDuplicates (a full shuffle
    # of every band collision) is gone. Each banded row carries the
    # full bucket array (bands x 8 bytes) so the first-match test is a
    # local post-join filter; array_position returns the 1-based index
    # of the first equal band, and `band` is 0-based from posexplode.
    first_match = F.array_position(
        F.zip_with(F.col("a._bkts"), F.col("b._bkts"),
                   lambda x, y: x == y), F.lit(True))
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(first_match == F.col("a.band") + 1)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
    )
    sh = sig.select(F.col(id_col).alias("_id"), "_sh")
    cand = (
        cand.join(sh.select(F.col("_id").alias("id_a"),
                            F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"),
                        F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (cand.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
            .where(F.col("jaccard") >= jaccard_threshold))


def simhash64(text: Column) -> Column:
    """64-bit SimHash: per distinct token, xxhash64; bit i of the
    signature = majority vote of bit i across token hashes. Pure
    higher-order functions — per-row, no shuffle, no UDF."""
    toks = F.array_distinct(F.split(normalize_text(text), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)

    def bit_vote(i):
        mask = F.lit(1 << i)
        votes = F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))
        return F.when(votes * 2 > n, mask).otherwise(F.lit(0))

    # bit 63 excluded: keep the value positive
    bits = [bit_vote(i) for i in range(63)]
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def banded_hamming_pairs(sig: DataFrame, id_col: str, hash_col: str,
                         max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from any (id, 64-bit hash) table via the 4x16-bit
    band pigeonhole join (hamming <= 3 over 64 bits => some band
    equal), verified by exact bit_count hamming. Shared by the text
    SimHash and image Blockhash paths — one place for the banding
    math."""
    # pin the signature table: both sides of the band self-join derive
    # from it, and for the multimodal callers the lineage above it is a
    # full media decode pass (mapInPandas — AQE does not reuse those
    # stages across the two branches, so without the pin every payload
    # decodes twice). The pinned frame is (id, 8-byte hash) rows — the
    # standard materialize-the-signatures move at any scale.
    sig = sig.select(id_col, hash_col).localCheckpoint(eager=True)
    banded = sig.select(
        id_col, hash_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(hash_col, b * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
            for b in range(4)])).alias("_b"),
    ).select(id_col, hash_col, "_b.band", "_b.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    hamming = F.bit_count(xor)

    # FIRST-MATCH-BAND pairing (the minhash_lsh_pairs move): a pair is
    # emitted ONLY by the lowest band whose 16-bit blocks agree, so the
    # candidate set is unique BY CONSTRUCTION and the old
    # dropDuplicates — a full shuffle of every emitted pair — is gone
    # outright. The lowest agreeing band is the index of the first
    # zero 16-bit block of the pair's XOR, a local post-join filter on
    # the hashes already aboard; the join condition guarantees block
    # `band` is zero, so first_zero <= band and equality keeps exactly
    # the lowest. (A pair at hamming 0 collides in all 4 bands — 4
    # join output rows before, 1 now, so exact-dup-heavy corpora also
    # emit 4x fewer pre-filter rows.)
    def _block(j: int) -> Column:
        return F.shiftright(xor, j * 16).bitwiseAND(F.lit(0xFFFF))

    first_zero = (F.when(_block(0) == 0, 0)
                  .when(_block(1) == 0, 1)
                  .when(_block(2) == 0, 2)
                  .otherwise(F.lit(3)))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(first_zero == F.col("a.band"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates: docs whose simhash agrees on at least one of
    4 16-bit bands (pigeonhole: hamming ≤ 3 over 64 bits ⇒ some band
    equal), verified by exact hamming distance.

    The signature is built as ONE codegen'd aggregation — explode the
    distinct tokens and take 63 conditional bit sums per doc — instead
    of the per-row ``simhash64`` column, whose 63 interpreted HOF
    filter passes per document sit outside whole-stage codegen
    (measured 7x slower for identical bits; equality with ``simhash64``
    is test-pinned). The map-side partial aggregation ships 63 longs
    per (doc, partition) — the shuffle carries vote vectors, not
    tokens."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            F.split(normalize_text(F.col(text_col)), " "))).alias("_tok"))
    h = F.xxhash64("_tok")
    aggs = [F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))).alias(f"_v{i}")
            for i in range(63)]
    votes = toks.groupBy(id_col).agg(*aggs, F.count(F.lit(1)).alias("_n"))
    out = F.lit(0).cast("long")
    for i in range(63):
        out = out.bitwiseOR(
            F.when(F.col(f"_v{i}") * 2 > F.col("_n"), F.lit(1 << i))
            .otherwise(F.lit(0)))
    sig = votes.select(F.col(id_col), out.alias("sim"))
    return banded_hamming_pairs(sig, id_col, "sim",
                                max_hamming=max_hamming)


def incremental_dedup(new_docs: DataFrame, corpus_fps: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      hash_fn=F.xxhash64) -> DataFrame:
    """Deduplicate a NEW batch against an existing corpus without
    recomputing the corpus: join the batch's fingerprints against the
    persisted (fingerprint, keeper) table, then resolve batch-internal
    duplicates among the leftovers.

    ``corpus_fps``: (fingerprint, keeper) — the running dedup state a
    pipeline persists (bucketed by fingerprint at scale, so this join
    is co-located). Returns one row per new document:
    (id, fingerprint, duplicate_of nullable, is_new_unique) where
    duplicate_of points at the corpus keeper when the text is already
    known, else the smallest same-fingerprint id within the batch, and
    is_new_unique marks the batch keepers that extend the corpus state.
    Daily batch << corpus, so Spark broadcasts the batch fingerprints
    against the bucketed corpus scan; nothing rescans corpus text.
    """
    fp = new_docs.select(
        F.col(id_col),
        hash_fn(normalize_text(F.col(text_col))).alias("fingerprint"))
    hit = fp.join(corpus_fps.withColumnRenamed("keeper", "_corpus_keeper"),
                  "fingerprint", "left")
    batch_keeper = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("_batch_keeper"))
    resolved = hit.join(batch_keeper, "fingerprint")
    dup_of = F.coalesce(
        F.col("_corpus_keeper"),
        F.when(F.col(id_col) != F.col("_batch_keeper"),
               F.col("_batch_keeper")))
    return resolved.select(
        id_col, "fingerprint", dup_of.alias("duplicate_of"),
        (F.col("_corpus_keeper").isNull()
         & (F.col(id_col) == F.col("_batch_keeper"))).alias("is_new_unique"))
