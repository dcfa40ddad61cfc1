"""Deduplication operators for a large-scale training-data pipeline.

Beyond the reference's dropDuplicates (SURVEY §2.4 A2), this module
implements the dedup family a 100 TB text corpus needs:

- exact_dedupe / exact_dedupe_deterministic — hash-groupBy exact dedup.
- minhash_near_duplicates — word-shingle MinHash + LSH banding:
  shingles → k minhashes → b bands → band-hash bucket join → candidate
  pairs → EXACT Jaccard verification. The band join is the scale trick:
  no all-pairs comparison ever happens; candidate generation is a
  groupBy on (band, band_hash) and the verify join touches only
  bucket-colliding pairs.
- simhash_signatures — 64-bit SimHash over word hashes; near-dup pairs
  are signatures at small Hamming distance.
- ngram_jaccard_pairs — exact n-gram Jaccard via shingle inverted
  index: explode shingles, self-join on shingle, count intersections,
  |A∪B| = |A|+|B|−|A∩B|. Exact but quadratic in bucket collisions —
  the ground-truth oracle for the approximate variants at test scale.

All operators are DataFrame compositions (hash/xxhash64/explode/
groupBy) with one deliberate exception: MinHash signature computation
over hashed shingles runs as an Arrow-batched numpy kernel (a pure
row-wise map — no shuffle), which beats the codegen'd explode+groupBy
by ~4×. Minhash permutations use the affine trick
h_i(x) = (a_i * xxhash64(x) + b_i) mod p in both formulations.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from news_lakehouse_spark.operators.iterstate import (
    LineageTruncator,
    truncate_lineage,
    truncate_observed,
)
from news_lakehouse_spark.session import borrowed_conf

# Deterministic affine-permutation parameters. p = 2^31-1 keeps
# h (< p) * a (< p) + b below 2^62 — no int64 overflow in column math.
_MERSENNE_P = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def normalized_text(col: Column | str) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — dedup canon."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}\s]", " "), r"\s+", " ")
    )


def exact_dedupe(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup, arbitrary survivor (reference A2 dropDuplicates)."""
    return df.dropDuplicates(cols)


def exact_dedupe_deterministic(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact content dedup with deterministic survivor = min(id).

    groupBy on a content hash rather than the full text so the shuffle
    key is 32 bytes, not the document — the difference between a
    shuffle of 100 TB and a shuffle of ~3 TB at corpus scale.
    """
    h = F.sha2(normalized_text(text_col), 256).alias("__h")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
    )


def _shifted_zip(ws: Column, n: int) -> Column:
    """``arrays_zip`` of the words array against its n−1 shifted
    copies: element i is the struct (w_i, …, w_{i+n−1}); length
    ``size(ws) − n + 1`` (arrays_zip null-pads the shorter slices,
    but every slice here has exactly that length).

    WHY this shape: a lambda that reaches OUT of its higher-order
    function to index ``ws`` (``element_at(ws, i+j)`` / ``slice(ws,
    i+1, n)``) re-evaluates whatever expression ``ws`` resolves to on
    EVERY lambda call — and Catalyst's projection collapsing happily
    inlines the upstream ``split(normalize(text))`` into ``ws`` when
    the alias ends up referenced once (exactly what the
    explode-the-shingles consumers produce), turning an O(L) shingle
    pass into O(L²) regex work per document (measured: 34 s for the
    sf0.1 decontamination explode vs 0.7 s un-exploded). Zipping
    shifted slices references ``ws`` only OUTSIDE the lambda — at
    most n slice evaluations per row even when fully inlined — and
    the lambda touches nothing but its own variable."""
    cnt = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    return F.arrays_zip(
        *[F.slice(ws, j + 1, cnt).alias(f"w{j}") for j in range(n)]
    )


def shingles_of_words(words: Column | str, n: int) -> Column:
    """Distinct n-gram shingles of an ALREADY-MATERIALIZED words array.

    Safe against projection inlining (see ``_shifted_zip``): the
    shingle lambda reads only its zip-struct argument, so even a
    collapsed plan evaluates the upstream words expression at most
    n times per row, never per shingle.
    """
    ws = F.col(words) if isinstance(words, str) else words
    if n == 1:
        return F.array_distinct(ws)
    return F.array_distinct(
        F.transform(
            _shifted_zip(ws, n),
            lambda x: F.concat_ws(" ", *[x[f"w{j}"] for j in range(n)]),
        )
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Single-expression form (convenient for ad-hoc use); documents with
    fewer than n words produce an empty array. Pipelines should prefer
    ``_with_shingles``, which materializes the words array first — see
    ``shingles_of_words`` for why.
    """
    words = F.split(normalized_text(col), " ")
    if n == 1:
        return F.array_distinct(words)
    empty = F.array().cast("array<string>")
    return F.when(
        F.size(words) >= n, shingles_of_words(words, n)
    ).otherwise(empty)


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the session's parallelism.

    CPU-heavy per-row work (shingling, hashing) on a small file lands
    in one task and serializes; at real corpus scale the scan already
    has thousands of splits and this is a no-op, so the shuffle only
    ever moves small data.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _with_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Two-phase: materialize the words array as a column attribute,
    # THEN shingle from it. CollapseProject leaves the split/regex
    # chain in its own projection (non-cheap, multi-referenced), so the
    # normalize runs once per row instead of once per shingle index —
    # ~5× end-to-end on the minhash pipeline. The word-count gate runs
    # before shingling so short docs never enter the transform.
    narrow = df.select(F.col(id_col), F.col(text_col))
    words = _widen_if_narrow(narrow).select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("__words")
    )
    return words.filter(F.size("__words") >= n).select(
        F.col(id_col), shingles_of_words("__words", n).alias("shingles")
    )


def hashed_shingles_of_words(words: Column | str, n: int) -> Column:
    """Distinct 64-bit hashes of the word n-grams — no shingle strings.

    Multi-argument ``xxhash64(w_i, …, w_{i+n-1})`` hashes the n-gram
    directly (field-sequenced, so ("a","bc") ≠ ("ab","c")): the
    concatenated shingle string is never built, array_distinct works
    on 8-byte longs, and the downstream set algebra (intersect/union
    for Jaccard) runs on longs. Distinct-hash ≡ distinct-shingle up to
    64-bit collisions (~n²/2⁶⁴ per doc — negligible at any corpus
    size that fits on hardware).
    """
    ws = F.col(words) if isinstance(words, str) else words
    if n == 1:
        return F.array_distinct(F.transform(ws, lambda w: F.xxhash64(w)))
    # zip-of-shifted-slices, NOT element_at(ws, i+j) from inside the
    # lambda — the outer-reference form re-evaluates ws's (possibly
    # inlined split+normalize) subtree per element; see _shifted_zip
    return F.array_distinct(
        F.transform(
            _shifted_zip(ws, n),
            lambda x: F.xxhash64(*[x[f"w{j}"] for j in range(n)]),
        )
    )


def _with_hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingles: array<long>) — same two-phase shape as
    ``_with_shingles`` with hashed n-grams (see hashed_shingles_of_words)."""
    narrow = df.select(F.col(id_col), F.col(text_col))
    words = _widen_if_narrow(narrow).select(
        F.col(id_col), F.split(normalized_text(text_col), " ").alias("__words")
    )
    return words.filter(F.size("__words") >= n).select(
        F.col(id_col), hashed_shingles_of_words("__words", n).alias("shingles")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 42,
) -> DataFrame:
    """id → array<bigint> MinHash signature over word n-gram shingles."""
    sh = _with_shingles(df, id_col, text_col, n)
    return _signatures_from_shingles(sh, id_col, num_hashes, seed)


def _signatures_from_shingles_arrow(
    sh: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    """MinHash signatures as a per-row Arrow-batched numpy kernel.

    Requires hashed shingles (``array<bigint>``). Per document the
    signature is ``min((a ⊗ h + b) mod p, axis=shingles)`` — one numpy
    broadcast over a (num_hashes × n_shingles) block. Unlike the
    explode+groupBy formulation this is a pure row-wise map: NO explode,
    NO shuffle, no 128 aggregate buffers — at 100 TB the signature
    stage stays embarrassingly parallel over scan partitions. Measured
    ~4× faster than the codegen groupBy at sf0.1 (28s → 7s standalone).
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    params = _affine_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    p_ = np.int64(_MERSENNE_P)

    @pandas_udf("array<bigint>")
    def mh(shingles: pd.Series) -> pd.Series:
        out = []
        for arr in shingles:
            h = np.asarray(arr, dtype=np.int64) % p_  # ≡ F.pmod(h, p)
            out.append(((h[None, :] * a + b) % p_).min(axis=1))
        return pd.Series(out)

    return sh.select(F.col(id_col), mh("shingles").alias("signature"))


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    """MinHash signatures via explode + partial-aggregating groupBy.

    explode(shingles) → per-shingle base hash → ``num_hashes`` affine
    permutations as plain column arithmetic → ``min`` aggregates. All
    of it is codegen'd JVM arithmetic; the higher-order-function
    formulation (num_hashes × array transforms) runs interpreted and
    is ~4× slower. Map-side partial aggregation means the shuffle
    carries one row per (doc × map partition) — at corpus scale each
    doc's shingles sit in one partition, so shuffle ≈ one row per doc.

    Hashed-shingle inputs (``array<bigint>``) dispatch to the Arrow
    kernel above — bit-identical signatures (pinned by test), ~4×
    faster, and shuffle-free.
    """
    if dict(sh.dtypes)["shingles"] == "array<bigint>":
        return _signatures_from_shingles_arrow(sh, id_col, num_hashes, seed)
    params = _affine_params(num_hashes, seed)
    base = (
        F.pmod(F.col("__s"), F.lit(_MERSENNE_P))
        if dict(sh.dtypes)["shingles"] == "array<bigint>"
        else F.pmod(F.xxhash64("__s"), F.lit(_MERSENNE_P))
    )
    hs = sh.select(
        F.col(id_col), F.explode("shingles").alias("__s")
    ).select(id_col, base.alias("__h"))
    mins = hs.groupBy(id_col).agg(
        *[
            F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(
                f"mh_{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        id_col, F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature")
    )


def _band_entries(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) LSH band index from MinHash signatures —
    the persistable dedup-index shape shared by the batch and
    incremental near-dup paths."""
    return sigs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("signature"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("e"),
    ).select(id_col, "e.band", "e.band_hash")


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
    cache_shingles: bool = True,
    staging_path: str | None = None,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard ≥ threshold.

    LSH banding proposes candidates; exact shingle-set Jaccard verifies,
    so output contains no false positives (false-negative probability
    is 1-(1-s^r)^b, negligible above the threshold for 32 bands × 4 rows).

    ``cache_shingles``: the shingle table feeds three consumers
    (signatures, both exact-verify sides) — materializing it once
    measures ~30% faster end-to-end than recomputation (A/B in fresh
    sessions; AQE exchange reuse only dedups the identical band-table
    sides, not the verify-side re-shingles).

    ``staging_path``: at 100 TB the shingle table exceeds executor
    memory+disk cache; give a parquet path and the shingle table is
    written there once and every consumer re-reads it from storage
    (column-pruned, splittable) instead of the block-manager cache.

    ``max_bucket_size`` caps band-bucket fan-out: a degenerate corpus
    (one dominant boilerplate template) puts ~all docs in the same
    band_hash bucket in EVERY band, making the candidate self-join
    quadratic. Buckets larger than the cap are dropped before the
    join, bounding any bucket at cap² candidate pairs. Pairs lost this
    way are near-identical template copies — run exact/dedup first
    (a2_dedup_exact) which catches them at groupBy cost. On by default
    (100_000 — far above any honest near-dup cluster); ``None``
    disables.
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    # hashed shingles end-to-end: signatures permute the 64-bit gram
    # hashes, and the exact verify intersects long arrays — shingle
    # strings are never materialized (see hashed_shingles_of_words).
    sh_cached = _with_hashed_shingles(df, id_col, text_col, n)
    if staging_path is not None:
        sh_cached.write.mode("overwrite").parquet(staging_path)
        sh_cached = df.sparkSession.read.parquet(staging_path)
    elif cache_shingles:
        sh_cached = sh_cached.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh_cached, id_col, num_hashes, seed)
    band_entries = _band_entries(sigs, id_col, bands, rows_per_band)
    # Materialize the band table ONCE (r12). The historical NOTE here
    # said persisting was ~2× slower because AQE's ReusedExchange
    # already dedup'd the two self-join sides — that was true of the
    # explode+groupBy signature path, whose aggregation exchange both
    # sides shared. The ARROW signature kernel is a shuffle-free map:
    # no exchange exists to reuse, and the r11 AQE-final plan shows
    # the bucket filter and both self-join sides each re-running the
    # Python kernel (4 ArrowEvalPython evaluations of the same
    # subtree). One lineage-truncating materialization of the
    # O(docs × bands) key table (24-byte rows — tiny next to the
    # corpus) runs the kernel once; reliable mode checkpoints to the
    # configured FS, local mode holds executor blocks.
    band_entries = truncate_lineage(band_entries)
    if max_bucket_size is not None:
        # bucket-size filter shares the self-join's shuffle key
        # (band, band_hash): the exchange is reused, the count is a
        # map-side-combined long agg.
        ok_buckets = (
            band_entries.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("band", "band_hash")
        )
        band_entries = band_entries.join(ok_buckets, ["band", "band_hash"])

    left = band_entries.alias("l")
    right = band_entries.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )

    a = sh_cached.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh_cached.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            # |A∪B| = |A|+|B|−|A∩B| on the DISTINCT shingle arrays
            # (hashed_shingles_of_words applies array_distinct), so the
            # union array is never materialized — one set pass per
            # candidate pair instead of two, same double to the bit
            "__inter", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    word_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash per document over unigram word hashes (term-frequency
    weighted).

    bit_j(doc) = 1 iff sum over words of sign(bit_j(hash(word)))
    is positive. Pure column arithmetic: explode words, extract bits,
    aggregate votes, reassemble.

    ``word_hash``: ``"xxhash64"`` (default — fastest, JVM codegen) or
    ``"sha2_60"`` (top 60 bits of sha-256, parsed from hex). The latter
    exists for cross-engine verification: DuckDB has no xxhash64, but
    ``CAST('0x'||substr(sha256(w),1,15) AS BIGINT)`` reproduces sha2_60
    exactly, making the whole signature oracle-checkable. Near-dup
    quality is identical; use xxhash64 in production pipelines.
    """
    def bit_lit(j: int) -> F.Column:
        # bit 63 of a signed long is the sign bit; 1<<63 as a Python int
        # exceeds LongType, so use its two's-complement value.
        return F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")

    words = df.select(
        F.col(id_col), F.explode(F.split(normalized_text(text_col), " ")).alias("w")
    ).filter(F.length("w") > 0)
    if word_hash == "xxhash64":
        h = F.xxhash64("w")
    elif word_hash == "sha2_60":
        if bits > 60:
            raise ValueError("sha2_60 provides 60 hash bits; pass bits <= 60")
        from news_lakehouse_spark.functions.keys import sha2_prefix_long

        h = sha2_prefix_long(F.col("w"), 15)
    else:
        raise ValueError(f"unknown word_hash '{word_hash}'")
    hashed = words.select(id_col, h.alias("h"))
    votes = hashed.select(
        id_col,
        *[
            (F.when(F.col("h").bitwiseAND(bit_lit(j)) != 0, 1).otherwise(-1)).alias(
                f"b{j}"
            )
            for j in range(bits)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"b{j}").alias(f"b{j}") for j in range(bits)]
    )
    sig = summed.select(
        id_col,
        sum(
            [
                F.when(F.col(f"b{j}") > 0, bit_lit(j)).otherwise(F.lit(0).cast("long"))
                for j in range(bits)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sig


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shingle inverted index.

    explode(shingles) self-joined on the shingle gives per-pair
    intersection counts without an all-pairs cross join; union size
    follows from per-doc shingle counts.

    ``max_df`` caps posting-list fan-out: shingles appearing in more
    than ``max_df`` documents are dropped from the inverted index
    before the self-join. Without it, one boilerplate shingle shared by
    10^6 documents creates a 10^12-row join bucket — the cap bounds any
    bucket at max_df^2 rows. Standard in suffix-array / SRA dedup.
    Results are exact whenever no shingle exceeds the cap; when the cap
    bites, intersection counts (and so Jaccard) are lower bounds —
    conservative for dedup, since only ubiquitous-boilerplate overlap
    is discounted. The blowup guard is ON by default (10_000 — exact
    on any corpus where no shingle spans more docs than that; tighten
    to 100–1000 at corpus scale); pass ``None`` only when provably-
    exact semantics on a boilerplate-heavy corpus matter more than a
    bounded join.
    """
    from pyspark import StorageLevel

    # shingle set feeds both the inverted index and the size lookup —
    # materialize once (same rationale as minhash_near_duplicates);
    # hashed grams: the inverted index shuffles 8-byte longs, not strings
    sh = _with_hashed_shingles(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    inv = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    if max_df is not None:
        # df-filter shares the self-join's shuffle key (shingle), so the
        # exchange is reused; the count is a map-side-combined long agg.
        rare = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        inv = inv.join(rare, "shingle")
    l = inv.select(F.col(id_col).alias("id_a"), "shingle")
    r = inv.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        l.join(r, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    word_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs at Hamming distance <= max_hamming between SimHash
    signatures, via pigeonhole bit-block LSH.

    Split the signature into (max_hamming + 1) blocks: any pair within
    max_hamming differing bits must agree EXACTLY on at least one block
    (pigeonhole), so candidate generation is an equi-join on
    (block_idx, block_value) — complete by construction, never a
    similarity trade-off. Only candidates pay the bit_count(xor) check.
    At corpus scale the candidate count is sum over blocks of
    bucket_size² — wider blocks (fewer allowed errors) keep buckets
    exponentially smaller, the same lever as LSH band width. Standard
    64-bit practice is max_hamming=3 → 4 blocks of 16 bits (Manku et
    al., WWW'07 — the Google simhash dedup paper).

    Exact w.r.t. the signature, so fully oracle-checkable (the DuckDB
    twin does the quadratic xor over all pairs; this plan never does).
    """
    nb = max_hamming + 1
    if nb > bits:
        raise ValueError("max_hamming + 1 block count exceeds signature bits")
    sigs = simhash_signatures(df, id_col, text_col, bits=bits, word_hash=word_hash)
    base, extra = divmod(bits, nb)
    blocks = []
    start = 0
    for i in range(nb):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        blocks.append(
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftrightunsigned("simhash", start).bitwiseAND(F.lit(mask)).alias("bv"),
            )
        )
        start += width
    exploded = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*blocks)).alias("b")
    ).select(id_col, "simhash", "b.bi", "b.bv")
    l = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "bi", "bv"
    )
    r = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "bi", "bv"
    )
    return (
        l.join(r, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        # a close pair can agree on several blocks — dedupe
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def cross_corpus_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag corpus documents sharing word n-grams with a benchmark set
    (train/test decontamination).

    The benchmark's distinct hashed shingles broadcast to every task
    (eval sets are MBs; the corpus is the 100 TB side and only its
    matching (doc, shingle) rows ever reach the aggregation — a
    left-semi explode, not a corpus shuffle). Long n (8 by default)
    makes incidental overlap vanishingly rare, so any hit is memorized
    benchmark text (the GPT-3/PaLM decontamination recipe: 8-13 gram
    collision against the eval set).

    Returns (id, n_overlap_ngrams) per contaminated document.
    """
    bench_sh = (
        _with_hashed_shingles(benchmark, id_col, text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    corpus_sh = _with_hashed_shingles(corpus, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_overlap_ngrams"))
        .filter(F.col("n_overlap_ngrams") >= min_hits)
    )


# no AQE, no broadcasts: a propagation round plans to one Spark job
_STATIC_PLANS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    method: str = "propagate",
) -> DataFrame:
    """(id, component) — component = min id reachable in the pair graph.

    Two interchangeable plans (same output frame, same caller
    contract):

    ``method="propagate"`` (default) — min-label propagation: each
    round, every node takes the minimum of its own label and its
    neighbors' labels, until a fixpoint. Rounds are O(graph diameter):
    a clique takes one round, a k-document duplicate path k-1 (the
    benchmark's 7-document paths take 6) — fine for near-dup graphs,
    whose clusters are small; long chains belong to ``star``. Each
    round is one join + one groupBy on the label frame (never an
    all-pairs expansion), materialized by a LineageTruncator
    checkpoint that also counts, through an observation, the nodes
    whose label fell — the convergence test costs no extra job.

    The rounds run with AQE and broadcast joins off (the caller's
    settings come back on every exit). The edge cache is hash-
    partitioned on the join key and each round's checkpoint keeps its
    id partitioning, so a round is ONE Spark job with one shuffle; with
    AQE on, each shuffle stage and each broadcast of the edge cache
    would be a job of its own. In exchange the loop gives up AQE's
    partition coalescing and skew splitting on node-sized frames. The
    edge cache is filled, and the first labels taken, before the
    switch, so a lazy ``pairs`` plan (MinHash) still runs with AQE; the
    returned frame reads the last checkpoint, so nothing planned later
    depends on the settings. ``star`` keeps AQE (see iterstate).

    ``method="star"`` — alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14):
    each round REWIRES the edge set itself — large-star points every
    larger neighbor of each node at that node's minimum neighbor,
    small-star does the same for the smaller neighbors — so path
    lengths contract superlinearly and the edge count never grows
    beyond the bidirected input. O(log^2 n) rounds on ANY graph shape,
    independent of diameter: the 100 TB path for chain-shaped
    duplicate graphs (substring overlaps, transitive fuzzy matches)
    where propagation would need diameter rounds. Per round: two
    groupBy-min + two joins on the (shrinking) edge frame.

    Used by dedup_survivors to collapse near-dup PAIRS (minhash/
    simhash/embedding) into one surviving document per duplicate
    cluster.
    """
    if method == "star":
        return _connected_components_star(pairs, id_a, id_b, max_iters)
    if method != "propagate":
        raise ValueError(f"unknown method {method!r}: propagate | star")
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        # hashed on the rounds' join key: their edge side never shuffles
        .repartition(int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")), "b")
        .distinct()
        .persist()
    )
    # keeps the 2 newest round checkpoints, deletes older — bounded ckpt FS
    _ckpt = LineageTruncator()
    try:
        # label = current best-known component min per node; this
        # materialization also fills the edge cache while AQE is on
        labels = _ckpt(
            edges.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("lbl"))
            .select(F.col("a").alias("id"), "lbl")
        )
        with borrowed_conf(pairs.sparkSession, **_STATIC_PLANS):
            for _ in range(max_iters):
                # propagate: node's new label = min(own, min over neighbors' labels)
                nbr_min = (
                    edges.join(labels.select(F.col("id").alias("b"), F.col("lbl").alias("nl")), "b")
                    .groupBy("a")
                    .agg(F.min("nl").alias("nbr_lbl"))
                )
                new_labels, changed = truncate_observed(
                    labels.join(nbr_min.withColumnRenamed("a", "id"), "id", "left").select(
                        "id",
                        F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
                        (F.col("nbr_lbl") < F.col("lbl")).cast("int").alias("chg"),
                    ),
                    F.sum("chg"),  # nodes whose label fell this round
                    _ckpt,
                )
                labels = new_labels.drop("chg")
                if not changed:  # None: no nodes at all
                    break
            else:
                # silently returning split components would let dedup keep
                # several "survivors" from one duplicate cluster
                raise RuntimeError(
                    f"connected_components did not converge in {max_iters} "
                    "iterations (graph diameter exceeds the round budget); "
                    'raise max_iters or switch to method="star" '
                    "(large-star/small-star, O(log^2 n) rounds)"
                )
    finally:
        edges.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("component"))


def _connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14).

    Edge-rewiring formulation — the edge SET is the state, not a label
    frame. With m = min(N(v) ∪ {v}) per node v:

    - large-star: emit (u, m) for every neighbor u > v
    - small-star: emit (u, m) for every u ∈ {neighbors < v} ∪ {v}, u ≠ m

    Both operators preserve connectivity (lemmas 1-2 of the paper) and
    never emit more edges than the bidirected input; alternating them
    converges to per-component stars centered on the component minimum
    in O(log^2 n) rounds. Convergence = the (count, xxhash64-sum)
    fingerprint of the edge set is stable across a full round — two
    tiny aggregate actions per round; iterstate.truncate_lineage cuts the
    iterative lineage exactly as the propagation plan does.
    """
    _ckpt = LineageTruncator()  # bounded checkpoint retention
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_ckpt)
    )

    def _bidir(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def _large_star(e: DataFrame) -> DataFrame:
        # center v = a, neighbor u = b; m = min over N(v) ∪ {v}
        n = _bidir(e)
        mins = n.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            n.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        n = _bidir(e).filter(F.col("b") < F.col("a"))
        mins = n.groupBy("a").agg(F.min("b").alias("m"))
        rewired = (
            n.join(mins, "a")
            .select(F.col("b").alias("u"), "m")
            .filter(F.col("u") != F.col("m"))
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
        centers = mins.select("a", F.col("m").alias("b"))
        return rewired.unionByName(centers).distinct()

    def _fingerprint(e: DataFrame) -> tuple:
        # bit_xor: order-insensitive and overflow-free (ANSI-safe where
        # a sum of hashes is not); sound on a DISTINCT edge set
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    for _ in range(max_iters):
        # lazy local checkpoint: the fingerprint aggregate right below
        # touches every partition, so IT materializes the round's edge
        # set — one job per round instead of checkpoint-then-agg (the
        # reliable/cluster mode stays eager inside the truncator)
        edges = _ckpt(_small_star(_large_star(edges)), eager=False)
        new_fp = _fingerprint(edges)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components(method='star') did not converge in "
            f"{max_iters} rounds — not expected for any graph below "
            f"~2^{max_iters // 2} nodes; raise max_iters"
        )
    # converged: edges are (member, component-min) stars
    return (
        edges.select(F.col("a").alias("id"), F.col("b").alias("component"))
        .unionByName(
            edges.select(F.col("b").alias("id"), F.col("b").alias("component"))
        )
        .distinct()
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except its cluster's min-id survivor.

    Docs not in any pair survive untouched (anti-join — the 100 TB
    corpus side never shuffles on more than the pair-graph ids, which
    broadcast at real-world duplicate rates).
    """
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


def incremental_exact_dedupe(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental-ingest exact dedup: classify each batch row against
    the existing corpus and within the batch itself.

    Output per batch row: ``in_corpus`` (a corpus document already has
    this normalized content), ``dup_in_batch`` (an earlier batch row —
    lower id — has it), ``admit`` (first occurrence anywhere). The
    daily-ingest contract: admit ∪ dup_in_batch ∪ in_corpus partitions
    the batch, and replaying the same batch admits nothing.

    Scale shape: the corpus contributes only its DISTINCT 32-byte
    fingerprints (never text); the membership join and the
    within-batch rank both key on the fingerprint, so the batch
    shuffles once on a 32-byte key and the corpus side is a
    fingerprint-only scan. At 100 TB keep the corpus fingerprint
    table materialized (it is the dedup index); this operator then
    touches only today's delta plus that index.
    """
    from pyspark.sql import Window

    fp = F.sha2(normalized_text(text_col), 256)
    corpus_fp = corpus.select(fp.alias("__fp")).distinct().withColumn(
        "__known", F.lit(1)
    )
    keyed = batch.select(F.col(id_col), fp.alias("__fp")).join(
        corpus_fp, "__fp", "left"
    )
    rn = F.row_number().over(Window.partitionBy("__fp").orderBy(id_col))
    unknown = F.col("__known").isNull()
    return keyed.select(
        id_col,
        F.when(unknown, 0).otherwise(1).alias("in_corpus"),
        (unknown & (rn > 1)).cast("int").alias("dup_in_batch"),
        (unknown & (rn == 1)).cast("int").alias("admit"),
    )


def dedup_survivors_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-priority near-dup collapse: per duplicate cluster keep
    the row ranked best by (order_col DESC, id ASC) — e.g. the longest
    or highest-quality copy — instead of dedup_survivors' min-id rule.

    Exactness without a per-cluster sort: the per-component max of
    order_col is computed first, then the min id among rows attaining
    it, so ties are deterministic and no window orders a whole
    component. All intermediate frames are bounded by the pair-graph
    node count (duplicate-cluster members only — docs in no pair never
    leave the final anti join), which broadcasts at real-world
    duplicate rates; the 100 TB side is touched exactly once.
    """
    comp = connected_components(pairs, id_a, id_b)
    members = df.select(F.col(id_col), F.col(order_col)).join(
        F.broadcast(comp.withColumnRenamed("id", id_col)), id_col, "inner"
    )
    best = members.groupBy("component").agg(F.max(order_col).alias("__best"))
    winners = (
        members.join(F.broadcast(best), "component")
        .filter(F.col(order_col) == F.col("__best"))
        .groupBy("component")
        .agg(F.min(id_col).alias("__w"))
        .select(F.col("__w").alias(id_col))
    )
    losers = members.select(id_col).join(F.broadcast(winners), id_col, "left_anti")
    return df.join(F.broadcast(losers), id_col, "left_anti")


def _kgram_span_frames(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared span machinery for the ExactSubstr family: the per-doc
    normalized words array (with n_tokens) and the (id, pos, h) span
    frame — one row per k-gram start position, keyed by the
    engine-portable sha2-prefix hash so only 8-byte longs shuffle.
    Documents shorter than k produce no spans (an explicit guard:
    ``sequence(0, negative)`` would count DOWN, not come up empty).
    """
    from news_lakehouse_spark.functions.keys import sha2_prefix_long

    doc = df.select(F.col(id_col), F.split(normalized_text(text_col), " ").alias("__ws"))
    words = doc.select(id_col, "__ws", F.size("__ws").alias("n_tokens"))
    idx = F.when(
        F.col("n_tokens") >= k, F.sequence(F.lit(0), F.col("n_tokens") - k)
    ).otherwise(F.array().cast("array<int>"))
    # NOTE (r11 A/B): rewriting this as posexplode over a pre-built
    # gram-string array (the _shifted_zip shape) measured ~50% SLOWER
    # here — the per-row concat_ws(slice(__ws, pos+1, k)) below runs
    # in a codegen'd Project, while the gram array builds through an
    # interpreted higher-order transform; and this plan is not exposed
    # to the projection-inlining blowup because __ws is a materialized
    # column of the generate input, not an inlined expression.
    spans = words.select(
        F.col(id_col),
        F.explode(idx).alias("pos"),
        F.col("__ws"),
    ).select(
        id_col,
        "pos",
        sha2_prefix_long(
            F.concat_ws(" ", F.slice("__ws", F.col("pos") + 1, k)), 15
        ).alias("h"),
    )
    return words, spans


def substring_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Per-document duplicated-substring coverage (ExactSubstr-style).

    Word-level approximation of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): a token position counts as duplicated iff some
    k-token span covering it occurs in >= ``min_df`` distinct
    documents corpus-wide. Because any repeated run of length >= k
    is a union of repeated k-spans, the covered-position union equals
    the paper's ">= k-token repeated substring" footprint exactly
    (for cross-document repeats; within-doc repetition is
    ``repetition_metrics``' job).

    Output: (id, n_tokens, dup_tokens, dup_fraction) — the standard
    corpus-curation signal for "how much of this document is copied
    boilerplate", filterable downstream like any quality metric.

    Scale plan — three shuffles, every key an 8-byte long:
      1. spans: posexplode of per-doc k-gram *hashes*
         (sha2-prefix long, the engine-portable idiom) — strings
         never shuffle;
      2. document frequency per hash via a single h-keyed
         count_distinct aggregation (partial distinct map-side);
         ``max_df`` drops
         boilerplate grams exactly as in ``ngram_jaccard_pairs``
         (a gram in 10^6 docs would re-join 10^6 posting rows —
         capped lists bound the join-back, and a gram that common is
         boilerplate the coverage metric should count anyway, so the
         cap is only applied to the *index* side; spans keep it via
         the df-band semi join);
      3. covered positions: semi-join spans to duplicated hashes,
         explode each span into its k positions, count_distinct per
         doc in one doc-keyed shuffle (bounded by document length).
    No window functions, no driver collect; document length bounds
    every per-doc structure.
    """
    words, spans = _kgram_span_frames(df, id_col, text_col, k)
    # document frequency = count_distinct(doc) in ONE h-keyed shuffle
    # (partial distinct runs map-side); within-doc repeats of a gram
    # must not fake cross-document duplication
    dfreq = (
        spans.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") >= min_df)
    )
    if max_df is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_df)
    dup_spans = spans.join(dfreq.select("h"), "h", "left_semi")
    # covered positions: count_distinct over the per-span position
    # explosion, again one doc-keyed shuffle
    covered = (
        dup_spans.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.count_distinct("p").alias("dup_tokens"))
    )
    return (
        words.select(id_col, "n_tokens")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_df: int | None = 10_000,
) -> DataFrame:
    """ExactSubstr removal: strip every cross-document duplicated run,
    keeping ONE canonical copy corpus-wide (Lee et al. 2022 §3 — of
    each substring duplicated across documents, exactly one occurrence
    survives).

    Canonical ownership is per k-gram: the min-id document containing
    a duplicated gram keeps it; every other document drops all token
    positions covered by that gram. Deterministic, order-free, and
    idempotent on its own output. Operates on the normalized token
    stream (the dedup canon — same basis as every shingle operator
    here), so ``clean_text`` is normalized text.

    Scale shape mirrors ``substring_duplication`` — 8-byte hash keys,
    df band via ``max_df`` — plus a narrow rebuild: drop positions
    aggregate to ONE array per doc (bounded by doc length), broadcast-
    joined back, and the surviving text reassembles with an indexed
    higher-order filter — no token re-explosion, no window, no sort.

    Output: (id, n_tokens, kept_tokens, clean_text).
    """
    words, spans = _kgram_span_frames(df, id_col, text_col, k)
    owners = spans.groupBy("h").agg(
        F.min(id_col).alias("__owner"),
        F.count_distinct(F.col(id_col)).alias("__df"),
    ).filter(F.col("__df") >= 2)
    if max_df is not None:
        owners = owners.filter(F.col("__df") <= max_df)
    drop_pos = (
        spans.join(owners.select("h", "__owner"), "h")
        .filter(F.col(id_col) != F.col("__owner"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("p")).alias("__drop"))
    )
    # O(L + D) rebuild: array_except builds a hash set of the D dropped
    # positions once and streams the L token indexes through it, then
    # element_at fetches survivors by O(1) index. The previous
    # array_contains-inside-filter form rescanned the drop array per
    # token — O(L·D), quadratic for a long mostly-duplicated doc.
    kept_idx = F.when(
        F.col("n_tokens") >= 1,
        F.array_except(
            F.sequence(F.lit(0), F.col("n_tokens") - 1),
            F.coalesce(F.col("__drop"), F.array().cast("array<int>")),
        ),
    ).otherwise(F.array().cast("array<int>"))
    kept = F.transform(kept_idx, lambda i: F.element_at(F.col("__ws"), i + 1))
    return (
        words.join(drop_pos, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.size(kept).cast("int").alias("kept_tokens"),
            F.concat_ws(" ", kept).alias("clean_text"),
        )
    )


def incremental_minhash_dedupe(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental-ingest NEAR-dup dedup: classify each batch document
    against the existing corpus and against earlier batch rows via
    MinHash+LSH candidates with exact-Jaccard verification — the
    near-dup analog of ``incremental_exact_dedupe`` and the way a
    100 TB pipeline actually runs dedup (per-increment, never a full
    re-pair of the corpus).

    Output per batch row: ``in_corpus`` (some corpus doc has Jaccard ≥
    threshold), ``dup_in_batch`` (not in corpus, but an earlier — lower
    id — batch row is a near-dup), ``admit`` (neither). Near-dup is not
    transitive, so admit/dup classification follows direct pairs only;
    chain-collapse is ``connected_components``' job on the pair output.

    Scale shape: both corpus-side inputs — the band index
    (id, band, band_hash via ``_band_entries``) and the hashed shingle
    sets — are pure functions of the corpus that a production deployment
    persists as its dedup-index tables; the corpus is never re-signed
    per increment (here they're derived inline for a self-contained
    operator). Each increment then (1) signs only the batch, (2) probes
    the band index with an equi-join — touching only corpus rows in
    buckets the batch actually hits, (3) exact-verifies candidates on
    the shingle sets. Corpus text never shuffles; candidate volume is
    bounded by bucket collisions exactly as in the batch operator.
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    sh_c = _with_hashed_shingles(corpus, id_col, text_col, n)
    sh_b = _with_hashed_shingles(batch, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    be_c = _band_entries(
        _signatures_from_shingles(sh_c, id_col, num_hashes, seed),
        id_col, bands, rows_per_band,
    ).select(F.col(id_col).alias("__cid"), "band", "band_hash")
    be_b = _band_entries(
        _signatures_from_shingles(sh_b, id_col, num_hashes, seed),
        id_col, bands, rows_per_band,
    ).select(F.col(id_col).alias("__bid"), "band", "band_hash")
    # the batch band index is consumed three times (corpus probe +
    # both within-batch self-join sides) and its arrow signature
    # kernel is a shuffle-free map with nothing for AQE to reuse —
    # materialize the O(batch × bands) key table once (see the same
    # note in minhash_near_duplicates); be_c is consumed once and
    # stays lazy
    be_b = truncate_lineage(be_b)

    def _verify(cands: DataFrame, a: str, b: str, sh_a: DataFrame, sh_b_: DataFrame):
        left = sh_a.select(F.col(id_col).alias(a), F.col("shingles").alias("__sa"))
        right = sh_b_.select(F.col(id_col).alias(b), F.col("shingles").alias("__sb"))
        return (
            cands.join(left, a)
            .join(right, b)
            # |A∪B| = |A|+|B|−|A∩B| on distinct arrays — skip
            # materializing the union (see minhash_near_duplicates)
            .withColumn(
                "__inter", F.size(F.array_intersect("__sa", "__sb"))
            )
            .filter(
                F.col("__inter")
                / (F.size("__sa") + F.size("__sb") - F.col("__inter"))
                >= threshold
            )
            .select(a, b)
        )

    cand_corpus = be_b.join(be_c, ["band", "band_hash"]).select("__bid", "__cid").distinct()
    near_corpus = _verify(cand_corpus, "__bid", "__cid", sh_b, sh_c).select(
        "__bid"
    ).distinct().withColumn("__in_corpus", F.lit(1))

    l = be_b
    r = be_b.select(
        F.col("__bid").alias("__bid2"), "band", "band_hash"
    )
    cand_batch = (
        l.join(r, ["band", "band_hash"])
        .filter(F.col("__bid2") < F.col("__bid"))
        .select("__bid", "__bid2")
        .distinct()
    )
    near_prior = _verify(cand_batch, "__bid", "__bid2", sh_b, sh_b).select(
        "__bid"
    ).distinct().withColumn("__dup_prior", F.lit(1))

    keyed = (
        batch.select(F.col(id_col).alias("__bid"))
        .join(near_corpus, "__bid", "left")
        .join(near_prior, "__bid", "left")
    )
    in_c = F.col("__in_corpus").isNotNull()
    dup_b = ~in_c & F.col("__dup_prior").isNotNull()
    return keyed.select(
        F.col("__bid").alias(id_col),
        in_c.cast("int").alias("in_corpus"),
        dup_b.cast("int").alias("dup_in_batch"),
        (~in_c & ~F.col("__dup_prior").isNotNull()).cast("int").alias("admit"),
    )
