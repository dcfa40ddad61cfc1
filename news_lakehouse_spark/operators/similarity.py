"""Similarity search over an embedding column (array<float>).

Extension surface for the 100 TB training-data pipeline:

- cosine_topk_bruteforce — exact top-k neighbors for a (small) query
  set: broadcast the queries, score every corpus vector with pure
  column math (F.zip_with dot product), take row_number ≤ k per query.
  The corpus side streams — no shuffle of the 100 TB table; only the
  (n_queries × corpus) scored rows hit the top-k window, and even that
  is bounded per partition by Spark's window TopK pushdown... at scale
  prefer the aggregate form used here: partial top-k via groupBy.

- lsh_bucketed_topk — approximate variant: multi-table random-
  hyperplane LSH. Each of L tables buckets on the sign-bit string of
  `planes` projections (one Arrow-batched matmul computes all tables);
  candidates are the union of bucket mates over tables
  (OR-amplification), deduped before exact scoring. Recall is traded
  for a per-table 2^planes fan-in reduction; the plan is a broadcast
  join on (table, bucket).

Vectors are cast to double before arithmetic so results are stable
across Arrow/JVM float paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


MAX_BROADCAST_QUERIES = 100_000


def _pair_with_queries(
    c: DataFrame,
    q: DataFrame,
    cond: Column,
    max_broadcast_queries: int | None,
    corpus_blocks: int,
) -> DataFrame:
    """All (corpus, query) candidate pairs under ``cond``, by one of
    two plans:

    - **broadcast** (query set ≤ ``max_broadcast_queries`` rows, or
      threshold None): ``F.broadcast(q)`` — corpus scanned once, no
      shuffle. The right plan for probe-sized query sets.
    - **block-nested shuffle** (past the threshold): the corpus hashes
      into ``corpus_blocks`` blocks on ``__cb``; queries replicate
      once per block and the pair-up is a plain shuffle hash join on
      ``__cb`` — no broadcast of a query set that would OOM the
      executors. The corpus still moves only once; queries move
      ``corpus_blocks`` times, which is the right trade when queries
      outgrow memory but are still far smaller than a 100 TB corpus.
      (Past ~1M queries prefer ``lsh_bucketed_topk`` / ``ivf_topk`` —
      exact all-pairs cost is corpus x queries no matter the plan.)

    The size check is a LIMIT-bounded count on the (smaller) query
    side — ``q.limit(threshold + 1).count()`` stops scanning as soon
    as threshold+1 rows exist, so a huge query set costs one early-out
    partial scan, not a full materialization of its plan (advice r5).
    Pass ``max_broadcast_queries=0`` to force the shuffled plan without
    counting, or ``None`` to force broadcast.
    """
    if max_broadcast_queries is None or (
        max_broadcast_queries > 0
        and q.limit(max_broadcast_queries + 1).count() <= max_broadcast_queries
    ):
        return c.join(F.broadcast(q), cond)
    c2 = c.withColumn(
        "__cb",
        F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(corpus_blocks)).cast("int"),
    )
    q2 = q.withColumn(
        "__cb", F.explode(F.sequence(F.lit(0), F.lit(corpus_blocks - 1)))
    )
    return c2.join(q2, "__cb").filter(cond).drop("__cb")


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = 6,
    max_broadcast_queries: int | None = MAX_BROADCAST_QUERIES,
    corpus_blocks: int = 32,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    Self-matches (same id) are excluded. Query sets up to
    ``max_broadcast_queries`` rows broadcast (corpus scanned once, no
    shuffle); larger sets switch to a block-nested shuffle join — see
    ``_pair_with_queries``. Results are identical either way.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        _pair_with_queries(
            c,
            q,
            F.col("neighbor_id") != F.col("query_id"),
            max_broadcast_queries,
            corpus_blocks,
        )
        .withColumn("cos_sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    # Two-level top-k: each input partition keeps only its k best per
    # query (bounded state), then the tiny per-partition heads combine.
    # The full scored set never shuffles — at corpus scale the reduce
    # input is (#partitions × #queries × k) rows, not (corpus × #queries).
    head = F.slice(
        F.sort_array(F.collect_list(F.struct("cos_sim", "neighbor_id")), asc=False),
        1,
        k,
    )
    partial = (
        scored.withColumn("__p", F.spark_partition_id())
        .groupBy("query_id", "__p")
        .agg(head.alias("top"))
        .select("query_id", F.explode("top").alias("entry"))
        .select("query_id", "entry.cos_sim", "entry.neighbor_id")
    )
    topk = (
        partial.groupBy("query_id")
        .agg(head.alias("top"))
        .select("query_id", F.posexplode("top").alias("rank0", "entry"))
        .select(
            "query_id",
            F.col("entry.neighbor_id").alias("neighbor_id"),
            F.col("entry.cos_sim").alias("cos_sim"),
            (F.col("rank0") + 1).alias("rank"),
        )
    )
    if round_digits is not None:
        topk = topk.withColumn("cos_sim", F.round("cos_sim", round_digits))
    return topk


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 8,
    tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``tables`` independent hash tables, each bucketing on the sign-bit
    string of <v, r_i> for ``planes`` random hyperplanes (deterministic
    seed). A query's candidates are the union over tables of its bucket
    mates — OR-amplification: one table of b bits finds a neighbor only
    if all b sign bits agree (recall ~0 for b=8 on 64-dim data); with L
    tables the miss probability is (1 - p^b)^L, driven toward 0 by L.
    Candidates are deduped per (query, neighbor) BEFORE scoring, so the
    exact-rank work is bounded by distinct candidates, not L times it.

    The corpus is scanned once and exploded L times on (table, bucket) —
    the standard space/recall trade of multi-probe-free LSH. Per-table
    bucket population is corpus/2^planes rows; the join key (table,
    bucket) keeps every table's buckets co-partitioned in one shuffle.
    Recall < 1 by design; the candidate join replaces the cross product.
    """
    import random

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if dim is None:
        sample = corpus.select(F.size(vec_col).alias("d")).first()
        dim = sample["d"]
    rng = random.Random(seed)
    # (dim, tables*planes) projection matrix; one matmul buckets a whole
    # Arrow batch for every table at once. The equivalent Catalyst
    # expression tree (tables x planes aggregate-dots) is interpreted
    # per element and dominates runtime even at toy scale — same
    # rationale as the MinHash Arrow kernel (operators/dedupe.py).
    proj = np.array(
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(tables * planes)]
    ).T
    weights = 1 << np.arange(planes)

    @pandas_udf("array<int>")
    def _buckets(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        v = np.vstack(vec.to_numpy()).astype("float64")  # (n, dim)
        signs = (v @ proj) >= 0  # (n, tables*planes)
        bits = signs.reshape(len(vec), tables, planes)
        b = (bits * weights).sum(axis=2).astype("int32")  # (n, tables)
        return pd.Series(list(b))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    # Dedupe (query, neighbor) collisions across tables before the
    # cosine — scoring cost is per distinct candidate, not per table hit.
    candidates = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("q_vec").alias("q_vec"), F.first("c_vec").alias("c_vec"))
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    from news_lakehouse_spark.operators.windows import top_k_per_group

    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cos ≥ τ).

    Blocked all-pairs: rows hash into ``blocks`` blocks; every row is
    replicated to the block *pairs* it participates in (B copies), and
    each of the B(B+1)/2 pair-groups scores its two blocks with one
    Arrow-batched numpy matmul (`applyInPandas`). Total work is the
    exact n²/2 — the blocking makes it *distributed* (tasks of
    (n/B)² each) instead of single-node, and each pair of vectors
    meets in exactly one group, so no dedup pass is needed.

    Scale path: exact all-pairs is O(n²) no matter how it's blocked —
    past ~10M vectors, swap the candidate generator for
    ``lsh_bucketed_topk``'s hyperplane buckets (recall < 1) and keep
    the numpy verify. Math in float64 for oracle-stable rounding.
    """
    import numpy as np
    import pandas as pd

    B = int(blocks)
    tagged = corpus.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B)).alias("__blk"),
    )
    # A row in block b replicated over k=0..B-1 lands in pair
    # (min(b,k), max(b,k)): once per off-diagonal pair it belongs to,
    # once in the diagonal (b,b) — no duplicates by construction.
    rep = (
        tagged.withColumn("__k", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("__bi", F.least("__blk", "__k"))
        .withColumn("__bj", F.greatest("__blk", "__k"))
        .drop("__k")
    )

    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        }
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        bi = int(pdf["__bi"].iloc[0])
        bj = int(pdf["__bj"].iloc[0])
        left = pdf[pdf["__blk"] == bi]
        right = pdf[pdf["__blk"] == bj] if bi != bj else left
        if left.empty or right.empty:
            return empty
        X = np.stack(left["__vec"].to_numpy()).astype("float64")
        Y = np.stack(right["__vec"].to_numpy()).astype("float64")
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
        S = Xn @ Yn.T
        ia, ib = np.where(S >= threshold)
        ids_a = left["__id"].to_numpy()[ia]
        ids_b = right["__id"].to_numpy()[ib]
        sims = S[ia, ib]
        if bi == bj:
            # each unordered pair appears as (x,y) and (y,x); the
            # ordered filter also drops self-pairs (cos = 1)
            keep = ids_a < ids_b
            lo, hi, sims = ids_a[keep], ids_b[keep], sims[keep]
        else:
            # blocks are disjoint: each pair appears once — reorder
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims})

    return (
        rep.groupBy("__bi", "__bj")
        .applyInPandas(score, schema="id_a long, id_b long, cos_sim double")
        .withColumn("cos_sim", F.round("cos_sim", 6))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: spherical k-means cells.

    Train: deterministic sample of ``n_centroids`` corpus vectors
    (smallest xxhash64(id, seed)), then ``iters`` Lloyd rounds — assign
    every vector to its max-dot centroid (centroids broadcast; argmax
    via max_by, no shuffle of the corpus beyond the tiny re-mean agg),
    re-mean, re-normalize. Centroids round-trip through the driver each
    round: n_centroids × dim doubles — the standard k-means control
    flow; everything row-scale stays distributed. At 100 TB, train on
    a sample and run the final assignment once.

    Search: each query probes its ``n_probe`` nearest cells and exact-
    ranks only those cells' vectors. n_probe = n_centroids degrades to
    exact brute force (the recall test pins this identity).
    """
    from pyspark import StorageLevel

    norm_corpus = (
        corpus.select(
            F.col(id_col).cast("long").alias("__id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("__v"),
        )
        .withColumn("__v", F.transform("__v", lambda x: x / _norm(F.col("__v"))))
        # init + every Lloyd round + the final assignment each re-scan
        # this — materialize once (at 100 TB: a parquet staging table)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    spark = corpus.sparkSession
    init = (
        norm_corpus.withColumn("__h", F.xxhash64("__id", F.lit(seed)))
        .orderBy("__h")
        .limit(n_centroids)
        .select("__v")
        .collect()
    )
    centroids = [(i, list(r["__v"])) for i, r in enumerate(init)]

    import numpy as np
    import pandas as pd

    def assigned_df(cents: list[tuple[int, list[float]]]):
        # argmax over the (tiny) centroid matrix as one numpy matmul
        # per Arrow batch — no row blow-up, no per-element lambdas.
        order = [c[0] for c in cents]
        mat = np.array([c[1] for c in cents], dtype="float64")

        def fn(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf["__v"].to_numpy())
                best = np.argmax(X @ mat.T, axis=1)
                yield pd.DataFrame(
                    {
                        "__id": pdf["__id"],
                        "cell": [order[i] for i in best],
                        "__v": pdf["__v"],
                    }
                )

        return norm_corpus.mapInPandas(fn, "__id long, cell int, __v array<double>")

    for _ in range(iters):
        means = (
            assigned_df(centroids)
            .select("cell", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("entries"))
            .select("cell", F.transform("entries", lambda e: e["m"]).alias("c_vec"))
            .withColumn("c_vec", F.transform("c_vec", lambda x: x / _norm(F.col("c_vec"))))
            .collect()
        )
        centroids = [(r["cell"], list(r["c_vec"])) for r in means]

    def centroid_df():
        return F.broadcast(
            spark.createDataFrame(centroids, "cell int, c_vec array<double>")
        )

    cells = assigned_df(centroids).select(
        F.col("__id").alias("neighbor_id"), "cell", F.col("__v").alias("c_vec_n")
    )
    q_norm = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("q_v"),
    ).withColumn("q_v", F.transform("q_v", lambda x: x / _norm(F.col("q_v"))))
    from news_lakehouse_spark.operators.windows import top_k_per_group

    probes = top_k_per_group(
        q_norm.crossJoin(centroid_df()).withColumn(
            "__dot", _dot(F.col("q_v"), F.col("c_vec"))
        ),
        ["query_id"],
        [F.col("__dot").desc(), F.col("cell").asc()],
        n_probe,
    ).select("query_id", "q_v", "cell")

    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_dot(F.col("q_v"), F.col("c_vec_n")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    floor: float | None = None,
) -> DataFrame:
    """recall@k of an approximate top-k result against the exact one.

    Both inputs are (query_id, neighbor_id, ...) top-k frames. Output
    is one row per query: (query_id, n_hits, recall). With ``floor``
    set, queries whose recall falls below it are DROPPED — so a recall
    regression shows up as a row-count change in any harness that only
    counts rows. The right-side hit join is broadcast: top-k frames are
    (#queries x k) rows, never corpus-sized.
    """
    ex = exact.select("query_id", "neighbor_id")
    ap = approx
    if "rank" in ap.columns:  # honor recall@K: ignore result rows past k
        ap = ap.filter(F.col("rank") <= k)
    hits = (
        # distinct: left_semi dedups only the RIGHT side — duplicated
        # approx pairs must not count twice (recall > 1 / padded floors)
        ap.select("query_id", "neighbor_id")
        .distinct()
        .join(F.broadcast(ex), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    # queries with zero hits still get a row (recall 0), via the exact
    # side; the denominator is the query's ACTUAL exact-result size —
    # a query with fewer than k true neighbors can still score 1.0
    base = ex.groupBy("query_id").agg(
        F.least(F.count("*"), F.lit(k)).alias("__n_exact")
    )
    out = (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("__n_exact"), 6
            ).alias("recall"),
        )
    )
    if floor is not None:
        out = out.filter(F.col("recall") >= floor)
    return out


def hyperplanes(planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-bit bucketing. Exposed
    so an external oracle can inline the SAME plane literals and
    reproduce the bucketing bit-for-bit."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((int(planes), int(dim))).tolist()


def _auto_planes(n_rows: int, target_bucket_rows: int) -> int:
    """planes ≈ log2(n / target) so the EXPECTED bucket stays at
    target_bucket_rows regardless of corpus size — the plane count
    grows with the corpus instead of being sized for a fixture."""
    import math

    if n_rows <= target_bucket_rows:
        return 1
    return min(24, max(1, math.ceil(math.log2(n_rows / target_bucket_rows))))


def _sign_bucket(vec: Column, hp: list[list[float]]) -> Column:
    """Hyperplane sign-bit bucket id from literal planes (codegen'd)."""
    b: Column = F.lit(0).cast("long")
    for i, plane in enumerate(hp):
        lits = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, lits, lambda a, x: a * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        b = b + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return b


def semantic_index_ingest(
    index,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 4,
    threshold: float = 0.95,
    seed: int = 7,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Persisted-index SemDeDup ingest over a VersionedParquetTable.

    The index table stores ``(id, embedding, bucket)`` PARTITIONED BY
    bucket; each increment (1) hashes only the batch, (2) reads the
    index pruned to batch-hit buckets at the MANIFEST level
    (``read(partition_filter={"bucket": hit})`` — at 100 TB the
    listing never even sees other buckets' files), (3) classifies the
    batch with ``incremental_semantic_dedup`` trusting the stored
    bucket column, and (4) MERGE-commits only the admitted rows as a
    new atomic version. Returns the verdict DataFrame (persisted —
    the caller can act on it after the commit without recompute).

    The distinct-bucket collect is bounded by min(2^planes, batch
    rows). First ingest (no committed version) classifies the batch
    against itself only.
    """
    spark = index.spark
    hp = hyperplanes(planes, dim, seed)
    b = batch.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).alias(vec_col),
        _sign_bucket(F.col(vec_col), hp).alias("bucket"),
    )
    from pyspark import StorageLevel

    b = b.persist(StorageLevel.MEMORY_AND_DISK)
    hit = [r["bucket"] for r in b.select("bucket").distinct().collect()]
    if index.latest_version() is None:
        corpus = spark.createDataFrame([], b.schema)
    else:
        corpus = index.read(partition_filter={"bucket": hit})
    verdicts = incremental_semantic_dedup(
        corpus,
        b,
        id_col,
        vec_col,
        dim=dim,
        planes=planes,
        threshold=threshold,
        seed=seed,
        max_bucket_size=max_bucket_size,
        corpus_bucket_col="bucket",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    admitted = b.join(
        verdicts.filter(F.col("admit") == 1).select(id_col), id_col
    ).select(id_col, vec_col, "bucket")
    index.merge(admitted, [id_col], partition_by=["bucket"])
    b.unpersist()
    return verdicts


def incremental_semantic_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 4,
    threshold: float = 0.95,
    seed: int = 7,
    max_bucket_size: int | None = 100_000,
    corpus_bucket_col: str | None = None,
) -> DataFrame:
    """Incremental-ingest SemDeDup: classify each batch embedding
    against the existing corpus and against earlier batch rows — the
    embedding analog of ``incremental_minhash_dedupe`` and the way a
    100 TB pipeline actually runs semantic dedup (per increment, never
    a full re-pair of the corpus).

    Output per batch row: ``bucket``, ``in_corpus`` (some corpus vector
    in its hyperplane bucket has cosine ≥ threshold), ``dup_in_batch``
    (not in corpus, but a lower-id batch row is a semantic twin),
    ``admit`` (neither) — all 0/1 ints.

    Scale shape: ``planes`` is pinned, not auto-derived — the plane
    count is part of the persisted index's schema (re-deriving it from
    a grown corpus count would re-bucket every stored vector). The
    corpus side is pruned to buckets the batch actually hits with a
    broadcast semi-join BEFORE any vectors move (store the index
    bucket-partitioned and this prunes at the file level); each
    surviving bucket then runs one Arrow+BLAS kernel scoring
    new-vs-corpus and the new-vs-new lower-id triangle. Per-increment
    cost is O(batch × bucket_size), independent of corpus size.
    Oversized degenerate buckets (> max_bucket_size corpus rows) are
    excluded — their batch rows admit, the same recall-for-boundedness
    trade as the batch operator.
    """
    import numpy as np

    hp = hyperplanes(planes, dim, seed)

    def bucket_of(vec: Column) -> Column:
        return _sign_bucket(vec, hp)

    # A persisted index stores the bucket as a (partition) column —
    # pass corpus_bucket_col to trust it instead of re-hashing the
    # corpus side per increment.
    c_bucket = (
        F.col(corpus_bucket_col).cast("long")
        if corpus_bucket_col
        else bucket_of(F.col(vec_col))
    )
    c = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).alias("__vec"),
        c_bucket.alias("bucket"),
        F.lit(0).alias("__new"),
    )
    b = batch.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).alias("__vec"),
        bucket_of(F.col(vec_col)).alias("bucket"),
        F.lit(1).alias("__new"),
    )
    hit = b.select("bucket").distinct()
    c_pruned = c.join(F.broadcast(hit), "bucket", "left_semi")
    if max_bucket_size is not None:
        ok = (
            c_pruned.groupBy("bucket")
            .agg(F.count("*").alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("bucket")
        )
        c_pruned = c_pruned.join(F.broadcast(ok), "bucket", "left_semi")
    tagged = c_pruned.unionByName(b)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf[pdf["__new"] == 1]
        old = pdf[pdf["__new"] == 0]
        ids = new[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        N = np.stack(new["__vec"].to_numpy()[order]).astype(np.float64)
        nn = np.linalg.norm(N, axis=1)
        nn[nn == 0] = np.nan
        N /= nn[:, None]
        n = len(ids)
        in_corpus = np.zeros(n, dtype=bool)
        with np.errstate(invalid="ignore"):
            if len(old):
                O = np.stack(old["__vec"].to_numpy()).astype(np.float64)
                on = np.linalg.norm(O, axis=1)
                on[on == 0] = np.nan
                O /= on[:, None]
                blk = max(1, (64 << 20) // (max(len(O), 1) * 8))
                for s in range(0, n, blk):
                    in_corpus[s : s + blk] = (
                        (N[s : s + blk] @ O.T) >= threshold
                    ).any(axis=1)
            T = N @ N.T
            col = np.arange(n)
            dup_raw = ((T >= threshold) & (col[None, :] < col[:, None])).any(axis=1)
        bucket = pdf["bucket"].iloc[0]
        return pd.DataFrame(
            {
                id_col: ids,
                "bucket": bucket,
                "in_corpus": in_corpus.astype("int32"),
                "dup_in_batch": (dup_raw & ~in_corpus).astype("int32"),
                "admit": (~in_corpus & ~dup_raw).astype("int32"),
            }
        )

    return tagged.groupBy("bucket").applyInPandas(
        score,
        schema=f"{id_col} long, bucket long, in_corpus int, dup_in_batch int, admit int",
    )


def _bucket_twins_blas(
    joinable: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """ids with a lower-id cosine twin in their bucket, via a per-bucket
    Arrow + BLAS kernel (applyInPandas).

    The expression-tree pairwise join evaluates an interpreted
    higher-order dot product per PAIR (~µs each) — at 4096-row target
    buckets that is ~8M interpreted lambda evaluations per bucket. This
    kernel ships each bucket to one Arrow batch, normalizes the matrix
    once, and takes blocked M_blk @ M.T gram products (vectorized BLAS,
    ~100× the throughput). One shuffle on bucket — the same exchange
    the join pays — and per-task memory is bounded by max_bucket_size
    rows plus a ≤64 MB gram block. Zero-norm vectors propagate NaN
    rows, and NaN comparisons are False — same no-twin semantics as
    the expression path.
    """
    import numpy as np

    def twins(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["__vec"].to_numpy()[order]).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0] = np.nan
        M /= nrm[:, None]
        n = len(ids)
        out: list[np.ndarray] = []
        blk = max(1, (64 << 20) // (max(n, 1) * 8))
        col = np.arange(n)
        with np.errstate(invalid="ignore"):
            for s in range(0, n, blk):
                g = M[s : s + blk] @ M.T  # (b, n) cosine block
                rows = np.arange(s, min(s + blk, n))
                hit = (g >= threshold) & (col[None, :] < rows[:, None])
                out.append(ids[rows[hit.any(axis=1)]])
        return pd.DataFrame({id_col: np.concatenate(out) if out else []})

    return (
        joinable.select(id_col, "bucket", "__vec")
        .groupBy("bucket")
        .applyInPandas(twins, schema=f"{id_col} long")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int | str = "auto",
    threshold: float = 0.95,
    seed: int = 7,
    target_bucket_rows: int = 4096,
    max_bucket_size: int | None = 100_000,
    kernel: str = "blas",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (arXiv:2303.09540: cluster, then drop within-cluster semantic
    twins). Output: (id_col, bucket, kept) for every input row —
    kept = 0 iff a lower-id vector in the same bucket has cosine ≥
    threshold (deterministic min-id survivor).

    The paper clusters with k-means; here the clusters are 2^planes
    sign-bit buckets from fixed seeded hyperplanes, which keeps the
    operator deterministic (no iterative fitting) and oracle-
    reproducible — the plane literals are part of the job, not state.
    The bucket comparison is an equi-join: each bucket's pairwise
    cosine work is (n/2^planes)² expected, and `planes` tunes the
    recall/cost trade exactly like SemDeDup's k. Twins split across a
    bucket boundary are missed (the paper accepts the same miss across
    k-means cell borders); pass a larger explicit `planes` for smaller
    cells, or run ivf_topk for a probe-based variant.

    Bucket growth is bounded two ways (the r3 scale qualification):
    ``planes="auto"`` (default) sizes the plane count from one corpus
    count so expected bucket size stays at ``target_bucket_rows`` at
    ANY corpus scale; and ``max_bucket_size`` excludes degenerate
    buckets (e.g. a corpus dominated by one embedding direction, where
    no plane count splits the mass) from the pairwise join entirely —
    their rows pass through kept=1, the same recall-for-boundedness
    trade as minhash_near_duplicates' band-bucket cap. Explicit
    `planes` + `max_bucket_size=None` restores the unbounded behavior
    for oracle-pinned tests.

    Bucketing is codegen'd JVM arithmetic (zip_with dot products
    against literal arrays). The in-bucket pairwise comparison has two
    kernels: ``kernel="blas"`` (default) runs a per-bucket Arrow+BLAS
    gram-product (see _bucket_twins_blas — a deliberate Arrow boundary,
    like the MinHash signature kernel, ~100× the interpreted-expression
    throughput); ``kernel="expr"`` keeps the pure expression-tree join
    (no Python boundary at all) for environments without numpy.
    """
    if planes == "auto":
        planes = _auto_planes(corpus.count(), target_bucket_rows)
    hp = hyperplanes(planes, dim, seed)
    vec = F.col(vec_col)
    bucket: Column = F.lit(0).cast("long")
    for i, plane in enumerate(hp):
        lits = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, lits, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    base = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        vec.alias("__vec"),
        bucket.alias("bucket"),
    )
    joinable = base
    if max_bucket_size is not None:
        # degenerate-bucket guard: the size count shares the join's
        # bucket shuffle key; oversized buckets never enter the
        # pairwise join, bounding it at max_bucket_size² per bucket.
        ok_buckets = (
            base.groupBy("bucket")
            .agg(F.count("*").alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("bucket")
        )
        joinable = base.join(ok_buckets, "bucket")
    if kernel == "blas":
        dropped = _bucket_twins_blas(joinable, id_col, threshold).withColumn(
            "__dropped", F.lit(1)
        )
    else:
        # Pre-normalize ONCE per row (n ops, not n² — cosine(a, b) on
        # raw vectors recomputes both norms per PAIR, tripling the
        # dominant cost). __nrm is materialized as a plain column first
        # so the transform lambda divides by a column reference, not by
        # a subtree it would re-evaluate per element (interpreted HOFs
        # — see dedupe.shingles_of_words).
        normed = joinable.withColumn("__nrm", _norm(F.col("__vec"))).withColumn(
            "__vn", F.transform("__vec", lambda x: x.cast("double") / F.col("__nrm"))
        )
        # Spread the pairwise work across the cluster: the streamed
        # side's parallelism otherwise inherits the input file layout
        # (a one-file bucket column = one task doing EVERY bucket's
        # n²/2^p cosine pairs). Hashing on (bucket, id) rebalances at
        # the cost of one n-row exchange — noise next to the pair work
        # it distributes.
        a = normed.select(
            F.col(id_col).alias("__ida"), F.col("bucket").alias("__ba"), F.col("__vn").alias("__va")
        ).repartition(F.col("__ba"), F.col("__ida"))
        b = normed.select(
            F.col(id_col).alias("__idb"), F.col("bucket").alias("__bb"), F.col("__vn").alias("__vb")
        )
        cos = _dot(F.col("__va"), F.col("__vb"))
        # ids with a smaller-id twin in their bucket (distinct: a
        # vector may have several twins)
        dropped = (
            a.join(
                b,
                (F.col("__ba") == F.col("__bb")) & (F.col("__ida") < F.col("__idb")),
            )
            .filter(cos >= threshold)
            .select(F.col("__idb").alias(id_col))
            .distinct()
            .withColumn("__dropped", F.lit(1))
        )
    return (
        base.join(dropped, id_col, "left")
        .select(
            id_col,
            "bucket",
            F.when(F.col("__dropped").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("kept"),
        )
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    round_digits: int | None = 6,
    max_broadcast_queries: int | None = MAX_BROADCAST_QUERIES,
    corpus_blocks: int = 32,
) -> DataFrame:
    """Hard negatives for contrastive training: for each query vector,
    the k most-similar corpus vectors with a DIFFERENT label —
    (query_id, query_label, neighbor_id, neighbor_label, cos_sim,
    rank). The standard mining step behind embedding-model training
    (most-confusable other-class examples).

    Same scale shape as ``cosine_topk_bruteforce``: probe-sized query
    sets broadcast (corpus scanned once), sets past
    ``max_broadcast_queries`` switch to the block-nested shuffle join
    (``_pair_with_queries``) so a million-query mining run can't OOM
    the executors; the two-level partial top-k keeps the scored set
    from shuffling either way. Label comparison is null-safe: a
    NULL-label neighbor counts as a different label from any non-NULL
    query label (and same as a NULL one). Ties break on descending
    neighbor_id, matching the top-k convention.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("query_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        _pair_with_queries(
            c,
            q,
            (F.col("neighbor_id") != F.col("query_id"))
            & ~F.col("neighbor_label").eqNullSafe(F.col("query_label")),
            max_broadcast_queries,
            corpus_blocks,
        )
        .withColumn("cos_sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "query_label", "neighbor_id", "neighbor_label", "cos_sim")
    )
    head = F.slice(
        F.sort_array(
            F.collect_list(F.struct("cos_sim", "neighbor_id", "neighbor_label")),
            asc=False,
        ),
        1,
        k,
    )
    partial = (
        scored.withColumn("__p", F.spark_partition_id())
        .groupBy("query_id", "query_label", "__p")
        .agg(head.alias("top"))
        .select("query_id", "query_label", F.explode("top").alias("entry"))
        .select(
            "query_id",
            "query_label",
            "entry.cos_sim",
            "entry.neighbor_id",
            "entry.neighbor_label",
        )
    )
    topk = (
        partial.groupBy("query_id", "query_label")
        .agg(head.alias("top"))
        .select("query_id", "query_label", F.posexplode("top").alias("rank0", "entry"))
        .select(
            "query_id",
            "query_label",
            F.col("entry.neighbor_id").alias("neighbor_id"),
            F.col("entry.neighbor_label").alias("neighbor_label"),
            F.col("entry.cos_sim").alias("cos_sim"),
            (F.col("rank0") + 1).alias("rank"),
        )
    )
    if round_digits is not None:
        topk = topk.withColumn("cos_sim", F.round("cos_sim", round_digits))
    return topk


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """k-NN majority-vote auto-labeling over the embedding column:
    (query_id, predicted_label, votes, best_rank) — the label most
    common among the query's k exact cosine neighbors, ties broken by
    the label holding the closest neighbor (lowest rank), then by
    label order, so the vote is fully deterministic.

    Scale shape: rides cosine_topk_bruteforce (queries broadcast, the
    corpus streams, two-level partial top-k — no corpus shuffle); the
    (queries × k)-row neighbor table then broadcasts INTO the corpus
    scan to fetch labels, and the vote aggregates (queries × ≤k) rows.
    Train-data use: propagating curated labels (topic, quality tier)
    from a small labeled seed set onto an unlabeled 100 TB corpus —
    run with corpus=seed per unlabeled batch as the query side.
    """
    topk = cosine_topk_bruteforce(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k, round_digits=None
    )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl")
    )
    votes = (
        labels.join(F.broadcast(topk), "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(
            F.count("*").cast("int").alias("votes"),
            F.min("rank").cast("int").alias("best_rank"),
        )
    )
    # argmin over (−votes, best_rank, label): struct comparison is
    # field-lexicographic, so one aggregate picks the winner exactly
    pick = F.min(
        F.struct(
            (-F.col("votes")).alias("nv"),
            F.col("best_rank").alias("br"),
            F.col("__lbl").alias("lbl"),
        )
    )
    return (
        votes.groupBy("query_id")
        .agg(pick.alias("__p"))
        .select(
            "query_id",
            F.col("__p.lbl").alias("predicted_label"),
            (-F.col("__p.nv")).cast("int").alias("votes"),
            F.col("__p.br").cast("int").alias("best_rank"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column.

    The storage/bandwidth workhorse of large-scale ANN: scale =
    max|v_i| / 127, q_i = round(v_i / scale) ∈ [-127, 127], so each
    float32 becomes one byte (plus one float scale per vector) — a
    ~4× shrink of a 100 TB embedding store, and int8 dot products are
    what SIMD ANN kernels consume. Cosine is scale-invariant, so
    cos(v, dequantized) == cos(v, q) and ANN ranking degrades only by
    the rounding error (~1e-2 worst-case per dim at 8 bits).

    Pure narrow plan: no shuffle, no Python — higher-order functions
    (transform/aggregate) evaluate JVM-side per row, so the operator
    scans and rewrites embeddings at full parallelism. Zero vectors
    quantize to all-zero with scale 0.

    Output: (id, qvec array<int>, scale double). Dequantize with
    q_i * scale.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d = df.select(F.col(id_col), vd.alias("__v"))
    amax = F.aggregate(
        F.col("__v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    d = d.select(id_col, "__v", (amax / F.lit(127.0)).alias("scale"))
    qv = F.when(
        F.col("scale") > 0,
        F.transform(F.col("__v"), lambda x: F.round(x / F.col("scale"), 0).cast("int")),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    return d.select(F.col(id_col), qv.alias("qvec"), F.col("scale"))


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 4,
    sample_n: int = 256,
    iters: int = 5,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., PAMI 2011 —
    the compression scheme under FAISS's IVF-PQ).

    The vector space splits into ``m`` subspaces of dim/m dims; each
    gets its own k-means codebook of 2**nbits centroids, so a vector
    stores as m small codes — 64 float64 dims become 8 nibbles, a ~64×
    shrink, which is what makes a 100 TB embedding store scannable.

    Training runs DRIVER-SIDE on a deterministic sample (smallest
    xxhash64(id, seed), the same device as ivf_topk's init): k-means
    on sample_n × dim doubles is milliseconds of numpy, and
    sample-trained codebooks are the standard practice at any corpus
    size — only encode/search touch the full data. Returns
    ``m`` codebooks, each 2**nbits × (dim/m), as plain nested lists
    (broadcastable, JSON-serializable for a persisted index).
    """
    import numpy as np

    rows = (
        corpus.select(
            F.col(id_col).cast("long").alias("__id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("__v"),
        )
        .withColumn("__v", F.transform("__v", lambda x: x / _norm(F.col("__v"))))
        .withColumn("__h", F.xxhash64("__id", F.lit(seed)))
        .orderBy("__h")
        .limit(sample_n)
        .select("__v")
        .collect()
    )
    X = np.stack([np.asarray(r["__v"], dtype="float64") for r in rows])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub, k = dim // m, 1 << nbits
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        cent = S[rng.choice(len(S), size=min(k, len(S)), replace=False)]
        if len(cent) < k:  # degenerate tiny sample: pad with jitter
            pad = cent[rng.choice(len(cent), size=k - len(cent))]
            cent = np.vstack([cent, pad + rng.normal(0, 1e-6, pad.shape)])
        for _ in range(iters):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = S[mask].mean(axis=0)
        books.append(cent.tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` sub-codes: (id, codes array<int>).

    One Arrow-batched pass, argmin-L2 per subspace as a numpy matmul
    against the (tiny, task-broadcast) codebooks — no shuffle, no
    per-row Python. This is the table you PERSIST: the 100 TB float
    store becomes a few TB of codes that every ADC scan reads instead.
    """
    import numpy as np
    import pandas as pd

    cents = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(cents)
    dsub = cents[0].shape[1]

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["__v"].to_numpy())
            codes = np.empty((len(X), m), dtype="int32")
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                # argmin ||s-c||^2 == argmax s.c - ||c||^2/2
                scores = S @ cents[j].T - 0.5 * (cents[j] ** 2).sum(axis=1)
                codes[:, j] = scores.argmax(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["__id"], "codes": list(codes)}
            )

    d = corpus.select(
        F.col(id_col).cast("long").alias("__id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__v", F.transform("__v", lambda x: x / _norm(F.col("__v"))))
    return d.mapInPandas(fn, "vec_id long, codes array<int>")


PQ_MAX_LUT_QUERIES = 4096
"""Query-count ceiling for a single task-broadcast ADC lookup table.
The LUT is Q x m x 2^nbits doubles (e.g. 16 KiB/query at m=8,
nbits=8); 4096 queries cap it at ~64 MiB per task — comfortably under
executor memory. Past the cap ``pq_topk`` splits the query set into
hash chunks and runs one ADC pass per chunk instead of building one
giant LUT (mirrors ``_pair_with_queries``'s limit-probe + fallback)."""


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
    shortlist: int = 4,
    max_lut_queries: int | None = PQ_MAX_LUT_QUERIES,
) -> DataFrame:
    """ADC (asymmetric distance) top-k over PQ codes, with optional
    exact re-rank — the FAISS search pipeline re-expressed on Spark.

    Per Arrow batch the kernel builds each query's lookup table
    LUT[j][c] = q_j · codebook_j[c] (Q × m × 2^nbits doubles, queries
    ride along task-broadcast) and scores a row as sum_j LUT[j,
    codes[j]] — the full-precision corpus is never touched. Each batch
    emits only its own top candidates per query (partial top-k
    pushdown: the shuffle moves ≤ Q·k·partitions rows, not the
    corpus), then one global top-k. With ``corpus`` given, the ADC
    pass shortlists ``shortlist``·k candidates and an exact cosine
    re-rank of just those rows (a broadcast-semi-join-sized read)
    produces the final ranking — the standard recall repair that costs
    O(Q·k) full vectors instead of a full scan.

    Query sets past ``max_lut_queries`` (limit-probed, never a full
    materialization) are split into ``xxhash64``-hash chunks of
    expected chunk size ≤ the cap and each chunk runs its own ADC
    pass; per-query top-k results are independent across disjoint
    chunks, so the union is exactly the single-pass answer. Pass
    ``None`` to force the single-LUT plan, ``0`` to force chunking
    (tests). The corpus code table is scanned once per chunk — the
    right trade when the alternative is a driver/task OOM on the LUT.
    """
    import numpy as np
    import pandas as pd

    from news_lakehouse_spark.operators.windows import top_k_per_group

    cents = [np.asarray(b, dtype="float64") for b in codebooks]
    m = len(cents)
    dsub = cents[0].shape[1]
    if max_lut_queries is not None and (
        max_lut_queries == 0
        or queries.limit(max_lut_queries + 1).count() > max_lut_queries
    ):
        cap = max(max_lut_queries, 1)
        n_chunks = max(
            2, -(-queries.select(id_col).count() // cap)  # ceil div
        )
        chunk = F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_chunks))
        out = None
        for i in range(n_chunks):
            part = pq_topk(
                codes_df,
                queries.filter(chunk == i),
                codebooks,
                k,
                id_col,
                vec_col,
                corpus,
                shortlist,
                max_lut_queries=None,
            )
            out = part if out is None else out.unionByName(part)
        return out

    q_rows = (
        queries.select(
            F.col(id_col).cast("long").alias("__qid"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("__qv"),
        )
        .withColumn(
            "__qv", F.transform("__qv", lambda x: x / _norm(F.col("__qv")))
        )
        .collect()
    )
    if not q_rows:  # an empty hash chunk: keep the union shape stable
        schema = (
            "query_id long, neighbor_id long, adc_score double, rank int"
            if corpus is None
            else "query_id long, neighbor_id long, cos_sim double, rank int"
        )
        return codes_df.sparkSession.createDataFrame([], schema)
    qids = np.asarray([r["__qid"] for r in q_rows], dtype="int64")
    Q = np.stack([np.asarray(r["__qv"], dtype="float64") for r in q_rows])
    # LUT[q, j, c] = dot(q_sub_j, cent_j_c)
    lut = np.stack(
        [Q[:, j * dsub : (j + 1) * dsub] @ cents[j].T for j in range(m)],
        axis=1,
    )
    want = k * (shortlist if corpus is not None else 1)

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype("int64")
            ids = pdf["vec_id"].to_numpy()
            # scores[q, n] = sum_j lut[q, j, codes[n, j]]
            scores = np.zeros((len(qids), len(ids)))
            for j in range(m):
                scores += lut[:, j, codes[:, j]]
            # mask each query's own row BEFORE the partial sort, so the
            # batch holding it still yields `want` other candidates
            scores[qids[:, None] == ids[None, :]] = -np.inf
            take = min(want, len(ids))
            top = np.argpartition(-scores, take - 1, axis=1)[:, :take]
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                sel = top[qi]
                sel = sel[ids[sel] != qids[qi]]
                out_q.extend([qids[qi]] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(scores[qi, sel])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "adc_score": pd.Series(out_s, dtype="float64"),
                }
            )

    cand = top_k_per_group(
        codes_df.mapInPandas(
            fn, "query_id long, neighbor_id long, adc_score double"
        ),
        ["query_id"],
        [F.col("adc_score").desc(), F.col("neighbor_id").asc()],
        want,
    )
    if corpus is None:
        return top_k_per_group(
            cand,
            ["query_id"],
            [F.col("adc_score").desc(), F.col("neighbor_id").asc()],
            k,
        ).select(
            "query_id",
            "neighbor_id",
            F.round("adc_score", 6).alias("adc_score"),
            "rank",
        )
    vecs = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__nv"),
    ).withColumn("__nv", F.transform("__nv", lambda x: x / _norm(F.col("__nv"))))
    qdf = F.broadcast(
        codes_df.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
            "query_id long, __qv array<double>",
        )
    )
    reranked = (
        vecs.join(F.broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id")
        .join(qdf, "query_id")
        .withColumn("cos_sim", F.round(_dot(F.col("__qv"), F.col("__nv")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return top_k_per_group(
        reranked,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def pq_index_ingest(
    index,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 6,
    sample_n: int = 400,
    iters: int = 5,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Persisted PQ index over a VersionedParquetTable: ``(vec_id,
    codes)`` maintained incrementally, the ANN sibling of
    ``semantic_index_ingest``.

    The FIRST ingest trains codebooks on the batch and every commit
    carries them in the manifest ``properties`` (m·2^nbits·dim/m
    doubles — manifest-sized); later ingests LOAD the stored codebooks
    and encode ONLY the new batch, merge-committing its codes: codes
    stay mutually comparable because the codebooks never retrain (the
    FAISS contract — retraining requires re-encoding, i.e. a new
    index). Search = ``pq_topk(index.read(), queries, books, ...)``;
    at 100 TB the code table the ADC scan reads is ~64× smaller than
    the float store and each ingest costs one Arrow pass over the
    batch plus an O(batch) merge. Returns the codebooks.
    """
    import json as _json

    key = "pq_codebooks"
    if index.latest_version() is None:
        books = pq_train(
            batch, id_col, vec_col, m, nbits, sample_n, iters, seed
        )
    else:
        stored = index.snapshot_properties().get(key)
        if not stored:
            raise ValueError(
                f"index at {index.path} has no {key} property; was it "
                "created by pq_index_ingest?"
            )
        books = _json.loads(stored)
    codes = pq_encode(batch, books, id_col, vec_col)
    index.merge(codes, ["vec_id"], properties={key: _json.dumps(books)})
    return books
