"""Driver-contract query suite.

One named query per implemented operator family from SURVEY.md §2 plus
the LLM-pipeline extensions, each runnable as fn(spark, sf_dir) over
the test corpus, with a DuckDB oracle twin in ORACLES (omitted only
for ops whose semantics SQL can't express — xxhash64 surrogate keys,
approximate LSH similarity — which the driver checks rows-only).

Column-name/type discipline: every computed column is aliased
identically in the Spark plan and the oracle SQL; DuckDB aggregate
types are cast to Spark's (count/sum → BIGINT, row_number → INT).
Floating-point aggregates are rounded on both sides (sums → 2 digits,
ratios/averages → 6) so engine-order summation differences can't flip
the value hash.
"""

from __future__ import annotations

import contextlib
import os
import time as _time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_lakehouse_spark.functions.jsonmap import int_map_values, parse_json_map
from news_lakehouse_spark.functions.keys import (
    sha2_key,
    sha2_prefix_long,
    surrogate_key_safe,
)
from news_lakehouse_spark.functions.text import normalize_blank, read_time_minutes, word_count
from news_lakehouse_spark.functions.timestamps import parse_timestamp_any
from news_lakehouse_spark.operators.dedupe import (
    exact_dedupe_deterministic,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from news_lakehouse_spark.operators.merge import (
    merge_insert_only,
    merge_upsert,
    scd2_merge,
)
from news_lakehouse_spark.operators.rangejoin import range_join_bucketed
from news_lakehouse_spark.operators.similarity import (
    ann_recall_at_k,
    cosine_topk_bruteforce,
    embedding_near_duplicates,
    ivf_topk,
    lsh_bucketed_topk,
)
from news_lakehouse_spark.operators.skew import salted_aggregate, salted_join
from news_lakehouse_spark.operators.textmetrics import (
    CORPUS_FILTER_RULES,
    LANG_MARKERS,
    corpus_filter,
    document_fingerprint,
    language_scores,
    quality_metrics,
    redact_pii,
    repetition_metrics,
    token_count,
    whitespace_token_count,
)
from news_lakehouse_spark.operators.windows import (
    asof_last,
    dedupe_latest,
    top_k_per_group,
)
from news_lakehouse_spark.sources.readers import read_table
from news_lakehouse_spark.streaming.windows import (
    session_window_counts,
    sessionize,
    windowed_event_counts,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# Operator-only phase spans for the multi-commit table-layer queries
# (r7 verdict #6): their bench rows are dominated by the in-query
# fixture setup (3 commits of orders), which can mask a regression in
# the operator itself. Queries wrap the operator call in _op_phase();
# bench.py snapshots this dict (min across its runs) into
# BENCH_LOCAL_r{N}.json under "operator_phases". Correctness runs
# record too — the cost is one perf_counter pair.
PHASE_TIMINGS: dict[str, dict[str, float]] = {}


@contextlib.contextmanager
def _op_phase(query: str, phase: str):
    t0 = _time.perf_counter()
    yield
    cur = PHASE_TIMINGS.setdefault(query, {})
    dt = _time.perf_counter() - t0
    cur[phase] = round(min(cur.get(phase, float("inf")), dt), 3)


def _tmp_table_path(prefix: str, sf_dir: str) -> str:
    """Fresh, collision-proof scratch path for a query-built table.

    pid + sf_dir hash keep the name greppable for forensics; the uuid
    nonce guarantees two executions of the SAME query in the SAME
    process can never share a path. That matters because every
    table-building query returns a LAZY DataFrame over its scratch
    table — the driver collects it after the function returns — so a
    reused path plus the per-run rmtree is a silent wrong-values race
    (the only mechanism consistent with the r8/r9 driver-only,
    serially-unreproducible hash mismatches on the evolution queries).
    """
    import hashlib as _hl
    import tempfile as _tf
    import uuid as _uuid

    _gc_dead_scratch_tables()
    path = os.path.join(
        _tf.gettempdir(),
        f"nlh_{prefix}_{os.getpid()}_"
        + _hl.sha1(sf_dir.encode()).hexdigest()[:10]
        + "_"
        + _uuid.uuid4().hex[:8],
    )
    _register_scratch_atexit(path)
    return path


_SCRATCH_PATHS: list[str] = []


def _register_scratch_atexit(path: str) -> None:
    """Reclaim scratch tables at creating-process exit (ADVICE r10):
    without this an r-run bench accumulates r copies per table-building
    query for the life of the process, and a dead pid recycled to a
    live process would keep its garbage past the pid-liveness GC.
    Safe at exit: the returned DataFrames' lazy reads have completed by
    then (the driver collects within the same process)."""
    if not _SCRATCH_PATHS:
        import atexit as _ax
        import shutil as _sh

        def _reap() -> None:
            for p in _SCRATCH_PATHS:
                _sh.rmtree(p, ignore_errors=True)

        _ax.register(_reap)
    _SCRATCH_PATHS.append(path)


_GC_DONE = False


def _gc_dead_scratch_tables() -> None:
    """Once per process: reap nlh_* scratch tables whose creating pid
    is gone (the uuid nonce makes every run's tables garbage after the
    process exits; live pids are never touched, so a concurrent
    driver's in-flight lazy reads stay safe). Only dirs owned by the
    CURRENT user are touched (ADVICE r10): in a shared /tmp another
    user's nlh_* dir may belong to a pid namespace we can't probe, and
    removing someone else's live scratch data is never ours to do.
    The creating process also reaps its own paths at exit
    (_register_scratch_atexit), so this is the crash-recovery path."""
    global _GC_DONE
    if _GC_DONE:
        return
    _GC_DONE = True
    import re as _re
    import shutil as _sh
    import tempfile as _tf

    tmp = _tf.gettempdir()
    pat = _re.compile(r"^nlh_.+_(\d+)_[0-9a-f]{10}(_[0-9a-f]{8})?$")
    try:
        names = os.listdir(tmp)
        me = os.geteuid()
    except (OSError, AttributeError):
        return
    for name in names:
        m = pat.match(name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        full = os.path.join(tmp, name)
        try:
            if os.lstat(full).st_uid != me:
                continue
        except OSError:
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            _sh.rmtree(full, ignore_errors=True)
        except PermissionError:
            continue  # pid alive under another user


def _session_snapshot(spark: SparkSession) -> dict:
    """Session facts worth having in a diag file when a driver-run
    divergence can't be reproduced locally (r9 verdict #1c): if a red
    recurs, the diag names the environment delta instead of leaving
    another anonymous hash mismatch."""
    confs = [
        "spark.master",
        "spark.sql.ansi.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.parquet.enableVectorizedReader",
        "spark.sql.files.maxPartitionBytes",
        "spark.default.parallelism",
    ]
    snap = {"spark.version": spark.version}
    for k in confs:
        try:
            snap[k] = spark.conf.get(k, None)
        except Exception:  # noqa: BLE001 - diag must never fail a query
            snap[k] = "<unreadable>"
    return snap


def _write_diag(name: str, payload: dict) -> None:
    """Best-effort diag drop at a stable /tmp path (overwritten per
    run) so even a transient driver-run divergence leaves evidence."""
    import json as _json
    import tempfile as _tf

    try:
        with open(
            os.path.join(_tf.gettempdir(), f"nlh_{name}_diag.json"), "w"
        ) as fh:
            _json.dump(payload, fh, default=str)
    except OSError:
        pass


def _read_fingerprint(df: DataFrame) -> dict:
    """Order-insensitive multiset fingerprint of a DataFrame, one
    collect: row count + sum of per-row xxhash64 over a canonical
    JSON rendering (stable for nested arrays/structs)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(
                F.to_json(F.struct(*[F.col(c) for c in df.columns]))
            ).cast("decimal(38,0)")  # bigint sum overflows under ANSI
        ).alias("h"),
    ).collect()[0]
    return {"rows": row["n"], "hash": str(row["h"])}



# Shared normalization fragment for DuckDB oracles (mirrors
# operators.dedupe.normalized_text):
_NT = (
    "trim(regexp_replace(regexp_replace(lower({c}),"
    " '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


# --- reference-surface queries -------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy → 8 aggregates → sort.

    Exercises A-family aggregation (SURVEY §2.4) at fact scale; the
    plan must be scan + partial/final hash agg, no extra shuffle.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def s2_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P1/P2: declared-schema scan with pushed filter + pruned columns."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")


_S2_SQL = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
"""


def p3_normalize_blank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: trim + blank→NULL normalization (with injected dirty rows)."""
    d = read_table(spark, sf_dir, "documents")
    dirty = F.when(F.col("doc_id") % 10 == 0, F.lit("   ")).otherwise(
        F.concat(F.lit("  "), F.col("source"), F.lit(" "))
    )
    return d.select(
        "doc_id", normalize_blank(dirty).alias("source_norm")
    )


_P3_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN NULL ELSE trim('  ' || source || ' ') END
           AS source_norm
FROM documents
"""


def a1_count_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+J2: pre-aggregated child counts left-joined to the parent
    (reference keyword/reference counts per article, s2g:566-572)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("item_count"))
    return orders.join(
        cnt, orders.o_orderkey == cnt.l_orderkey, "left"
    ).select(
        "o_orderkey",
        F.coalesce(F.col("item_count"), F.lit(0)).alias("item_count"),
    )


_A1_SQL = """
SELECT o_orderkey,
       CAST(coalesce(c.item_count, 0) AS BIGINT) AS item_count
FROM orders LEFT JOIN (
    SELECT l_orderkey, count(*) AS item_count FROM lineitem GROUP BY l_orderkey
) c ON o_orderkey = c.l_orderkey
"""


def a2_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + extension: exact content dedup, deterministic survivor."""
    d = read_table(spark, sf_dir, "documents")
    return exact_dedupe_deterministic(d, "text", "doc_id")


_A2_SQL = f"""
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY sha256({_NT.format(c='text')})
"""


def j1_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast left equi-join dim enrichment (subtopics⟕topics)."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left"
    ).select("n_nationkey", "n_name", "r_name")


_J1_SQL = """
SELECT n_nationkey, n_name, r_name
FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
"""


def j4_three_way_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: 3-way inner join + aggregation (interactions⨝comments⨝articles)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_J4_SQL = """
SELECT c_mktsegment,
       count(DISTINCT o_orderkey) AS n_orders,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def j6_flat_serving_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/S14: denormalized serving view — fact ⟕ three dims, all
    broadcast (reference vw_articles_flat, g2bq:185-209)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            "c_name",
            "c_mktsegment",
            "n_name",
            "r_name",
        )
    )


_J6_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, c_name, c_mktsegment, n_name, r_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
WHERE o_orderkey % 100 = 0
"""


def s8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: MERGE upsert semantics (update-all + insert) as relational
    composition — source wins, unmatched target survives."""
    o = read_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )
    # ×2 is exact in binary floating point — no cross-engine rounding
    # ambiguity in the "updated" measure
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("price"),
    )
    return merge_upsert(target, source, ["o_orderkey"])


_S8_SQL = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 3 <> 0
), source AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM source
UNION ALL
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
"""


def s9_merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: insert-only MERGE (link tables) = target ∪ (source ∖ target)."""
    o = read_table(spark, sf_dir, "orders")
    target = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_custkey", "o_orderpriority")
        .dropDuplicates()
    )
    source = o.select("o_custkey", "o_orderpriority").dropDuplicates()
    return merge_insert_only(target, source, ["o_custkey", "o_orderpriority"])


_S9_SQL = """
WITH target AS (
  SELECT DISTINCT o_custkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
), source AS (
  SELECT DISTINCT o_custkey, o_orderpriority FROM orders
)
SELECT * FROM target
UNION ALL
SELECT s.* FROM source s
WHERE NOT EXISTS (
  SELECT 1 FROM target t
  WHERE t.o_custkey = s.o_custkey AND t.o_orderpriority = s.o_orderpriority
)
"""


def u1_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName with allowMissingColumns (dim_author sourcing)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("entity"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("entity"),
    )
    return c.unionByName(s, allowMissingColumns=True)


_U1_SQL = """
SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment,
       'customer' AS entity
FROM customer
UNION ALL
SELECT s_name, s_acctbal, NULL, 'supplier' FROM supplier
"""


def w1_dedupe_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: deterministic dedup — latest event per user via row_number."""
    e = read_table(spark, sf_dir, "events")
    return dedupe_latest(
        e, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "ts", "event_type")


_W1_SQL = """
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events
) WHERE rn = 1
"""


def o2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-k per group (first-N comments per article analog)."""
    o = read_table(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )


_O2_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def f5_sha2_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+F5: content-hash identity — sha2-256 over '||'-joined parts."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        sha2_key(F.col("source"), F.col("doc_id").cast("string")).alias("content_id"),
    )


_F5_SQL = """
SELECT doc_id,
       sha256(concat_ws('||', trim(source), trim(CAST(doc_id AS VARCHAR))))
           AS content_id
FROM documents
"""


def f7_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7+M1: word count, char count, estimated read time."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        word_count("text").alias("n_words"),
        F.length("text").alias("n_chars_calc"),
        F.round(read_time_minutes("text"), 6).alias("read_minutes"),
    )


_F7_SQL = """
SELECT doc_id,
       CAST(len(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ')) AS INT)
           AS n_words,
       CAST(length(text) AS INT) AS n_chars_calc,
       round(len(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ')) / 220.0, 6)
           AS read_minutes
FROM documents
"""


def d1_timestamp_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D2: multi-format cascade + epoch disambiguation, round-trip.

    Serializes each event ts into one of 4 dirty formats by id, then
    parses back through the full reference cascade (epoch → VN → the
    11-format coalesce). The oracle knows the true value: whole-second
    truncation in every branch (reference epoch math drops sub-seconds).
    """
    e = read_table(spark, sf_dir, "events")
    mod = F.col("event_id") % 4
    s = (
        F.when(mod == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(mod == 1, F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
        .when(mod == 2, F.unix_timestamp(F.col("ts").cast("timestamp")).cast("string"))
        .otherwise(F.unix_millis(F.col("ts").cast("timestamp")).cast("string"))
    )
    return e.select(
        "event_id",
        s.alias("raw"),
        parse_timestamp_any(s).alias("parsed_ts"),
    )


_D1_SQL = """
SELECT event_id,
       CASE CAST(event_id % 4 AS INT)
         WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
         WHEN 1 THEN strftime(ts, '%d/%m/%Y %H:%M:%S')
         WHEN 2 THEN CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
         ELSE CAST(epoch_ms(date_trunc('milliseconds', ts)) AS VARCHAR)
       END AS raw,
       CASE CAST(event_id % 4 AS INT)
         WHEN 1 THEN date_trunc('minute', ts)
         ELSE date_trunc('second', ts)
       END AS parsed_ts
FROM events
"""


def d5_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5+D6: calendar dimension derivation (dim_date, s2g:355-371)."""
    o = read_table(spark, sf_dir, "orders")
    d = F.col("full_date")
    return (
        o.select(F.to_date("o_orderdate").alias("full_date"))
        .distinct()
        .select(
            (F.year(d) * 10000 + F.month(d) * 100 + F.dayofmonth(d))
            .cast("int")
            .alias("date_key"),
            "full_date",
            F.date_format(d, "EEEE").alias("day_name"),
            F.dayofmonth(d).alias("day_of_month"),
            F.dayofyear(d).alias("day_of_year"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.month(d).alias("month_num"),
            F.quarter(d).alias("quarter"),
            F.year(d).alias("year"),
        )
    )


_D5_SQL = """
SELECT CAST(year(full_date) * 10000 + month(full_date) * 100
            + dayofmonth(full_date) AS INT) AS date_key,
       full_date,
       dayname(full_date) AS day_name,
       CAST(dayofmonth(full_date) AS INT) AS day_of_month,
       CAST(dayofyear(full_date) AS INT) AS day_of_year,
       monthname(full_date) AS month_name,
       CAST(month(full_date) AS INT) AS month_num,
       CAST(quarter(full_date) AS INT) AS quarter,
       CAST(year(full_date) AS INT) AS year
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date FROM orders)
"""


def n4_json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4-N6: stringified-JSON map → typed map → exploded entries
    (reference interaction_details pattern, b2s:371-385)."""
    e = read_table(spark, sf_dir, "events")
    m = e.select(
        "event_id", int_map_values(parse_json_map("props")).alias("m")
    )
    return m.select(
        "event_id", F.explode_outer(F.map_entries("m")).alias("entry")
    ).select(
        "event_id",
        F.col("entry.key").alias("prop_key"),
        F.col("entry.value").alias("prop_value"),
    )


_N4_SQL = """
SELECT e.event_id, k.key AS prop_key,
       coalesce(try_cast(json_extract_string(e.props, '$."' || k.key || '"') AS INT), 0)
           AS prop_value
FROM events e, unnest(json_keys(e.props)) AS k(key)
"""


def m3_surrogate_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/F6: xxhash64 surrogate keys with NULL→-1 sentinel.

    DuckDB has no xxhash64, so instead of emitting raw hashes the
    query emits the key's *observable contract*, which IS
    SQL-checkable: blanks hit the sentinel (is_sentinel), and the key
    partitions rows exactly like the natural key does (key_group_rows
    computed by partitioning on the hash must equal the oracle's
    partitioning on the name) — i.e. the hash is injective on the
    fixture and sentinel rows collapse into one group. Unit tests pin
    the raw xxhash64/sentinel values.
    """
    n = read_table(spark, sf_dir, "nation")
    nk = F.when(F.col("n_nationkey") % 5 != 0, F.col("n_name"))
    keyed = n.select(
        "n_nationkey",
        nk.alias("nation_nk"),
        surrogate_key_safe(nk).alias("nation_key"),
    )
    return keyed.select(
        "n_nationkey",
        "nation_nk",
        (F.col("nation_key") == -1).cast("int").alias("is_sentinel"),
        F.count("*")
        .over(Window.partitionBy("nation_key"))
        .cast("long")
        .alias("key_group_rows"),
    )


_M3_SQL = """
SELECT n_nationkey,
       CASE WHEN n_nationkey % 5 <> 0 THEN n_name END AS nation_nk,
       CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END AS is_sentinel,
       CAST(count(*) OVER (
           PARTITION BY CASE WHEN n_nationkey % 5 <> 0 THEN n_name END
       ) AS BIGINT) AS key_group_rows
FROM nation
"""


def t_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension: tumbling event-time window aggregation (the
    streaming operator, batch-evaluated — F.window works in both)."""
    e = read_table(spark, sf_dir, "events")
    return windowed_event_counts(e, "5 minutes")


_T_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def x_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap-based session sequence per user (lag + cumsum)."""
    e = read_table(spark, sf_dir, "events")
    s = sessionize(e, gap_seconds=1800)
    return s.select(
        "event_id", "user_id", "ts", F.col("session_seq").cast("long").alias("session_seq")
    )


_SESSIONIZE_SQL = """
SELECT event_id, user_id, ts,
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                   > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM events
)
"""


def o1_sort_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O3: global recency sort + limit (crawler upload ordering)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "ts", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )


_O1_SQL = """
SELECT event_id, ts, event_type FROM events
ORDER BY ts DESC, event_id DESC LIMIT 100
"""


def j7_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS) — SURVEY §2.3 notes the
    reference leaves these implicit in MERGE; the engine exposes both."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    has = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_orders")
    )
    hasnt = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_orders")
    )
    return has.unionByName(hasnt)


_J7_SQL = """
SELECT c_custkey, TRUE AS has_orders FROM customer c
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, FALSE FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
"""


def u2_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond union: INTERSECT and EXCEPT (distinct forms)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("set_op", F.lit("intersect"))
    # subtract = distinct EXCEPT (exceptAll is the multiset form, which
    # would keep keys that appear in both when the left has duplicates)
    only_c = c.subtract(s).withColumn("set_op", F.lit("except"))
    return both.unionByName(only_c)


_U2_SQL = """
SELECT nationkey, 'intersect' AS set_op FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'except' AS set_op FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT s_nationkey FROM supplier
)
"""


def a4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (extension beyond the reference's aggs)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


_A4_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def a5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_A5_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def a6_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (linestatus → columns)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


_A6_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
FROM lineitem GROUP BY l_returnflag
"""


def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per group, hash-checked via an
    error-bound contract: the sketch estimate itself is
    engine-specific (no DuckDB twin), so the query emits the exact
    distinct count plus a boolean pinning the sketch within 5% of it.
    A sketch regression flips approx_ok to 0 and the value hash
    catches it; unit tests additionally pin the error at <5%."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey"))
            <= 0.05 * F.countDistinct("l_partkey")
        )
        .cast("int")
        .alias("approx_ok"),
    )


_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       1 AS approx_ok
FROM lineitem GROUP BY l_returnflag
"""


def x_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK quantile summaries) per group, hash-checked
    via an error-bound contract like x_approx_distinct: the sketch
    value is engine-specific, so the query emits exact percentiles plus
    booleans pinning the sketch within 1.5% relative error of each.

    The exact percentiles are ORDER STATISTICS (k-th smallest value,
    k = ⌈p·n⌉), not interpolated: the emitted value is a raw data
    value, so the cross-engine hash cannot trip over interpolation
    round-off the way percentile_cont's `a + (b−a)·frac` can.
    """
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("l_extendedprice"))
    )
    approx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
    )
    ok = lambda i, ex: (  # noqa: E731
        F.abs(F.element_at(approx, i) - ex) <= 0.015 * F.abs(ex)
    ).cast("int")
    return r.groupBy("l_returnflag").agg(
        pick(0.5).alias("p50_exact"),
        pick(0.9).alias("p90_exact"),
        ok(1, pick(0.5)).alias("p50_ok"),
        ok(2, pick(0.9)).alias("p90_ok"),
    )


_APPROX_PCT_SQL = """
WITH r AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       min(CASE WHEN rn = ceil(0.5 * n) THEN l_extendedprice END) AS p50_exact,
       min(CASE WHEN rn = ceil(0.9 * n) THEN l_extendedprice END) AS p90_exact,
       1 AS p50_ok, 1 AS p90_ok
FROM r GROUP BY l_returnflag
"""


def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest signup at-or-before each purchase, per user.

    Linear window-scan implementation (one shuffle on user_id); the
    oracle states the same semantics as the quadratic inequality join.
    """
    e = read_table(spark, sf_dir, "events")
    enriched = asof_last(
        e,
        ["user_id"],
        "ts",
        F.col("event_type") == "signup",
        F.col("ts"),
        "asof_signup_ts",
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "asof_signup_ts"
    )


_ASOF_SQL = """
SELECT p.event_id, p.user_id, p.ts, max(s.ts) AS asof_signup_ts
FROM events p
LEFT JOIN events s
  ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
"""


# --- LLM-pipeline extension queries --------------------------------------


def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified at ≥0.8.

    Oracle is the exact all-candidate Jaccard — LSH (32 bands × 4
    rows) has ~1.0 recall at this threshold, so the outputs coincide;
    any miss shows up as a hash mismatch and fails loudly.
    """
    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, "doc_id", "text", n=3, num_hashes=128, bands=32, threshold=0.8
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _jaccard_oracle(n: int, threshold: float) -> str:
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return f"""
WITH w AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([{gram} for i in generate_series(1, greatest(len(ws) - {n - 1}, 0))])
             AS sh
  FROM w WHERE len(ws) >= {n}
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM inv a JOIN inv b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(sh) AS n_sh FROM s)
SELECT id_a, id_b,
       round(nc / (sa.n_sh + sb.n_sh - nc), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE nc / (sa.n_sh + sb.n_sh - nc) >= {threshold}
"""


def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via shingle inverted index (n=3).

    3-gram shingles keep the inverted index selective — with a small
    vocabulary, 2-grams occur in nearly every document and the
    self-join on the shingle key degenerates toward all-pairs.
    """
    d = read_table(spark, sf_dir, "documents")
    # max_df caps posting-list fan-out at corpus scale; max observed df
    # on the fixtures is 25 (sf0.1), so 100 is exact here — the oracle
    # below assumes no shingle exceeds it.
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.4, max_df=100)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures, oracle-checked bit for bit.

    Uses the sha2_60 word hash (top 60 bits of sha-256) so DuckDB can
    recompute the identical signature — the xxhash64 default has no
    DuckDB twin. Signature semantics (tf-weighted bit votes) unchanged.
    """
    d = read_table(spark, sf_dir, "documents")
    return simhash_signatures(d, "doc_id", "text", bits=60, word_hash="sha2_60")


def _simhash_oracle(bits: int = 60) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    nt = _NT.format(c="text")
    return f"""
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, string_split({nt}, ' ') AS ws FROM documents),
       unnest(ws) u(w)
  WHERE length(w) > 0
), hashed AS (
  SELECT doc_id, CAST(concat('0x', substr(sha256(w), 1, 15)) AS BIGINT) AS h
  FROM words
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM votes
"""


def x_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report over orders: one aggregate pass for all
    row-level rules + a key-only groupBy for uniqueness."""
    from news_lakehouse_spark.operators.validate import (
        accepted_values,
        in_range,
        matches_regex,
        not_null,
        unique,
        validate_expectations,
    )

    o = read_table(spark, sf_dir, "orders")
    rules = [
        not_null("o_custkey"),
        unique(["o_orderkey"]),
        in_range("o_totalprice", 0, 1000000),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        matches_regex("o_orderpriority", r"^[1-5]-"),
    ]
    return validate_expectations(o, rules)


_EXPECT_SQL = """
SELECT 'not_null(o_custkey)' AS rule,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'in_range(o_totalprice)',
       CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0 OR o_totalprice > 1000000)
                 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus)',
       CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P')
                 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'matches_regex(o_orderpriority)',
       CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(coalesce(sum(n - 1), 0) AS BIGINT)
FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)
"""


def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local first-fit-decreasing packing of documents into
    1024-token bins (whitespace token lengths), hash-checked via its
    conservation laws: bin *composition* is partitioning-dependent by
    design (pinned to 8 hash partitions) and not SQL-expressible, but
    (a) every doc is packed exactly once, (b) token totals are
    conserved, (c) no multi-doc bin exceeds the budget, and (d) the
    bin count is at least one bin per singleton plus the token floor
    ceil(tokens/budget) of the multi-doc bins (singletons may be
    oversize docs, whose length says nothing about bin count), and at
    most one bin per doc. The query emits exactly those invariants —
    any packing regression flips a column and fails the value hash.
    """
    from news_lakehouse_spark.operators.packing import pack_sequences
    from news_lakehouse_spark.operators.textmetrics import whitespace_token_count

    budget = 1024
    d = read_table(spark, sf_dir, "documents")
    lens = d.select("doc_id", whitespace_token_count("text").alias("n_tok"))
    packs = pack_sequences(lens, "doc_id", "n_tok", budget=budget, num_partitions=8)
    stats = packs.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("tokens"),
        F.sum(
            F.when(
                (F.col("n_docs") > 1) & (F.col("total_tokens") > budget), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("over_budget_bins"),
        # the token floor only binds bins of within-budget docs;
        # oversize docs are one bin each regardless of their length
        F.sum(F.when(F.col("n_docs") == 1, 0).otherwise(F.col("total_tokens")))
        .cast("long")
        .alias("__multi_tokens"),
        F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
        .cast("long")
        .alias("__single_bins"),
    )
    floor_ok = F.col("n_bins") >= F.col("__single_bins") + F.ceil(
        F.col("__multi_tokens") / budget
    )
    return stats.select(
        "n_docs",
        "tokens",
        "over_budget_bins",
        floor_ok.cast("int").alias("bins_above_token_floor"),
        (F.col("n_bins") <= F.col("n_docs")).cast("int").alias("bins_below_doc_count"),
    )


_PACK_SQL = """
WITH lens AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(0 AS BIGINT) AS over_budget_bins,
       1 AS bins_above_token_floor,
       1 AS bins_below_doc_count
FROM lens
"""


def x_char_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-trigram LM quality score per document."""
    from news_lakehouse_spark.operators.textmetrics import char_trigram_logprob

    d = read_table(spark, sf_dir, "documents")
    return char_trigram_logprob(d, "doc_id", "text")


_CHARLM_SQL = f"""
WITH norm AS (
  SELECT doc_id, {_NT.format(c='text')} AS t FROM documents
), tri AS (
  SELECT doc_id, substr(t, i, 3) AS tg
  FROM norm, unnest(generate_series(1, length(t) - 2)) u(i)
  WHERE length(t) >= 3
), counts AS (
  SELECT tg, count(*) AS c FROM tri GROUP BY tg
), total AS (SELECT sum(c) AS n FROM counts),
model AS (
  SELECT tg, ln(c / n) AS lp FROM counts CROSS JOIN total
)
SELECT tri.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(lp), 6) AS avg_logprob
FROM tri JOIN model USING (tg)
GROUP BY tri.doc_id
"""


def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (64-word chunks, 16 overlap)."""
    from news_lakehouse_spark.operators.textmetrics import chunk_documents

    d = read_table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_size=64, overlap=16)


_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split({_NT.format(c='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
), c AS (
  SELECT doc_id, ws,
         greatest(0, CAST(ceil((len(ws) - 64) / 48.0) AS INT) * 48) AS last_start
  FROM w WHERE len(ws) > 0
)
SELECT doc_id,
       CAST(s / 48 AS INT) AS chunk_idx,
       array_to_string(ws[s + 1 : s + 64], ' ') AS chunk_text,
       CAST(len(ws[s + 1 : s + 64]) AS INT) AS n_tokens
FROM c, unnest(generate_series(0, last_start, 48)) u(s)
"""


def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type deterministic downsampling (corpus rebalancing)."""
    from news_lakehouse_spark.operators.sampling import stratified_sample

    e = read_table(spark, sf_dir, "events")
    out = stratified_sample(
        e,
        "event_type",
        {"view": 0.5, "click": 0.2, "purchase": 1.0},
        key_cols=["event_id"],
        default_fraction=0.0,
    )
    return out.select("event_id", "event_type")


_STRAT_SQL = """
WITH h AS (
  SELECT event_id, event_type,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'strata', event_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS hf
  FROM events
)
SELECT event_id, event_type FROM h
WHERE hf < CASE event_type
             WHEN 'view' THEN 0.5
             WHEN 'click' THEN 0.2
             WHEN 'purchase' THEN 1.0
             ELSE 0.0 END
"""


def x_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing of l_extendedprice via broadcast thresholds
    (never a global ntile window); output is per-bucket stats."""
    from news_lakehouse_spark.operators.sampling import quantile_bucket

    li = read_table(spark, sf_dir, "lineitem")
    b = quantile_bucket(li.select("l_extendedprice"), "l_extendedprice", 10)
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


_QBUCKET_SQL = """
WITH t AS (
  SELECT quantile_cont(l_extendedprice,
                       [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
  FROM lineitem
), b AS (
  SELECT l_extendedprice,
         CAST(1 + len(list_filter(t.qs, q -> l_extendedprice > q)) AS INT) AS bucket
  FROM lineitem, t
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi
FROM b GROUP BY bucket
"""


def x_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase over events."""
    from news_lakehouse_spark.operators.funnel import funnel_conversion

    e = read_table(spark, sf_dir, "events")
    return funnel_conversion(e, ["view", "click", "purchase"])


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id AS u, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY 1
), s3 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY 1
), counts AS (
  SELECT 1 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
)
SELECT step_idx, step, n_users,
       round(n_users / first_value(n_users) OVER (ORDER BY step_idx), 6)
           AS conv_from_first,
       round(n_users / lag(n_users) OVER (ORDER BY step_idx), 6)
           AS conv_from_prev
FROM counts
"""


def x_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (10%/5%).

    Membership is a pure function of (salt, doc_id) via sha2 — stable
    under any partitioning and under corpus growth, and reproducible in
    DuckDB byte for byte (the oracle recomputes the same hash line).
    """
    from news_lakehouse_spark.operators.sampling import train_test_split

    d = read_table(spark, sf_dir, "documents")
    return train_test_split(
        d.select("doc_id"), ["doc_id"], test_fraction=0.1, val_fraction=0.05
    )


_SPLIT_SQL = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'split', doc_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS hf
  FROM documents
)
SELECT doc_id,
       CASE WHEN hf < 0.1 THEN 'test'
            WHEN hf < 0.15 THEN 'val'
            ELSE 'train' END AS split
FROM h
"""


def x_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + intra-shard order
    (operators/layout.assign_training_shards): 16 shards, per-row
    codegen hash line, no shuffle in the operator itself. The query
    derives each row's within-shard position for the oracle; the
    production export skips the window and just sortWithinPartitions
    on order_u after repartitioning by shard."""
    from pyspark.sql import Window

    from news_lakehouse_spark.operators.layout import assign_training_shards

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    sharded = assign_training_shards(d, ["doc_id"], num_shards=16)
    w = Window.partitionBy("shard").orderBy("order_u", "doc_id")
    return sharded.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )


_SHARD_SQL = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'shard', doc_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS hf
  FROM documents
)
SELECT doc_id,
       CAST(floor(hf * 16) AS INT) AS shard,
       row_number() OVER (PARTITION BY CAST(floor(hf * 16) AS INT)
                          ORDER BY hf, doc_id) AS shard_pos
FROM h
"""


def x_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source word-bigram type/token ratio
    (operators/textmetrics.ngram_diversity) — ranks sources by how
    templated/repetitive their text is, for mixture weighting."""
    from news_lakehouse_spark.operators.textmetrics import ngram_diversity

    d = read_table(spark, sf_dir, "documents")
    return ngram_diversity(d, "source", "text", n=2)


_NGRAM_DIVERSITY_SQL = f"""
WITH w AS (
  SELECT source, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), g AS (
  SELECT source, unnest([ws[i] || ' ' || ws[i+1]
                         for i in generate_series(1, len(ws) - 1)]) AS gram
  FROM w WHERE len(ws) >= 2
)
SELECT source,
       count(*) AS total_ngrams,
       count(DISTINCT gram) AS distinct_ngrams,
       round(count(DISTINCT gram) / count(*), 6) AS diversity
FROM g GROUP BY source
"""


def x_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level near-dup overlap matrix: for every (source_a <=
    source_b) pair, how many cross-document 3-gram-Jaccard near-dup
    pairs link them and at what mean similarity — the provenance
    analysis behind source-level dedup decisions (which feeds copy
    from which). Rides the shingle inverted index
    (operators/dedupe.ngram_jaccard_pairs), then one broadcast join to
    the doc->source map and a #source² bounded aggregate — no new
    shuffle shape beyond the pair join itself."""
    from news_lakehouse_spark.operators.dedupe import ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.4, max_df=100)
    src = d.select("doc_id", "source")
    joined = (
        pairs.join(
            F.broadcast(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))),
            "id_a",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))),
            "id_b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            # pre-round so both engines average identical 6-decimal
            # values (the oracle's pair CTE emits rounded jaccard)
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    return joined.groupBy("source_a", "source_b").agg(
        F.count("*").alias("pair_count"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
    )


def _source_overlap_sql() -> str:
    return f"""
WITH p AS ({_jaccard_oracle(3, 0.4)}),
s AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       count(*) AS pair_count,
       round(avg(p.jaccard), 6) AS avg_jaccard
FROM p
JOIN s sa ON sa.doc_id = p.id_a
JOIN s sb ON sb.doc_id = p.id_b
GROUP BY 1, 2
"""


_SOURCE_OVERLAP_SQL = _source_overlap_sql()


def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: corpus docs sharing any 8-gram with a
    (hash-sampled 5%) benchmark slice, excluding the slice itself.

    The benchmark's shingle set broadcasts; the corpus never shuffles
    whole. Counts are over hashed shingles in Spark and string shingles
    in the oracle — identical up to 64-bit collisions.
    """
    from news_lakehouse_spark.operators.dedupe import cross_corpus_contamination
    from news_lakehouse_spark.operators.sampling import hash_fraction

    d = read_table(spark, sf_dir, "documents")
    is_bench = hash_fraction("doc_id", salt="bench") < 0.05
    bench = d.filter(is_bench)
    rest = d.filter(~is_bench)
    return cross_corpus_contamination(rest, bench, "doc_id", "text", n=8)


_DECON_SQL = f"""
WITH tagged AS (
  SELECT doc_id, text,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'bench', doc_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 < 0.05 AS is_bench
  FROM documents
), w AS (
  SELECT doc_id, is_bench, string_split({_NT.format(c='text')}, ' ') AS ws
  FROM tagged
), s AS (
  SELECT doc_id, is_bench,
         list_distinct([{" || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(8))}
                        for i in generate_series(1, greatest(len(ws) - 7, 0))]) AS sh
  FROM w WHERE len(ws) >= 8
), bench_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE is_bench
), corpus_sh AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s WHERE NOT is_bench
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap_ngrams
FROM corpus_sh c JOIN bench_sh b USING (shingle)
GROUP BY c.doc_id
HAVING count(*) >= 1
"""


_BM25_TERMS = ["broadcast", "shuffle", "vector"]


def x_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search over documents for a 3-term query.

    All matched docs returned (no float-tied top-k cutoff); Lucene idf
    formulation, k1=1.2 b=0.75, scores rounded to 6.
    """
    from news_lakehouse_spark.operators.search import bm25_scores

    d = read_table(spark, sf_dir, "documents")
    return bm25_scores(d, "doc_id", "text", _BM25_TERMS)


def _bm25_oracle(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    nt = _NT.format(c="text")
    in_list = ", ".join(f"'{t}'" for t in sorted({t.lower() for t in terms}))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split({nt}, ' ') AS ws FROM documents
), lens AS (
  SELECT doc_id, len(list_filter(ws, w -> length(w) > 0)) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens
), matches AS (
  SELECT t.doc_id, l.dl, u.w AS term, count(*) AS tf
  FROM toks t JOIN lens l ON t.doc_id = l.doc_id, unnest(t.ws) u(w)
  WHERE u.w IN ({in_list})
  GROUP BY t.doc_id, l.dl, u.w
), dfreq AS (
  SELECT term, count(*) AS doc_freq FROM matches GROUP BY term
)
SELECT m.doc_id,
       CAST(count(*) AS BIGINT) AS n_matched_terms,
       round(sum(
         ln(1.0 + (s.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5))
         * m.tf * ({k1} + 1)
         / (m.tf + {k1} * (1 - {b} + {b} * m.dl / s.avgdl))
       ), 6) AS score
FROM matches m JOIN dfreq d USING (term) CROSS JOIN stats s
GROUP BY m.doc_id
"""


def x_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (ties broken lexicographically)."""
    from news_lakehouse_spark.operators.search import tfidf_top_terms

    d = read_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, "doc_id", "text", top_n=5, min_term_len=4)
    return out.select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf"), "tfidf", "rank"
    )


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.w AS term
  FROM (SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws
        FROM documents), unnest(ws) u(w)
  WHERE length(u.w) >= 4
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS doc_freq FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln(n.n_docs / (1.0 + d.doc_freq)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term
         ) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


def x_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 3 via pigeonhole block LSH.

    Candidate generation is an equi-join on signature blocks (complete
    by pigeonhole — never an approximation); the oracle twin does the
    quadratic all-pairs xor in SQL. On this corpus the <= 3 set equals
    the 25 MinHash near-dup pairs.
    """
    from news_lakehouse_spark.operators.dedupe import simhash_near_duplicates

    d = read_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, "doc_id", "text", max_hamming=3, bits=60, word_hash="sha2_60"
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _simhash_pairs_oracle(bits: int = 60, max_hamming: int = 3) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    nt = _NT.format(c="text")
    return f"""
WITH words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, string_split({nt}, ' ') AS ws FROM documents),
       unnest(ws) u(w)
  WHERE length(w) > 0
), hashed AS (
  SELECT doc_id, CAST(concat('0x', substr(sha256(w), 1, 15)) AS BIGINT) AS h
  FROM words
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({assemble} AS BIGINT) AS s FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
"""


def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash pairs -> connected components ->
    (id, component=min reachable id). The oracle computes the same
    components with a recursive CTE over the exact-Jaccard pair graph.
    """
    from news_lakehouse_spark.operators.dedupe import connected_components

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, "doc_id", "text", n=3, num_hashes=128, bands=32, threshold=0.8
    )
    return connected_components(pairs)


_CLUSTERS_SQL = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in generate_series(1, greatest(len(ws) - 2, 0))]) AS sh
  FROM w WHERE len(ws) >= 3
), inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE nc / (sa.n_sh + sb.n_sh - nc) >= 0.8
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
)
SELECT id, min(r) AS component FROM reach GROUP BY id
"""


def x_cc_large_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a CHAIN-shaped graph via alternating
    large-star/small-star (Kiveris et al., SoCC'14) — the O(log^2 n)-
    round plan whose round count is independent of graph diameter.

    The pair graph links consecutive doc_ids within each source, so
    each source is one path of length ~n_docs/n_sources: ~250 hops at
    sf0.1 — past the default 50-round budget of min-label propagation,
    and the shape (substring overlaps, transitive fuzzy matches) where
    the star plan is the only one that survives 100 TB. max_iters=16
    pins the superlinear contraction: 2^16 nodes of headroom.
    Returns one row per component (size + max member) so the compare
    stays O(#sources) while every membership still feeds the hash.
    """
    from news_lakehouse_spark.operators.dedupe import connected_components

    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        d.select("source", "doc_id")
        .withColumn("nxt", F.lead("doc_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("id_a"), F.col("nxt").alias("id_b"))
    )
    comp = connected_components(pairs, method="star", max_iters=24)
    return (
        comp.groupBy(F.col("component").cast("long").alias("component"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("id").cast("long").alias("max_id"),
        )
        .orderBy("component")
    )


_CC_STAR_SQL = """
WITH RECURSIVE nxt AS (
  SELECT doc_id AS a,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b
  FROM documents
), e AS (SELECT a, b FROM nxt WHERE b IS NOT NULL),
edges AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION SELECT a, a FROM edges
  UNION
  SELECT e2.a, reach.r FROM edges e2 JOIN reach ON reach.id = e2.b
), comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT CAST(component AS BIGINT) AS component,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(id) AS BIGINT) AS max_id
FROM comp GROUP BY component ORDER BY component
"""


def x_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-linear quality-classifier INFERENCE over
    the corpus (operators/classify.hashed_linear_score): unigram+bigram
    hashing-trick buckets, broadcast literal weight vector, one
    transform+aggregate HOF chain per row — whole-stage codegen, zero
    shuffle, zero Python. The model here is the deterministic
    pseudo-weight vector (512 buckets) so the DuckDB oracle recomputes
    the identical forward pass from the shared sha2 hash line.
    """
    from news_lakehouse_spark.operators.classify import (
        hashed_linear_score,
        pseudo_weights,
    )

    d = read_table(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        d,
        "text",
        pseudo_weights(512),
        salt="qc",
        hash="sha2",  # the oracle-portable bucket line (xxhash64 is
        # the default production path — ~2x cheaper, same plan shape)
        n_features_col="n_features",
    )
    # no orderBy: the driver compare is order-insensitive and the
    # operator's plan is one shuffle-free scan — keep it that way
    return scored.select(
        "doc_id",
        "n_features",
        F.round("score", 6).alias("score"),
        (F.col("score") >= 0.5).alias("keep"),
    )


_QC_HASH = "CAST(concat('0x', substr(sha256({src}), 1, 15)) AS BIGINT)"
_QUALITY_CLS_SQL = f"""
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split({_NT.format(c='text')}, ' '),
                     t -> t <> '') AS t
  FROM documents
), feats AS (
  SELECT doc_id,
    list_concat(
      list_transform(t, x ->
        {_QC_HASH.format(src="'qc1' || chr(31) || x")} % 512),
      CASE WHEN len(t) >= 2 THEN
        [{_QC_HASH.format(src="'qc2' || chr(31) || t[i] || ' ' || t[i+1]")} % 512
         for i in generate_series(1, len(t) - 1)]
      ELSE [] END
    ) AS f
  FROM ws
), scored AS (
  SELECT doc_id, CAST(len(f) AS INT) AS n_features,
    CASE WHEN len(f) > 0 THEN
      0.0 + list_reduce(list_transform(f, b ->
        {_QC_HASH.format(src="'qcw' || chr(31) || CAST(b AS VARCHAR)")}
          / 1152921504606846976.0 - 0.5), (a, x) -> a + x) / len(f)
    ELSE 0.0 END AS z
  FROM feats
)
SELECT doc_id, n_features,
       round(1.0 / (1.0 + exp(-z)), 6) AS score,
       (1.0 / (1.0 + exp(-z))) >= 0.5 AS keep
FROM scored
"""


def x_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors (vec_id < 5)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_bruteforce(emb, q, k=10)


_SIM_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
             AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id DESC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-5 most-similar
    OTHER-label vectors per query (operators/similarity.
    hard_negative_mining) — broadcast queries, two-level partial
    top-k, corpus never shuffles."""
    from news_lakehouse_spark.operators.similarity import hard_negative_mining

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return hard_negative_mining(emb, q, k=5)


_HARD_NEG_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, q.ql AS query_label, e.vec_id AS neighbor_id,
         e.label AS neighbor_label,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
             AS cs
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id AND e.label IS DISTINCT FROM q.ql
)
SELECT query_id, query_label, neighbor_id, neighbor_label,
       round(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, neighbor_id DESC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def x_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN, hash-checked via a recall@10 floor against
    brute force: the approximate neighbor set has no SQL twin, so the
    query emits one row per query vector with a boolean pinning
    recall@10 >= 0.5 (computed in-query against the exact top-k). A
    bucketing regression flips recall_ok to 0 and fails the value
    hash. Measured recall at planes=6, tables=32: 0.7–1.0 across
    sf0.001–sf0.1.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approx = lsh_bucketed_topk(emb, q, k=10, planes=6, tables=32)
    exact = cosine_topk_bruteforce(emb, q, k=10)
    rec = ann_recall_at_k(approx, exact, k=10)
    return rec.select(
        "query_id", (F.col("recall") >= 0.5).cast("int").alias("recall_ok")
    )


_SIM_LSH_SQL = """
SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def x_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid per label: posexplode → groupBy(label, dim)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("label", "dim_idx")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
    )


_CENTROID_SQL = """
SELECT label, CAST(g.i - 1 AS INT) AS dim_idx,
       round(avg(embedding[g.i]), 6) AS centroid_v
FROM embeddings, generate_series(1, 64) g(i)
GROUP BY label, dim_idx
"""


def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language scores + argmax guess."""
    d = read_table(spark, sf_dir, "documents")
    return language_scores(d, "doc_id", "text")


def _lang_sql() -> str:
    nt = _NT.format(c="text")
    score_exprs = []
    for lang, ms in LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{m}'" for m in ms) + "]"
        score_exprs.append(
            f"len(list_intersect(ws, {arr})) / greatest(len(ws), 1) AS score_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    guess = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
WITH w AS (
  SELECT doc_id, list_distinct(string_split({nt}, ' ')) AS ws FROM documents
), s AS (
  SELECT doc_id, {", ".join(score_exprs)} FROM w
)
SELECT doc_id, {", ".join(f"score_{l}" for l in langs)}, {guess} AS lang_guess
FROM s
"""


def x_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword/uniqueness quality signals + combined score."""
    d = read_table(spark, sf_dir, "documents")
    return quality_metrics(d, "doc_id", "text")


def _quality_sql() -> str:
    nt = _NT.format(c="text")
    stop = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS["en"]) + "]"
    return f"""
WITH w AS (
  SELECT doc_id, text, string_split({nt}, ' ') AS ws FROM documents
), m AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(len(ws) AS INT) AS n_words,
         (length(text) - len(ws) + 1) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS avg_word_len,
         len(regexp_extract_all(text, '[\\p{{P}}\\p{{S}}]'))
             / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         len(list_filter(ws, x -> list_contains({stop}, x)))
             / CAST(greatest(len(ws), 1) AS DOUBLE) AS stopword_ratio,
         len(list_distinct(ws)) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS uniq_word_ratio
  FROM w
)
SELECT doc_id, n_chars, n_words, avg_word_len, punct_ratio, stopword_ratio,
       uniq_word_ratio,
       round(least(n_words / 100.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
             + least(stopword_ratio * 4.0, 1.0) * 0.2
             + uniq_word_ratio * 0.2, 6) AS quality_score
FROM m
"""


def x_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count + whitespace token count."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        whitespace_token_count("text").alias("n_ws_tokens"),
    )


_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS INT)
           AS n_tokens,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws_tokens
FROM documents
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate → semi-filtering join
    → enrich → global top-100.

    The big-order set comes from one groupBy on lineitem's own key; it
    is tiny after the HAVING filter, so AQE broadcasts it into orders
    (no orders shuffle), customer broadcasts explicitly, and the
    top-100 runs as TakeOrderedAndProject (per-partition partial
    top-k, never a global sort)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 220)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS tq
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 220
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(tq, 2) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.

    The same dimension (nation) joins twice under different roles —
    supplier side and customer side — with the pair predicate applied
    across the two aliases. All four dims broadcast; lineitem (the
    100 TB side) shuffles only for its join to orders on o_orderkey,
    and the final agg keys are tiny."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which documents of today's batch are
    already in the corpus (or duplicated within the batch)?

    The daily-ingest shape: the existing corpus is identified by its
    32-byte content fingerprints, the new batch anti-joins against
    them — the corpus text itself never moves. Batch = doc_id >= 400
    (deterministic slice of the fixture), corpus = the rest."""
    from news_lakehouse_spark.operators.dedupe import incremental_exact_dedupe

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    return incremental_exact_dedupe(corpus, batch, "doc_id", "text")


_INCR_SQL = f"""
WITH fp AS (
  SELECT doc_id, sha256({_NT.format(c='text')}) AS fp FROM documents
), corpus AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id < 400
), batch AS (
  SELECT doc_id, fp FROM fp WHERE doc_id >= 400
)
SELECT b.doc_id,
       CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS in_corpus,
       CASE WHEN c.fp IS NULL
             AND row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) > 1
            THEN 1 ELSE 0 END AS dup_in_batch,
       CASE WHEN c.fp IS NULL
             AND row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) = 1
            THEN 1 ELSE 0 END AS admit
FROM batch b LEFT JOIN corpus c USING (fp)
"""


def x_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style term-blocklist gate over the documents corpus."""
    from news_lakehouse_spark.operators.textmetrics import blocklist_filter

    d = read_table(spark, sf_dir, "documents")
    return blocklist_filter(d, "doc_id", "text", ["slow", "spam"])


_BLOCKLIST_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(
             string_split({_NT.format(c='text')}, ' '), w -> length(w) > 0
         )) AS ws
  FROM documents
)
SELECT doc_id,
       CAST(len(list_intersect(ws, ['slow', 'spam'])) AS INT) AS n_blocked_terms,
       CASE WHEN len(list_intersect(ws, ['slow', 'spam'])) = 0
            THEN 1 ELSE 0 END AS kept
FROM toks
"""


_MIXTURE_WEIGHTS = {f"src{i}": 3.0 if i % 2 == 0 else 1.0 for i in range(20)}


def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static mixture balancing: mark the rows that survive
    downsampling the corpus to a 3:1 even:odd source-weight mixture
    (largest feasible corpus at exactly those proportions, rank-based
    on the deterministic hash line). Runs the scale-safe cutoff plan
    (boundary-band selection, no full-stratum window sort) against the
    rank-definition oracle, so the oracle match doubles as a
    cutoff≡rank equivalence check."""
    from news_lakehouse_spark.operators.sampling import mixture_sample

    d = read_table(spark, sf_dir, "documents")
    out = mixture_sample(
        d, "source", _MIXTURE_WEIGHTS, key_cols=["doc_id"], method="cutoff"
    )
    return out.select("doc_id", "source", "kept")


def _mixture_sql() -> str:
    # The weight CASE is generated from the same dict the Spark side
    # uses, so fixture naming can never silently diverge from the
    # oracle's arithmetic.
    case = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(_MIXTURE_WEIGHTS.items())
    )
    wsum = float(sum(_MIXTURE_WEIGHTS.values()))
    return f"""
WITH h AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'mixture', doc_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS u,
         (CASE source {case} ELSE NULL END) / {wsum!r} AS p
  FROM documents
), c AS (
  SELECT source, p, count(*) AS n FROM h
  WHERE p IS NOT NULL AND p > 0 GROUP BY source, p
), t AS (
  SELECT min(n / p) AS feasible FROM c
), k AS (
  SELECT c.source, CAST(floor(c.p * t.feasible + 1e-9) AS BIGINT) AS keep
  FROM c, t
)
SELECT h.doc_id, h.source,
       CASE WHEN row_number() OVER (PARTITION BY h.source ORDER BY h.u, h.doc_id)
                 <= k.keep
            THEN 1 ELSE 0 END AS kept
FROM h JOIN k USING (source)
"""


_MIXTURE_SQL = _mixture_sql()


def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: score every pool document against the
    English-language slice as the target distribution (hashed
    bag-of-words likelihood ratio, arXiv:2302.03169). selected = more
    target-like than the pool average."""
    from news_lakehouse_spark.operators.importance import dsir_importance_weights

    d = read_table(spark, sf_dir, "documents")
    return dsir_importance_weights(
        d, "doc_id", "text", is_target=F.col("lang") == "en", num_buckets=4096
    )


_HEXC = "strpos('0123456789abcdef', substr(sha256(tok), {i}, 1)) - 1"
_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang, unnest(string_split({_NT.format(c='text')}, ' ')) AS tok
    FROM documents
  ) WHERE length(tok) > 0
), b AS (
  SELECT doc_id, lang,
         (({_HEXC.format(i=1)}) * 4096 + ({_HEXC.format(i=2)}) * 256
        + ({_HEXC.format(i=3)}) * 16 + ({_HEXC.format(i=4)})) % 4096 AS bk
  FROM toks
), pool AS (SELECT bk, count(*) AS pool_c FROM b GROUP BY bk),
tgt AS (SELECT bk, count(*) AS tgt_c FROM b WHERE lang = 'en' GROUP BY bk),
tot AS (SELECT (SELECT CAST(sum(pool_c) AS DOUBLE) FROM pool) AS pool_n,
               (SELECT CAST(coalesce(sum(tgt_c), 0) AS DOUBLE) FROM tgt) AS tgt_n),
model AS (
  SELECT p.bk,
         ln((coalesce(t.tgt_c, 0) + 1) / (tot.tgt_n + 4096))
       - ln((p.pool_c + 1) / (tot.pool_n + 4096)) AS lr
  FROM pool p LEFT JOIN tgt t USING (bk) CROSS JOIN tot
), scored AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(m.lr), 6) AS logweight
  FROM b JOIN model m USING (bk)
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(s.logweight, 0.0) AS logweight,
       CASE WHEN coalesce(s.logweight, 0.0) > 0 THEN 1 ELSE 0 END AS selected
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: sha2-256 of normalized text."""
    d = read_table(spark, sf_dir, "documents")
    return document_fingerprint(d, "doc_id", "text")


_FP_SQL = f"""
SELECT doc_id, sha256({_NT.format(c='text')}) AS fingerprint FROM documents
"""


def x_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: binary payload + typed metadata →
    Arrow-batched mapInPandas feature extraction (deterministic
    stand-in for image/audio decode — see operators.multimodal)."""
    from news_lakehouse_spark.operators.multimodal import (
        extract_features,
        with_binary_payload,
    )

    d = read_table(spark, sf_dir, "documents")
    return extract_features(with_binary_payload(d))


# NOTE: substring-then-encode equals first-8-bytes only for
# single-byte text; the corpus is ASCII (verified), and the Spark side
# is the byte-true implementation.
_MM_SQL = """
SELECT doc_id, 'text' AS modality,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS content_sha,
       lower(hex(encode(substring(text, 1, 8)))) AS head_hex
FROM documents
"""




def x_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real binary-file ingest: `binaryFile` scan over a byte fixture →
    canonical multimodal shape → Arrow-batched feature extraction.

    Unlike x_multimodal_bytes (payload synthesized from text), this
    reads actual files from disk — the path a real image/audio corpus
    takes. The fixture is committed and deterministic, so the DuckDB
    read_blob oracle checks it value for value. `hex_sha` is
    sha256-of-hex rather than sha256-of-bytes because DuckDB's sha256
    only takes VARCHAR; the JVM side hashes the same hex string.
    """
    import os

    from news_lakehouse_spark.operators.multimodal import extract_features
    from news_lakehouse_spark.sources.readers import read_binary_dir

    raw = read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob="doc*.*")
    mm = raw.select(
        F.regexp_extract(F.col("path"), r"doc(\d+)", 1).cast("long").alias("doc_id"),
        F.col("content").alias("payload"),
        F.regexp_extract(F.col("path"), r"\.(\w+)$", 1).alias("modality"),
    )
    # one pass: the digest rides through the same Arrow batch as the
    # byte features — a second select branch would scan (and at blob
    # scale, re-read) every file again just for the hash
    return extract_features(mm, include_hex_sha=True).select(
        "doc_id", "modality", "n_bytes", "head_hex", "hex_sha"
    )


# overridable: the default is the committed repo fixture, which does
# not exist for an installed (site-packages) deployment of the package
_BINARY_FIXTURE_DIR = os.environ.get(
    "SPARK_GRAFT_BINARY_FIXTURES",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "binary",
    ),
)

_BINARY_SQL = f"""
SELECT CAST(regexp_extract(filename, 'doc(\\d+)', 1) AS BIGINT) AS doc_id,
       regexp_extract(filename, '\\.(\\w+)$', 1) AS modality,
       CAST(size AS INT) AS n_bytes,
       lower(substr(hex(content), 1, 16)) AS head_hex,
       sha256(hex(content)) AS hex_sha
FROM read_blob('{_BINARY_FIXTURE_DIR}/doc*.*')
"""


def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (absent in reference, SURVEY §2.3): purchases inside
    each signup's 30-minute window, via bucketized equi-join — no
    BroadcastNestedLoopJoin, skew handled like any other join."""
    e = read_table(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("p_ts")
    )
    joined = range_join_bucketed(
        purchases, signups, "p_ts", "s_ts", "s_end", bucket_width_seconds=1800
    )
    counts = joined.groupBy("signup_id").agg(F.count("*").alias("n_purchases"))
    return (
        signups.join(counts, "signup_id", "left")
        .select(
            "signup_id",
            F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        )
    )


_RANGE_SQL = """
WITH s AS (SELECT event_id AS signup_id, ts AS s_ts FROM events
           WHERE event_type = 'signup'),
     p AS (SELECT ts AS p_ts FROM events WHERE event_type = 'purchase')
SELECT s.signup_id,
       CAST(count(p.p_ts) AS BIGINT) AS n_purchases
FROM s LEFT JOIN p
  ON p.p_ts >= s.s_ts AND p.p_ts < s.s_ts + INTERVAL 30 MINUTE
GROUP BY s.signup_id
"""


def x_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: lineitem has 3 returnflag
    values — at 100 TB each plain groupBy key is a whole-reducer hot
    spot; the salt stage bounds per-reducer key volume."""
    li = read_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li, ["l_returnflag"], sums=["l_quantity"], count_alias="n_rows", salt=16
    )
    return out.select(
        "l_returnflag", "n_rows", F.round("sum_l_quantity", 2).alias("sum_qty")
    )


_SALTED_AGG_SQL = """
SELECT l_returnflag, count(*) AS n_rows,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def x_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (left salted, right replicated) — result
    identical to the plain join; the salt spreads hot keys across
    reducers when the right side is too big to broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), o, ["o_orderkey"], salt=8
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_SALTED_JOIN_SQL = """
SELECT o_orderstatus, count(*) AS n_items,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def x_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — EXACT blocked all-pairs
    (numpy over applyInPandas); threshold tuned to the synthetic
    corpus (random vectors top out near cos 0.5-0.6)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.42, blocks=8
    )


_EMB_COS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.42
"""




def x_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (spherical k-means cells), hash-checked via a recall@10
    floor: like x_sim_lsh_topk the approximate neighbor set has no SQL
    twin, so the query emits one row per query vector with a boolean
    pinning recall@10 >= 0.4 vs the in-query brute-force result.
    Measured recall at 16 cells / 8 probes: 0.5–0.9 across
    sf0.001–sf0.1 (the fixture vectors are near-uniform, so recall ≈
    corpus fraction scanned; the unit test separately pins
    n_probe = n_centroids ≡ exact brute force).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    approx = ivf_topk(emb, q, k=10, n_centroids=16, n_probe=8, iters=2)
    exact = cosine_topk_bruteforce(emb, q, k=10)
    rec = ann_recall_at_k(approx, exact, k=10)
    return rec.select(
        "query_id", (F.col("recall") >= 0.4).cast("int").alias("recall_ok")
    )


_SIM_IVF_SQL = """
SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def x_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank
    (operators/similarity.py pq_train/pq_encode/pq_topk — the FAISS
    IVF-PQ compression + ADC search pipeline on Spark): codebooks
    train driver-side on a deterministic sample, the corpus encodes to
    m=8 6-bit codes (~64× smaller than the float store — the reason a
    100 TB embedding scan becomes a few-TB code scan), ADC scoring
    emits per-partition partial top-k so only Q·k·partitions candidate
    rows shuffle, and an exact cosine re-rank of the 8k-candidate
    shortlist repairs recall. Hash-checked like the other ANN queries:
    one row per query with recall@10 >= 0.4 vs in-query brute force
    (measured 0.6–0.9 across sf0.001–0.1 on the near-uniform fixture;
    the unit test separately pins the lossless-codebook ≡ brute-force
    identity and that reranked scores are true cosines).
    """
    from news_lakehouse_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    books = pq_train(emb, m=8, nbits=6, sample_n=400)
    codes = pq_encode(emb, books)
    approx = pq_topk(codes, q, books, k=10, corpus=emb, shortlist=8)
    exact = cosine_topk_bruteforce(emb, q, k=10)
    rec = ann_recall_at_k(approx, exact, k=10)
    return rec.select(
        "query_id", (F.col("recall") >= 0.4).cast("int").alias("recall_ok")
    )


_SIM_PQ_SQL = """
SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def x_pq_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental persisted PQ index
    (operators/similarity.py pq_index_ingest over a
    VersionedParquetTable): the first ingest (80% of the corpus by key
    hash) trains the codebooks and commits codes + codebooks (manifest
    properties); the second ingest (the other 20%) must LOAD the
    stored codebooks — never retrain, so codes stay comparable — and
    encode only its batch. In-plan asserts pin codebook reuse
    (byte-identical across ingests) and that the code table covers the
    corpus exactly once. Search reads the code table (at 100 TB, ~64×
    smaller than the float store), reranks exactly, and the oracle
    pins recall@10 >= 0.4 per query vs in-query brute force.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.operators.similarity import (
        pq_index_ingest,
        pq_topk,
    )
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    emb = read_table(spark, sf_dir, "embeddings")
    base = _tmp_table_path("pq_index", sf_dir)
    index = VersionedParquetTable(spark, base)
    is_b2 = F.pmod(F.xxhash64("vec_id", F.lit(3)), F.lit(5)) == 0
    books1 = pq_index_ingest(index, emb.filter(~is_b2))
    books2 = pq_index_ingest(index, emb.filter(is_b2))
    assert books2 == books1  # stored codebooks reused, never retrained
    codes = index.read()
    assert codes.count() == emb.count()

    q = emb.filter(F.col("vec_id") < 5)
    approx = pq_topk(codes, q, books2, k=10, corpus=emb, shortlist=8)
    exact = cosine_topk_bruteforce(emb, q, k=10)
    rec = ann_recall_at_k(approx, exact, k=10)
    return rec.select(
        "query_id", (F.col("recall") >= 0.4).cast("int").alias("recall_ok")
    )


_PQ_INDEX_SQL = """
SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings WHERE vec_id < 5
"""


def x_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): per-user
    running (count, sum, max ts) drained with Trigger.AvailableNow.
    The final state equals the batch aggregate — the oracle below IS
    that batch aggregate."""
    import tempfile
    import uuid

    from news_lakehouse_spark.streaming.stateful import run_user_stats_over_dir

    name = f"user_stats_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_user_stats_")
    return run_user_stats_over_dir(
        spark, f"{sf_dir}/events.parquet", ckpt, query_name=name
    )


_STREAM_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 6) AS sum_value,
       max(CAST(ts AS TIMESTAMP)) AS last_ts
FROM events GROUP BY user_id
"""


def t_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join
    (streaming/windows.py stream_stream_interval_join, drained by
    streaming/joins.py): view events joined to the
    purchases the same user makes within 4 hours, both sides genuine
    file streams drained with Trigger.AvailableNow. Watermarks + the
    time-range condition bound the join state (the eviction test lives
    in tests/test_streaming.py); the oracle is the equivalent batch
    interval join — inner stream-stream joins emit exactly the batch
    result."""
    import tempfile
    import uuid

    from news_lakehouse_spark.streaming.joins import run_interval_join_over_dir

    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_join_")
    return run_interval_join_over_dir(
        spark, f"{sf_dir}/events.parquet", ckpt, query_name=name
    )


def t_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state
    (streaming/windows.py dedupe_stream_within_watermark, drained by
    streaming/joins.py run_stream_dedup_over_dir): the events file
    read as TWO unioned streams — every event delivered twice, the
    at-least-once upstream shape — deduped on event_id by
    dropDuplicatesWithinWatermark, whose state the watermark evicts
    (plain dropDuplicates on a 100 TB/day stream grows state forever).
    The oracle is the batch distinct: with all duplicates inside one
    AvailableNow batch the streamed result is exactly the unique
    events."""
    import tempfile
    import uuid

    from news_lakehouse_spark.streaming.joins import run_stream_dedup_over_dir

    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_dedup_")
    out = run_stream_dedup_over_dir(
        spark, f"{sf_dir}/events.parquet", ckpt, query_name=name
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       ROUND(CAST(value AS DOUBLE), 6) AS value
FROM events
"""


_STREAM_JOIN_SQL = """
SELECT v.user_id,
       v.event_id AS l_event_id,
       CAST(v.ts AS TIMESTAMP) AS l_ts,
       p.event_id AS r_event_id,
       CAST(p.ts AS TIMESTAMP) AS r_ts
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 4 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def t_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked LEFT-OUTER interval join — the
    funnel-drop query (streaming/windows.py stream_stream_interval_join
    how='left_outer', drained by streaming/joins.py): every view
    joined to the purchases the same user makes within 4 hours, PLUS
    one null-extended row per view for which the watermark proves no
    purchase can still arrive. Null emission is watermark-expiry
    semantics, so the oracle replicates the horizon exactly: each side
    watermarks AFTER its event_type filter, Spark tracks per-side max
    event time in floor-to-millisecond precision, the global watermark
    is the min of the two sides minus the 10-minute delay, and a view
    emits as unmatched iff view_ts + 4h < that watermark (views near
    the stream's tail stay pending in state — inherent to the
    semantics, not a buffering artifact). AvailableNow's terminal
    no-data micro-batch flushes exactly the provably-dead rows."""
    import tempfile
    import uuid

    from news_lakehouse_spark.streaming.joins import run_interval_join_over_dir

    name = f"stream_ljoin_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_ljoin_")
    return run_interval_join_over_dir(
        spark,
        f"{sf_dir}/events.parquet",
        ckpt,
        query_name=name,
        how="left_outer",
    )


def t_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked FULL-OUTER interval join
    (streaming/windows.py how='full_outer'): matched view→purchase
    pairs PLUS watermark-proven funnel drops on BOTH sides — views
    with no purchase within 4h (emitted once view_ts + 4h < watermark)
    AND orphaned purchases with no preceding view (emitted once
    purchase_ts < watermark, since any still-arriving view would have
    ts ≥ watermark and could not precede it). The oracle replicates
    both emission horizons exactly (per-side floor-to-ms max event
    time, min across sides, minus the 10-minute delay)."""
    import tempfile
    import uuid

    from news_lakehouse_spark.streaming.joins import run_interval_join_over_dir

    name = f"stream_fjoin_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_fjoin_")
    return run_interval_join_over_dir(
        spark,
        f"{sf_dir}/events.parquet",
        ckpt,
        query_name=name,
        how="full_outer",
    )


_STREAM_FULL_JOIN_SQL = """
WITH v AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT (least((SELECT epoch_us(max(ts)) // 1000 FROM v),
                (SELECT epoch_us(max(ts)) // 1000 FROM p))
          - 600000) * 1000 AS wm_us
)
SELECT v.user_id,
       v.event_id AS l_event_id,
       v.ts AS l_ts,
       p.event_id AS r_event_id,
       p.ts AS r_ts
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 4 HOUR
UNION ALL
SELECT v.user_id,
       v.event_id AS l_event_id,
       v.ts AS l_ts,
       CAST(NULL AS BIGINT) AS r_event_id,
       CAST(NULL AS TIMESTAMP) AS r_ts
FROM v, wm
WHERE epoch_us(v.ts) + 14400000000 < wm.wm_us
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = v.user_id
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
  )
UNION ALL
SELECT p.user_id,
       CAST(NULL AS BIGINT) AS l_event_id,
       CAST(NULL AS TIMESTAMP) AS l_ts,
       p.event_id AS r_event_id,
       p.ts AS r_ts
FROM p, wm
WHERE epoch_us(p.ts) < wm.wm_us
  AND NOT EXISTS (
    SELECT 1 FROM v
    WHERE v.user_id = p.user_id
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
  )
"""


_STREAM_LEFT_JOIN_SQL = """
WITH v AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), wm AS (
  -- global watermark: min over both sides' floor-to-ms max event
  -- times, minus the 10-minute delay, in MICROS (Spark's internal
  -- representation of the eviction horizon)
  SELECT (least((SELECT epoch_us(max(ts)) // 1000 FROM v),
                (SELECT epoch_us(max(ts)) // 1000 FROM p))
          - 600000) * 1000 AS wm_us
)
SELECT v.user_id,
       v.event_id AS l_event_id,
       v.ts AS l_ts,
       p.event_id AS r_event_id,
       p.ts AS r_ts
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 4 HOUR
UNION ALL
SELECT v.user_id,
       v.event_id AS l_event_id,
       v.ts AS l_ts,
       CAST(NULL AS BIGINT) AS r_event_id,
       CAST(NULL AS TIMESTAMP) AS r_ts
FROM v, wm
WHERE epoch_us(v.ts) + 14400000000 < wm.wm_us
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = v.user_id
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
  )
"""


def t_stream_table_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the versioned table (streaming/
    table_feed.py, r7 verdict #1): a replica subscribed to a source
    table's change feed through a CHECKPOINTED cursor — the Delta
    readStream-on-a-table analog that turns the reference's daily
    full re-read of silver (gcs_silver_to_gold.py:347-352) into an
    O(churn) incremental hop. src: v1 = orders %2 partitioned by
    status → drain 1 delivers the snapshot batch; v2 = MERGE %6 with
    doubled price, v3 = delete %10 keys → drain 2 (a FRESH feed
    instance resuming from the persisted cursor — the restart path)
    delivers one incremental batch. Replica is asserted row-identical
    to the source in-plan; the aggregate below is over the replica."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )
    from news_lakehouse_spark.streaming.table_feed import feed_into_replica

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("tfeed", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    rep = VersionedParquetTable(spark, os.path.join(base, "rep"))
    ckpt = os.path.join(base, "ckpt")
    src.merge(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    d1 = feed_into_replica(src, rep, ["o_orderkey"], ckpt)
    src.merge(
        orders.filter(F.col("o_orderkey") % 6 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    src.delete_keys(
        orders.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    )
    # fresh call = fresh TableChangeFeed = resume from the persisted
    # cursor; the two commits arrive as ONE pinned incremental span
    with _op_phase("t_stream_table_feed", "incremental_drain"):
        d2 = feed_into_replica(src, rep, ["o_orderkey"], ckpt)
    assert [i["batch_id"] for i in d1] == [0]
    assert [(i["batch_id"], i["from"], i["to"]) for i in d2] == [(1, 1, 3)]
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        assert rep.read().count() == src.read().count()
        assert rep.read().exceptAll(src.read()).isEmpty()
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        rep.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_STREAM_TABLE_FEED_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM live GROUP BY o_orderstatus
"""


def t_feed_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription surviving SOURCE-side schema evolution
    (transaction.py mirror_evolution_from + streaming/table_feed.py):
    between two drains the source RENAMES o_totalprice→price, ADDS a
    flag column, and merges new-shape rows — the replica must mirror
    the (metadata-only, idempotent) evolution before applying the
    endpoint-schema feed, the failure mode where Delta's readStream
    simply breaks. src: v1 = orders %4 → snapshot drain; v2 rename +
    v3 add + v4 merge %8 with doubled price and flag=true → one
    incremental drain across all three. Replica asserted row-identical
    to the source in-plan; the aggregate is over the REPLICA under the
    NEW names."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )
    from news_lakehouse_spark.streaming.table_feed import feed_into_replica

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("feeddrift", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    rep = VersionedParquetTable(spark, os.path.join(base, "rep"))
    ckpt = os.path.join(base, "ckpt")
    src.merge(orders.filter(F.col("o_orderkey") % 4 == 0), ["o_orderkey"])
    feed_into_replica(src, rep, ["o_orderkey"], ckpt)
    src.rename_column("o_totalprice", "price")
    src.add_column("flag", "boolean")
    src.merge(
        orders.filter(F.col("o_orderkey") % 8 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("price"),
            F.lit(True).alias("flag"),
        ),
        ["o_orderkey"],
    )
    with _op_phase("t_feed_schema_drift", "drift_drain"):
        feed_into_replica(src, rep, ["o_orderkey"], ckpt)
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        assert rep.read().columns == src.read().columns
        assert rep.read().count() == src.read().count()
        assert rep.read().exceptAll(src.read()).isEmpty()
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("price") * 100).cast("long"),
        ),
        10,
    )
    return (
        rep.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(rowhash).alias("hash_sum"),
            F.count(F.when(F.col("flag"), 1)).alias("flagged"),
        )
    )


_FEED_SCHEMA_DRIFT_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price,
         (o_orderkey % 8 = 0) AS flag
  FROM orders WHERE o_orderkey % 4 = 0
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum,
       COUNT(CASE WHEN flag THEN 1 END) AS flagged
FROM live GROUP BY o_orderstatus
"""


def t_feed_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous (processingTime-style) table-feed subscription with
    a CHURN-BYTES batch bound (streaming/table_feed.py run_continuous
    + max_bytes_per_batch — r9, closing r8 verdict #6): the reference's
    silver→gold hop is a daily full re-read (gcs_silver_to_gold.py:
    347-352); this is the near-real-time subscriber it lacks. After
    the snapshot drain, two more source commits land; the continuous
    runner must deliver them as SEPARATE byte-bounded batches
    (max_bytes_per_batch=1 makes every commit over-budget, so commits
    — the atomicity unit — ship alone; asserted in-plan) and converge
    the replica exactly-once. The aggregate is over the REPLICA."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )
    from news_lakehouse_spark.streaming.table_feed import feed_into_replica

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("feedcont", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    rep = VersionedParquetTable(spark, os.path.join(base, "rep"))
    ckpt = os.path.join(base, "ckpt")
    src.merge(orders.filter(F.col("o_orderkey") % 4 == 0), ["o_orderkey"])
    feed_into_replica(src, rep, ["o_orderkey"], ckpt)  # snapshot batch
    src.merge(
        orders.filter(F.col("o_orderkey") % 8 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )
    src.merge(
        orders.filter(F.col("o_orderkey") % 20 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 3).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )
    with _op_phase("t_feed_continuous", "continuous_drain"):
        got = feed_into_replica(
            src,
            rep,
            ["o_orderkey"],
            ckpt,
            continuous=True,
            poll_interval=0.05,
            idle_stop_after=2,
            max_bytes_per_batch=1,
        )
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        # byte bound: each commit over-budget → one commit per batch
        assert [(i["from"], i["to"]) for i in got] == [(1, 2), (2, 3)], got
        assert rep.read().exceptAll(src.read()).isEmpty()
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        rep.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_FEED_CONTINUOUS_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice * 3
              WHEN o_orderkey % 8 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 4 = 0
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM live GROUP BY o_orderstatus
"""


def x_rollback_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """changes() span crossing a ROLLBACK plus a post-restore schema
    evolution (r9, closing advice r8 high): a rollback used to forget
    post-target schema epochs, the next rename re-issued the same
    epoch id for a DIFFERENT schema, and a changes() span crossing the
    restore then read pre-rollback files under the wrong physical
    column names — silent NULLs in the feed. Epoch ids are now
    globally unique (transaction.py rollback carries post-target
    epochs; _evolve_commit_once/_epoch_state allocate past every known
    id). v1 = %3 keys (val = exact cents); v2 rename val→y;
    v3 = %5 merge (2×); v4 rename y→z; v5 = %7 merge (3×);
    v6 = rollback(3); v7 rename y→w; v8 = %11 merge (5×).
    changes(5, 8) is the per-key state5→state8 delta — every value
    non-null (asserted in-plan: NULLs are exactly the bug's
    signature), summed exactly as bigint cents."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("rbevo", sf_dir)
    t = VersionedParquetTable(spark, base)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def keys(*mods):
        cond = F.lit(True)
        for m in mods:
            cond = cond & (F.col("o_orderkey") % m == 0)
        return orders.filter(cond)

    t.merge(
        keys(3).select("o_orderkey", cents.alias("val")), ["o_orderkey"]
    )  # v1
    with _op_phase("x_rollback_evolution", "evolve_rollback_commits"):
        t.rename_column("val", "y")  # v2
        t.merge(
            keys(3, 5).select("o_orderkey", (cents * 2).alias("y")),
            ["o_orderkey"],
        )  # v3
        t.rename_column("y", "z")  # v4
        t.merge(
            keys(3, 7).select("o_orderkey", (cents * 3).alias("z")),
            ["o_orderkey"],
        )  # v5
        t.rollback(3)  # v6: forgets nothing — epoch z is carried
        t.rename_column("y", "w")  # v7: must NOT reuse epoch z's id
        t.merge(
            keys(3, 11).select("o_orderkey", (cents * 5).alias("w")),
            ["o_orderkey"],
        )  # v8
    ch = t.changes(5, 8)
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        # the sid-reuse bug reads v5's epoch-z files under the wrong
        # physical name → NULL w on the delete side; adjudicate in-plan
        assert ch.filter(F.col("w").isNull()).isEmpty()
        # r9 verdict #1b: the r9 driver red was hash-only with
        # rows/schema green and unreproducible serially — adjudicate
        # EVERY feed row, not just nullness: each key appears at most
        # once per change side, and a double evaluation of the feed
        # fingerprints identically (a nondeterministic read
        # self-reports as a named assert, not an anonymous mismatch).
        dup = (
            ch.groupBy("o_orderkey", "_change_type")
            .agg(F.count(F.lit(1)).alias("copies"))
            .filter(F.col("copies") != 1)
            .limit(5)
            .collect()
        )
        fps = []
        if not dup:
            fps = [
                _read_fingerprint(t.changes(5, 8)) for _ in range(2)
            ]
        _write_diag(
            "rollback_evo",
            {
                "pid": os.getpid(),
                "sf_dir": sf_dir,
                "table": base,
                "dup_feed_keys": [r.asDict() for r in dup],
                "read_fingerprints": fps,
                "versions": t.versions(),
                "session": _session_snapshot(spark),
            },
        )
        assert not dup, f"x_rollback_evolution: duplicated feed rows {dup}"
        assert fps[0] == fps[1], (
            f"x_rollback_evolution: double-read drift {fps}"
        )
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("cnt"), F.sum("w").alias("val_sum")
    )


_ROLLBACK_EVOLUTION_SQL = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0
), st AS (
  SELECT k, cents,
         cents * (CASE WHEN k % 7 = 0 THEN 3
                       WHEN k % 5 = 0 THEN 2 ELSE 1 END) AS s5,
         cents * (CASE WHEN k % 11 = 0 THEN 5
                       WHEN k % 5 = 0 THEN 2 ELSE 1 END) AS s8
  FROM base
), delta AS (
  SELECT 'delete' AS _change_type, s5 AS w FROM st WHERE s5 <> s8
  UNION ALL
  SELECT 'insert' AS _change_type, s8 AS w FROM st WHERE s5 <> s8
)
SELECT _change_type, COUNT(*) AS cnt,
       CAST(SUM(w) AS BIGINT) AS val_sum
FROM delta GROUP BY _change_type
"""


def t_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table as a FIRST-CLASS Structured Streaming
    source (sources/datasource.py, Python Data Source API): offsets
    live in Spark's own checkpoint log — the Delta
    `readStream.format("delta")` analog, vs. the library-level cursor
    of streaming/table_feed.py. The reference's streaming direction is
    bucket→table (gcs_bronze_to_silver.py:50,160-233); this is
    table→stream, what its gold subscribers would use.

    Script: v1 = fast-append of orders %3=0 → drain 1 delivers the
    snapshot; v2 = append %3=1 → drain 2 (checkpoint RESUME, a fresh
    query on the same offset log) tails exactly the new files; v3 =
    a MERGE rewriting %15=0 rows — a change commit an append stream
    must not misrepresent — then v4 = append %3=2 at tripled price:
    drain 3 runs with skipChangeCommits=true (Delta's option),
    skips v3's rewrite entirely and delivers only v4's files. The
    parquet sink is therefore %3∈{0,1} at original prices + %3=2
    tripled, each row EXACTLY once across 3 restarts — which the
    oracle recomputes in SQL. (The loud failure WITHOUT the skip
    option is pinned in tests/test_datasource.py.)"""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.datasource import (
        await_drain,
        register_versioned_table_source,
    )
    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )

    register_versioned_table_source(spark)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("dss", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")

    def drain(skip: bool = False) -> None:
        def start():
            r = spark.readStream.format("versioned_table").option(
                "path", src.path
            )
            if skip:
                r = r.option("skipChangeCommits", "true")
            return (
                r.load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        # retry the hardcoded 10 s python-worker connect-back window
        # (sources/datasource.await_drain) — checkpoint-resumed, so
        # exactly-once is unaffected
        await_drain(start, timeout=300)

    src.append(orders.filter(F.col("o_orderkey") % 3 == 0))
    with _op_phase("t_datasource_stream", "stream_drains"):
        drain()  # snapshot
        src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
        drain()  # tail: resume from Spark's offset log
        src.merge(  # rewrite -> change commit, skipped below
            orders.filter(F.col("o_orderkey") % 15 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            ),
            ["o_orderkey"],
        )
        src.append(
            orders.filter(F.col("o_orderkey") % 3 == 2).withColumn(
                "o_totalprice", F.col("o_totalprice") * 3
            )
        )
        drain(skip=True)  # skips v3's rewrite, tails v4's append
    got = spark.read.parquet(sink)
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        # exactly-once across the 4 restarts: one sink row per order
        assert got.count() == orders.count(), (
            got.count(), orders.count(),
        )
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return got.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum")
    )


_DATASOURCE_STREAM_SQL = """
WITH sunk AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3
  FROM orders WHERE o_orderkey % 3 = 2
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM sunk GROUP BY o_orderstatus
"""


def t_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table as a Structured Streaming SINK
    (sources/datasource.py VersionedTableStreamWriter — the Delta
    `writeStream.format("delta")` analog): executors stage each
    micro-batch's partitions as bare parquet, the driver registers
    them with ONE atomic fast-append commit (`add_files`, the Iceberg
    add_files analog), and exactly-once across restarts comes from
    (sinkId, batchId) recorded in the commit's properties — a
    replayed batch is detected and discarded (the Delta-sink
    txn-version idempotence contract; crash replay pinned in
    tests/test_datasource.py).

    Script: the table seeds with orders %3=0; drain 1 streams %3=1
    from a file source into the sink; more source files land (%3=2 at
    tripled price) and drain 2 RESUMES from the same checkpoint,
    appending only the new batch; drain 3 re-runs with nothing new —
    the table version must not move. The oracle recomputes the final
    table; the exactly-once count asserts in-query.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.datasource import (
        await_drain,
        register_versioned_table_source,
    )
    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )

    register_versioned_table_source(spark)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("dsk", sf_dir)
    tgt = VersionedParquetTable(spark, os.path.join(base, "tgt"))
    srcdir = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    tgt.append(orders.filter(F.col("o_orderkey") % 3 == 0))

    def drain() -> None:
        def start():
            return (
                spark.readStream.schema(
                    "o_orderkey long, o_orderstatus string, o_totalprice double"
                )
                .parquet(srcdir)
                .writeStream.format("versioned_table")
                .option("path", tgt.path)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        # python-worker connect-back retry; (sinkId, batchId)
        # idempotence makes the restart exactly-once
        await_drain(start, timeout=300)

    orders.filter(F.col("o_orderkey") % 3 == 1).write.mode(
        "append"
    ).parquet(srcdir)
    with _op_phase("t_datasource_sink", "sink_drains"):
        drain()
        orders.filter(F.col("o_orderkey") % 3 == 2).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ).write.mode("append").parquet(srcdir)
        drain()  # checkpoint resume: only the new files append
        v_settled = tgt.latest_version()
        drain()  # nothing new: the table version must not move
    assert tgt.latest_version() == v_settled, "idle drain committed"
    props = tgt.snapshot_properties(v_settled)
    assert props.get("vt_sink_id") == "default", props
    got = tgt.read()
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        assert got.count() == orders.count(), (
            got.count(), orders.count(),
        )
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return got.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum")
    )


_DATASOURCE_SINK_SQL = """
WITH sunk AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice * 3
  FROM orders WHERE o_orderkey % 3 = 2
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM sunk GROUP BY o_orderstatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-10.

    customer filter broadcasts; lineitem (the 100 TB side) joins
    without shuffling until the aggregate on its own key."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (3 broadcast dims) → per-nation agg."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name
"""


def t_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessions (streaming twin of x_sessionize),
    checked in batch mode against a gaps-and-islands SQL oracle."""
    e = read_table(spark, sf_dir, "events")
    return session_window_counts(e, gap="30 minutes")


_SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


def x_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge: apply a change batch to a versioned customer dim.

    Target = current snapshot of `customer` (one open version per key,
    valid from 2020-01-01). Change batch: every 7th key moves to a new
    segment (close + new version), every 7th+1 re-sends its existing
    segment (no-op), and every 7th+2 arrives under an unseen key
    (first version). One full-outer join on the key, change rows
    emitted via inline() so the join runs once.
    """
    c = read_table(spark, sf_dir, "customer")
    target = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.to_date(F.lit(None)).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    eff = F.to_date(F.lit("2024-06-01"))
    changed = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string")).alias(
            "segment"
        ),
        eff.alias("effective"),
    )
    unchanged = c.filter(F.col("c_custkey") % 7 == 1).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        eff.alias("effective"),
    )
    brand_new = c.filter(F.col("c_custkey") % 7 == 2).select(
        (F.col("c_custkey") + 10_000_000).alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        eff.alias("effective"),
    )
    source = changed.unionByName(unchanged).unionByName(brand_new)
    return scd2_merge(
        target, source, keys=["custkey"], attrs=["segment"], effective_col="effective"
    )


_SCD2_SQL = """
WITH target AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         true AS is_current
  FROM customer
), src AS (
  SELECT c_custkey AS custkey, 'SEG_' || CAST(c_custkey % 3 AS VARCHAR) AS segment,
         DATE '2024-06-01' AS effective
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, DATE '2024-06-01'
  FROM customer WHERE c_custkey % 7 = 1
  UNION ALL
  SELECT c_custkey + 10000000, c_mktsegment, DATE '2024-06-01'
  FROM customer WHERE c_custkey % 7 = 2
), j AS (
  SELECT coalesce(t.custkey, s.custkey) AS custkey,
         t.segment AS t_seg, t.valid_from AS t_vf, t.valid_to AS t_vt,
         s.segment AS s_seg, s.effective AS s_eff,
         t.custkey IS NOT NULL AS t_exists,
         s.custkey IS NOT NULL AS s_exists,
         (t.custkey IS NOT NULL AND s.custkey IS NOT NULL
          AND t.segment IS DISTINCT FROM s.segment) AS chg
  FROM target t FULL OUTER JOIN src s ON t.custkey = s.custkey
)
SELECT custkey, t_seg AS segment, t_vf AS valid_from,
       CASE WHEN chg THEN s_eff ELSE t_vt END AS valid_to,
       NOT chg AS is_current
FROM j WHERE t_exists
UNION ALL
SELECT custkey, s_seg, s_eff, CAST(NULL AS DATE), true
FROM j WHERE s_exists AND (NOT t_exists OR chg)
"""


def x_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID commit + time travel on the parquet warehouse
    (sources/transaction.py) — the engine analog of the reference's
    Iceberg snapshot reads (gcs_bronze_to_silver.py:50, MERGE commits
    at :457-475).

    Builds a versioned orders table in two manifest commits: v1 = every
    order with key % 5 != 0; v2 = a MERGE whose source doubles the price
    of keys divisible by 5 or 7 (inserting the %5 keys, updating the %7
    keys). Returns per-version row count + rounded price total read via
    `read(version=N)` — v1's numbers must be unchanged by the v2 commit.
    Partitioned by o_orderstatus so the commit exercises the
    carry-over-by-reference path for untouched partition files.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("time_travel", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        orders.filter(F.col("o_orderkey") % 5 != 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 == 0)
        ).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )

    def snap(v: int) -> DataFrame:
        return (
            t.read(version=v)
            .groupBy()
            .agg(
                F.count("*").alias("cnt"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .select(F.lit(v).alias("version"), "cnt", "total")
        )

    return snap(1).unionByName(snap(2))


_TIME_TRAVEL_SQL = """
SELECT 1 AS version, COUNT(*) AS cnt,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 5 <> 0
UNION ALL
SELECT 2, COUNT(*),
       ROUND(SUM(CASE WHEN o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
                      THEN o_totalprice * 2 ELSE o_totalprice END), 2)
FROM orders
"""


def x_table_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata inspection tables over the versioned warehouse
    (sources/transaction.py inspect() — the Iceberg `table.files` /
    `.snapshots` / `.partitions` analog; the reference gets the same
    surface from Iceberg's metadata tables on its MERGE snapshots,
    gcs_bronze_to_silver.py:50,457-475).

    Builds a versioned orders table partitioned by o_orderstatus in two
    commits, then answers "how big is each partition" FROM METADATA
    ONLY: inspect("partitions") aggregates per-file record counts that
    were collected from parquet footers at commit time — no data file
    is scanned, which is the point at 100 TB (the compaction planner
    and ops dashboards read manifests, not the table). The oracle
    recomputes the same per-partition row counts from the raw data.
    In-plan asserts pin the non-SQL-expressible half: snapshot lineage
    (create→merge), file-level rows matching the scan plan, and
    positive on-disk sizes.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("table_meta", sf_dir)
    t = VersionedParquetTable(spark, base)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    t.merge(
        orders.filter(F.col("o_orderkey") % 3 != 0).select(*cols),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0).select(*cols),
        ["o_orderkey"],
    )

    snaps = t.inspect("snapshots").orderBy("version").collect()
    assert [r.operation for r in snaps] == ["create", "merge"]
    assert snaps[1].parent == snaps[0].version
    files = t.inspect("files")
    assert files.count() == len(t.files_for())
    assert files.agg(F.min("size_bytes")).first()[0] > 0

    return (
        t.inspect("partitions")
        .select("partition", "record_count")
        .orderBy("partition")
    )


def x_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates (sources/transaction.py
    metadata_aggregate — Iceberg's metadata-only scan): count(*),
    non-null counts, and min/max answered ENTIRELY from manifest stats
    collected at commit time; no data file is opened. At 100 TB the
    dashboard count(*) costs milliseconds of driver metadata instead
    of a cluster scan. The table commits in two steps (the second
    carries the first's files by reference, so carried-stat reuse is
    on the path); a partition-filtered aggregate prunes to partition
    'O' files from their path fragments alone. The oracle recomputes
    every number from the raw rows; in-query asserts pin the
    guarantees SQL can't see (bounds flagged exact, refusal contract
    covered in tests/test_transaction.py).
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    src = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price_n"),
    )
    base = _tmp_table_path("meta_agg", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        src.filter(F.col("o_orderkey") % 3 != 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(src.filter(F.col("o_orderkey") % 3 == 0), ["o_orderkey"])

    with _op_phase("x_metadata_agg", "metadata_aggregate"):
        full = t.metadata_aggregate(["o_orderkey", "price_n", "o_orderdate"])
        part = t.metadata_aggregate(
            ["o_orderkey"], partition_filter={"o_orderstatus": "O"}
        )
    key = full["columns"]["o_orderkey"]
    assert key["exact_bounds"], "bigint bounds must be exact"
    assert full["columns"]["o_orderdate"]["exact_bounds"], (
        "timestamp bounds must be exact"
    )
    row = (
        full["count_rows"],
        full["columns"]["price_n"]["count"],
        key["min"],
        key["max"],
        full["columns"]["o_orderdate"]["min"],
        full["columns"]["o_orderdate"]["max"],
        part["count_rows"],
        part["columns"]["o_orderkey"]["min"],
    )
    return spark.createDataFrame(
        [row],
        "count_rows long, n_price long, min_key long, max_key long, "
        "min_date string, max_date string, part_count long, "
        "part_min_key long",
    ).select(
        "count_rows",
        "n_price",
        "min_key",
        "max_key",
        F.col("min_date").cast("timestamp").alias("min_date"),
        F.col("max_date").cast("timestamp").alias("max_date"),
        "part_count",
        "part_min_key",
    )


_METADATA_AGG_SQL = """
WITH src AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_totalprice END AS price_n
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS count_rows,
       CAST(count(price_n) AS BIGINT) AS n_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key,
       min(o_orderdate) AS min_date,
       max(o_orderdate) AS max_date,
       (SELECT CAST(count(*) AS BIGINT) FROM src
         WHERE o_orderstatus = 'O') AS part_count,
       (SELECT CAST(min(o_orderkey) AS BIGINT) FROM src
         WHERE o_orderstatus = 'O') AS part_min_key
FROM src
"""


def x_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy table clone (sources/transaction.py clone — the Delta
    SHALLOW CLONE analog via hardlinks, so source and clone stay fully
    independent: either side may rewrite, compact, or VACUUM without
    corrupting the other, the documented Delta-clone footgun). The
    script clones a 2-commit orders table, diverges BOTH sides (source
    doubles %10=0 prices; clone triples %10=5), then compacts AND
    zero-grace-vacuums the source — and returns per-side aggregates
    the oracle recomputes from raw rows: identical pre-divergence
    data, each side seeing only its own edit. In-query asserts pin the
    zero-copy mechanics SQL can't see (shared inode, nlink >= 2, clone
    provenance properties).
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("clone", sf_dir)
    t = VersionedParquetTable(spark, os.path.join(base, "src"))
    t.merge(orders.filter(F.col("o_orderkey") % 2 == 0), ["o_orderkey"])
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))

    with _op_phase("x_table_clone", "clone_commit"):
        c = t.clone(os.path.join(base, "clone"))
    # zero-copy: first shared file is one inode, two directory entries.
    # The clone's first commit lands AT the source version (2) so the
    # commit numbers embedded in carried file paths keep their
    # MOR-fencing / epoch-attribution meaning.
    cv = c.latest_version()
    assert cv == 2, cv
    rel = c._load_manifest(cv)["files"][0]
    st_s = os.stat(os.path.join(t.path, rel))
    st_c = os.stat(os.path.join(c.path, rel))
    assert (st_s.st_ino, st_s.st_dev) == (st_c.st_ino, st_c.st_dev)
    assert st_s.st_nlink >= 2
    assert c.snapshot_properties(cv)["clone_source_version"] == "2"

    # diverge both sides, then destructively maintain the SOURCE
    t.merge(
        orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        ["o_orderkey"],
    )
    c.merge(
        orders.filter(F.col("o_orderkey") % 10 == 5).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ),
        ["o_orderkey"],
    )
    t.compact()
    t.vacuum(keep_last=1, grace_seconds=0)

    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )

    def side(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(
            F.lit(name).alias("side"), "o_orderstatus"
        ).agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))

    return side(t.read(), "source").unionByName(
        side(c.read(), "clone")
    ).orderBy("side", "o_orderstatus")


_TABLE_CLONE_SQL = """
WITH src AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price
  FROM orders
), cln AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice * 3
              ELSE o_totalprice END AS price
  FROM orders
), both_sides AS (
  SELECT 'source' AS side, o_orderkey, o_orderstatus, price FROM src
  UNION ALL
  SELECT 'clone', o_orderkey, o_orderstatus, price FROM cln
)
SELECT side, o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM both_sides GROUP BY side, o_orderstatus
ORDER BY side, o_orderstatus
"""


def x_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (sources/transaction.py
    set_partition_spec — Iceberg's ALTER TABLE ... REPLACE PARTITION
    FIELD analog, the capability Iceberg holds over Hive layouts;
    reference tables are Iceberg, gcs_bronze_to_silver.py:73-158).

    v1 commits orders partitioned by o_orderstatus; a METADATA-ONLY
    commit evolves the spec to (o_orderstatus, o_orderpriority) — at
    100 TB this costs one manifest, not a table rewrite; a merge then
    updates status-F keys divisible by 7 (doubling their price), which
    rewrites ONLY the overlapping old-spec files into the new layout
    while untouched statuses carry over by reference (incremental
    migration — asserted in-plan, along with the evolve commit's empty
    change feed). The returned aggregate reads through a
    partition_filter on the NEW spec column, exercising conservative
    pruning + row-filter compensation over the mixed-layout snapshot.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("part_evo", sf_dir)
    t = VersionedParquetTable(spark, base)
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
    t.merge(
        orders.select(*cols), ["o_orderkey"], partition_by=["o_orderstatus"]
    )
    v_evo = t.set_partition_spec(["o_orderstatus", "o_orderpriority"])
    assert t.changes(v_evo - 1, v_evo).isEmpty()  # metadata-only commit
    untouched = {
        f for f in t.files_for() if "__p_o_orderstatus=O" in f
    }
    t.merge(
        orders.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 == 0)
        ).select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )
    live = set(t.files_for())
    assert untouched <= live  # non-overlapping old-spec files carried
    assert any("__p_o_orderpriority=" in f for f in live)  # new layout

    return (
        t.read(
            partition_filter={"o_orderpriority": ["1-URGENT", "2-HIGH"]}
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


def x_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-id schema evolution (sources/transaction.py
    rename_column/widen_column — Iceberg ALTER TABLE analogs; the
    reference's tables are Iceberg DDL, gcs_bronze_to_silver.py:73-158,
    whose format allows exactly these metadata-only changes).

    v1 commits an orders subset; a METADATA-ONLY rename
    (o_totalprice→price) and int→bigint widen (ship) follow — both
    asserted in-plan to touch zero data files and emit an empty change
    feed (at 100 TB each costs one manifest, not a table rewrite). A
    merge then updates keys divisible by 13 under the NEW schema, so
    the final snapshot mixes files written under three schema epochs,
    all mapped by field id at read time. The returned frame aggregates
    the current snapshot under the new names AND the v1 snapshot via
    time travel under the original names — both value-checked by the
    oracle."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("schema_evo", sf_dir)
    t = VersionedParquetTable(spark, base)
    sub = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_custkey").cast("int").alias("ship"),
    )
    t.merge(sub, ["o_orderkey"])
    files_v1 = set(t.files_for())
    with _op_phase("x_schema_evolution", "evolve_commits"):
        v_ren = t.rename_column("o_totalprice", "price")
        v_wide = t.widen_column("ship", "bigint")
    assert set(t.files_for()) == files_v1  # both commits metadata-only
    assert t.changes(v_ren - 1, v_wide).isEmpty()
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 13 == 0)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("price"),
            F.col("o_custkey").cast("bigint").alias("ship"),
        ),
        ["o_orderkey"],
    )

    def agg(df, price_col, tag):
        return df.agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(price_col), 2).alias("total_price"),
            F.sum("ship").cast("bigint").alias("ship_sum"),
        ).select(F.lit(tag).alias("snap"), "cnt", "total_price", "ship_sum")

    return (
        agg(t.read(), "price", "current")
        .unionByName(agg(t.read(version=1), "o_totalprice", "v1"))
        .orderBy("snap")
    )


_SCHEMA_EVOLUTION_SQL = """
WITH sub AS (
  SELECT o_orderkey, o_totalprice, CAST(o_custkey AS INT) AS ship
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT 'current' AS snap,
       COUNT(*) AS cnt,
       ROUND(SUM(CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS total_price,
       CAST(SUM(ship) AS BIGINT) AS ship_sum
FROM sub
UNION ALL
SELECT 'v1' AS snap,
       COUNT(*) AS cnt,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       CAST(SUM(ship) AS BIGINT) AS ship_sum
FROM sub
ORDER BY snap
"""


def x_nested_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-field schema evolution (r7 verdict #2): dotted-path
    rename/widen/add inside an ARRAY<STRUCT> column — the reference's
    own bronze shape (top_comments ARRAY<STRUCT>, spark_jobs/
    schema.py:15-22) and the first evolution a real user of that data
    model attempts. v1 commits orders %3 with an
    ``info ARRAY<STRUCT<st, cents:int>>`` column; then THREE
    metadata-only commits: rename info.element.st→status, widen
    info.element.cents int→bigint, add info.element.flag boolean —
    asserted in-plan to touch zero data files. A merge then rewrites
    keys %9 under the NEW nested shape (cents tripled, flag=true), so
    the final snapshot mixes nested epochs, mapped by NESTED field id
    in the read projection (structs rebuild field-wise, arrays via
    transform — transaction.py _fid_map_expr). The aggregate explodes
    the array back to rows, so the oracle checks every nested value."""
    import hashlib
    import json
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("nested_evo", sf_dir)
    t = VersionedParquetTable(spark, base)
    sub = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.array(
            F.struct(
                F.col("o_orderstatus").alias("st"),
                F.round(F.col("o_totalprice") * 100)
                .cast("int")
                .alias("cents"),
            )
        ).alias("info"),
    )
    t.merge(sub, ["o_orderkey"])
    files_v1 = set(t.files_for())
    with _op_phase("x_nested_evolution", "evolve_commits"):
        t.rename_column("info.element.st", "status")
        t.widen_column("info.element.cents", "bigint")
        t.add_column("info.element.flag", "boolean")
    assert set(t.files_for()) == files_v1  # all three metadata-only
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 9 == 0)
        ).select(
            "o_orderkey",
            F.array(
                F.struct(
                    F.col("o_orderstatus").alias("status"),
                    (
                        F.round(F.col("o_totalprice") * 100).cast("int")
                        * F.lit(3)
                    )
                    .cast("bigint")
                    .alias("cents"),
                    F.lit(True).alias("flag"),
                )
            ).alias("info"),
        ),
        ["o_orderkey"],
    )
    e = t.read().select(
        "o_orderkey", F.explode("info").alias("c")
    )
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        # r8/r9 driver reds were hash-mismatch with rows/schema green
        # and unreproducible serially; the on-disk table re-read
        # oracle-exact afterwards (r9 forensics), so the divergence is
        # in-flight. Adjudicate EVERY carried row in-query (r9 verdict
        # #1b — the old %9-only assert missed the rewritten files'
        # non-%9 passengers): copies == 1 for ALL %3 keys, flag set
        # exactly on %9 keys; plus a double-read fingerprint so a
        # nondeterministic read self-reports. A violation raises (a
        # self-explaining driver `err`) and the per-run summary +
        # session confs land at a stable /tmp path. Three extra
        # metadata-sized aggregations at sf0.01; skipped under bench
        # timing.
        bad = (
            e.groupBy("o_orderkey")
            .agg(
                F.count("*").alias("copies"),
                F.count(F.when(F.col("c.flag"), 1)).alias("flagged"),
            )
            .filter(
                (F.col("copies") != 1)
                | (
                    F.col("flagged")
                    != F.when(
                        F.col("o_orderkey") % 9 == 0, F.lit(1)
                    ).otherwise(F.lit(0))
                )
            )
            .limit(5)
            .collect()
        )
        diag = {
            "pid": os.getpid(),
            "sf_dir": sf_dir,
            "table": base,
            "stale_or_dup_keys": [r.asDict() for r in bad],
            "versions": t.versions(),
            "session": _session_snapshot(spark),
        }
        fps = []
        if not bad:
            for _ in range(2):
                fps.append(
                    _read_fingerprint(
                        t.read().select(
                            "o_orderkey", F.explode("info").alias("c")
                        )
                    )
                )
            diag["read_fingerprints"] = fps
        _write_diag("nested_evo", diag)
        assert not bad, (
            "x_nested_evolution: carried keys with stale/duplicated "
            f"rows after the post-evolution merge: {bad}"
        )
        assert fps[0] == fps[1], (
            f"x_nested_evolution: double-read drift {fps}"
        )
    return (
        e.groupBy(F.col("c.status").alias("status"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("c.cents").alias("sum_cents"),
            F.count(F.when(F.col("c.flag"), 1)).alias("flagged"),
        )
        .orderBy("status")
    )


_NESTED_EVOLUTION_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CASE WHEN o_orderkey % 9 = 0
              THEN CAST(CAST(ROUND(o_totalprice * 100) AS INTEGER)
                        AS BIGINT) * 3
              ELSE CAST(CAST(ROUND(o_totalprice * 100) AS INTEGER)
                        AS BIGINT) END AS cents,
         (o_orderkey % 9 = 0) AS flag
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT status, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       COUNT(CASE WHEN flag THEN 1 END) AS flagged
FROM live GROUP BY status ORDER BY status
"""


_PARTITION_EVOLUTION_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0
                      THEN o_totalprice * 2 ELSE o_totalprice END),
             2) AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def x_partial_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial compaction driven by the metadata-only planner
    (sources/transaction.py plan_compaction + compact(partitions=...)
    — Iceberg rewrite_data_files-with-filter / Delta OPTIMIZE WHERE
    analog). Three merges build small-file pressure in the F-status
    partition only; plan_compaction must name exactly that partition
    from the manifest alone, and compacting it must leave every other
    partition's files untouched (asserted in-plan, along with the
    compact commit's empty change feed — content preservation). At
    100 TB this is the only compaction shape that exists: cost follows
    the churned partition, never the table. The returned aggregate
    re-reads the compacted table; the oracle recomputes it from raw
    data.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("partial_cmp", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(orders, ["o_orderkey"], partition_by=["o_orderstatus"])
    # two more merges churn ONLY status F → small-file buildup there
    for mod in (7, 11):
        t.merge(
            orders.filter(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderkey") % mod == 0)
            ).withColumn("o_totalprice", F.col("o_totalprice") + mod),
            ["o_orderkey"],
        )
    untouched = {
        f for f in t.files_for() if "__p_o_orderstatus=F" not in f
    }
    plan = t.plan_compaction(min_files=2)
    assert {"o_orderstatus": "F"} in plan, plan
    v = t.compact(partitions=[{"o_orderstatus": "F"}])
    assert t.changes(v - 1, v).isEmpty()  # content-preserving
    live = set(t.files_for())
    assert untouched <= live  # other partitions carried by reference

    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


_PARTIAL_COMPACT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       ROUND(SUM(CASE
                   WHEN o_orderstatus = 'F' AND o_orderkey % 11 = 0
                     THEN o_totalprice + 11
                   WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0
                     THEN o_totalprice + 7
                   ELSE o_totalprice
                 END), 2) AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


_TABLE_METADATA_SQL = """
SELECT 'o_orderstatus=' || o_orderstatus AS partition,
       COUNT(*) AS record_count
FROM orders
GROUP BY o_orderstatus
ORDER BY partition
"""


def x_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between two table versions
    (sources/transaction.py changes() — the Iceberg incremental-read
    analog: downstream consumers process the delta of a commit, never
    re-scanning the table; only files differing between the two
    manifests are read).

    Same two-commit construction as x_time_travel: v1 = orders with
    key % 5 != 0; v2 = MERGE doubling the price of keys divisible by 5
    or 7. The delta is therefore: inserts = every %5-or-%7 key at the
    doubled price (updates surface as delete+insert pairs), deletes =
    the old image of the updated %7 keys that were present in v1.
    Returns per-change-type count + content hash-sum.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("changes", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        orders.filter(F.col("o_orderkey") % 5 != 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 == 0)
        ).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    # operator-only span (r8 verdict #3): isolates the DRIVER-side
    # changes() plan construction (the commit-chain walk + epoch
    # grouping the r8 rewrite added) from the two-merge setup; the
    # scan itself is evaluated by the caller's collect as usual
    with _op_phase("x_table_changes", "changes_plan_build"):
        ch = t.changes(1, 2)
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum")
    )


_TABLE_CHANGES_SQL = """
WITH ins AS (
  SELECT o_orderkey, o_totalprice * 2 AS price FROM orders
  WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
), del AS (
  SELECT o_orderkey, o_totalprice AS price FROM orders
  WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
), tagged AS (
  SELECT 'insert' AS _change_type, o_orderkey, price FROM ins
  UNION ALL
  SELECT 'delete', o_orderkey, price FROM del
)
SELECT _change_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM tagged GROUP BY _change_type
"""


def x_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only snapshot restore (sources/transaction.py
    rollback() — the Iceberg rollback / Delta RESTORE analog the
    reference gets from its Iceberg catalog): after a bad commit, one
    manifest write points the table back at the prior snapshot without
    reading or rewriting data, and the change feed across the restore
    is the exact inverse of the bad commit's delta (so a CDC replica
    un-applies it via apply_changes).

    Same two-commit construction as x_time_travel (v1 = keys %5 != 0;
    v2 = MERGE doubling %5-or-%7 keys), then rollback(1). Returns the
    restored snapshot's aggregate plus the per-change-type counts of
    the feed across the restore: inserts = the %7 keys' old images
    coming back, deletes = every doubled row leaving.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    base = _tmp_table_path("rollback", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        orders.filter(F.col("o_orderkey") % 5 != 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 5 == 0) | (F.col("o_orderkey") % 7 == 0)
        ).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        ["o_orderkey"],
    )
    with _op_phase("x_rollback", "rollback"):
        t.rollback(1)
    restored = (
        t.read()
        .groupBy()
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(F.lit("restored").alias("kind"), "cnt", "total")
    )
    feed = (
        t.changes(2, 3)
        .groupBy(F.col("_change_type").alias("kind"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    return restored.unionByName(feed)


_ROLLBACK_SQL = """
SELECT 'restored' AS kind, COUNT(*) AS cnt,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 5 <> 0
UNION ALL
SELECT 'insert', COUNT(*), ROUND(SUM(o_totalprice), 2)
FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
UNION ALL
SELECT 'delete', COUNT(*), ROUND(SUM(o_totalprice * 2), 2)
FROM orders WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
"""


def x_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata through the multimodal probe
    (operators/multimodal.py describe_media): per document, construct
    IN-PLAN one of three valid image payloads — a P5 netpbm (fully
    decoded raster), a PNG whose IHDR carries the dimensions, or a
    JPEG whose SOF0 marker does (header-only parses; compressed pixel
    decode is library-blocked, dimensions are pure bytes) — and return
    the worker-parsed format/dimensions/channels. The oracle recomputes
    them analytically, so a regression in the netpbm decode, the IHDR
    parse, or the SOF marker walk flips the hash.
    """
    from news_lakehouse_spark.operators.multimodal import describe_media

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    height = (F.col("n_chars") % 5 + 2).cast("int")
    pgm = F.encode(
        F.concat(
            F.format_string("P5\n%d %d\n255\n", F.lit(8), height),
            F.rpad(F.substring(F.col("text"), 1, 48), 48, "x"),
        ),
        "UTF-8",
    )
    # PNG: magic + IHDR(len,'IHDR', width=8, height, bitdepth 8,
    # colortype 2=RGB, compression/filter/interlace 0) + placeholder CRC
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"),
            F.format_string("%08X", F.lit(8)),
            F.format_string("%08X", height),
            F.lit("080200000000000000"),
        )
    )
    # JPEG: SOI + SOF0(len 0x11, precision 8, height, width=8,
    # 3 components with id/sampling/quant-table bytes)
    jpeg = F.unhex(
        F.concat(
            F.lit("FFD8FFC0001108"),
            F.format_string("%04X", height),
            F.format_string("%04X", F.lit(8)),
            F.lit("03010100020101030101"),
        )
    )
    payload = (
        F.when(F.col("doc_id") % 3 == 0, pgm)
        .when(F.col("doc_id") % 3 == 1, png)
        .otherwise(jpeg)
    )
    return describe_media(
        d.select(F.col("doc_id"), payload.alias("payload"))
    ).select("doc_id", "media_kind", "format", "height", "width", "channels")


_MEDIA_PROBE_SQL = """
SELECT doc_id, 'image' AS media_kind,
       CASE doc_id % 3 WHEN 0 THEN 'netpbm' WHEN 1 THEN 'png'
            ELSE 'jpeg' END AS format,
       CAST(n_chars % 5 + 2 AS INT) AS height,
       CAST(8 AS INT) AS width,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS INT) AS channels
FROM documents WHERE n_chars IS NOT NULL
"""


def x_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction preserves every row bit-for-bit
    (``VersionedParquetTable.compact`` — the rewrite_data_files
    maintenance op every lakehouse deployment runs; reference delegates
    it to Iceberg).

    Writes a 48-file copy of `orders` as a versioned table, compacts
    it, asserts from the two manifests that the file count actually
    dropped, and returns a per-status content digest over the COMPACTED
    snapshot: row count + a bigint sum of sha2-prefix row hashes. The
    oracle computes the identical digest from the original table, so
    any row dropped, duplicated, or mutated by the rewrite flips the
    value hash.
    """
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders")
    t = VersionedParquetTable(spark, _tmp_table_path("compact", sf_dir))
    t.write(orders.repartition(48))
    t.compact()
    files_before, files_after = (h["num_files"] for h in t.history())
    assert files_after < files_before, (files_before, files_after)
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(rowhash).alias("hash_sum"),
        )
    )


_COMPACT_SQL = """
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, o_custkey,
              CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM orders
GROUP BY o_orderstatus
"""


def x_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest column-bounds scan planning
    (sources/transaction.py files_for/read(predicate=...) — the
    Iceberg data-file pruning analog: per-file min/max recorded at
    commit time from parquet footers let a NON-partition-column
    predicate drop files before Spark ever lists them; reference
    counterpart is Iceberg 1.6.1 scan planning,
    docker/etl-gateway/Dockerfile:31-32).

    Commits `orders` range-clustered on o_totalprice (8 range
    partitions → 8 files with near-disjoint price bounds), then reads
    with a price predicate. The in-plan assertion REQUIRES that the
    manifest pruned files — if bounds collection or pruning breaks,
    the query fails outright; if pruning drops a needed file, the
    value hash flips. Returns the per-status digest of the
    predicate-matching rows.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("stats_prune", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.write(orders.repartitionByRange(8, F.col("o_totalprice")))
    threshold = 300000.0
    pred = [("o_totalprice", ">=", threshold)]
    n_all, n_pruned = len(t.files_for()), len(t.files_for(predicate=pred))
    assert n_pruned < n_all, (n_pruned, n_all)
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        t.read(predicate=pred)
        .filter(F.col("o_totalprice") >= threshold)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_STATS_PRUNE_SQL = """
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey,
              CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM orders WHERE o_totalprice >= 300000.0
GROUP BY o_orderstatus
"""


def x_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered compaction → MULTI-dimension file pruning
    (operators/layout.morton_key + VersionedParquetTable.compact(
    cluster_by=...) + files_for bounds pruning). The reference
    clusters its serving table on (TopicKey, AuthorKey)
    (gold_to_bigquery.py:118-142 BigQuery CLUSTER BY); Z-order is the
    lakehouse-native generalization: interleave (o_custkey, day) bits
    into one Morton key, range-cluster the compaction rewrite on it,
    and every file becomes a rectangle in (custkey, date) space — so
    the manifest's per-file min/max bounds prune a 2-D box predicate
    on BOTH dimensions, which no single-column sort can do. Asserted
    in-plan: the box predicate reads strictly fewer files than the
    snapshot holds. At 100 TB the pruned fraction IS the scan cost."""
    import datetime as _dt2

    from news_lakehouse_spark.operators.layout import scaled_morton_key
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = _tmp_table_path("zorder", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.write(orders)
    # r8 verdict #2: SCALE each dimension into the bit budget first —
    # a raw morton_key(bits=16) masks custkey to its low 16 bits, a
    # no-op at sf0.1 (custkey <= 15k) but a silent pruning killer at
    # sf1+ (custkey 150k+). r9 verdict #2: the bounds come FREE from
    # the just-written table's manifest stats (metadata_aggregate,
    # zero data IO) instead of a second full scan of the input; the
    # Morton key is a compact-time expression (cluster_by accepts
    # Columns), never a physical column — the Delta OPTIMIZE ZORDER
    # BY shape.
    ma = t.metadata_aggregate(["o_custkey", "o_orderdate"])["columns"]
    epoch = _dt2.date(1992, 1, 1)

    def _day(v) -> int:  # manifest bounds carry dates as ISO strings
        return (_dt2.date.fromisoformat(str(v)[:10]) - epoch).days

    bounds = [
        (int(ma["o_custkey"]["min"]), int(ma["o_custkey"]["max"])),
        (_day(ma["o_orderdate"]["min"]), _day(ma["o_orderdate"]["max"])),
    ]
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    zkey = scaled_morton_key([F.col("o_custkey"), day], bounds, bits=16)
    # right-size the clustered rewrite to ~16 files at any SF
    man = t._load_manifest(t.latest_version())
    total = sum(t._file_sizes(man["files"]).values())
    with _op_phase("x_zorder_pruned_read", "clustered_compact"):
        t.compact(
            target_file_bytes=max(total // 16, 1), cluster_by=[zkey]
        )
    import datetime as _dt

    pred = [
        ("o_custkey", "between", (1, 1000)),
        (
            "o_orderdate",
            "between",
            (_dt.datetime(1997, 1, 1), _dt.datetime(1997, 12, 31)),
        ),
    ]
    n_all, n_box = len(t.files_for()), len(t.files_for(predicate=pred))
    # the 2-D box must prune on the combination of BOTH dimensions
    assert n_box < n_all, (n_box, n_all)
    return (
        t.read(predicate=pred)
        .filter(
            F.col("o_custkey").between(1, 1000)
            & F.col("o_orderdate").between("1997-01-01", "1997-12-31")
        )
        .groupBy(
            F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("month")
    )


_ZORDER_PRUNE_SQL = """
SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
       COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_custkey BETWEEN 1 AND 1000
  AND o_orderdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY month ORDER BY month
"""


def x_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN partitioning — Iceberg partition transforms
    (sources/partition_spec.py + VersionedParquetTable): the table
    spec declares ``months(o_orderdate)`` + ``bucket(8, o_custkey)``,
    writes derive the partition directories automatically, and scan
    planning derives fragment pruning from predicates on the RAW
    columns — the query never names a partition field. The reference
    partitions its silver layer by a hand-derived date column
    (gcs_bronze_to_silver.py partitionBy); hidden partitioning removes
    the ``WHERE date(ts)=…`` full-scan footgun that layout invites.

    Script: v1 = full merge under the transform spec; v2 = a merge
    tripling one month's prices — asserted in-plan to rewrite ONLY
    that month's fragments (transform merge locality: churn cost
    follows the transform, not the table). The final read filters a
    raw 3-month date range + a raw customer-key equality; asserted
    in-plan: every surviving file sits inside the derived month range
    AND a single hash bucket. At 100 TB the pruned fraction is the
    scan — and the bucket dimension prunes point lookups that no
    time-partitioning reaches."""
    import datetime as _dt3

    from news_lakehouse_spark.sources.partition_spec import (
        parse_partition_spec,
        spec_exprs,
    )
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        # one year is enough table: 12 months x 8 buckets of real
        # partitions demo the layout without toy-scale small-file
        # overhead dominating the query's cost
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
    )
    base = _tmp_table_path("hidden_part", sf_dir)
    t = VersionedParquetTable(spark, base)
    spec = ["months(o_orderdate)", "bucket(8, o_custkey)"]
    # cluster the initial load by the DERIVED partition values so each
    # partition dir gets one file (the bulk-load layout discipline any
    # lakehouse write wants; subsequent merges stay partition-local)
    t.write(
        orders.repartition(
            *spec_exprs(orders, parse_partition_spec(spec))
        ),
        partition_by=spec,
    )
    before = set(t.files_for())
    with _op_phase("x_hidden_partitioning", "localized_merge"):
        t.merge(
            orders.filter(
                F.date_format("o_orderdate", "yyyy-MM") == "1995-06"
            ).withColumn("o_totalprice", F.col("o_totalprice") * 3),
            ["o_orderkey"],
        )
    rewritten = before - set(t.files_for())
    assert rewritten and all(
        "__p_o_orderdate_month=1995-06" in f for f in rewritten
    ), "merge escaped its month partitions"
    pred = [
        (
            "o_orderdate",
            "between",
            (_dt3.datetime(1995, 6, 1), _dt3.datetime(1995, 8, 31)),
        ),
        ("o_custkey", "in", [37, 74, 148]),
    ]
    kept = t.files_for(predicate=pred)
    months_ok = all(
        "__p_o_orderdate_month=1995-0" in f
        and f.split("__p_o_orderdate_month=")[1][:7] in
        ("1995-06", "1995-07", "1995-08")
        for f in kept
    )
    buckets = {
        f.split("__p_o_custkey_bucket8=")[1].split("/")[0] for f in kept
    }
    assert months_ok and len(buckets) <= 3, (
        f"hidden pruning failed: months_ok={months_ok} buckets={buckets}"
    )
    assert len(kept) < len(t.files_for()), "no files pruned"
    return (
        t.read(predicate=pred)
        .filter(
            F.col("o_orderdate").between("1995-06-01", "1995-08-31")
            & F.col("o_custkey").isin(37, 74, 148)
        )
        .groupBy(
            F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("month")
    )


_HIDDEN_PARTITIONING_SQL = """
SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
       COUNT(*) AS cnt,
       ROUND(SUM(CASE WHEN substr(CAST(o_orderdate AS VARCHAR), 1, 7)
                           = '1995-06'
                      THEN o_totalprice * 3 ELSE o_totalprice END),
             2) AS total
FROM orders
WHERE o_custkey IN (37, 74, 148)
  AND o_orderdate BETWEEN TIMESTAMP '1995-06-01'
                      AND TIMESTAMP '1995-08-31'
GROUP BY month ORDER BY month
"""


def x_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned join (operators/spj.py): two versioned
    tables sharing ``bucket(8, custkey)`` join with ZERO shuffle
    exchanges — per-bucket file groups are planned from the two
    manifests and joined one task per bucket (Iceberg SPJ /
    SPARK-37377 analog). The reference's merge-key joins
    (spark_jobs/silver_to_gold.py) are plain shuffled equi-joins; at
    100 TB the shuffle of two co-bucketed tables is pure waste, and
    this is the layout-aware path that removes it.

    Script: orders(1995) bucketed by o_custkey and customer bucketed
    by c_custkey, both bucket(8); the SPJ inner-join on the key pair
    is asserted in-plan to (a) take the fast path (stats) and (b)
    contain NO Exchange node anywhere in the executed plan — the only
    distributed rows are the 8 bucket ids. Filters/projection on top
    stay exchange-free. Falls back transparently when specs diverge
    (tested in tests/test_spj.py); the oracle recomputes the join from
    the raw tables."""
    from news_lakehouse_spark.operators.spj import (
        storage_partitioned_join,
    )
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ot = VersionedParquetTable(spark, _tmp_table_path("spj_orders", sf_dir))
    ct = VersionedParquetTable(spark, _tmp_table_path("spj_cust", sf_dir))
    ot.write(orders, partition_by=["bucket(8, o_custkey)"])
    ct.write(cust, partition_by=["bucket(8, c_custkey)"])
    st: dict = {}
    with _op_phase("x_bucket_join", "spj_join"):
        # the filters ride the SPJ predicate path: manifest bounds
        # prune whole files, pyarrow prunes row groups, and the rows
        # that survive never shuffle — pushdown all the way down
        joined = storage_partitioned_join(
            ot,
            ct,
            [("o_custkey", "c_custkey")],
            left_columns=["o_orderkey", "o_custkey", "o_totalprice"],
            right_columns=["c_name", "c_acctbal"],
            left_predicate=[("o_totalprice", ">", 150000.0)],
            right_predicate=[("c_acctbal", "<", 0.0)],
            stats=st,
        )
        out = joined.select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert st.get("strategy") == "spj", f"SPJ fast path not taken: {st}"
    assert "Exchange" not in plan, (
        "storage-partitioned join plan contains a shuffle:\n" + plan
    )
    return out


def x_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned AGGREGATION (operators/spj.py
    storage_partitioned_agg): GROUP BY on a bucketed column with ZERO
    shuffle — every row with the same key value lives in one bucket
    (``pmod(xxhash64(key), n)`` is a function of the value), so no
    group spans buckets and one task per bucket computes FINAL
    aggregates from manifest-aligned file groups (the SPARK-40086
    SPJ-aggregate pushdown shape). A Catalyst groupBy must shuffle one
    partial row per (group, partition); with a high-cardinality key
    (per-customer rollups — this query) that shuffle IS the cost at
    100 TB, and here it is zero.

    Script: the 1995 orders slice bucketed by o_custkey (8 buckets);
    per-customer count/sum/max/avg over a pushed predicate
    (o_totalprice > 50000 — pruned at manifest bounds AND pyarrow
    row groups). Asserted in-plan: the fast path ran and the executed
    plan holds no Exchange node. Oracle recomputes the GROUP BY from
    the raw table."""
    from news_lakehouse_spark.operators.spj import (
        storage_partitioned_agg,
    )
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    t = VersionedParquetTable(spark, _tmp_table_path("spa_orders", sf_dir))
    t.write(orders, partition_by=["bucket(8, o_custkey)"])
    st: dict = {}
    with _op_phase("x_bucket_agg", "spa_groupby"):
        agg = storage_partitioned_agg(
            t,
            ["o_custkey"],
            {
                "cnt": (None, "count"),
                "n_price_levels": ("o_totalprice", "count_distinct"),
                "total_price": ("o_totalprice", "sum"),
                "max_price": ("o_totalprice", "max"),
                "avg_price": ("o_totalprice", "avg"),
            },
            predicate=[("o_totalprice", ">", 50000.0)],
            stats=st,
        )
        out = agg.select(
            "o_custkey",
            "cnt",
            "n_price_levels",
            F.round("total_price", 2).alias("total_price"),
            F.round("max_price", 2).alias("max_price"),
            F.round("avg_price", 6).alias("avg_price"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert st.get("strategy") == "spa", f"SPA fast path not taken: {st}"
    assert "Exchange" not in plan, (
        "storage-partitioned aggregation plan contains a shuffle:\n" + plan
    )
    return out


_BUCKET_AGG_SQL = """
SELECT o_custkey, COUNT(*) AS cnt,
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_price_levels,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       ROUND(AVG(o_totalprice), 6) AS avg_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                      AND TIMESTAMP '1995-12-31'
  AND o_totalprice > 50000
GROUP BY o_custkey
"""


_BUCKET_JOIN_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price,
       c_name, ROUND(c_acctbal, 2) AS acctbal
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                      AND TIMESTAMP '1995-12-31'
  AND o_totalprice > 150000 AND c_acctbal < 0
"""


def x_changes_across_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed SPANNING a compaction commit
    (sources/transaction.py changes() + compact()): compaction rewrites
    every file but no content, so (a) the feed over the compact commit
    itself must be EMPTY — asserted in-plan — and (b) a feed spanning
    it must surface exactly the real merges on either side, even
    though every file now differs from the from-version's manifest.

    v1 = orders with key%3=0 (partitioned by status); v2 = MERGE
    tripling the price of %9 keys (pure updates); v3 = compact();
    v4 = MERGE inserting %5-not-%3 keys. changes(1, 4) must be:
    inserts = %9 keys at 3x + the new %5 keys, deletes = the old
    image of the %9 keys.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("chg_compact", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.merge(
        orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ),
        ["o_orderkey"],
    )
    v3 = t.compact()
    assert t.changes(v3 - 1, v3).count() == 0, "compact must not feed changes"
    t.merge(
        orders.filter(
            (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 3 != 0)
        ),
        ["o_orderkey"],
    )
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        t.changes(1, 4)
        .groupBy("_change_type")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_CHANGES_COMPACT_SQL = """
WITH tagged AS (
  SELECT 'insert' AS _change_type, o_orderkey, o_totalprice * 3 AS price
  FROM orders WHERE o_orderkey % 9 = 0
  UNION ALL
  SELECT 'insert', o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0
  UNION ALL
  SELECT 'delete', o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 9 = 0
)
SELECT _change_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM tagged GROUP BY _change_type
"""



def x_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality DELETE
    (sources/transaction.py delete_keys): tombstone a key set WITHOUT
    rewriting any data file — the Iceberg v2 delete-file analog that
    makes small deletes O(keys) instead of O(partition rewrite) at
    100 TB — then merge updates on top (re-inserting the overlap at a
    newer file version, which must WIN over the tombstone).

    v1 = orders with key%3=0 partitioned by status; v2 = delete_keys
    of %21 keys (asserted in-plan: the data file set is untouched);
    v3 = MERGE tripling %9 keys (the %63 overlap resurrects). Final
    read = %3 keys where (%21!=0 or %9==0), price*3 on %9 keys.
    """
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("mor_del", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    t.delete_keys(
        orders.filter(F.col("o_orderkey") % 21 == 0).select("o_orderkey")
    )
    assert set(t.files_for(2)) == set(t.files_for(1)), (
        "merge-on-read delete must not rewrite data files"
    )
    t.merge(
        orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ),
        ["o_orderkey"],
    )
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_MOR_DELETE_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 3
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 3 = 0
    AND (o_orderkey % 21 <> 0 OR o_orderkey % 9 = 0)
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM live GROUP BY o_orderstatus
"""


def x_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar point lookup
    (sources/transaction.py _build_bloom_sidecar / files_for): the
    table is written SHUFFLED on the key so every file's min/max spans
    ~the whole key domain — bounds pruning is useless by construction —
    then an IN-probe must still drop most files via the per-file bloom
    bitmaps (asserted in-plan) and return exactly the probed rows."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("bloom", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.write(
        orders.orderBy(F.xxhash64("o_orderkey")).repartition(8),
        bloom_columns=["o_orderkey"],
    )
    keys = [1, 100, 1000]
    probe = [("o_orderkey", "in", keys)]
    n_all, n_pruned = len(t.files_for()), len(t.files_for(predicate=probe))
    assert n_pruned < n_all, (n_pruned, n_all)
    return (
        t.read(predicate=probe)
        .filter(F.col("o_orderkey").isin(keys))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


_BLOOM_LOOKUP_SQL = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey IN (1, 100, 1000)
"""


def x_cdc_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication (sources/transaction.py apply_changes): a
    replica synced once at v1 then maintained ONLY by the source's
    change feed — updates land as upserts, deletes as merge-on-read
    tombstones — must converge to the source. src: v1 = orders %3
    partitioned by status; v2 = MERGE tripling %9; v3 = delete %15
    keys. Replica applies changes(1) and the aggregate below is over
    the REPLICA (asserted row-identical to the source in-plan)."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmp_table_path("cdc", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    rep = VersionedParquetTable(spark, os.path.join(base, "rep"))
    src.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    rep.write(src.read(version=1), partition_by=["o_orderstatus"])
    src.merge(
        orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ),
        ["o_orderkey"],
    )
    src.delete_keys(
        orders.filter(F.col("o_orderkey") % 15 == 0).select("o_orderkey")
    )
    with _op_phase("x_cdc_replicate", "apply_changes"):
        rep.apply_changes(src.changes(1), ["o_orderkey"])
    # multiset equality at half the diff cost: equal counts plus one
    # empty one-direction exceptAll imply the other direction. The
    # check is O(table) while apply_changes is O(churn), so bench runs
    # (SPARK_GRAFT_BENCH_LEAN=1, set only by bench.py) skip it to time
    # the operator; every correctness run keeps it (verdict r6 #2).
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        assert rep.read().count() == src.read().count()
        assert rep.read().exceptAll(src.read()).isEmpty()
    rowhash = sha2_prefix_long(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ),
        10,
    )
    return (
        rep.read()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), F.sum(rowhash).alias("hash_sum"))
    )


_CDC_REPLICATE_SQL = """
WITH live AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 3
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 <> 0
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(concat('0x', substr(sha256(concat_ws('|',
              o_orderkey, CAST(ROUND(price * 100) AS BIGINT))), 1, 10))
            AS BIGINT)) AS BIGINT) AS hash_sum
FROM live GROUP BY o_orderstatus
"""


def x_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view (operators/matview.py): a GROUP BY
    aggregate refreshed from the source's change feed in O(churn) —
    the scale path for the reference's full-rebuild gold refresh
    (gcs_silver_to_gold.py). src: v1 = orders %3 (partitioned by
    status); v2 = MERGE %7 with doubled cents (update where also %3,
    insert otherwise); v3 = delete %15. The view full-builds at v1,
    then ONE incremental refresh covers v2+v3 — deletes force the
    min/max affected-group rescan. Asserted in-plan equal to a
    from-scratch aggregate of the live snapshot."""
    import hashlib
    import shutil
    import tempfile

    from news_lakehouse_spark.operators.matview import IncrementalAggView
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = _tmp_table_path("ivm", sf_dir)
    src = VersionedParquetTable(spark, os.path.join(base, "src"))
    view = IncrementalAggView(
        spark,
        os.path.join(base, "view"),
        group_by=["o_orderstatus", "o_orderpriority"],
        sum_cols=["cents"],
        minmax_cols=["cents"],
    )
    src.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        ["o_orderkey"],
        partition_by=["o_orderstatus"],
    )
    view.refresh(src)  # full build at v1
    src.merge(
        orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "cents", F.col("cents") * 2
        ),
        ["o_orderkey"],
    )
    src.delete_keys(
        orders.filter(F.col("o_orderkey") % 15 == 0).select("o_orderkey")
    )
    with _op_phase("x_ivm_refresh", "refresh_incremental"):
        view.refresh(src)  # incremental: one feed covering v2+v3
    got = view.read()
    full = (
        src.read()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("sum_cents"),
            (F.sum("cents") / F.count("cents")).alias("avg_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )
    # full-rebuild equivalence is O(table); the refresh is O(churn) —
    # bench runs skip the check to time the operator (verdict r6 #2),
    # correctness runs always keep it
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        assert got.exceptAll(full).isEmpty() and full.exceptAll(got).isEmpty()
    return got.select(
        "o_orderstatus",
        "o_orderpriority",
        "cnt",
        "sum_cents",
        F.round("avg_cents", 6).alias("avg_cents"),
        "min_cents",
        "max_cents",
    )


_IVM_REFRESH_SQL = """
WITH live AS (
  SELECT o_orderstatus, o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 7 = 0)
    AND o_orderkey % 15 <> 0
)
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       ROUND(AVG(cents), 6) AS avg_cents,
       MIN(cents) AS min_cents,
       MAX(cents) AS max_cents
FROM live GROUP BY o_orderstatus, o_orderpriority
"""


def x_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance
    (operators/matview.IncrementalJoinAggView): a GROUP BY over
    orders INNER JOIN customer-dim, refreshed in O(churn) from BOTH
    tables' change feeds via the join delta rule
    dv = dL JOIN R_old + L_new JOIN dR (signed, snapshots by time
    travel), with the churn's join keys pushed into the snapshot
    side's manifest scan planning. The reference recomputes its
    joined gold aggregates from full silver scans every run
    (gcs_silver_to_gold.py:347-352); this is that job as a maintained
    view. Script: v1 = orders %3!=0 + full customer dim, full build;
    then churn BOTH sides — insert the %3 orders, triple cents of %7
    keys, move %10 customers to segment MOVED — and ONE incremental
    refresh covers it all. Asserted in-plan equal to a from-scratch
    join+aggregate of the live snapshots."""
    from news_lakehouse_spark.operators.matview import (
        IncrementalJoinAggView,
    )
    from news_lakehouse_spark.sources.transaction import (
        VersionedParquetTable,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    base = _tmp_table_path("join_ivm", sf_dir)
    lt = VersionedParquetTable(spark, os.path.join(base, "orders"))
    rt = VersionedParquetTable(spark, os.path.join(base, "dim"))
    lt.merge(
        orders.filter(F.col("o_orderkey") % 3 != 0).withColumnRenamed(
            "o_custkey", "c_custkey"
        ),
        ["o_orderkey"],
    )
    rt.merge(cust, ["c_custkey"])
    view = IncrementalJoinAggView(
        spark,
        os.path.join(base, "view"),
        join_keys=["c_custkey"],
        group_by=["seg"],
        sum_cols=["cents"],
    )
    view.refresh(lt, rt)  # full build
    lt.merge(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumnRenamed(
            "o_custkey", "c_custkey"
        ),
        ["o_orderkey"],
    )
    lt.merge(
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumnRenamed("o_custkey", "c_custkey")
        .withColumn("cents", F.col("cents") * 3),
        ["o_orderkey"],
    )
    rt.merge(
        cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "seg", F.lit("MOVED")
        ),
        ["c_custkey"],
    )
    with _op_phase("x_join_ivm", "refresh_incremental"):
        view.refresh(lt, rt)  # one refresh, both feeds
    got = view.read().select("seg", "cnt", "sum_cents")
    if not os.environ.get("SPARK_GRAFT_BENCH_LEAN"):
        full = (
            lt.read()
            .join(rt.read(), on="c_custkey", how="inner")
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        assert got.exceptAll(full).isEmpty() and full.exceptAll(got).isEmpty()
    return got.orderBy("seg")


_JOIN_IVM_SQL = """
WITH l AS (
  SELECT o_custkey AS ck,
         CAST(ROUND(o_totalprice * 100) AS BIGINT)
         * (CASE WHEN o_orderkey % 7 = 0 THEN 3 ELSE 1 END) AS cents
  FROM orders
), r AS (
  SELECT c_custkey AS ck,
         CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT seg, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM l JOIN r USING (ck)
GROUP BY seg ORDER BY seg
"""


def x_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints (transaction.py add_check_constraint —
    the Delta ``ALTER TABLE ... ADD CONSTRAINT`` analog; no reference
    counterpart, Iceberg doesn\'t have them either). Script: build a
    priced-orders table, add ``cents_positive`` (metadata-only commit,
    asserted to touch zero files); a merge smuggling negative-cents
    rows must raise ConstraintViolationError ATOMICALLY (version
    unchanged — asserted in-query); a clean merge commits; NULL cents
    pass (SQL CHECK semantics). The returned aggregate reflects only
    the committed data, which the oracle recomputes from raw orders.
    At 100 TB the constraint is the difference between a bad batch
    failing at its own write and a quiet poison spreading to every
    downstream consumer."""
    from news_lakehouse_spark.sources.transaction import (
        ConstraintViolationError,
        VersionedParquetTable,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = _tmp_table_path("checkcon", sf_dir)
    t = VersionedParquetTable(spark, base)
    t.merge(orders.filter(F.col("o_orderkey") % 3 == 0), ["o_orderkey"])
    files_v1 = set(t.files_for())
    v = t.add_check_constraint("cents_positive", "cents > 0")
    assert set(t.files_for(v)) == files_v1  # metadata-only
    # a poisoned batch (every %5 key negated) must refuse atomically
    before = t.latest_version()
    try:
        t.merge(
            orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
                "cents", -F.col("cents")
            ),
            ["o_orderkey"],
        )
        raise AssertionError("negative cents slipped past the constraint")
    except ConstraintViolationError:
        pass
    assert t.latest_version() == before  # nothing committed
    # clean batch commits; NULL passes (SQL CHECK semantics)
    t.merge(
        orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "cents",
            F.when(F.col("o_orderkey") % 25 == 0, F.lit(None)).otherwise(
                F.col("cents") * 2
            ),
        ),
        ["o_orderkey"],
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("sum_cents"),
            F.count(F.when(F.col("cents").isNull(), 1)).alias("null_cents"),
        )
        .orderBy("o_orderstatus")
    )


_CHECK_CONSTRAINTS_SQL = """
WITH live AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 25 = 0 THEN NULL
              WHEN o_orderkey % 5 = 0
              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2
              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
  WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       COUNT(CASE WHEN cents IS NULL THEN 1 END) AS null_cents
FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def x_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-2-gram repetition signals (Gopher-style boilerplate flags)."""
    d = read_table(spark, sf_dir, "documents")
    return repetition_metrics(d, "doc_id", "text", n=2)


_REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id,
         unnest([ws[i] || ' ' || ws[i+1]
                 for i in generate_series(1, len(ws) - 1)]) AS gram
  FROM w WHERE len(ws) >= 2
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_grams,
       round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_gram_frac,
       round(1 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_gram_frac
FROM c GROUP BY doc_id
"""


def x_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect-and-mask over documents with injected spans.

    The corpus has no organic PII, so deterministic emails / phones /
    IPv4s are appended by doc_id residue before redaction — the query
    checks counts and the masked text against the oracle's RE2 twin.
    """
    d = read_table(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" mail u"), k, F.lit("@ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".org")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" tel +84 912 345 "), (100 + F.col("doc_id") % 900).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ip 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return redact_pii(
        d.select("doc_id", dirty.alias("text")), "doc_id", "text"
    )


_PII_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex'
                      || CAST(doc_id % 7 AS VARCHAR) || '.org'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' tel +84 912 345 ' || CAST(100 + doc_id % 900 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                      || CAST((doc_id * 7) % 256 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text,
            '\+\d{1,3} \d{3} \d{3} \d{3}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
       regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\+\d{1,3} \d{3} \d{3} \d{3}', '[PHONE]', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted_text
FROM dirty
"""


def w2_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order analytics: lag, running sum, moving average.

    Window-family extension (SURVEY §2.5 notes the reference has no
    window functions at all). One `partitionBy(o_custkey)` shuffle
    feeds all three frames — Catalyst collapses same-spec windows into
    a single Window node, so adding frames costs no extra exchange.
    Orders are tie-broken by o_orderkey for determinism.
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_ma = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("int").alias("order_seq"),
        F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(w_ma), 6).alias("moving_avg3"),
    )


_W2_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS INT) AS order_seq,
       round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
       round(sum(o_totalprice) OVER
             (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend,
       round(avg(o_totalprice) OVER
             (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
           AS moving_avg3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation with grouping() indicator columns.

    Extension beyond rollup/cube (a4/a5): an explicit sets list
    ((status, priority), (status), ()) — one shuffle, expanded
    map-side by Catalyst's Expand operator.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


_A7_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


def a8_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev, covariance, corr, percentiles.

    The second moments are computed from exact DECIMAL(38,4) partial
    sums (inputs have ≤2 decimals, so squares/products have exactly 4)
    and combined driver-side with one fixed double formula — fully
    map-side decomposable (the 100 TB shape) AND bit-identical across
    engines, unlike engine-native covar/corr whose summation order
    differs. Exact median/p90 stay sort-based; at 100 TB swap them for
    approx_percentile and keep the moment columns unchanged.
    """
    li = read_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    dec = "decimal(38,4)"
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.median("l_extendedprice").alias("median_price"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    mxx = sxx - sx * sx / n
    myy = syy - sy * sy / n
    mxy = sxy - sx * sy / n
    # No final round(): both engines hold bit-identical doubles here
    # (exact decimal sums + one shared formula), and round() itself
    # disagrees across engines on .xx5 boundary values.
    return agg.select(
        "l_returnflag",
        F.sqrt(myy / (n - 1)).alias("std_price"),
        (mxy / (n - 1)).alias("covar_qty_price"),
        (mxy / F.sqrt(mxx * myy)).alias("corr_qty_price"),
        "median_price",
        "p90_price",
    ).orderBy("l_returnflag")


_A8_SQL = """
WITH a AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(38,4))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS sy,
         sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS sxx,
         sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS syy,
         sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS sxy,
         quantile_cont(l_extendedprice, 0.5) AS median_price,
         quantile_cont(l_extendedprice, 0.9) AS p90_price
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, median_price, p90_price,
         CAST(n AS DOUBLE) AS n,
         CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
         CAST(sxy AS DOUBLE) AS sxy
  FROM a
)
SELECT l_returnflag,
       sqrt((syy - sy * sy / n) / (n - 1)) AS std_price,
       (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
       (sxy - sx * sy / n)
           / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
           AS corr_qty_price,
       median_price, p90_price
FROM d
ORDER BY l_returnflag
"""


def u3_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide numeric columns to (attr, val) long form.

    Narrow transform — Catalyst Expand, no shuffle; the inverse of
    a6_pivot.
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "attr", "val")


_U3_SQL = """
SELECT p_partkey, attr, val
FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
             p_retailprice AS retailprice
      FROM part)
UNPIVOT (val FOR attr IN (size, retailprice))
"""


def d8_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a generated date spine filling gap days.

    Time-series gap-fill: sequence(min, max) explode → left join of
    the (tiny) spine against the (small) daily aggregate — AQE
    broadcasts whichever side is smaller; zero-count days coalesce
    to 0.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"), "o_totalprice"
    )
    spine = (
        o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    daily = o.groupBy("day").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("rev")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.round(F.coalesce("rev", F.lit(0.0)), 2).alias("revenue"),
    )


_D8_SQL = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS day, o_totalprice FROM orders
), b AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM o
), spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
), daily AS (
  SELECT day, count(*) AS n, sum(o_totalprice) AS rev FROM o GROUP BY day
)
SELECT s.day,
       CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
       round(coalesce(rev, 0), 2) AS revenue
FROM spine s LEFT JOIN daily USING (day)
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.

    lineitem('R') ⨝ orders(3-month window) ⨝ customer ⨝ nation —
    nation broadcast, the fact-side joins shuffle on their keys; the
    final top-20 is a TakeOrderedAndProject, not a full sort. Ordered
    on the ROUNDED revenue with custkey tiebreak so the limit edge is
    deterministic across engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # Exact fixed-point sum: ext*(1-disc) has exactly 4
            # decimals, so sum ten-thousandths as BIGINT and divide
            # once — bit-identical across engines, no rounding edge.
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        * 10000,
                        0,
                    ).cast("bigint")
                )
                / 10000.0
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), "c_custkey").limit(20)


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
                AS BIGINT)) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def x_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus keep/drop gate with per-rule drop reasons."""
    d = read_table(spark, sf_dir, "documents")
    return corpus_filter(d, "doc_id", "text")


def _corpus_filter_sql() -> str:
    nt = _NT.format(c="text")
    reason = "CASE " + " ".join(
        f"WHEN {cond} THEN '{name}'" for name, cond in CORPUS_FILTER_RULES
    ) + " END"
    return f"""
WITH w AS (
  SELECT doc_id, text, string_split({nt}, ' ') AS ws FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(ws) AS INT) AS n_words,
         (length(text) - len(ws) + 1) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS avg_word_len,
         len(regexp_extract_all(text, '[\\p{{P}}\\p{{S}}]'))
             / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         len(list_distinct(ws)) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS uniq_word_ratio
  FROM w
)
SELECT doc_id, n_words, {reason} AS drop_reason,
       ({reason}) IS NULL AS keep
FROM m
"""


_CMS_PROBES = ["join", "hash", "scan", "slow", "quantum"]


def w3_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling sum/count per user — the RANGE-frame
    window (event-time width), distinct from w2's ROWS frames (row
    count width): a range frame includes every event within the time
    interval regardless of how many rows that is, which is the
    correct semantics for 'last 7 days of activity'.

    One shuffle on user_id feeds the frame; the order key is epoch
    seconds so the frame bound is engine-portable arithmetic."""
    e = read_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-7 * 86400, 0)
    )
    # sum in DECIMAL: the input has exactly 2 decimals, so the rolling
    # sum is exact and order-independent — double summation differs
    # between engines' sliding-window strategies at 6-decimal rounding
    dec = F.col("value").cast("decimal(18,2)")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(dec).over(w).cast("double"), 2).alias("rolling_7d_value"),
        F.count("*").over(w).cast("long").alias("rolling_7d_events"),
    )


_W3_SQL = """
SELECT event_id, user_id, ts,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
           AS rolling_7d_value,
       CAST(count(*) OVER w AS BIGINT) AS rolling_7d_events
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
)
"""


def x_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-step resample + gap densification with forward fill
    (operators/timeseries.py resample_fill): per-user 6-hour buckets
    over the events stream, every missing bucket materialized with
    n_events = 0 and the value sum carried forward from the last
    observed bucket — the regular, equal-spaced series a forecasting
    or feature pipeline consumes. The grid is F.sequence/explode per
    key (JVM-side, never collected) and the fill is one bounded
    running window per key, so cost follows keys x steps. Returned
    per-user aggregate (bucket count, zero-bucket count, ffilled sum
    total) keeps the oracle row count small while hashing every grid
    cell's fill decision.
    """
    from news_lakehouse_spark.operators.timeseries import resample_fill

    events = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 7 == 0
    )
    grid = resample_fill(
        events, ["user_id"], "ts", 6 * 3600, sum_cols=["value"]
    )
    return (
        grid.groupBy("user_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("n_events") == 0).cast("int")).alias("n_gaps"),
            F.round(F.sum("sum_value"), 4).alias("ffill_total"),
        )
        .orderBy("user_id")
    )


_RESAMPLE_SQL = """
WITH per_bucket AS (
  SELECT user_id,
         to_timestamp((epoch(CAST(ts AS TIMESTAMP))::BIGINT // 21600) * 21600)
           AS bucket,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DOUBLE)) AS sum_value
  FROM events
  WHERE user_id % 7 = 0
  GROUP BY 1, 2
),
grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 21600 SECOND))
           AS bucket
  FROM (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
        FROM per_bucket GROUP BY user_id)
),
filled AS (
  SELECT g.user_id,
         g.bucket,
         COALESCE(p.n_events, 0) AS n_events,
         LAST_VALUE(p.sum_value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sum_value
  FROM grid g LEFT JOIN per_bucket p
    ON g.user_id = p.user_id AND g.bucket = p.bucket
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN n_events = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       ROUND(SUM(sum_value), 4) AS ffill_total
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


def x_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity (fuzzy) JOIN across two corpora
    (operators/fuzzyjoin.py fuzzy_token_join): link every left
    document (doc_id % 97) to the right documents (doc_id % 2) whose
    token-set Jaccard >= 0.8 — the entity-resolution / record-linkage
    primitive, computed as an inverted-index candidate join (postings
    equi-join on the token, one keyed shuffle) + one intersection
    aggregation + exact verification against full set sizes. No UDFs,
    no cross product; posting lists are df-capped at scale (the cap is
    set unbinding here so the oracle — the same pipeline in SQL — is
    an exact twin).
    """
    from news_lakehouse_spark.operators.fuzzyjoin import fuzzy_token_join

    docs = read_table(spark, sf_dir, "documents")
    pairs = fuzzy_token_join(
        docs.filter(F.col("doc_id") % 97 == 0),
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id",
        "doc_id",
        "text",
        "text",
        threshold=0.8,
        max_df=100_000,
    )
    return pairs.orderBy("doc_id_l", "doc_id_r")


_FUZZY_JOIN_SQL = r"""
WITH l AS (
  SELECT doc_id AS l_id,
         list_distinct(list_filter(
           string_split_regex(lower(text), '[^\p{L}\p{N}]+'), t -> t <> ''))
           AS toks
  FROM documents WHERE doc_id % 97 = 0
), r AS (
  SELECT doc_id AS r_id,
         list_distinct(list_filter(
           string_split_regex(lower(text), '[^\p{L}\p{N}]+'), t -> t <> ''))
           AS toks
  FROM documents WHERE doc_id % 2 = 0
), lp AS (SELECT l_id, unnest(toks) AS token FROM l),
   rp AS (SELECT r_id, unnest(toks) AS token FROM r),
   inter AS (
     SELECT l_id, r_id, count(*) AS c
     FROM lp JOIN rp USING (token) GROUP BY 1, 2
   )
SELECT i.l_id AS doc_id_l,
       i.r_id AS doc_id_r,
       ROUND(c * 1.0 / (len(l.toks) + len(r.toks) - c), 6) AS jaccard
FROM inter i
JOIN l ON i.l_id = l.l_id
JOIN r ON i.r_id = r.r_id
WHERE c * 1.0 / (len(l.toks) + len(r.toks) - c) >= 0.8
ORDER BY doc_id_l, doc_id_r
"""


def x_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value over time
    (operators/timeseries.py grouped_linear_fit): thousands of tiny
    models fitted in ONE map-side-combinable aggregation (stable
    covar_samp/var_samp/corr moments — no applyInPandas; the shuffle
    moves ~6 doubles per key regardless of row count). The oracle
    recomputes every fit with DuckDB's regr_* family; because the two
    engines' accumulation orders leave ~1e-8 noise on each slope
    (measured), the hash-compared output is the corpus-level summary
    of the fits (counts exact; slope/r2 summaries rounded well above
    the noise floor) rather than 140 raw per-user floats on a rounding
    knife-edge. The per-user closed-form values themselves are pinned
    exactly by the unit test on constructed data.
    """
    from news_lakehouse_spark.operators.timeseries import grouped_linear_fit

    events = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 11 == 0
    )
    xh = (
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        / 3600.0
    ).alias("x_hours")
    fit = grouped_linear_fit(
        events.select("user_id", xh, "value"), ["user_id"], "x_hours", "value"
    )
    return fit.agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("n_rows"),
        F.sum((F.col("slope") > 0).cast("int")).alias("rising"),
        F.round(F.avg("slope"), 4).alias("avg_slope"),
        F.round(F.max("slope"), 4).alias("max_slope"),
        F.round(F.avg("r2"), 4).alias("avg_r2"),
    )


_GROUPED_TREND_SQL = """
WITH fits AS (
  SELECT user_id,
         COUNT(*) AS n,
         regr_slope(CAST(value AS DOUBLE), x_hours) AS slope,
         regr_r2(CAST(value AS DOUBLE), x_hours) AS r2
  FROM (
    SELECT user_id, value,
           (epoch(CAST(ts AS TIMESTAMP))
            - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600.0 AS x_hours
    FROM events WHERE user_id % 11 = 0
  )
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rising,
       ROUND(AVG(slope), 4) AS avg_slope,
       ROUND(MAX(slope), 4) AS max_slope,
       ROUND(AVG(r2), 4) AS avg_r2
FROM fits
"""


def x_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV bottom-k sketches
    (operators/sketches.py kmv_sketch / kmv_intersect_estimate — the
    theta-sketch capability HLL lacks: INTERSECTIONS). Two audiences
    (users with a high-value view; users with a mid-value purchase)
    sketch down to 64 hashes each via the two-level min-k reducer (≤
    k x partitions values shuffle per group, whatever the audience
    cardinality); union/intersection/Jaccard estimates come from the
    combined bottom-k sample. The sketch hash is the engine-portable
    sha2 idiom, so the oracle recomputes the SAME estimates
    value-for-value in SQL, alongside the exact counts; `err_ok` pins
    calibration (≤ 50% relative at k=64, ~4 sigma).
    """
    from news_lakehouse_spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_sketch,
    )

    k = 64
    events = read_table(spark, sf_dir, "events")
    a_rows = events.filter(
        (F.col("event_type") == "view") & (F.col("value") > 70)
    ).select("user_id")
    b_rows = events.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 40)
    ).select("user_id")
    tagged = a_rows.withColumn("seg", F.lit("a")).unionByName(
        b_rows.withColumn("seg", F.lit("b"))
    )
    sk = kmv_sketch(tagged, ["seg"], "user_id", k=k)
    one = (
        sk.filter(F.col("seg") == "a")
        .select(F.col("kmv").alias("kmv_a"))
        .crossJoin(
            sk.filter(F.col("seg") == "b").select(F.col("kmv").alias("kmv_b"))
        )
    )
    est = kmv_intersect_estimate(F.col("kmv_a"), F.col("kmv_b"), k)
    exact = (
        a_rows.distinct()
        .join(b_rows.distinct(), "user_id", "inner")
        .agg(F.count("*").alias("inter_exact"))
    )
    return (
        one.select(
            F.round(est["union_est"], 4).alias("union_est"),
            F.round(est["jaccard_est"], 4).alias("jaccard_est"),
            F.round(est["intersect_est"], 4).alias("intersect_est"),
        )
        .crossJoin(exact)
        .withColumn(
            "err_ok",
            (
                F.abs(F.col("intersect_est") - F.col("inter_exact"))
                / F.col("inter_exact")
                <= 0.5
            ).cast("int"),
        )
    )


_KMV_SQL = """
WITH a_users AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'view' AND value > 70
), b_users AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value > 40
), ah AS (
  SELECT CAST(concat('0x',
           substr(sha256(concat_ws('#', 'kmv', CAST(user_id AS VARCHAR))),
                  1, 15)) AS BIGINT) AS h
  FROM a_users
), bh AS (
  SELECT CAST(concat('0x',
           substr(sha256(concat_ws('#', 'kmv', CAST(user_id AS VARCHAR))),
                  1, 15)) AS BIGINT) AS h
  FROM b_users
), ka AS (SELECT h FROM ah ORDER BY h LIMIT 64),
   kb AS (SELECT h FROM bh ORDER BY h LIMIT 64),
   comb AS (
     SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
     FROM (SELECT h FROM ka UNION SELECT h FROM kb)
   ),
   kc AS (SELECT h, rn FROM comb WHERE rn <= 64),
   stats AS (
     SELECT (SELECT COUNT(*) FROM kc) AS k_eff,
            (SELECT MAX(h) FROM kc)  AS h_k
   ),
   sample AS (
     SELECT h FROM kc, stats
     WHERE k_eff < 64 OR rn <= 63
   ),
   est AS (
     SELECT
       CASE WHEN s.k_eff < 64 THEN CAST(s.k_eff AS DOUBLE)
            ELSE 63.0 / (s.h_k / 1152921504606846976.0) END AS union_est,
       (SELECT COUNT(*) FROM sample
         WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
         * 1.0
         / (CASE WHEN s.k_eff < 64 THEN s.k_eff ELSE 63 END) AS jaccard_est
     FROM stats s
   )
SELECT ROUND(union_est, 4) AS union_est,
       ROUND(jaccard_est, 4) AS jaccard_est,
       ROUND(jaccard_est * union_est, 4) AS intersect_est,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM a_users
         WHERE user_id IN (SELECT user_id FROM b_users)) AS inter_exact,
       CAST(CASE WHEN ABS(ROUND(jaccard_est * union_est, 4)
                  - (SELECT COUNT(*) FROM a_users
                      WHERE user_id IN (SELECT user_id FROM b_users)))
                 / (SELECT COUNT(*) FROM a_users
                     WHERE user_id IN (SELECT user_id FROM b_users))
                 <= 0.5 THEN 1 ELSE 0 END AS INT) AS err_ok
FROM est
"""


def x_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ROLLUP (operators/sketches.py kmv_merge): per-day
    bottom-64 user sketches merge into the month's sketch without
    touching raw data — bottom-k of the union of bottoms IS the
    bottom-k of the union (lossless merge, the property that makes a
    sketch a sketch; the unit test pins merge == sketch-of-whole).
    The merged sketch's distinct estimate lands next to the exact
    month-level distinct count with an err_ok calibration bool
    (<= 50% relative at k=64, ~4 sigma). Deterministic portable-sha2
    math, so the oracle is an exact SQL twin of both the daily
    sketches and the merge.
    """
    from news_lakehouse_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 64
    events = read_table(spark, sf_dir, "events")
    days = events.select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"), "user_id"
    )
    daily = kmv_sketch(days, ["day"], "user_id", k=k)
    merged = daily.agg(
        F.count("*").alias("n_days"),
        kmv_merge(F.col("kmv"), k).alias("kmv"),
    )
    exact = events.agg(
        F.countDistinct("user_id").alias("distinct_exact")
    )
    return (
        merged.select(
            "n_days",
            F.round(kmv_distinct_estimate(F.col("kmv"), k), 4).alias(
                "distinct_est"
            ),
        )
        .crossJoin(exact)
        .withColumn(
            "err_ok",
            (
                F.abs(F.col("distinct_est") - F.col("distinct_exact"))
                / F.col("distinct_exact")
                <= 0.5
            ).cast("int"),
        )
    )


_KMV_ROLLUP_SQL = """
WITH dh AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(concat('0x',
           substr(sha256(concat_ws('#', 'kmv', CAST(user_id AS VARCHAR))),
                  1, 15)) AS BIGINT) AS h
  FROM events
), ranked AS (
  SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
  FROM dh
), daily AS (SELECT day, h FROM ranked WHERE rn <= 64),
   comb AS (
     SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
     FROM (SELECT DISTINCT h FROM daily)
   ),
   kc AS (SELECT h FROM comb WHERE rn <= 64),
   st AS (
     SELECT (SELECT COUNT(*) FROM kc) AS k_eff,
            (SELECT MAX(h) FROM kc) AS h_k
   )
SELECT (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) FROM dh) AS n_days,
       ROUND(CASE WHEN st.k_eff < 64 THEN CAST(st.k_eff AS DOUBLE)
                  ELSE 63.0 / (st.h_k / 1152921504606846976.0) END,
             4) AS distinct_est,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS distinct_exact,
       CAST(CASE WHEN ABS(
              ROUND(CASE WHEN st.k_eff < 64 THEN CAST(st.k_eff AS DOUBLE)
                         ELSE 63.0 / (st.h_k / 1152921504606846976.0) END, 4)
              - (SELECT COUNT(DISTINCT user_id) FROM events))
              / (SELECT COUNT(DISTINCT user_id) FROM events) <= 0.5
            THEN 1 ELSE 0 END AS INT) AS err_ok
FROM st
"""


def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events stream.

    Cohort = the week (since epoch) of a user's first event;
    retention(c, k) = share of cohort-c users active in their k-th
    week. Two aggregations on user_id plus a broadcast of the tiny
    cohort-size table — the events table shuffles once for the
    per-user first-date, once for the distinct active days."""
    e = read_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_d"))
    acts = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    j = acts.join(firsts, "user_id").select(
        "user_id",
        F.floor(F.datediff("first_d", epoch) / 7).cast("int").alias("cohort_wk"),
        F.floor(F.datediff("d", F.col("first_d")) / 7).cast("int").alias("week_offset"),
    )
    active = j.groupBy("cohort_wk", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = (
        firsts.select(
            F.floor(F.datediff("first_d", epoch) / 7).cast("int").alias("cohort_wk"),
            "user_id",
        )
        .groupBy("cohort_wk")
        .agg(F.countDistinct("user_id").alias("n_cohort"))
    )
    return active.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
    )


_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d FROM events GROUP BY user_id
), acts AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), j AS (
  SELECT a.user_id,
         CAST(floor(date_diff('day', DATE '1970-01-01', f.first_d) / 7.0) AS INT)
             AS cohort_wk,
         CAST(floor(date_diff('day', f.first_d, a.d) / 7.0) AS INT)
             AS week_offset
  FROM acts a JOIN firsts f USING (user_id)
), active AS (
  SELECT cohort_wk, week_offset, count(DISTINCT user_id) AS n_active
  FROM j GROUP BY 1, 2
), sizes AS (
  SELECT CAST(floor(date_diff('day', DATE '1970-01-01', first_d) / 7.0) AS INT)
             AS cohort_wk,
         count(DISTINCT user_id) AS n_cohort
  FROM firsts GROUP BY 1
)
SELECT a.cohort_wk, a.week_offset,
       CAST(a.n_active AS BIGINT) AS n_active,
       round(a.n_active / CAST(s.n_cohort AS DOUBLE), 6) AS retention
FROM active a JOIN sizes s USING (cohort_wk)
"""


def x_ts_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern search: the 10 user event-value windows
    closest to an increasing ramp (squared euclidean)."""
    from news_lakehouse_spark.operators.timeseries import sliding_window_topk

    e = read_table(spark, sf_dir, "events")
    return sliding_window_topk(e, [float(j) for j in range(8)], k=10)


_TS_SQL = """
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS arr
  FROM events GROUP BY user_id
), w AS (
  SELECT user_id, u.i AS win_start, arr
  FROM s, unnest(generate_series(1, len(arr) - 7)) u(i)
  WHERE len(arr) >= 8
), t AS (
  SELECT user_id, win_start,
         round(sum(pow(arr[win_start + v.j] - CAST(v.j AS DOUBLE), 2)), 6) AS dist
  FROM w, unnest(generate_series(0, 7)) v(j)
  GROUP BY user_id, win_start
)
SELECT user_id, CAST(win_start AS INT) AS win_start, dist
FROM t ORDER BY dist, user_id, win_start LIMIT 10
"""


def x_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch token counting, hash-checked via the sketch's
    one-sided guarantees: for each probe token the query emits the
    exact count plus booleans pinning est ≥ exact (CMS never
    underestimates — collisions only add) and est ≤ exact + e·N/width
    (the CMS error bound). 'quantum' probes a token absent from the
    corpus (exact 0)."""
    from news_lakehouse_spark.operators.dedupe import normalized_text
    from news_lakehouse_spark.operators.sketches import cms_estimate, count_min_sketch

    d = read_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split(normalized_text("text"), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    sketch = count_min_sketch(toks, "tok", width=1024, depth=4)
    probe_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("token")
    )
    est = cms_estimate(sketch, probe_df, "token", width=1024, depth=4)
    # exact probe counts AND the grand total from ONE aggregation pass
    # (non-probe tokens collapse to a single group) — the corpus scans
    # twice in total: once for the sketch grid, once here
    stats = toks.groupBy(
        F.when(F.col("tok").isin(_CMS_PROBES), F.col("tok"))
        .otherwise(F.lit("__other"))
        .alias("token")
    ).agg(F.count("*").alias("exact"))
    totals = stats.agg(F.sum("exact").alias("__n"))
    exact = stats.filter(F.col("token") != "__other")
    return (
        probe_df.join(F.broadcast(exact), "token", "left")
        .join(est, "token", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
            (F.coalesce("est", F.lit(0)) >= F.coalesce("exact", F.lit(0)))
            .cast("int")
            .alias("never_under"),
            (
                F.coalesce("est", F.lit(0))
                <= F.coalesce("exact", F.lit(0)) + 2.71828 * F.col("__n") / 1024
            )
            .cast("int")
            .alias("within_eps"),
        )
    )


_CMS_SQL = f"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split({_NT.format(c='text')}, ' ')) AS tok FROM documents
  ) WHERE length(tok) > 0
), probes(token) AS (
  VALUES {", ".join(f"('{t}')" for t in _CMS_PROBES)}
), cnt AS (
  SELECT tok, count(*) AS k FROM toks GROUP BY tok
)
SELECT p.token, CAST(coalesce(c.k, 0) AS BIGINT) AS exact,
       1 AS never_under, 1 AS within_eps
FROM probes p LEFT JOIN cnt c ON c.tok = p.token
"""


def x_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (the
    gibberish / repeated-filler quality signal)."""
    from news_lakehouse_spark.operators.textmetrics import char_entropy

    d = read_table(spark, sf_dir, "documents")
    return char_entropy(d, "doc_id", "text")


_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, substr(text, u.i, 1) AS c
  FROM documents, unnest(generate_series(1, length(text))) u(i)
), cnt AS (
  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
), tot AS (
  SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n FROM cnt GROUP BY 1
), ent AS (
  SELECT cnt.doc_id,
         CAST(sum(k) AS INT) AS n_chars,
         round(-sum((k / t.n) * ln(k / t.n)), 6) AS char_entropy
  FROM cnt JOIN tot t USING (doc_id)
  GROUP BY cnt.doc_id
)
SELECT d.doc_id, CAST(coalesce(e.n_chars, 0) AS INT) AS n_chars,
       coalesce(e.char_entropy, 0.0) AS char_entropy
FROM documents d LEFT JOIN ent e USING (doc_id)
"""


def x_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel (blocklist → quality rules → exact
    dedup) composed as one plan: single corpus scan, one shuffle (the
    fingerprint survivor window)."""
    from news_lakehouse_spark.operators.pipeline import corpus_pipeline

    d = read_table(spark, sf_dir, "documents")
    return corpus_pipeline(d, "doc_id", "text", ["slow", "spam"])


def _corpus_pipeline_sql() -> str:
    nt = _NT.format(c="text")
    reason = "CASE " + " ".join(
        f"WHEN {cond} THEN '{name}'" for name, cond in CORPUS_FILTER_RULES
    ) + " END"
    return f"""
WITH w AS (
  SELECT doc_id, text, string_split({nt}, ' ') AS ws, sha256({nt}) AS fp
  FROM documents
), m AS (
  SELECT doc_id, fp,
         CASE WHEN len(list_intersect(
                  list_distinct(list_filter(ws, x -> length(x) > 0)),
                  ['slow', 'spam'])) > 0 THEN 1 ELSE 0 END AS blocked,
         CAST(len(ws) AS INT) AS n_words,
         (length(text) - len(ws) + 1) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS avg_word_len,
         len(regexp_extract_all(text, '[\\p{{P}}\\p{{S}}]'))
             / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         len(list_distinct(ws)) / CAST(greatest(len(ws), 1) AS DOUBLE)
             AS uniq_word_ratio
  FROM w
), f AS (
  SELECT doc_id, fp, blocked, {reason} AS drop_reason FROM m
), s AS (
  SELECT *, min(CASE WHEN blocked = 0 AND drop_reason IS NULL THEN doc_id END)
                OVER (PARTITION BY fp) AS surv
  FROM f
)
SELECT doc_id, blocked, drop_reason,
       CASE WHEN blocked = 0 AND drop_reason IS NULL AND doc_id <> surv
            THEN 1 ELSE 0 END AS is_dup,
       CASE WHEN blocked = 0 AND drop_reason IS NULL AND doc_id = surv
            THEN 1 ELSE 0 END AS final_kept
FROM s
"""


def x_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-df boilerplate removal (8-word segments,
    drop segments occurring in >= 3 distinct documents)."""
    from news_lakehouse_spark.operators.textmetrics import remove_boilerplate

    d = read_table(spark, sf_dir, "documents")
    return remove_boilerplate(d, "doc_id", "text", window=8, max_df=3)


_BOILERPLATE_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split({_NT.format(c='text')}, ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
), seg AS (
  SELECT doc_id, CAST(s / 8 AS INT) AS seg_idx,
         array_to_string(ws[s + 1 : s + 8], ' ') AS para
  FROM w, unnest(generate_series(0, len(ws) - 1, 8)) u(s)
  WHERE len(ws) > 0
), f AS (
  SELECT para, count(DISTINCT doc_id) AS df FROM seg GROUP BY para
), flag AS (
  SELECT seg.doc_id, seg.seg_idx, seg.para, (f.df >= 3) AS is_bp
  FROM seg JOIN f USING (para)
), reb AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         coalesce(string_agg(CASE WHEN NOT is_bp THEN para END, ' '
                             ORDER BY seg_idx), '') AS clean_text
  FROM flag GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(reb.n_segments, 0) AS n_segments,
       coalesce(reb.n_removed, 0) AS n_removed,
       coalesce(reb.clean_text, '') AS clean_text
FROM documents d LEFT JOIN reb USING (doc_id)
"""


def x_source_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: volume share, length, and
    exact-duplicate rate by crawl source — the keep/drop signal for
    whole sources in corpus curation.

    Plan shape: one groupBy(source) carrying 16-byte content digests
    (partial countDistinct map-side), then a broadcast join against the
    1-row corpus total for the share column. Never shuffles document
    text.
    """
    from news_lakehouse_spark.operators.dedupe import normalized_text

    d = read_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct(F.md5(normalized_text("text"))).cast("long").alias(
            "n_unique"
        ),
    )
    total = d.agg(F.count("*").alias("__total"))
    return per_src.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__total"), 6).alias("corpus_share"),
        "avg_chars",
        F.round(1 - F.col("n_unique") / F.col("n_docs"), 6).alias("dup_rate"),
    )


_SOURCE_STATS_SQL = f"""
WITH per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(avg(n_chars), 2) AS avg_chars,
         CAST(count(DISTINCT md5({_NT.format(c='text')})) AS BIGINT) AS n_unique
  FROM documents GROUP BY source
), total AS (SELECT count(*) AS t FROM documents)
SELECT source, n_docs,
       round(n_docs / CAST(t AS DOUBLE), 6) AS corpus_share,
       avg_chars,
       round(1 - n_unique / CAST(n_docs AS DOUBLE), 6) AS dup_rate
FROM per_src CROSS JOIN total
"""


def x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, order-day) —
    the multi-dimensional file-layout key behind OPTIMIZE ZORDER BY.
    The query returns the key itself so the oracle pins the bit
    interleave exactly; `zorder_repartition` adds the range exchange +
    sort for clustered writes (pinned by tests/test_extensions.py).
    """
    from news_lakehouse_spark.operators.layout import morton_key

    o = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    return o.select(
        "o_orderkey",
        morton_key([F.col("o_custkey"), day], bits=16).alias("zkey"),
    )


def _zorder_sql() -> str:
    from news_lakehouse_spark.operators.layout import morton_sql

    z = morton_sql(
        ["o_custkey", "date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)"],
        bits=16,
    )
    return f"SELECT o_orderkey, {z} AS zkey FROM orders"



# --- TPC-H round-3 widening ----------------------------------------------
# The fixture has no partsupp table and lacks l_shipmode/l_commitdate/
# l_receiptdate, p_container and c_phone, so Q2/Q9/Q11/Q13/Q15/Q16/Q17/Q20
# are out of reach and Q4/Q8/Q12/Q19/Q21/Q22 are adapted to the columns
# that exist (adaptations noted per query). Shapes exercised: semi/anti
# "(NOT) EXISTS", disjunctive pushdown predicates, CASE aggregates over a
# join, a two-level market-share ratio, and a scalar-subquery threshold.


def _revenue_fp(price_col: str = "l_extendedprice", disc_col: str = "l_discount"):
    """Exact fixed-point sum of ext*(1-disc): the product has exactly 4
    decimals, so sum ten-thousandths as BIGINT and divide once —
    bit-identical across engines (same trick as q10)."""
    return (
        F.sum(
            F.round((F.col(price_col) * (1 - F.col(disc_col))) * 10000, 0).cast(
                "bigint"
            )
        )
        / 10000.0
    )


_REV_FP_SQL = (
    "sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))"
    " / 10000.0"
)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking. Adapted EXISTS
    predicate: the fixture has no l_commitdate/l_receiptdate, so the
    "late line" test is l_shipdate > o_orderdate.

    The EXISTS is a LEFT SEMI join on l_orderkey — Catalyst pushes the
    date window to the orders scan, and the semi join shuffles only
    (l_orderkey, l_shipdate) against the filtered quarter."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast revenue change — a single-table scan-agg
    whose entire WHERE clause must reach the parquet scan as pushed
    filters (shipdate year + discount band + quantity cap). The sum is
    fixed-point ten-thousandths for cross-engine bit-identity."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0)
                    .cast("bigint")
                )
                / 10000.0
            ).alias("revenue")
        )
    )


_Q6_SQL = """
SELECT sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) / 10000.0
           AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share. Share of NATION_7
    suppliers in STANDARD-part revenue sold to ASIA customers, by
    order year (no partsupp in the fixture; p_type plays Q8's part
    filter directly).

    Plan: lineitem shuffles once on l_orderkey; part, customer-side
    nation/region and the supplier→nation lookup are all broadcast;
    the share is a conditional-sum ratio inside one aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    cust_asia = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    p_std = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    vol = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0).cast("bigint")
    base = (
        li.join(F.broadcast(p_std), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol_fp"),
            (F.col("supp_nation") == "NATION_7").alias("is_target"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("is_target"), F.col("vol_fp")).otherwise(F.lit(0)))
                / F.sum("vol_fp"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = """
WITH base AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)
             AS vol_fp,
         n2.n_name = 'NATION_7' AS is_target
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
  )
)
SELECT o_year,
       round(sum(CASE WHEN is_target THEN vol_fp ELSE 0 END)
             / CAST(sum(vol_fp) AS DOUBLE), 6) AS mkt_share
FROM base GROUP BY o_year ORDER BY o_year
"""


def q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority counts by shipping bucket. Adapted:
    no l_shipmode/receipt/commit dates in the fixture, so lines bucket
    by shipping delay (l_shipdate - o_orderdate > 60 days = 'late')
    and the CASE aggregates count urgent vs non-urgent order
    priorities per bucket — Q12's exact aggregate shape."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60,
                F.lit("late"),
            )
            .otherwise(F.lit("ontime"))
            .alias("ship_bucket"),
            hi.alias("hi"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(F.col("hi"), 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


_Q12_SQL = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
            THEN 'late' ELSE 'ontime' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share for one ship month. p_type
    is a flat enum here, so the LIKE 'PROMO%' of the original is an
    equality. part broadcasts into the month-filtered lineitem scan;
    the answer is one conditional-sum ratio."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0).cast("bigint")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select((F.col("p_type") == "PROMO").alias("is_promo"), vol.alias("vol_fp"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("is_promo"), F.col("vol_fp")).otherwise(F.lit(0)))
                / F.sum("vol_fp"),
                6,
            ).alias("promo_revenue")
        )
    )


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
                            AS BIGINT) ELSE 0 END)
             / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
                             AS BIGINT)) AS DOUBLE), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicate revenue
    (adapted to fixture brands/sizes; no p_container or l_shipmode).
    The three OR arms share the p_partkey join, so Catalyst evaluates
    one broadcast join with a residual disjunction — never three
    scans. The common l_quantity <= 30 bound is pushed to parquet."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    return (
        li.filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            arm("Brand#2", 5, 1, 11) | arm("Brand#15", 10, 10, 20) | arm("Brand#23", 15, 20, 30)
        )
        .agg(_revenue_fp().alias("revenue"))
    )


_Q19_SQL = f"""
SELECT {_REV_FP_SQL} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept orders waiting. Adapted
    lateness: l_shipdate > o_orderdate + 60 days (no receipt/commit
    dates). A NATION_3 supplier's late line counts iff the 'F' order
    has another supplier (EXISTS → left semi) and no OTHER supplier
    was late on it (NOT EXISTS → left anti).

    The semi/anti probes join on l_orderkey with suppkey inequality as
    a residual; the late-lines frame is derived once and reused for
    the anti side. Top 20 by numwait is a TakeOrderedAndProject."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")

    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60)
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        late.join(
            others,
            (F.col("ok2") == F.col("l_orderkey")) & (F.col("sk2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("ok3") == F.col("l_orderkey")) & (F.col("sk3") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            F.broadcast(
                s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND date_diff('day', o_orderdate, l_shipdate) > 60
)
SELECT s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers. Adapted: the
    fixture has no c_phone, so c_mktsegment plays the country-code
    filter, and "no orders" (vacuous here — every customer has one)
    becomes "no order since 2000-01-01".

    The scalar average broadcasts as a 1-row cross join; the NOT
    EXISTS is a left anti against the date-filtered orders scan."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    segs = ["BUILDING", "HOUSEHOLD", "MACHINERY"]
    pool = c.filter(F.col("c_mktsegment").isin(segs))
    avg_bal = pool.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select("o_custkey")
    return (
        pool.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("segment")
    )


_Q22_SQL = """
SELECT c_mktsegment AS segment, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_mktsegment IN ('BUILDING', 'HOUSEHOLD', 'MACHINERY')
  AND c_acctbal > (
    SELECT avg(c_acctbal) FROM customer
    WHERE c_acctbal > 0
      AND c_mktsegment IN ('BUILDING', 'HOUSEHOLD', 'MACHINERY')
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c.c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY 1 ORDER BY 1
"""



def x_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source-sampling weights (XLM-R-style
    exponential smoothing, tau=0.5) over the documents corpus."""
    from news_lakehouse_spark.operators.sampling import temperature_weights

    d = read_table(spark, sf_dir, "documents")
    return temperature_weights(d, "source", tau=0.5)


_TEMPERATURE_SQL = """
WITH c AS (
  SELECT source, count(*) AS n_rows FROM documents GROUP BY source
), t AS (
  SELECT CAST(sum(n_rows) AS DOUBLE) AS tot, sum(pow(n_rows, 0.5)) AS wtot FROM c
)
SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
       round(n_rows / tot, 6) AS p_raw,
       round(pow(n_rows, 0.5) / wtot, 6) AS p_tau,
       round((pow(n_rows, 0.5) / wtot) / (n_rows / tot), 6) AS up_factor
FROM c, t
"""


def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup: hyperplane sign-bit buckets,
    exact in-bucket cosine, min-id survivor. Threshold tuned to the
    synthetic vectors (random embeddings top out near cos 0.5)."""
    from news_lakehouse_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", dim=64, planes=4, threshold=0.4, seed=7
    )


def _semdedup_sql() -> str:
    # the oracle inlines the SAME hyperplane literals the Spark side
    # derives from the seed, reproducing buckets bit-for-bit
    from news_lakehouse_spark.operators.similarity import hyperplanes

    hp = hyperplanes(4, 64, 7)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(float(x)) for x in plane)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(hp)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM embeddings
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM b lo JOIN b hi ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
  WHERE list_cosine_similarity(CAST(lo.embedding AS DOUBLE[]),
                               CAST(hi.embedding AS DOUBLE[])) >= 0.4
)
SELECT b.vec_id, b.bucket,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM b LEFT JOIN dropped d ON b.vec_id = d.vec_id
"""


_SEMDEDUP_SQL = _semdedup_sql()


def x_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup ingest: the embeddings table is split by
    the standard hash line into an existing index (80%) and an
    arriving batch (20%); each batch vector is classified against the
    index and against earlier batch rows without re-pairing the
    corpus (operators/similarity.incremental_semantic_dedup)."""
    from news_lakehouse_spark.operators.sampling import hash_fraction
    from news_lakehouse_spark.operators.similarity import incremental_semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    u = hash_fraction("vec_id", salt="semidx")
    return incremental_semantic_dedup(
        emb.filter(u < 0.8),
        emb.filter(u >= 0.8),
        "vec_id",
        "embedding",
        dim=64,
        planes=4,
        threshold=0.4,
        seed=7,
    )


def _semdedup_incremental_sql() -> str:
    from news_lakehouse_spark.operators.similarity import hyperplanes

    hp = hyperplanes(4, 64, 7)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(float(x)) for x in plane)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(hp)
    )
    return f"""
WITH h AS (
  SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'semidx', vec_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS hf
  FROM embeddings
), c AS (
  SELECT * FROM h WHERE hf < 0.8
), b AS (
  SELECT * FROM h WHERE hf >= 0.8
), ic AS (
  SELECT DISTINCT b.vec_id
  FROM b JOIN c ON b.bucket = c.bucket
  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4
), db AS (
  SELECT DISTINCT hi.vec_id
  FROM b lo JOIN b hi ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
  WHERE list_cosine_similarity(CAST(lo.embedding AS DOUBLE[]),
                               CAST(hi.embedding AS DOUBLE[])) >= 0.4
)
SELECT b.vec_id, b.bucket,
       CAST(CASE WHEN ic.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_corpus,
       CAST(CASE WHEN ic.vec_id IS NULL AND db.vec_id IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS dup_in_batch,
       CAST(CASE WHEN ic.vec_id IS NULL AND db.vec_id IS NULL
                 THEN 1 ELSE 0 END AS INT) AS admit
FROM b
LEFT JOIN ic ON b.vec_id = ic.vec_id
LEFT JOIN db ON b.vec_id = db.vec_id
"""


_SEMDEDUP_INCREMENTAL_SQL = _semdedup_incremental_sql()


def x_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus vocabulary with per-word share and cumulative
    coverage (tokenizer-sizing table)."""
    from news_lakehouse_spark.operators.textmetrics import vocab_coverage

    d = read_table(spark, sf_dir, "documents")
    return vocab_coverage(d, "text", top_k=200)


_VOCAB_SQL = f"""
WITH w AS (
  SELECT unnest(string_split({_NT.format(c='text')}, ' ')) AS word FROM documents
), c AS (
  SELECT word, count(*) AS n FROM w WHERE length(word) > 0 GROUP BY word
), t AS (
  SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c
), top AS (
  SELECT word, n FROM c ORDER BY n DESC, word LIMIT 200
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank,
       word, CAST(n AS BIGINT) AS n,
       round(n / t.tot, 6) AS share,
       round(sum(n) OVER (ORDER BY n DESC, word
                          ROWS UNBOUNDED PRECEDING) / t.tot, 6) AS cum_share
FROM top, t
"""



def x_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization (feature engineering): scale
    l_extendedprice within each l_returnflag group.

    Scale shape: the per-group mean/stddev come from ONE map-side-
    combined aggregate (3 rows) broadcast back onto the scan — never a
    per-group window over the fact table, which would shuffle and
    sort 100 TB to compute two scalars per group."""
    li = read_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("__mu"),
        F.stddev_samp("l_extendedprice").alias("__sigma"),
    )
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(
                (F.col("l_extendedprice") - F.col("__mu")) / F.col("__sigma"), 6
            ).alias("price_z"),
        )
    )


_GROUP_ZSCORE_SQL = """
WITH s AS (
  SELECT l_returnflag, avg(l_extendedprice) AS mu,
         stddev_samp(l_extendedprice) AS sigma
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round((l_extendedprice - mu) / sigma, 6) AS price_z
FROM lineitem JOIN s USING (l_returnflag)
"""


def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): for
    each (from_type, to_type) pair of consecutive events per user,
    the count and the row-normalized transition probability.

    One shuffle on user_id feeds the lead() window (bounded per-entity
    history, same assumption as sessionization); the normalization
    joins a #event_types-row aggregate back by broadcast."""
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").cast("timestamp"), "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__tot"), 6).alias("p"),
        )
    )


_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM pairs
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier (ref parity: star-lookup
    joins as in gcs_silver_to_gold.py's dim resolution). The fixture
    has no partsupp, so the per-(part, supplier) "supply cost" is the
    minimum observed unit price from lineitem (fixed-point ten-
    thousandths so the cross-engine min/equality is exact), and the
    correlated MIN subquery keeps suppliers matching their part's
    EUROPE-wide minimum.

    Plan: lineitem shuffles once on (l_partkey, l_suppkey) for the
    unit-price min; the per-part MIN reuses that partitioning via a
    window over the aggregated (parts × suppliers)-bounded frame; the
    part slice and the EUROPE supplier lookup broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = (
        read_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp_eu = s.join(
        F.broadcast(
            n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey", "n_name")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    unit_fp = F.round((F.col("l_extendedprice") / F.col("l_quantity")) * 10000, 0).cast(
        "bigint"
    )
    cost = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_eu), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.min(unit_fp).alias("cost_fp"))
    )
    part_min = Window.partitionBy("p_partkey")
    return (
        cost.withColumn("min_fp", F.min("cost_fp").over(part_min))
        .filter(F.col("cost_fp") == F.col("min_fp"))
        .join(F.broadcast(supp_eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_fp") / 10000.0).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q2_SQL = """
WITH supp_eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cost AS (
  SELECT p_partkey, p_name, l_suppkey,
         min(CAST(round((l_extendedprice / l_quantity) * 10000) AS BIGINT))
             AS cost_fp
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'LARGE' AND p_size <= 10
    AND l_suppkey IN (SELECT s_suppkey FROM supp_eu)
  GROUP BY 1, 2, 3
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       cost_fp / 10000.0 AS supply_cost
FROM cost JOIN supp_eu ON l_suppkey = s_suppkey
WHERE cost_fp = (SELECT min(c2.cost_fp) FROM cost c2
                 WHERE c2.p_partkey = cost.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year. The
    fixture has no partsupp supply cost, so profit is discounted
    revenue on 'gear' parts (p_name word filter, mirroring Q9's
    p_name LIKE '%green%').

    Plan: lineitem shuffles once on l_orderkey against orders for the
    year; the part slice and supplier→nation lookup broadcast; one
    hash aggregate on (nation, o_year)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_revenue_fp().alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q9_SQL = f"""
SELECT nation, o_year, {_REV_FP_SQL} AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important-stock identification. No partsupp
    availqty/supplycost, so a part's "stock value" is the summed
    extended price shipped by NATION_5 suppliers, and the HAVING
    threshold keeps parts whose value exceeds 0.1% of the national
    total. Both sides stay fixed-point BIGINT so the correlated
    comparison (value_fp * 1000 > total_fp) is exact integer math.

    Plan: one shuffle on l_partkey for the per-part sum; the national
    total is a 1-row aggregate broadcast back as a cross join (the
    same deliberate tiny-side pattern as bm25's corpus stats)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    supp_n = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val_fp = F.sum(
        F.round(F.col("l_extendedprice") * 10000, 0).cast("bigint")
    )
    per_part = (
        li.join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(val_fp.alias("value_fp"))
    )
    total = per_part.agg(F.sum("value_fp").alias("total_fp"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_fp") * 1000 > F.col("total_fp"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_fp") / 10000.0).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


_Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS value_fp
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
  )
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, value_fp / 10000.0 AS part_value
FROM per_part
WHERE value_fp * 1000 > (SELECT sum(value_fp) FROM per_part)
ORDER BY part_value DESC, p_partkey
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution. The fixture has
    no o_comment, so the excluded-order predicate is the
    '4-NOT SPECIFIED' priority class. Two-level aggregation: orders
    per customer via LEFT join (zero-order customers count), then the
    histogram of those counts.

    Plan: left join shuffles on custkey, first agg reuses that
    partitioning (no extra exchange), second agg shuffles the
    ≤#distinct-counts-row frame."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier(s) by quarterly revenue. The revenue
    view is a per-supplier fixed-point sum over one ship-date quarter;
    the "= max(total_revenue)" correlation compares the BIGINT
    fixed-point values exactly via a 1-row broadcast aggregate (no
    view materialization needed — the frame is reused by Spark as a
    ReusedExchange under AQE).

    Plan: pushed date filter on the lineitem scan, one shuffle on
    l_suppkey, broadcast 1-row max, broadcast supplier dim."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0)
            .cast("bigint")
        ).alias("rev_fp")
    )
    mx = rev.agg(F.max("rev_fp").alias("max_fp"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_fp") == F.col("max_fp"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_fp") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
             AS rev_fp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, rev_fp / 10000.0 AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_fp = (SELECT max(rev_fp) FROM revenue)
ORDER BY s_suppkey
"""


def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: supplier counts per part attribute group. Adapted:
    supplier-part pairs come from lineitem (no partsupp); the
    "complaints" NOT IN exclusion is suppliers with negative account
    balance (left anti join); brand/type/size exclusions mirror Q16's
    shape on the fixture's enum domains.

    Plan: lineitem projects (l_partkey, l_suppkey), distinct-shuffles
    on the group keys once; part slice and the tiny exclusion list
    broadcast; count(DISTINCT) runs as two-phase expand+agg."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "ECONOMY")
            & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'ECONOMY'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue for one brand. The
    correlated "l_quantity < 0.2 * avg(l_quantity)" is rewritten as
    exact integer math — quantity scaled to hundredths (the fixture's
    quantities are whole doubles), so the predicate is
    q_fp * 5 * cnt < sum_q_fp with no float division on either
    engine. avg_yearly divides the 7-year window like the original.

    Plan: brand slice broadcasts into lineitem; the per-part
    (sum, count) aggregate is parts-bounded and broadcasts back;
    single final 1-row aggregate."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    q_fp = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    branded = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    stats = branded.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(q_fp).alias("sum_q_fp"), F.count("*").alias("cnt")
    )
    return (
        branded.join(F.broadcast(stats), F.col("l_partkey") == F.col("pk"))
        .filter(q_fp * 5 * F.col("cnt") < F.col("sum_q_fp"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 10000, 0).cast("bigint"))
                / 10000.0
                / 7.0
            ).alias("avg_yearly")
        )
    )


_Q17_SQL = """
WITH branded AS (
  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS q_fp,
         l_extendedprice
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
), stats AS (
  SELECT l_partkey AS pk, sum(q_fp) AS sum_q_fp, count(*) AS cnt
  FROM branded GROUP BY 1
)
SELECT sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
             / 10000.0 / 7.0 AS avg_yearly
FROM branded JOIN stats ON l_partkey = pk
WHERE q_fp * 5 * cnt < sum_q_fp
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers with promotable surplus. Adapted: no
    partsupp availqty, so a NATION_1 supplier qualifies when its 1997
    shipped quantity of some 'red' part exceeds 30% of that part's
    total 1997 shipped quantity (concentration stand-in for
    "availqty > half the year's demand"). Quantities compare in
    scaled-integer space: supp_q_fp * 10 > part_q_fp * 3.

    Plan: year+part-filtered lineitem shuffles once on (l_partkey,
    l_suppkey); the per-part total reuses the l_partkey partial via a
    parts-bounded window; qualifying suppkeys drive a left-semi join
    into the broadcast nation-filtered supplier dim."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    supp_n = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    q_fp = F.round(F.col("l_quantity") * 100, 0).cast("bigint")
    per_pair = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(q_fp).alias("supp_q_fp"))
    )
    part_total = Window.partitionBy("l_partkey")
    qualifying = (
        per_pair.withColumn("part_q_fp", F.sum("supp_q_fp").over(part_total))
        .filter(F.col("supp_q_fp") * 10 > F.col("part_q_fp") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp_n.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
WITH per_pair AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS supp_q_fp
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
), qualifying AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT l_suppkey, supp_q_fp,
               sum(supp_q_fp) OVER (PARTITION BY l_partkey) AS part_q_fp
        FROM per_pair)
  WHERE supp_q_fp * 10 > part_q_fp * 3
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
ORDER BY s_suppkey
"""


def x_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling for query vectors (vec_id < 20)
    against the labeled embedding corpus — the seed-set label
    propagation pattern for corpus auto-annotation."""
    from news_lakehouse_spark.operators.similarity import knn_classify

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return knn_classify(emb, q, k=10)


_KNN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS lbl,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), topk AS (
  SELECT query_id, lbl, rank FROM (
    SELECT query_id, lbl, cs, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cs DESC, neighbor_id DESC) AS rank
    FROM scored
  ) WHERE rank <= 10
), votes AS (
  SELECT query_id, lbl, CAST(count(*) AS INT) AS votes,
         CAST(min(rank) AS INT) AS best_rank
  FROM topk GROUP BY 1, 2
)
SELECT query_id, lbl AS predicted_label, votes, best_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, best_rank, lbl) AS rn
      FROM votes)
WHERE rn = 1
"""


def x_dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority near-dup collapse: MinHash pair graph →
    connected components → keep the LONGEST copy per cluster
    (n_chars DESC, doc_id ASC) instead of the min-id rule — the
    "keep the best version" policy real curation pipelines use.
    Returns the surviving doc ids."""
    from news_lakehouse_spark.operators.dedupe import dedup_survivors_by

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, "doc_id", "text", n=3, num_hashes=128, bands=32, threshold=0.8
    )
    return dedup_survivors_by(d, pairs, "doc_id", "n_chars").select("doc_id")


_QUALITY_SURVIVOR_SQL = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in generate_series(1, greatest(len(ws) - 2, 0))]) AS sh
  FROM w WHERE len(ws) >= 3
), inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE nc / (sa.n_sh + sb.n_sh - nc) >= 0.8
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS id, b AS r FROM edges
  UNION SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
), comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
members AS (
  SELECT c.id AS doc_id, c.component, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.id
), best AS (
  SELECT component, max(n_chars) AS b FROM members GROUP BY 1
), winners AS (
  SELECT m.component, min(m.doc_id) AS w
  FROM members m JOIN best USING (component)
  WHERE m.n_chars = best.b GROUP BY 1
), losers AS (
  SELECT doc_id FROM members
  WHERE doc_id NOT IN (SELECT w FROM winners)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""


def x_substring_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-substring coverage per document:
    the fraction of token positions covered by an 8-token span that
    recurs in >= 2 distinct documents (Lee et al. 2022 word-level
    approximation; cross-document repeats only). The standard
    'how much of this doc is copied boilerplate' curation signal."""
    from news_lakehouse_spark.operators.dedupe import substring_duplication

    d = read_table(spark, sf_dir, "documents")
    return substring_duplication(d, "doc_id", "text", k=8, min_df=2)


_SUBSTR_DUP_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), spans AS (
  SELECT doc_id, u.i AS pos,
         CAST(concat('0x', substr(sha256(array_to_string(ws[u.i + 1 : u.i + 8], ' ')), 1, 15)) AS BIGINT) AS h
  FROM base, unnest(generate_series(0, len(ws) - 8)) u(i)
), dfreq AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT doc_id) AS df FROM spans GROUP BY h
  ) WHERE df >= 2 AND df <= 10000
), cov AS (
  SELECT DISTINCT s.doc_id, s.pos + u.j AS p
  FROM spans s JOIN dfreq USING (h), unnest(generate_series(0, 7)) u(j)
), per AS (
  SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_tokens,
       CAST(coalesce(per.dup_tokens, 0) AS INT) AS dup_tokens,
       round(coalesce(per.dup_tokens, 0) * 1.0 / greatest(len(b.ws), 1), 6) AS dup_fraction
FROM base b LEFT JOIN per USING (doc_id)
"""


def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization contract: integer checksums of the
    quantized vector (exact cross-engine) plus the cosine between the
    original and its quantized form (scale-invariant, so dequantization
    drops out) — pinning both the quantizer arithmetic and the claim
    that 8-bit rounding preserves ANN geometry (cos ≈ 1)."""
    from news_lakehouse_spark.operators.similarity import (
        cosine_similarity,
        quantize_embeddings,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "vec_id", "embedding")
    joined = emb.join(q, "vec_id")
    qd = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    return joined.select(
        "vec_id",
        F.aggregate("qvec", F.lit(0), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, x: a + (x * x).cast("long")
        ).alias("q_sq_sum"),
        F.round("scale", 9).alias("scale"),
        F.round(cosine_similarity(F.col("embedding"), qd), 6).alias("cos_quant"),
    )


_QUANTIZE_SQL = """
WITH q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
             / 127.0 AS scale
  FROM embeddings
), qq AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(round(x / scale, 0) AS INT))
              ELSE list_transform(v, x -> 0) END AS qv
  FROM q
)
SELECT vec_id,
       CAST(list_sum(qv) AS INT) AS q_sum,
       CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS q_sq_sum,
       round(scale, 9) AS scale,
       round(list_cosine_similarity(v, CAST(qv AS DOUBLE[])), 6) AS cos_quant
FROM qq
"""


def x_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL distinct users per event type, hash-checked via a
    two-part contract (sketch bytes are engine-specific): merged-over-
    days estimate EQUALS the direct single-sketch estimate (HLL union
    is register-wise max, so merging is lossless — the property that
    makes incremental daily sketches valid), and the estimate lands
    within 5% of the exact distinct count."""
    from news_lakehouse_spark.operators.sketches import hll_daily_rollup

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "user_id",
    )
    rolled = hll_daily_rollup(ev, "event_type", "day", "user_id")
    direct = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__direct"),
    )
    return rolled.join(direct, "event_type").select(
        "event_type",
        "exact_users",
        (F.col("est_distinct") == F.col("__direct")).cast("int").alias("merge_exact"),
        (F.abs(F.col("est_distinct") - F.col("exact_users"))
         <= 0.05 * F.col("exact_users")).cast("int").alias("approx_ok"),
    )


_HLL_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       1 AS merge_exact, 1 AS approx_ok
FROM events GROUP BY event_type
"""


def x_kll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-KLL p50/p95 of event value per event type, contract-
    checked: each sketch estimate's true rank must land within ±3% of
    the requested rank (KLL rank error ε≈1.65% at k=200, 99% conf; 3%
    leaves margin), pinned by bracketing the estimate between the
    EXACT percentiles at p∓0.03. The daily-sketch→merge path is the
    incremental variant of x_approx_percentile's one-shot sketch."""
    from news_lakehouse_spark.operators.sketches import kll_daily_rollup

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        F.col("value").cast("double").alias("value"),
    )
    rolled = kll_daily_rollup(ev, "event_type", "day", "value", ranks=(0.5, 0.95))
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.47)").alias("__p50_lo"),
        F.expr("percentile(value, 0.53)").alias("__p50_hi"),
        F.expr("percentile(value, 0.92)").alias("__p95_lo"),
        F.expr("percentile(value, 0.98)").alias("__p95_hi"),
        F.count("value").alias("n_events"),
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_events",
        F.col("p50")
        .between(F.col("__p50_lo"), F.col("__p50_hi"))
        .cast("int")
        .alias("p50_ok"),
        F.col("p95")
        .between(F.col("__p95_lo"), F.col("__p95_hi"))
        .cast("int")
        .alias("p95_ok"),
    )


_KLL_SQL = """
SELECT event_type, CAST(count(value) AS BIGINT) AS n_events,
       1 AS p50_ok, 1 AS p95_ok
FROM events GROUP BY event_type
"""


def x_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global p50/p99 order statistics of l_extendedprice on the
    boundary-band selection plan — no full-table sort, no value
    buffering; only the sketch-bracketed band is ever sorted. The
    discrete order statistic (rank ceil(p*n)) is a real data value, so
    the oracle matches it bit-for-bit with no rounding."""
    from news_lakehouse_spark.operators.sketches import exact_order_statistics

    li = read_table(spark, sf_dir, "lineitem")
    return exact_order_statistics(li, "l_extendedprice", ps=(0.5, 0.99))


_EXACT_PCTL_SQL = """
WITH o AS (
  SELECT l_extendedprice AS v,
         row_number() OVER (ORDER BY l_extendedprice) AS rn,
         count(*) OVER () AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS p99
FROM o
"""


def x_exact_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-event-type median event value on the grouped band-
    selection plan — no group is ever fully sorted; only each group's
    sketch-bracketed band is windowed. Discrete order statistic, so
    the oracle matches bit-for-bit."""
    from news_lakehouse_spark.operators.sketches import (
        exact_group_order_statistics,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    return exact_group_order_statistics(ev, "event_type", "value", p=0.5)


_EXACT_GROUP_MEDIAN_SQL = """
WITH o AS (
  SELECT event_type, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50
FROM o GROUP BY event_type
"""


def x_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of events.user_id: top-20 heaviest keys with
    share and skew-vs-mean ratio — the pre-flight diagnostic for
    salted_join/salted_aggregate sizing."""
    from news_lakehouse_spark.operators.skew import key_skew_stats

    ev = read_table(spark, sf_dir, "events")
    return key_skew_stats(ev, ["user_id"], top_n=20)


_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), summary AS (
  SELECT count(*) AS n_keys, sum(cnt) AS n_rows FROM counts
)
SELECT user_id, CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank,
       CAST(cnt AS BIGINT) AS cnt,
       round(cnt * 1.0 / n_rows, 6) AS share,
       round(cnt * 1.0 * n_keys / n_rows, 4) AS skew_vs_mean
FROM counts, summary
ORDER BY cnt DESC, user_id LIMIT 20
"""


def x_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal: strip cross-document duplicated 8-token
    runs from each document, keeping the min-id canonical copy per
    gram — returns the cleaned normalized text plus kept/total token
    accounting."""
    from news_lakehouse_spark.operators.dedupe import remove_duplicated_spans

    d = read_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(d, "doc_id", "text", k=8)


_SUBSTR_REMOVAL_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), spans AS (
  SELECT doc_id, u.i AS pos,
         CAST(concat('0x', substr(sha256(array_to_string(ws[u.i + 1 : u.i + 8], ' ')), 1, 15)) AS BIGINT) AS h
  FROM base, unnest(generate_series(0, len(ws) - 8)) u(i)
), owners AS (
  SELECT h, min(doc_id) AS owner FROM spans GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= 10000
), dropped AS (
  SELECT DISTINCT s.doc_id, s.pos + u.j AS p
  FROM spans s JOIN owners o USING (h), unnest(generate_series(0, 7)) u(j)
  WHERE s.doc_id <> o.owner
), toks AS (
  SELECT doc_id, u.i AS pos, ws[u.i + 1] AS w
  FROM base, unnest(generate_series(0, len(ws) - 1)) u(i)
), keptt AS (
  SELECT t.doc_id, t.pos, t.w FROM toks t
  LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.p = t.pos
  WHERE d.p IS NULL
), agg AS (
  SELECT doc_id, count(*) AS kept_tokens,
         string_agg(w, ' ' ORDER BY pos) AS clean_text
  FROM keptt GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_tokens,
       CAST(coalesce(a.kept_tokens, 0) AS INT) AS kept_tokens,
       coalesce(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def x_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: documents with doc_id % 5 == 0 are
    'today's batch', the rest the existing corpus; each batch doc is
    classified in_corpus / dup_in_batch / admit by MinHash+LSH with
    exact-Jaccard verification at ≥ 0.8. Oracle recomputes the flags
    from exact all-pairs Jaccard (LSH recall ~1 at this threshold)."""
    from news_lakehouse_spark.operators.dedupe import incremental_minhash_dedupe

    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return incremental_minhash_dedupe(
        corpus, batch, "doc_id", "text", n=3, num_hashes=128, bands=32, threshold=0.8
    )


def _minhash_incremental_sql(n: int = 3, threshold: float = 0.8) -> str:
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return f"""
WITH w AS (
  SELECT doc_id, string_split({_NT.format(c='text')}, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([{gram} for i in generate_series(1, greatest(len(ws) - {n - 1}, 0))])
             AS sh
  FROM w WHERE len(ws) >= {n}
), inv AS (
  SELECT doc_id, unnest(sh) AS shingle FROM s
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM inv a JOIN inv b USING (shingle)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
), sz AS (SELECT doc_id, len(sh) AS n_sh FROM s),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE nc / (sa.n_sh + sb.n_sh - nc) >= {threshold}
), batch AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
), flags AS (
  SELECT b.doc_id,
         EXISTS (SELECT 1 FROM pairs p WHERE p.id_a = b.doc_id AND p.id_b % 5 <> 0)
             AS in_c,
         EXISTS (SELECT 1 FROM pairs p WHERE p.id_a = b.doc_id AND p.id_b % 5 = 0
                 AND p.id_b < b.doc_id) AS dup_b
  FROM batch b
)
SELECT doc_id,
       CAST(in_c AS INT) AS in_corpus,
       CAST(NOT in_c AND dup_b AS INT) AS dup_in_batch,
       CAST(NOT in_c AND NOT dup_b AS INT) AS admit
FROM flags
"""


def x_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-50-per-event-type deterministic uniform sample (per-group
    reservoir analog), forced through the scale-safe cutoff plan so the
    boundary-band machinery itself is oracle-checked against the plain
    rank definition."""
    from news_lakehouse_spark.operators.sampling import reservoir_sample_per_group

    e = read_table(spark, sf_dir, "events")
    out = reservoir_sample_per_group(
        e, "event_type", 50, key_cols=["event_id"], method="cutoff"
    )
    return out.select("event_id", "event_type")


_RESERVOIR_SQL = """
WITH h AS (
  SELECT event_id, event_type,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'reservoir', event_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS hf
  FROM events
), r AS (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY hf, event_id) AS rn
  FROM h
)
SELECT event_id, event_type FROM r WHERE rn <= 50
"""


def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted 10-per-source document sample (Efraimidis-
    Spirakis A-Res on the deterministic hash line, weight = n_chars),
    forced through the percentile-banded cutoff plan so the
    distribution-free band machinery is oracle-checked against the
    plain rank definition the SQL replicates."""
    from news_lakehouse_spark.operators.sampling import weighted_sample_per_group

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = weighted_sample_per_group(
        d, "source", 10, key_cols=["doc_id"], weight_col="n_chars",
        method="cutoff",
    )
    return out.select("doc_id", "source", "n_chars")


_WEIGHTED_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST(concat('0x', substr(sha256(concat_ws('||', 'weighted', doc_id)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS u
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
), e AS (
  SELECT doc_id, source, n_chars,
         round(-ln(1.0 - u) / CAST(n_chars AS DOUBLE), 12) AS line
  FROM h
), r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY line, doc_id) AS rn
  FROM e
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= 10
"""


# Shared graph build for x_pagerank / x_bfs_distance: suppliers
# (2k+1) and customers (2k), one edge EACH WAY per distinct
# supplier-customer lineitem relationship. The Spark helper and the
# SQL fragment below must stay equivalent — both queries' oracles
# embed the fragment.
def _supplier_customer_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("s"),
            (F.col("o_custkey") * 2).alias("c"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).union(pairs.select(F.col("c"), F.col("s")))


_SUPP_CUST_EDGES_CTE = """le AS (
  SELECT DISTINCT l.l_suppkey * 2 + 1 AS s, o.o_custkey * 2 AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM le UNION ALL SELECT c, s FROM le
)"""


def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.pagerank) over the
    supplier<->customer interaction graph: nodes are suppliers
    (2k+1) / customers (2k), one edge each way per distinct
    supplier-customer lineitem relationship, 5 damped iterations.
    All mass arithmetic is BIGINT (units of 1e-12 node-mass), so the
    ranking is bit-identical across partition counts and engines —
    the property that lets DuckDB hash-match an iterative algorithm.
    The bidirectional build means no dangling nodes, so the oracle
    unrolls the exact recurrence without the redistribution term
    (the operator still implements it; pytest covers dangling).
    """
    from news_lakehouse_spark.operators.graph import pagerank

    edges = _supplier_customer_edges(spark, sf_dir)
    with _op_phase("x_pagerank", "pagerank"):
        ranks = pagerank(edges, iterations=5)
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        F.col("rank_units").cast("long").alias("rank_units"),
    ).orderBy(F.desc("rank_units"), "node")


def _pagerank_oracle(iterations: int = 5, units: int = 10**12) -> str:
    base = (15 * units) // 100
    sql = f"""
WITH {_SUPP_CUST_EDGES_CTE}, deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST({units} AS BIGINT) AS r FROM deg),
"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f"""s{i} AS (
  SELECT e.dst AS node, SUM(r.r // d.d) AS m
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (SELECT node, CAST({base} + (85 * m) // 100 AS BIGINT) AS r FROM s{i}),
"""
        prev = f"r{i}"
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_units
FROM {prev} ORDER BY rank_units DESC, node
"""
    return sql


_PAGERANK_SQL = _pagerank_oracle()


def x_pagerank_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.pagerank with a
    teleport set): the random surfer restarts at the every-25th
    suppliers — proximity-to-seeds authority for crawl
    prioritization / seed-set expansion.  Same integer-exact BIGINT
    recurrence as x_pagerank, with the teleport and dangling mass
    concentrated on the |T| seeds; the bidirectional graph again has
    no dangling nodes, so the oracle unrolls without that term.
    """
    from news_lakehouse_spark.operators.graph import pagerank

    edges = _supplier_customer_edges(spark, sf_dir)
    seeds = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 25 == 1)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    with _op_phase("x_pagerank_seeded", "pagerank"):
        ranks = pagerank(edges, iterations=5, teleport=seeds)
    return ranks.select(
        F.col("node").cast("long").alias("node"),
        F.col("rank_units").cast("long").alias("rank_units"),
    ).orderBy(F.desc("rank_units"), "node")


def _ppr_oracle(iterations: int = 5, units: int = 10**12) -> str:
    sql = f"""
WITH {_SUPP_CUST_EDGES_CTE},
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
seeds AS (
  SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 25 = 1
),
-- every node has out-edges (bidirectional), so deg is the node set
ns AS (
  SELECT d.src AS node, (s.node IS NOT NULL) AS is_seed
  FROM deg d LEFT JOIN seeds s ON s.node = d.src
),
cnt AS (
  SELECT count(*) AS n, sum(CASE WHEN is_seed THEN 1 ELSE 0 END) AS t
  FROM ns
),
r0 AS (SELECT node, CAST({units} AS BIGINT) AS r FROM ns),
"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f"""s{i} AS (
  SELECT e.dst AS node, SUM(r.r // d.d) AS m
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT ns.node,
         CAST(CASE WHEN ns.is_seed
              THEN (15 * {units} * cnt.n) // (100 * cnt.t) ELSE 0 END
              + (85 * s{i}.m) // 100 AS BIGINT) AS r
  FROM ns JOIN s{i} ON s{i}.node = ns.node, cnt
),
"""
        prev = f"r{i}"
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_units
FROM {prev} ORDER BY rank_units DESC, node
"""
    return sql


_PPR_SQL = _ppr_oracle()


def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.triangle_stats) on
    the high-volume co-purchase graph: parts are linked when ordered
    together with l_quantity >= 40.  Degree-oriented wedge join
    (O(sqrt(m)) fan-out bound), each triangle counted once; output is
    every node on a triangle with its degree, wedge denominator, and
    local clustering coefficient.
    """
    from news_lakehouse_spark.operators.graph import triangle_stats

    li = read_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") >= 40).select("l_orderkey", "l_partkey")
    x, y = q.alias("x"), q.alias("y")
    pairs = x.join(
        y,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    ).select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    with _op_phase("x_triangle_count", "triangle_stats"):
        stats = triangle_stats(pairs)
    return (
        stats.filter(F.col("triangles") > 0)
        .select(
            F.col("node").cast("long").alias("node"),
            "degree",
            "wedges",
            "triangles",
            F.round(F.col("triangles") / F.col("wedges"), 6).alias("local_cc"),
        )
        .orderBy(F.desc("triangles"), "node")
    )


_TRIANGLE_SQL = """
WITH q AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
), p AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM q a JOIN q b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), d AS (
  SELECT n AS node, count(*) AS degree
  FROM (SELECT lo AS n FROM p UNION ALL SELECT hi FROM p) GROUP BY 1
), t AS (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM p e1
  JOIN p e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
  JOIN p e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
), pn AS (
  SELECT n AS node, count(*) AS triangles
  FROM (SELECT x AS n FROM t UNION ALL SELECT y FROM t
        UNION ALL SELECT z FROM t) GROUP BY 1
)
SELECT CAST(d.node AS BIGINT) AS node,
       CAST(degree AS BIGINT) AS degree,
       CAST(degree * (degree - 1) // 2 AS BIGINT) AS wedges,
       CAST(triangles AS BIGINT) AS triangles,
       round(triangles / (degree * (degree - 1) / 2.0), 6) AS local_cc
FROM d JOIN pn ON pn.node = d.node
ORDER BY triangles DESC, node
"""


def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (operators/bpe.train_bpe_merges) over the
    document corpus: 4 merge rounds of sliding-window pair counting +
    greedy left-to-right rewrite with private-use markers.  The
    oracle unrolls the identical 4 rounds in SQL (replace() is
    greedy-LTR in both engines; tie-break = freq DESC, pair codepoint
    ASC).  min_freq never binds at this corpus size (winning pair
    frequencies are in the thousands), so early-stop can't desync
    the unrolled oracle.  recount_every=4 exercises the batched
    scan path (r9 Next #5): the learned sequence is provably
    identical to sequential training (operators/bpe._exact_batch),
    so the sequential-unrolled oracle still hash-matches while the
    engine pays fewer corpus scans.
    """
    from news_lakehouse_spark.operators.bpe import train_bpe_merges

    d = read_table(spark, sf_dir, "documents").select("text")
    with _op_phase("x_bpe_train", "train_bpe_merges"):
        merges = train_bpe_merges(
            d, "text", 4, min_freq=2, recount_every=4
        )
    # enforce the documented assumption the oracle relies on: the
    # unrolled SQL never early-stops, so if a smaller/changed corpus
    # ever makes min_freq bind, fail HERE by name instead of as an
    # anonymous row-count mismatch (r9 advice)
    assert len(merges) == 4 and all(m["freq"] >= 2 for m in merges), (
        f"min_freq bound at this corpus size — oracle would desync: "
        f"{[(m['rank'], m['freq']) for m in merges]}"
    )
    return spark.createDataFrame(
        [(m["rank"], m["token"], m["freq"]) for m in merges],
        "merge_rank int, token string, freq bigint",
    ).orderBy("merge_rank")


def _bpe_oracle(num_merges: int = 4, marker_start: int = 0xE000) -> str:
    sql = """
WITH c0 AS (SELECT text AS t FROM documents WHERE text IS NOT NULL),
"""
    for i in range(1, num_merges + 1):
        mk = marker_start + i - 1
        sql += f"""p{i} AS (
  SELECT substr(t, u.i, 2) AS pair, count(*) AS freq
  FROM c{i - 1}, unnest(generate_series(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 2
  GROUP BY 1
), m{i} AS (SELECT pair, freq FROM p{i} ORDER BY freq DESC, pair LIMIT 1),
c{i} AS (
  SELECT replace(t, (SELECT pair FROM m{i}), chr({mk})) AS t FROM c{i - 1}
),
"""
    # expand each winning pair back to its surface token: markers are
    # distinct chars and earlier tokens are marker-free, so replacing
    # every earlier marker with its (inline, fully-expanded) token is
    # exactly the trainer's recursive expansion
    sql = sql.rstrip().rstrip(",") + "\n"
    toks: dict[int, str] = {}
    for i in range(1, num_merges + 1):
        expr = f"m{i}.pair"
        for j in range(1, i):
            expr = f"replace({expr}, chr({marker_start + j - 1}), {toks[j]})"
        toks[i] = expr
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, CAST({toks[i]} AS VARCHAR) AS token,"
        f" CAST(m{i}.freq AS BIGINT) AS freq FROM "
        + ", ".join(f"m{j}" for j in range(1, i + 1))
        for i in range(1, num_merges + 1)
    )
    sql += unions + "\nORDER BY merge_rank\n"
    return sql


_BPE_SQL = _bpe_oracle()


def x_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application + corpus token accounting: learn 4 BPE
    merges (operators/bpe.train_bpe_merges), rewrite the corpus with
    them, and report per-source doc/char/token totals and
    tokens-per-char — the cost accounting an LLM pipeline runs before
    packing.  After the greedy rewrite every symbol is ONE character
    (learned tokens are single PUA markers), so the token count is
    just ``length(rewritten)`` — the whole application path stays in
    codegen'd string expressions.  The oracle re-derives the same 4
    merges and applies the same replace chain.  recount_every=4 takes
    the batched scan path (same as x_bpe_train): the learned merges
    are provably identical to sequential training
    (operators/bpe._exact_batch), so the sequential-unrolled oracle
    still hash-matches while training pays ~4x fewer corpus scans.
    """
    from news_lakehouse_spark.operators.bpe import train_bpe_merges

    d = (
        read_table(spark, sf_dir, "documents")
        .select("source", "text")
        .filter(F.col("text").isNotNull())
    )
    with _op_phase("x_bpe_tokenize", "train_bpe_merges"):
        merges = train_bpe_merges(d, "text", 4, min_freq=2, recount_every=4)
    col = F.col("text")
    for m in merges:
        col = F.replace(col, F.lit(m["left"] + m["right"]), F.lit(m["marker"]))
    per_doc = d.select(
        "source",
        F.length("text").alias("nc"),
        F.length(col).alias("nt"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.round(F.sum("nt") / F.sum("nc"), 6).alias("tokens_per_char"),
        )
        .orderBy("source")
    )


def _bpe_tokenize_oracle(num_merges: int = 4, marker_start: int = 0xE000) -> str:
    sql = """
WITH c0 AS (
  SELECT source, text AS t, length(text) AS nc
  FROM documents WHERE text IS NOT NULL
),
"""
    for i in range(1, num_merges + 1):
        mk = marker_start + i - 1
        sql += f"""p{i} AS (
  SELECT substr(t, u.i, 2) AS pair, count(*) AS freq
  FROM c{i - 1}, unnest(generate_series(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 2
  GROUP BY 1
), m{i} AS (SELECT pair FROM p{i} ORDER BY freq DESC, pair LIMIT 1),
c{i} AS (
  SELECT source, replace(t, (SELECT pair FROM m{i}), chr({mk})) AS t, nc
  FROM c{i - 1}
),
"""
    sql = sql.rstrip().rstrip(",") + f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       CAST(sum(length(t)) AS BIGINT) AS n_tokens,
       round(sum(length(t)) / CAST(sum(nc) AS DOUBLE), 6) AS tokens_per_char
FROM c{num_merges} GROUP BY source ORDER BY source
"""
    return sql


_BPE_TOKENIZE_SQL = _bpe_tokenize_oracle()


def x_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (operators/graph.bfs_distances)
    over the supplier<->customer graph, seeded at every 25th supplier
    (s_suppkey % 25 == 1), capped at 3 hops — the crawl-depth / contamination-blast-radius
    primitive.  Frontier-based (each round expands only newly
    discovered nodes; one src-keyed join + anti-join per hop), exact
    integers end to end; the oracle is a deduplicating recursive CTE
    bounded by the same hop cap.
    """
    from news_lakehouse_spark.operators.graph import bfs_distances

    edges = _supplier_customer_edges(spark, sf_dir)
    seeds = (
        read_table(spark, sf_dir, "supplier")
        # every-25th supplier: >=1 seed at every fixture scale
        .filter(F.col("s_suppkey") % 25 == 1)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    with _op_phase("x_bfs_distance", "bfs"):
        dist = bfs_distances(edges, seeds, max_hops=3)
    return dist.select(
        F.col("node").cast("long").alias("node"), "dist"
    ).orderBy("dist", "node")


_BFS_SQL = f"""
WITH RECURSIVE {_SUPP_CUST_EDGES_CTE}, seeds AS (
  SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 25 = 1
), walk AS (
  SELECT node, 0 AS d FROM seeds
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < 3
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS INT) AS dist
FROM walk GROUP BY node ORDER BY dist, node
"""


# --- registry -------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {

    # Driver-verification window (first 50 entries; the driver
    # oracle-checks registry[:50] each round). Rotation policy,
    # enforced by tests/test_queries_smoke.py: any query with no
    # driver CORRECTNESS row ever MUST sit inside the first 50.
    # Round-9 window: the 14 never-driver-checked queries (6 new
    # round-9 builds: pagerank + personalized pagerank / triangle
    # counting / BPE training / BPE tokenize accounting / BFS
    # distance, plus the 8 registered late in r8/r9 sessions), then
    # the 8
    # r5-stale queries the r8 verdict pinned for this round
    # (ask #5), then stalest-first (r6 greens). Queries verified in
    # r7/r8 rotate below the line; tools/verify_oracle.py still
    # covers the full registry.
    "x_pagerank": x_pagerank,
    "x_pagerank_seeded": x_pagerank_seeded,
    "x_triangle_count": x_triangle_count,
    "x_bpe_train": x_bpe_train,
    "x_bpe_tokenize": x_bpe_tokenize,
    "x_bfs_distance": x_bfs_distance,
    "t_feed_continuous": t_feed_continuous,
    "x_rollback_evolution": x_rollback_evolution,
    "t_datasource_stream": t_datasource_stream,
    "x_cc_large_star": x_cc_large_star,
    "x_quality_classifier": x_quality_classifier,
    "x_metadata_agg": x_metadata_agg,
    "t_datasource_sink": t_datasource_sink,
    "x_table_clone": x_table_clone,
    "x_mixture_sample": x_mixture_sample,
    "x_dsir_weights": x_dsir_weights,
    "x_reservoir_sample": x_reservoir_sample,
    "x_embed_quantize": x_embed_quantize,
    "x_hll_rollup": x_hll_rollup,
    "x_cms_heavy_hitters": x_cms_heavy_hitters,
    "x_key_skew": x_key_skew,
    "x_group_zscore": x_group_zscore,
    # pinned in-window (r8 verdict #1): its r8 driver row was the
    # round's one red (hash, unreproduced locally); the component
    # stays weak until a green CORRECTNESS_r9 row lands
    "x_nested_evolution": x_nested_evolution,
    "t_stream_join": t_stream_join,
    "t_stream_dedup": t_stream_dedup,
    "x_sim_pq_topk": x_sim_pq_topk,
    "x_pq_index_incremental": x_pq_index_incremental,
    "x_resample_ffill": x_resample_ffill,
    "x_fuzzy_join": x_fuzzy_join,
    "x_grouped_trend": x_grouped_trend,
    "x_kmv_overlap": x_kmv_overlap,
    "x_kmv_rollup": x_kmv_rollup,
    "x_rollback": x_rollback,
    "x_partition_evolution": x_partition_evolution,
    "x_partial_compact": x_partial_compact,
    "x_table_metadata": x_table_metadata,
    "x_mor_delete": x_mor_delete,
    "x_bloom_point_lookup": x_bloom_point_lookup,
    "x_cdc_replicate": x_cdc_replicate,
    "x_ivm_refresh": x_ivm_refresh,
    "x_join_ivm": x_join_ivm,
    "x_check_constraints": x_check_constraints,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_type_profit": q9_product_type_profit,
    "q11_important_parts": q11_important_parts,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_supplier_relationship": q16_parts_supplier_relationship,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q20_potential_promotion": q20_potential_promotion,
    "x_vocab_coverage": x_vocab_coverage,
    "x_event_transitions": x_event_transitions,
    # --- below the driver window: latest green r6/r7/r8 ---
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q8_market_share": q8_market_share,
    "q12_priority_lateness": q12_priority_lateness,
    "q14_promo_revenue": q14_promo_revenue,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q7_nation_volume": q7_nation_volume,
    "x_blocklist_filter": x_blocklist_filter,
    "x_binary_ingest": x_binary_ingest,
    "x_repetition_metrics": x_repetition_metrics,
    "x_pii_redaction": x_pii_redaction,
    "w2_window_analytics": w2_window_analytics,
    "a7_grouping_sets": a7_grouping_sets,
    "a8_stats_agg": a8_stats_agg,
    "u3_unpivot": u3_unpivot,
    "d8_date_spine_gapfill": d8_date_spine_gapfill,
    "q10_returned_items": q10_returned_items,
    "x_corpus_filter": x_corpus_filter,
    "w3_rolling_time_window": w3_rolling_time_window,
    "x_retention_cohorts": x_retention_cohorts,
    "t_stream_left_join": t_stream_left_join,
    "t_stream_full_join": t_stream_full_join,
    "x_schema_evolution": x_schema_evolution,
    "x_ts_pattern_search": x_ts_pattern_search,
    "x_time_travel": x_time_travel,
    "x_table_changes": x_table_changes,
    "x_compact_roundtrip": x_compact_roundtrip,
    "x_hard_negatives": x_hard_negatives,
    "x_kll_rollup": x_kll_rollup,
    "x_weighted_sample": x_weighted_sample,
    "x_exact_percentile": x_exact_percentile,
    "x_exact_group_median": x_exact_group_median,
    "x_media_probe": x_media_probe,
    "x_corpus_shard": x_corpus_shard,
    "x_ngram_diversity": x_ngram_diversity,
    "x_semdedup_incremental": x_semdedup_incremental,
    "x_source_overlap": x_source_overlap,
    "x_char_entropy": x_char_entropy,
    "x_corpus_pipeline": x_corpus_pipeline,
    "x_boilerplate_removal": x_boilerplate_removal,
    "x_source_corpus_stats": x_source_corpus_stats,
    "x_zorder_key": x_zorder_key,
    "q1_pricing_summary": q1_pricing_summary,
    "s2_scan_filter_project": s2_scan_filter_project,
    "p3_normalize_blank": p3_normalize_blank,
    "a1_count_left_join": a1_count_left_join,
    "a2_dedup_exact": a2_dedup_exact,
    "j1_left_join_enrich": j1_left_join_enrich,
    "j4_three_way_agg": j4_three_way_agg,
    "j6_flat_serving_view": j6_flat_serving_view,
    "s8_merge_upsert": s8_merge_upsert,
    "s9_merge_insert_only": s9_merge_insert_only,
    "u1_union_by_name": u1_union_by_name,
    "w1_dedupe_latest": w1_dedupe_latest,
    "o1_sort_recency": o1_sort_recency,
    "o2_topk_per_group": o2_topk_per_group,
    "f5_sha2_identity": f5_sha2_identity,
    "f7_text_stats": f7_text_stats,
    "d1_timestamp_cascade": d1_timestamp_cascade,
    "d5_date_dimension": d5_date_dimension,
    "n4_json_map_explode": n4_json_map_explode,
    "m3_surrogate_sentinel": m3_surrogate_sentinel,
    "x_quality_metrics": x_quality_metrics,
    "x_token_count": x_token_count,
    "x_fingerprint": x_fingerprint,
    "x_multimodal_bytes": x_multimodal_bytes,
    "x_range_join": x_range_join,
    "x_salted_agg": x_salted_agg,
    "x_salted_join": x_salted_join,
    "x_dedup_embedding_cosine": x_dedup_embedding_cosine,
    "t_stream_table_feed": t_stream_table_feed,
    "t_feed_schema_drift": t_feed_schema_drift,
    "x_stats_pruned_read": x_stats_pruned_read,
    "x_zorder_pruned_read": x_zorder_pruned_read,
    "x_hidden_partitioning": x_hidden_partitioning,
    "x_bucket_join": x_bucket_join,
    "x_bucket_agg": x_bucket_agg,
    "x_changes_across_compact": x_changes_across_compact,
    "a4_rollup": a4_rollup,
    "a5_cube": a5_cube,
    "a6_pivot": a6_pivot,
    "j7_semi_anti": j7_semi_anti,
    "t_session_window": t_session_window,
    "t_windowed_agg": t_windowed_agg,
    "u2_intersect_except": u2_intersect_except,
    "x_approx_distinct": x_approx_distinct,
    "x_approx_percentile": x_approx_percentile,
    "x_asof_join": x_asof_join,
    "x_bm25_search": x_bm25_search,
    "x_char_lm_score": x_char_lm_score,
    "x_chunk_documents": x_chunk_documents,
    "x_decontaminate": x_decontaminate,
    "x_dedup_clusters": x_dedup_clusters,
    "x_dedup_minhash_lsh": x_dedup_minhash_lsh,
    "x_dedup_ngram_jaccard": x_dedup_ngram_jaccard,
    "x_dedup_simhash": x_dedup_simhash,
    "x_dedup_simhash_pairs": x_dedup_simhash_pairs,
    "x_embed_centroid": x_embed_centroid,
    "x_expectations": x_expectations,
    "x_funnel": x_funnel,
    "x_lang_id": x_lang_id,
    "x_pack_sequences": x_pack_sequences,
    "x_quantile_bucket": x_quantile_bucket,
    "x_scd2_dimension": x_scd2_dimension,
    "x_sessionize": x_sessionize,
    "x_sim_lsh_topk": x_sim_lsh_topk,
    "x_sim_topk_bruteforce": x_sim_topk_bruteforce,
    "x_stratified_sample": x_stratified_sample,
    "x_tfidf_topterms": x_tfidf_topterms,
    "x_train_test_split": x_train_test_split,
    "x_semdedup": x_semdedup,
    "x_dedup_incremental": x_dedup_incremental,
    "x_dedup_minhash_incremental": x_dedup_minhash_incremental,
    "x_dedup_quality_survivor": x_dedup_quality_survivor,
    "x_substring_duplication": x_substring_duplication,
    "x_substring_removal": x_substring_removal,
    "x_knn_classify": x_knn_classify,
    "x_temperature_mixture": x_temperature_mixture,
    "x_sim_ivf_topk": x_sim_ivf_topk,
    "x_stream_stateful": x_stream_stateful,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
}


ORACLES: dict[str, str] = {
    "x_pagerank": _PAGERANK_SQL,
    "x_pagerank_seeded": _PPR_SQL,
    "x_triangle_count": _TRIANGLE_SQL,
    "x_bpe_train": _BPE_SQL,
    "x_bpe_tokenize": _BPE_TOKENIZE_SQL,
    "x_bfs_distance": _BFS_SQL,
    "q2_min_cost_supplier": _Q2_SQL,
    "q9_product_type_profit": _Q9_SQL,
    "q11_important_parts": _Q11_SQL,
    "q13_customer_distribution": _Q13_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q16_parts_supplier_relationship": _Q16_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q20_potential_promotion": _Q20_SQL,
    "x_knn_classify": _KNN_SQL,
    "x_dedup_quality_survivor": _QUALITY_SURVIVOR_SQL,
    "x_temperature_mixture": _TEMPERATURE_SQL,
    "x_semdedup": _SEMDEDUP_SQL,
    "x_vocab_coverage": _VOCAB_SQL,
    "x_group_zscore": _GROUP_ZSCORE_SQL,
    "x_event_transitions": _EVENT_TRANSITIONS_SQL,
    "q4_order_priority": _Q4_SQL,
    "q6_forecast_revenue": _Q6_SQL,
    "q8_market_share": _Q8_SQL,
    "q12_priority_lateness": _Q12_SQL,
    "q14_promo_revenue": _Q14_SQL,
    "q19_discounted_revenue": _Q19_SQL,
    "q21_suppliers_kept_waiting": _Q21_SQL,
    "q22_global_sales_opportunity": _Q22_SQL,
    "q1_pricing_summary": _Q1_SQL,
    "s2_scan_filter_project": _S2_SQL,
    "p3_normalize_blank": _P3_SQL,
    "a1_count_left_join": _A1_SQL,
    "a2_dedup_exact": _A2_SQL,
    "j1_left_join_enrich": _J1_SQL,
    "j4_three_way_agg": _J4_SQL,
    "j6_flat_serving_view": _J6_SQL,
    "s8_merge_upsert": _S8_SQL,
    "s9_merge_insert_only": _S9_SQL,
    "u1_union_by_name": _U1_SQL,
    "w1_dedupe_latest": _W1_SQL,
    "o2_topk_per_group": _O2_SQL,
    "f5_sha2_identity": _F5_SQL,
    "f7_text_stats": _F7_SQL,
    "d1_timestamp_cascade": _D1_SQL,
    "d5_date_dimension": _D5_SQL,
    "n4_json_map_explode": _N4_SQL,
    "m3_surrogate_sentinel": _M3_SQL,
    "o1_sort_recency": _O1_SQL,
    "j7_semi_anti": _J7_SQL,
    "u2_intersect_except": _U2_SQL,
    "a4_rollup": _A4_SQL,
    "a5_cube": _A5_SQL,
    "a6_pivot": _A6_SQL,
    "x_approx_distinct": _APPROX_DISTINCT_SQL,
    "x_approx_percentile": _APPROX_PCT_SQL,
    "x_asof_join": _ASOF_SQL,
    "t_windowed_agg": _T_SQL,
    "x_sessionize": _SESSIONIZE_SQL,
    "x_dedup_minhash_lsh": _jaccard_oracle(3, 0.8),
    "x_dedup_ngram_jaccard": _jaccard_oracle(3, 0.4),
    "x_dedup_simhash": _simhash_oracle(60),
    "x_dedup_simhash_pairs": _simhash_pairs_oracle(60, 3),
    "x_dedup_clusters": _CLUSTERS_SQL,
    "x_cc_large_star": _CC_STAR_SQL,
    "x_quality_classifier": _QUALITY_CLS_SQL,
    "x_metadata_agg": _METADATA_AGG_SQL,
    "t_datasource_sink": _DATASOURCE_SINK_SQL,
    "x_table_clone": _TABLE_CLONE_SQL,
    "x_bm25_search": _bm25_oracle(_BM25_TERMS),
    "x_tfidf_topterms": _TFIDF_SQL,
    "x_train_test_split": _SPLIT_SQL,
    "x_decontaminate": _DECON_SQL,
    "x_funnel": _FUNNEL_SQL,
    "x_expectations": _EXPECT_SQL,
    "x_chunk_documents": _CHUNK_SQL,
    "x_char_lm_score": _CHARLM_SQL,
    "x_pack_sequences": _PACK_SQL,
    "x_stratified_sample": _STRAT_SQL,
    "x_quantile_bucket": _QBUCKET_SQL,
    "x_sim_topk_bruteforce": _SIM_SQL,
    "x_sim_lsh_topk": _SIM_LSH_SQL,
    "x_embed_centroid": _CENTROID_SQL,
    "x_lang_id": _lang_sql(),
    "x_quality_metrics": _quality_sql(),
    "x_token_count": _TOKEN_SQL,
    "x_dsir_weights": _DSIR_SQL,
    "x_mixture_sample": _MIXTURE_SQL,
    "q18_large_volume_customers": _Q18_SQL,
    "q7_nation_volume": _Q7_SQL,
    "x_dedup_incremental": _INCR_SQL,
    "x_blocklist_filter": _BLOCKLIST_SQL,
    "x_fingerprint": _FP_SQL,
    "x_multimodal_bytes": _MM_SQL,
    "x_binary_ingest": _BINARY_SQL,
    "x_range_join": _RANGE_SQL,
    "x_salted_agg": _SALTED_AGG_SQL,
    "x_salted_join": _SALTED_JOIN_SQL,
    "x_dedup_embedding_cosine": _EMB_COS_SQL,
    "x_sim_ivf_topk": _SIM_IVF_SQL,
    "x_sim_pq_topk": _SIM_PQ_SQL,
    "x_resample_ffill": _RESAMPLE_SQL,
    "x_fuzzy_join": _FUZZY_JOIN_SQL,
    "x_grouped_trend": _GROUPED_TREND_SQL,
    "x_kmv_overlap": _KMV_SQL,
    "x_kmv_rollup": _KMV_ROLLUP_SQL,
    "x_pq_index_incremental": _PQ_INDEX_SQL,
    "x_stream_stateful": _STREAM_STATEFUL_SQL,
    "t_stream_join": _STREAM_JOIN_SQL,
    "t_stream_left_join": _STREAM_LEFT_JOIN_SQL,
    "t_stream_full_join": _STREAM_FULL_JOIN_SQL,
    "t_stream_table_feed": _STREAM_TABLE_FEED_SQL,
    "t_feed_schema_drift": _FEED_SCHEMA_DRIFT_SQL,
    "t_feed_continuous": _FEED_CONTINUOUS_SQL,
    "x_rollback_evolution": _ROLLBACK_EVOLUTION_SQL,
    "t_datasource_stream": _DATASOURCE_STREAM_SQL,
    "t_stream_dedup": _STREAM_DEDUP_SQL,
    "x_mor_delete": _MOR_DELETE_SQL,
    "x_bloom_point_lookup": _BLOOM_LOOKUP_SQL,
    "x_cdc_replicate": _CDC_REPLICATE_SQL,
    "x_ivm_refresh": _IVM_REFRESH_SQL,
    "x_join_ivm": _JOIN_IVM_SQL,
    "x_check_constraints": _CHECK_CONSTRAINTS_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "q5_local_supplier_volume": _Q5_SQL,
    "t_session_window": _SESSION_WINDOW_SQL,
    "x_scd2_dimension": _SCD2_SQL,
    "x_time_travel": _TIME_TRAVEL_SQL,
    "x_table_metadata": _TABLE_METADATA_SQL,
    "x_partial_compact": _PARTIAL_COMPACT_SQL,
    "x_partition_evolution": _PARTITION_EVOLUTION_SQL,
    "x_schema_evolution": _SCHEMA_EVOLUTION_SQL,
    "x_nested_evolution": _NESTED_EVOLUTION_SQL,
    "x_table_changes": _TABLE_CHANGES_SQL,
    "x_rollback": _ROLLBACK_SQL,
    "x_media_probe": _MEDIA_PROBE_SQL,
    "x_compact_roundtrip": _COMPACT_SQL,
    "x_corpus_shard": _SHARD_SQL,
    "x_ngram_diversity": _NGRAM_DIVERSITY_SQL,
    "x_semdedup_incremental": _SEMDEDUP_INCREMENTAL_SQL,
    "x_source_overlap": _SOURCE_OVERLAP_SQL,
    "x_hard_negatives": _HARD_NEG_SQL,
    "x_repetition_metrics": _REPETITION_SQL,
    "x_pii_redaction": _PII_SQL,
    "w2_window_analytics": _W2_SQL,
    "a7_grouping_sets": _A7_SQL,
    "a8_stats_agg": _A8_SQL,
    "u3_unpivot": _U3_SQL,
    "d8_date_spine_gapfill": _D8_SQL,
    "q10_returned_items": _Q10_SQL,
    "x_corpus_filter": _corpus_filter_sql(),
    "w3_rolling_time_window": _W3_SQL,
    "x_retention_cohorts": _RETENTION_SQL,
    "x_ts_pattern_search": _TS_SQL,
    "x_cms_heavy_hitters": _CMS_SQL,
    "x_char_entropy": _ENTROPY_SQL,
    "x_corpus_pipeline": _corpus_pipeline_sql(),
    "x_boilerplate_removal": _BOILERPLATE_SQL,
    "x_source_corpus_stats": _SOURCE_STATS_SQL,
    "x_zorder_key": _zorder_sql(),
    "x_substring_duplication": _SUBSTR_DUP_SQL,
    "x_embed_quantize": _QUANTIZE_SQL,
    "x_hll_rollup": _HLL_SQL,
    "x_kll_rollup": _KLL_SQL,
    "x_weighted_sample": _WEIGHTED_SAMPLE_SQL,
    "x_exact_percentile": _EXACT_PCTL_SQL,
    "x_exact_group_median": _EXACT_GROUP_MEDIAN_SQL,
    "x_key_skew": _KEY_SKEW_SQL,
    "x_substring_removal": _SUBSTR_REMOVAL_SQL,
    "x_dedup_minhash_incremental": _minhash_incremental_sql(),
    "x_reservoir_sample": _RESERVOIR_SQL,
    "x_stats_pruned_read": _STATS_PRUNE_SQL,
    "x_zorder_pruned_read": _ZORDER_PRUNE_SQL,
    "x_hidden_partitioning": _HIDDEN_PARTITIONING_SQL,
    "x_bucket_join": _BUCKET_JOIN_SQL,
    "x_bucket_agg": _BUCKET_AGG_SQL,
    "x_changes_across_compact": _CHANGES_COMPACT_SQL,
}
