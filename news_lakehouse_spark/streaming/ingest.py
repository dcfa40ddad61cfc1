"""Streaming bronze → silver ingestion (reference T1-T3, S11).

File-source micro-batches (`maxFilesPerTrigger`), checkpoint-based
exactly-once, and a `foreachBatch` that runs the full 10-table silver
derivation + keyed upsert per epoch — idempotent because identity is
content-hashed and the sink MERGEs on those keys
(gcs_bronze_to_silver.py:392-496,511-573).

Every silver table is a ``VersionedParquetTable``: each epoch commits
one manifest version per table, so a crash mid-epoch leaves every table
on a committed snapshot and the checkpoint replays the epoch onto it.
At scale each epoch's work is bounded by the file-trigger cap, and a
merge rewrites only the files of the partitions its keys touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_lakehouse_spark.functions.timestamps import parse_timestamp_any
from news_lakehouse_spark.metrics import pipeline_metrics
from news_lakehouse_spark.plans.silver import build_silver_tables
from news_lakehouse_spark.schemas import NEWS_SCHEMA
from news_lakehouse_spark.sources.readers import read_bronze_stream
from news_lakehouse_spark.sources.transaction import VersionedParquetTable

# Merge keys per silver table (reference MERGE ONs, b2s:457-490).
SILVER_KEYS: dict[str, list[str]] = {
    "authors": ["AuthorID"],
    "topics": ["TopicID"],
    "subtopics": ["SubTopicID"],
    "keywords": ["KeywordID"],
    "references_table": ["ReferenceID"],
    "articles": ["ArticleID"],
    "article_keywords": ["ArticleID", "KeywordID"],
    "article_references": ["ArticleID", "ReferenceID"],
    "comments": ["CommentID"],
    "comment_interactions": ["CommentInteractionID"],
}
# Link tables get insert-only merges (S9, b2s:476-490).
INSERT_ONLY = {"article_keywords", "article_references"}


def upsert_silver_batch(
    spark: SparkSession, batch_df: DataFrame, out_dir: str
) -> None:
    """One micro-batch epoch: derive all silver tables, upsert each.

    Mirrors upsert_batch (b2s:392-496): empty-batch guard → persist →
    10 derivations (each already dropna+dropDuplicates-guarded) →
    per-table keyed merge → unpersist.
    """
    if batch_df.isEmpty():
        return
    batch_df.persist()
    try:
        with pipeline_metrics("bronze_to_silver_batch") as m:
            # the persist means this count is a cache read, not a second
            # source scan — the one place a records metric is free
            m.records = batch_df.count()
            tables = build_silver_tables(batch_df, require_ts=True)
            for name, df in tables.items():
                with pipeline_metrics(f"upsert_{name}"):
                    VersionedParquetTable(spark, f"{out_dir}/{name}").merge(
                        df, SILVER_KEYS[name], insert_only=name in INSERT_ONLY
                    )
    finally:
        batch_df.unpersist()


def dedupe_bronze_stream(
    stream: DataFrame,
    delay: str,
    key_col: str = "url",
    ts_col: str = "publish_date",
) -> DataFrame:
    """Stream-native dedupe-before-merge: collapse re-crawled /
    re-dropped bronze duplicates BEFORE they reach the per-table
    derivations and MERGEs, instead of relying on merge idempotency to
    absorb them (the reference dedupes inside each epoch only,
    b2s:426-446 — duplicates arriving in different micro-batches still
    pay the full 10-table derive+MERGE twice).

    `dropDuplicatesWithinWatermark` keys state on the trimmed natural
    key and expires it once the event-time watermark passes ``delay``
    — state is bounded by (arrival rate × delay), not corpus size,
    which is the property that makes this safe on an unbounded 100 TB
    stream where a plain dropDuplicates would accumulate every key
    ever seen. Rows the silver gate would reject anyway (blank key or
    unparseable event time) bypass nothing: they are filtered here for
    state hygiene, exactly matching the streaming row gate
    (plans/silver.py require_ts).
    """
    ts = parse_timestamp_any(ts_col)
    key = F.trim(F.col(key_col))
    return (
        stream.withColumn("__event_ts", ts)
        .filter(F.col("__event_ts").isNotNull() & (F.length(key) > 0))
        .withColumn("__dedupe_key", key)
        .withWatermark("__event_ts", delay)
        .dropDuplicatesWithinWatermark(["__dedupe_key"])
        .drop("__dedupe_key", "__event_ts")
    )


def run_stream_to_versioned_table(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    order_by=None,
    insert_only: bool = False,
):
    """Stream → ACID table: each micro-batch MERGEs into a
    ``VersionedParquetTable`` as ONE atomic manifest commit — the
    Structured-Streaming-into-Iceberg shape (the reference's lakehouse
    tables are Iceberg; its streaming story is epochs committing
    snapshots). Returns the query handle.

    Guarantees stacked from the two layers:
    - exactly-once END STATE: the checkpoint replays a crashed epoch,
      and the keyed merge is idempotent, so a replayed batch lands the
      same rows (no duplicates, no loss);
    - readers NEVER see a torn epoch: the batch's files publish via the
      manifest's create-exclusive link or not at all;
    - every epoch is a retained version: ``history()`` is the stream's
      commit log, ``read(version=N)`` reproduces any past state, and
      ``changes(a, b)`` feeds downstream incrementals without
      re-scanning the table.

    Empty epochs commit nothing (no version churn from idle triggers).
    ``partition_by`` applies to the CREATING commit only; later epochs
    inherit the committed spec (merge() rejects conflicts).
    """
    spark = stream.sparkSession
    table = VersionedParquetTable(spark, table_path)

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        with pipeline_metrics("stream_versioned_merge"):
            table.merge(
                batch_df,
                keys,
                partition_by=None if table.exists() else partition_by,
                order_by=order_by,
                insert_only=insert_only,
            )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_bronze_to_silver_stream(
    spark: SparkSession,
    bronze_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = NEWS_SCHEMA,
    max_files_per_trigger: int = 500,
    await_termination: bool = False,
    dedupe_within_watermark: str | None = None,
):
    """Start the streaming bronze→silver job; returns the query handle.

    ``dedupe_within_watermark`` (e.g. "1 hour"): drop cross-micro-batch
    duplicate articles (same trimmed url) whose event times fall within
    the watermark delay, before the silver derivations run.

    Callers in tests use query.processAllAvailable() to drive it
    synchronously over fixture drops.
    """
    stream = read_bronze_stream(spark, bronze_dir, schema, max_files_per_trigger)
    if dedupe_within_watermark is not None:
        stream = dedupe_bronze_stream(stream, dedupe_within_watermark)
    query = (
        stream.writeStream.foreachBatch(
            lambda df, _epoch: upsert_silver_batch(spark, df, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def run_semantic_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = 4,
    threshold: float = 0.95,
    await_termination: bool = False,
):
    """Streaming SemDeDup ingest: each micro-batch of embeddings is
    classified against the persisted bucket-partitioned index and only
    admitted (semantically novel) vectors are committed — exactly-once
    from the checkpoint plus the MERGE's key idempotency, the same
    contract as the bronze→silver stream.

    Per epoch this is `operators.similarity.semantic_index_ingest`: the
    index read prunes to batch-hit bucket partitions at the manifest
    level, so state never grows with corpus size on the streaming path
    either — the stream's own state is the file-source log only.
    Returns the query handle; tests drive it with processAllAvailable().
    """
    from news_lakehouse_spark.operators.similarity import semantic_index_ingest

    sch = schema or T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    index = VersionedParquetTable(spark, index_path)

    def ingest(df, _epoch):
        if df.isEmpty():
            return
        semantic_index_ingest(
            index,
            df,
            id_col,
            vec_col,
            dim=dim,
            planes=planes,
            threshold=threshold,
        )

    query = (
        spark.readStream.schema(sch)
        .json(source_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
