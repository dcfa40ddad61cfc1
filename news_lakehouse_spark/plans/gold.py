"""Silver → gold Kimball star schema (reference gcs_silver_to_gold.py).

7 dimensions + 5 facts (DDL s2g:150-322):

dims : dim_date, dim_author, dim_topic, dim_sub_topic, dim_keyword,
       dim_reference_source, dim_interaction_type
facts: fact_article_publication, fact_article_keyword,
       fact_article_reference, fact_top_comment_activity,
       fact_top_comment_interaction_detail

Surrogate keys are xxhash64 of the natural key (s2g:400,422,...); the
"full-safe" variant maps NULL/blank to -1 and seeds UNKNOWN rows
(gcs_silver_to_gold_1.py:99-103,301-423). Date keys are y*10000+m*100+d.

Scale notes: dims are tiny relative to facts — every dim enrichment
join is broadcast; fact assembly joins shuffle on ArticleID only where
pre-aggregated counts require it (J2), and those aggregates are
map-side-combined groupBy counts. Every gold table, facts included, is
written unpartitioned: its manifest carries ``partition_by: []``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_lakehouse_spark.functions.keys import date_key, surrogate_key_safe
from news_lakehouse_spark.functions.text import read_time_minutes, word_count

GOLD_DIMS = (
    "dim_date",
    "dim_author",
    "dim_topic",
    "dim_sub_topic",
    "dim_keyword",
    "dim_reference_source",
    "dim_interaction_type",
)
GOLD_FACTS = (
    "fact_article_publication",
    "fact_article_keyword",
    "fact_article_reference",
    "fact_top_comment_activity",
    "fact_top_comment_interaction_detail",
)


# --- dimensions -----------------------------------------------------------


def make_dim_date(articles: DataFrame, date_col: str = "date") -> DataFrame:
    """Calendar dimension from distinct article dates (s2g:355-371)."""
    d = F.col("FullDateAlternateKey")
    return (
        articles.select(F.col(date_col).alias("FullDateAlternateKey"))
        .filter(d.isNotNull())
        .distinct()
        .select(
            date_key(d).alias("DateKey"),
            "FullDateAlternateKey",
            F.date_format(d, "EEEE").alias("DayNameOfWeek"),
            F.dayofmonth(d).alias("DayNumberOfMonth"),
            F.dayofyear(d).alias("DayNumberOfYear"),
            F.date_format(d, "MMMM").alias("MonthName"),
            F.month(d).alias("MonthNumberOfYear"),
            F.quarter(d).alias("CalendarQuarter"),
            F.year(d).alias("CalendarYear"),
        )
    )


def make_dim_author(authors: DataFrame, articles: DataFrame) -> DataFrame:
    """dim_author sourced from authors ∪ articles' author ids (U1,
    s2g1:499-505): unionByName with allowMissingColumns."""
    from_articles = (
        articles.select(F.col("AuthorID").alias("Author_NK"))
        .filter(F.col("Author_NK").isNotNull())
    )
    from_authors = authors.select(
        F.col("AuthorID").alias("Author_NK"), F.col("AuthorName")
    )
    merged = from_authors.unionByName(from_articles, allowMissingColumns=True)
    # one row per NK; prefer a non-null name (deterministic via max)
    dedup = merged.groupBy("Author_NK").agg(F.max("AuthorName").alias("AuthorName"))
    return dedup.select(
        surrogate_key_safe("Author_NK").alias("AuthorKey"), "Author_NK", "AuthorName"
    )


def make_dim_topic(topics: DataFrame) -> DataFrame:
    return topics.select(
        surrogate_key_safe("TopicID").alias("TopicKey"),
        F.col("TopicID").alias("Topic_NK"),
        "TopicName",
    )


def make_dim_sub_topic(subtopics: DataFrame, topics: DataFrame) -> DataFrame:
    """Left join to fetch the parent topic name (J1, s2g:442-445)."""
    joined = subtopics.join(
        F.broadcast(topics.select("TopicID", F.col("TopicName").alias("ParentTopicName"))),
        "TopicID",
        "left",
    )
    return joined.select(
        surrogate_key_safe("SubTopicID").alias("SubTopicKey"),
        F.col("SubTopicID").alias("SubTopic_NK"),
        "SubTopicName",
        surrogate_key_safe("TopicID").alias("ParentTopicKey"),
        "ParentTopicName",
    )


def make_dim_keyword(keywords: DataFrame) -> DataFrame:
    return keywords.select(
        surrogate_key_safe("KeywordID").alias("KeywordKey"),
        F.col("KeywordID").alias("Keyword_NK"),
        "KeywordText",
    )


def make_dim_reference_source(references_table: DataFrame) -> DataFrame:
    return references_table.select(
        surrogate_key_safe("ReferenceID").alias("ReferenceSourceKey"),
        F.col("ReferenceID").alias("ReferenceSource_NK"),
        "ReferenceText",
    )


def make_dim_interaction_type(comment_interactions: DataFrame) -> DataFrame:
    """Key = xxhash64(lower(trim(type))) (s2g:520,788)."""
    t = F.lower(F.trim(F.col("InteractionType")))
    return (
        comment_interactions.select(t.alias("InteractionTypeName"))
        .filter(F.col("InteractionTypeName").isNotNull())
        .distinct()
        .select(
            surrogate_key_safe("InteractionTypeName").alias("InteractionTypeKey"),
            "InteractionTypeName",
        )
    )


def unknown_dimension_rows(spark, dims: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Seed the -1 UNKNOWN member into each dim (s2g1:301-423)."""
    out = {}
    for name, df in dims.items():
        if name == "dim_date":
            out[name] = df
            continue
        from pyspark.sql import types as T

        nullable = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in df.schema.fields]
        )
        unknown = spark.createDataFrame(
            [tuple([-1] + [None] * (len(df.columns) - 1))], nullable
        )
        out[name] = unknown.unionByName(df)
    return out


# --- facts ----------------------------------------------------------------


def make_fact_article_publication(
    articles: DataFrame,
    article_keywords: DataFrame,
    article_references: DataFrame,
) -> DataFrame:
    """Grain: one row per article (s2g:548-639).

    Measures: PublishedArticleCount=1, OpinionCount, WordCount,
    CharacterCount, EstimatedReadTimeMinutes, KeywordCount,
    ReferenceCount (pre-aggregated counts left-joined — J2/A1).
    """
    kw_cnt = article_keywords.groupBy("ArticleID").agg(
        F.count("*").alias("KeywordCount")
    )
    ref_cnt = article_references.groupBy("ArticleID").agg(
        F.count("*").alias("ReferenceCount")
    )
    a = articles.join(kw_cnt, "ArticleID", "left").join(ref_cnt, "ArticleID", "left")
    return a.select(
        surrogate_key_safe("ArticleID").alias("ArticleKey"),
        F.col("ArticleID").alias("Article_NK"),
        date_key("date").alias("PublicationDateKey"),
        F.coalesce(F.col("hour"), F.lit(-1)).alias("PublicationHour"),
        surrogate_key_safe("AuthorID").alias("AuthorKey"),
        surrogate_key_safe("TopicID").alias("TopicKey"),
        surrogate_key_safe("SubTopicID").alias("SubTopicKey"),
        F.lit(1).alias("PublishedArticleCount"),
        F.coalesce(F.col("OpinionCount"), F.lit(0)).alias("OpinionCount"),
        word_count("MainContent").alias("WordCount"),
        F.length("MainContent").alias("CharacterCount"),
        read_time_minutes("MainContent").alias("EstimatedReadTimeMinutes"),
        F.coalesce(F.col("KeywordCount"), F.lit(0)).alias("KeywordCount"),
        F.coalesce(F.col("ReferenceCount"), F.lit(0)).alias("ReferenceCount"),
    ).dropDuplicates(["ArticleKey"])


def make_fact_article_keyword(
    article_keywords: DataFrame, articles: DataFrame
) -> DataFrame:
    """Grain: (article, keyword); inner join to articles for the date
    key (J3, s2g:643-651)."""
    j = article_keywords.join(
        articles.select("ArticleID", "date"), "ArticleID", "inner"
    )
    return j.select(
        surrogate_key_safe("ArticleID").alias("ArticleKey"),
        surrogate_key_safe("KeywordID").alias("KeywordKey"),
        date_key("date").alias("PublicationDateKey"),
        F.lit(1).alias("ArticleKeywordCount"),
    ).dropDuplicates(["ArticleKey", "KeywordKey"])


def make_fact_article_reference(
    article_references: DataFrame, articles: DataFrame
) -> DataFrame:
    j = article_references.join(
        articles.select("ArticleID", "date"), "ArticleID", "inner"
    )
    return j.select(
        surrogate_key_safe("ArticleID").alias("ArticleKey"),
        surrogate_key_safe("ReferenceID").alias("ReferenceSourceKey"),
        date_key("date").alias("PublicationDateKey"),
        F.lit(1).alias("ArticleReferenceCount"),
    ).dropDuplicates(["ArticleKey", "ReferenceSourceKey"])


def make_fact_top_comment_activity(
    comments: DataFrame, articles: DataFrame
) -> DataFrame:
    """Grain: one row per top comment (J3, s2g:681-690)."""
    j = comments.join(articles.select("ArticleID", "date"), "ArticleID", "inner")
    return j.select(
        surrogate_key_safe("CommentID").alias("CommentKey"),
        F.col("CommentID").alias("Comment_NK"),
        surrogate_key_safe("ArticleID").alias("ArticleKey"),
        date_key("date").alias("ArticlePublicationDateKey"),
        F.lit(1).alias("IsTopComment"),
        F.coalesce(F.col("TotalLikes"), F.lit(0)).alias("TotalLikes"),
    ).dropDuplicates(["CommentKey"])


def make_fact_top_comment_interaction_detail(
    comment_interactions: DataFrame,
    comments: DataFrame,
    articles: DataFrame,
) -> DataFrame:
    """3-way join: interactions ⨝ comments ⨝ articles (J4, s2g:773-791)."""
    j = (
        comment_interactions.join(
            comments.select("CommentID", "ArticleID"), "CommentID", "inner"
        )
        .join(articles.select("ArticleID", "date"), "ArticleID", "inner")
    )
    itype = F.lower(F.trim(F.col("InteractionType")))
    return j.select(
        surrogate_key_safe("CommentInteractionID").alias("CommentInteractionKey"),
        surrogate_key_safe("CommentID").alias("CommentKey"),
        surrogate_key_safe("ArticleID").alias("ArticleKey"),
        surrogate_key_safe(itype).alias("InteractionTypeKey"),
        date_key("date").alias("ArticlePublicationDateKey"),
        F.coalesce(F.col("InteractionCount"), F.lit(0)).alias("InteractionCount"),
    ).dropDuplicates(["CommentInteractionKey"])


def write_gold_tables(
    spark,
    silver: dict[str, DataFrame],
    gold_root: str,
) -> dict[str, int]:
    """Batch full rebuild of the star schema to parquet — the batch
    analog of the reference's silver→gold job (gcs_silver_to_gold.py),
    with its per-ETL metrics wrapper (airflow/config/
    metrics_utils.py:9-55): one timed duration/rows/status record per
    gold table plus one for the whole job. Each table is a
    ``VersionedParquetTable`` and the rebuild lands as one overwrite
    commit, so a crash mid-write leaves the previous snapshot readable.
    Row counts come from a read-back count over the snapshot just
    committed (footer-bounded scan), never a second pass over the
    build plan."""
    from news_lakehouse_spark.metrics import pipeline_metrics
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    written: dict[str, int] = {}
    with pipeline_metrics("write_gold_tables") as whole:
        tables = {**build_gold_dimensions(silver), **build_gold_facts(silver)}
        for name, df in tables.items():
            with pipeline_metrics(f"gold_{name}", table=name) as m:
                table = VersionedParquetTable(spark, f"{gold_root}/{name}")
                table.write(df)
                written[name] = m.records = table.read().count()
        whole.records = sum(written.values())
    return written


def build_gold_dimensions(silver: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "dim_date": make_dim_date(silver["articles"]),
        "dim_author": make_dim_author(silver["authors"], silver["articles"]),
        "dim_topic": make_dim_topic(silver["topics"]),
        "dim_sub_topic": make_dim_sub_topic(silver["subtopics"], silver["topics"]),
        "dim_keyword": make_dim_keyword(silver["keywords"]),
        "dim_reference_source": make_dim_reference_source(silver["references_table"]),
        "dim_interaction_type": make_dim_interaction_type(
            silver["comment_interactions"]
        ),
    }


def build_gold_facts(silver: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "fact_article_publication": make_fact_article_publication(
            silver["articles"], silver["article_keywords"], silver["article_references"]
        ),
        "fact_article_keyword": make_fact_article_keyword(
            silver["article_keywords"], silver["articles"]
        ),
        "fact_article_reference": make_fact_article_reference(
            silver["article_references"], silver["articles"]
        ),
        "fact_top_comment_activity": make_fact_top_comment_activity(
            silver["comments"], silver["articles"]
        ),
        "fact_top_comment_interaction_detail": make_fact_top_comment_interaction_detail(
            silver["comment_interactions"], silver["comments"], silver["articles"]
        ),
    }
