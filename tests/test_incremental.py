"""Incremental gold refresh == full rebuild (the equivalence contract)."""
from __future__ import annotations

from pyspark.sql import functions as F

from news_lakehouse_spark.plans.incremental import refresh_gold_incremental
from news_lakehouse_spark.plans.gold import build_gold_dimensions, build_gold_facts
from news_lakehouse_spark.plans.silver import build_silver_tables
from news_lakehouse_spark.schemas import NEWS_SCHEMA
from news_lakehouse_spark.sources.transaction import VersionedParquetTable
from tests.test_pipeline import make_raw_rows


def _df_as_set(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_refresh_matches_full_rebuild(spark, tmp_path):
    rows = make_raw_rows(n=120, seed=11)
    b1, b2 = rows[:80], rows[60:]  # overlapping: 20 articles updated in b2
    gold_root = str(tmp_path / "gold")

    for batch in (b1, b2):
        raw = spark.createDataFrame(batch, NEWS_SCHEMA)
        delta = build_silver_tables(raw, require_ts=False)
        refresh_gold_incremental(spark, delta, gold_root)

    # expected state: MERGE source-wins per article — b1 rows not
    # superseded by b2, plus all of b2
    b2_urls = {r["url"] for r in b2}
    survivors = [r for r in b1 if r["url"] not in b2_urls] + b2
    full_silver = build_silver_tables(
        spark.createDataFrame(survivors, NEWS_SCHEMA), require_ts=False
    )
    expect_facts = build_gold_facts(full_silver)
    expect_dims = build_gold_dimensions(full_silver)

    for name, exp in expect_facts.items():
        got = VersionedParquetTable(spark, f"{gold_root}/{name}").read()
        assert sorted(got.columns) == sorted(exp.columns), name
        assert _df_as_set(got.select(*sorted(got.columns))) == _df_as_set(
            exp.select(*sorted(exp.columns))
        ), name

    for name, exp in expect_dims.items():
        got = VersionedParquetTable(spark, f"{gold_root}/{name}").read()
        assert got.count() == got.select(*[got.columns[0]]).distinct().count(), name
        # every expected member exists (incremental may keep stale
        # members an article no longer references — dims are append-ish)
        key = exp.columns[0]
        missing = exp.select(key).exceptAll(got.select(key)).count()
        assert missing == 0, name
