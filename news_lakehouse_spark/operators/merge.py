"""MERGE / upsert semantics without a lakehouse jar.

Reference parity (SURVEY §2.1 S8-S10): Iceberg `MERGE INTO` in three
flavors — update+insert (silver entity/fact tables,
gcs_bronze_to_silver.py:457-475), insert-only (link tables, :476-490),
and column-explicit gold merges (gcs_silver_to_gold.py:373-824).

Plain Spark-on-parquet has no MERGE, so we express the same semantics
relationally:

  upsert(target, source, keys)  =  source ∪ (target ⟕̸ source)
                                 =  source.unionByName(target.join(source, keys, 'left_anti'))

i.e. every source row wins (the UPDATE SET * branch), target rows
without a source match survive, and new source keys are inserts. The
insert-only flavor is the dual: target ∪ (source anti target).

The MERGE_CARDINALITY_VIOLATION guard the reference implements with
dropna+dropDuplicates before every merge (b2s:426-446) is enforced here
by deduping the source on the merge keys first.

These are pure DataFrame -> DataFrame rewrites. Materializing one is
the table layer's job: ``VersionedParquetTable.merge``
(sources/transaction.py) applies them to the affected files only and
publishes the result as one atomic manifest commit. With small deltas
Catalyst broadcasts the source side of the anti join automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _guard_source(source: DataFrame, keys: list[str], order_by: list[Column] | None) -> DataFrame:
    """Key-completeness + cardinality guard (reference b2s:426-446)."""
    guarded = source.dropna(subset=keys)
    if order_by:
        from news_lakehouse_spark.operators.windows import dedupe_latest

        return dedupe_latest(guarded, keys, order_by)
    return guarded.dropDuplicates(keys)


def _check_add_column_only(target: DataFrame, source: DataFrame) -> None:
    """Schema evolution is add-column ONLY: every target column must be
    present in the source. unionByName(allowMissingColumns=True) would
    otherwise forgive a source missing a target column (typo / rename)
    by silently null-filling it on every matched row — data loss on
    update once the result is materialized."""
    missing = [c for c in target.columns if c not in set(source.columns)]
    if missing:
        raise ValueError(
            "evolve_schema=True only ADDS source columns; the source is "
            f"missing target column(s) {missing} — a merge would "
            "null-fill them on every updated row. Rename/restore the "
            "columns or drop them from the target explicitly."
        )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT * (S8).

    ``evolve_schema``: columns new in the source are ADDED to the
    result (existing rows null-filled) instead of dropped — the
    add-column half of Iceberg schema evolution. Off by default so a
    malformed source cannot silently widen a table.
    """
    if evolve_schema:
        _check_add_column_only(target, source)
        src = _guard_source(source, keys, order_by)
        untouched = target.join(src.select(*keys), on=keys, how="left_anti")
        return src.unionByName(untouched, allowMissingColumns=True)
    src = _guard_source(source.select(*target.columns), keys, order_by)
    untouched = target.join(src.select(*keys), on=keys, how="left_anti")
    return src.unionByName(untouched)


def merge_insert_only(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED INSERT * — link-table flavor (S9)."""
    if evolve_schema:
        _check_add_column_only(target, source)
        src = _guard_source(source, keys, None)
        new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
        return target.unionByName(new_rows, allowMissingColumns=True)
    src = _guard_source(source.select(*target.columns), keys, None)
    new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(new_rows)


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    attrs: list[str],
    effective_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (extension; absent in the
    reference, whose gold dims are overwrite-style MERGEs —
    gcs_silver_to_gold.py:373-541).

    ``target`` is versioned: ``keys + attrs + valid_from + valid_to +
    is_current``. ``source`` is a change batch: ``keys + attrs +
    effective_col``. For each key, if any attribute differs from the
    current version (null-safe), the current row is closed
    (``valid_to = effective``, ``is_current = false``) and a new open
    version is inserted; unchanged matches and unmatched target rows
    pass through; unseen keys insert a first version. History rows
    (``is_current = false``) never rejoin — they union straight through.

    Join shape chosen for 100 TB: a *left-outer* join (current slice ⟕
    change batch) plus a *left-anti* probe for unseen keys — never a
    full-outer, which Spark cannot broadcast (it would force a
    sort-merge join shuffling the full dimension). With a small change
    batch both joins broadcast the batch and the current slice streams
    through map-side with zero shuffle; both output rows of a changed
    key come from `inline`-ing a per-row struct array, so the joined
    plan is traversed once.
    """
    cur = target.filter(F.col(current_col))
    hist = target.filter(~F.col(current_col))
    src = _guard_source(
        source.select(*keys, *attrs, effective_col),
        keys,
        [F.col(effective_col).desc()],
    )

    out_cols = [*keys, *attrs, valid_from_col, valid_to_col, current_col]
    vf_type = dict(cur.dtypes)[valid_from_col]
    vt_type = dict(cur.dtypes)[valid_to_col]

    j = cur.alias("t").join(src.alias("s"), on=keys, how="left")
    s_exists = F.col(f"s.{effective_col}").isNotNull()
    attr_diff = ~F.lit(True)
    for a in attrs:
        attr_diff = attr_diff | ~F.col(f"t.{a}").eqNullSafe(F.col(f"s.{a}"))
    changed = s_exists & attr_diff

    old_row = F.struct(
        *[F.col(f"t.{a}").alias(a) for a in attrs],
        F.col(f"t.{valid_from_col}").alias(valid_from_col),
        F.when(changed, F.col(f"s.{effective_col}").cast(vt_type))
        .otherwise(F.col(f"t.{valid_to_col}"))
        .alias(valid_to_col),
        (~changed).alias(current_col),
    )
    new_row = F.struct(
        *[F.col(f"s.{a}").alias(a) for a in attrs],
        F.col(f"s.{effective_col}").cast(vf_type).alias(valid_from_col),
        F.lit(None).cast(vt_type).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    existing = j.select(
        *keys, F.inline(F.when(changed, F.array(old_row, new_row)).otherwise(F.array(old_row)))
    )

    first_version = src.join(cur.select(*keys), on=keys, how="left_anti").select(
        *keys,
        *attrs,
        F.col(effective_col).cast(vf_type).alias(valid_from_col),
        F.lit(None).cast(vt_type).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    return (
        hist.select(*out_cols)
        .unionByName(existing.select(*out_cols))
        .unionByName(first_version)
    )
