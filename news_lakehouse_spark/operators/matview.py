"""Incremental materialized aggregate views over versioned tables.

The reference rebuilds its serving aggregates from the full corpus
every run (gcs_silver_to_gold.py full refresh; gold_to_bigquery.py
re-exports the result). At 100 TB a nightly ``GROUP BY`` over the
whole table costs O(corpus) no matter how little changed. This module
is the classic incremental-view-maintenance answer on top of the
table layer's change feed: a ``GROUP BY`` view whose refresh reads
ONLY the churn — ``VersionedParquetTable.changes()`` between the last
synced source version and now — and merges per-group deltas, so
refresh cost scales with the delta, not the table.

Maintained aggregates and their maintenance rule under an
insert/delete feed (an update is delete+insert of the same key):

- ``cnt``            count(*): += sign
- ``sum_<c>``        sum(c):   += sign * c (NULL iff no non-null
                     values remain, tracked by ``nn_<c>`` =
                     count(c) so SQL NULL semantics survive deletes)
- ``avg_<c>``        derived on read as sum/nn — never stored
- ``min_<c>/max_<c>``: inserts fold in with least/greatest; a DELETE
  can remove the current extremum, which no per-group scalar can
  undo, so groups that saw a delete are re-scanned EXACTLY — a
  semi-join-pruned scan of just those groups of the source (the
  textbook "rescan affected groups" rule). Insert-only feeds never
  rescan.

Crash safety: the source version a refresh incorporated is recorded
in the SAME commit via manifest ``properties`` (snapshot-summary
analog), so a retry after a crash re-reads the feed against the view
state that already includes it — it recomputes the identical rows
(state-based upsert, not blind delta add) and the merge is
idempotent. The view is itself a ``VersionedParquetTable``: it gets
time travel, tags, and its own change feed for free (a downstream
dashboard can incrementally follow the VIEW's changes).

Groups whose count reaches zero stay as ``cnt = 0`` rows (filtered by
``read()``) rather than being deleted — keeping each refresh a single
atomic commit; ``compact()`` on the underlying table rewrites them
away whenever maintenance runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_lakehouse_spark.sources.transaction import (
    VersionedParquetTable,
    _materialize_churn,
)

_SYNC_KEY = "ivm_synced_to"
_SRC_KEY = "ivm_source"


class IncrementalAggView:
    """A maintained ``GROUP BY`` aggregate over a source
    ``VersionedParquetTable``, refreshed in O(churn) from its change
    feed. ``group_by`` columns must be non-null (the table layer's
    merge drops null-keyed rows — pre-coalesce sentinel values if a
    null group is meaningful)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_by: list[str],
        sum_cols: list[str] | None = None,
        minmax_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.group_by = list(group_by)
        self.sum_cols = list(sum_cols or [])
        self.minmax_cols = list(minmax_cols or [])
        self.partition_by = list(partition_by) if partition_by else None
        self.table = VersionedParquetTable(spark, path)

    # --- state schema ----------------------------------------------------

    def _aggregate(self, df: DataFrame) -> DataFrame:
        """Full-build state: one exact groupBy (used once, at init)."""
        aggs = [F.count(F.lit(1)).alias("cnt")]
        for c in self.sum_cols:
            aggs.append(F.sum(c).alias(f"sum_{c}"))
            aggs.append(F.count(c).alias(f"nn_{c}"))
        for c in self.minmax_cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        return df.groupBy(*self.group_by).agg(*aggs)

    def synced_version(self) -> int | None:
        """Source version the view currently reflects (None = never
        built)."""
        if self.table.latest_version() is None:
            return None
        return int(self.table.snapshot_properties()[_SYNC_KEY])

    # --- refresh ---------------------------------------------------------

    def refresh(self, source: VersionedParquetTable) -> int:
        """Bring the view up to the source's latest version; returns
        the source version now reflected. First call full-builds; later
        calls read only ``source.changes(last_synced, now)``."""
        src_v = source.latest_version()
        if src_v is None:
            raise FileNotFoundError(f"source {source.path} has no commits")
        last = self.synced_version()
        props = {_SYNC_KEY: src_v, _SRC_KEY: source.path}
        if last is None:
            self.table.write(
                self._aggregate(source.read(src_v)),
                partition_by=self.partition_by,
                operation="ivm-build",
                properties=props,
            )
            return src_v
        if src_v <= last:
            return last
        # The feed plan (per-commit manifest diffs + exceptAll) appears
        # twice in the delta plan (signed agg + delete-group rescan
        # semi-join) — materialize the O(churn) feed so neither branch
        # re-derives it from table history (lineage-truncated in local
        # mode, recomputable persist on clusters — see
        # transaction._materialize_churn). merge() materializes the
        # view-sized delta, its source, wherever it reads it twice.
        feed, rel_feed = _materialize_churn(source.changes(last, src_v))
        try:
            self.table.merge(
                self._apply_delta(feed, source, src_v),
                self.group_by,
                properties=props,
            )
        finally:
            rel_feed()
        return src_v

    def _apply_delta(
        self, feed: DataFrame, source: VersionedParquetTable, src_v: int
    ) -> DataFrame:
        """New state rows for every group the feed touches. One
        feed-sized shuffle for the delta agg; the old state joins on
        the group key (view-sized, i.e. tiny next to the source); the
        min/max rescan scans only delete-affected groups of the
        source via a semi join the planner can prune with."""
        g = self.group_by
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        aggs = [F.sum(sign).alias("_dcnt")]
        for c in self.sum_cols:
            aggs.append(F.sum(sign * F.col(c)).alias(f"_dsum_{c}"))
            aggs.append(
                F.sum(
                    sign * F.col(c).isNotNull().cast("int")
                ).alias(f"_dnn_{c}")
            )
        ins = F.col("_change_type") == "insert"
        for c in self.minmax_cols:
            aggs.append(F.min(F.when(ins, F.col(c))).alias(f"_imin_{c}"))
            aggs.append(F.max(F.when(ins, F.col(c))).alias(f"_imax_{c}"))
        if self.minmax_cols:
            aggs.append(
                F.max((~ins).cast("int")).alias("_had_del")
            )
        delta = feed.groupBy(*g).agg(*aggs)

        old = self.table.read()
        joined = delta.join(old, on=g, how="left")

        if self.minmax_cols:
            del_groups = (
                feed.filter(~ins).select(*g).distinct()
            )
            raggs = []
            for c in self.minmax_cols:
                raggs.append(F.min(c).alias(f"_rmin_{c}"))
                raggs.append(F.max(c).alias(f"_rmax_{c}"))
            rescan = (
                source.read(src_v)
                .join(del_groups, on=g, how="left_semi")
                .groupBy(*g)
                .agg(*raggs)
            )
            joined = joined.join(rescan, on=g, how="left")

        cnt_new = F.coalesce(F.col("cnt"), F.lit(0)) + F.col("_dcnt")
        out = [F.col(c) for c in g] + [cnt_new.alias("cnt")]
        alive = cnt_new > 0
        for c in self.sum_cols:
            nn_new = F.coalesce(F.col(f"nn_{c}"), F.lit(0)) + F.col(
                f"_dnn_{c}"
            )
            s = F.coalesce(F.col(f"sum_{c}"), F.lit(0)) + F.coalesce(
                F.col(f"_dsum_{c}"), F.lit(0)
            )
            out.append(F.when(nn_new > 0, s).alias(f"sum_{c}"))
            out.append(F.when(alive, nn_new).otherwise(F.lit(0)).alias(f"nn_{c}"))
        for c in self.minmax_cols:
            exact = F.col("_had_del") == 1
            mn = F.when(exact, F.col(f"_rmin_{c}")).otherwise(
                F.least(F.col(f"min_{c}"), F.col(f"_imin_{c}"))
            )
            mx = F.when(exact, F.col(f"_rmax_{c}")).otherwise(
                F.greatest(F.col(f"max_{c}"), F.col(f"_imax_{c}"))
            )
            out.append(F.when(alive, mn).alias(f"min_{c}"))
            out.append(F.when(alive, mx).alias(f"max_{c}"))
        return joined.select(*out)

    # --- reads -----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Live view contents: group keys, ``cnt``, ``sum_*``/``avg_*``
        (SQL null semantics), ``min_*``/``max_*``."""
        df = self.table.read(version).filter(F.col("cnt") > 0)
        cols = [F.col(c) for c in self.group_by] + [F.col("cnt")]
        for c in self.sum_cols:
            cols.append(F.col(f"sum_{c}"))
            cols.append(
                F.when(
                    F.col(f"nn_{c}") > 0,
                    F.col(f"sum_{c}") / F.col(f"nn_{c}"),
                ).alias(f"avg_{c}")
            )
        for c in self.minmax_cols:
            cols.append(F.col(f"min_{c}"))
            cols.append(F.col(f"max_{c}"))
        return df.select(*cols)


_SYNC_L = "ivm_synced_left"
_SYNC_R = "ivm_synced_right"


class IncrementalJoinAggView:
    """A maintained ``GROUP BY`` aggregate over an INNER JOIN of two
    source ``VersionedParquetTable``s, refreshed in O(churn) from BOTH
    change feeds — the textbook join delta rule on the table layer's
    time travel:

        Δ(L ⋈ R) = ΔL ⋈ R_old  ∪  L_new ⋈ ΔR        (signed)

    where ``R_old`` is the right table AT the last synced version and
    ``L_new`` at the new one — both exact snapshots via time travel,
    so the identity is algebraic, not approximate. Each joined delta
    row carries the sign of its feed row (+1 insert / −1 delete;
    updates arrive as the pair), and the per-group fold is the same
    count/sum/avg maintenance as :class:`IncrementalAggView`.

    Scale design: the expensive terms are churn ⋈ snapshot. The
    snapshot side is scan-PRUNED at the manifest level before the join
    — the churn's distinct join keys (collected driver-side, capped at
    ``max_pushdown_keys``) become an ``IN`` predicate for
    ``read(predicate=…)``, so column stats and bloom sidecars on the
    join key drop non-matching files of a 100 TB snapshot before Spark
    lists them; past the cap the predicate is skipped and the join is
    a plain churn-vs-snapshot hash join (churn side broadcast by AQE
    when small). Everything else is view-sized.

    Crash safety: both synced versions land in the view commit's
    properties; a replayed refresh recomputes the identical state rows
    (state-based upsert) and the merge is idempotent. Retention: both
    sources must retain the synced-to versions (same vacuum contract
    as ``sync_from``). Non-join-key column names must be distinct
    across the two sources (checked). ``min/max`` over a join would
    need a joined rescan of delete-affected groups — count/sum/avg
    only, by design.

    No reference counterpart: the reference rebuilds its joined gold
    aggregates from full silver scans every run
    (gcs_silver_to_gold.py:347-352); this is that job as an O(churn)
    maintained view.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        join_keys: list[str],
        group_by: list[str],
        sum_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        max_pushdown_keys: int = 5000,
    ) -> None:
        self.spark = spark
        self.join_keys = list(join_keys)
        self.group_by = list(group_by)
        self.sum_cols = list(sum_cols or [])
        self.partition_by = list(partition_by) if partition_by else None
        self.max_pushdown_keys = max_pushdown_keys
        self.table = VersionedParquetTable(spark, path)

    # --- state -------------------------------------------------------

    def _aggregate(self, joined: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("cnt")]
        for c in self.sum_cols:
            aggs.append(F.sum(c).alias(f"sum_{c}"))
            aggs.append(F.count(c).alias(f"nn_{c}"))
        return joined.groupBy(*self.group_by).agg(*aggs)

    def synced_versions(self) -> tuple[int, int] | None:
        if self.table.latest_version() is None:
            return None
        props = self.table.snapshot_properties()
        return int(props[_SYNC_L]), int(props[_SYNC_R])

    def _pruned_read(
        self, table: VersionedParquetTable, version: int, keys_df: DataFrame
    ) -> DataFrame:
        """Snapshot read with the churn's join keys pushed into scan
        planning when small enough to collect."""
        jk = self.join_keys
        keys = keys_df.select(*jk).distinct().limit(
            self.max_pushdown_keys + 1
        ).collect()
        if 0 < len(keys) <= self.max_pushdown_keys and len(jk) == 1:
            vals = [r[0] for r in keys if r[0] is not None]
            if vals:
                return table.read(
                    version, predicate=[(jk[0], "in", vals)]
                )
        return table.read(version)

    # --- refresh -----------------------------------------------------

    def refresh(
        self, left: VersionedParquetTable, right: VersionedParquetTable
    ) -> tuple[int, int]:
        """Bring the view to (left.latest, right.latest); returns the
        version pair now reflected. First call full-builds."""
        new_l, new_r = left.latest_version(), right.latest_version()
        if new_l is None or new_r is None:
            raise FileNotFoundError("both sources need at least one commit")
        jk = set(self.join_keys)
        l_cols = set(left.read(new_l).columns) - jk
        r_cols = set(right.read(new_r).columns) - jk
        clash = l_cols & r_cols
        if clash:
            raise ValueError(
                f"non-join-key columns {sorted(clash)} exist on both "
                "sides; rename before joining"
            )
        props = {
            _SYNC_L: new_l, _SYNC_R: new_r,
            _SRC_KEY: f"{left.path} JOIN {right.path}",
        }
        synced = self.synced_versions()
        if synced is None:
            joined = left.read(new_l).join(
                right.read(new_r), on=self.join_keys, how="inner"
            )
            self.table.write(
                self._aggregate(joined),
                partition_by=self.partition_by,
                operation="ivm-build",
                properties=props,
            )
            return new_l, new_r
        last_l, last_r = synced
        if new_l <= last_l and new_r <= last_r:
            return synced
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        parts = []
        rel_l = rel_r = None
        if new_l > last_l:
            dl, rel_l = _materialize_churn(
                left.changes(last_l, new_l).withColumn("_sign", sign)
            )
            parts.append(
                dl.join(
                    self._pruned_read(right, last_r, dl),
                    on=self.join_keys,
                    how="inner",
                )
            )
        else:
            dl = None
        if new_r > last_r:
            dr, rel_r = _materialize_churn(
                right.changes(last_r, new_r).withColumn("_sign", sign)
            )
            parts.append(
                self._pruned_read(left, new_l, dr).join(
                    dr, on=self.join_keys, how="inner"
                )
            )
        else:
            dr = None
        keep = self.group_by + self.sum_cols + ["_sign"]
        delta = parts[0].select(*keep)
        for p in parts[1:]:
            delta = delta.unionByName(p.select(*keep))
        try:
            aggs = [F.sum("_sign").alias("_dcnt")]
            for c in self.sum_cols:
                aggs.append(
                    F.sum(F.col("_sign") * F.col(c)).alias(f"_dsum_{c}")
                )
                aggs.append(
                    F.sum(
                        F.col("_sign") * F.col(c).isNotNull().cast("int")
                    ).alias(f"_dnn_{c}")
                )
            d = delta.groupBy(*self.group_by).agg(*aggs)
            old = self.table.read()
            joined = d.join(old, on=self.group_by, how="left")
            cnt_new = F.coalesce(F.col("cnt"), F.lit(0)) + F.col("_dcnt")
            out = [F.col(c) for c in self.group_by] + [cnt_new.alias("cnt")]
            alive = cnt_new > 0
            for c in self.sum_cols:
                nn = F.coalesce(F.col(f"nn_{c}"), F.lit(0)) + F.col(
                    f"_dnn_{c}"
                )
                s = F.coalesce(F.col(f"sum_{c}"), F.lit(0)) + F.coalesce(
                    F.col(f"_dsum_{c}"), F.lit(0)
                )
                out.append(F.when(nn > 0, s).alias(f"sum_{c}"))
                out.append(
                    F.when(alive, nn).otherwise(F.lit(0)).alias(f"nn_{c}")
                )
            # merge() materializes its source wherever it reads it twice
            self.table.merge(joined.select(*out), self.group_by, properties=props)
        finally:
            if rel_l is not None:
                rel_l()
            if rel_r is not None:
                rel_r()
        return new_l, new_r

    # --- reads -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Live view: group keys, ``cnt``, ``sum_*``/``avg_*``."""
        df = self.table.read(version).filter(F.col("cnt") > 0)
        cols = [F.col(c) for c in self.group_by] + [F.col("cnt")]
        for c in self.sum_cols:
            cols.append(F.col(f"sum_{c}"))
            cols.append(
                F.when(
                    F.col(f"nn_{c}") > 0,
                    F.col(f"sum_{c}") / F.col(f"nn_{c}"),
                ).alias(f"avg_{c}")
            )
        return df.select(*cols)
