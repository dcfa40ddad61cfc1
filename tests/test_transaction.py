"""Manifest-commit protocol: atomicity, time travel, concurrency, vacuum.

The reference gets these guarantees from Iceberg snapshots
(gcs_bronze_to_silver.py:50,457-475); sources/transaction.py provides
them on plain parquet. The crash-injection test is the core contract:
a writer dying between data-file write and manifest publish must leave
every reader on the previous version, clean.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from news_lakehouse_spark.sources.transaction import (
    _EPOCH_KEYS,
    ConcurrentCommitError,
    VersionedParquetTable,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedParquetTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame([Row(k=k, d=d, v=v) for k, d, v in rows])


def test_create_then_merge_versions(spark, table):
    v1 = table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    assert v1 == 1
    v2 = table.merge(_df(spark, [(2, "b", 99), (3, "a", 30)]), ["k"])
    assert v2 == 2
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 99), (3, "a", 30)}
    # time travel: version 1 unchanged
    assert _rows(table.read(version=1)) == {(1, "a", 10), (2, "b", 20)}
    assert [h["version"] for h in table.history()] == [1, 2]
    assert table.history()[1]["operation"] == "merge"


def test_merge_rejects_conflicting_partition_spec(spark, table):
    """A partition_by that differs from the committed spec would render
    affected-partition fragments that match no old-manifest path —
    every old file would carry over and updated keys would duplicate.
    merge() must refuse instead of silently re-speccing."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"], partition_by=["d"])
    with pytest.raises(ValueError, match="conflicts with the committed"):
        table.merge(_df(spark, [(1, "a", 99)]), ["k"], partition_by=["v"])
    with pytest.raises(ValueError, match="conflicts with the committed"):
        table.merge(_df(spark, [(1, "a", 99)]), ["k"], partition_by=[])
    # restating the committed spec is fine
    table.merge(_df(spark, [(1, "a", 99)]), ["k"], partition_by=["d"])
    assert _rows(table.read()) == {(1, "a", 99)}


def test_partitioned_merge_carries_untouched_files(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        ["k"],
        partition_by=["d"],
    )
    m1 = table._load_manifest(1)
    # touch only partition 'b'
    table.merge(_df(spark, [(4, "b", 40)]), ["k"])
    m2 = table._load_manifest(2)
    carried = set(m1["files"]) & set(m2["files"])
    assert carried, "untouched partitions must carry over by reference"
    assert all("/__p_d=b/" not in f for f in carried)
    assert _rows(table.read()) == {
        (1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "b", 40)
    }
    assert _rows(table.read(version=1)) == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}


def test_partition_move_leaves_no_ghost(spark, table):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"])
    # key 1 moves partition a -> c: old row must not survive in any file
    table.merge(_df(spark, [(1, "c", 11)]), ["k"])
    assert _rows(table.read()) == {(1, "c", 11), (2, "b", 20)}
    m2 = table._load_manifest(2)
    assert all("/__p_d=a/" not in f for f in m2["files"])


def test_versioned_merge_null_partition_move(spark, table):
    """A key moving OUT of the NULL partition leaves no row behind: once
    that partition empties, the new manifest lists no file of it."""
    schema = "k long, d string, v long"
    table.merge(
        spark.createDataFrame([(1, None, 10), (2, "b", 20)], schema),
        ["k"],
        partition_by=["d"],
    )
    null_frag = "/__p_d=__HIVE_DEFAULT_PARTITION__/"
    assert any(null_frag in f for f in table._load_manifest(1)["files"])
    table.merge(spark.createDataFrame([(1, "c", 11)], schema), ["k"])
    # key 1 exists exactly once, in its new partition
    assert _rows(table.read()) == {(1, "c", 11), (2, "b", 20)}
    assert all(null_frag not in f for f in table._load_manifest(2)["files"])


def test_crash_between_data_write_and_publish(spark, table, monkeypatch):
    """Writer dies after step 1 (data files) but before step 3 (manifest
    link): readers stay on the old version; a later merge succeeds and
    never sees the orphan files."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])

    boom = RuntimeError("crash before publish")
    monkeypatch.setattr(
        table, "_publish", lambda manifest: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError, match="crash before publish"):
        table.merge(_df(spark, [(2, "b", 20)]), ["k"], retries=0)
    monkeypatch.undo()

    # old version reads clean, orphan data ignored
    assert table.latest_version() == 1
    assert _rows(table.read()) == {(1, "a", 10)}
    # recovery: the same merge applied again lands as version 2
    table.merge(_df(spark, [(2, "b", 20)]), ["k"])
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}


def test_concurrent_commit_loser_retries_from_winner(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    # simulate a racing writer that lands version 2 mid-flight of ours:
    # pre-publish version 2 via a second handle, then our merge with
    # retries must land at version 3 on top of the winner's rows.
    other = VersionedParquetTable(spark, table.path)
    real_publish = table._publish
    raced = {"done": False}

    def publish_with_race(manifest):
        if not raced["done"]:
            raced["done"] = True
            other.merge(_df(spark, [(5, "z", 50)]), ["k"])
        return real_publish(manifest)

    table._publish = publish_with_race
    try:
        v = table.merge(_df(spark, [(2, "b", 20)]), ["k"])
    finally:
        table._publish = real_publish
    assert v == 3
    assert _rows(table.read()) == {(1, "a", 10), (5, "z", 50), (2, "b", 20)}


def test_concurrent_commit_raises_without_retry(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    man = table._load_manifest(1)
    # occupy version 2 directly
    man2 = dict(man, version=2, parent=1)
    table._publish(man2)
    with pytest.raises(ConcurrentCommitError):
        table._publish(dict(man, version=2, parent=1))


def test_insert_only_merge(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    table.merge(_df(spark, [(1, "a", 99), (2, "b", 20)]), ["k"], insert_only=True)
    # existing key untouched, new key inserted
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}


def test_schema_evolution_add_column(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    wide = spark.createDataFrame([Row(k=2, d="b", v=20, extra="x")])
    table.merge(wide, ["k"], evolve_schema=True)
    got = {tuple(r) for r in table.read().select("k", "d", "v", "extra").collect()}
    assert got == {(1, "a", 10, None), (2, "b", 20, "x")}


def test_vacuum_drops_history_and_orphans(spark, table, monkeypatch):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"])
    table.merge(_df(spark, [(2, "b", 99)]), ["k"])
    # orphan from a crashed commit
    monkeypatch.setattr(
        table, "_publish", lambda m: (_ for _ in ()).throw(RuntimeError("x"))
    )
    with pytest.raises(RuntimeError):
        table.merge(_df(spark, [(9, "z", 90)]), ["k"], retries=0)
    monkeypatch.undo()

    before = _rows(table.read())
    # default grace keeps the fresh orphan (it could be a concurrent
    # writer's in-flight staging); zero-retention vacuum reclaims it
    stats = table.vacuum(keep_last=1)
    assert stats["manifests_dropped"] == 1
    assert stats["files_deleted"] == 0
    stats = table.vacuum(keep_last=1, grace_seconds=0)
    assert stats["files_deleted"] >= 1  # v1's b-partition file + orphans
    assert table.versions() == [2]
    assert _rows(table.read()) == before
    with pytest.raises(FileNotFoundError):
        table._load_manifest(1)


def test_overwrite_snapshot_and_empty_read(spark, table):
    table.write(_df(spark, [(1, "a", 10)]))
    table.write(_df(spark, [(7, "q", 70)]))
    assert _rows(table.read()) == {(7, "q", 70)}
    assert _rows(table.read(version=1)) == {(1, "a", 10)}
    # read of a version with zero files returns an empty, typed frame
    empty = table.read().limit(0)
    table.write(empty)
    assert table.read().count() == 0
    assert table.read().schema == empty.schema


def test_warehouse_versioned_accessor(spark, tmp_path):
    from news_lakehouse_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.create_namespace()
    t = wh.versioned("articles")
    t.merge(_df(spark, [(1, "a", 10)]), ["k"])
    assert _rows(t.read()) == {(1, "a", 10)}


def test_manifest_partition_pruned_read(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        ["k"],
        partition_by=["d"],
    )
    got = table.read(partition_filter={"d": "b"})
    assert _rows(got) == {(2, "b", 20)}
    # pruning happens before Spark: only the matching file is read
    assert len(got.inputFiles()) == 1
    with pytest.raises(ValueError, match="not in the table's partition spec"):
        table.read(partition_filter={"nope": 1})


def test_changes_between_versions(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        ["k"],
        partition_by=["d"],
    )
    # v2: update key 2, insert key 4 (both in partition b); a,c untouched
    table.merge(_df(spark, [(2, "b", 99), (4, "b", 40)]), ["k"])
    delta = table.changes(1, 2)
    got = {(r["k"], r["d"], r["v"], r["_change_type"]) for r in delta.collect()}
    assert got == {
        (2, "b", 99, "insert"),
        (4, "b", 40, "insert"),
        (2, "b", 20, "delete"),
    }
    # carried files contribute nothing: rows of a/c never enter the diff
    assert not any(r["d"] in ("a", "c") for r in delta.collect())
    # no-op diff
    assert table.changes(2, 2).count() == 0


def test_versioned_compact_preserves_rows_and_history(spark, table):
    rows = [(i, "p" if i % 2 else "q", i * 10) for i in range(20)]
    for i in range(0, 20, 5):  # five small commits => many small files
        table.merge(_df(spark, rows[i : i + 5]), ["k"], partition_by=["d"])
    before = _rows(table.read())
    files_before = table._load_manifest(table.latest_version())["num_files"]
    v = table.compact()
    man = table._load_manifest(v)
    assert man["operation"] == "compact"
    assert man["num_files"] < files_before
    assert man["num_files"] == 2  # one file per partition value
    assert _rows(table.read()) == before
    # pre-compaction version still time-travels
    assert _rows(table.read(version=v - 1)) == before
    # a table that never evolves stays at epoch 0 through merges,
    # appends, deletes and compaction
    table.append(_df(spark, [(20, "p", 200)]))
    table.delete_keys(spark.createDataFrame([Row(k=0)]))
    table.compact()
    for ver in table.versions():
        root = table._load_root(ver)
        assert root["schema_id"] == 0 and root["file_sids"] == {}, ver
        assert list(root["schemas"]) == ["0"]


def test_deterministic_survivor_on_merge(spark, table):
    """order_by survivor selection flows through to the versioned merge."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    src = _df(spark, [(1, "a", 5), (1, "a", 50)])
    table.merge(src, ["k"], order_by=[F.col("v").desc()])
    assert _rows(table.read()) == {(1, "a", 50)}


def test_write_audit_publish_gates_bad_snapshots(spark, tmp_path):
    """WAP: a clean snapshot publishes; a dirty one raises and leaves
    NO new version (readers still see the old snapshot); vacuum
    reclaims the orphaned staged files."""
    import glob
    import os

    import pytest

    from news_lakehouse_spark.operators.validate import in_range, not_null, unique
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "wap"))
    rules = [not_null("id"), in_range("v", lo=0), unique(["id"])]
    good = spark.createDataFrame([(1, 10), (2, 20)], ["id", "v"])
    v1 = t.write_audit_publish(good, rules)
    assert v1 == 1 and t.read().count() == 2

    bad = spark.createDataFrame([(3, -5), (3, 7)], ["id", "v"])  # range + dup
    with pytest.raises(ValueError, match="expectations violated"):
        t.write_audit_publish(bad, rules)
    assert t.latest_version() == 1
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]
    # staged orphan files exist until vacuum, then disappear
    n_parquet = lambda: len(
        glob.glob(str(tmp_path / "wap" / "**" / "*.parquet"), recursive=True)
    )
    before = n_parquet()
    assert t.vacuum(keep_last=1)["files_deleted"] == 0  # default grace
    stats = t.vacuum(keep_last=1, grace_seconds=0)
    assert stats["files_deleted"] > 0
    assert n_parquet() < before
    assert t.read().count() == 2


# --- file-level column stats / scan planning (Iceberg column bounds) -----


def test_stats_pruned_read_fewer_files_same_rows(spark, table):
    """A selective predicate on a NON-partition column must prune data
    files at the manifest level (per-file min/max bounds) and still
    return exactly the rows the full-scan filter returns."""
    # partitioned by d, with per-partition disjoint v-ranges → files
    # whose v-bounds don't overlap (v is NOT a partition column)
    rows = (
        [(i, "a", i) for i in range(0, 10)]
        + [(i, "b", i) for i in range(100, 110)]
        + [(i, "c", i) for i in range(200, 210)]
    )
    table.merge(_df(spark, rows), ["k"], partition_by=["d"])
    all_files = table.files_for()
    assert len(all_files) >= 3
    pruned = table.files_for(predicate=[("v", ">=", 200)])
    assert len(pruned) < len(all_files)
    got = table.read(predicate=[("v", ">=", 200)]).filter(F.col("v") >= 200)
    assert _rows(got) == {(i, "c", i) for i in range(200, 210)}
    # equality + between + in forms
    assert len(table.files_for(predicate=[("v", "=", 105)])) < len(all_files)
    assert _rows(
        table.read(predicate=[("v", "between", (100, 109))]).filter(
            F.col("v").between(100, 109)
        )
    ) == {(i, "b", i) for i in range(100, 110)}
    assert len(table.files_for(predicate=[("v", "in", [5, 7])])) < len(all_files)


def test_stats_pruning_is_conservative(spark, table):
    """Files without stats (old-format manifest) and non-stat columns
    are always kept; string bounds prune too."""
    table.write(_df(spark, [(1, "apple", 10), (2, "banana", 20)]))
    table.merge(_df(spark, [(3, "zebra", 30)]), ["k"])
    # string column bounds
    assert len(table.files_for(predicate=[("d", ">=", "yak")])) == 1
    # unknown column → no pruning
    assert len(table.files_for(predicate=[("nope", "=", 1)])) == 2
    # manifest without stats (simulate a pre-stats manifest) → keep all
    man = table._load_manifest(table.latest_version())
    man.pop("stats"), man.pop("stat_types")
    import json as _json

    with open(table._manifest_path(table.latest_version()), "w") as f:
        _json.dump(man, f)
    assert len(table.files_for(predicate=[("v", ">=", 999)])) == 2


def test_stats_carry_over_on_merge(spark, table):
    """A partitioned merge reuses the parent manifest's stats for
    carried files — only newly written files get footer reads — and
    carried-file bounds still prune."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 2000)]), ["k"], partition_by=["d"]
    )
    man1 = table._load_manifest(1)
    table.merge(_df(spark, [(2, "b", 2001)]), ["k"])  # touches only d=b
    man2 = table._load_manifest(2)
    carried = [f for f in man2["files"] if f in set(man1["files"])]
    assert carried  # d=a's file carried by reference
    for f in carried:
        assert man2["stats"][f] == man1["stats"][f]
    # carried file's v-bounds prune a v>=1000 scan down to the new file
    pruned = table.files_for(predicate=[("v", ">=", 1000)])
    assert set(pruned) == set(man2["files"]) - set(carried)


def test_all_null_stat_column_prunes(spark, table):
    rows = [Row(k=1, d=None, v=None), Row(k=2, d=None, v=None)]
    schema = "k bigint, d string, v bigint"
    table.write(spark.createDataFrame(rows, schema))
    table.merge(spark.createDataFrame([Row(k=3, d="x", v=5)], schema), ["k"])
    # the all-null file can't satisfy any comparison on v
    pruned = table.files_for(predicate=[("v", ">=", 0)])
    assert len(pruned) == 1


def test_versioned_merge_join_partition_path(spark, table):
    """merge() updating many one-key partitions at once stays correct."""
    rows = [(i, f"p{i}", i * 10) for i in range(8)]
    table.merge(_df(spark, rows), ["k"], partition_by=["d"])
    table.merge(_df(spark, [(i, f"p{i}", i * 10 + 1) for i in range(5)]), ["k"])
    expect = {(i, f"p{i}", i * 10 + 1) for i in range(5)} | {
        (i, f"p{i}", i * 10) for i in range(5, 8)
    }
    assert _rows(table.read()) == expect


# --- concurrency + change feed across compaction --------------------------


def test_threaded_writers_serialize_no_lost_updates(spark, table):
    """N genuinely concurrent writers merging disjoint keys: every
    commit serializes through the create-exclusive publish, nobody's
    rows are lost, and history depth equals the number of writers."""
    from concurrent.futures import ThreadPoolExecutor

    n_writers = 6
    def work(i):
        rows = [(i * 10 + j, "d", i * 100 + j) for j in range(3)]
        return table.merge(_df(spark, rows), ["k"], retries=2 * n_writers)

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        versions = list(ex.map(work, range(n_writers)))
    assert sorted(versions) == list(range(1, n_writers + 1))
    assert table.versions() == list(range(1, n_writers + 1))
    got = _rows(table.read())
    expect = {
        (i * 10 + j, "d", i * 100 + j)
        for i in range(n_writers)
        for j in range(3)
    }
    assert got == expect


def test_changes_across_compaction_is_empty(spark, table):
    """Compaction rewrites files but not content: the change feed over
    a compact commit must be empty, and a feed SPANNING a compact must
    surface only the real merges on either side."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.merge(_df(spark, [(2, "b", 21)]), ["k"])          # v2: real change
    v3 = table.compact()                                     # v3: no-op feed
    assert table.changes(v3 - 1, v3).count() == 0
    table.merge(_df(spark, [(4, "c", 40)]), ["k"])          # v4: real change
    got = {
        (r["k"], r["v"], r["_change_type"])
        for r in table.changes(1, 4).collect()
    }
    assert got == {(2, 21, "insert"), (2, 20, "delete"), (4, 40, "insert")}


def test_cluster_compact_enables_bounds_pruning(spark, table):
    """compact(cluster_by=...) range-clusters the rewrite so per-file
    min/max bounds become near-disjoint: a selective predicate that
    pruned NOTHING before prunes most files after, with identical
    rows (the OPTIMIZE ZORDER payoff on the manifest layer)."""
    import random

    vals = list(range(400))
    random.Random(7).shuffle(vals)
    df = spark.createDataFrame(
        [(i, "x", v) for i, v in enumerate(vals)], "k bigint, d string, v bigint"
    ).repartition(8)  # random placement → every file spans ~full v-range
    table.write(df)
    pred = [("v", ">=", 390)]
    before = table.files_for(predicate=pred)
    # random placement: the matching rows land in nearly every file,
    # so bounds pruning barely helps before clustering
    assert len(before) >= len(table.files_for()) * 3 // 4
    rows_before = _rows(table.read(predicate=pred).filter(F.col("v") >= 390))
    v = table.compact(target_file_bytes=2000, cluster_by=["v"])
    man = table._load_manifest(v)
    assert man["operation"] == "compact" and man["num_files"] > 1
    after = table.files_for(predicate=pred)
    assert len(after) < man["num_files"]
    assert len(after) < len(before)
    got = _rows(table.read(predicate=pred).filter(F.col("v") >= 390))
    assert got == rows_before
    assert _rows(table.read()) == {(i, "x", val) for i, val in enumerate(vals)}


# --- round 6: chain-walking changes, sharded manifests, sized compact ----


def test_changes_plan_across_compact_reads_only_churn(spark, table):
    """A change feed spanning a compaction must read only the files
    real merges churned — NOT the 2x-snapshot the compact rewrote
    (verdict r5 ask #1's files-read assertion)."""
    base = _df(spark, [(k, f"p{k % 4}", k * 10) for k in range(1, 17)])
    table.merge(base, ["k"], partition_by=["d"])  # v1: 4 partitions
    table.merge(_df(spark, [(1, "p1", 111)]), ["k"])  # v2: churns only p1
    v3 = table.compact()  # v3: rewrites EVERY file, content-preserving
    assert v3 == 3
    table.merge(_df(spark, [(2, "p2", 222)]), ["k"])  # v4: churns only p2

    plan = table.changes_plan(1, 4)
    assert plan["walked"] is True
    touched = set(plan["added"]) | set(plan["removed"])
    # only the churned partitions (p1 pre-compact, p2 post-compact) may
    # be read; p0/p3 images — including the compact's rewrite of them —
    # must stay out of the plan entirely
    for f in touched:
        assert "__p_d=p1" in f or "__p_d=p2" in f, f
    all_files = set(table.files_for(1)) | set(table.files_for(4))
    assert len(touched) < len(all_files)  # strictly cheaper than endpoint
    # and the row-level feed is exactly the two real merges
    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in table.changes(1, 4).collect()
    }
    assert got == {
        ("insert", 1, 111),
        ("delete", 1, 10),
        ("insert", 2, 222),
        ("delete", 2, 20),
    }


def test_changes_plan_falls_back_when_chain_vacuumed(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    table.merge(_df(spark, [(2, "a", 20)]), ["k"])
    table.merge(_df(spark, [(3, "a", 30)]), ["k"])
    os.unlink(table._manifest_path(2))  # simulate a vacuumed middle
    plan = table.changes_plan(1, 3)
    assert plan["walked"] is False
    got = {(r["_change_type"], r["k"]) for r in table.changes(1, 3).collect()}
    assert got == {("insert", 2), ("insert", 3)}


def test_sharded_manifest_roundtrip_and_partition_read(spark, table):
    """Past shard_threshold files, the manifest shards per partition
    fragment; a partition-filtered read must not even OPEN the other
    shards (proved by deleting them and reading anyway)."""
    table.shard_threshold = 0
    df = _df(
        spark,
        [
            (k * 10 + i, d, k)
            for k in range(1, 5)
            for i, d in enumerate(("a", "b", "c"))
        ],
    )
    table.merge(df, ["k"], partition_by=["d"])
    root = table._load_root(1)
    assert "shards" in root and "files" not in root
    assert len(root["shards"]) == 3
    # full read still sees everything (shard-transparent materialization)
    assert table.read().count() == 12
    assert len(table.files_for(1, partition_filter={"d": "b"})) >= 1
    # delete every shard except d=b: the filtered read must still work
    mdir = table._manifest_dir()
    for s in root["shards"]:
        if s["fragment"] != "__p_d=b":
            os.unlink(os.path.join(mdir, s["path"]))
    assert _rows(table.read(partition_filter={"d": "b"})) == {
        (k * 10 + 1, "b", k) for k in range(1, 5)
    }


def test_publish_fsyncs_shards_root_and_directory(spark, table, monkeypatch):
    """A published version survives power loss: every shard file and the
    root manifest are fsynced before the link publishes them, and the
    _manifests directory is fsynced after it."""
    synced: list[int] = []
    real_fsync = os.fsync

    def record(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    table.shard_threshold = 0
    monkeypatch.setattr(os, "fsync", record)
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"])
    monkeypatch.undo()
    mdir = table._manifest_dir()
    shards = [
        os.stat(os.path.join(mdir, s["path"])).st_ino
        for s in table._load_root(1)["shards"]
    ]
    root = os.stat(table._manifest_path(1)).st_ino
    assert len(shards) == 2
    assert synced.index(root) > max(synced.index(s) for s in shards)
    assert synced[-1] == os.stat(mdir).st_ino


def test_sharded_manifest_merge_and_stats_carry(spark, table):
    """Merges against a sharded parent carry untouched partitions by
    reference and keep column stats usable for pruning."""
    table.shard_threshold = 0
    df = _df(
        spark,
        [(k * 2 + i, d, k * 100) for k in range(1, 5) for i, d in enumerate(("a", "b"))],
    )
    table.merge(df, ["k"], partition_by=["d"])
    before = set(table.files_for(1, partition_filter={"d": "b"}))
    table.merge(_df(spark, [(1, "a", 999)]), ["k"])
    after = set(table.files_for(2, partition_filter={"d": "b"}))
    assert before == after  # untouched partition carried by reference
    assert _rows(table.read().filter("k = 1")) == {(1, "a", 999)}
    # stats survived the shard round-trip: a selective predicate prunes
    pruned = table.files_for(2, predicate=[("v", ">=", 999)])
    assert len(pruned) < len(table.files_for(2))
    got = _rows(table.read(predicate=[("v", ">=", 999)]).filter("v >= 999"))
    assert got == {(1, "a", 999)}


def test_vacuum_reclaims_dropped_and_orphan_shards(spark, table):
    table.shard_threshold = 0
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"])
    table.merge(_df(spark, [(1, "a", 11)]), ["k"])
    mdir = table._manifest_dir()
    n_shards_before = sum(1 for n in os.listdir(mdir) if ".shard-" in n)
    assert n_shards_before >= 4  # 2 versions x 2 partitions
    table.vacuum(keep_last=1, grace_seconds=0)
    live = {
        s["path"] for s in table._load_root(table.latest_version())["shards"]
    }
    on_disk = {n for n in os.listdir(mdir) if ".shard-" in n}
    assert on_disk == live
    assert _rows(table.read()) == {(1, "a", 11), (2, "b", 20)}


def test_layout_marker_refuses_foreign_manifest(spark, table):
    """No marker (layout 1) and layout 2 (name-mapped manifests without
    schema-epoch keys) are both refused on read, and a manifest without
    the epoch keys is refused on publish."""
    import json

    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    p = table._manifest_path(1)
    with open(p) as f:
        man = json.load(f)
    no_marker = {k: v for k, v in man.items() if k != "layout"}
    layout2 = {
        **{k: v for k, v in man.items() if k not in _EPOCH_KEYS},
        "layout": 2,
    }
    for foreign in (no_marker, layout2):
        with open(p, "w") as f:
            json.dump(foreign, f)
        with pytest.raises(ValueError, match="layout"):
            VersionedParquetTable(spark, table.path).read()
    # and the writer refuses to publish one
    with pytest.raises(ValueError, match="schema-epoch keys"):
        table._publish(dict(layout2, version=2, parent=1))
    assert table.versions() == [1]


def test_compact_splits_oversized_partition(spark, table):
    """compact() honors target_file_bytes INSIDE partitions: a
    partition over 2x the target yields multiple files, a small one
    compacts to exactly one (verdict r5 ask #4)."""
    big = spark.range(20000).select(
        F.col("id").alias("k"), F.lit("big").alias("d"), F.col("id").alias("v")
    )
    small = spark.range(50).select(
        (F.col("id") + 100000).alias("k"),
        F.lit("small").alias("d"),
        F.col("id").alias("v"),
    )
    table.merge(
        big.unionByName(small).repartition(8), ["k"], partition_by=["d"]
    )
    man = table._load_manifest(1)
    big_bytes = sum(
        os.path.getsize(os.path.join(table.path, rel))
        for rel in man["files"]
        if "__p_d=big" in rel
    )
    target = big_bytes // 3  # force ~3-4 files for the big partition
    table.compact(target_file_bytes=target)
    by_part = {"big": [], "small": []}
    for rel in table.files_for(2):
        by_part["big" if "__p_d=big" in rel else "small"].append(rel)
    assert len(by_part["big"]) >= 2, by_part
    assert len(by_part["small"]) == 1, by_part
    # and no rows were lost or duplicated, no helper columns leaked
    assert table.read().count() == 20050
    assert table.read().columns == ["k", "d", "v"]
    assert _rows(table.read(version=1)) == _rows(table.read(version=2))


def test_distributed_stats_match_serial(spark, table, monkeypatch):
    """The Spark-job stats path must produce exactly the manifests the
    serial driver loop produces (verdict r5 ask #3)."""
    from news_lakehouse_spark.sources import transaction as tx

    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("d"),
        (F.rand(7) * 1000).alias("v"),
        F.to_timestamp(
            F.lit("2021-06-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id"))
        ).alias("ts"),
    )
    table.write(df.repartition(6))
    files = table._load_manifest(1)["files"]
    schema = table.read().schema
    serial, tags_a = table._collect_stats(files, schema)
    monkeypatch.setattr(tx, "_DIST_STATS_THRESHOLD", 1)
    dist, tags_b = table._collect_stats(files, schema)
    assert tags_a == tags_b
    assert serial == dist


def test_unsupported_predicate_op_always_raises(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    with pytest.raises(ValueError, match="unsupported stats predicate"):
        table.files_for(predicate=[("no_stats_col", "!=", 5)])
    with pytest.raises(ValueError, match="unsupported stats predicate"):
        table.files_for(predicate=[("v", "!=", 5)])


def test_timestamp_bound_year_padding():
    import datetime as dt

    from news_lakehouse_spark.sources.transaction import _json_bound

    early = _json_bound(dt.datetime(999, 12, 31, 23, 59, 59), "timestamp", False)
    late = _json_bound(dt.datetime(2020, 1, 1), "timestamp", False)
    assert early < late  # lexicographic == chronological
    assert early.startswith("0999-")


# --- round 6: merge-on-read equality deletes ------------------------------


def test_delete_keys_merge_on_read(spark, table):
    """delete_keys() must tombstone rows WITHOUT touching data files,
    and history/time travel must see a normal commit."""
    table.merge(
        _df(spark, [(k, f"p{k % 2}", k * 10) for k in range(1, 9)]),
        ["k"],
        partition_by=["d"],
    )
    files_before = set(table.files_for(1))
    v2 = table.delete_keys(spark.createDataFrame([Row(k=2), Row(k=5)]))
    assert v2 == 2
    assert set(table.files_for(2)) == files_before  # zero data rewrite
    assert _rows(table.read().select("k")) == {(k,) for k in (1, 3, 4, 6, 7, 8)}
    # time travel: pre-delete snapshot intact
    assert table.read(version=1).count() == 8
    assert table.history()[-1]["operation"] == "delete"
    # replaying the same delete (e.g. a retried job) changes no row
    table.delete_keys(spark.createDataFrame([Row(k=2), Row(k=5)]))
    assert _rows(table.read().select("k")) == {(k,) for k in (1, 3, 4, 6, 7, 8)}


def test_delete_then_reinsert_wins(spark, table):
    """A merge AFTER a delete re-inserts the key: the tombstone only
    applies to files older than it (versioned applicability)."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.delete_keys(spark.createDataFrame([Row(k=1)]))
    assert _rows(table.read().select("k")) == {(2,), (3,)}
    table.merge(_df(spark, [(1, "a", 111)]), ["k"])
    got = _rows(table.read())
    assert (1, "a", 111) in got and len(got) == 3
    # and the untouched partition's carried file still honors the
    # tombstone-free read
    assert (2, "a", 20) in got and (3, "b", 30) in got


def test_delete_survives_merge_carry_and_compact_materializes(spark, table):
    table.merge(
        _df(spark, [(k, f"p{k % 2}", k) for k in range(1, 7)]),
        ["k"],
        partition_by=["d"],
    )
    table.delete_keys(spark.createDataFrame([Row(k=4)]))
    # merge touching ONLY p1 carries p0's files — tombstone must still
    # apply to the carried file holding k=4
    table.merge(_df(spark, [(1, "p1", 100)]), ["k"])
    assert _rows(table.read().select("k")) == {(1,), (2,), (3,), (5,), (6,)}
    assert table._load_root(3)["delete_files"], "entries must carry"
    v = table.compact()
    assert table._load_root(v)["delete_files"] == []  # materialized
    assert _rows(table.read().select("k")) == {(1,), (2,), (3,), (5,), (6,)}


def test_changes_feed_reports_mor_deletes(spark, table):
    """changes() across a delete commit must emit the tombstoned rows
    as deletes, and not double-count them when their file is later
    rewritten or the table compacted."""
    table.merge(
        _df(spark, [(k, f"p{k % 2}", k * 10) for k in range(1, 7)]),
        ["k"],
        partition_by=["d"],
    )
    table.delete_keys(spark.createDataFrame([Row(k=3), Row(k=6)]))  # v2
    got = {
        (r["_change_type"], r["k"]) for r in table.changes(1, 2).collect()
    }
    assert got == {("delete", 3), ("delete", 6)}
    # span: delete + compact + a merge rewriting the partition that
    # held a tombstoned key (k=3 in p1)
    table.compact()  # v3
    table.merge(_df(spark, [(5, "p1", 555)]), ["k"])  # v4 churns p1
    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in table.changes(1, 4).collect()
    }
    assert got == {
        ("delete", 3, 30),
        ("delete", 6, 60),
        ("delete", 5, 50),
        ("insert", 5, 555),
    }
    # resurrect k=3 after its delete: feed shows delete old + insert new
    table.merge(_df(spark, [(3, "p1", 333)]), ["k"])  # v5
    got = {
        (r["_change_type"], r["k"], r["v"])
        for r in table.changes(1, 5).collect()
    }
    assert got == {
        ("delete", 3, 30),
        ("delete", 6, 60),
        ("delete", 5, 50),
        ("insert", 5, 555),
        ("insert", 3, 333),
    }


def test_changes_snapshot_fallback_when_delete_chain_vacuumed(spark, table):
    """With the middle manifest vacuumed AND tombstones differing at
    the endpoints, only a full snapshot diff sees rows tombstoned in
    carried files — the plan must say so."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.delete_keys(spark.createDataFrame([Row(k=1)]))  # v2
    table.merge(_df(spark, [(3, "b", 30)]), ["k"])  # v3 churns only d=b
    os.unlink(table._manifest_path(2))  # vacuumed middle with a delete
    plan = table.changes_plan(1, 3)
    assert plan["mode"] == "snapshot"
    got = {(r["_change_type"], r["k"]) for r in table.changes(1, 3).collect()}
    assert got == {("delete", 1), ("insert", 3)}


def test_vacuum_keeps_live_tombstones(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.delete_keys(spark.createDataFrame([Row(k=1)]))
    table.merge(_df(spark, [(3, "b", 30)]), ["k"])
    table.vacuum(keep_last=1, grace_seconds=0)
    # the tombstone parquet must survive (latest manifest references it)
    assert _rows(table.read().select("k")) == {(2,), (3,)}


# --- round 6: named refs (tags) -------------------------------------------


def test_tags_resolve_and_pin_through_vacuum(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.tag("prod")  # pins v1
    table.merge(_df(spark, [(2, "b", 99)]), ["k"])
    table.merge(_df(spark, [(3, "a", 30)]), ["k"])
    assert table.tags() == {"prod": 1}
    assert _rows(table.read(version="prod")) == {(1, "a", 10), (2, "b", 20)}
    # vacuum keeps the tagged version AND its files despite keep_last=1
    table.vacuum(keep_last=1, grace_seconds=0)
    assert 1 in table.versions()
    assert _rows(table.read(version="prod")) == {(1, "a", 10), (2, "b", 20)}
    # change feed accepts tag refs
    got = {(r["_change_type"], r["k"]) for r in table.changes("prod").collect()}
    assert got == {("delete", 2), ("insert", 2), ("insert", 3)}
    # drop + vacuum reclaims
    table.drop_tag("prod")
    table.vacuum(keep_last=1, grace_seconds=0)
    assert table.versions() == [3]


def test_tag_create_only_and_validation(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    table.tag("v1")
    with pytest.raises(FileExistsError):
        table.tag("v1")
    table.merge(_df(spark, [(2, "a", 20)]), ["k"])
    assert table.tag("v1", replace=True) == 2
    with pytest.raises(FileNotFoundError):
        table.read(version="nope")
    with pytest.raises(ValueError, match="invalid tag name"):
        table.tag("../escape")
    with pytest.raises(FileNotFoundError):
        table.tag("gone", version=99)


# --- round 6: bloom-filter point-lookup pruning ---------------------------


def test_bloom_prunes_point_lookup_without_clustering(spark, table):
    """Min/max bounds can't prune an id point-lookup when ids spread
    across every file; per-file blooms can. Written UNclustered on k,
    a `k = const` predicate must drop most files yet return the row."""
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("d"),
        (F.col("id") * 2).alias("v"),
    )
    # shuffle rows so every file's k-range spans ~the whole domain
    table.write(
        df.orderBy(F.xxhash64("k")).repartition(8),
        bloom_columns=["k"],
    )
    all_files = table.files_for(1)
    assert len(all_files) >= 4
    probe = [("k", "=", 1234)]
    pruned = table.files_for(1, predicate=probe)
    # bounds are useless here (every file spans ~[0, 4000)); only the
    # bloom can prune, and the key lives in exactly one file
    assert len(pruned) < len(all_files), (len(pruned), len(all_files))
    got = {tuple(r) for r in table.read(predicate=probe).filter("k = 1234").collect()}
    assert got == {(1234, "1", 2468)}
    # IN probe: union of candidates, still pruned, still complete
    probe_in = [("k", "in", [7, 3999])]
    pruned_in = table.files_for(1, predicate=probe_in)
    assert len(pruned_in) < len(all_files)
    got = {
        r["k"]
        for r in table.read(predicate=probe_in)
        .filter(F.col("k").isin(7, 3999))
        .collect()
    }
    assert got == {7, 3999}


def test_bloom_inherited_by_merge_and_carried_sidecars(spark, table):
    from urllib.parse import unquote, urlparse

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("d"),
        F.col("id").alias("v"),
    )
    table.write(
        df.orderBy(F.xxhash64("k")).repartition(4),
        partition_by=["d"],
        bloom_columns=["k"],
    )
    import pyspark.sql.functions as SF

    table.merge(
        spark.createDataFrame([Row(k=100000, d="0", v=1)]), ["k"]
    )  # churns only d=0; d=1 files carry with their blooms
    root = table._load_root(2)
    assert root["bloom"] and len(root["bloom"]["sidecars"]) == 2
    all_files = table.files_for(2)
    pruned = table.files_for(2, predicate=[("k", "=", 100000)])
    assert len(pruned) < len(all_files)
    got = {r["k"] for r in table.read(predicate=[("k", "=", 100000)]).filter("k = 100000").collect()}
    assert got == {100000}
    # an existing key in a CARRIED file still found after the merge
    probe = [("k", "=", 1501)]
    got = {r["k"] for r in table.read(predicate=probe).filter("k = 1501").collect()}
    assert got == {1501}
    # a merge rewriting BOTH partitions leaves no file of v1 or v2
    # live: only its own sidecar stays listed, and every key is found
    v = table.merge(
        spark.createDataFrame(
            [Row(k=100001, d="0", v=1), Row(k=100002, d="1", v=1)]
        ),
        ["k"],
    )
    (sidecar,) = table._load_root(v)["bloom"]["sidecars"]
    assert sidecar.startswith(f"{v:012d}-")
    key_file = {
        r["k"]: os.path.relpath(unquote(urlparse(r["f"]).path), table.path)
        for r in table.read()
        .select("k", F.input_file_name().alias("f"))
        .collect()
    }
    assert len(key_file) == 2003
    for key, rel in key_file.items():
        assert rel in table.files_for(v, predicate=[("k", "=", key)]), key
    # compact recomputes blooms into a single fresh sidecar
    v = table.compact()
    root = table._load_root(v)
    assert len(root["bloom"]["sidecars"]) == 1
    got = {r["k"] for r in table.read(predicate=probe).filter("k = 1501").collect()}
    assert got == {1501}


def test_bloom_never_false_negative(spark, table):
    """Every present key must survive bloom pruning (hypothesis-lite:
    probe all keys of one file)."""
    df = spark.range(300).select(F.col("id").alias("k"), F.col("id").alias("v"))
    table.write(df.repartition(3), bloom_columns=["k"])
    for key in range(0, 300, 29):
        files = table.files_for(1, predicate=[("k", "=", key)])
        got = {
            r["k"]
            for r in table.read(predicate=[("k", "=", key)])
            .filter(F.col("k") == key)
            .collect()
        }
        assert got == {key}, key


def test_bloom_sidecar_driver_bytes_flat_in_distinct_count(spark, tmp_path):
    """Each file's bitmap is sized from its own distinct keys: the
    smallest power of two holding 10 bits per key. Files of 7,000 and
    10,000 distinct keys both get m = 2^17 and equal-sized entries, a
    200-key file gets 2^11, and every entry is the PACKED bitmap (m/8
    bytes per file, not the k * n_distinct positions)."""
    import base64
    import json
    import os

    t = VersionedParquetTable(spark, str(tmp_path / "sized"))
    groups = {"a": (0, 200), "b": (200, 7200), "c": (7200, 17200)}
    grp = F.when(F.col("id") < 200, "a").when(F.col("id") < 7200, "b")
    df = spark.range(17200).select(
        F.col("id").alias("k"), grp.otherwise("c").alias("g")
    )
    t.write(df.coalesce(1), partition_by=["g"], bloom_columns=["k"])
    (sidecar,) = t._load_root(1)["bloom"]["sidecars"]
    with open(os.path.join(t._manifest_dir(), sidecar)) as f:
        files = json.load(f)["files"]
    entries = {rel.split("__p_g=")[1][0]: v["k"] for rel, v in files.items()}
    assert {g: e["m"] for g, e in entries.items()} == {
        "a": 1 << 11, "b": 1 << 17, "c": 1 << 17,
    }
    for e in entries.values():
        assert len(base64.b64decode(e["b"])) == e["m"] // 8
    assert len(entries["b"]["b"]) == len(entries["c"]["b"])
    # and the blooms still work: each file's last key is found
    for g, (_lo, hi) in groups.items():
        kept = t.files_for(predicate=[("k", "=", hi - 1)])
        assert any(f"__p_g={g}/" in rel for rel in kept), g


def test_bloom_build_runs_at_most_three_jobs(spark, tmp_path, monkeypatch):
    """A commit's bloom sidecar is one grouped pass per bloom column:
    writing 8 files with ``bloom_columns=["k"]`` spends at most 3 Spark
    jobs building it (no approx-distinct pre-pass, no pass per bitmap
    size)."""
    sc = spark.sparkContext
    build = VersionedParquetTable._build_bloom_sidecar
    n_jobs = []

    def counted(self, *args, **kwargs):
        sc.setJobGroup("bloom_build", "bloom_build")
        try:
            return build(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            n_jobs.append(
                len(sc.statusTracker().getJobIdsForGroup("bloom_build"))
            )

    monkeypatch.setattr(VersionedParquetTable, "_build_bloom_sidecar", counted)
    t = VersionedParquetTable(spark, str(tmp_path / "jobs"))
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t.write(df.orderBy(F.xxhash64("k")).repartition(8), bloom_columns=["k"])
    assert len(t.files_for()) == 8
    assert len(n_jobs) == 1 and n_jobs[0] <= 3, n_jobs
    assert len(t.files_for(predicate=[("k", "=", 1234)])) == 1


def test_driver_xxhash64_matches_spark(spark, tmp_path):
    """Bloom and bucket probes hash their literals on the driver:
    ``spark_xxhash64`` must equal ``F.xxhash64`` on every covered type,
    edge values and nulls included (all columns in one Spark job). An
    uncovered type or a value the type would not accept hashes to None,
    and a bloomed column of an uncovered type keeps every file."""
    import datetime as dt
    from decimal import Decimal as D

    from pyspark.sql import types as T

    from news_lakehouse_spark.sources.partition_spec import spark_xxhash64

    nan, inf = float("nan"), float("inf")
    ints = [0, 1, -1, 7, 127, -128]
    cases = {
        T.BooleanType(): [True, False],
        T.ByteType(): ints,
        T.ShortType(): ints + [32767, -32768],
        T.IntegerType(): ints + [2**31 - 1, -(2**31)],
        T.LongType(): ints + [2**63 - 1, -(2**63), 2**40 + 3],
        T.FloatType(): [0.0, -0.0, 0.1, -2.25, nan, inf, -inf, 1e300, -1e-50, 1e-45],
        T.DoubleType(): [0.0, -0.0, 0.1, nan, -nan, inf, -1e-300, 5e-324],
        T.StringType(): [
            "", "a", "x" * 31, "y" * 32, "z" * 33, "w" * 100,
            "héllo ✓ 日本語", "😀" * 9,
        ],
        T.BinaryType(): [b"", b"\x00", bytes(range(40)), bytearray(b"abcdefgh")],
        T.DateType(): [
            dt.date(1, 1, 1), dt.date(1970, 1, 1), dt.date(2024, 2, 29),
            dt.date(9999, 12, 31),
        ],
        T.TimestampType(): [
            dt.datetime(1970, 1, 1),
            dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
            dt.datetime(2024, 3, 1, 12, 30, tzinfo=dt.timezone.utc),
            dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
        ],
        T.TimestampNTZType(): [
            dt.datetime(1, 1, 1),
            dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
            dt.datetime(9999, 12, 31, 23, 59, 59),
        ],
        T.DecimalType(10, 2): [D("0"), D("-1.5"), D("12345678.99"), D("1.005")],
        T.DecimalType(38, 6): [
            D("-1.5"), D("127"), D("-128"), D("-0.000001"),
            D("-123456789012345678901234567890.123456"),
        ],
    }
    types = list(cases)
    n = max(map(len, cases.values())) + 1  # every column ends in nulls
    rows = [
        tuple(vals[r] if r < len(vals) else None for vals in cases.values())
        for r in range(n)
    ]
    schema = T.StructType(
        [T.StructField(f"c{i}", t) for i, t in enumerate(types)]
    )
    got = (
        spark.createDataFrame(rows, schema)
        .select(*[F.xxhash64(f"c{i}") for i in range(len(types))])
        .collect()
    )
    for row, hashed in zip(rows, got):
        for v, t, h in zip(row, types, hashed):
            assert spark_xxhash64(v, t) == h, (t, v)
    # not hashable exactly → None (the caller keeps the file)
    for v, t in [
        (dt.timedelta(seconds=7), T.DayTimeIntervalType()),
        ([1, 2], T.ArrayType(T.LongType())),
        ("a", T.StringType("UTF8_LCASE")),
        ("7", T.LongType()),
        (True, T.IntegerType()),
        (2**31, T.IntegerType()),
        (7, T.DoubleType()),
        (D("1e20"), T.DecimalType(10, 2)),
        ("2024-01-01", T.DateType()),
    ]:
        assert spark_xxhash64(v, t) is None, (t, v)
    t = VersionedParquetTable(spark, str(tmp_path / "iv"))
    df = spark.range(40).select(
        F.expr("make_dt_interval(0, 0, 0, id)").alias("c"), F.col("id").alias("v")
    )
    t.write(df.repartition(4), bloom_columns=["c"])
    probe = [("c", "=", dt.timedelta(seconds=7))]
    assert sorted(t.files_for(predicate=probe)) == sorted(t.files_for())
    got = t.read(predicate=probe).filter(F.col("c") == F.lit(dt.timedelta(seconds=7)))
    assert _rows(got.select("v")) == {(7,)}


def test_probe_planning_runs_no_spark_job(spark, tmp_path):
    """Scan planning hashes probe keys on the driver: ``files_for`` on
    keys never probed before runs no Spark job for a bloom or a
    ``bucket(4, c)`` equality/IN predicate, and a point lookup runs
    only the jobs of its collect."""
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    t = VersionedParquetTable(spark, str(tmp_path / "pj"))
    base = 5_000_000  # keys no other test probes
    df = spark.range(400).select(
        (F.col("id") + base).alias("k"),
        (F.col("id") % 37 + base).alias("cust"),
        F.col("id").alias("v"),
    )
    t.write(
        df.orderBy(F.xxhash64("k")).repartition(4),
        partition_by=["bucket(4, cust)"],
        bloom_columns=["k"],
    )
    all_files = t.files_for()
    for name, pred in [
        ("bloom", [("k", "=", base + 123)]),
        ("bucket_eq", [("cust", "=", base + 11)]),
        ("bucket_in", [("cust", "in", [base + 3, base + 29])]),
    ]:
        kept, n = jobs(f"probe_{name}", lambda: t.files_for(predicate=pred))
        assert n == 0, name
        assert 0 < len(kept) < len(all_files), name
    got, n_lookup = jobs(
        "probe_lookup",
        lambda: t.read(predicate=[("k", "=", base + 391)]).collect(),
    )
    assert {r["v"] for r in got if r["k"] == base + 391} == {391}
    planned = t.read(predicate=[("k", "=", base + 392)])
    _, n_collect = jobs("probe_collect", planned.collect)
    assert n_lookup == n_collect


def test_collated_bloom_column_survives_repeated_probes(spark, tmp_path):
    """Parsing a manifest schema must not rewrite the cached root: on a
    ``string collate UTF8_LCASE`` bloom column, repeated probes, a
    constraint commit through the same handle and a fresh handle's
    read all work, and the persisted schema keeps its collation."""
    import json

    path = str(tmp_path / "coll")
    t = VersionedParquetTable(spark, path)
    df = spark.range(40).select(
        F.collate(F.col("id").cast("string"), "UTF8_LCASE").alias("c"),
        F.col("id").alias("v"),
    )
    t.write(df.repartition(4), bloom_columns=["c"])
    all_files = sorted(t.files_for())
    for _ in range(3):  # collated strings are not driver-hashed: keep all
        assert sorted(t.files_for(predicate=[("c", "=", "7")])) == all_files
    v = t.add_check_constraint("v_nonneg", "v >= 0")
    got = VersionedParquetTable(spark, path).read().filter("c = '7'")
    assert _rows(got) == {("7", 7)}
    with open(t._manifest_path(v)) as f:
        man = json.load(f)
    (c_field,) = [
        f for f in man["schemas"][str(man["schema_id"])]["fields"]
        if f["name"] == "c"
    ]
    assert c_field["metadata"]["__COLLATIONS"] == {"c": "spark.UTF8_LCASE"}


# --- round 6: CDC apply (change feed -> replica) --------------------------


def test_apply_changes_replicates_table(spark, tmp_path):
    """A replica fed only by changes() must converge to the source —
    across updates, partition moves, deletes, and a re-insert."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(
        _df(spark, [(k, f"p{k % 2}", k * 10) for k in range(1, 7)]),
        ["k"],
        partition_by=["d"],
    )
    rep.write(src.read(version=1), partition_by=["d"])  # initial sync @ v1

    src.merge(_df(spark, [(2, "p0", 222), (7, "p1", 70)]), ["k"])  # update+insert
    src.delete_keys(spark.createDataFrame([Row(k=5), Row(k=3)]))
    src.merge(_df(spark, [(3, "p1", 333)]), ["k"])  # resurrect 3

    rep.apply_changes(src.changes(1), ["k"])
    assert _rows(rep.read()) == _rows(src.read())
    # feed-sized work: the replica saw at most 2 commits for the batch
    assert rep.latest_version() <= 3
    # second application of an EMPTY span is a no-op shape
    v = src.latest_version()
    feed = src.changes(v, v)
    assert feed.count() == 0


def test_apply_changes_partition_move_rewrites_old_partition(
    spark, tmp_path
):
    """The r12 fast path derives the merge's affected partitions from
    the FEED alone (delete rows carry each changed key's pre-image
    partition) instead of probing the target. A key that MOVES
    partition across the span must still get its old partition
    rewritten — the old row must not survive anywhere — and untouched
    partitions must still carry over by reference."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        ["k"],
        partition_by=["d"],
    )
    rep.write(src.read(version=1), partition_by=["d"])
    # key 1 moves partition a -> z; key 2 updates in place; c untouched
    src.merge(_df(spark, [(1, "z", 111), (2, "b", 222)]), ["k"])
    rep.apply_changes(src.changes(1), ["k"])
    assert _rows(rep.read()) == _rows(src.read())
    # no ghost of key 1 in the raw files of the new replica manifest
    man = rep._load_manifest(rep.latest_version())
    raw = spark.read.parquet(
        *[os.path.join(rep.path, f) for f in man["files"]]
    )
    assert raw.filter((F.col("k") == 1) & (F.col("d") == "a")).count() == 0
    # partition c was untouched: its file carried over by reference
    carried = [f for f in man["files"] if "c000000000001-" in f]
    assert any("__p_d=c" in f for f in carried)
    # replayed feed (replica already converged) stays convergent
    rep.apply_changes(src.changes(1), ["k"])
    assert _rows(rep.read()) == _rows(src.read())


def test_rollback_restores_snapshot_metadata_only(spark, table):
    """rollback(v) commits a NEW version whose content equals the old
    snapshot without reading or rewriting any data (Iceberg rollback /
    Delta RESTORE): the restore manifest references the old files, the
    bad commit stays time-travelable, and the change feed across the
    restore is exactly the inverse of the bad commit's delta."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    files_v1 = set(table.files_for(1))
    table.merge(_df(spark, [(2, "b", 99), (3, "a", 30)]), ["k"])
    v3 = table.rollback(1)
    assert v3 == 3
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}
    # metadata-only: the restore references v1's files verbatim
    assert set(table.files_for(3)) == files_v1
    assert table.history()[-1]["operation"] == "rollback"
    assert table.snapshot_properties(3) == {"rollback_of": 1}
    # the bad commit is still reachable until vacuumed
    assert _rows(table.read(version=2)) == {
        (1, "a", 10), (2, "b", 99), (3, "a", 30)
    }
    # feed across the restore = inverse of the bad commit's feed
    fwd = {
        (r["k"], r["d"], r["v"], r["_change_type"])
        for r in table.changes(1, 2).collect()
    }
    back = {
        (r["k"], r["d"], r["v"], r["_change_type"])
        for r in table.changes(2, 3).collect()
    }
    flip = {"insert": "delete", "delete": "insert"}
    assert back == {(k, d, v, flip[c]) for k, d, v, c in fwd}
    # rolling back to the current snapshot is a no-op commit-wise
    assert table.rollback(3) == 3


def test_rollback_by_tag_and_vacuum_retains_restored_files(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"], partition_by=["d"])
    table.tag("good")
    table.merge(_df(spark, [(1, "a", 99), (2, "b", 5)]), ["k"])
    assert table.rollback("good") == 3
    table.drop_tag("good")
    stats = table.vacuum(keep_last=1, grace_seconds=0)
    assert stats["manifests_dropped"] == 2
    # the restored snapshot's (v1-era) files survive the vacuum
    assert _rows(table.read()) == {(1, "a", 10)}


def test_sync_from_incremental_replica_with_cursor(spark, tmp_path):
    """sync_from pulls the upstream feed since the recorded cursor and
    applies it; the cursor rides the final commit atomically, so the
    whole CDC loop is one call per schedule tick."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"])
    # initial sync = full copy
    rep.sync_from(src, ["k"])
    assert _rows(rep.read()) == _rows(src.read())
    assert rep.snapshot_properties()["sync_from_version"] == 1
    # upstream churns: update, insert, delete
    src.merge(_df(spark, [(2, "b", 99), (3, "a", 30)]), ["k"])
    src.delete_keys(spark.createDataFrame([(1,)], "k int"), ["k"])
    rep.sync_from(src, ["k"])
    assert _rows(rep.read()) == _rows(src.read()) == {(2, "b", 99), (3, "a", 30)}
    assert rep.snapshot_properties()["sync_from_version"] == 3
    # upstream unchanged: no new replica commit
    v = rep.latest_version()
    assert rep.sync_from(src, ["k"]) == v


def test_sync_from_crash_retry_is_idempotent(spark, tmp_path, monkeypatch):
    """A crash between the merge and the tombstone commit leaves the
    OLD cursor in place (it rides only the last commit), so the retry
    re-applies the same feed — idempotent by upsert/tombstone
    semantics, never a double-apply or a lost delete."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    rep.sync_from(src, ["k"])
    src.merge(_df(spark, [(2, "b", 99)]), ["k"])
    src.delete_keys(spark.createDataFrame([(1,)], "k int"), ["k"])

    real = VersionedParquetTable.delete_keys

    def boom(self, *a, **kw):
        raise RuntimeError("injected crash before tombstone commit")

    monkeypatch.setattr(VersionedParquetTable, "delete_keys", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        rep.sync_from(src, ["k"])
    # merge landed, cursor did NOT advance
    assert rep.snapshot_properties().get("sync_from_version") != 3
    monkeypatch.setattr(VersionedParquetTable, "delete_keys", real)
    rep.sync_from(src, ["k"])
    assert _rows(rep.read()) == _rows(src.read()) == {(2, "b", 99)}
    assert rep.snapshot_properties()["sync_from_version"] == 3


def test_sync_from_cancelled_churn_advances_cursor_only(spark, tmp_path):
    """An upstream span whose churn cancels out (bad commit + rollback)
    yields an empty feed; sync advances the cursor with a metadata-only
    commit so the next tick doesn't re-diff the same span."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(_df(spark, [(1, "a", 10)]), ["k"])
    rep.sync_from(src, ["k"])
    src.merge(_df(spark, [(1, "a", 777), (9, "z", 9)]), ["k"])
    src.rollback(1)
    rep.sync_from(src, ["k"])
    assert rep.snapshot_properties()["sync_from_version"] == 3
    assert _rows(rep.read()) == {(1, "a", 10)}


def test_sync_from_cursor_survives_interleaved_replica_commits(
    spark, tmp_path
):
    """A replica commit between syncs (the scheduled compact() the
    maintenance docs recommend) must NOT hide the cursor: the next
    sync stays an O(churn) feed application, never a silent full-table
    copy (advice r6)."""
    import warnings as _w

    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(_df(spark, [(k, "a", k) for k in range(1, 5)]), ["k"])
    rep.sync_from(src, ["k"])
    rep.compact()  # interleaved maintenance: latest commit has no cursor
    src.merge(_df(spark, [(2, "a", 99), (9, "z", 9)]), ["k"])
    v_before = rep.latest_version()
    with _w.catch_warnings():
        _w.simplefilter("error")  # a full-copy fallback would warn -> fail
        rep.sync_from(src, ["k"])
    assert _rows(rep.read()) == _rows(src.read())
    # incremental path: apply_changes commits merge ops, never a fresh
    # full "sync" write
    ops = [h["operation"] for h in rep.history() if h["version"] > v_before]
    assert ops and "sync" not in ops
    assert rep.snapshot_properties()["sync_from_version"] == 2


def test_sync_from_warns_on_cursorless_replica_full_copy(spark, tmp_path):
    """A replica with commits but no sync history anywhere (e.g.
    vacuumed past the last sync, or hand-built) falls back to a full
    copy — loudly, not silently."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    src.merge(_df(spark, [(1, "a", 10)]), ["k"])
    rep.write(src.read())  # hand-built: no cursor in any version
    with pytest.warns(UserWarning, match="FULL-TABLE copy"):
        rep.sync_from(src, ["k"])
    assert _rows(rep.read()) == _rows(src.read())
    assert rep.snapshot_properties()["sync_from_version"] == 1


def test_plan_compaction_skips_old_spec_fragments(spark, table):
    """After partition-spec evolution, plan_compaction must emit only
    CURRENT-spec partition dicts: an old-spec dict (or a bogus {'': ''}
    from unpartitioned-era files) would make compact(partitions=...)'s
    overlap selector conservatively match every current-spec file
    missing that column — a planned partial compaction silently
    becoming a near-full rewrite (advice r6)."""
    # small-file buildup under the OLD spec (d), then evolve to (v):
    # the d=... fragments are stale relative to the current spec
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.merge(_df(spark, [(3, "a", 10)]), ["k"])
    table.merge(_df(spark, [(4, "a", 10)]), ["k"])
    assert table.plan_compaction(min_files=2)  # sanity: buildup visible
    table.set_partition_spec(["v"])
    plan = table.plan_compaction(min_files=2)
    assert all(set(p) <= {"v"} for p in plan), plan
    assert plan == []  # only old-spec buildup exists -> nothing plannable

    # unpartitioned-era files must never yield a bogus {'': ''} entry
    t2 = VersionedParquetTable(spark, str(table.path) + "_u")
    t2.write(_df(spark, [(1, "a", 10), (2, "b", 20)]).repartition(3))
    t2.set_partition_spec(["d"])
    plan2 = t2.plan_compaction(min_files=2)
    assert all("" not in p and set(p) <= {"d"} for p in plan2), plan2
    assert plan2 == []


def test_plan_compaction_uses_distributed_sizes_past_threshold(
    spark, table, monkeypatch
):
    """plan_compaction shares inspect()'s flat-in-file-count contract:
    past _DIST_STATS_THRESHOLD live files the sizes come from one Spark
    fan-out, not O(files) serial driver stat calls."""
    from news_lakehouse_spark.sources import transaction as T

    table.write(
        _df(spark, [(k, f"p{k % 2}", k) for k in range(40)]).repartition(8),
        partition_by=["d"],
    )
    monkeypatch.setattr(T, "_DIST_STATS_THRESHOLD", 4)
    calls = {"n": 0}
    real = os.path.getsize

    def counting(p):
        calls["n"] += 1
        return real(p)

    monkeypatch.setattr(T.os.path, "getsize", counting)
    plan = table.plan_compaction(min_files=2)
    # driver-side stat calls stayed zero — sizes came from the fan-out
    assert calls["n"] == 0, calls["n"]
    assert isinstance(plan, list)


def test_inspect_metadata_tables(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.merge(_df(spark, [(4, "a", 40)]), ["k"])

    snaps = table.inspect("snapshots").orderBy("version").collect()
    assert [(r.version, r.operation) for r in snaps] == [
        (1, "create"),
        (2, "merge"),
    ]
    assert snaps[0].parent is None and snaps[1].parent == 1

    files = table.inspect("files").collect()
    assert len(files) == len(table.files_for())
    assert all(r.size_bytes > 0 for r in files)
    assert {r.partition.split("=")[0] for r in files} == {"d"}
    # record counts come from commit stats, no data scan
    assert sum(r.record_count for r in files) == 4

    parts = {
        r.partition: (r.file_count, r.record_count)
        for r in table.inspect("partitions").collect()
    }
    assert parts["d=b"] == (1, 2)
    assert parts["d=a"][1] == 2

    # time travel: v1 had 3 rows, partition a only one
    v1 = {
        r.partition: r.record_count
        for r in table.inspect("partitions", version=1).collect()
    }
    assert v1 == {"d=a": 1, "d=b": 2}

    with pytest.raises(ValueError, match="unknown metadata table"):
        table.inspect("manifests")


# --- partition-spec evolution ---------------------------------------------


def test_evolve_spec_unpartitioned_to_partitioned(spark, table):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    v = table.set_partition_spec(["d"])
    assert table.inspect("snapshots").orderBy("version").collect()[-1].operation == "evolve-spec"
    # metadata-only: same files
    assert table.files_for(v) == table.files_for(v - 1)
    # evolve-spec commit produces an empty change feed
    assert table.changes(v - 1, v).isEmpty()
    # first merge rewrites the old-spec file into the new layout
    table.merge(_df(spark, [(2, "b", 21), (3, "c", 30)]), ["k"])
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 21), (3, "c", 30)}
    frags = {f.split("/")[2] for f in table.files_for()}
    assert all(s.startswith("__p_d=") for s in frags)
    got = table.read(partition_filter={"d": "b"})
    assert _rows(got) == {(2, "b", 21)}


def test_evolve_spec_incremental_migration(spark, table):
    """Old-spec files NOT overlapping affected partitions carry over
    untouched — a merge's cost stays proportional to its churn even
    mid-migration."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]),
        ["k"],
        partition_by=["d"],
    )
    old_files = set(table.files_for())
    a_files = {f for f in old_files if "__p_d=a" in f}
    table.set_partition_spec(["d", "k"])
    # merge touches only d=b rows: the d=a old-spec file must survive
    # by reference, the d=b one is rewritten under the new spec
    table.merge(_df(spark, [(2, "b", 21)]), ["k"])
    now = set(table.files_for())
    assert a_files <= now
    assert not any("__p_d=b" in f and "__p_k=" not in f for f in now)
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 21), (3, "b", 30)}
    # partition filter on a column only the NEW spec has: old-spec
    # files are kept conservatively + row-filtered
    assert _rows(table.read(partition_filter={"k": 1})) == {(1, "a", 10)}
    # filter on the shared column still prunes the old-spec file
    got = table.read(partition_filter={"d": "b"})
    assert _rows(got) == {(2, "b", 21), (3, "b", 30)}
    assert not any("__p_d=a" in f for f in got.inputFiles())


def test_evolve_spec_compact_materializes(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.set_partition_spec([])
    table.compact()
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
    assert all(
        "__p_" not in f for f in table.files_for()
    ), table.files_for()


def test_evolve_spec_validates_and_noops(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"], partition_by=["d"])
    with pytest.raises(ValueError, match="not in the table schema"):
        table.set_partition_spec(["nope"])
    v = table.latest_version()
    assert table.set_partition_spec(["d"]) == v  # unchanged spec: no-op
    with pytest.raises(ValueError, match="set_partition_spec"):
        table.merge(_df(spark, [(1, "a", 11)]), ["k"], partition_by=["k"])


def test_partial_compact_rewrites_only_chosen_partitions(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.merge(_df(spark, [(3, "b", 30)]), ["k"])
    table.merge(_df(spark, [(4, "b", 40)]), ["k"])
    before = set(table.files_for())
    a_files = {f for f in before if "__p_d=a" in f}
    b_files = {f for f in before if "__p_d=b" in f}
    # the last merge's rewrite of partition b split across tasks —
    # small-file buildup the planner must spot
    assert len(b_files) >= 2

    plan = table.plan_compaction(min_files=2)
    assert plan == [{"d": "b"}]  # only b has small-file buildup

    v = table.compact(partitions=plan)
    now = set(table.files_for())
    assert a_files <= now  # untouched partition carried by reference
    assert len({f for f in now if "__p_d=b" in f}) == 1
    assert _rows(table.read()) == {
        (1, "a", 10), (2, "b", 20), (3, "b", 30), (4, "b", 40)
    }
    # content-preserving: the feed across the partial compact is empty
    assert table.changes(v - 1, v).isEmpty()
    # nothing to do → no empty commit
    assert table.compact(partitions=[{"d": "zzz"}]) == v
    assert table.plan_compaction(min_files=2) == []


def test_partial_compact_materializes_tombstones_in_chosen_partition(
    spark, table
):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.merge(_df(spark, [(4, "b", 40)]), ["k"])
    table.delete_keys(spark.createDataFrame([(3,), (1,)], "k long"), ["k"])
    table.compact(partitions=[{"d": "b"}])
    man = table._load_manifest(table.latest_version())
    assert man["delete_files"]  # entries stay for the carried files
    assert _rows(table.read()) == {(2, "b", 20), (4, "b", 40)}
    # key 3's tombstone materialized in the rewritten partition; key
    # 1's still applies via the carried a-file's older commit version
    full = table.compact()
    assert not table._load_manifest(full)["delete_files"]
    assert _rows(table.read()) == {(2, "b", 20), (4, "b", 40)}


def test_partial_compact_accepts_partition_column_subset(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        ["k"],
        partition_by=["d", "k"],
    )
    table.merge(_df(spark, [(2, "a", 21)]), ["k"])
    before = set(table.files_for())
    b_files = {f for f in before if "__p_d=b" in f}
    # one dict naming only d compacts BOTH a-subpartitions
    table.compact(partitions=[{"d": "a"}])
    now = set(table.files_for())
    assert b_files <= now
    assert len({f for f in now if "__p_d=a" in f}) == 2  # one per (d,k)
    assert _rows(table.read()) == {(1, "a", 10), (2, "a", 21), (3, "b", 30)}


def test_partial_compact_with_clustering_enables_pruning(spark, table):
    rows = [(i, "b" if i % 2 else "a", i * 3) for i in range(64)]
    table.merge(_df(spark, rows), ["k"], partition_by=["d"])
    table.merge(_df(spark, [(99, "b", 999)]), ["k"])
    # cluster partition b on v while compacting ONLY it, splitting into
    # several files: bounds pruning on v must then drop b-files
    table.shard_threshold = 10**9
    table.compact(
        partitions=[{"d": "b"}],
        cluster_by=["v"],
        target_file_bytes=1,  # force multiple range-clustered files
    )
    files_all = table.files_for()
    b_files = [f for f in files_all if "__p_d=b" in f]
    assert len(b_files) > 1
    pruned = table.files_for(
        partition_filter={"d": "b"}, predicate=[("v", ">=", 900)]
    )
    assert len(pruned) < len(b_files)
    got = table.read(predicate=[("v", ">=", 900)]).filter(F.col("v") >= 900)
    assert _rows(got) == {(99, "b", 999)}


def test_null_count_predicate_pruning(spark, table):
    no_nulls = spark.createDataFrame(
        [Row(k=i, d="a", v=i) for i in range(4)]
    )
    all_null = spark.createDataFrame(
        [Row(k=10 + i, d="b", v=None) for i in range(4)],
        "k long, d string, v long",
    )
    mixed = spark.createDataFrame(
        [Row(k=20, d="c", v=None), Row(k=21, d="c", v=5)]
    )
    table.merge(
        no_nulls.unionByName(all_null).unionByName(mixed),
        ["k"],
        partition_by=["d"],
    )
    files = table.files_for()
    # IS NULL prunes the provably-null-free file only
    isnull = table.files_for(predicate=[("v", "is_null", None)])
    assert not any("__p_d=a" in f for f in isnull)
    assert any("__p_d=b" in f for f in isnull)
    assert any("__p_d=c" in f for f in isnull)
    # IS NOT NULL prunes the provably-all-null file only
    notnull = table.files_for(predicate=[("v", "not_null", None)])
    assert not any("__p_d=b" in f for f in notnull)
    assert any("__p_d=a" in f for f in notnull)
    assert len(isnull) < len(files) and len(notnull) < len(files)
    # read + row filter stays correct over the pruned scan
    got = table.read(predicate=[("v", "not_null", None)]).filter(
        F.col("v").isNotNull()
    )
    assert got.count() == 5


# --- round 7: field-id schema evolution (rename / drop / widen / add) ------


def test_rename_column_metadata_only_and_time_travel(spark, table):
    """RENAME is one manifest commit: old files (physical old name)
    read under the new name via field ids, a merge after the rename
    works against the new schema, and time travel to a pre-rename
    version still shows the old name."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    files_before = set(table.files_for())
    v = table.rename_column("v", "amount")
    assert set(table.files_for()) == files_before  # no data churn
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}
    assert table.read().columns == ["k", "d", "amount"]
    # time travel: the pre-rename snapshot keeps its own schema
    assert table.read(version=1).columns == ["k", "d", "v"]
    assert _rows(table.read(version=1)) == {(1, "a", 10), (2, "b", 20)}
    # merge AFTER the rename: new schema in, old files still join in
    table.merge(
        spark.createDataFrame([Row(k=2, d="b", amount=99), Row(k=3, d="c", amount=30)]),
        ["k"],
    )
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 99), (3, "c", 30)}
    assert table.read().columns == ["k", "d", "amount"]
    # history shows the metadata-only commit
    assert table.history()[v - 1]["operation"] == "rename-column"


def test_rename_then_filter_and_changes_use_endpoint_names(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.rename_column("v", "amount")
    table.merge(
        spark.createDataFrame([Row(k=3, d="a", amount=30)]), ["k"]
    )
    got = table.read().filter(F.col("amount") > 15)
    assert _rows(got) == {(2, "b", 20), (3, "a", 30)}
    feed = table.changes(1)  # span crosses the rename
    assert "amount" in feed.columns and "v" not in feed.columns
    ins = {tuple(r) for r in feed.filter("_change_type = 'insert'").drop("_change_type").collect()}
    assert ins == {(3, "a", 30)}


def test_drop_column_never_resurrects_on_readd(spark, table):
    """The Iceberg field-id guarantee: after DROP, re-adding the same
    NAME mints a new id, so the dropped column's bytes stay invisible
    for old rows while new writes populate the new column."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.drop_column("v")
    assert table.read().columns == ["k", "d"]
    table.add_column("v", "bigint")
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: None, 2: None}  # old bytes NOT resurrected
    table.merge(
        spark.createDataFrame([Row(k=1, d="a", v=111)]), ["k"]
    )
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: 111, 2: None}
    # pre-drop time travel still shows the original values
    assert _rows(table.read(version=1)) == {(1, "a", 10), (2, "b", 20)}


def test_widen_column_int_to_long_metadata_only(spark, table):
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, d string, v int")
    table.write(df)
    files_before = set(table.files_for())
    table.widen_column("v", "bigint")
    assert set(table.files_for()) == files_before
    assert dict(table.read().dtypes)["v"] == "bigint"
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}
    # merge a value that needs the wide type; old narrow files coexist
    table.merge(
        spark.createDataFrame([(3, "c", 5_000_000_000)], "k int, d string, v long"),
        ["k"],
    )
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20), (3, "c", 5_000_000_000)}
    # float -> double too; narrowing refused
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("v", "int")


def test_evolution_guards(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10)]), ["k"], partition_by=["d"]
    )
    with pytest.raises(ValueError, match="partition spec"):
        table.rename_column("d", "dd")
    with pytest.raises(ValueError, match="partition spec"):
        table.drop_column("d")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("v", "k")
    with pytest.raises(ValueError, match="no column"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        table.add_column("v", "int")
    # bloom columns are pinned
    t2 = VersionedParquetTable(spark, str(table.path) + "_b")
    t2.write(
        spark.createDataFrame([(1, 1)], "k long, v long"),
        bloom_columns=["k"],
    )
    with pytest.raises(ValueError, match="bloom"):
        t2.rename_column("k", "kk")
    # delete-key columns can't drop until compacted
    t3 = VersionedParquetTable(spark, str(table.path) + "_d")
    t3.write(spark.createDataFrame([(1, 5), (2, 6)], "k long, v long"))
    t3.delete_keys(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError, match="delete"):
        t3.drop_column("k")


def test_rename_keeps_mor_delete_entries_applying(spark, table):
    """A rename re-keys live merge-on-read delete entries to the new
    logical name while their key parquets keep the old physical name
    (file_cols) — the tombstones keep applying."""
    table.write(_df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    table.delete_keys(spark.createDataFrame([(2,)], "k bigint"), ["k"])
    assert _rows(table.read()) == {(1, "a", 10), (3, "c", 30)}
    table.rename_column("k", "key_id")
    assert table.read().columns == ["key_id", "d", "v"]
    assert _rows(table.read()) == {(1, "a", 10), (3, "c", 30)}
    # and a delete AFTER the rename works under the new name
    table.delete_keys(spark.createDataFrame([(3,)], "key_id bigint"), ["key_id"])
    assert _rows(table.read()) == {(1, "a", 10)}


def test_evolution_compact_collapses_epochs(spark, table):
    """compact() rewrites every live file at the current epoch: the
    sparse file->epoch map empties and reads collapse back to one
    scan group, values identical."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.rename_column("v", "amount")
    table.merge(spark.createDataFrame([Row(k=3, d="c", amount=30)]), ["k"])
    before = _rows(table.read())
    v = table.compact()
    root = table._load_root(v)
    assert root.get("file_sids") == {}
    assert _rows(table.read()) == before
    assert table.read().columns == ["k", "d", "amount"]


def test_rollback_within_evolution_keeps_fids_monotone(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])       # v1
    table.rename_column("v", "amount")                    # v2
    table.merge(spark.createDataFrame([Row(k=2, d="b", amount=20)]), ["k"])  # v3
    v = table.rollback(2)
    assert table.read().columns == ["k", "d", "amount"]
    assert _rows(table.read()) == {(1, "a", 10)}
    # fids stay monotone across the restore: a new column never reuses
    # a forgotten epoch's id
    table.add_column("extra", "int")
    root = table._load_root(table.latest_version())
    fids = [
        (f["name"], f["metadata"]["fid"])
        for f in root["schema"]["fields"]
    ]
    assert len({fid for _n, fid in fids}) == len(fids)


def test_widen_decimal_precision_same_scale_only(spark, table):
    df = spark.createDataFrame(
        [(1, "a", 10)], "k int, d string, v int"
    ).withColumn("v", F.col("v").cast("decimal(10,2)"))
    table.write(df)
    table.widen_column("v", "decimal(20,2)")
    assert dict(table.read().dtypes)["v"] == "decimal(20,2)"
    assert {str(r["v"]) for r in table.read().collect()} == {"10.00"}
    table.merge(
        spark.createDataFrame([(2, "b", "123456789012345678.99")], "k int, d string, v string")
        .withColumn("v", F.col("v").cast("decimal(20,2)")),
        ["k"],
    )
    assert table.read().count() == 2
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("v", "decimal(20,4)")  # scale change refused
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("v", "decimal(10,2)")  # narrowing refused


def test_evolve_merge_add_column_on_epoch_tracked_table(spark, table):
    """merge(evolve_schema=True) on a table that already tracks schema
    epochs: the added column mints a fresh field id and bumps the
    epoch; files from all three epochs read together."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.rename_column("v", "amount")  # epoch 1
    table.merge(
        spark.createDataFrame(
            [Row(k=2, d="b", amount=99, note="hi"), Row(k=3, d="c", amount=30, note="yo")]
        ),
        ["k"],
        evolve_schema=True,
    )
    got = {(r["k"], r["amount"], r["note"]) for r in table.read().collect()}
    assert got == {(1, 10, None), (2, 99, "hi"), (3, 30, "yo")}
    root = table._load_root(table.latest_version())
    fids = [f["metadata"]["fid"] for f in root["schema"]["fields"]]
    assert len(set(fids)) == len(fids)
    assert root["schema_id"] == 2  # rename epoch + add-column epoch
    # time travel below both epochs
    assert _rows(table.read(version=1)) == {(1, "a", 10), (2, "b", 20)}


def test_changes_across_drop_emit_endpoint_schema(spark, table):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.drop_column("v")
    table.merge(spark.createDataFrame([Row(k=3, d="c")]), ["k"])
    feed = table.changes(1)
    assert set(feed.columns) == {"k", "d", "_change_type"}
    ins = {
        tuple(r)
        for r in feed.filter("_change_type='insert'").drop("_change_type").collect()
    }
    assert ins == {(3, "c")}


def test_inspect_files_reports_schema_epochs(spark, table):
    # partitioned: the post-rename merge touches only d=b, so d=a
    # files CARRY at epoch 0 while the rewrite lands at epoch 1
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    assert {r.schema_id for r in table.inspect("files").collect()} == {0}
    table.rename_column("v", "amount")
    table.merge(spark.createDataFrame([Row(k=3, d="b", amount=30)]), ["k"])
    by_part = {
        r.partition.split("=")[1]: r.schema_id
        for r in table.inspect("files").collect()
    }
    assert by_part["a"] == 0 and by_part["b"] == 1, by_part
    table.compact()
    assert {r.schema_id for r in table.inspect("files").collect()} == {1}


def test_schema_evolution_on_sharded_manifests(spark, table):
    """Epoch keys (schemas / file_sids / schema_id) live in the ROOT
    manifest even when the file list shards per partition fragment:
    rename + merge on a sharded table must keep fid-mapped reads,
    partition-filtered reads, and the carried/rewritten epoch split."""
    table.shard_threshold = 0
    table.merge(
        _df(spark, [(k * 10 + i, d, k) for k in range(1, 4) for i, d in enumerate(("a", "b"))]),
        ["k"],
        partition_by=["d"],
    )
    table.rename_column("v", "amount")
    root = table._load_root(table.latest_version())
    assert "shards" in root and "file_sids" in root and root["schema_id"] == 1
    table.merge(spark.createDataFrame([Row(k=99, d="b", amount=7)]), ["k"])
    got = table.read(partition_filter={"d": "b"})
    assert "amount" in got.columns
    assert (99, "b", 7) in _rows(got)
    # d=a carried at epoch 0, d=b rewritten at epoch 1
    sids = {
        r.partition.split("=")[1]: r.schema_id
        for r in table.inspect("files").collect()
    }
    assert sids == {"a": 0, "b": 1}, sids
    assert _rows(table.read(version=1)) == {
        (k * 10 + i, d, k) for k in range(1, 4) for i, d in enumerate(("a", "b"))
    }


def test_changes_snapshot_fallback_across_rename(spark, table):
    """The snapshot-diff fallback (vacuumed chain + differing
    tombstones) must fid-align the FROM snapshot to the endpoint
    schema when a rename happened inside the span — name-based
    alignment would null the renamed column and corrupt the feed."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.delete_keys(spark.createDataFrame([Row(k=1)]))  # v2
    table.rename_column("v", "amount")  # v3
    table.merge(spark.createDataFrame([Row(k=3, d="b", amount=30)]), ["k"])  # v4
    os.unlink(table._manifest_path(2))  # vacuumed middle with a delete
    plan = table.changes_plan(1, 4)
    assert plan["mode"] == "snapshot"
    feed = table.changes(1, 4)
    assert "amount" in feed.columns and "v" not in feed.columns
    got = {
        (r["_change_type"], r["k"], r["amount"]) for r in feed.collect()
    }
    # delete of k=1 must carry its VALUE (10) under the new name —
    # a name-based alignment would emit (delete, 1, None)
    assert got == {("delete", 1, 10), ("insert", 3, 30)}


def test_evolve_merge_readd_of_dropped_name_does_not_resurrect(spark, table):
    """Re-adding a dropped column via merge(evolve_schema=True) — not
    just add_column — must also mint a fresh field id: rows living in
    pre-drop files read NULL, never the dropped bytes."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.drop_column("v")
    table.merge(
        spark.createDataFrame([Row(k=3, d="c", v=333)]),
        ["k"],
        evolve_schema=True,
    )
    got = {r["k"]: r["v"] for r in table.read().collect()}
    # unpartitioned merge rewrote live rows under the new schema: the
    # old v values are gone from them too (they were dropped), only
    # the new source row carries the re-added column
    assert got == {1: None, 2: None, 3: 333}
    root = table._load_root(table.latest_version())
    fids = {f["name"]: f["metadata"]["fid"] for f in root["schema"]["fields"]}
    old = {f["name"]: f["metadata"]["fid"] for f in root["schemas"]["0"]["fields"]}
    assert fids["v"] != old["v"]  # fresh id, not the dropped one


def test_evolution_retries_after_concurrent_commit(spark, table, monkeypatch):
    """An evolution op losing the version race to a concurrent merge
    must re-derive from the winner's manifest and retry, like merge()
    does — the rename lands on top of the interloper's commit."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    real_publish = VersionedParquetTable._publish
    state = {"raced": False}

    def racing_publish(self, manifest):
        if not state["raced"] and manifest["operation"] == "rename-column":
            state["raced"] = True
            # interloper wins version 2 first
            interloper = VersionedParquetTable(spark, self.path)
            monkeypatch.setattr(VersionedParquetTable, "_publish", real_publish)
            interloper.merge(_df(spark, [(2, "b", 20)]), ["k"])
            monkeypatch.setattr(VersionedParquetTable, "_publish", racing_publish)
        return real_publish(self, manifest)

    monkeypatch.setattr(VersionedParquetTable, "_publish", racing_publish)
    v = table.rename_column("v", "amount")
    monkeypatch.setattr(VersionedParquetTable, "_publish", real_publish)
    assert v == 3  # merge won 2, rename retried onto 3
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}
    assert table.read().columns == ["k", "d", "amount"]


def test_dropped_column_stats_do_not_resurrect(spark, table):
    """Advice r7 (high): after drop + re-add of the same name, the
    dropped column's per-file stats (null_count==0) must NOT be
    consulted for the NEW field — pre-drop files are logically
    all-NULL under the fresh field id, so an is_null predicate must
    keep them."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.drop_column("v")
    root = table._load_root(table.latest_version())
    man = table._load_manifest(table.latest_version())
    assert "v" not in (root.get("stat_types") or {})
    assert all("v" not in per for per in man.get("stats", {}).values())
    table.add_column("v", "bigint")
    got = table.read(predicate=[("v", "is_null", None)])
    assert _rows(got) == {(1, "a", None), (2, "b", None)}
    assert set(table.files_for(predicate=[("v", "is_null", None)])) == set(
        table.files_for()
    )


def test_rename_rekeys_stats_for_pruning(spark, table):
    """Advice r7 (low): pre-rename files' min/max bounds must follow
    the column to its new name — same field id, same data — so bounds
    pruning keeps working instead of conservatively keeping every old
    file forever."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"], partition_by=None)
    table.merge(_df(spark, [(2, "b", 2000)]), ["k"])
    table.rename_column("v", "amount")
    man = table._load_manifest(table.latest_version())
    assert all("v" not in per for per in man["stats"].values())
    assert any("amount" in per for per in man["stats"].values())
    assert (table._load_root(table.latest_version())["stat_types"]).get(
        "amount"
    ) == "bigint"
    # bounds pruning now works on the renamed column across epochs:
    # only the file containing 2000 survives `amount > 100`
    pruned = table.files_for(predicate=[("amount", ">", 100)])
    assert len(pruned) < len(table.files_for())
    assert _rows(table.read(predicate=[("amount", ">", 100)])) == {
        (2, "b", 2000)
    }


def test_evolve_guard_reruns_on_retry(spark, table, monkeypatch):
    """Advice r7 (low): a concurrent commit that promotes the column
    into the bloom config between the guard check and the publish must
    still be refused — the guard re-runs inside the retry loop against
    the manifest actually being evolved."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    real_publish = VersionedParquetTable._publish
    state = {"raced": False}

    def racing_publish(self, manifest):
        if not state["raced"] and manifest["operation"] == "rename-column":
            state["raced"] = True
            interloper = VersionedParquetTable(spark, self.path)
            monkeypatch.setattr(
                VersionedParquetTable, "_publish", real_publish
            )
            # winner turns v into a bloom column
            interloper.write(
                _df(spark, [(1, "a", 10)]), bloom_columns=["v"]
            )
            monkeypatch.setattr(
                VersionedParquetTable, "_publish", racing_publish
            )
        return real_publish(self, manifest)

    monkeypatch.setattr(VersionedParquetTable, "_publish", racing_publish)
    with pytest.raises(ValueError, match="bloom"):
        table.rename_column("v", "amount")
    monkeypatch.setattr(VersionedParquetTable, "_publish", real_publish)
    assert table.read().columns == ["k", "d", "v"]


def test_delete_keys_retries_after_concurrent_commit(spark, table):
    """r7 verdict #3: delete_keys losing the version race replays
    against the winner's manifest instead of surfacing
    ConcurrentCommitError."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    other = VersionedParquetTable(spark, table.path)
    real_publish = table._publish
    raced = {"done": False}

    def publish_with_race(manifest):
        if not raced["done"] and manifest["operation"] == "delete":
            raced["done"] = True
            other.merge(_df(spark, [(5, "z", 50)]), ["k"])
        return real_publish(manifest)

    table._publish = publish_with_race
    try:
        v = table.delete_keys(spark.createDataFrame([Row(k=2)]))
    finally:
        table._publish = real_publish
    assert v == 3  # interloper won 2, delete retried onto 3
    assert _rows(table.read()) == {(1, "a", 10), (5, "z", 50)}


def test_set_partition_spec_retries_after_concurrent_commit(spark, table):
    """r7 verdict #3: spec evolution shares the same optimistic-retry
    contract as the schema-evolution ops."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    other = VersionedParquetTable(spark, table.path)
    real_publish = table._publish
    raced = {"done": False}

    def publish_with_race(manifest):
        if not raced["done"] and manifest["operation"] == "evolve-spec":
            raced["done"] = True
            other.merge(_df(spark, [(2, "b", 20)]), ["k"])
        return real_publish(manifest)

    table._publish = publish_with_race
    try:
        v = table.set_partition_spec(["d"])
    finally:
        table._publish = real_publish
    assert v == 3
    root = table._load_root(table.latest_version())
    assert root["partition_by"] == ["d"]
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20)}


def test_rollback_concurrent_commit_raises_descriptive(spark, table):
    """r7 verdict #3: rollback must NOT auto-replay over an
    interleaved commit (that would silently discard it); it raises a
    descriptive error telling the caller to re-decide."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    table.merge(_df(spark, [(2, "b", 20)]), ["k"])
    other = VersionedParquetTable(spark, table.path)
    real_publish = table._publish
    raced = {"done": False}

    def publish_with_race(manifest):
        if not raced["done"] and manifest["operation"] == "rollback":
            raced["done"] = True
            other.merge(_df(spark, [(9, "q", 90)]), ["k"])
        return real_publish(manifest)

    table._publish = publish_with_race
    try:
        with pytest.raises(ConcurrentCommitError, match="re-decide|rollback"):
            table.rollback(1)
    finally:
        table._publish = real_publish
    # the interleaved commit survives untouched
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20), (9, "q", 90)}


def _nested_df(spark, rows):
    """rows: (k, author, score:int, junk, m) -> k, comments ARRAY<STRUCT>, m
    — the reference's bronze top_comments shape (spark_jobs/schema.py:15-22)."""
    vals = ", ".join(
        f"({k}, '{a}', {s}, '{j}', {m})" for k, a, s, j, m in rows
    )
    return spark.sql(
        "SELECT k, array(named_struct('author', a, 'score', CAST(s AS INT),"
        " 'junk', j)) AS comments, m"
        f" FROM VALUES {vals} AS v(k, a, s, j, m)"
    )


def test_nested_evolution_rename_widen_add_drop(spark, table):
    """r7 verdict #2: rename/widen/add/drop on struct fields inside an
    ARRAY<STRUCT> are metadata-only; old files map by nested field id
    in the read projection."""
    table.merge(_nested_df(spark, [(1, "u1", 1, "x", 10), (2, "u2", 2, "x", 20)]), ["k"])
    # the first commit mints epoch 0 with fids on nested struct fields
    root = table._load_root(1)
    assert root["schema_id"] == 0 and root["file_sids"] == {}
    comments = next(f for f in root["schema"]["fields"] if f["name"] == "comments")
    elem_fids = [f["metadata"]["fid"] for f in comments["type"]["elementType"]["fields"]]
    top_fids = [f["metadata"]["fid"] for f in root["schema"]["fields"]]
    assert len(set(elem_fids + top_fids)) == len(elem_fids) + len(top_fids) == 6
    files_before = set(table.files_for())
    table.rename_column("comments.element.author", "user")
    table.widen_column("comments.element.score", "bigint")
    table.add_column("comments.element.flag", "boolean")
    table.drop_column("comments.element.junk")
    assert set(table.files_for()) == files_before  # metadata-only
    got = {r["k"]: r["comments"][0].asDict() for r in table.read().collect()}
    assert got == {
        1: {"user": "u1", "score": 1, "flag": None},
        2: {"user": "u2", "score": 2, "flag": None},
    }
    assert (
        dict(table.read().dtypes)["comments"]
        == "array<struct<user:string,score:bigint,flag:boolean>>"
    )
    # time travel across the evolution reads the ORIGINAL shape
    v1 = {r["k"]: r["comments"][0].asDict() for r in table.read(version=1).collect()}
    assert v1[1] == {"author": "u1", "score": 1, "junk": "x"}


def test_nested_evolution_merge_after_keeps_fids(spark, table):
    """A merge AFTER a nested evolution writes the new shape; both
    epochs read consistently and the nested fids survive the data
    commit (no spurious remap)."""
    table.merge(_nested_df(spark, [(1, "u1", 1, "x", 10)]), ["k"])
    table.rename_column("comments.element.author", "user")
    table.widen_column("comments.element.score", "bigint")
    new = spark.sql(
        "SELECT 2 AS k, array(named_struct('user', 'w2',"
        " 'score', CAST(200 AS BIGINT), 'junk', 'y')) AS comments, 99 AS m"
    )
    table.merge(new, ["k"])
    got = {r["k"]: r["comments"][0].asDict() for r in table.read().collect()}
    assert got == {
        1: {"user": "u1", "score": 1, "junk": "x"},
        2: {"user": "w2", "score": 200, "junk": "y"},
    }
    # the nested fids are still those of the original epoch
    root = table._load_root(table.latest_version())
    comments = next(
        f for f in root["schema"]["fields"] if f["name"] == "comments"
    )
    elem0 = next(
        f
        for f in table._load_root(2)["schemas"]["0"]["fields"]
        if f["name"] == "comments"
    )
    fid_of = lambda t, n: next(
        (ff["metadata"]["fid"] for ff in t["elementType"]["fields"] if ff["name"] == n),
        None,
    )
    assert fid_of(comments["type"], "user") == fid_of(elem0["type"], "author")
    # a write that changes a column's shape (string → struct,
    # array<string> → array<struct>) gives the new subtree fresh ids,
    # so a nested rename or a nested add afterwards maps old rows by id
    t2 = VersionedParquetTable(spark, table.path + "_shape")
    t2.write(spark.sql("SELECT 1 AS k, 'p' AS c, array('q') AS arr"))
    t2.write(
        spark.sql(
            "SELECT 1 AS k, named_struct('a', 'va', 'b', 'vb') AS c,"
            " array(named_struct('a', 'ea', 'b', 'eb')) AS arr"
        )
    )
    t2.rename_column("c.a", "x")
    t2.rename_column("arr.element.a", "y")
    row = t2.read().collect()[0].asDict(recursive=True)
    assert row["c"] == {"x": "va", "b": "vb"}
    assert row["arr"] == [{"y": "ea", "b": "eb"}]
    t2.merge(
        spark.sql(
            "SELECT 2 AS k, named_struct('x', 'wa', 'b', 'wb', 'z', 'wz') AS c,"
            " array(named_struct('y', 'fa', 'b', 'fb')) AS arr"
        ),
        ["k"],
        evolve_schema=True,
    )
    got = {r["k"]: r["c"].asDict() for r in t2.read().collect()}
    assert got == {
        1: {"x": "va", "b": "vb", "z": None},
        2: {"x": "wa", "b": "wb", "z": "wz"},
    }


def test_nested_drop_readd_does_not_resurrect(spark, table):
    """The Iceberg field-id guarantee holds INSIDE structs: a re-added
    nested name gets a fresh fid, so pre-drop element values never
    come back."""
    table.merge(_nested_df(spark, [(1, "secret", 1, "x", 10)]), ["k"])
    table.drop_column("comments.element.author")
    table.add_column("comments.element.author", "string")
    vals = [r["comments"][0]["author"] for r in table.read().collect()]
    assert vals == [None]
    # but time travel to before the drop still shows it
    assert (
        table.read(version=1).collect()[0]["comments"][0]["author"]
        == "secret"
    )


def test_nested_evolution_guards_and_errors(spark, table):
    table.merge(_nested_df(spark, [(1, "u1", 1, "x", 10)]), ["k"])
    with pytest.raises(ValueError, match="no field"):
        table.rename_column("comments.element.nope.deeper", "y")
    with pytest.raises(ValueError, match="no column"):
        table.drop_column("comments.element.nope")
    with pytest.raises(ValueError, match="bare field name"):
        table.rename_column("comments.element.author", "a.b")
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("comments.element.author", "bigint")
    with pytest.raises(ValueError, match="only field"):
        t2 = VersionedParquetTable(spark, table.path + "_one")
        t2.merge(
            spark.sql(
                "SELECT 1 AS k, named_struct('a', 'v') AS s"
            ),
            ["k"],
        )
        t2.drop_column("s.a")


def test_array_element_widen_via_pseudo_segment(spark, table):
    """widen_column('scores.element', 'bigint'): array<int> becomes
    array<long>; old files' narrow arrays cast element-wise."""
    df = spark.sql(
        "SELECT k, array(CAST(k AS INT), CAST(k*2 AS INT)) AS scores"
        " FROM VALUES (1), (2) AS v(k)"
    )
    table.merge(df, ["k"])
    table.widen_column("scores.element", "bigint")
    assert dict(table.read().dtypes)["scores"] == "array<bigint>"
    big = spark.sql(
        "SELECT 3 AS k, array(CAST(9999999999 AS BIGINT)) AS scores"
    )
    table.merge(big, ["k"])
    got = {r["k"]: r["scores"] for r in table.read().collect()}
    assert got == {1: [1, 2], 2: [2, 4], 3: [9999999999]}


def test_changes_feed_across_nested_evolution(spark, table):
    """changes() spanning a nested rename aligns both sides to the
    endpoint schema by nested fid — the CDC consumer sees the renamed
    shape for pre-rename rows."""
    table.merge(_nested_df(spark, [(1, "u1", 1, "x", 10)]), ["k"])
    table.rename_column("comments.element.author", "user")
    table.merge(_nested_df(spark, [(2, "u2", 2, "y", 20)]).selectExpr(
        "k",
        "transform(comments, c -> named_struct('user', c.author,"
        " 'score', c.score, 'junk', c.junk)) AS comments",
        "m",
    ), ["k"])
    feed = table.changes(1)
    rows = {
        (r["k"], r["_change_type"]): r["comments"][0].asDict()
        for r in feed.collect()
    }
    assert rows == {
        (2, "insert"): {"user": "u2", "score": 2, "junk": "y"},
    }


def test_map_value_struct_evolution(spark, table):
    """The dotted-path machinery reaches MAP value structs too:
    rename/add inside map<string, struct<...>>, mapped per-entry via
    transform_values in the read projection."""
    df = spark.sql(
        "SELECT k, map('a', named_struct('score', CAST(k AS INT),"
        " 'tag', 'x')) AS attrs FROM VALUES (1), (2) AS v(k)"
    )
    table.merge(df, ["k"])
    table.rename_column("attrs.value.score", "points")
    table.widen_column("attrs.value.points", "bigint")
    table.add_column("attrs.value.extra", "string")
    got = {
        r["k"]: r["attrs"]["a"].asDict() for r in table.read().collect()
    }
    assert got == {
        1: {"points": 1, "tag": "x", "extra": None},
        2: {"points": 2, "tag": "x", "extra": None},
    }
    # new-shape merge joins the old files under one logical schema
    table.merge(
        spark.sql(
            "SELECT 3 AS k, map('a', named_struct('points',"
            " CAST(300 AS BIGINT), 'tag', 'y', 'extra', 'E')) AS attrs"
        ),
        ["k"],
    )
    got = {
        r["k"]: r["attrs"]["a"].asDict() for r in table.read().collect()
    }
    assert got[3] == {"points": 300, "tag": "y", "extra": "E"}
    assert got[1] == {"points": 1, "tag": "x", "extra": None}


def test_map_key_widen_via_pseudo_segment(spark, table):
    """widen_column('m.key', 'bigint'): map<int,_> becomes
    map<bigint,_>; old files' narrow keys cast via transform_keys."""
    df = spark.sql(
        "SELECT k, map(CAST(k AS INT), concat('v', k)) AS m"
        " FROM VALUES (1), (2) AS v(k)"
    )
    table.merge(df, ["k"])
    table.widen_column("m.key", "bigint")
    assert dict(table.read().dtypes)["m"] == "map<bigint,string>"
    table.merge(
        spark.sql(
            "SELECT 3 AS k, map(CAST(8589934592 AS BIGINT), 'big') AS m"
        ),
        ["k"],
    )
    got = {r["k"]: dict(r["m"]) for r in table.read().collect()}
    assert got == {1: {1: "v1"}, 2: {2: "v2"}, 3: {8589934592: "big"}}


def test_zorder_clustered_compact_prunes_2d_box(spark, table):
    """compact(cluster_by=[morton key]) must make a 2-D box predicate
    prune files on BOTH dimensions — strictly better than the
    unclustered layout of the same data (the single-column sort can
    only localize its leading dimension)."""
    from news_lakehouse_spark.operators.layout import morton_key

    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).cast("long").alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    table.merge(
        df.withColumn(
            "zkey", morton_key([F.col("x"), F.col("y")], bits=6)
        ).repartition(16),
        ["k"],
    )
    pred = [("x", "between", (0, 15)), ("y", "between", (0, 15))]
    n_files_before = len(table.files_for())
    n_box_before = len(table.files_for(predicate=pred))
    man = table._load_manifest(table.latest_version())
    total = sum(table._file_sizes(man["files"]).values())
    table.compact(
        target_file_bytes=max(total // 16, 1), cluster_by=["zkey"]
    )
    n_files_after = len(table.files_for())
    n_box_after = len(table.files_for(predicate=pred))
    # the random layout cannot prune (every file spans both ranges);
    # the z-ordered layout confines the box to a file subset
    assert n_box_before == n_files_before
    assert n_box_after < n_files_after, (n_box_after, n_files_after)
    # and the rows are intact
    got = table.read(predicate=pred).filter(
        F.col("x").between(0, 15) & F.col("y").between(0, 15)
    )
    assert got.count() == 256


def test_changes_span_crossing_rollback_and_later_evolution(spark, table):
    """advice r8 (high): rollback used to FORGET post-target epochs, so
    the next evolution re-issued the same schema id for a different
    schema, and a changes() span crossing the rollback then read
    pre-rollback files under wrong physical column names (silent
    NULLs). Epoch ids are now globally unique: the rollback manifest
    carries post-target epochs forward and evolution allocates past
    every known id."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])  # v1
    table.rename_column("v", "y")                                  # v2 (epoch 1)
    table.merge(spark.createDataFrame([Row(k=3, d="c", y=30)]), ["k"])  # v3
    table.rename_column("y", "z")                                  # v4 (epoch 2)
    table.merge(spark.createDataFrame([Row(k=4, d="d", z=40)]), ["k"])  # v5
    table.rollback(3)                                              # v6
    root6 = table._load_root(6)
    assert "2" in root6["schemas"]  # post-target epoch carried forward
    table.rename_column("y", "w")                                  # v7
    assert table._load_root(7)["schema_id"] == 3  # never reuses id 2
    table.merge(spark.createDataFrame([Row(k=5, d="e", w=50)]), ["k"])  # v8
    # span crossing the rollback: v5's epoch-2 file shows up ONLY on
    # the removed side (the rollback dropped it) — it must be read
    # under its real physical name (z) and fid-map to the endpoint
    # name (w), not null-fill
    ch = {
        (r["_change_type"], r["k"], r["w"])
        for r in table.changes(5, 8).collect()
    }
    assert ch == {("delete", 4, 40), ("insert", 5, 50)}


def test_mirror_chained_renames_apply_in_topo_order(spark, tmp_path):
    """advice r8 (medium): fid1 x→y where fid2 was y→z in the same
    span — the mirror must rename y away before x takes it (depth
    ordering alone raised 'column already exists')."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = spark.createDataFrame([Row(k=1, x=10, y=20)])
    src.write(df)
    rep.write(df)
    src.rename_column("y", "z")
    src.rename_column("x", "y")
    rep.mirror_evolution_from(src, 1)
    assert rep.read().columns == src.read().columns == ["k", "y", "z"]
    assert _rows(rep.read()) == _rows(src.read()) == {(1, 10, 20)}


def test_mirror_swap_breaks_cycle_and_replay_is_noop(spark, tmp_path):
    """advice r8 (medium): an x↔y swap within one span is a pure
    rename cycle — the mirror hops through a temp name. And a
    REPLAYED swap span (redelivered exactly-once batch) must be a
    no-op, which name-based preconditions cannot decide (the replica
    looks exactly like the pre-swap state): the (mirror_span,
    mirror_seq) commit properties adjudicate it."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = spark.createDataFrame([Row(k=1, x=10, y=20)])
    src.write(df)
    rep.write(df)
    src.rename_column("x", "t0")
    src.rename_column("y", "x")
    src.rename_column("t0", "y")  # net: x↔y swapped
    ops = rep.mirror_evolution_from(src, 1)
    assert len(ops) == 3  # temp hop + two renames
    assert rep.read().columns == src.read().columns == ["k", "y", "x"]
    assert _rows(rep.read()) == _rows(src.read())
    # replayed span: resumes past its own committed ops, changes nothing
    assert rep.mirror_evolution_from(src, 1) == []
    assert rep.read().columns == ["k", "y", "x"]
    assert _rows(rep.read()) == _rows(src.read())


def test_mirror_drop_frees_name_for_rename_and_add(spark, tmp_path):
    """advice r8 (medium): a span that drops y and renames x→y (or
    re-adds y with a new fid) must vacate the name first."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = spark.createDataFrame([Row(k=1, x=10, y=20)])
    src.write(df)
    rep.write(df)
    src.drop_column("y")
    src.rename_column("x", "y")
    ops = rep.mirror_evolution_from(src, 1)
    assert [o[0] for o in ops] == ["drop", "rename"]
    assert rep.read().columns == ["k", "y"]
    assert _rows(rep.read()) == {(1, 10)}
    # and a drop + same-name re-add: drop precedes add
    src2 = VersionedParquetTable(spark, str(tmp_path / "src2"))
    rep2 = VersionedParquetTable(spark, str(tmp_path / "rep2"))
    src2.write(df)
    rep2.write(df)
    src2.drop_column("y")
    src2.add_column("y", "string")
    ops2 = rep2.mirror_evolution_from(src2, 1)
    assert [o[0] for o in ops2] == ["drop", "add"]
    assert dict(rep2.read().dtypes)["y"] == "string"
    assert _rows(rep2.read()) == {(1, 10, None)}


def test_mirror_nested_chained_renames(spark, tmp_path):
    """Chained renames INSIDE a struct follow the same topo order."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = spark.createDataFrame([Row(k=1, s=Row(a=1, b=2))])
    src.write(df)
    rep.write(df)
    src.rename_column("s.b", "c")
    src.rename_column("s.a", "b")
    rep.mirror_evolution_from(src, 1)
    assert rep.read().schema["s"].dataType.fieldNames() == ["b", "c"]
    assert _rows(rep.read().select("k", "s.b", "s.c")) == {(1, 1, 2)}


def test_edit_beneath_map_key_refused_terminal_widen_ok():
    """advice r8 (low): fids aren't tracked inside map KEY types, so a
    structural edit beneath 'key' can't map by id on old files —
    refused loudly; widening the key primitive itself still works."""
    from news_lakehouse_spark.sources.transaction import _edit_type_path

    m = {
        "type": "map",
        "keyType": {
            "type": "struct",
            "fields": [
                {"name": "a", "type": "int", "nullable": True,
                 "metadata": {}}
            ],
        },
        "valueType": "int",
        "valueContainsNull": True,
    }
    with pytest.raises(ValueError, match="map KEY"):
        _edit_type_path(
            m, ["key", "a"], lambda fs, leaf: fs, lambda t: t
        )
    m2 = {
        "type": "map",
        "keyType": "int",
        "valueType": "int",
        "valueContainsNull": True,
    }
    out = _edit_type_path(m2, ["key"], None, lambda t: "bigint")
    assert out["keyType"] == "bigint"


def test_scaled_zorder_prunes_past_16bit_cardinality(spark, tmp_path):
    """r8 verdict #2: raw morton_key(bits=N) clusters by each value's
    low N bits only, so on a dimension whose domain exceeds 2^N (sf1+
    custkey, any real 100 TB key space) every file's REAL-value bounds
    span all the 2^N-replicas it contains — any range predicate wider
    than 2^N (or straddling a multiple of it) prunes NOTHING, and file
    locality in real key space is gone. scaled_morton_key min-max-
    buckets each dimension into the bit budget first, so pruning holds
    for every box width. Demonstrated with bits=8 on a 2^18 domain
    (the sf1-custkey shape) and a wide-but-selective box."""
    from news_lakehouse_spark.operators.layout import (
        column_bounds,
        morton_key,
        scaled_morton_key,
    )

    n, dom, bits = 60_000, 1 << 18, 8
    base = (
        spark.range(n)
        .select(
            (F.col("id") * 37 % dom).alias("x"),
            # independent of x (a correlated dim would let bounds
            # prune by accident and mask the comparison)
            (F.abs(F.xxhash64(F.col("id"))) % dom).alias("y"),
        )
    )
    # wide box: selective (1/16 of the area) but wider than 2^bits in
    # each dimension, so low-bit congruence classes cannot express it
    hi = dom // 4 - 1
    pred = [("x", "between", (0, hi)), ("y", "between", (0, hi))]

    def build(name, key_col):
        t = VersionedParquetTable(spark, str(tmp_path / name))
        t.write(base.withColumn("zkey", key_col))
        man = t._load_manifest(t.latest_version())
        total = sum(t._file_sizes(man["files"]).values())
        t.compact(target_file_bytes=max(total // 16, 1), cluster_by=["zkey"])
        return t, len(t.files_for()), len(t.files_for(predicate=pred))

    bounds = column_bounds(base, ["x", "y"])
    _t1, n_all, n_box = build(
        "scaled", scaled_morton_key(["x", "y"], bounds, bits=bits)
    )
    assert n_box < n_all, (n_box, n_all)  # pruning holds past 2^bits
    # and the box is genuinely selective, not one-file-less
    assert n_box <= n_all // 2, (n_box, n_all)
    # raw masking: the wide box wraps in masked space → zero pruning
    _t2, r_all, r_box = build("raw", morton_key(["x", "y"], bits=bits))
    assert r_box == r_all, (r_box, r_all)
    # correctness is identical either way (residual filter)
    got = _t1.read(predicate=pred).filter(
        F.col("x").between(0, hi) & F.col("y").between(0, hi)
    )
    assert got.count() == base.filter(
        F.col("x").between(0, hi) & F.col("y").between(0, hi)
    ).count()


def test_mirror_partition_spec_opt_in(spark, tmp_path):
    """Layout stays a per-table choice by default (mirror copies
    schema ops only); a replica operator that wants the source's
    clustering intent opts in and gets an idempotent, metadata-only
    spec clone (r8 verdict missing #3)."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = _df(spark, [(1, "a", 10), (2, "b", 20)])
    src.write(df)
    rep.write(df)
    src.set_partition_spec(["d"])
    rep.mirror_evolution_from(src, 1)  # default: spec NOT copied
    assert rep._load_manifest(rep.latest_version())["partition_by"] == []
    rep.mirror_evolution_from(src, 1, include_partition_spec=True)
    assert (
        rep._load_manifest(rep.latest_version())["partition_by"] == ["d"]
    )
    # naturally idempotent: an unchanged spec commits nothing new
    v = rep.latest_version()
    assert rep.mirror_partition_spec_from(src) == v
    assert rep.latest_version() == v
    # replica keeps working under the cloned spec
    rep.merge(_df(spark, [(3, "c", 30)]), ["k"])
    assert _rows(rep.read()) == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}


def test_mirror_partition_spec_after_rename(spark, tmp_path):
    """A span that renames a column and then re-specs on the NEW name:
    the schema ops mirror first, so the endpoint-name spec resolves on
    the replica; the spec names a column the replica now carries."""
    src = VersionedParquetTable(spark, str(tmp_path / "src"))
    rep = VersionedParquetTable(spark, str(tmp_path / "rep"))
    df = _df(spark, [(1, "a", 10)])
    src.write(df)
    rep.write(df)
    src.rename_column("d", "cat")
    src.set_partition_spec(["cat"])
    rep.mirror_evolution_from(src, 1, include_partition_spec=True)
    assert rep.read().columns == src.read().columns
    assert (
        rep._load_manifest(rep.latest_version())["partition_by"]
        == ["cat"]
    )
    # an empty source spec mirrors back to unpartitioned too
    src.set_partition_spec(None)
    rep.mirror_partition_spec_from(src)
    assert rep._load_manifest(rep.latest_version())["partition_by"] == []


def test_append_is_fast_and_carries_files(spark, table):
    """append() = Iceberg AppendFiles: parent files carry BY REFERENCE
    (no rewrite — old file paths survive verbatim in the new manifest)
    and only the new files are written."""
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    man1 = table._load_manifest(1)
    v2 = table.append(_df(spark, [(3, "c", 30)]))
    assert v2 == 2
    man2 = table._load_manifest(2)
    assert set(man1["files"]) < set(man2["files"])  # strict superset
    assert table.history()[-1]["operation"] == "append"
    assert _rows(table.read()) == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
    # carried files keep their stats by reference
    for rel in man1["files"]:
        assert man2["stats"].get(rel) == man1["stats"].get(rel)
    # and the change feed sees a pure insert span
    ch = {(r["_change_type"], r["k"]) for r in table.changes(1, 2).collect()}
    assert ch == {("insert", 3)}


def test_append_rejects_schema_drift(spark, table):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    with pytest.raises(ValueError, match="missing.*unexpected"):
        table.append(
            spark.createDataFrame([Row(k=2, d="b", other=5)])
        )


def test_append_partitioned_lays_out_under_committed_spec(spark, table):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"],
                partition_by=["d"])
    table.append(_df(spark, [(3, "b", 30), (4, "c", 40)]))
    man = table._load_manifest(table.latest_version())
    frags = {f.split("/")[-2] for f in man["files"] if "__p_" in f}
    assert {"__p_d=a", "__p_d=b", "__p_d=c"} <= frags
    # partition-pruned read still exact
    assert _rows(table.read(partition_filter={"d": "b"})) == {
        (2, "b", 20), (3, "b", 30),
    }


def test_append_creates_table(spark, table):
    v = table.append(_df(spark, [(1, "a", 10)]))
    assert v == 1
    assert _rows(table.read()) == {(1, "a", 10)}


def test_metadata_aggregate_exact_counts_and_bounds(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]),
        ["k"],
        partition_by=["d"],
    )
    # second commit carries partition a's file by reference
    table.merge(_df(spark, [(4, "b", 40)]), ["k"])
    agg = table.metadata_aggregate(["k", "v", "d"])
    assert agg["count_rows"] == 4
    assert agg["columns"]["k"] == {
        "count": 4, "min": 1, "max": 4, "exact_bounds": True
    }
    assert agg["columns"]["v"]["min"] == 10
    assert agg["columns"]["v"]["max"] == 40
    # short strings: never truncated -> exact
    assert agg["columns"]["d"] == {
        "count": 4, "min": "a", "max": "b", "exact_bounds": True
    }
    # partition filter answered from metadata (partition b: keys 2, 4)
    sub = table.metadata_aggregate(["k"], partition_filter={"d": "b"})
    assert sub["count_rows"] == 2
    assert sub["columns"]["k"]["min"] == 2
    assert sub["columns"]["k"]["max"] == 4
    # time travel
    v1 = table.metadata_aggregate(["k"], version=1)
    assert v1["count_rows"] == 3 and v1["columns"]["k"]["max"] == 3


def test_metadata_aggregate_nulls_and_float_inexact(spark, table):
    df = spark.createDataFrame(
        [Row(k=1, d="a", x=1.5), Row(k=2, d="a", x=None), Row(k=3, d="b", x=7.25)]
    )
    table.merge(df, ["k"])
    agg = table.metadata_aggregate(["x"])
    assert agg["count_rows"] == 3
    col = agg["columns"]["x"]
    assert col["count"] == 2  # non-null
    # float bounds are one-ulp widened: bracket, flagged inexact
    assert col["min"] <= 1.5 <= 7.25 <= col["max"]
    assert col["exact_bounds"] is False


def test_metadata_aggregate_refuses_mor_and_evolved_partitions(spark, table):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.delete_keys(spark.createDataFrame([Row(k=1)]), ["k"])
    with pytest.raises(ValueError, match="merge-on-read"):
        table.metadata_aggregate()
    # compact materializes tombstones -> metadata counts exact again
    table.compact()
    assert table.metadata_aggregate()["count_rows"] == 1
    # a filter column never in any file's path cannot be answered
    with pytest.raises(ValueError, match="does not carry partition column"):
        table.metadata_aggregate(partition_filter={"v": 10})


def test_metadata_aggregate_refuses_statless_column(spark, table):
    import pyspark.sql.functions as SF

    table.merge(
        _df(spark, [(1, "a", 10)]).withColumn(
            "arr", SF.array(SF.lit(1))
        ),
        ["k"],
    )
    with pytest.raises(ValueError, match="no usable stats"):
        table.metadata_aggregate(["arr"])


def test_clone_zero_copy_and_fully_independent(spark, table, tmp_path):
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "a", 30)]),
        ["k"],
        partition_by=["d"],
    )
    table.merge(_df(spark, [(4, "b", 40)]), ["k"])
    clone = table.clone(str(tmp_path / "clone"), properties={"who": "dev"})
    assert _rows(clone.read()) == _rows(table.read())
    # first clone commit lands AT the source version (2), so commit
    # numbers embedded in carried file paths keep their meaning
    assert clone.latest_version() == 2 and len(clone.versions()) == 1
    props = clone.snapshot_properties(2)
    assert props["who"] == "dev"
    assert props["clone_source_version"] == "2"
    assert clone.history()[0]["operation"] == "clone"
    # zero-copy: the shared file is ONE inode with two links
    rel = clone._load_manifest(2)["files"][0]
    src_st = os.stat(os.path.join(table.path, rel))
    dst_st = os.stat(os.path.join(clone.path, rel))
    assert (src_st.st_ino, src_st.st_dev) == (dst_st.st_ino, dst_st.st_dev)
    assert src_st.st_nlink >= 2
    # divergence: each side commits independently
    clone.merge(_df(spark, [(5, "c", 50)]), ["k"])
    table.merge(_df(spark, [(6, "c", 60)]), ["k"])
    assert (5, "c", 50) in _rows(clone.read())
    assert (5, "c", 50) not in _rows(table.read())
    assert (6, "c", 60) not in _rows(clone.read())
    # the Delta footgun: vacuum + destructive rewrite on the SOURCE
    # must not break the clone (hardlinks, not path references)
    table.merge(_df(spark, [(1, "a", 99)]), ["k"])  # rewrites partition a
    table.compact()
    table.vacuum(keep_last=1, grace_seconds=0)
    assert (1, "a", 10) in _rows(clone.read())  # pre-clone value intact
    # and vacuuming the clone leaves the source intact
    clone.compact()
    clone.vacuum(keep_last=1, grace_seconds=0)
    assert (1, "a", 99) in _rows(table.read())
    # stats carried: metadata aggregates work on the clone
    assert clone.metadata_aggregate(["k"])["columns"]["k"]["max"] == 5


def test_clone_carries_mor_tombstones_and_refuses_nonempty(spark, table, tmp_path):
    table.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    table.delete_keys(spark.createDataFrame([Row(k=1)]), ["k"])
    clone = table.clone(str(tmp_path / "c2"))
    # the tombstone applies in the clone (same path-version fencing)
    assert _rows(clone.read()) == {(2, "b", 20)}
    with pytest.raises(ValueError, match="already has commits"):
        table.clone(str(tmp_path / "c2"))


def test_clone_preserves_schema_epochs(spark, table, tmp_path):
    table.merge(_df(spark, [(1, "a", 10)]), ["k"])
    table.rename_column("v", "val")
    table.merge(
        spark.createDataFrame([Row(k=2, d="b", val=20)]), ["k"]
    )
    clone = table.clone(str(tmp_path / "c3"))
    # the old-epoch file (written under 'v') projects as 'val'
    assert _rows(clone.read()) == {(1, "a", 10), (2, "b", 20)}
    assert "val" in clone.read().columns
    # the clone can evolve onward without fid collisions
    clone.rename_column("val", "value")
    assert _rows(clone.read()) == {(1, "a", 10), (2, "b", 20)}


def test_clone_of_sharded_manifest_reads_and_reshards(spark, table, tmp_path):
    table.shard_threshold = 2  # force per-partition manifest shards
    table.merge(
        _df(spark, [(i, f"p{i % 4}", i * 10) for i in range(8)]),
        ["k"],
        partition_by=["d"],
    )
    assert "shards" in table._load_root(1)
    clone = table.clone(str(tmp_path / "cs"))
    # the clone must not reference the SOURCE's shard files
    croot = clone._load_root(clone.latest_version())
    assert _rows(clone.read()) == _rows(table.read())
    if "shards" in croot:  # resharded under the clone's own dir
        for s in croot["shards"]:
            assert os.path.exists(
                os.path.join(clone._manifest_dir(), s["path"])
            )
    # partition-filtered read works off the clone's own metadata
    assert len(clone.read(partition_filter={"d": "p1"}).collect()) == 2


def test_clone_mor_fencing_survives_new_clone_commits(spark, table, tmp_path):
    """Carried tombstones must never swallow rows committed AFTER the
    clone. Tombstone fencing compares the commit number embedded in
    each data file's path against the delete entry's version — if the
    clone restarted numbering at 1, its second commit (c2) would sort
    BEFORE a carried source tombstone from v3 and lose the fresh rows.
    Partitioned on purpose: a partitioned merge CARRIES parent delete
    entries (an unpartitioned merge rewrites every file and drops
    them, which would mask the collision)."""
    table.merge(
        _df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"], partition_by=["d"]
    )
    table.merge(_df(spark, [(3, "a", 30)]), ["k"])           # v2
    table.delete_keys(spark.createDataFrame([Row(k=1)]), ["k"])  # v3
    clone = table.clone(str(tmp_path / "cf"))
    assert _rows(clone.read()) == {(2, "b", 20), (3, "a", 30)}
    # re-insert the tombstoned key in the CLONE: a later commit wins
    clone.merge(_df(spark, [(1, "a", 99)]), ["k"])
    assert (1, "a", 99) in _rows(clone.read())


def test_clone_epoch_attribution_survives_new_clone_commits(spark, table, tmp_path):
    """Carried old-epoch files must keep their file_sids mapping when
    the clone commits. Epoch attribution skips only files written by
    THIS commit (path prefix c{version}); with restarted numbering the
    clone's commit 2 would claim the SOURCE's carried c2 files as its
    own, dropping their mapping and misreading the renamed column.
    Partitioned so the clone's merge (into partition c) carries the
    source's old-epoch files in a and b instead of rewriting them."""
    table.merge(_df(spark, [(1, "a", 10)]), ["k"], partition_by=["d"])
    table.merge(_df(spark, [(2, "b", 20)]), ["k"])            # v2
    table.rename_column("v", "val")                           # v3
    clone = table.clone(str(tmp_path / "ce"))
    clone.merge(spark.createDataFrame([Row(k=3, d="c", val=30)]), ["k"])
    got = {
        (r["k"], r["d"], r["val"]) for r in clone.read().collect()
    }
    assert got == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}


# --- hidden partitioning: transform specs (partition_spec.py) -------------


def _hp_df(spark, n=400):
    import datetime as dt

    return spark.createDataFrame(
        [
            Row(
                k=i,
                ts=dt.datetime(1995, 1 + (i * 7) % 12, 1 + i % 28, i % 24),
                cust=i % 37,
                tag=f"PRI{i % 5}-x{i}",
                v=float(i),
            )
            for i in range(n)
        ]
    )


def test_transform_spec_roundtrip_and_paths(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.write(df, partition_by=["months(ts)", "bucket(4, cust)"])
    # raw data untouched, derived values only in paths
    assert _rows(t.read()) == _rows(df)
    assert t.read().columns == df.columns
    frags = {f for rel in t.files_for() for f in rel.split("/") if f.startswith("__p_")}
    assert any(f.startswith("__p_ts_month=1995-0") for f in frags)
    assert any(f.startswith("__p_cust_bucket4=") for f in frags)


def test_transform_parse_errors(spark):
    from news_lakehouse_spark.sources.partition_spec import parse_partition_spec

    with pytest.raises(ValueError, match="unknown partition transform"):
        parse_partition_spec(["frobnicate(ts)"])
    with pytest.raises(ValueError, match="needs a width"):
        parse_partition_spec(["bucket(ts)"])
    with pytest.raises(ValueError, match="one column argument"):
        parse_partition_spec(["days(3, ts)"])
    with pytest.raises(ValueError, match="duplicate"):
        parse_partition_spec(["days(ts)", "day(ts)"])
    # identity entries parse through untouched
    [f] = parse_partition_spec(["plain_col"])
    assert f.transform == "identity" and f.name == f.source == "plain_col"


def test_hidden_pruning_from_raw_predicates(spark, tmp_path):
    import datetime as dt

    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    t.write(_hp_df(spark), partition_by=["days(ts)", "bucket(4, cust)"])
    all_f = t.files_for()
    # raw timestamp range → day-fragment pruning, no field name needed
    pred = [("ts", "between", (dt.datetime(1995, 2, 1), dt.datetime(1995, 2, 28, 23)))]
    kept = t.files_for(predicate=pred)
    assert 0 < len(kept) < len(all_f)
    assert all("__p_ts_day=1995-02-" in rel for rel in kept)
    # raw equality on the bucketed column → single-bucket pruning
    kept_b = t.files_for(predicate=[("cust", "=", 7)])
    buckets = {rel.split("__p_cust_bucket4=")[1].split("/")[0] for rel in kept_b}
    assert len(buckets) == 1
    # rows still exact through read(predicate) + row filter
    got = t.read(predicate=[("cust", "=", 7)]).filter(F.col("cust") == 7)
    exp = _hp_df(spark).filter(F.col("cust") == 7)
    assert _rows(got) == _rows(exp)


def test_truncate_transform_int_and_string(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    t.write(_hp_df(spark), partition_by=["truncate(100, k)", "truncate(4, tag)"])
    assert _rows(t.read()) == _rows(_hp_df(spark))
    kept = t.files_for(predicate=[("k", "between", (0, 99))])
    assert {rel.split("__p_k_trunc100=")[1].split("/")[0] for rel in kept} == {"0"}
    kept_s = t.files_for(predicate=[("tag", "=", "PRI3-x8")])
    assert {rel.split("__p_tag_trunc4=")[1].split("/")[0] for rel in kept_s} == {"PRI3"}


def test_transform_merge_locality(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.merge(df, ["k"], partition_by=["months(ts)"])
    before = set(t.files_for())
    feb = df.filter(F.date_format("ts", "yyyy-MM") == "1995-02").withColumn(
        "v", F.col("v") * 2
    )
    t.merge(feb, ["k"])
    rewritten = before - set(t.files_for())
    months = {
        rel.split("__p_ts_month=")[1].split("/")[0] for rel in rewritten
    }
    assert months == {"1995-02"}
    got = t.read()
    exp = df.withColumn(
        "v",
        F.when(
            F.date_format("ts", "yyyy-MM") == "1995-02", F.col("v") * 2
        ).otherwise(F.col("v")),
    )
    assert _rows(got) == _rows(exp)


def test_transform_partition_filter_and_metadata_agg(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.write(df, partition_by=["months(ts)"])
    got = t.read(partition_filter={"ts_month": "1995-03"})
    exp = df.filter(F.date_format("ts", "yyyy-MM") == "1995-03")
    assert _rows(got) == _rows(exp)
    ma = t.metadata_aggregate(["v"], partition_filter={"ts_month": "1995-03"})
    assert ma["count_rows"] == exp.count()
    with pytest.raises(ValueError, match="not in the"):
        t.files_for(partition_filter={"nope_month": "1995-03"})


def test_transform_spec_evolution_and_compensation(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.merge(df, ["k"], partition_by=["truncate(100, k)"])
    t.set_partition_spec(["days(ts)"])
    # old-spec files lack __p_ts_day → kept conservatively, read()
    # compensates with the TRANSFORM row filter on the raw column
    got = t.read(partition_filter={"ts_day": "1995-03-15"})
    exp = df.filter(F.date_format("ts", "yyyy-MM-dd") == "1995-03-15")
    assert _rows(got) == _rows(exp)
    # a merge migrates only what it touches, into the new day layout
    upd = exp.withColumn("v", F.col("v") + 1000)
    t.merge(upd, ["k"])
    day_files = t.files_for(partition_filter={"ts_day": "1995-03-15"})
    assert any("__p_ts_day=1995-03-15" in rel for rel in day_files)
    with pytest.raises(ValueError, match="not in the"):
        t.set_partition_spec(["days(missing_col)"])


def test_bucket_param_respec_no_stale_pruning(spark, tmp_path):
    """ADVICE r10 (high): respec bucket(4,cust) -> bucket(8,cust) must
    not let fragment tests compare new-param bucket values against
    old-param path segments.  Param-in-field-name (cust_bucket4 vs
    cust_bucket8) makes old files segment-absent for the new field, so
    pruning keeps them conservatively and merges still see overlaps."""
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.merge(df, ["k"], partition_by=["bucket(4, cust)"])
    old_files = set(t.files_for())
    t.set_partition_spec(["bucket(8, cust)"])
    # point lookup on the raw column: every old-spec file lacks
    # __p_cust_bucket8 → all kept (conservative), rows exact
    kept = t.files_for(predicate=[("cust", "=", 7)])
    assert old_files <= set(kept)
    got = t.read(predicate=[("cust", "=", 7)]).filter(F.col("cust") == 7)
    assert _rows(got) == _rows(df.filter(F.col("cust") == 7))
    # an upsert touching keys spread across old-spec files must not
    # leave duplicate keys (merge overlap selection sees old files)
    upd = df.filter(F.col("cust") == 7).withColumn("v", F.col("v") + 1e6)
    t.merge(upd, ["k"])
    out = t.read()
    assert out.count() == out.select("k").distinct().count()
    exp = df.withColumn(
        "v",
        F.when(F.col("cust") == 7, F.col("v") + 1e6).otherwise(F.col("v")),
    )
    assert _rows(out) == _rows(exp)
    # new-spec files carry the param-encoded segment
    new_frags = {
        seg
        for rel in t.files_for()
        for seg in rel.split("/")
        if seg.startswith("__p_cust_bucket8=")
    }
    assert new_frags


def test_transform_partial_compaction_plan(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "hp"))
    df = _hp_df(spark)
    t.write(df, partition_by=["months(ts)"])
    # small-file buildup in one month via appends
    feb = df.filter(F.date_format("ts", "yyyy-MM") == "1995-02")
    t.append(feb.withColumn("k", F.col("k") + 10_000))
    t.append(feb.withColumn("k", F.col("k") + 20_000))
    plan = t.plan_compaction(target_file_bytes=1 << 30)
    assert plan and all(set(p) == {"ts_month"} for p in plan)
    n_before = len(t.files_for())
    t.compact(partitions=plan, target_file_bytes=1 << 30)
    assert len(t.files_for()) < n_before
    assert t.read().count() == df.count() + 2 * feb.count()


# --- CHECK constraints (Delta ADD CONSTRAINT analog) -----------------------


def test_check_constraint_enforced_on_all_write_paths(spark, tmp_path):
    from news_lakehouse_spark.sources.transaction import (
        ConstraintViolationError,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, "a", 10), (2, "b", 20)]), ["k"])
    v = t.add_check_constraint("v_positive", "v > 0")
    assert t.constraints() == {"v_positive": "v > 0"}
    assert set(t.files_for()) == set(t.files_for(v - 1))  # metadata-only

    # merge / append / write all refuse violating rows, atomically
    before = t.latest_version()
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.merge(_df(spark, [(3, "c", -5)]), ["k"])
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.append(_df(spark, [(4, "d", 0)]))
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.write(_df(spark, [(5, "e", -1)]))
    assert t.latest_version() == before
    assert _rows(t.read()) == {(1, "a", 10), (2, "b", 20)}

    # passing rows commit; NULL passes (SQL CHECK semantics)
    t.merge(
        spark.createDataFrame(
            [Row(k=6, d="f", v=None)], "k int, d string, v int"
        ),
        ["k"],
    )
    assert t.read().count() == 3

    # constraints survive unrelated commits and rollback
    t.append(_df(spark, [(7, "g", 70)]))
    t.rollback(t.latest_version() - 1)
    assert t.constraints() == {"v_positive": "v > 0"}

    # drop lifts enforcement
    t.drop_check_constraint("v_positive")
    t.append(_df(spark, [(9, "i", -9)]))
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_check_constraint("v_positive")


def test_check_constraint_add_validates_existing_and_parses(spark, tmp_path):
    from news_lakehouse_spark.sources.transaction import (
        ConstraintViolationError,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.merge(_df(spark, [(1, "a", -10)]), ["k"])
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        t.add_check_constraint("v_positive", "v > 0")
    # validate=False skips the snapshot scan: future writes still guard
    t.add_check_constraint("v_positive", "v > 0", validate=False)
    with pytest.raises(ConstraintViolationError):
        t.append(_df(spark, [(2, "b", -1)]))
    # duplicate name and unresolvable expression both fail fast
    with pytest.raises(ValueError, match="already exists"):
        t.add_check_constraint("v_positive", "v >= 0")
    with pytest.raises(Exception, match="nope|resolve|RESOLVED"):
        t.add_check_constraint("bad", "nope_col > 0")


def test_constraint_added_concurrently_revalidated_in_retry(spark, tmp_path):
    """ADVICE r10: a concurrent add_check_constraint committing between
    a writer's validation and its publish must not let violating rows
    through the optimistic retry path (Delta treats this as a metadata
    conflict). append/merge revalidate against the winner's set."""
    from news_lakehouse_spark.sources.transaction import (
        ConstraintViolationError,
    )

    path = str(tmp_path / "t")
    a = VersionedParquetTable(spark, path)
    a.merge(_df(spark, [(1, "a", 10)]), ["k"])
    b = VersionedParquetTable(spark, path)

    def inject_constraint_once(orig):
        state = {"done": False}

        def hook(*args, **kw):
            if not state["done"]:
                state["done"] = True
                b.add_check_constraint("v_pos", "v > 0")
            return orig(*args, **kw)

        return hook

    # append: A validates against {} (no constraints), B's constraint
    # commit wins the race during A's file write, A's publish loses and
    # the retry must re-validate -> atomic refusal, nothing committed
    a._write_commit = inject_constraint_once(a._write_commit)
    before = b.latest_version()
    with pytest.raises(ConstraintViolationError, match="concurrently"):
        a.append(_df(spark, [(2, "b", -5)]))
    assert b.latest_version() == before + 1  # only the constraint commit
    assert _rows(b.read()) == {(1, "a", 10)}

    # merge: same interleaving through the merge retry loop
    b.drop_check_constraint("v_pos")
    c = VersionedParquetTable(spark, path)
    c._write_commit = inject_constraint_once(c._write_commit)
    with pytest.raises(ConstraintViolationError, match="concurrently"):
        c.merge(_df(spark, [(3, "c", -7)]), ["k"])
    assert _rows(b.read()) == {(1, "a", 10)}
    # a clean writer with passing rows still commits under the new set
    b2 = VersionedParquetTable(spark, path)
    b2.append(_df(spark, [(4, "d", 40)]))
    assert _rows(b2.read()) == {(1, "a", 10), (4, "d", 40)}


def test_check_constraint_guards_add_files(spark, tmp_path):
    from news_lakehouse_spark.sources.transaction import (
        ConstraintViolationError,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a", 10)]))
    t.add_check_constraint("v_positive", "v > 0")
    staged = str(tmp_path / "ext")
    _df(spark, [(2, "b", -2)]).coalesce(1).write.parquet(staged)
    parquets = [
        os.path.join(staged, n)
        for n in os.listdir(staged)
        if n.endswith(".parquet")
    ]
    with pytest.raises(ConstraintViolationError, match="add_files"):
        t.add_files(parquets)
    assert t.read().count() == 1
