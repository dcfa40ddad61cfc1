"""Manifest-based atomic commits + time travel for the parquet warehouse.

Closes the last non-environment-blocked fidelity gap vs the reference:
its MERGEs commit Iceberg snapshots (gcs_bronze_to_silver.py:50,457-475
registers IcebergSparkSessionExtensions and every MERGE INTO commits a
new table snapshot with read isolation + time travel). operators/merge.py
states MERGE as DataFrame rewrites; this module materializes them with
the Iceberg/Delta commit protocol on plain parquet, and it is the one
write path of every pipeline table (silver stream, gold refreshes,
``ParquetWarehouse``):

  table/
    _manifests/000000000001.json   # one immutable manifest per version
    _manifests/000000000002.json
    data/c000000000001-<nonce>/... # one immutable data dir per commit
    data/c000000000002-<nonce>/__p_date=2020-01-01/part-*.parquet

A manifest is the FULL list of live data files for that version (plus
the schema and partition spec). Commit protocol, in order:

  1. write new data files into a fresh commit directory (never touching
     live files);
  2. write the new manifest to a temp name;
  3. publish it with an atomic create-exclusive link to
     ``_manifests/{N}.json``.

The current version is simply the highest published manifest. A crash
at any point before step 3 leaves only orphan files that no manifest
references — every reader still sees the previous version clean (the
crash-injection test in tests/test_transaction.py). Two writers racing
to version N: exactly one link() wins, the loser gets
``ConcurrentCommitError`` and re-derives its merge from the winner's
snapshot (optimistic concurrency, same as Iceberg's metadata CAS and
Delta's LogStore create-exclusive).

Time travel: ``read(version=N)`` reads any retained manifest;
``history()`` lists them; ``vacuum(keep_last)`` drops old manifests and
deletes data files no retained manifest references.

Merge-on-read deletes: ``delete_keys(df)`` commits a small parquet of
key tuples (Iceberg v2 equality-delete analog) instead of rewriting
data files; reads apply them as a broadcast anti-join restricted to
files older than the tombstone (so later re-inserting merges win);
``compact()`` materializes and clears them. ``changes()`` composes them
per-commit so a feed across a delete emits exactly the tombstoned rows.

Named refs: ``tag(name)`` pins a version (``read(version="prod")``);
``vacuum`` retains tagged versions. Bloom sidecars (``write(...,
bloom_columns=[...])``, the Iceberg puffin analog) give point-lookup
file pruning that min/max bounds can't on unclustered keys. Each data
commit builds one sidecar over the files it wrote in one grouped pass,
sizing each file's bitmap from that file's distinct keys; the sidecar
stores its hash count k, and a manifest lists only the sidecars of
commits that still have a live file.

Partition-spec evolution: ``set_partition_spec`` is a metadata-only
commit; mixed-layout snapshots read correctly (conservative path
pruning + a pushed-down row filter) and merges migrate old-spec files
incrementally as they touch them. Maintenance: ``plan_compaction``
finds small-file buildup from the manifest alone and
``compact(partitions=...)`` rewrites only those partitions;
``inspect("snapshots"|"files"|"partitions")`` exposes the metadata as
DataFrames (the Iceberg metadata-table analog).

Field-id schema evolution: ``rename_column`` / ``drop_column`` /
``widen_column`` / ``add_column`` are metadata-only commits. Every
column, nested struct fields included, gets a stable field id in the
manifest schema's field metadata at the table's first commit (epoch
0); files pin to the schema EPOCH they were written under
(``schemas`` + ``file_sids`` manifest keys), and reads map physical
columns to the current logical schema by id — one scan group per live
epoch, so renames re-alias, widened types cast, dropped-then-re-added
names never resurrect old bytes, and time travel / change feeds across
an evolution stay correct. A table that never evolves has one epoch
and reads as a single scan with no projection.

Scale notes (100 TB): manifests are driver-side JSON listing file paths
— at 128 MB/file a 100 TB table is ~800k entries. Past
``shard_threshold`` files a partitioned manifest SHARDS per partition
fragment (Iceberg's manifest-list → manifest structure): the root
manifest holds only schema + shard index, and a partition-filtered read
parses only matching shards instead of one monolithic JSON. Commit-time
column stats fan out as a Spark job past ``_DIST_STATS_THRESHOLD`` new
files, so commit cost stays flat in file count. Reads hand Spark ONE
explicit
file list as a single parquet relation (partition values are stored in
the files as data columns, `__p_<col>=v` dirs exist only for manifest
pruning), so plan size is independent of history depth and predicate
pruning applies uniformly. Merges read old files and write ONLY new
directories — no read-rewrite cycle, hence no localCheckpoint barrier,
and old versions stay readable during the write. The create-exclusive
publish uses os.link, atomic on POSIX/NFS/HDFS-mounted paths; on
S3-like stores swap `_publish` for a conditional PUT.
"""

from __future__ import annotations

import json
import os
import uuid
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from news_lakehouse_spark.sources.partition_spec import (
    fragment_tests,
    parse_partition_spec,
    spark_xxhash64,
    spec_exprs,
)

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"

# Manifest layout version. 3 = partition values stored in-file with
# __p_ directory fragments, and every manifest carries the schema-epoch
# keys (``_EPOCH_KEYS``) from the table's first commit. Older layouts
# would be silently mis-read by this code — layout 1 (d=... dirs) null-
# fills partition columns, layout 2 has no field ids on tables that
# never evolved — so _load_root refuses any other marker instead of
# guessing.
_LAYOUT = 3
_EPOCH_KEYS = ("schema_id", "schemas", "file_sids", "next_fid")

# Bloom sidecars: k bit positions per key, and at least this many bits
# per distinct key in a file (~1.2% false positives at k=4), rounded
# up to a power of two between 64 and 2^24 bits.
_BLOOM_K = 4
_BLOOM_BITS_PER_KEY = 10
_BLOOM_MAX_BITS = 1 << 24

# Shard the manifest's file list per partition fragment once it grows
# past this many files: an 800k-file table stays readable without one
# monolithic JSON parse per read, and a partition-filtered read loads
# only the shards whose fragment matches (Iceberg's manifest-list →
# manifest structure). Tests lower it via the instance attribute.
_SHARD_THRESHOLD = 512

# Collect commit stats with a Spark job instead of a serial driver
# loop once a commit writes at least this many new files.
_DIST_STATS_THRESHOLD = 512
_THREADED_STATS_THRESHOLD = 8

_PRED_OPS = (
    "=", "==", "<", "<=", ">", ">=", "in", "between",
    "is_null", "not_null",
)

# File-level column-stat collection (Iceberg manifest column bounds):
# cap how many columns get stats and how long a stored string bound may
# be, so the manifest stays metadata-sized at 800k files.
_STATS_MAX_COLUMNS = 32
_STATS_MAX_STR = 64

# Spark simpleString type tags eligible for min/max stats. Nested,
# binary, and interval types never get bounds (same as Iceberg's
# default metrics config skipping them for pruning purposes).
_STATS_ORDERED_PREFIXES = ("timestamp", "decimal")
_STATS_ORDERED_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "boolean", "date",
}


def _stats_type_tag(data_type) -> str | None:
    s = data_type.simpleString()
    if s in _STATS_ORDERED_TYPES or s.startswith(_STATS_ORDERED_PREFIXES):
        return s
    return None


def _truncate_upper(s: str, limit: int = _STATS_MAX_STR) -> str | None:
    """Shorten a string UPPER bound while keeping it an upper bound:
    take the prefix and increment its last code point (Iceberg's
    truncate-and-increment). Returns None when no valid bound exists."""
    if len(s) <= limit:
        return s
    prefix = s[:limit]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _ts_key(v) -> str:
    """Lexicographically ordered timestamp rendering. Explicit
    zero-padding: strftime('%Y') is NOT zero-padded for years < 1000
    on glibc, which would sort '999-...' after '2020-...' and wrongly
    prune files (advice r5). Stats and predicate values both render
    through this, so the ordering domain is consistent."""
    return (
        f"{v.year:04d}-{v.month:02d}-{v.day:02d} "
        f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}.{v.microsecond:06d}"
    )


def _json_bound(value, tag: str, upper: bool):
    """Serialize one min/max bound JSON-natively, WIDENED where the
    representation could tighten it (floats from Decimal; truncated
    strings). A widened bound can only keep extra files — never drop a
    matching one."""
    import datetime as dt
    import math

    if value is None:
        return None
    if tag == "date":
        return value.isoformat() if isinstance(value, dt.date) else str(value)
    if tag.startswith("timestamp"):
        if isinstance(value, dt.datetime):
            return _ts_key(value)
        return str(value)
    if tag == "string":
        s = str(value)
        if upper:
            return _truncate_upper(s)
        return s[:_STATS_MAX_STR]  # a prefix is always a valid lower bound
    if tag == "boolean":
        return bool(value)
    if tag in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    # float/double/decimal → float, nudged outward one ulp
    f = float(value)
    if math.isnan(f):
        return None
    return math.nextafter(f, math.inf if upper else -math.inf)


def _norm_pred_value(value, tag: str):
    """Render a predicate value into the same JSON-native ordering
    domain as the stored bounds."""
    import datetime as dt

    if value is None:
        return None
    if tag == "date":
        if isinstance(value, dt.datetime):
            value = value.date()
        if isinstance(value, dt.date):
            return value.isoformat()
        return dt.date.fromisoformat(str(value)).isoformat()
    if tag.startswith("timestamp"):
        if isinstance(value, dt.date) and not isinstance(value, dt.datetime):
            value = dt.datetime(value.year, value.month, value.day)
        if not isinstance(value, dt.datetime):
            value = dt.datetime.fromisoformat(str(value))
        return _ts_key(value)
    if tag == "string":
        return str(value)
    if tag == "boolean":
        return bool(value)
    if tag in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    return float(value)


def _file_may_match(col_stats, op: str, value) -> bool:
    """Conservative file-level test: False ONLY when the file's bounds
    PROVE no row can satisfy `col op value`. Missing stats keep the
    file."""
    if col_stats is None:
        return True
    mn, mx, null_count, row_count = col_stats
    if op == "is_null":
        # prune only when the footer PROVES zero nulls
        return not (null_count is not None and null_count == 0)
    if op == "not_null":
        # prune only when the file is provably all-null
        return not (
            null_count is not None
            and row_count is not None
            and null_count == row_count
        )
    if mn is None or mx is None:
        # No bounds recorded. An all-null file can't satisfy any
        # comparison (SQL comparisons with NULL are never true).
        return not (
            null_count is not None
            and row_count is not None
            and null_count == row_count
        )
    try:
        if op in ("=", "=="):
            return mn <= value <= mx
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
        if op == "in":
            return any(mn <= v <= mx for v in value)
        if op == "between":
            lo, hi = value
            return not (mx < lo or mn > hi)
    except TypeError:
        return True  # incomparable → keep
    raise ValueError(f"unsupported stats predicate op {op!r}")


def _footer_raw_stats(abs_path: str, stat_cols: tuple) -> dict:
    """Raw (unserialized) per-column min/max/null/row stats from ONE
    parquet footer — a pure function of the file so it runs identically
    on the driver (small commits) and inside a Spark task (large
    commits, see ``_collect_stats``). ``stat_cols`` is a tuple of
    column names; returns {col: (mn, mx, nulls, rows) | (None, None,
    nulls, rows) for all-null} with unusable columns absent."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    per_col: dict = {}
    for col in stat_cols:
        ci = names.get(col)
        if ci is None:  # column absent from this file (older commit)
            continue
        mn = mx = None
        nulls, rows, ok = 0, 0, True
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            rows += rg.num_rows
            try:
                st = rg.column(ci).statistics
                has = st is not None and st.has_min_max
            except Exception:  # pyarrow can't decode this type's stats
                ok = False
                continue
            if not has:
                ok = False
                if st is not None and st.null_count is not None:
                    nulls += st.null_count
                continue
            nulls += st.null_count or 0
            try:
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            except Exception:  # unorderable/undecodable bound
                ok = False
        if ok and mn is not None:
            per_col[col] = (mn, mx, nulls, rows)
        elif rows and nulls == rows:
            per_col[col] = (None, None, nulls, rows)  # all-null file
    return per_col


def _materialize_churn(df: DataFrame):
    """Materialize a frame that several downstream actions will
    consume; returns ``(frame, release)``. It serves
    ``apply_changes``' change feed, which is O(churn), and
    ``VersionedParquetTable.merge``'s source, which is whatever the
    caller passes: a day's delta or a whole table's rows. Merge calls
    it only on paths that read the source more than once.

    Local mode (no checkpoint dir): ``localCheckpoint(eager=True)`` —
    one job materializes the churn AND truncates its lineage, so every
    later action (constraint check, emptiness probes, merge key sets,
    the rewrite job) plans against a flat in-memory RDD scan instead of
    re-analyzing the full plan and re-running its Python workers and
    AQE stage jobs. Cluster mode
    (checkpoint dir configured, the 100 TB posture): a plain
    recomputable ``persist`` — localCheckpoint blocks are pinned to
    executors and one executor loss would fail the whole application,
    the same trade :mod:`operators.iterstate` documents."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        out = df.localCheckpoint(eager=True)
        return out, (lambda: None)  # blocks reclaimed by ContextCleaner
    out = df.persist()
    return out, out.unpersist


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first; re-derive and retry."""


class ConstraintViolationError(ValueError):
    """Incoming rows violate a table CHECK constraint; nothing was
    committed. Carries up to 3 sample rows per message."""


def _escape_fn(spark: SparkSession):
    """Spark's own partition-path escaping, so manifest partition
    fragments match the directory names Spark wrote."""
    jvm = spark._jvm
    try:
        return jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    except Exception:  # pragma: no cover - API drift fallback
        return lambda s: s


def _unescape_fn(spark: SparkSession):
    """Inverse of ``_escape_fn``: recover a partition VALUE from its
    path rendering (needed when a fragment string drives a column
    comparison, e.g. compact's per-partition split)."""
    jvm = spark._jvm
    try:
        return jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    except Exception:  # pragma: no cover - API drift fallback
        return lambda s: s


def partition_suffix(spark: SparkSession, partition_by: list[str], part: dict) -> str:
    """`__p_date=2020-01-01/__p_region=ASIA` fragment for one partition
    tuple, using Spark's escaping and NULL convention. Directory names
    carry the ``__p_`` prefix because commits write partition values
    BOTH as data columns and as directories (see ``_write_commit``) —
    the prefix keeps Spark's writer from stripping the real column."""
    esc = _escape_fn(spark)
    return "/".join(
        f"__p_{c}={'__HIVE_DEFAULT_PARTITION__' if part[c] is None else esc(str(part[c]))}"
        for c in partition_by
    )


def _file_partition_fragment(rel_path: str) -> str:
    """Partition fragment of a manifest file path:
    data/c...-nonce/<frag...>/part-x.parquet → '<frag...>' ('' if none)."""
    segs = rel_path.split("/")
    return "/".join(segs[2:-1])


def _partition_want(
    spark: SparkSession, partition_filter: dict
) -> list[tuple[str, set[str]]]:
    """Render a partition filter as per-column (segment prefix, set of
    acceptable path segments `__p_c=v`). List/set/tuple values mean
    IN. Matching is CONSERVATIVE under partition-spec evolution: a
    fragment written under an older spec may not carry a column at all
    — such files are kept (they can't be pruned by path) and the read
    applies the row-level filter instead."""
    esc = _escape_fn(spark)

    def frag(c, val):
        return (
            f"__p_{c}="
            f"{'__HIVE_DEFAULT_PARTITION__' if val is None else esc(str(val))}"
        )

    return [
        (
            f"__p_{c}=",
            {
                frag(c, v)
                for v in (
                    val if isinstance(val, (list, set, tuple)) else [val]
                )
            },
        )
        for c, val in partition_filter.items()
    ]


def _frag_matches(fragment: str, want: list[tuple[str, set[str]]]) -> bool:
    """False only when the fragment PROVES exclusion: it carries a
    segment for the filtered column and none of the wanted values
    match. Fragments lacking the column (older partition spec) match
    conservatively."""
    segs = [s for s in fragment.split("/") if s]
    for prefix, alts in want:
        mine = {s for s in segs if s.startswith(prefix)}
        if mine and not (mine & alts):
            return False
    return True


def _frag_columns(fragment: str) -> dict[str, str]:
    """{'__p_c': '__p_c=v', ...} for a file's partition fragment."""
    return {
        s.split("=", 1)[0]: s for s in fragment.split("/") if s
    }


def _overlap_selector(spark: SparkSession, parts: list[dict]):
    """Predicate over manifest file paths: does this file overlap any
    of ``parts``? Each part is a dict of partition-column values —
    a FULL tuple over the current spec (merge's affected partitions)
    or any subset of partition columns (partial compaction by, say,
    just the date across sub-partitions). A file is excluded only when
    its fragment PROVES disjointness: it carries a segment for one of
    the part's columns with a different value. Fragments lacking a
    column (written under another spec — partition evolution) can't
    prove it, so they match conservatively and migrate on rewrite."""
    part_segs = [
        {f"__p_{c}": partition_suffix(spark, [c], p) for c in p}
        for p in parts
    ]

    def sel(rel: str) -> bool:
        segs = _frag_columns(_file_partition_fragment(rel))
        return any(
            all(segs.get(k, ps[k]) == ps[k] for k in ps)
            for ps in part_segs
        )

    return sel


# --- field-id schema evolution (rename / drop / widen / add) -------------
#
# Iceberg-style: every column carries a stable FIELD ID in the manifest
# schema's per-field metadata ({"fid": n}); the manifest additionally
# stores `schema_id` (the current epoch), `schemas` (epoch -> schema
# JSON, append-only) and `file_sids` (file -> epoch it was WRITTEN
# under; sparse — files at the current epoch are omitted). Reads map
# each file's physical columns to the current logical schema BY ID, so
# rename/drop/type-widen are metadata-only commits, time travel across
# a rename reads old snapshots correctly, and a re-added column name
# never resurrects dropped data (new name, new id). The first commit
# mints epoch 0, so every table has these keys.

_WIDENINGS = {
    "byte": ("short", "integer", "long"),
    "short": ("integer", "long"),
    "integer": ("long",),
    "float": ("double",),
}


def _decimal_widening_ok(cur: str, tgt: str) -> bool:
    """decimal(P,S) -> decimal(P',S) with P' > P — the remaining
    Iceberg-safe promotion: same scale, more precision, every stored
    value representable."""
    import re

    mc = re.fullmatch(r"decimal\((\d+),(\d+)\)", cur)
    mt = re.fullmatch(r"decimal\((\d+),(\d+)\)", tgt)
    return bool(
        mc
        and mt
        and int(mt.group(1)) > int(mc.group(1))
        and mt.group(2) == mc.group(2)
    )


def _field_fid(field_json: dict) -> int | None:
    return (field_json.get("metadata") or {}).get("fid")


def schema_from_json(schema_json: dict) -> StructType:
    """Parse a manifest's schema JSON without touching it. PySpark's
    ``StructField.fromJson`` rewrites a collated string's
    ``__COLLATIONS`` metadata in the dict it parses, and manifest roots
    are cached and shared: parsing the original would break the next
    parse of the same root and leak into any commit that copies it."""
    import copy

    return StructType.fromJson(copy.deepcopy(schema_json))


# --- nested types (r8): struct fields carry fids too, so rename/drop/
# widen/add work on dotted paths ("top_comments.element.author" — the
# reference's bronze schema is exactly ARRAY<STRUCT>,
# spark_jobs/schema.py:15-22) with the same metadata-only cost and the
# same no-resurrection guarantee. Array/map element types are
# addressed with Iceberg's pseudo-segments 'element' / 'key' /
# 'value'; a bare subfield name steps through an array-of-struct
# implicitly (sugar for the common case).


def _is_struct(t) -> bool:
    return isinstance(t, dict) and t.get("type") == "struct"


def _is_array(t) -> bool:
    return isinstance(t, dict) and t.get("type") == "array"


def _is_map(t) -> bool:
    return isinstance(t, dict) and t.get("type") == "map"


def _walk_assign_fids(t, alloc):
    """Assign a fresh fid to every nested struct field, depth-first —
    the id authority for newly-added nested subtrees. Ids a DataFrame
    read from another table carries are replaced, never reused."""
    if _is_struct(t):
        return {
            **t,
            "fields": [
                {
                    **f,
                    "metadata": {**(f.get("metadata") or {}), "fid": alloc()},
                    "type": _walk_assign_fids(f["type"], alloc),
                }
                for f in t["fields"]
            ],
        }
    if _is_array(t):
        return {**t, "elementType": _walk_assign_fids(t["elementType"], alloc)}
    if _is_map(t):
        return {**t, "valueType": _walk_assign_fids(t["valueType"], alloc)}
    return t


def _graft_nested_fids(new_t, parent_t, alloc):
    """Carry the parent epoch's nested fids into a data commit's type
    JSON (a DataFrame schema carries no ids, or another table's):
    match struct subfields BY NAME at each level — the same
    name-is-identity rule the top level uses for data commits — and
    allocate fresh ids for genuinely new subfields, and for a whole
    subtree whose shape differs from the parent's (string → struct,
    array<string> → array<struct>)."""
    if _is_struct(new_t) and _is_struct(parent_t):
        p_by_name = {pf["name"]: pf for pf in parent_t["fields"]}
        fields = []
        for f in new_t["fields"]:
            pf = p_by_name.get(f["name"])
            if pf is None:
                meta = {**(f.get("metadata") or {}), "fid": alloc()}
                fields.append(
                    {
                        **f,
                        "metadata": meta,
                        "type": _walk_assign_fids(f["type"], alloc),
                    }
                )
            else:
                meta = {**(f.get("metadata") or {}), "fid": _field_fid(pf)}
                fields.append(
                    {
                        **f,
                        "metadata": meta,
                        "type": _graft_nested_fids(
                            f["type"], pf["type"], alloc
                        ),
                    }
                )
        return {**new_t, "fields": fields}
    if _is_array(new_t) and _is_array(parent_t):
        return {
            **new_t,
            "elementType": _graft_nested_fids(
                new_t["elementType"], parent_t["elementType"], alloc
            ),
        }
    if _is_map(new_t) and _is_map(parent_t):
        return {
            **new_t,
            "valueType": _graft_nested_fids(
                new_t["valueType"], parent_t["valueType"], alloc
            ),
        }
    return _walk_assign_fids(new_t, alloc)


def _type_at_path(t, segs: list[str]):
    """Read-only twin of ``_edit_type_path``: the type JSON at a dotted
    path, or None when the path doesn't resolve. Used for idempotence
    preconditions (a redelivered CDC batch replays its schema
    mirroring; already-applied ops must skip, not raise)."""
    if not segs:
        return t
    if _is_array(t):
        if segs[0] == "element":
            return _type_at_path(t["elementType"], segs[1:])
        return _type_at_path(t["elementType"], segs)
    if _is_map(t):
        if segs[0] == "key":
            return _type_at_path(t["keyType"], segs[1:])
        if segs[0] == "value":
            return _type_at_path(t["valueType"], segs[1:])
        return _type_at_path(t["valueType"], segs)
    if _is_struct(t):
        for f in t["fields"]:
            if f["name"] == segs[0]:
                return _type_at_path(f["type"], segs[1:])
        return None
    return None


def _edit_type_path(t, segs: list[str], on_fields, on_type):
    """Rewrite a type JSON (a schema JSON is a struct type JSON) along
    dotted-path segments. ``on_fields(fields, leaf_name) -> fields``
    fires when the path's last segment names a struct subfield;
    ``on_type(type) -> type`` fires when it is a container
    pseudo-segment ('element'/'key'/'value'). Raises ValueError on a
    path that doesn't resolve."""
    if _is_array(t):
        if segs[0] == "element":
            if len(segs) == 1:
                return {**t, "elementType": on_type(t["elementType"])}
            return {
                **t,
                "elementType": _edit_type_path(
                    t["elementType"], segs[1:], on_fields, on_type
                ),
            }
        # sugar: a subfield name steps through to the element struct
        return {
            **t,
            "elementType": _edit_type_path(
                t["elementType"], segs, on_fields, on_type
            ),
        }
    if _is_map(t):
        if segs[0] in ("key", "value"):
            k = "keyType" if segs[0] == "key" else "valueType"
            if len(segs) == 1:
                return {**t, k: on_type(t[k])}
            if segs[0] == "key":
                # fids are neither assigned nor tracked inside map KEY
                # types (_walk_assign_fids / _fid_map_expr handle keys
                # positionally), so a structural edit beneath 'key'
                # could not map by id on old files — refuse instead of
                # silently misaligning them (advice r8); a terminal
                # primitive widen of the key itself is the supported
                # edit
                raise ValueError(
                    "structural evolution inside a map KEY type is not "
                    "supported (field ids are not tracked in key "
                    "types); only widening the key primitive itself "
                    "('...key') is allowed"
                )
            return {
                **t,
                k: _edit_type_path(t[k], segs[1:], on_fields, on_type),
            }
        return {
            **t,
            "valueType": _edit_type_path(
                t["valueType"], segs, on_fields, on_type
            ),
        }
    if _is_struct(t):
        if len(segs) == 1:
            return {**t, "fields": on_fields(t["fields"], segs[0])}
        out, hit = [], False
        for f in t["fields"]:
            if f["name"] == segs[0]:
                hit = True
                out.append(
                    {
                        **f,
                        "type": _edit_type_path(
                            f["type"], segs[1:], on_fields, on_type
                        ),
                    }
                )
            else:
                out.append(f)
        if not hit:
            raise ValueError(f"no field {segs[0]!r} on the path")
        return {**t, "fields": out}
    raise ValueError(
        f"path segment {segs[0]!r} addresses into a primitive type"
    )


def _validated_widen_type(name: str, cur_t, tgt: str):
    """The Iceberg-safe promotion check, shared by top-level and nested
    widen (including array-element / map-value targets)."""
    if not isinstance(cur_t, str):
        raise ValueError(f"{name!r} is not a primitive type")
    if tgt == cur_t:
        raise ValueError(f"{name!r} is already {tgt}")
    if tgt not in _WIDENINGS.get(cur_t, ()) and not _decimal_widening_ok(
        cur_t, tgt
    ):
        raise ValueError(
            f"cannot widen {name!r} from {cur_t} to {tgt}; allowed: "
            f"{_WIDENINGS.get(cur_t, ()) or 'decimal precision increase at equal scale'}"
        )
    return tgt


def _schema_signature(schema_json: dict) -> list[tuple]:
    """(name, type, fid) per field — epoch identity for a schema."""
    return [
        (f["name"], json.dumps(f["type"], sort_keys=True), _field_fid(f))
        for f in schema_json["fields"]
    ]


def _strip_nested_fids(t):
    """Type JSON with nested-field ``fid`` metadata removed, for
    comparing a type against one that carries no field ids."""
    if _is_struct(t):
        return {
            **t,
            "fields": [
                {
                    **f,
                    "metadata": {
                        k: v
                        for k, v in (f.get("metadata") or {}).items()
                        if k != "fid"
                    },
                    "type": _strip_nested_fids(f["type"]),
                }
                for f in t["fields"]
            ],
        }
    if _is_array(t):
        return {**t, "elementType": _strip_nested_fids(t["elementType"])}
    if _is_map(t):
        return {
            **t,
            "keyType": _strip_nested_fids(t["keyType"]),
            "valueType": _strip_nested_fids(t["valueType"]),
        }
    return t


def _fid_map_expr(expr, src_t, tgt_t, tgt_dtype):
    """Column expression projecting a physical value of type JSON
    ``src_t`` to the logical type JSON ``tgt_t`` BY NESTED FIELD ID.
    This is what makes nested
    rename/drop/widen/add metadata-only: the mapping happens in the
    projection, never by rewriting data.

    - identical subtrees (same names, types, AND fids) pass through
      untouched — the common case costs nothing;
    - structs rebuild field-by-field (missing fid → typed NULL, the
      added-after-this-epoch case), with an explicit NULL guard so a
      NULL struct stays NULL instead of becoming a struct of NULLs
      (``F.struct`` would otherwise manufacture one);
    - arrays map via ``F.transform`` (NULL array → NULL), maps via
      ``transform_keys``/``transform_values``;
    - primitives cast (the widen path). Explicit per-field mapping
      also sidesteps Spark's position-based struct cast, which would
      silently misalign a reordered or renamed struct.
    """
    if json.dumps(src_t, sort_keys=True) == json.dumps(tgt_t, sort_keys=True):
        return expr
    if _is_struct(src_t) and _is_struct(tgt_t):
        by_fid = {_field_fid(f): f for f in src_t["fields"]}
        subs = []
        for f_json, f_dt in zip(tgt_t["fields"], tgt_dtype.fields):
            src_f = by_fid.get(_field_fid(f_json))
            if src_f is None:
                subs.append(
                    F.lit(None).cast(f_dt.dataType).alias(f_json["name"])
                )
            else:
                subs.append(
                    _fid_map_expr(
                        expr[src_f["name"]],
                        src_f["type"],
                        f_json["type"],
                        f_dt.dataType,
                    ).alias(f_json["name"])
                )
        return F.when(expr.isNull(), F.lit(None).cast(tgt_dtype)).otherwise(
            F.struct(*subs)
        )
    if _is_array(src_t) and _is_array(tgt_t):
        return F.transform(
            expr,
            lambda x: _fid_map_expr(
                x,
                src_t["elementType"],
                tgt_t["elementType"],
                tgt_dtype.elementType,
            ),
        )
    if _is_map(src_t) and _is_map(tgt_t):
        out = expr
        if src_t["keyType"] != tgt_t["keyType"]:
            out = F.transform_keys(
                out, lambda k, v: k.cast(tgt_dtype.keyType)
            )
        if json.dumps(src_t["valueType"], sort_keys=True) != json.dumps(
            tgt_t["valueType"], sort_keys=True
        ):
            out = F.transform_values(
                out,
                lambda k, v: _fid_map_expr(
                    v,
                    src_t["valueType"],
                    tgt_t["valueType"],
                    tgt_dtype.valueType,
                ),
            )
        return out
    return expr.cast(tgt_dtype)


def _fid_select_exprs(
    src_fields: list[dict], schema: StructType, target_json: dict
) -> list:
    """Top-level select list mapping a file epoch's physical fields to
    the endpoint schema by field id — shared by snapshot reads
    (``_read_files``) and the change feed's ``align``."""
    by_fid = {_field_fid(f): f for f in src_fields}
    sel = []
    for tf, tj in zip(schema.fields, target_json["fields"]):
        fid = _field_fid(tj)
        src_f = by_fid.get(fid)
        if src_f is None:
            sel.append(F.lit(None).cast(tf.dataType).alias(tf.name))
        else:
            sel.append(
                _fid_map_expr(
                    F.col(src_f["name"]), src_f["type"], tj["type"], tf.dataType
                ).alias(tf.name)
            )
    return sel


class VersionedParquetTable:
    """A parquet table with atomic, versioned, time-travelable commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # Files-per-manifest before the file list shards per partition
        # fragment (tests lower this to exercise the sharded path).
        self.shard_threshold = _SHARD_THRESHOLD
        # Root manifests are immutable once published (atomic create,
        # never rewritten), so per-instance caching is safe — it
        # collapses the repeated loads a changes()/feed drain pays
        # walking the commit chain (r8 verdict #3: the per-step root
        # re-reads were the measurable cost of the epoch-aware read
        # path). Bounded FIFO; invalidated only by vacuum (the one
        # operation that deletes manifests). Cached dicts are treated
        # as IMMUTABLE by every consumer (mutating paths copy first).
        self._root_cache: dict[int, dict] = {}

    # --- manifest bookkeeping -------------------------------------------

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, _MANIFEST_DIR)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir(), f"{version:012d}.json")

    # --- named refs (tags) ----------------------------------------------

    def _tag_path(self, name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]*", name):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self._manifest_dir(), f"tag-{name}.json")

    def tag(
        self, name: str, version: int | None = None, replace: bool = False
    ) -> int:
        """Pin a retained version under a name (Iceberg tag analog):
        ``read(version="prod")`` resolves it, and ``vacuum`` RETAINS
        tagged versions (and their files) regardless of ``keep_last`` —
        the audit/rollback anchor a 100 TB table needs. Tags are
        create-only unless ``replace=True``; returns the pinned
        version."""
        v = self.latest_version() if version is None else version
        if v not in set(self.versions()):
            raise FileNotFoundError(f"version {v} is not retained")
        p = self._tag_path(name)
        if os.path.exists(p) and not replace:
            raise FileExistsError(f"tag {name!r} exists; pass replace=True")
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": v}, f)
        os.replace(tmp, p)
        return v

    def tags(self) -> dict[str, int]:
        d = self._manifest_dir()
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for n in os.listdir(d):
            if n.startswith("tag-") and n.endswith(".json"):
                with open(os.path.join(d, n)) as f:
                    t = json.load(f)
                out[t["name"]] = t["version"]
        return out

    def drop_tag(self, name: str) -> None:
        os.unlink(self._tag_path(name))

    def _resolve_version(self, version) -> int | None:
        if isinstance(version, str):
            tags = self.tags()
            if version not in tags:
                raise FileNotFoundError(
                    f"no tag {version!r} at {self.path}; have {sorted(tags)}"
                )
            return tags[version]
        return version

    def versions(self) -> list[int]:
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(".json") and not name.startswith("."):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _load_root(self, version: int) -> dict:
        """Load ONE root manifest (no shard materialization) and check
        its layout marker. A manifest with another marker was written
        by an older build (see ``_LAYOUT``): reading it with this code
        would mis-map its columns, so refuse loudly instead of silently
        corrupting (advice r5)."""
        cached = self._root_cache.get(version)
        if cached is not None:
            return cached
        with open(self._manifest_path(version)) as f:
            man = json.load(f)
        if man.get("layout") != _LAYOUT:
            raise ValueError(
                f"manifest v{version} at {self.path} has layout "
                f"{man.get('layout')!r}, this build reads layout "
                f"{_LAYOUT}; rewrite the table (read with the matching "
                "build, then write()) to migrate"
            )
        # the current schema is stored once, as its epoch's entry
        man["schema"] = man["schemas"][str(man["schema_id"])]
        if len(self._root_cache) >= 128:  # bounded: drop oldest entry
            self._root_cache.pop(next(iter(self._root_cache)))
        self._root_cache[version] = man
        return man

    def _manifest_files_stats(
        self, root: dict, want: list[set[str]] | None = None
    ) -> tuple[list[str], dict]:
        """(files, stats) for a root manifest. Sharded manifests load
        only the shards whose partition fragment matches ``want`` (the
        alternative-sets from ``_partition_want``) — a filtered read of
        an 800k-file table parses only its partitions' shards."""
        if "shards" not in root:
            return root["files"], root.get("stats", {})
        d = self._manifest_dir()
        files: list[str] = []
        stats: dict = {}
        for s in root["shards"]:
            if want is not None and not _frag_matches(s["fragment"], want):
                continue
            with open(os.path.join(d, s["path"])) as f:
                sh = json.load(f)
            files.extend(sh["files"])
            stats.update(sh["stats"])
        return files, stats

    def _load_manifest(self, version: int) -> dict:
        """Fully materialized manifest (files + stats), shard-transparent."""
        root = self._load_root(version)
        if "shards" not in root:
            return root
        files, stats = self._manifest_files_stats(root)
        out = dict(root)
        out["files"] = files
        out["stats"] = stats
        return out

    def history(self) -> list[dict]:
        """Manifest metadata per retained version, oldest first."""
        return [
            {k: m[k] for k in ("version", "parent", "operation", "num_files")}
            for m in (self._load_root(v) for v in self.versions())
        ]

    def _file_sizes(self, rels: list[str]) -> dict[str, int]:
        """Sizes for the given live files: driver stat calls below
        ``_DIST_STATS_THRESHOLD`` files, one Spark fan-out past it —
        the flat-in-file-count contract every metadata path (inspect,
        plan_compaction) shares with commit stats. At the documented
        ~800k-file scale serial driver I/O here would dominate the
        maintenance planner."""
        root_path = self.path
        if self.spark is not None and len(rels) >= _DIST_STATS_THRESHOLD:
            return dict(
                self.spark.sparkContext.parallelize(
                    rels, max(1, min(len(rels) // 8, 256))
                )
                .map(
                    lambda rel: (
                        rel,
                        os.path.getsize(os.path.join(root_path, rel)),
                    )
                )
                .collect()
            )
        return {
            rel: os.path.getsize(os.path.join(root_path, rel))
            for rel in rels
        }

    def inspect(self, kind: str, version: int | None = None) -> DataFrame:
        """Metadata inspection TABLES — the Iceberg ``table.files`` /
        ``.snapshots`` / ``.partitions`` analog (and Delta's DESCRIBE
        DETAIL/HISTORY): the table's own metadata as a DataFrame, so
        operational queries ("which partitions grew this week", "how
        many small files need compaction") are ordinary Spark queries
        instead of manifest spelunking.

        - ``snapshots``: one row per retained version (version, parent,
          operation, num_files, num_delete_entries, properties JSON).
        - ``files``: one row per live data file of ``version`` (path,
          partition fragment, record_count from manifest stats,
          size_bytes).
        - ``partitions``: ``files`` aggregated per partition fragment
          (file_count, record_count, size_bytes) — the compaction
          planner's input.

        Everything comes from manifests + footer stats already
        collected at commit time — no data files are scanned. File
        sizes fan out as one Spark job past ``_DIST_STATS_THRESHOLD``
        files (driver stat calls below it), the same flat-in-file-count
        contract as commit stats."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
        )

        if kind == "snapshots":
            rows = []
            for v in self.versions():
                r = self._load_root(v)
                rows.append(
                    (
                        r["version"],
                        r.get("parent"),
                        r["operation"],
                        r["num_files"],
                        len(r.get("delete_files") or []),
                        json.dumps(r.get("properties") or {}, sort_keys=True),
                    )
                )
            schema = StructType(
                [
                    StructField("version", LongType(), False),
                    StructField("parent", LongType(), True),
                    StructField("operation", StringType(), False),
                    StructField("num_files", LongType(), False),
                    StructField("num_delete_entries", LongType(), False),
                    StructField("properties", StringType(), False),
                ]
            )
            return self.spark.createDataFrame(rows, schema)
        if kind not in ("files", "partitions"):
            raise ValueError(
                f"unknown metadata table {kind!r}; "
                "one of: snapshots, files, partitions"
            )
        v = self._resolve_version(version)
        v = self.latest_version() if v is None else v
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._load_manifest(v)
        stats = man.get("stats", {})
        rels = man["files"]
        sizes = self._file_sizes(rels)
        rows = []
        for rel in rels:
            per_col = stats.get(rel) or {}
            rec = next(
                (b[3] for b in per_col.values() if b[3] is not None), None
            )
            frag = _file_partition_fragment(rel)
            shown = "/".join(
                s[len("__p_"):] if s.startswith("__p_") else s
                for s in frag.split("/")
                if s
            )
            sid = man["file_sids"].get(rel, man["schema_id"])
            rows.append((rel, shown, rec, sizes[rel], sid))
        schema = StructType(
            [
                StructField("path", StringType(), False),
                StructField("partition", StringType(), False),
                StructField("record_count", LongType(), True),
                StructField("size_bytes", LongType(), False),
                StructField("schema_id", LongType(), False),
            ]
        )
        files_df = self.spark.createDataFrame(rows, schema)
        if kind == "files":
            return files_df
        return files_df.groupBy("partition").agg(
            F.count("*").alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("size_bytes").alias("size_bytes"),
        )

    def metadata_aggregate(
        self,
        cols: list[str] | tuple = (),
        version: int | None = None,
        partition_filter: dict | None = None,
    ) -> dict:
        """EXACT count/min/max answered from manifests alone — zero
        data files scanned (Iceberg's metadata-only scan; Spark's
        ``spark.sql.optimizer.metadataOnly`` for partition values is
        the narrow cousin). At 100 TB this is the difference between a
        dashboard's ``count(*)`` finishing in milliseconds and a
        cluster-wide scan.

        Returns ``{"count_rows": N, "columns": {col: {"count": N,
        "min": v, "max": v, "exact_bounds": bool}}}``. ``count`` is the
        non-null count; ``min``/``max`` come back in the manifest's
        JSON-native domain (dates/timestamps as their ISO/sort-key
        strings). ``exact_bounds`` is False where the stored bound is
        deliberately widened (floats: one ulp outward; long strings:
        truncated) — those bounds still BRACKET the true extrema.

        Correctness guards — this method REFUSES rather than
        approximates:

        - live merge-on-read delete entries at the version raise
          (manifest row counts overcount until ``compact()``
          materializes the tombstones);
        - a ``partition_filter`` raises unless EVERY surviving file
          physically carries all filter columns in its path (under
          partition-spec evolution older files may not — ``read()``
          compensates with a row filter, a metadata count cannot);
        - a requested column missing usable stats in ANY live file
          raises (cannot distinguish dropped stats from data);
        - files missing row counts fall back to one FOOTER read each
          (metadata-sized, never the data pages).
        """
        version = self._resolve_version(version)
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        root = self._load_root(v)
        if root.get("delete_files"):
            raise ValueError(
                "metadata_aggregate: version has live merge-on-read "
                "delete entries — manifest row counts would overcount; "
                "compact() first or aggregate via read()"
            )
        want = (
            _partition_want(self.spark, partition_filter)
            if partition_filter
            else None
        )
        files_list, stats = self._manifest_files_stats(root, want)
        if want is not None:
            kept = []
            for rel in files_list:
                frag = _file_partition_fragment(rel)
                segs = set(frag.split("/"))
                verdict = []
                for prefix, accept in want:
                    seg = next(
                        (s for s in segs if s.startswith(prefix)), None
                    )
                    if seg is None:
                        raise ValueError(
                            "metadata_aggregate: file "
                            f"{rel!r} does not carry partition column "
                            f"{prefix[len('__p_'):-1]!r} in its path "
                            "(older partition spec?) — the filter cannot "
                            "be answered exactly from metadata; compact() "
                            "to rewrite under the current spec or "
                            "aggregate via read()"
                        )
                    verdict.append(seg in accept)
                if all(verdict):
                    kept.append(rel)
            files_list = kept

        #  tag -> are stored bounds exact for this type?
        def _exact_tag(tag: str) -> bool:
            return tag in (
                "tinyint", "smallint", "int", "bigint", "boolean", "date"
            ) or tag.startswith("timestamp")

        tag_by_col = dict(root.get("stat_types") or {})
        count_rows = 0
        need_rows: list[str] = []
        per_file_rows: dict[str, int] = {}
        for rel in files_list:
            per_col = stats.get(rel) or {}
            rows = next(
                (b[3] for b in per_col.values() if b[3] is not None), None
            )
            if rows is None:
                need_rows.append(rel)
            else:
                per_file_rows[rel] = rows
        if need_rows:  # footer num_rows: metadata pages only
            import pyarrow.parquet as pq

            for rel in need_rows:
                per_file_rows[rel] = pq.ParquetFile(
                    os.path.join(self.path, rel)
                ).metadata.num_rows
        count_rows = sum(per_file_rows.values())

        out_cols: dict[str, dict] = {}
        for col in cols:
            tag = tag_by_col.get(col)
            lo = hi = None
            nn = 0
            # int/date/timestamp/bool: stored bounds are the values.
            # string: exact unless any stored bound hit the truncation
            # limit. float/double/decimal: always widened one ulp.
            exact = tag is not None and (_exact_tag(tag) or tag == "string")
            for rel in files_list:
                ent = (stats.get(rel) or {}).get(col)
                if ent is None:
                    if per_file_rows.get(rel) == 0:
                        continue  # empty file: zero rows, no bounds
                    raise ValueError(
                        f"metadata_aggregate: file {rel!r} has no usable "
                        f"stats for column {col!r} — cannot answer "
                        "exactly from metadata (re-commit/compact() to "
                        "collect stats, or aggregate via read())"
                    )
                mn, mx, nulls, rows = ent
                nn += (rows or 0) - (nulls or 0)
                if mn is not None:
                    lo = mn if lo is None else min(lo, mn)
                if mx is not None:
                    hi = mx if hi is None else max(hi, mx)
                if tag == "string" and mn is not None:
                    # a <64-char stored bound was never truncated
                    exact = exact and len(str(mn)) < _STATS_MAX_STR and len(
                        str(mx)
                    ) < _STATS_MAX_STR
            out_cols[col] = {
                "count": nn,
                "min": lo,
                "max": hi,
                "exact_bounds": bool(exact) if tag is not None else False,
            }
        return {"count_rows": count_rows, "columns": out_cols}

    def snapshot_properties(self, version: int | None = None) -> dict:
        """User-supplied commit metadata (the Iceberg snapshot-summary
        analog): the ``properties`` dict passed to ``write``/``merge``,
        read back from that version's manifest. Lets a consumer record
        its sync cursor ATOMICALLY with the commit that applied it —
        e.g. ``IncrementalAggView`` stores the source version a refresh
        incorporated, so a crash between commits can never double-apply
        a delta."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return self._load_root(self._resolve_version(v)).get("properties", {})

    def _publish(self, manifest: dict) -> None:
        """Atomic create-exclusive publish of a manifest (step 3).

        Large partitioned manifests shard their file list per partition
        fragment BEFORE the root publishes: shard files are written at
        nonce-unique names, then the root manifest (which references
        them) publishes with the same atomic link — readers either see
        the complete root+shards or nothing. A losing concurrent
        writer's orphan shards are unlinked immediately; crash orphans
        are reclaimed by ``vacuum``. Shards and the root are fsynced
        before the link and ``_manifests`` after it, so a version that
        was published survives a power loss. A manifest without the
        schema-epoch keys is refused: every reader maps columns by
        field id."""
        missing = [k for k in _EPOCH_KEYS if k not in manifest]
        if missing:
            raise ValueError(
                f"manifest v{manifest['version']} for {self.path} lacks "
                f"schema-epoch keys {missing}"
            )
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        manifest = dict(manifest)
        manifest.pop("schema", None)  # _load_root derives it from schemas
        manifest["layout"] = _LAYOUT
        shard_paths: list[str] = []
        if (
            manifest.get("partition_by")
            and len(manifest["files"]) > self.shard_threshold
        ):
            groups: dict[str, list[str]] = {}
            for rel in manifest["files"]:
                groups.setdefault(_file_partition_fragment(rel), []).append(rel)
            stats = manifest.get("stats", {})
            nonce = uuid.uuid4().hex[:8]
            shards = []
            for i, (frag, rels) in enumerate(sorted(groups.items())):
                name = f"{manifest['version']:012d}-{nonce}.shard-{i}.json"
                with open(os.path.join(d, name), "w") as f:
                    json.dump(
                        {
                            "fragment": frag,
                            "files": rels,
                            "stats": {r: stats[r] for r in rels if r in stats},
                        },
                        f,
                    )
                    # durable before the root that links it publishes
                    f.flush()
                    os.fsync(f.fileno())
                shards.append(
                    {"fragment": frag, "path": name, "num_files": len(rels)}
                )
                shard_paths.append(os.path.join(d, name))
            manifest.pop("files")
            manifest.pop("stats", None)
            manifest["shards"] = shards
        final = self._manifest_path(manifest["version"])
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic; fails iff version already exists
        except FileExistsError as e:
            for p in shard_paths:  # lost the race: reclaim our shards now
                try:
                    os.unlink(p)
                except OSError:
                    pass
            raise ConcurrentCommitError(
                f"version {manifest['version']} was committed concurrently"
            ) from e
        finally:
            os.unlink(tmp)
        # make the new directory entry itself durable: without this a
        # power loss after the link can drop the published version
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    # --- data files ------------------------------------------------------

    def _write_commit(
        self,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None,
    ) -> list[str]:
        """Step 1: write df into a fresh immutable commit dir; return the
        manifest-relative paths of the files written.

        Partition values are stored BOTH ways: as ordinary data columns
        inside every file AND as ``__p_<col>=value`` directories (a
        shadow copy of each partition column feeds the writer, so the
        real column stays in the file). Directories give the manifest
        its partition-pruning fragments; in-file values let ``read()``
        scan ANY set of files from ANY mix of commits as ONE parquet
        relation with no per-commit ``basePath`` groups — without this,
        a snapshot read unions one reader per commit dir and plan cost
        grows linearly with table history (the depth probe caught
        per-commit merge time doubling between 10 and 50 versions).
        Iceberg makes the same trade: identity partition values are
        readable from metadata, not parsed from paths.
        """
        commit = f"c{version:012d}-{uuid.uuid4().hex[:8]}"
        abs_dir = os.path.join(self.path, _DATA_DIR, commit)
        out = df
        writer_partitions = None
        if partition_by:
            # spec entries may be TRANSFORMS (hidden partitioning —
            # days(ts), bucket(n, c), …): the derived value feeds the
            # writer's directories; the raw source column stays in the
            # file untouched.
            fields = parse_partition_spec(partition_by)
            writer_partitions = [f"__p_{f.name}" for f in fields]
            for f, e in zip(fields, spec_exprs(out, fields)):
                out = out.withColumn(f"__p_{f.name}", e)
        writer = out.write.mode("error")
        if writer_partitions:
            writer = writer.partitionBy(*writer_partitions)
        writer.parquet(abs_dir)
        files = []
        for root, _dirs, names in os.walk(abs_dir):
            for name in names:
                if name.endswith(".parquet") and not name.startswith((".", "_")):
                    rel = os.path.relpath(os.path.join(root, name), self.path)
                    files.append(rel)
        return sorted(files)

    def _collect_stats(
        self,
        files: list[str],
        schema: StructType,
        prior: dict | None = None,
    ) -> tuple[dict, dict]:
        """Per-file column min/max/null-count from parquet FOOTERS (no
        data scan) for up to ``_STATS_MAX_COLUMNS`` primitive columns —
        the Iceberg manifest column-bounds analog that lets reads prune
        data files on non-partition predicates.

        Files present in ``prior`` (a parent manifest's stats) carry
        their stats by reference — a merge re-reads footers only for
        the files it wrote. Small commits read footers on the driver
        (metadata-sized, a few KB each); medium commits (>=
        ``_THREADED_STATS_THRESHOLD`` files — a multi-partition load)
        read them on a driver thread pool (pyarrow releases the GIL,
        so 16 threads ≈ 16× the serial loop at zero job overhead); a
        commit writing >= ``_DIST_STATS_THRESHOLD`` new files (a
        compact of a big table) fans the footer reads out as ONE
        Spark job — commit stat time stays flat in file count
        (r5 ask #3, r11 threaded tier). Both paths feed the same ``_footer_raw_stats`` /
        ``_json_bound`` functions, so manifests are byte-identical
        whichever path ran. Bound serialization is per-column guarded:
        an unexpected footer representation drops THAT column's stats
        (missing stats conservatively keep the file) instead of
        aborting the commit (advice r5).
        """
        stat_types: dict[str, str] = {}
        for f in schema.fields:
            tag = _stats_type_tag(f.dataType)
            if tag is not None:
                stat_types[f.name] = tag
            if len(stat_types) >= _STATS_MAX_COLUMNS:
                break
        prior = prior or {}
        fresh = [rel for rel in files if rel not in prior]
        stat_cols = tuple(stat_types)
        raw: dict[str, dict] = {}
        # session-less handles (DataSource driver workers via
        # add_files) skip only the distributed (Spark job) tier; the
        # thread-pool tier below applies to them too (_footer_raw_stats
        # is pure and thread-safe — footers are metadata-sized)
        if self.spark is not None and len(fresh) >= _DIST_STATS_THRESHOLD:
            root = self.path
            raw = dict(
                self.spark.sparkContext.parallelize(
                    fresh, max(1, min(len(fresh) // 8, 256))
                )
                .map(
                    lambda rel: (
                        rel,
                        _footer_raw_stats(os.path.join(root, rel), stat_cols),
                    )
                )
                .collect()
            )
        elif len(fresh) >= _THREADED_STATS_THRESHOLD:
            # medium commits (a multi-partition load/compact below the
            # distributed threshold): footer reads are independent
            # metadata-sized IO and pyarrow releases the GIL, so a
            # driver thread pool cuts the serial loop ~#threads× while
            # producing the IDENTICAL raw map (same pure function per
            # file; dict order restored by the `files` loop below)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                raw = dict(
                    zip(
                        fresh,
                        pool.map(
                            lambda rel: _footer_raw_stats(
                                os.path.join(self.path, rel), stat_cols
                            ),
                            fresh,
                        ),
                    )
                )
        else:
            for rel in fresh:
                raw[rel] = _footer_raw_stats(
                    os.path.join(self.path, rel), stat_cols
                )
        stats: dict[str, dict] = {}
        for rel in files:
            if rel in prior:
                stats[rel] = prior[rel]
                continue
            per_col: dict[str, list] = {}
            for col, (mn, mx, nulls, rows) in raw[rel].items():
                tag = stat_types[col]
                if mn is None and mx is None:
                    per_col[col] = [None, None, nulls, rows]  # all-null
                    continue
                try:
                    lo = _json_bound(mn, tag, upper=False)
                    hi = _json_bound(mx, tag, upper=True)
                except (TypeError, ValueError):
                    continue  # stats are only an optimization — drop col
                if lo is not None and hi is not None:
                    per_col[col] = [lo, hi, nulls, rows]
            stats[rel] = per_col
        return stats, stat_types

    # --- reads -----------------------------------------------------------

    def files_for(
        self,
        version: int | None = None,
        partition_filter: dict | None = None,
        predicate: list[tuple] | None = None,
    ) -> list[str]:
        """Scan-plan a snapshot: the manifest file list after partition
        pruning AND column-bounds pruning — what `read()` hands Spark.

        ``predicate`` is a list of ``(col, op, value)`` conditions,
        ANDed; ops: ``= < <= > >= in between`` (``in`` takes a list,
        ``between`` an inclusive (lo, hi) pair). Pruning is
        conservative: a file drops only when its stored min/max PROVE
        no row matches; files or columns without stats are kept. The
        caller still applies the real row filter — bounds pruning is a
        scan-planning optimization, exactly Iceberg's.
        """
        version = self._resolve_version(version)
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        if predicate:
            # Validate ops up front so an unsupported op fails fast
            # regardless of which columns happen to carry stats
            # (advice r5: it used to throw or silently no-op depending
            # on the table's schema).
            bad = [op for _c, op, _v in predicate if op not in _PRED_OPS]
            if bad:
                raise ValueError(
                    f"unsupported stats predicate op(s) {bad!r}; "
                    f"supported: {_PRED_OPS}"
                )
        root = self._load_root(v)
        want = None
        if partition_filter:
            spec = root["partition_by"]
            names = {
                f.name for f in schema_from_json(root["schema"]).fields
            } | {f.name for f in parse_partition_spec(spec)}
            # Under spec evolution a filter column may be in an OLDER
            # spec only (prunes that era's files) or the current one
            # (older files kept conservatively) — any schema column or
            # current-spec transform FIELD name is legal; read()
            # compensates with a row filter when pruning was inexact.
            unknown = [c for c in partition_filter if c not in names]
            if unknown:
                raise ValueError(
                    f"partition_filter columns {unknown} are not in the "
                    f"table's partition spec {spec} nor its schema"
                )
            want = _partition_want(self.spark, partition_filter)
        files_list, stats = self._manifest_files_stats(root, want)
        if want is not None:
            files_list = [
                rel
                for rel in files_list
                if _frag_matches(_file_partition_fragment(rel), want)
            ]
        if predicate and files_list:
            # HIDDEN-partitioning pruning: a predicate on a transform's
            # RAW source column derives a fragment test on the derived
            # partition field (days/months/…: rendered-value range;
            # bucket: driver-side xxhash64 equality) — the query never
            # names the partition field, exactly Iceberg's contract.
            # Conservative: files lacking the segment (older spec) or
            # with underivable values are kept; stats pruning below
            # still applies independently.
            pfields = parse_partition_spec(root["partition_by"])
            if any(f.transform != "identity" for f in pfields):
                ftests = fragment_tests(
                    pfields,
                    predicate,
                    {
                        f.name: f.dataType
                        for f in schema_from_json(root["schema"]).fields
                    },
                )
                if ftests:
                    unesc = _unescape_fn(self.spark)

                    def _keep(rel: str) -> bool:
                        segs = _frag_columns(_file_partition_fragment(rel))
                        for fname, test in ftests:
                            seg = segs.get(f"__p_{fname}")
                            if seg is None:
                                continue
                            val = seg.split("=", 1)[1]
                            if val == "__HIVE_DEFAULT_PARTITION__":
                                continue
                            try:
                                if not test(str(unesc(val))):
                                    return False
                            except (TypeError, ValueError):
                                continue
                        return True

                    files_list = [rel for rel in files_list if _keep(rel)]
        if predicate:
            stat_types = root.get("stat_types", {})
            conds = []
            for col, op, value in predicate:
                tag = stat_types.get(col)
                if tag is None:
                    continue  # no bounds for this column → can't prune on it
                if op == "in":
                    value = [_norm_pred_value(x, tag) for x in value]
                elif op == "between":
                    value = tuple(_norm_pred_value(x, tag) for x in value)
                elif op in ("is_null", "not_null"):
                    value = None  # null-count ops carry no value
                else:
                    value = _norm_pred_value(value, tag)
                conds.append((col, op, value))
            files_list = [
                rel
                for rel in files_list
                if all(
                    _file_may_match(stats.get(rel, {}).get(col), op, value)
                    for col, op, value in conds
                )
            ]
            bloom = root.get("bloom")
            if bloom and files_list:
                eq = [
                    (col, op, value)
                    for col, op, value in predicate
                    if col in bloom["columns"] and op in ("=", "==", "in")
                ]
                if eq:
                    side = self._load_bloom_files(bloom)
                    types = {
                        f.name: f.dataType
                        for f in schema_from_json(root["schema"]).fields
                    }
                    import base64

                    for col, op, value in eq:
                        vals = list(value) if op == "in" else [value]
                        hashes = [spark_xxhash64(v, types[col]) for v in vals]
                        if not hashes or None in hashes:
                            continue  # a value not hashable exactly: keep

                        def may_contain(rel):
                            k, cols = side.get(rel, (0, {}))
                            ent = cols.get(col)
                            if ent is None:
                                return True  # no bloom → keep
                            bm = base64.b64decode(ent["b"])
                            m = int(ent["m"])
                            return any(
                                all(
                                    bm[p // 8] >> (p % 8) & 1
                                    for p in self._bloom_positions(h, m, k)
                                )
                                for h in hashes
                            )

                        files_list = [r for r in files_list if may_contain(r)]
        return files_list

    def _apply_deletes(self, df: DataFrame, root: dict) -> DataFrame:
        """Apply a manifest's merge-on-read delete entries: anti-join
        each entry's key tuples against rows whose FILE was committed
        before the delete (rows re-inserted by a later merge live in a
        newer commit dir and survive — same versioned-applicability
        rule as Iceberg v2 equality deletes). The commit version is
        parsed from the file path JVM-side; delete key sets are small
        by construction and broadcast."""
        entries = root.get("delete_files") or []
        if not entries:
            return df
        out = df.withColumn(
            "__f_v",
            F.regexp_extract(F.input_file_name(), r"/c(\d{12})-", 1).cast(
                "long"
            ),
        )
        for e in entries:
            kdf = self.spark.read.parquet(
                *[os.path.join(self.path, p) for p in e["paths"]]
            )
            # a rename_column re-keys the entry logically; the key
            # parquet keeps the name current when the delete committed
            file_cols = e.get("file_cols", e["key_cols"])
            kdf = kdf.select(
                *[
                    F.col(fc).alias(f"__dk_{c}")
                    for fc, c in zip(file_cols, e["key_cols"])
                ]
            )
            cond = F.col("__f_v") < F.lit(int(e["version"]))
            for c in e["key_cols"]:
                cond = cond & (F.col(c) == F.col(f"__dk_{c}"))
            out = out.join(F.broadcast(kdf), cond, "left_anti")
        return out.drop("__f_v")

    def read(
        self,
        version: int | None = None,
        partition_filter: dict | None = None,
        predicate: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read; ``version`` time-travels to any retained one.

        ``partition_filter`` ({col: value_or_values, ...}) prunes at
        the MANIFEST level: files whose path fragment doesn't match
        never reach Spark's listing — the Iceberg-manifest analog that
        matters when a 100 TB table is 800k files and the query wants
        one date (directory-listing pruning still costs a full listing
        first). A list/set/tuple value keeps files matching ANY of the
        values (an IN filter). Filter values render through Spark's own
        path escaping, so they match exactly what the writer produced.

        ``predicate`` ([(col, op, value), ...], ANDed) additionally
        prunes on the manifest's per-file column min/max bounds — the
        Iceberg scan-planning analog for NON-partition columns (see
        ``files_for``). Pruning is conservative; callers still apply
        the row-level filter.
        """
        version = self._resolve_version(version)
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        root = self._load_root(v)
        schema = schema_from_json(root["schema"])
        files_list = self.files_for(v, partition_filter, predicate)
        if not files_list:
            return self.spark.createDataFrame([], schema)
        df = self._apply_deletes(
            self._read_files(files_list, schema, root), root
        )
        if partition_filter:
            # Path pruning is exact only for files whose fragment
            # carries the column; files written under an older
            # partition spec survive pruning conservatively, so apply
            # the row-level filter for those columns (pushed down to
            # the scan — partition values are data columns). A filter
            # key naming a transform FIELD of the current spec filters
            # on the transform expression over the raw column.
            cur = {
                f.name: f
                for f in parse_partition_spec(root["partition_by"])
                if f.transform != "identity"
            }
            types = {f.name: f.dataType for f in schema.fields}
            for c, val in partition_filter.items():
                key = f"__p_{c}"
                if all(
                    key in _frag_columns(_file_partition_fragment(rel))
                    for rel in files_list
                ):
                    continue  # every kept file was path-pruned exactly
                if c in cur:
                    from news_lakehouse_spark.sources.partition_spec import (
                        field_expr,
                    )

                    col = field_expr(cur[c], types.get(cur[c].source))
                else:
                    col = F.col(c)
                vals = (
                    list(val)
                    if isinstance(val, (list, set, tuple))
                    else [val]
                )
                nn = [x for x in vals if x is not None]
                cond = col.isin(nn) if nn else F.lit(False)
                if any(x is None for x in vals):
                    cond = cond | col.isNull()
                df = df.filter(cond)
        return df

    @staticmethod
    def _carry_epochs(man: dict) -> dict:
        """Schema-epoch keys a metadata-only commit (delete, evolve-
        spec, sync cursor, rollback) copies from its parent manifest
        unchanged."""
        return {k: man[k] for k in _EPOCH_KEYS}

    def _read_files(
        self, rels: list[str], schema: StructType, epochs: dict
    ) -> DataFrame:
        """Read an explicit manifest file list pinned to the MANIFEST's
        schema: passing the schema to the reader skips the
        footer-sampling inference job (mergeSchema paid one per read —
        measurable when every merge, feed, and time-travel read builds
        a fresh relation) and null-fills columns absent from older
        commits by name, which is exactly the add-column evolution
        ``merge(evolve_schema=True)`` supports. Partition values live
        inside the files (see ``_write_commit``), so no basePath/path
        parsing is needed and the plan is a single scan node no matter
        how many commits the snapshot spans — table history depth
        never bloats read plans.

        ``epochs`` is the manifest listing ``rels`` (any dict with its
        ``schema_id``/``schemas``/``file_sids`` keys — see module
        notes): files group by the epoch they were WRITTEN under and
        each group's physical columns map to the target ``schema`` BY
        FIELD ID: renames re-alias, widened types cast, later-added
        fields null-fill, and a re-added name with a new id never
        reads a dropped column's bytes. One scan node per live epoch
        (few — compaction collapses them), each with full
        pushdown/pruning; epoch-identical groups skip the projection
        entirely."""
        target_json = schema.jsonValue()
        target_sig = _schema_signature(target_json)
        cur_sid = epochs["schema_id"]
        fs = epochs["file_sids"]
        groups: dict[int, list[str]] = {}
        for rel in rels:
            groups.setdefault(fs.get(rel, cur_sid), []).append(rel)
        frames = []
        for sid in sorted(groups):
            paths = [os.path.join(self.path, r) for r in groups[sid]]
            phys_json = epochs["schemas"][str(sid)]
            if _schema_signature(phys_json) == target_sig:
                frames.append(self.spark.read.schema(schema).parquet(*paths))
                continue
            phys = schema_from_json(phys_json)
            raw = self.spark.read.schema(phys).parquet(*paths)
            # by-nested-field-id projection: renames re-alias, widened
            # types cast, added fields (top-level OR inside a struct/
            # array/map) null-fill, dropped+re-added names never read
            # the dropped bytes — see _fid_map_expr
            frames.append(
                raw.select(
                    *_fid_select_exprs(
                        phys_json["fields"], schema, target_json
                    )
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def changes_plan(
        self, from_version: int, to_version: int | None = None
    ) -> dict:
        """File-level plan for ``changes()``: which files the feed will
        read, computed by WALKING THE COMMIT CHAIN and skipping
        content-preserving commits (``compact``) entirely — a span
        crossing a compaction reads only the files real merges churned,
        not 2x the snapshot the compact rewrote (r5 ask #1).

        Per non-compact commit, the churn is the file diff vs its
        parent; the per-commit adds/removes compose by signed-multiset
        addition, so the union of per-commit added files minus the
        union of removed files equals the endpoint row diff (a file
        added in one commit and dropped in a later one cancels in the
        exceptAll). The endpoint file diff is ALSO row-correct across a
        compaction (the rewrite cancels in the exceptAll) — it is just
        a different file set: smaller when consecutive merges rewrite
        the same partitions, larger when a compaction sits inside the
        span. Both plans are computed and the one reading fewer files
        wins; when an intermediate manifest was vacuumed only the
        endpoint plan is available.
        Returns {"added": [...], "removed": [...], "walked": bool}.
        """
        from_version = self._resolve_version(from_version)
        to_v = self._resolve_version(to_version)
        to_v = self.latest_version() if to_v is None else to_v
        retained = set(self.versions())
        root_a = self._load_root(from_version)
        root_b = self._load_root(to_v)
        set_a = set(self._manifest_files_stats(root_a)[0])
        set_b = set(self._manifest_files_stats(root_b)[0])
        dels_a = root_a.get("delete_files") or []
        dels_b = root_b.get("delete_files") or []
        endpoint = {
            "mode": "endpoint",
            "walked": False,
            "added": sorted(set_b - set_a),
            "removed": sorted(set_a - set_b),
            "steps": [],
        }
        chain = list(range(from_version + 1, to_v + 1))
        if not all(v in retained for v in chain):
            if dels_a == dels_b:
                return endpoint
            # merge-on-read deletes changed across a vacuumed chain:
            # a file diff can't see rows tombstoned in carried files —
            # only a full snapshot diff is provably correct here
            return {
                "mode": "snapshot",
                "walked": False,
                "added": sorted(set_b),
                "removed": sorted(set_a),
                "steps": [],
            }
        steps: list[dict] = []
        added: list[str] = []
        removed: list[str] = []
        has_delete = False
        prev_files = set_a
        prev_dels = dels_a
        for v in chain:
            root = self._load_root(v)
            cur_files = (
                set_b if v == to_v
                else set(self._manifest_files_stats(root)[0])
            )
            op = root["operation"]
            if op == "delete":
                has_delete = True
                new_entries = [
                    e
                    for e in (root.get("delete_files") or [])
                    if e["version"] == v
                ]
                steps.append(
                    {"version": v, "op": op, "entries": new_entries}
                )
            elif op != "compact":
                a = sorted(cur_files - prev_files)
                r = sorted(prev_files - cur_files)
                if a or r:
                    steps.append(
                        {
                            "version": v,
                            "op": op,
                            "added": a,
                            "removed": r,
                            "parent_deletes": prev_dels,
                        }
                    )
                    added.extend(a)
                    removed.extend(r)
            prev_files = cur_files
            prev_dels = root.get("delete_files") or []
        walked = {
            "mode": "walked",
            "walked": True,
            "added": added,
            "removed": removed,
            "steps": steps,
        }
        if has_delete or dels_a != dels_b:
            return walked  # only the walk composes tombstones correctly
        if len(added) + len(removed) <= len(endpoint["added"]) + len(
            endpoint["removed"]
        ):
            return walked
        return endpoint

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two retained versions — the
        Iceberg incremental-read analog that lets a downstream pipeline
        process only the delta of a 100 TB table.

        Reads ONLY the files ``changes_plan`` selects: per-commit
        churned files with compaction commits skipped (files carried by
        reference contribute nothing; a compact's full rewrite
        contributes nothing either), then removes rewritten-but-
        unchanged rows with exceptAll, so cost scales with the CHURN
        across the span — not the table, and not the compactions in
        between. Output: to_version's schema plus ``_change_type``
        ('insert' | 'delete'); an update appears as a delete of the old
        image plus an insert of the new one.
        """
        from_version = self._resolve_version(from_version)
        to_v = self._resolve_version(to_version)
        to_v = self.latest_version() if to_v is None else to_v
        plan = self.changes_plan(from_version, to_v)
        root_b = self._load_root(to_v)
        schema = schema_from_json(root_b["schema"])
        schema_json = root_b["schema"]
        empty = self.spark.createDataFrame([], schema)

        def align(df: DataFrame, src_root: dict) -> DataFrame:
            """Project a frame in ``src_root``'s logical schema to the
            ENDPOINT schema by field id (rename/widen/drop-safe)."""
            return df.select(
                *_fid_select_exprs(
                    src_root["schema"]["fields"], schema, schema_json
                )
            )

        if plan["mode"] == "snapshot":
            a = align(self.read(version=from_version), self._load_root(from_version))
            b = self.read(version=to_v)
            added, removed = b, a
        elif plan["mode"] == "endpoint":
            # identical delete entries at both ends: applying them to
            # both sides kills already-dead rows on the removed side
            # and is a no-op on added files (all newer than any entry).
            # Removed files live in the FROM manifest — their epochs
            # resolve there; added files live in the endpoint's.
            root_a = self._load_root(from_version)
            removed = (
                self._apply_deletes(
                    self._read_files(plan["removed"], schema, root_a),
                    root_b,
                )
                if plan["removed"]
                else empty
            )
            added = (
                self._apply_deletes(
                    self._read_files(plan["added"], schema, root_b), root_b
                )
                if plan["added"]
                else empty
            )
        else:  # walked: compose per-commit diffs
            adds, rems = [], []
            for step in plan["steps"]:
                if step["op"] == "delete":
                    # rows tombstoned at this commit = live rows of the
                    # parent snapshot matching the new entries' keys
                    parent_root = self._load_root(step["version"] - 1)
                    snap = self.read(version=step["version"] - 1)
                    for e in step["entries"]:
                        kdf = self.spark.read.parquet(
                            *[os.path.join(self.path, p) for p in e["paths"]]
                        )
                        fc = e.get("file_cols", e["key_cols"])
                        kdf = kdf.select(
                            *[
                                F.col(a).alias(b)
                                for a, b in zip(fc, e["key_cols"])
                            ]
                        )
                        rems.append(
                            align(
                                snap.join(
                                    F.broadcast(kdf),
                                    e["key_cols"],
                                    "left_semi",
                                ),
                                parent_root,
                            )
                        )
                    continue
                step_root = self._load_root(step["version"])
                if step["added"]:
                    adds.append(
                        self._read_files(step["added"], schema, step_root)
                    )
                if step["removed"]:
                    # apply the PARENT manifest's tombstones: rows that
                    # were already dead when this commit dropped the
                    # file must not count as deleted here (they were
                    # fed by their own delete step, or died pre-span)
                    rems.append(
                        self._apply_deletes(
                            self._read_files(
                                step["removed"],
                                schema,
                                self._load_root(step["version"] - 1),
                            ),
                            {"delete_files": step["parent_deletes"]},
                        )
                    )

            def union_all(frames):
                out = empty
                for f in frames:
                    out = out.unionByName(f)
                return out

            added, removed = union_all(adds), union_all(rems)
        # Both multiset differences in ONE aggregation: tag each side
        # with a +1/-1 sign, sum per distinct row, and replicate |net|
        # times. Catalyst rewrites each exceptAll into exactly this
        # union+aggregate+generate shape (RewriteExceptAll), so the
        # prior added.exceptAll(removed) / removed.exceptAll(added)
        # pair aggregated the SAME union twice; one signed pass halves
        # the feed's shuffle and aggregation work with identical
        # multiset semantics (net > 0 -> that many inserts, net < 0 ->
        # that many deletes, net = 0 -> rewritten-but-unchanged row,
        # dropped — same null/NaN row equality, it is the same
        # Aggregate machinery).
        cols = [f.name for f in schema.fields]
        tagged = (
            added.select(*cols)
            .withColumn("__sign", F.lit(1).cast("long"))
            .unionByName(
                removed.select(*cols).withColumn(
                    "__sign", F.lit(-1).cast("long")
                )
            )
        )
        net = tagged.groupBy(*cols).agg(F.sum("__sign").alias("__net"))
        return (
            net.filter(F.col("__net") != 0)
            .select(
                *cols,
                F.when(F.col("__net") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.explode(
                    F.sequence(F.lit(1).cast("long"), F.abs(F.col("__net")))
                ).alias("__i"),
            )
            .drop("__i")
        )

    # --- commits ---------------------------------------------------------

    # --- bloom-filter sidecars (point-lookup pruning) --------------------

    @staticmethod
    def _bloom_positions(h: int, bits: int, k: int) -> list[int]:
        """k bit positions from one xxhash64 value, by double hashing.
        The arithmetic mirrors the numpy packing in
        ``_build_bloom_sidecar`` exactly (unsigned shift, then mod),
        and the probe value is hashed on the driver by
        ``spark_xxhash64`` (a Spark-exact XXH64), so a probe tests the
        same bits an executor set without running a job."""
        u = h & 0xFFFFFFFFFFFFFFFF
        h1 = u >> 33
        h2 = u % (1 << 31)
        return [(h1 + i * h2) % bits for i in range(k)]

    def _build_bloom_sidecar(
        self,
        files: list[str],
        columns: list[str],
        schema: StructType,
        version: int,
    ) -> str | None:
        """One grouped pass per bloom column builds a bloom bitmap for
        each of the given (newly written) files; a sidecar JSON next to
        the manifests stores them with their hash count k — the Iceberg
        puffin analog. Min/max bounds cannot prune a point lookup on a
        high-cardinality column unless the table is clustered on it; a
        bloom prunes regardless of layout, which is what an id-lookup
        over an 800k-file table needs.

        The pass hashes every non-null value with Spark's ``xxhash64``
        and groups the hashes by file. Per file, numpy takes the
        distinct hashes, sizes the bitmap to the smallest power of two
        holding ``_BLOOM_BITS_PER_KEY`` bits per distinct key (64 to
        ``_BLOOM_MAX_BITS``), sets the ``_BLOOM_K`` positions of each
        hash (``_bloom_positions``' arithmetic) and packs it
        executor-side, so the driver receives m/8 bytes per file, never
        the hashes. Sidecars load lazily and ONLY when an equality
        predicate on a bloom column reaches ``files_for``, which hashes
        the probe values on the driver (``spark_xxhash64``); a column
        type or value it cannot hash exactly keeps every file."""
        from urllib.parse import unquote, urlparse

        if not files:
            return None
        k, per_key, max_bits = _BLOOM_K, _BLOOM_BITS_PER_KEY, _BLOOM_MAX_BITS

        def pack(pdf):
            import base64

            import numpy as np
            import pandas as pd

            u = np.unique(pdf["h"].to_numpy()).view(np.uint64)
            m = 64
            while m < per_key * len(u) and m < max_bits:
                m <<= 1
            h1, h2 = u >> np.uint64(33), u % np.uint64(1 << 31)
            bitmap = np.zeros(m // 8, dtype=np.uint8)
            for i in range(k):
                p = (h1 + np.uint64(i) * h2) % np.uint64(m)
                bits = (1 << (p % 8)).astype(np.uint8)
                np.bitwise_or.at(bitmap, p // 8, bits)
            packed = base64.b64encode(bitmap.tobytes()).decode("ascii")
            return pd.DataFrame(
                {"f": [pdf["f"].iloc[0]], "m": [m], "b": [packed]}
            )

        cols = [c for c in columns if c in schema.names]
        df = self.spark.read.schema(
            StructType([schema[c] for c in cols])
        ).parquet(*[os.path.join(self.path, f) for f in files])
        root_abs = os.path.abspath(self.path)
        per_file: dict[str, dict[str, dict]] = {}
        for col in cols:
            rows = (
                df.where(F.col(col).isNotNull())
                .select(
                    F.input_file_name().alias("f"), F.xxhash64(col).alias("h")
                )
                .groupBy("f")
                .applyInPandas(pack, "f string, m long, b string")
                .collect()
            )
            for r in rows:
                path = unquote(urlparse(r["f"]).path)
                per_file.setdefault(os.path.relpath(path, root_abs), {})[
                    col
                ] = {"m": r["m"], "b": r["b"]}
        name = f"{version:012d}-{uuid.uuid4().hex[:8]}.bloom-0.json"
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as f:
            json.dump({"k": k, "files": per_file}, f)
        return name

    def _load_bloom_files(self, bloom: dict) -> dict:
        """{file: (k, {column: {"m", "b"}})} over the listed sidecars."""
        out: dict[str, tuple] = {}
        d = self._manifest_dir()
        for name in bloom["sidecars"]:
            try:
                with open(os.path.join(d, name)) as f:
                    side = json.load(f)
            except FileNotFoundError:
                continue  # vacuumed sidecar: those files keep (no prune)
            for rel, cols in side["files"].items():
                out[rel] = (side["k"], cols)
        return out

    def _commit(
        self,
        df: DataFrame,
        files: list[str],
        parent: int | None,
        partition_by: list[str] | None,
        operation: str,
        prior_stats: dict | None = None,
        delete_files: list[dict] | None = None,
        bloom_columns: list[str] | None = None,
        properties: dict | None = None,
    ) -> int:
        """Publish a DATA commit of ``files``. The bloom config is
        ``bloom_columns`` (None inherits the parent's); like
        ``_epoch_state``, the files under this commit's
        ``data/c{version}-`` prefix are the new ones: one sidecar covers
        them, and of the parent's sidecars only those whose commit still
        has a live file stay listed."""
        version = (parent or 0) + 1
        p_root = self._load_root(parent) if parent is not None else {}
        # CHECK constraints ride every commit (Delta table-constraint
        # analog): inherit the parent's set; add/drop are their own
        # metadata-only commits.
        cons = p_root.get("constraints") or {}
        stats, stat_types = self._collect_stats(files, df.schema, prior_stats)
        p_bloom = p_root.get("bloom") or {}
        if bloom_columns is None:
            bloom_columns = p_bloom.get("columns")
        bloom = None
        if bloom_columns:
            prefix = f"{_DATA_DIR}/c{version:012d}-"
            live = {rel.split("/", 2)[1][1:13] for rel in files}
            sidecars = [
                s for s in p_bloom.get("sidecars", []) if s[:12] in live
            ]
            name = self._build_bloom_sidecar(
                [rel for rel in files if rel.startswith(prefix)],
                bloom_columns,
                df.schema,
                version,
            )
            if name:
                sidecars.append(name)
            bloom = {"columns": list(bloom_columns), "sidecars": sidecars}
        manifest = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "partition_by": partition_by or [],
            "files": files,
            "num_files": len(files),
            "stats": stats,
            "stat_types": stat_types,
            "delete_files": delete_files or [],
            "bloom": bloom,
            "constraints": cons,
            "properties": properties or {},
        }
        manifest.update(self._epoch_state(df.schema.jsonValue(), parent, files, version))
        self._publish(manifest)
        return version

    def _epoch_state(
        self,
        schema_json: dict,
        parent: int | None,
        files: list[str],
        version: int,
    ) -> dict:
        """Schema-epoch keys for a DATA commit. The table's first
        commit mints epoch 0: every field, nested ones included, gets
        a fresh id. Later commits keep each field's parent fid by
        name; genuinely new columns (merge evolve_schema) get fresh
        ids and bump the epoch. New data files belong to the resulting
        epoch; carried files keep the epoch they were written under
        (sparse map: current-epoch files are omitted)."""
        p_root = (
            self._load_root(parent)
            if parent is not None
            else {"schema_id": None, "schemas": {}, "file_sids": {}, "next_fid": 1}
        )
        p_sid = p_root["schema_id"]
        schemas = dict(p_root["schemas"])
        p_json = schemas.get(str(p_sid), {"fields": []})
        p_by_name = {f["name"]: f for f in p_json["fields"]}
        # next_fid is monotone across ROLLBACKS too: a restored
        # manifest carries the newest next_fid, so fids of forgotten
        # epochs are never reissued (a changes() span crossing the
        # rollback would alias two different columns)
        counter = {"next": p_root["next_fid"]}

        def alloc() -> int:
            v = counter["next"]
            counter["next"] += 1
            return v

        fields = []
        for f in schema_json["fields"]:
            pf = p_by_name.get(f["name"])
            if pf is None:  # genuinely new column (merge evolve_schema)
                fields.append(
                    {
                        **f,
                        "metadata": {
                            **(f.get("metadata") or {}),
                            "fid": alloc(),
                        },
                        "type": _walk_assign_fids(f["type"], alloc),
                    }
                )
            else:  # carried column: keep its fid AND its nested fids
                # (the DataFrame's own ids, if any, are not this
                # table's; every epoch's nested fields carry ids, which
                # the by-id read mapping relies on)
                fields.append(
                    {
                        **f,
                        "metadata": {
                            **(f.get("metadata") or {}),
                            "fid": _field_fid(pf),
                        },
                        "type": _graft_nested_fids(
                            f["type"], pf["type"], alloc
                        ),
                    }
                )
        new_json = {**schema_json, "fields": fields}
        next_fid = counter["next"]
        if p_sid is not None and _schema_signature(
            new_json
        ) == _schema_signature(p_json):
            sid = p_sid
            new_json = p_json
        else:
            # globally unique across ALL known epochs, not parent+1:
            # a rollback carries forward post-target epochs precisely
            # so their ids are never re-issued for a different schema
            # (advice r8 — a changes() span crossing the rollback
            # would otherwise read old files under wrong names)
            sid = max((int(k) for k in schemas), default=-1) + 1
            schemas[str(sid)] = new_json
        p_fs = p_root["file_sids"]
        prefix = f"{_DATA_DIR}/c{version:012d}-"
        file_sids = {}
        for rel in files:
            if rel.startswith(prefix):
                continue  # written by THIS commit → current epoch
            s = p_fs.get(rel, p_sid)
            if s != sid:
                file_sids[rel] = s
        return {
            "schema_id": sid,
            "schemas": schemas,
            "file_sids": file_sids,
            "next_fid": next_fid,
        }

    def delete_keys(
        self,
        keys: DataFrame,
        key_cols: list[str] | None = None,
        properties: dict | None = None,
    ) -> int:
        """Merge-on-read equality DELETE (Iceberg v2 delete-file
        analog): commit a SMALL parquet of key tuples instead of
        rewriting data files — at 100 TB, deleting a handful of keys by
        copy-on-write means rewriting every touched partition; here the
        delete commit costs O(keys) and reads pay one broadcast
        anti-join until ``compact()`` materializes the deletes and
        clears the entries.

        The entry applies only to files committed BEFORE it (file
        commit version < delete version), so a later merge re-inserting
        a deleted key wins. All data files carry over by reference;
        history/time travel see a normal commit with operation
        'delete'. Returns the committed version. Losing a version race
        to a concurrent merge replays the delete against the winner's
        manifest (replay-safe: the key set is independent of the
        snapshot); a losing attempt's staged key parquet becomes an
        unreferenced orphan that ``vacuum()`` reclaims, same as any
        crashed commit (r7 verdict #3).
        """
        cols = list(key_cols or keys.columns)
        staged = keys.select(*cols).dropna().distinct().coalesce(1)

        def once() -> int:
            parent = self.latest_version()
            if parent is None:
                raise FileNotFoundError(
                    f"no committed version at {self.path}"
                )
            man = self._load_manifest(parent)
            version = parent + 1
            commit = f"c{version:012d}-{uuid.uuid4().hex[:8]}"
            abs_dir = os.path.join(self.path, _DATA_DIR, commit, "_deletes")
            staged.write.mode("error").parquet(abs_dir)
            paths = sorted(
                os.path.relpath(os.path.join(abs_dir, n), self.path)
                for n in os.listdir(abs_dir)
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            )
            self._publish(
                {
                    "version": version,
                    "parent": parent,
                    "operation": "delete",
                    "partition_by": man["partition_by"],
                    "files": man["files"],
                    "num_files": man["num_files"],
                    "stats": man.get("stats", {}),
                    "stat_types": man.get("stat_types", {}),
                    "delete_files": (man.get("delete_files") or [])
                    + [
                        {
                            "paths": paths,
                            "key_cols": cols,
                            "version": version,
                        }
                    ],
                    "bloom": man.get("bloom"),
                    "constraints": man.get("constraints") or {},
                    "properties": properties or {},
                    **self._carry_epochs(man),
                }
            )
            return version

        return self._retry_commit(once)

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        operation: str = "overwrite",
        bloom_columns: list[str] | None = None,
        properties: dict | None = None,
    ) -> int:
        """CREATE / INSERT OVERWRITE: a full new snapshot (old versions
        remain readable until vacuumed). ``bloom_columns`` opts the
        table into per-file bloom sidecars for point-lookup pruning:
        one pass per commit, each file's bitmap sized from its own
        distinct keys (see ``_build_bloom_sidecar``). Later commits
        inherit the columns; omit them to keep the parent's setting,
        pass ``[]`` to turn blooms off."""
        parent = self.latest_version()
        if parent is not None:
            if partition_by is None:
                partition_by = self._load_root(parent)["partition_by"] or None
            self._enforce_constraints(df, context="write")
        version = (parent or 0) + 1
        files = self._write_commit(df, version, partition_by)
        return self._commit(
            df, files, parent, partition_by, operation,
            bloom_columns=bloom_columns, properties=properties,
        )

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """FAST APPEND (Iceberg AppendFiles / Delta blind INSERT): write
        ``df``'s rows as NEW data files and commit parent files + new
        files. No existing file is read, no key is compared — the
        commit costs O(new data) + one manifest at ANY table size,
        which is the only ingest shape that survives a 100 TB table
        under a high-frequency writer (a merge must at least key-probe
        the affected partitions; reference parity: the bronze hop is
        append-shaped, gcs_bronze_to_silver.py:160-233, it never
        updates). Appends are also the commits the
        ``versioned_table`` streaming source (sources/datasource.py)
        tails: a merge that rewrites files is a change commit, an
        append streams as-is.

        The input must carry exactly the table's current columns
        (missing/extra raise — append never evolves schema; evolve
        first, then append); values cast to the table's types. Lays
        out under the committed partition spec. Conflict-free by
        construction, so losing a version race retries with a fresh
        write of only the new files (same optimistic loop as merge).
        Creates the table when it doesn't exist yet."""
        if self.latest_version() is None:
            return self.write(df, operation="append", properties=properties)
        cons_checked = self._constraints_at(self.latest_version())
        self._enforce_constraints(df, cons_checked, context="append")
        last_err: Exception | None = None
        for _attempt in range(3):
            parent = self.latest_version()
            # A concurrent add_check_constraint may have committed
            # since validation; revalidate against the winner's set so
            # violating rows can't slip in through the retry path.
            cons_now = self._constraints_at(parent)
            if cons_now != cons_checked:
                self._enforce_constraints(
                    df, cons_now,
                    context="append (constraints changed concurrently)",
                )
                cons_checked = cons_now
            man = self._load_manifest(parent)
            tgt = schema_from_json(man["schema"])
            want = [f.name for f in tgt.fields]
            missing = [c for c in want if c not in df.columns]
            extra = [c for c in df.columns if c not in want]
            if missing or extra:
                raise ValueError(
                    f"append input schema mismatch: missing {missing}, "
                    f"unexpected {extra}; append never evolves schema — "
                    "use rename/add_column/merge(evolve_schema=True) "
                    "first"
                )
            aligned = df.select(
                *[F.col(f.name).cast(f.dataType) for f in tgt.fields]
            )
            spec = man["partition_by"] or None
            new_files = self._write_commit(aligned, parent + 1, spec)
            files = sorted(man["files"] + new_files)
            try:
                return self._commit(
                    aligned, files, parent, spec, "append",
                    prior_stats=man.get("stats"),
                    # new files postdate every retained delete entry
                    # (same commit-version fencing as merge's carry)
                    delete_files=man.get("delete_files"),
                    properties=properties,
                )
            except ConcurrentCommitError as e:
                last_err = e  # loser re-derives from the winner
        raise last_err  # type: ignore[misc]

    def clone(
        self,
        dest_path: str,
        version: int | None = None,
        properties: dict | None = None,
    ) -> "VersionedParquetTable":
        """ZERO-COPY table clone (the Delta ``SHALLOW CLONE`` analog
        with STRONGER isolation): every live data file, merge-on-read
        tombstone parquet, and bloom sidecar of ``version`` HARDLINKS
        into the clone (same bytes on disk, no copy), and the clone
        publishes them as its own first commit AT the source's version
        number (commit numbers embedded in carried file paths keep
        their MOR-fencing/epoch meaning; the clone's history continues
        from there) — history, tags, and future commits fully
        independent. At 100 TB a dev/test fork of the production table
        costs O(files) metadata, not a data pass.

        Why hardlinks beat Delta's path-sharing shallow clone: Delta's
        clone references the SOURCE's files, so vacuuming the source
        corrupts the clone (a documented Delta footgun). A hardlink
        has its own directory entry — either side may vacuum, compact,
        or delete freely; the filesystem reclaims bytes only when the
        last reference drops. Cross-device links fall back to a real
        copy per file (still correct, no longer zero-copy); on object
        stores swap the link for a server-side copy.

        The clone preserves relative file paths, so the commit-version
        fencing inside MOR delete entries (rows deleted only in files
        whose path predates the tombstone) carries over unchanged, and
        schema-epoch state (``schemas``/``file_sids``/``next_fid``)
        moves wholesale — old-epoch files project identically in the
        clone. ``properties`` land on the clone's first commit
        (published at the source's version number, so MOR fencing and
        epoch paths stay consistent) alongside
        ``clone_source``/``clone_source_version`` provenance keys.
        """
        import shutil

        v = self._resolve_version(version)
        v = self.latest_version() if v is None else v
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        dest = VersionedParquetTable(self.spark, dest_path)
        if dest.latest_version() is not None:
            raise ValueError(
                f"clone: destination {dest_path!r} already has commits"
            )
        man = self._load_manifest(v)

        def _link(rel: str, dst_root: str) -> None:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dst_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device / FS without hardlinks
                shutil.copy2(src, dst)

        for rel in man["files"]:
            _link(rel, dest.path)
        for e in man.get("delete_files") or []:
            for rel in e["paths"]:
                _link(rel, dest.path)
        bloom = man.get("bloom")
        if bloom:
            dst_mdir = dest._manifest_dir()
            os.makedirs(dst_mdir, exist_ok=True)
            for name in bloom.get("sidecars") or []:
                src = os.path.join(self._manifest_dir(), name)
                dst = os.path.join(dst_mdir, name)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
        manifest = dict(man)
        # _load_manifest materializes a sharded root's files/stats but
        # keeps the "shards" key; published as-is it would point the
        # clone's readers at shard files that only exist in the SOURCE
        # manifest dir. Drop it — _publish reshards for the clone's
        # own threshold if the file list warrants it.
        manifest.pop("shards", None)
        manifest.update(
            {
                # publish at the SOURCE's version number, not 1: the
                # engine derives semantics from the c{version:012d}
                # embedded in carried file paths — MOR delete fencing
                # (_apply_deletes: __f_v < entry version) and epoch
                # attribution (_epoch_state: this-commit prefix skip).
                # Restarting at 1 would make a clone commit at version
                # N collide with carried data/cNNN- paths: carried
                # tombstones would silently delete rows later written
                # to the clone, and carried old-epoch files would be
                # misread under the current epoch. Starting at v keeps
                # every embedded number and fence consistent; the
                # clone's own history continues from v+1.
                "version": v,
                "parent": None,
                "operation": "clone",
                "properties": {
                    **(properties or {}),
                    "clone_source": self.path,
                    "clone_source_version": str(v),
                },
            }
        )
        dest._publish(manifest)
        return dest

    def add_files(
        self, paths: list[str], properties: dict | None = None
    ) -> int:
        """Register EXTERNALLY WRITTEN parquet files as a fast-append
        commit (Iceberg's ``add_files`` / Spark's
        ``ALTER TABLE ... ADD FILES`` analog): the files move (rename,
        no copy) into the new commit's data directory and the commit
        carries parent files by reference — O(new files) at any table
        size. This is the primitive the ``versioned_table`` streaming
        SINK builds on (sources/datasource.py): executors write their
        micro-batch partitions as bare parquet, the driver-side commit
        registers them atomically.

        Works WITHOUT a SparkSession (driver-side DataSource workers
        have none): stats come from footers serially, schema checks
        from footers. Guards:

        - the table must exist (appends never create) and be
          UNPARTITIONED (external files carry no partition fragment;
          lay out partitioned data via ``append()``);
        - each file's footer schema must match the table's current
          columns by name AND Spark type (timestamp tz-ness ignored —
          the explicit-schema read handles either encoding);
        - a bloom-configured table needs a session (sidecar build is a
          Spark job) — raises when ``self.spark is None``.

        Loses a version race by RENAMING the staged commit dir to the
        next attempt (files never copy twice); a crash before publish
        leaves an orphan dir that ``vacuum`` reclaims after its grace
        window.
        """
        import uuid

        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        if not paths:
            raise ValueError("add_files: no files given")
        names = [os.path.basename(p) for p in paths]
        if len(set(names)) != len(names):
            raise ValueError(
                "add_files: duplicate file basenames — files land in "
                "ONE commit directory, a repeated name would silently "
                "overwrite; rename before registering"
            )
        if self.latest_version() is None:
            raise FileNotFoundError(
                "add_files: table does not exist yet — create it with "
                "write()/merge() first (an initial commit fixes the "
                "schema external files are checked against)"
            )

        def _norm(t: str) -> str:
            return "timestamp" if t.startswith("timestamp") else t

        file_schemas = {
            p: from_arrow_schema(pq.read_schema(p)) for p in paths
        }
        # CHECK constraints: validate the incoming files' rows ONCE,
        # before the retry loop moves them into a commit dir (a retry
        # could no longer re-read the original paths). Session-less
        # DataSource sink workers skip — documented in
        # add_check_constraint.
        if self.spark is not None:
            root0 = self._load_root(self.latest_version())
            cons0 = root0.get("constraints") or {}
            if cons0:
                self._enforce_constraints(
                    self.spark.read.schema(
                        schema_from_json(root0["schema"])
                    ).parquet(*paths),
                    cons0,
                    context="add_files",
                )
        cons_checked = self._constraints_at(self.latest_version())
        cur_dir: str | None = None
        last_err: Exception | None = None
        for _attempt in range(3):
            parent = self.latest_version()
            # The incoming files may already have been moved into a
            # commit dir by a lost attempt, so rows can't reliably be
            # revalidated here — when a concurrent constraint change
            # won the race, FAIL the commit instead (Delta's metadata-
            # conflict behavior); the caller re-reads and retries.
            if self._constraints_at(parent) != cons_checked:
                raise ConcurrentCommitError(
                    "add_files: CHECK constraints changed concurrently "
                    "between validation and publish; re-run add_files "
                    "so the rows are validated against the new set"
                )
            man = self._load_manifest(parent)
            if man["partition_by"]:
                raise ValueError(
                    "add_files: table is partitioned by "
                    f"{man['partition_by']} — external files carry no "
                    "partition fragment; append() lays out partitioned "
                    "data"
                )
            tgt = schema_from_json(man["schema"])
            want = [(f.name, _norm(f.dataType.simpleString())) for f in tgt.fields]
            for p, fs in file_schemas.items():
                got = [
                    (f.name, _norm(f.dataType.simpleString()))
                    for f in fs.fields
                ]
                if got != want:
                    raise ValueError(
                        f"add_files: {p!r} schema {got} does not match "
                        f"the table's current schema {want}; cast/"
                        "reorder columns before writing the file"
                    )
            if man.get("bloom") and self.spark is None:
                raise ValueError(
                    "add_files: table has a bloom sidecar config; "
                    "building sidecars is a Spark job — use a "
                    "session-bound VersionedParquetTable handle"
                )
            version = parent + 1
            ddir_rel = os.path.join(
                _DATA_DIR, f"c{version:012d}-{uuid.uuid4().hex[:8]}"
            )
            ddir = os.path.join(self.path, ddir_rel)
            if cur_dir is None:
                os.makedirs(ddir, exist_ok=True)
                for p in paths:
                    os.replace(
                        p, os.path.join(ddir, os.path.basename(p))
                    )
            else:  # lost a race: re-home the staged dir, files intact
                os.replace(cur_dir, ddir)
            cur_dir = ddir
            rels = sorted(
                os.path.join(ddir_rel, os.path.basename(p)) for p in paths
            )

            class _SchemaShim:  # _commit touches only .schema
                schema = tgt

            try:
                return self._commit(
                    _SchemaShim(),
                    sorted(man["files"] + rels),
                    parent,
                    None,
                    "append",
                    prior_stats=man.get("stats"),
                    delete_files=man.get("delete_files"),
                    properties=properties,
                )
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def set_partition_spec(
        self,
        partition_by: list[str] | None,
        properties: dict | None = None,
    ) -> int:
        """Partition-spec EVOLUTION (Iceberg's ALTER TABLE ... REPLACE
        PARTITION FIELD analog): a METADATA-ONLY commit that changes
        how FUTURE writes are laid out. No data file is touched — at
        100 TB that is the entire point: repartitioning by rewrite
        costs a full-table pass, while this costs one manifest.

        Existing files keep their old-spec path fragments; reads stay
        correct because partition values live inside the files as data
        columns, partition-filter pruning keeps old-spec files
        conservatively (read() adds the row filter for them), and
        merges rewrite old-spec files into the current spec only when
        they overlap affected partitions (incremental migration).
        ``compact()`` materializes the new layout table-wide in one
        go. Returns the committed version (or the current one when the
        spec is unchanged). A concurrent commit landing between the
        manifest read and the publish replays the (pure, replay-safe)
        spec change against the winner — same optimistic-retry
        contract as merge() and the schema-evolution ops (r7 verdict
        #3)."""

        def once() -> int:
            parent = self.latest_version()
            if parent is None:
                raise FileNotFoundError(
                    f"no committed version at {self.path}; create the "
                    "table with write()/merge(partition_by=...) instead"
                )
            man = self._load_manifest(parent)
            new = list(partition_by or [])
            names = {
                f.name for f in schema_from_json(man["schema"]).fields
            }
            # entries may be transforms (hidden partitioning): validate
            # the parse AND that every SOURCE column exists
            missing = [
                f.spec
                for f in parse_partition_spec(new)
                if f.source not in names
            ]
            if missing:
                raise ValueError(
                    f"partition spec columns {missing} are not in the "
                    "table schema"
                )
            if new == (man["partition_by"] or []):
                return parent
            self._publish(
                {
                    "version": parent + 1,
                    "parent": parent,
                    "operation": "evolve-spec",
                    "partition_by": new,
                    "files": man["files"],
                    "num_files": man["num_files"],
                    "stats": man.get("stats", {}),
                    "stat_types": man.get("stat_types", {}),
                    "delete_files": man.get("delete_files") or [],
                    "bloom": man.get("bloom"),
                    "constraints": man.get("constraints") or {},
                    "properties": properties or {},
                    **self._carry_epochs(man),
                }
            )
            return parent + 1

        return self._retry_commit(once)

    # --- CHECK constraints (Delta ADD CONSTRAINT analog) -------------------

    def constraints(self) -> dict[str, str]:
        """{name: sql_expr} in force at the latest version."""
        v = self.latest_version()
        if v is None:
            return {}
        return dict(self._load_root(v).get("constraints") or {})

    def add_check_constraint(
        self, name: str, expr: str, validate: bool = True
    ) -> int:
        """Add a table-wide CHECK constraint as a METADATA-ONLY commit
        (Delta ``ALTER TABLE ... ADD CONSTRAINT`` analog): every later
        ``write``/``append``/``merge``/``add_files`` validates its
        INCOMING rows against the expression before anything publishes
        — a violation raises :class:`ConstraintViolationError` with
        sample rows and nothing commits. SQL CHECK semantics: a row
        fails only when the expression is FALSE (NULL passes — put
        ``IS NOT NULL`` in the expression to forbid nulls).

        ``validate=True`` (default, Delta's behavior) scans the
        CURRENT snapshot once and refuses to add a constraint existing
        rows already violate; ``validate=False`` skips that O(table)
        scan — the constraint then only guards future writes.
        Enforcement note: session-less ``add_files`` (DataSource sink
        workers) cannot run the validation scan and skips it — gate
        that path upstream when constraints must be airtight."""

        def once() -> int:
            parent = self.latest_version()
            if parent is None:
                raise FileNotFoundError(
                    f"no committed version at {self.path}"
                )
            man = self._load_manifest(parent)
            cons = dict(man.get("constraints") or {})
            if name in cons:
                raise ValueError(
                    f"constraint {name!r} already exists "
                    f"({cons[name]!r}); drop_check_constraint first"
                )
            # force expression ANALYSIS against the table schema so an
            # unparseable/unresolvable expr fails HERE, not on the
            # next write
            empty = self.spark.createDataFrame(
                [], schema_from_json(man["schema"])
            )
            empty.filter(F.expr(expr)).columns  # analysis only
            if validate:
                self._enforce_constraints(
                    self.read(parent), {name: expr},
                    context="add_check_constraint (existing rows)",
                )
            self._publish(
                {
                    "version": parent + 1,
                    "parent": parent,
                    "operation": "add-constraint",
                    "partition_by": man["partition_by"],
                    "files": man["files"],
                    "num_files": man["num_files"],
                    "stats": man.get("stats", {}),
                    "stat_types": man.get("stat_types", {}),
                    "delete_files": man.get("delete_files") or [],
                    "bloom": man.get("bloom"),
                    "constraints": {**cons, name: expr},
                    "properties": {"constraint_added": name},
                    **self._carry_epochs(man),
                }
            )
            return parent + 1

        return self._retry_commit(once)

    def drop_check_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""

        def once() -> int:
            parent = self.latest_version()
            if parent is None:
                raise FileNotFoundError(
                    f"no committed version at {self.path}"
                )
            man = self._load_manifest(parent)
            cons = dict(man.get("constraints") or {})
            if name not in cons:
                raise ValueError(
                    f"no constraint named {name!r}; have {sorted(cons)}"
                )
            cons.pop(name)
            self._publish(
                {
                    "version": parent + 1,
                    "parent": parent,
                    "operation": "drop-constraint",
                    "partition_by": man["partition_by"],
                    "files": man["files"],
                    "num_files": man["num_files"],
                    "stats": man.get("stats", {}),
                    "stat_types": man.get("stat_types", {}),
                    "delete_files": man.get("delete_files") or [],
                    "bloom": man.get("bloom"),
                    "constraints": cons,
                    "properties": {"constraint_dropped": name},
                    **self._carry_epochs(man),
                }
            )
            return parent + 1

        return self._retry_commit(once)

    def _constraints_at(self, version: int | None) -> dict[str, str]:
        """The committed CHECK-constraint set as of ``version`` ({} for
        an absent table). Used by the optimistic retry loops to detect
        a concurrent add/drop_check_constraint between validation and
        publish — Delta's commit protocol flags this as a metadata
        conflict; we revalidate against the winner's set instead."""
        if version is None:
            return {}
        return dict(self._load_root(version).get("constraints") or {})

    def _enforce_constraints(
        self,
        df: DataFrame,
        cons: dict[str, str] | None = None,
        context: str = "write",
    ) -> None:
        """Raise ConstraintViolationError when any row of ``df`` fails
        a CHECK constraint (expression FALSE; NULL passes). ONE scan
        for all constraints; no-op (no job) when none are defined."""
        if cons is None:
            v = self.latest_version()
            cons = (
                (self._load_root(v).get("constraints") or {})
                if v is not None
                else {}
            )
        if not cons:
            return
        marks = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.coalesce(F.expr(e), F.lit(True)), F.lit(n)
                    )
                    for n, e in sorted(cons.items())
                ]
            )
        )
        bad = (
            df.select(
                marks.alias("_violated"),
                F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias(
                    "_row"
                ),
            )
            .filter(F.size("_violated") > 0)
            .limit(3)
            .collect()
        )
        if bad:
            detail = "; ".join(
                f"{list(r['_violated'])}: {r['_row'][:200]}" for r in bad
            )
            raise ConstraintViolationError(
                f"{context}: rows violate CHECK constraint(s) "
                f"{sorted({n for r in bad for n in r['_violated']})} "
                f"(nothing committed). Samples: {detail}"
            )

    # --- schema evolution (metadata-only; see module notes) ---------------

    def _evolve_commit(
        self, mutate, operation: str, properties: dict | None = None,
        guard=None,
    ) -> int:
        """Shared core of rename/drop/widen/add_column: apply
        ``mutate`` to the current epoch's schema JSON, pin every live
        file to the epoch it was written under, and publish the result
        as a METADATA-ONLY commit — no data file is read or written, so
        evolving a 100 TB table
        costs one manifest. Reference tables are fixed-schema
        (gcs_bronze_to_silver.py:73-158 DDL), but their Iceberg layer
        allows all four operations; this is the parity surface.

        Optimistic concurrency, same as merge(): losing a version race
        (a merge committing between our read and publish) re-derives
        the evolution from the winner's manifest and retries — the
        mutation is a pure schema function, so replaying it on the
        newer snapshot is always the intended result. ``guard`` (a
        callable taking the parent manifest) re-runs on EVERY attempt,
        so a concurrent commit that moves the column into the
        partition spec / bloom config between attempts is refused
        against the manifest actually being evolved (advice r7)."""
        return self._retry_commit(
            lambda: self._evolve_commit_once(
                mutate, operation, properties, guard
            )
        )

    @staticmethod
    def _retry_commit(once, attempts: int = 5) -> int:
        """Optimistic-concurrency loop shared by every REPLAY-SAFE
        metadata commit (schema evolution, partition-spec evolution,
        merge-on-read deletes): ``once`` re-reads latest_version() and
        publishes; losing the version race re-derives the commit from
        the winner's manifest and tries again. Only mutations that are
        pure functions of the current snapshot belong here — rollback
        deliberately does NOT retry (replaying it would silently
        discard the interleaved commit; see rollback())."""
        last_err: ConcurrentCommitError | None = None
        for _attempt in range(attempts):
            try:
                return once()
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def _evolve_commit_once(
        self, mutate, operation: str, properties: dict | None = None,
        guard=None,
    ) -> int:
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._load_manifest(parent)
        if guard is not None:
            guard(man)
        sid = man["schema_id"]
        schemas = dict(man["schemas"])
        next_fid = man["next_fid"]
        new_schema, extra = mutate(dict(schemas[str(sid)]), next_fid, man)
        # globally unique epoch id (see _epoch_state): never re-issue
        # an id a rollback's restored manifest still references
        new_sid = max(int(k) for k in schemas) + 1
        schemas[str(new_sid)] = new_schema
        # Stats follow the column through the mutation (advice r7): a
        # DROP deletes its per-file bounds and type tag (else a later
        # re-add with a fresh fid would consult the dropped column's
        # stale null_count==0 and wrongly prune all-NULL pre-drop files
        # on is_null — resurrecting dropped metadata); a RENAME re-keys
        # them (same fid, same data, still-valid bounds — without this,
        # bounds pruning on the renamed column silently misses every
        # pre-rename file forever).
        stats = man.get("stats", {})
        stat_types = man.get("stat_types", {})
        rekey = extra.get("stats_rekey") or {}
        gone = set(extra.get("stats_drop") or ())
        if rekey or gone:
            def _fix(d: dict) -> dict:
                return {
                    rekey.get(c, c): v
                    for c, v in d.items()
                    if c not in gone
                }
            stats = {rel: _fix(per) for rel, per in stats.items()}
            stat_types = _fix(stat_types)
        self._publish(
            {
                "version": parent + 1,
                "parent": parent,
                "operation": operation,
                "partition_by": man["partition_by"],
                "schema_id": new_sid,
                "schemas": schemas,
                "file_sids": {
                    rel: s
                    for rel in man["files"]
                    if (s := man["file_sids"].get(rel, sid)) != new_sid
                },
                "next_fid": extra.get("next_fid", next_fid),
                "files": man["files"],
                "num_files": man["num_files"],
                "stats": stats,
                "stat_types": stat_types,
                "delete_files": extra.get(
                    "delete_files", man.get("delete_files") or []
                ),
                "bloom": man.get("bloom"),
                "constraints": man.get("constraints") or {},
                "properties": properties or {},
            }
        )
        return parent + 1

    @staticmethod
    def _guard_evolve_col(man: dict, name: str) -> None:
        """Refuse evolving a partition-spec or bloom column. Runs
        against the manifest being evolved, INSIDE the optimistic-retry
        loop (advice r7) — a concurrent commit that promotes the column
        between attempts is still caught."""
        if name in (man["partition_by"] or []):
            raise ValueError(
                f"column {name!r} is in the partition spec; evolve the "
                "spec first (set_partition_spec)"
            )
        if name in ((man.get("bloom") or {}).get("columns") or []):
            raise ValueError(
                f"column {name!r} carries bloom sidecars; disable them "
                "before evolving it"
            )

    def rename_column(
        self, old: str, new: str, properties: dict | None = None
    ) -> int:
        """Metadata-only RENAME (Iceberg ALTER TABLE ... RENAME COLUMN
        analog): the column keeps its field id, so every existing data
        file — written under the old name — reads correctly under the
        new one, in the current snapshot and across time travel.
        Merge-on-read delete entries tracking the column re-key to the
        new logical name (their key parquets keep the old physical
        name); per-file min/max stats re-key with them so bounds
        pruning keeps working on pre-rename files (advice r7).
        Partition-spec and bloom columns are refused.

        ``old`` may be a dotted path into a nested type
        ("top_comments.element.author" — 'element'/'key'/'value'
        address container innards; a bare subfield name steps through
        an array-of-struct implicitly); ``new`` is the bare new leaf
        name. The nested field keeps its fid the same way (r7 verdict
        #2)."""
        if "." in new:
            raise ValueError(
                f"new name {new!r} must be a bare field name, not a path"
            )

        def rename_leaf(fields: list[dict], leaf: str) -> list[dict]:
            names = [f["name"] for f in fields]
            if leaf not in names:
                raise ValueError(f"no column {leaf!r} to rename")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            return [
                {**f, "name": new} if f["name"] == leaf else f
                for f in fields
            ]

        def no_type(_t):
            raise ValueError(
                "rename addresses a named field, not a container "
                "element/key/value"
            )

        if "." in old:
            segs = old.split(".")

            def mutate(schema_json, _next_fid, _man):
                return _edit_type_path(
                    schema_json, segs, rename_leaf, no_type
                ), {}

            return self._evolve_commit(
                mutate, "rename-column", properties,
                guard=lambda man: self._guard_evolve_col(man, segs[0]),
            )

        def mutate(schema_json, _next_fid, man):
            fields = rename_leaf(schema_json["fields"], old)
            dels = []
            for e in man.get("delete_files") or []:
                if old in e["key_cols"]:
                    e = {
                        **e,
                        "file_cols": e.get("file_cols", e["key_cols"]),
                        "key_cols": [
                            new if c == old else c for c in e["key_cols"]
                        ],
                    }
                dels.append(e)
            return {**schema_json, "fields": fields}, {
                "delete_files": dels,
                "stats_rekey": {old: new},
            }

        return self._evolve_commit(
            mutate, "rename-column", properties,
            guard=lambda man: self._guard_evolve_col(man, old),
        )

    def drop_column(self, name: str, properties: dict | None = None) -> int:
        """Metadata-only DROP: the field leaves the logical schema; its
        bytes stay in old files but are unreadable (and a LATER
        add_column with the same name gets a NEW field id, so the
        dropped data never resurrects — the Iceberg field-id
        guarantee). The column's per-file stats and type tag drop with
        it — a later re-add must NOT inherit the dropped data's
        null_count/bounds, or is_null pruning would wrongly skip
        pre-drop files whose rows are logically NULL under the new
        field id (advice r7). Partition-spec, bloom, and merge-on-read
        delete-key columns are refused.

        ``name`` may be a dotted path; dropping a nested field leaves
        its siblings' bytes untouched (metadata-only, same as the top
        level) and a struct must keep at least one field."""
        segs = name.split(".")

        def guard(man):
            self._guard_evolve_col(man, segs[0])
            for e in man.get("delete_files") or []:
                if name in e["key_cols"]:
                    raise ValueError(
                        f"column {name!r} keys live merge-on-read delete "
                        "entries; compact() to materialize them first"
                    )

        def drop_leaf(fields: list[dict], leaf: str) -> list[dict]:
            names = [f["name"] for f in fields]
            if leaf not in names:
                raise ValueError(f"no column {leaf!r} to drop")
            if len(names) == 1:
                raise ValueError(
                    "cannot drop the only column"
                    if len(segs) == 1
                    else "cannot drop a struct's only field; drop the "
                    "struct column itself"
                )
            return [f for f in fields if f["name"] != leaf]

        def no_type(_t):
            raise ValueError(
                "drop addresses a named field, not a container "
                "element/key/value"
            )

        def mutate(schema_json, _next_fid, _man):
            out = _edit_type_path(schema_json, segs, drop_leaf, no_type)
            # nested fields never carry manifest stats (only top-level
            # primitives do), so stats_drop matters for the flat case
            return out, ({"stats_drop": [name]} if len(segs) == 1 else {})

        return self._evolve_commit(
            mutate, "drop-column", properties, guard=guard
        )

    def widen_column(
        self, name: str, new_type: str, properties: dict | None = None
    ) -> int:
        """Metadata-only type WIDENING (byte→short→int→long,
        float→double — the Iceberg-safe promotions): old files keep
        their narrow physical encoding and reads cast by field id; new
        files write the wide type. Narrowing is refused — it would
        corrupt existing values.

        ``name`` may be a dotted path; ending on 'element' / 'key' /
        'value' widens a container's primitive innards
        (``widen_column("scores.element", "bigint")`` turns
        array<int> into array<long> — old files' narrow arrays cast
        element-wise in the read projection, r7 verdict #2)."""
        tgt = {"int": "integer", "bigint": "long"}.get(new_type, new_type)
        segs = name.split(".")

        def widen_leaf(fields: list[dict], leaf: str) -> list[dict]:
            names = [f["name"] for f in fields]
            if leaf not in names:
                raise ValueError(f"no column {leaf!r} to widen")
            return [
                {**f, "type": _validated_widen_type(name, f["type"], tgt)}
                if f["name"] == leaf
                else f
                for f in fields
            ]

        def widen_type(t):
            return _validated_widen_type(name, t, tgt)

        def mutate(schema_json, _next_fid, _man):
            return _edit_type_path(
                schema_json, segs, widen_leaf, widen_type
            ), {}

        return self._evolve_commit(
            mutate, "widen-column", properties,
            guard=lambda man: self._guard_evolve_col(man, segs[0]),
        )

    def add_column(
        self, name: str, dtype: str, properties: dict | None = None
    ) -> int:
        """Metadata-only ADD: existing rows read NULL for the new
        column; the field gets a fresh id (so if it shadows a
        previously dropped name, the old bytes stay invisible).
        ``merge(evolve_schema=True)`` remains the add-with-data path.

        ``name`` may be a dotted path: ``add_column(
        "top_comments.element.flag", "boolean")`` adds a field inside
        every element struct — existing rows' elements read NULL for
        it. A nested ``dtype`` (struct/array/map) gets fids assigned
        throughout."""
        segs = name.split(".")

        def mutate(schema_json, next_fid, _man):
            from pyspark.sql.types import _parse_datatype_string

            counter = {"next": next_fid}

            def alloc() -> int:
                v = counter["next"]
                counter["next"] += 1
                return v

            t = _parse_datatype_string(dtype).jsonValue()

            def add_leaf(fields: list[dict], leaf: str) -> list[dict]:
                if leaf in [f["name"] for f in fields]:
                    raise ValueError(f"column {leaf!r} already exists")
                return fields + [
                    {
                        "name": leaf,
                        "type": _walk_assign_fids(t, alloc),
                        "nullable": True,
                        "metadata": {"fid": alloc()},
                    }
                ]

            def no_type(_t):
                raise ValueError(
                    "add_column targets a struct; use widen_column for "
                    "container element/key/value types"
                )

            out = _edit_type_path(schema_json, segs, add_leaf, no_type)
            return out, {"next_fid": counter["next"]}

        return self._evolve_commit(mutate, "add-column", properties)

    def write_audit_publish(
        self,
        df: DataFrame,
        rules: list,
        partition_by: list[str] | None = None,
        operation: str = "wap-overwrite",
    ) -> int:
        """Write-Audit-Publish: stage the snapshot's data files, audit
        the STAGED files, publish the manifest only if every
        expectation holds (the Iceberg WAP pattern, here on the
        manifest layer directly).

        The audit reads back the files just written — what is checked
        is byte-for-byte what readers would see, catching write-path
        corruption a pre-write check can't (type coercion, partition
        value rendering). A failed audit raises
        ``operators.validate.enforce``'s ValueError and publishes
        NOTHING: no manifest references the staged commit dir, readers
        never see it, and ``vacuum()`` reclaims it as an orphan.
        ``rules`` is a list of ``operators.validate.Rule``.
        """
        from news_lakehouse_spark.operators.validate import enforce

        parent = self.latest_version()
        if parent is not None and partition_by is None:
            partition_by = self._load_manifest(parent)["partition_by"] or None
        version = (parent or 0) + 1
        files = self._write_commit(df, version, partition_by)
        staged = self.spark.read.schema(df.schema).parquet(
            *[os.path.join(self.path, rel) for rel in files]
        )
        enforce(staged, rules)
        return self._commit(df, files, parent, partition_by, operation)

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        insert_only: bool = False,
        order_by: list[Column] | None = None,
        evolve_schema: bool = False,
        retries: int = 2,
        properties: dict | None = None,
        churn_covers_partitions: DataFrame | None = None,
    ) -> int:
        """Atomic MERGE commit (S8/S9 semantics from operators/merge.py).

        Partitioned tables rewrite only commits' files in AFFECTED
        partitions — untouched partitions' files carry over into the new
        manifest by reference, exactly Iceberg's copy-on-write MERGE. A
        partition emptied by keys moving out simply has no file in the
        new manifest (no directory deletion needed). Returns the
        committed version.

        The source is evaluated ONCE. A create with no CHECK
        constraints reads it once anyway (dedupe, then write) and
        streams it straight to the writer. Every other path reads it
        several times, so merge materializes it (``_materialize_churn``)
        first: before the constraint check when the table has
        constraints, else once it finds a parent to merge into. It is
        released when the commit returns or raises. The check, every
        retry attempt, the affected-partition probe and the rewrite's
        dedupe and anti join then read one flat in-memory scan instead
        of re-running the caller's plan. Callers pass the plain frame;
        none needs to materialize it first.

        ``churn_covers_partitions`` (the apply_changes fast path): a
        frame whose rows are guaranteed to cover every partition value
        this merge may touch — both where each source key is GOING and
        where it CURRENTLY lives in the target. When given, affected
        partitions are derived from it alone (one O(churn) distinct),
        skipping the O(target) semi-join probe that otherwise locates
        the source keys' current partitions. A change feed satisfies
        the guarantee against any replica maintained through the feed
        protocol: a changed key's pre-image (its old partition value
        included) rides the feed as the delete half of the update pair,
        and a replayed feed only ever ADDS already-rewritten partitions
        (a harmless superset). Callers whose target may hold source
        keys in partitions the frame does not mention (e.g. a replica
        manually rewritten outside the feed protocol) must not pass it:
        a missed partition would leave a duplicate key behind.
        """
        from news_lakehouse_spark.operators.merge import (
            _guard_source,
            merge_insert_only,
            merge_upsert,
        )

        release = None
        try:
            cons_checked = self._constraints_at(self.latest_version())
            if cons_checked:
                # only a committed table has constraints: the check
                # reads the source and the merge below reads it again
                source, release = _materialize_churn(source)
            self._enforce_constraints(source, cons_checked, context="merge")
            last_err: Exception | None = None
            for _attempt in range(retries + 1):
                parent = self.latest_version()
                # Revalidate when a concurrent add/drop_check_constraint
                # won the race (same metadata-conflict rule as append).
                cons_now = self._constraints_at(parent)
                if cons_now != cons_checked:
                    self._enforce_constraints(
                        source, cons_now,
                        context="merge (constraints changed concurrently)",
                    )
                    cons_checked = cons_now
                if parent is None:
                    merged = _guard_source(source, keys, order_by)
                    version = 1
                    files = self._write_commit(merged, version, partition_by)
                    try:
                        return self._commit(
                            merged, files, None, partition_by, "create",
                            properties=properties,
                        )
                    except ConcurrentCommitError as e:
                        last_err = e
                        continue
                if release is None:
                    # the probe and the rewrite's dedupe and anti join
                    # each read the source
                    source, release = _materialize_churn(source)

                man = self._load_manifest(parent)
                committed_spec = man["partition_by"] or None
                if partition_by is not None and list(partition_by) != (
                    committed_spec or []
                ):
                    # A spec passed here that differs from the manifest's
                    # is almost always a bug (the caller thinks the table
                    # is partitioned differently than it is). Evolving the
                    # spec is an explicit, metadata-only operation.
                    raise ValueError(
                        f"merge partition_by={list(partition_by)} conflicts with "
                        f"the committed partition spec {committed_spec or []}; "
                        "use set_partition_spec() to evolve a table's "
                        "partitioning"
                    )
                spec = committed_spec
                target = self.read(parent)

                if spec:
                    fields = parse_partition_spec(spec)
                    if churn_covers_partitions is not None:
                        # the caller's churn frame covers every affected
                        # partition (see docstring): ONE O(churn) distinct,
                        # no target scan
                        parts = [
                            r.asDict()
                            for r in churn_covers_partitions.select(
                                *spec_exprs(churn_covers_partitions, fields)
                            )
                            .distinct()
                            .collect()
                        ]
                    else:
                        # no distinct: a left_semi join never multiplies
                        # target rows, and over the materialized source
                        # the broadcast key list costs no shuffle job
                        src_keys = source.dropna(subset=keys).select(*keys)
                        # transform specs: probe the DERIVED partition
                        # values (dict keys = field names, matching path
                        # fragments). ONE distinct over the union — the
                        # former per-side distincts fed a third
                        # union-level distinct, paying two extra
                        # aggregation stages per partitioned merge for
                        # the same set (r12, guide §2.4).
                        new_parts = source.select(*spec_exprs(source, fields))
                        old_parts = target.join(
                            F.broadcast(src_keys), on=keys, how="left_semi"
                        ).select(*spec_exprs(target, fields))
                        parts = [
                            r.asDict()
                            for r in new_parts.unionByName(old_parts)
                            .distinct()
                            .collect()
                        ]
                    # Affected files by fragment overlap: current-spec
                    # files match their partition tuple exactly; old-spec
                    # files (evolution) rewrite into the current spec when
                    # they can't be proven disjoint — the incremental-
                    # migration path, Iceberg-style: each merge converts
                    # only the old-spec files it must touch, never the
                    # whole table.
                    _is_affected = _overlap_selector(self.spark, parts)
                    affected_files = [
                        f for f in man["files"] if _is_affected(f)
                    ]
                    schema = schema_from_json(man["schema"])
                    # Read ONLY the affected files (not the whole snapshot
                    # row-filtered): the scan is proportional to the churn,
                    # and old-spec files' rows ride along whole-file so the
                    # rewrite under the current spec loses nothing.
                    affected = (
                        self._apply_deletes(
                            self._read_files(affected_files, schema, man),
                            man,
                        )
                        if affected_files
                        else self.spark.createDataFrame([], schema)
                    )
                    merged = (
                        merge_insert_only(affected, source, keys, evolve_schema=evolve_schema)
                        if insert_only
                        else merge_upsert(
                            affected, source, keys, order_by, evolve_schema=evolve_schema
                        )
                    )
                    version = parent + 1
                    new_files = self._write_commit(merged, version, spec)
                    dropped = set(affected_files)
                    carried = [f for f in man["files"] if f not in dropped]
                    files = sorted(carried + new_files)
                    try:
                        return self._commit(
                            merged, files, parent, spec, "merge",
                            prior_stats=man.get("stats"),
                            # carried files still predate the delete entries;
                            # rewritten files get a newer commit version and
                            # fall outside them (see delete_keys)
                            delete_files=man.get("delete_files"),
                            properties=properties,
                        )
                    except ConcurrentCommitError as e:
                        last_err = e  # loser of the race: re-derive from winner
                        continue
                else:
                    merged = (
                        merge_insert_only(target, source, keys, evolve_schema=evolve_schema)
                        if insert_only
                        else merge_upsert(
                            target, source, keys, order_by, evolve_schema=evolve_schema
                        )
                    )
                    version = parent + 1
                    files = self._write_commit(merged, version, None)
                try:
                    # unpartitioned merge rewrites every file, so parent
                    # delete entries are materialized — drop them (blooms
                    # recompute over the full rewrite)
                    return self._commit(
                        merged, files, parent, spec, "merge",
                        properties=properties,
                    )
                except ConcurrentCommitError as e:
                    last_err = e  # loser of the race: re-derive from winner
            raise last_err  # type: ignore[misc]
        finally:
            if release is not None:
                release()

    def mirror_evolution_from(
        self,
        source: "VersionedParquetTable",
        from_version: int,
        to_version: int | None = None,
        include_partition_spec: bool = False,
    ) -> list[tuple]:
        """Replay the SOURCE's schema evolution between two of its
        versions onto THIS table — the piece that keeps a CDC replica
        (``sync_from``, ``streaming.table_feed.feed_into_replica``)
        alive across a source-side rename/widen/add/drop: the change
        feed arrives in the source's ENDPOINT schema, so a replica
        still carrying the old column names cannot apply it (Delta's
        readStream simply breaks on renames without a schema-tracking
        restart; here the evolution is derivable and metadata-only on
        both sides).

        The diff is BY FIELD ID across the source's epoch schemas
        (top-level and nested): same fid + new name → rename; same fid
        + widened primitive (incl. array element / map key/value
        innards) → widen; new fid → add (subtree adds collapse into
        their root); gone fid → drop (subsumed drops skipped). Op ORDER
        is planned collision-free (``_plan_mirror_fid_ops``, advice r8): renames
        topo-sort within each parent struct (chained a→b, b→c renames
        apply leave-first; an a↔b swap hops through a temp name), a
        drop that frees a taken name runs before the rename needing
        it, and remaining drops precede adds. Ops apply to the replica
        by the source's OLD names, which are the replica's current
        names provided the replica mirrored the source up to
        ``from_version`` — the invariant every sync/feed consumer
        maintains. Replay is exactly-once even for swaps: each op's
        commit records (mirror_span, mirror_seq) in the replica's
        properties and a replayed span resumes past its own committed
        ops; name-based preconditions additionally no-op replays from
        pre-seq-tracking checkpoints. Partition-spec
        evolution is NOT mirrored by default: physical layout is a
        per-table choice (a replica may cluster differently than its
        source, same as Delta replicas ignoring upstream OPTIMIZE) and
        correctness never depends on it. A replica operator that DOES
        want the source's clustering intent opts in with
        ``include_partition_spec=True``, which additionally clones the
        source's spec at ``to_version`` (``mirror_partition_spec_from``
        — after the schema ops, so the spec's endpoint column names
        resolve). Returns the schema ops applied (for logging /
        tests); no data is read or written on either table."""
        from_v = source._resolve_version(from_version)
        to_v = source._resolve_version(to_version)
        to_v = source.latest_version() if to_v is None else to_v
        root_a = source._load_root(from_v)
        root_b = source._load_root(to_v)
        ops: list[tuple] = []

        def my_type_at(path: str):
            v = self.latest_version()
            if v is None:
                return None
            return _type_at_path(
                self._load_root(v)["schema"], path.split(".")
            )

        def ddl(t) -> str:
            return (
                schema_from_json(
                    {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "x",
                                "type": t,
                                "nullable": True,
                                "metadata": {},
                            }
                        ],
                    }
                )
                .fields[0]
                .dataType.simpleString()
            )

        # ---- PLAN: a pure function of the source's two schemas, so a
        # replayed span regenerates the IDENTICAL op sequence and the
        # per-op (mirror_span, mirror_seq) commit properties below can
        # resume or skip it exactly (advice r8: name-based
        # preconditions alone cannot tell a replayed a<->b swap from a
        # fresh one — replaying it would swap the columns back)
        plan = self._plan_mirror_fid_ops(
            root_a["schema"], root_b["schema"], ddl
        )
        # ---- APPLY, exactly once per checkpointed span: skip every op
        # this span already committed (resume point from the replica's
        # own properties); the name-based preconditions additionally
        # keep pre-seq-tracking replays and manually-evolved replicas
        # idempotent. A genuine conflict still raises out of the op.
        span_key = f"{source.path}@{from_v}-{to_v}"
        applied_seq = self._last_mirror_seq(span_key)
        for seq, op in enumerate(plan):
            if seq <= applied_seq:
                continue  # committed by a previous replay of this span
            props = {"mirror_span": span_key, "mirror_seq": seq}
            kind = op[0]
            if kind == "rename":
                _, path, new = op
                parent = path.rsplit(".", 1)[0] + "." if "." in path else ""
                if (
                    my_type_at(path) is None
                    and my_type_at(parent + new) is not None
                ):
                    continue  # already renamed (replayed span)
                self.rename_column(path, new, properties=props)
            elif kind == "widen":
                _, path, tgt = op
                if my_type_at(path) == tgt:
                    continue  # already widened (replayed span)
                self.widen_column(path, tgt, properties=props)
            elif kind == "add":
                _, path, tddl = op
                if my_type_at(path) is not None:
                    continue  # already added (replayed span)
                self.add_column(path, tddl, properties=props)
            else:  # drop
                _, path = op
                if my_type_at(path) is None:
                    continue  # already dropped (replayed span)
                self.drop_column(path, properties=props)
            ops.append(op)
        if include_partition_spec:
            self.mirror_partition_spec_from(source, to_v)
        return ops

    def mirror_partition_spec_from(
        self,
        source: "VersionedParquetTable",
        at_version: int | None = None,
        properties: dict | None = None,
    ) -> int | None:
        """Opt-in clone of the SOURCE's partition spec at
        ``at_version`` (default: its latest) onto THIS table — the
        companion to ``mirror_evolution_from`` for replica operators
        that want the source's clustering intent too (e.g. a failover
        replica that must prune identically, Iceberg's REPLACE
        PARTITION FIELD replayed downstream). Metadata-only on both
        sides and naturally idempotent: ``set_partition_spec`` returns
        the current version unchanged when the spec already matches,
        so replaying a span re-applies nothing. The spec's column
        names are the source's names AT ``at_version``; mirror the
        schema evolution for the span first (the default
        ``include_partition_spec=True`` path does), or a spec naming a
        column this table doesn't carry fails ``set_partition_spec``'s
        schema guard — the correct loud outcome for a diverged
        replica. Existing replica files keep their old-spec layout
        (incremental migration, same contract as any spec evolution).
        Returns the replica version holding the spec, or None when the
        replica has no committed version yet (nothing to evolve; the
        snapshot write that creates it copies the spec itself)."""
        v = source._resolve_version(at_version)
        v = source.latest_version() if v is None else v
        if self.latest_version() is None:
            return None
        spec = source._load_manifest(v).get("partition_by") or []
        return self.set_partition_spec(spec or None, properties=properties)

    def _last_mirror_seq(self, span_key: str) -> int:
        """Newest mirror_seq THIS table committed for the given source
        span — the exactly-once resume point for a replayed mirror
        (advice r8). One newest-first O(retained-versions) properties
        scan per mirror call; -1 when the span never applied here."""
        if not self.exists():
            return -1
        for v in reversed(self.versions()):
            props = self.snapshot_properties(v) or {}
            if props.get("mirror_span") == span_key:
                return int(props.get("mirror_seq", -1))
        return -1

    @staticmethod
    def _plan_mirror_fid_ops(
        schema_a: dict, schema_b: dict, ddl
    ) -> list[tuple]:
        """Deterministic mirror-op sequence for an epoch-tracked span,
        diffed by field id (see ``mirror_evolution_from``). The
        ordering is collision-free for every legal source evolution
        (advice r8 — depth ordering alone crashed on chained renames):
        renames are grouped per parent struct and TOPOLOGICALLY
        ordered, so a field renames away from a name before a sibling
        takes it; pure cycles (an a<->b swap) break through a
        ``__mirror_tmp_<fid>`` hop; a drop that frees a taken name
        runs immediately before the rename that needs it; the
        remaining drops run BEFORE adds so a re-used name is vacated
        first."""

        def fid_paths(schema_json) -> dict[int, tuple[str, object]]:
            out: dict[int, tuple[str, object]] = {}

            def walk_fields(fields, prefix):
                for f in fields:
                    path = prefix + f["name"]
                    out[_field_fid(f)] = (path, f["type"])
                    walk_type(f["type"], path)

            def walk_type(t, path):
                if _is_struct(t):
                    walk_fields(t["fields"], path + ".")
                elif _is_array(t):
                    walk_type(t["elementType"], path + ".element")
                elif _is_map(t):
                    walk_type(t["valueType"], path + ".value")

            walk_fields(schema_json["fields"], "")
            return out

        a = fid_paths(schema_a)
        b = fid_paths(schema_b)
        plan: list[tuple] = []
        # non-subsumed drops and their replica paths: B names for the
        # surviving ancestors (they're common fids, renamed by the time
        # a drop runs) + the A-side leaf being dropped
        dropped = sorted(
            (fid for fid in a if fid not in b),
            key=lambda fid: a[fid][0].count("."),
        )
        drop_roots: list[str] = []
        for fid in dropped:
            pa = a[fid][0]
            if any(pa.startswith(p + ".") for p in drop_roots):
                continue  # subsumed by a dropped ancestor
            drop_roots.append(pa)

        def map_drop_path(pa: str) -> str:
            parts = pa.split(".")
            mapped = []
            for i in range(len(parts) - 1):
                anc_a = ".".join(parts[: i + 1])
                anc_fid = next(
                    (f for f, (p, _) in a.items() if p == anc_a), None
                )
                if anc_fid is not None and anc_fid in b:
                    mapped.append(b[anc_fid][0].rsplit(".", 1)[-1])
                else:
                    mapped.append(parts[i])
            return ".".join(mapped + [parts[-1]])

        drop_path = {pa: map_drop_path(pa) for pa in drop_roots}
        early_drops: set[str] = set()
        # renames: per-parent groups, shallow parents first (ancestor
        # renames fix up descendant paths), topo order within a group
        common = [fid for fid in a if fid in b]
        groups: dict[tuple[int, str], dict[str, tuple[str, int]]] = {}
        for fid in common:
            pa, pb = a[fid][0], b[fid][0]
            la, lb = pa.rsplit(".", 1)[-1], pb.rsplit(".", 1)[-1]
            if la == lb:
                continue
            parent_b = pb.rsplit(".", 1)[0] if "." in pb else ""
            groups.setdefault((pb.count("."), parent_b), {})[la] = (lb, fid)
        for depth, parent_b in sorted(groups):
            pending = groups[(depth, parent_b)]
            freed: dict[str, str] = {}  # leaf -> A-path of freeing drop
            for pa in drop_roots:
                dp = drop_path[pa]
                d_parent = dp.rsplit(".", 1)[0] if "." in dp else ""
                if d_parent == parent_b:
                    freed[dp.rsplit(".", 1)[-1]] = pa

            def qual(leaf: str) -> str:
                return f"{parent_b}.{leaf}" if parent_b else leaf

            while pending:
                progressed = False
                for la in sorted(pending):
                    lb, fid = pending[la]
                    if lb in pending:
                        continue  # target vacates via a sibling rename
                    if lb in freed:  # target vacates via a sibling drop
                        pa_drop = freed.pop(lb)
                        plan.append(("drop", drop_path[pa_drop]))
                        early_drops.add(pa_drop)
                    plan.append(("rename", qual(la), lb))
                    del pending[la]
                    progressed = True
                if not progressed:  # pure rename cycle: temp-name hop
                    la = sorted(pending)[0]
                    lb, fid = pending.pop(la)
                    tmp = f"__mirror_tmp_{fid}"
                    plan.append(("rename", qual(la), tmp))
                    pending[tmp] = (lb, fid)
        # widens (paths already in B names)
        for fid in common:
            ta, tb = a[fid][1], b[fid][1]
            if ta == tb:
                continue

            def widen_inner(path, x, y):
                if isinstance(x, str) and isinstance(y, str):
                    if x != y:
                        plan.append(("widen", path, y))
                elif _is_array(x) and _is_array(y):
                    widen_inner(
                        path + ".element", x["elementType"], y["elementType"]
                    )
                elif _is_map(x) and _is_map(y):
                    widen_inner(path + ".key", x["keyType"], y["keyType"])
                    widen_inner(
                        path + ".value", x["valueType"], y["valueType"]
                    )
                # struct-vs-struct: nested fields carry their own fids

            widen_inner(b[fid][0], ta, tb)
        # remaining drops BEFORE adds: an add may take a dropped name
        for pa in drop_roots:
            if pa not in early_drops:
                plan.append(("drop", drop_path[pa]))
        # adds (subtree adds collapse into their root)
        added = sorted(
            (fid for fid in b if fid not in a),
            key=lambda fid: b[fid][0].count("."),
        )
        add_roots: list[str] = []
        for fid in added:
            path = b[fid][0]
            if any(path.startswith(p + ".") for p in add_roots):
                continue  # subsumed by an added ancestor subtree
            plan.append(("add", path, ddl(b[fid][1])))
            add_roots.append(path)
        return plan

    def apply_changes(
        self,
        feed: DataFrame,
        keys: list[str],
        order_by: list[Column] | None = None,
        properties: dict | None = None,
    ) -> int:
        """Apply a change feed (``changes()`` output: row schema plus
        ``_change_type`` 'insert'|'delete') to THIS table — the CDC
        consumer that lets a downstream replica track an upstream
        versioned table incrementally: cost scales with the feed, not
        either table. Updates arrive as delete+insert of the same key
        and land as one upsert; keys deleted WITHOUT a re-insert in the
        same feed become a merge-on-read tombstone commit (no data
        rewrite). At most two commits per application; returns the
        last committed version. ``properties`` ride the LAST commit
        only — a sync cursor recorded this way (see ``sync_from``)
        never claims a partially-applied feed."""
        # The feed plan (per-commit manifest diffs + exceptAll +
        # tombstone anti-joins) would otherwise recompute for each
        # action below: the change-kind probe, delete_keys' dead-key
        # set, and the merge's reads of the feed — its inserts (which
        # merge() materializes itself when it reads them more than
        # once) and its affected partitions (churn_covers_partitions).
        # The feed is O(churn) by construction, so materializing it
        # once is always cheaper than re-deriving it from the table's
        # history — and in local mode the materialization also
        # TRUNCATES LINEAGE (localCheckpoint): the actions plan against
        # a flat RDD scan instead of re-analyzing (and re-running AQE
        # stage jobs over) the whole feed plan. Cluster mode keeps a
        # recomputable persist: executor loss then recomputes the feed
        # instead of failing the application.
        feed, release = _materialize_churn(feed)
        try:
            inserts = feed.filter(F.col("_change_type") == "insert").drop(
                "_change_type"
            )
            # Per-key change kinds in ONE shuffle: a key is DEAD when
            # the span deletes it without re-inserting it (tombstone),
            # every other delete is half of an upsert pair. This
            # replaces the former distinct+distinct+anti-join dead-key
            # derivation (three shuffles) with one aggregation, and the
            # probe below folds the former two driver actions (change-
            # kind collect + dead-emptiness probe) into one job.
            is_ins = (F.col("_change_type") == "insert").cast("int")
            keyed = feed.groupBy(*keys).agg(
                F.max(is_ins).alias("__has_ins"),
                F.max(1 - is_ins).alias("__has_del"),
            )
            dead = (
                keyed.filter(
                    (F.col("__has_del") == 1) & (F.col("__has_ins") == 0)
                )
                .select(*keys)
            )
            probe = keyed.agg(
                F.max("__has_ins").alias("any_ins"),
                F.max(
                    F.when(
                        (F.col("__has_del") == 1)
                        & (F.col("__has_ins") == 0),
                        1,
                    ).otherwise(0)
                ).alias("any_dead"),
            ).collect()[0]
            has_inserts = probe["any_ins"] == 1
            has_dead = probe["any_dead"] == 1
            version = self.latest_version()
            if has_inserts:
                version = self.merge(
                    inserts,
                    keys,
                    order_by=order_by,
                    properties=None if has_dead else properties,
                    # O(churn) affected-partition derivation: a changed
                    # key's pre-image rides the feed as its delete row,
                    # so the feed's own rows (inserts AND deletes)
                    # cover every partition this merge must rewrite —
                    # no O(table) target probe (see merge()).
                    churn_covers_partitions=feed,
                )
            if has_dead:
                version = self.delete_keys(dead, keys, properties=properties)
            if version is None:
                raise FileNotFoundError(
                    f"empty feed applied to uncommitted table {self.path}"
                )
            return version
        finally:
            release()

    def _span_renames(self, from_version, to_version) -> dict[str, str]:
        """Top-level old→new column names across a version span,
        diffed by field id — the key-column fix-up for a replica or
        feed crossing a rename. Independent of what mirroring actually
        applied (a replayed span's mirror is a no-op but the keys
        still need mapping)."""

        def names(version) -> dict[int, str]:
            root = self._load_root(self._resolve_version(version))
            return {_field_fid(f): f["name"] for f in root["schema"]["fields"]}

        fa, fb = names(from_version), names(to_version)
        return {fa[i]: fb[i] for i in fa if i in fb and fa[i] != fb[i]}

    def sync_from(
        self,
        source: "VersionedParquetTable",
        keys: list[str],
        order_by: list[Column] | None = None,
    ) -> int:
        """One-call incremental replica sync: pull the upstream's
        change feed since the last synced version and apply it, with
        the cursor recorded ATOMICALLY in the final commit's manifest
        properties — the crash-safe CDC loop a downstream copy of a
        100 TB table runs on a schedule. First call full-copies the
        current snapshot; every later call costs O(churn).

        Crash-safety is by idempotence, not coordination: the cursor
        rides only the LAST commit of an application (see
        ``apply_changes``), so a crash mid-apply leaves the old cursor
        in place and the retry re-applies the same feed — re-upserting
        identical rows and re-tombstoning dead keys are both no-ops.
        Returns the replica version now current (unchanged when the
        upstream hasn't advanced)."""
        upstream = source.latest_version()
        if upstream is None:
            raise FileNotFoundError(f"no committed version at {source.path}")
        # The cursor is the MOST RECENT sync commit's property, not the
        # latest commit's: an interleaved replica commit (the scheduled
        # compact() the maintenance docs recommend, or a manual merge)
        # must not hide it — that would silently degrade the next sync
        # from an O(churn) feed to a full-table copy. Scan retained
        # versions newest-first; only a replica with NO sync history
        # does the initial full copy.
        cursor = None
        for v in reversed(self.versions()):
            c = (self.snapshot_properties(v) or {}).get("sync_from_version")
            if c is not None:
                cursor = c
                break
        if cursor is None:
            if self.exists():
                warnings.warn(
                    f"replica at {self.path} has commits but no "
                    "sync_from_version cursor in any retained version "
                    "(vacuumed past the last sync?); falling back to a "
                    "FULL-TABLE copy",
                    stacklevel=2,
                )
            root = source._load_root(upstream)
            return self.write(
                source.read(version=upstream),
                partition_by=root["partition_by"] or None,
                operation="sync",
                properties={"sync_from_version": upstream},
            )
        cursor = int(cursor)
        if cursor >= upstream:
            return self.latest_version()
        # the span may cross source-side schema evolution: replay the
        # same metadata-only ops here first (idempotent) and fix up
        # renamed key columns, or the endpoint-schema feed can't
        # apply.
        self.mirror_evolution_from(source, cursor, upstream)
        renames = source._span_renames(cursor, upstream)
        keys = [renames.get(k, k) for k in keys]
        feed = source.changes(cursor, upstream)
        if feed.isEmpty():  # churn cancelled out: advance cursor only
            man = self._load_manifest(self.latest_version())
            self._publish(
                {
                    **{
                        k: man[k]
                        for k in ("partition_by", "files", "num_files")
                    },
                    "version": self.latest_version() + 1,
                    "parent": self.latest_version(),
                    "operation": "sync",
                    "stats": man.get("stats", {}),
                    "stat_types": man.get("stat_types", {}),
                    "delete_files": man.get("delete_files") or [],
                    "bloom": man.get("bloom"),
                    "constraints": man.get("constraints") or {},
                    "properties": {"sync_from_version": upstream},
                    **self._carry_epochs(man),
                }
            )
            return self.latest_version()
        return self.apply_changes(
            feed,
            keys,
            order_by=order_by,
            properties={"sync_from_version": upstream},
        )

    def rollback(self, version: int | str) -> int:
        """Restore the table to an older retained snapshot by COMMITTING
        a new version whose manifest references that snapshot's files —
        the Iceberg rollback / Delta RESTORE analog. Metadata-only: no
        data is read or rewritten, so restoring a 100 TB table after a
        bad commit costs one manifest write. History keeps both the bad
        commits and the restore (time travel still reaches them until
        ``vacuum``), and ``changes()`` across the restore emits the
        row-level delta back to the restored state — a downstream CDC
        consumer un-applies the bad data automatically via
        ``apply_changes``. Unlike the replay-safe metadata commits,
        losing a version race raises a descriptive
        ``ConcurrentCommitError`` instead of retrying — see the inline
        note. Accepts a version number or tag name;
        returns the committed version (the current version unchanged
        when it already matches the target snapshot's manifest)."""
        target = self._resolve_version(version)
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        if target == parent:
            return parent
        old = self._load_manifest(target)
        cur_root = self._load_root(parent)
        # NO optimistic retry here, deliberately: rollback targets a
        # snapshot the CALLER judged good relative to the history they
        # saw. Auto-replaying over a commit that landed mid-call would
        # silently discard that interleaved commit — the caller must
        # look at the new history and re-decide (r7 verdict #3).
        try:
            self._do_rollback_publish(parent, target, old, cur_root)
        except ConcurrentCommitError as e:
            raise ConcurrentCommitError(
                f"table advanced past version {parent} while rollback to "
                f"{target} was in flight; a concurrent commit landed that "
                "this restore would silently discard. Inspect history() "
                "and call rollback again if the restore is still wanted."
            ) from e
        return parent + 1

    def _do_rollback_publish(
        self, parent: int, target: int, old: dict, cur_root: dict
    ) -> None:
        self._publish(
            {
                "version": parent + 1,
                "parent": parent,
                "operation": "rollback",
                "partition_by": old["partition_by"],
                "files": old["files"],
                "num_files": old["num_files"],
                "stats": old.get("stats", {}),
                "stat_types": old.get("stat_types", {}),
                "delete_files": old.get("delete_files") or [],
                "bloom": old.get("bloom"),
                "constraints": cur_root.get("constraints") or {},
                "properties": {"rollback_of": target},
                **self._carry_epochs(old),
                # fids AND epoch ids stay monotone across the restore:
                # post-target epochs are carried forward, so neither a
                # fid nor a schema id is ever re-issued for different
                # content (advice r8)
                "next_fid": max(old["next_fid"], cur_root["next_fid"]),
                "schemas": {**cur_root["schemas"], **old["schemas"]},
            }
        )

    # --- maintenance -----------------------------------------------------

    def plan_compaction(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
    ) -> list[dict]:
        """Pick the partitions worth compacting, FROM METADATA ONLY:
        a partition qualifies when it holds more files than its live
        bytes justify at ``target_file_bytes`` (small-file buildup from
        many merges) and at least ``min_files`` files. Returns a list
        of partition-value dicts ready for ``compact(partitions=...)``
        — the maintenance loop for a 100 TB table is
        ``compact(partitions=plan_compaction())`` on a schedule, never
        a full rewrite. Empty list means nothing to do (also for
        unpartitioned tables — compact() handles those whole)."""
        import math

        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._load_manifest(parent)
        spec = man["partition_by"] or None
        if not spec:
            return []
        unesc = _unescape_fn(self.spark)
        sizes = self._file_sizes(man["files"])
        frag_files: dict[str, int] = {}
        frag_bytes: dict[str, int] = {}
        for rel in man["files"]:
            frag = _file_partition_fragment(rel)
            frag_files[frag] = frag_files.get(frag, 0) + 1
            frag_bytes[frag] = frag_bytes.get(frag, 0) + sizes[rel]
        spec_cols = {f.name for f in parse_partition_spec(spec)}
        out = []
        for frag, n in sorted(frag_files.items()):
            justified = max(1, math.ceil(frag_bytes[frag] / target_file_bytes))
            if not (n >= min_files and n > justified):
                continue
            # Only emit dicts over the CURRENT spec: a file written
            # under an older spec (or before partitioning) carries a
            # stale/empty fragment, and feeding its columns to
            # compact(partitions=...) makes the overlap selector
            # conservatively match every current-spec file missing
            # that column — a planned partial compaction silently
            # ballooning into a near-full rewrite. Old-spec buildup is
            # handled by compact()'s incremental-migration rule when
            # its current-spec partition is chosen, or a full compact.
            part: dict = {}
            for seg in frag.split("/"):
                c, _, v = seg.partition("=")
                if not c.startswith("__p_"):
                    part = {}
                    break
                part[c[len("__p_"):]] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else str(unesc(v))
                )
            if part and set(part) <= spec_cols:
                out.append(part)
        return out

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
        partitions: list[dict] | None = None,
    ) -> int:
        """Crash-safe small-file compaction: rewrite the current
        snapshot into a fresh commit sized from the ACTUAL live bytes
        and publish it as a new version — readers never see a partial
        rewrite, and the pre-compaction version stays time-travelable
        until vacuumed. Partitioned tables cluster by the partition
        columns AND honor ``target_file_bytes`` inside each partition
        (r5 ask #4): a partition whose live bytes exceed the target
        splits into ceil(bytes/target) files via a deterministic
        row-hash salt, so one hot date in a 100 TB table compacts to
        N right-sized files instead of one unsplittable giant.
        Unpartitioned tables split at ``target_file_bytes``. Returns
        the committed version.

        ``cluster_by`` additionally RANGE-clusters the rewrite on the
        given columns (repartitionByRange + sortWithinPartitions — the
        Delta ``OPTIMIZE ZORDER``/Iceberg sort-order analog): after a
        clustered compact, each file's min/max bounds for those columns
        are near-disjoint, so the manifest's column-bounds pruning
        (``files_for(predicate=...)``) drops most files for selective
        predicates instead of none. The write itself is no more
        expensive than a plain compact (same one shuffle, now ranged);
        the payoff repeats on every subsequent read. For multi-column
        locality use one interleaved key (functions.zorder) as the
        cluster column.

        ``partitions`` (a list of partition-value dicts over the
        current spec, e.g. ``plan_compaction()``'s output) restricts
        the rewrite to those partitions — PARTIAL compaction, the only
        kind that exists operationally at 100 TB: files elsewhere
        carry over by reference, merge-on-read delete entries stay (a
        rewritten file's newer commit version exempts it from them
        automatically, so the chosen partitions' tombstones
        materialize while carried files keep theirs), and the commit
        is content-preserving like any compact (``changes()`` skips
        it). Files written under an older partition spec rewrite when
        they overlap a chosen partition — the same incremental
        migration rule as merge. A dict may name any SUBSET of
        partition columns (``[{"d": "2020-01-01"}]`` compacts that
        date across all sub-partitions).
        """
        import math

        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._load_manifest(parent)
        spec = man["partition_by"] or None
        if partitions is not None:
            if not spec:
                raise ValueError(
                    "partial compaction needs a partitioned table; call "
                    "compact() without partitions"
                )
            return self._compact_partial(
                man, parent, spec, partitions, target_file_bytes,
                cluster_by=cluster_by,
            )
        df = self.read(parent)
        sizes = self._file_sizes(man["files"])
        total = sum(sizes.values())
        n_files = max(1, math.ceil(total / target_file_bytes))
        if cluster_by:
            # Column entries may be arbitrary expressions over the
            # snapshot (e.g. a scaled Morton key) — the Delta
            # OPTIMIZE ZORDER BY shape: the cluster key is computed
            # for the rewrite only, never materialized in the schema.
            cols = [F.col(c) if isinstance(c, str) else c for c in cluster_by]
            out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(
                *cols
            )
        elif spec:
            # Per-partition byte budget from the manifest (no scan):
            # fragment bytes / target → files per partition.
            frag_bytes: dict[str, int] = {}
            for rel in man["files"]:
                frag = _file_partition_fragment(rel)
                frag_bytes[frag] = frag_bytes.get(frag, 0) + sizes[rel]
            frag_n = {
                frag: max(1, math.ceil(b / target_file_bytes))
                for frag, b in frag_bytes.items()
            }
            out = self._spec_sized_repartition(df, spec, frag_n)
        else:
            out = df.repartition(n_files)
        version = parent + 1
        files = self._write_commit(out, version, spec)
        return self._commit(out, files, parent, spec, "compact")

    def _spec_sized_repartition(
        self, df: DataFrame, spec: list[str], frag_n: dict[str, int]
    ) -> DataFrame:
        """Repartition a rewrite on the partition spec, splitting any
        fragment budgeted more than one file (``frag_n``, from live
        manifest bytes — no scan) by a deterministic row-hash salt, so
        a hot partition compacts to N right-sized files instead of one
        unsplittable giant written by one task."""
        fields = parse_partition_spec(spec)
        part_expr = {
            f.name: e for f, e in zip(fields, spec_exprs(df, fields))
        }
        if all(n == 1 for n in frag_n.values()):
            return df.repartition(*part_expr.values())
        # Oversized partitions split by a deterministic salt: hash
        # every column so the split is stable and roughly even
        # regardless of value skew within the partition.
        n_col = F.lit(1)
        unesc = _unescape_fn(self.spark)
        for frag, n in frag_n.items():
            if n == 1:
                continue
            cond = F.lit(True)
            for seg in frag.split("/"):
                c, _, v = seg.partition("=")
                c = c[len("__p_"):]
                e = part_expr.get(c, F.col(c))
                if v == "__HIVE_DEFAULT_PARTITION__":
                    cond = cond & e.isNull()
                else:
                    cond = cond & (
                        e.cast("string") == str(unesc(v))
                    )
            n_col = F.when(cond, F.lit(n)).otherwise(n_col)
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), n_col)
        return df.repartition(
            max(sum(frag_n.values()), 1),
            *part_expr.values(),
            salt,
        )

    def _compact_partial(
        self,
        man: dict,
        parent: int,
        spec: list[str],
        partitions: list[dict],
        target_file_bytes: int,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Rewrite only ``partitions``' files (see compact()); all
        other files carry over by reference. ``cluster_by``
        range-clusters the rewrite within the chosen partitions so
        their new files carry near-disjoint column bounds (the partial
        flavor of the clustered compact). Returns the committed
        version, or ``parent`` unchanged when nothing matches."""
        import math

        sel = _overlap_selector(self.spark, partitions)
        chosen = [f for f in man["files"] if sel(f)]
        if not chosen:
            return parent
        schema = schema_from_json(man["schema"])
        df = self._apply_deletes(
            self._read_files(chosen, schema, man), man
        )
        sizes = self._file_sizes(chosen)
        frag_bytes: dict[str, int] = {}
        for rel in chosen:
            frag = _file_partition_fragment(rel)
            frag_bytes[frag] = frag_bytes.get(frag, 0) + sizes[rel]
        frag_n = {
            frag: max(1, math.ceil(b / target_file_bytes))
            for frag, b in frag_bytes.items()
        }
        if cluster_by:
            sf = parse_partition_spec(spec)
            cols = list(spec_exprs(df, sf)) + [
                F.col(c) if isinstance(c, str) else c for c in cluster_by
            ]
            out = df.repartitionByRange(
                max(sum(frag_n.values()), 1), *cols
            ).sortWithinPartitions(*cols)
        else:
            out = self._spec_sized_repartition(df, spec, frag_n)
        version = parent + 1
        new_files = self._write_commit(out, version, spec)
        dropped = set(chosen)
        carried = [f for f in man["files"] if f not in dropped]
        files = sorted(carried + new_files)
        return self._commit(
            out, files, parent, spec, "compact",
            prior_stats=man.get("stats"),
            # entries keep applying to carried files; the rewritten
            # files' newer commit version exempts them (their
            # tombstones just materialized)
            delete_files=man.get("delete_files"),
        )

    def vacuum(
        self, keep_last: int = 1, grace_seconds: float = 3600.0
    ) -> dict[str, int]:
        """Drop all but the newest ``keep_last`` manifests and delete data
        files no retained manifest references (orphans from crashed
        commits included). Returns counts.

        Unreferenced files YOUNGER than ``grace_seconds`` (mtime) are
        kept: a concurrent writer's freshly staged commit dir is
        unreferenced until its manifest publishes, and deleting it
        mid-commit would corrupt that commit — the Delta VACUUM
        retention-window rule. Pass ``grace_seconds=0`` only when no
        writer can be in flight (zero-retention vacuum)."""
        import time

        self._root_cache.clear()  # the one op that deletes manifests
        cutoff = time.time() - max(grace_seconds, 0.0)
        vs = self.versions()
        if not vs:
            return {"manifests_dropped": 0, "files_deleted": 0}
        keep = set(vs[-max(keep_last, 1):])
        keep |= {v for v in self.tags().values() if v in set(vs)}  # pins
        referenced: set[str] = set()
        kept_shards: set[str] = set()
        for v in keep:
            root = self._load_root(v)
            for s in root.get("shards", []):
                kept_shards.add(s["path"])
            for s in (root.get("bloom") or {}).get("sidecars", []):
                kept_shards.add(s)
            for e in root.get("delete_files") or []:
                referenced.update(e["paths"])  # tombstones still apply
            referenced.update(self._manifest_files_stats(root)[0])
        dropped = 0
        for v in vs:
            if v not in keep:
                os.unlink(self._manifest_path(v))
                dropped += 1
        # Shard files of dropped manifests + orphans from losing
        # writers; the mtime grace protects an in-flight publish whose
        # root hasn't linked yet.
        mdir = self._manifest_dir()
        for name in os.listdir(mdir):
            if (
                ".shard-" not in name and ".bloom-" not in name
            ) or name in kept_shards:
                continue
            p = os.path.join(mdir, name)
            if os.path.getmtime(p) > cutoff:
                continue
            os.unlink(p)
        deleted = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for root, _dirs, names in os.walk(data_root, topdown=False):
            for name in names:
                abs_f = os.path.join(root, name)
                rel = os.path.relpath(abs_f, self.path)
                if rel not in referenced:
                    if os.path.getmtime(abs_f) > cutoff:
                        continue  # possibly a writer's in-flight staging
                    os.unlink(abs_f)
                    if name.endswith(".parquet") and not name.startswith((".", "_")):
                        deleted += 1
            if not os.listdir(root):
                os.rmdir(root)
        return {"manifests_dropped": dropped, "files_deleted": deleted}
