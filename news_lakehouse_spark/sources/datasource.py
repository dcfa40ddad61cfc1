"""`versioned_table` — the transaction layer as a first-class PySpark
DataSource (Python Data Source API, Spark 4).

The reference's streaming hop is `spark.readStream` over a cloud
bucket feeding an Iceberg table (gcs_bronze_to_silver.py:50,160-233);
Delta/Iceberg expose the other direction too — a TABLE as a streaming
source (`spark.readStream.format("delta").load(path)`). This module is
that parity surface for `VersionedParquetTable`, integrated with
Structured Streaming's OWN lifecycle — offsets in Spark's checkpoint
log, triggers (availableNow / processingTime), foreachBatch — instead
of the library-level polling loop (`streaming.table_feed`, which
remains the high-throughput JVM-scan path and the CDC path).

    spark.dataSource.register(VersionedTableDataSource)
    df = (spark.readStream.format("versioned_table")
          .option("path", table_root).load())

Semantics (Delta-readStream parity):

- The first batch is the table's CURRENT SNAPSHOT (every live file at
  the version seen by the first `latestOffset`); later batches are the
  files ADDED by append commits, one offset per table version.
- A commit that REWRITES or DELETES rows (a merge that rewrote files,
  `delete_keys`, a rollback, MOR delete sidecars) is NOT expressible
  as an append stream: the reader raises unless
  `skipChangeCommits=true` (Delta's option, same name in camelCase),
  which then skips those commits' file churn entirely. Compaction
  commits are always skipped (content-preserving by contract). For
  true CDC, use `VersionedParquetTable.changes()` /
  `feed_into_replica` — row-level change feeds need key context a
  file-level source doesn't have.
- `startingVersion=N` skips the snapshot and tails appends committed
  AFTER version N; `startingVersion=latest` tails from stream start.
- Schema is pinned at stream start (Spark's contract — a Python data
  source cannot evolve mid-stream). Files written under OLDER schema
  epochs project to the pinned schema BY FIELD ID (rename-safe,
  drop-safe, widen-cast, missing columns null-filled) — the same
  epoch mapping `read()` does JVM-side (transaction.py
  `_fid_map_expr`), restricted here to top-level fields plus
  structurally-identical nested subtrees: a nested-divergent file
  raises rather than misaligning. A file written under a NEWER epoch
  whose type no longer fits the pinned schema raises a schema-drift
  error telling the caller to restart the stream (Delta behavior).

Batch flavor (`spark.read.format("versioned_table")`, option
`version` for time travel) reads via the same per-file projection —
useful where only a DataSource-shaped reader is accepted. It refuses
tables with live MOR delete sidecars (applying them needs an
anti-join the per-partition contract can't express); `read()` is the
full-fidelity path.

Executor-side reads are pyarrow parquet -> Arrow RecordBatches
(zero row-at-a-time Python), one InputPartition per data file, so a
1000-executor cluster fans the snapshot out file-parallel. Offsets
replay deterministically from the immutable manifests; a vacuumed
file fails the replay loudly (same contract as the feed cursor).

WRITE direction (the Delta `writeStream.format("delta")` analog):

    df.writeStream.format("versioned_table").option("path", p)
      .option("checkpointLocation", ck).start()      # streaming sink
    df.write.format("versioned_table").option("path", p)
      .mode("append").save()                          # batch append

Executors stage each task's Arrow batches as ONE bare parquet file
under ``data/_staging`` (same filesystem — the commit renames, never
copies); the driver registers all staged files atomically via
``VersionedParquetTable.add_files`` (the Iceberg add_files analog) as
a fast-append commit. The streaming sink is EXACTLY-ONCE across
restarts: each commit records ``(sinkId, batchId)`` in its properties
and a crash-replayed batch id is discarded instead of re-appended
(Delta's txn-version idempotence). Targets must exist and be
unpartitioned (external files carry no partition fragment — use
``append()``/foreachBatch for partitioned layouts); schema must match
the table exactly (the sink never evolves schema). Orphaned staging
files from crashed tasks are unreferenced data ``vacuum`` reclaims
after its grace window.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .transaction import (
    VersionedParquetTable,
    _DATA_DIR,
    _WIDENINGS,
    _decimal_widening_ok,
    _field_fid,
    _strip_nested_fids,
    schema_from_json,
)


def _meta(path: str) -> VersionedParquetTable:
    """Metadata-only handle: versions()/_load_root()/
    _manifest_files_stats() never touch .spark, so the DataSource
    (which has no session object, per the API) passes None."""
    return VersionedParquetTable(None, path)


def _type_key(t) -> str:
    return json.dumps(_strip_nested_fids(t), sort_keys=True)


def _file_plan(
    phys_fields: list[dict], pinned_fields: list[dict], rel: str
) -> list[tuple[str, str | None]]:
    """Per-file projection plan: [(pinned_name, physical_name|None)]
    in pinned-schema order (None = null-fill). Matching is BY FIELD ID;
    a pinned field without one (a user-supplied batch schema) matches
    by name.
    Raises on anything a file-level Arrow projection cannot do
    faithfully: a nested type that diverges beyond fid metadata, or a
    physical type the pinned type cannot represent (schema drift past
    the stream's pinned schema)."""
    by_fid = {_field_fid(f): f for f in phys_fields}
    by_name = {f["name"]: f for f in phys_fields}
    plan: list[tuple[str, str | None]] = []
    for f in pinned_fields:
        fid = _field_fid(f)
        src = by_name.get(f["name"]) if fid is None else by_fid.get(fid)
        if src is None:
            plan.append((f["name"], None))  # added after this file
            continue
        st, tt = src["type"], f["type"]
        if _type_key(st) != _type_key(tt):
            widen_ok = (
                isinstance(st, str)
                and isinstance(tt, str)
                and (
                    tt in _WIDENINGS.get(st, ())
                    or _decimal_widening_ok(st, tt)
                )
            )
            if not widen_ok:
                if isinstance(st, str) and isinstance(tt, str):
                    raise ValueError(
                        f"versioned_table: file {rel} stores column "
                        f"{src['name']!r} as {st} but the stream/batch "
                        f"schema pinned {tt} — the table evolved past "
                        "this schema; restart the stream to pick up "
                        "the new schema"
                    )
                # plain ValueError: raising NotImplementedError
                # inside partitions() would be swallowed by the Python
                # DataSource API (it means "source has no partitioning"
                # and silently falls back to a single None partition)
                raise ValueError(
                    f"versioned_table: file {rel} column {src['name']!r} "
                    "diverges from the pinned schema inside a nested "
                    "type; the DataSource projects top-level and "
                    "identical nested subtrees only — read this table "
                    "via VersionedParquetTable.read()/changes()"
                )
        plan.append((f["name"], src["name"]))
    return plan


def _plans_for(
    root: dict, rels: list[str], pinned_fields: list[dict], table
) -> list["_FilePartition"]:
    """One picklable partition per data file, each carrying its own
    projection plan (files pin to the schema epoch they were written
    under — manifest `file_sids`)."""
    out = []
    for rel in rels:
        sid = root["file_sids"].get(rel, root["schema_id"])
        phys = root["schemas"][str(sid)]["fields"]
        out.append(
            _FilePartition(
                path=os.path.join(table.path, rel),
                plan=_file_plan(phys, pinned_fields, rel),
            )
        )
    return out


@dataclass
class _FilePartition(InputPartition):
    path: str = ""
    plan: list = field(default_factory=list)


class _ArrowFileReader:
    """Shared executor-side read: parquet file -> pinned-schema Arrow
    batches. Pickled to workers; holds only JSON/strings."""

    def __init__(self, schema_json: str):
        self.schema_json = schema_json

    def _read_partition(self, part: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(
            StructType.fromJson(json.loads(self.schema_json))
        )
        cols = [p for _, p in part.plan if p is not None]
        tbl = pq.read_table(part.path, columns=cols)
        n = tbl.num_rows
        arrays = []
        for (name, phys), f in zip(part.plan, target):
            if phys is None:
                arrays.append(pa.nulls(n, f.type))
                continue
            col = tbl.column(phys)
            if col.type != f.type:
                col = col.cast(f.type)  # the verified widen path
            arrays.append(col)
        out = pa.Table.from_arrays(arrays, schema=target)
        yield from out.to_batches()


class VersionedTableBatchReader(DataSourceReader, _ArrowFileReader):
    def __init__(self, schema_json: str, options: dict):
        super().__init__(schema_json)
        self.path = options["path"]
        self.version = options.get("version")

    def partitions(self):
        t = _meta(self.path)
        v = (
            int(self.version)
            if self.version is not None
            else t.latest_version()
        )
        root = t._load_root(v)
        if root.get("delete_files"):
            raise ValueError(
                "versioned_table batch read: version has live "
                "merge-on-read delete sidecars; apply them via "
                "VersionedParquetTable.read() (needs an anti-join a "
                "per-file source cannot express)"
            )
        rels, _ = t._manifest_files_stats(root)
        pinned = json.loads(self.schema_json)["fields"]
        man_fields = root["schema"]["fields"]
        if [f["name"] for f in pinned] == [f["name"] for f in man_fields]:
            # the usual case: schema() came from this manifest — use
            # the manifest's copy, which carries the fids that make
            # old-epoch files rename-safe
            pinned = man_fields
        return _plans_for(root, rels, pinned, t)

    def read(self, partition):
        return self._read_partition(partition)


class VersionedTableStreamReader(DataSourceStreamReader, _ArrowFileReader):
    def __init__(self, schema_json: str, options: dict):
        super().__init__(schema_json)
        self.path = options["path"]
        self.skip_change_commits = str(
            options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        self.starting_version = options.get("startingversion")
        # schema fields WITH fids, pinned at stream start
        t = _meta(self.path)
        v = t.latest_version()
        self._pinned_fields = (
            t._load_root(v)["schema"]["fields"] if v is not None else []
        )

    # --- offsets: {"version": v}; -1 = snapshot not yet delivered ----

    def initialOffset(self) -> dict:
        if self.starting_version is None:
            return {"version": -1}
        t = _meta(self.path)
        if str(self.starting_version).lower() == "latest":
            return {"version": t.latest_version() or 0}
        return {"version": int(self.starting_version)}

    def latestOffset(self) -> dict:
        t = _meta(self.path)
        latest = t.latest_version() or 0
        # before the snapshot batch, the latest offset IS the snapshot
        return {"version": max(latest, 0)}

    def partitions(self, start: dict, end: dict):
        t = _meta(self.path)
        sv, ev = start["version"], end["version"]
        if ev <= sv and sv != -1:
            return []
        if sv == -1:  # snapshot batch: every live file at ev
            if ev < 1:
                return []
            root = t._load_root(ev)
            if root.get("delete_files"):
                raise ValueError(
                    "versioned_table stream: snapshot version has live "
                    "MOR delete sidecars; compact() first or consume "
                    "via feed_into_replica"
                )
            rels, _ = t._manifest_files_stats(root)
            return _plans_for(root, rels, self._pinned_fields, t)
        parts = []
        prev_root = t._load_root(sv) if sv >= 1 else None
        prev = (
            set(t._manifest_files_stats(prev_root)[0]) if prev_root else set()
        )
        prev_del = (
            {d["path"] for d in prev_root.get("delete_files") or []}
            if prev_root
            else set()
        )
        for v in range(max(sv, 0) + 1, ev + 1):
            root = t._load_root(v)
            files = set(t._manifest_files_stats(root)[0])
            dels = {d["path"] for d in root.get("delete_files") or []}
            if root["operation"] == "compact":
                prev, prev_del = files, dels
                continue  # content-preserving by contract
            removed = prev - files
            if removed or (dels - prev_del):
                if not self.skip_change_commits:
                    raise ValueError(
                        f"versioned_table stream: version {v} "
                        f"({root['operation']}) rewrote or deleted "
                        "rows, which an append stream cannot "
                        "represent. Set skipChangeCommits=true to "
                        "skip such commits, or consume CDC via "
                        "VersionedParquetTable.changes() / "
                        "feed_into_replica"
                    )
                prev, prev_del = files, dels
                continue
            added = sorted(files - prev)
            parts.extend(_plans_for(root, added, self._pinned_fields, t))
            prev, prev_del = files, dels
        return parts

    def read(self, partition):
        return self._read_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's own offset log


@dataclass
class _StagedFiles(WriterCommitMessage):
    """Absolute staged-file paths one writer task produced."""

    paths: list = field(default_factory=list)


def _norm_type(simple: str) -> str:
    # tz-ness of a timestamp is an encoding detail the explicit-schema
    # read absorbs; everything else must match exactly
    return "timestamp" if simple.startswith("timestamp") else simple


def _validate_sink_schema(path: str, schema_json: str) -> None:
    """Driver-side, at writer creation: the target table must exist,
    be unpartitioned (external files carry no partition fragment), and
    the incoming data schema must match the table's current columns by
    name and type — a clean error at stream start instead of a failed
    first commit."""
    t = _meta(path)
    v = t.latest_version()
    if v is None:
        raise ValueError(
            "versioned_table sink: table does not exist at "
            f"{path!r} — create it with write()/merge() first (the "
            "initial commit fixes the schema appends are checked "
            "against)"
        )
    root = t._load_root(v)
    if root.get("partition_by"):
        raise ValueError(
            "versioned_table sink: table is partitioned by "
            f"{root['partition_by']}; the file-registering sink "
            "cannot lay out partition fragments — ingest via "
            "append()/foreachBatch"
        )
    want = [
        (f.name, _norm_type(f.dataType.simpleString()))
        for f in schema_from_json(root["schema"]).fields
    ]
    got = [
        (f.name, _norm_type(f.dataType.simpleString()))
        for f in StructType.fromJson(json.loads(schema_json)).fields
    ]
    if got != want:
        raise ValueError(
            f"versioned_table sink: incoming schema {got} does not "
            f"match the table's current schema {want}; select/cast to "
            "the table's columns first (the sink never evolves schema)"
        )


class _ArrowStagingWriter:
    """Executor-side half of both writers: stream this task's Arrow
    batches into ONE staged parquet file under ``data/_staging``
    (same filesystem as the table, so the driver-side commit RENAMES
    files into the commit dir — no copy). A task that receives no rows
    stages nothing. Crash-orphaned staging files sit unreferenced
    under ``data/`` and are reclaimed by ``vacuum`` after its grace
    window — the same contract as a crashed commit's data dir."""

    def __init__(self, path: str):
        self.path = path

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        writer = None
        abs_p = None
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                staging = os.path.join(self.path, _DATA_DIR, "_staging")
                os.makedirs(staging, exist_ok=True)
                abs_p = os.path.join(
                    staging, f"part-{uuid.uuid4().hex}.parquet"
                )
                writer = pq.ParquetWriter(abs_p, batch.schema)
            writer.write_batch(batch)
        if writer is None:
            return _StagedFiles([])
        writer.close()
        return _StagedFiles([abs_p])

    @staticmethod
    def _staged(messages) -> list[str]:
        return [p for m in messages or [] if m is not None for p in m.paths]

    @staticmethod
    def _discard(messages) -> None:
        for p in _ArrowStagingWriter._staged(messages):
            try:
                os.unlink(p)
            except OSError:
                pass


class VersionedTableBatchWriter(_ArrowStagingWriter, DataSourceArrowWriter):
    """`df.write.format("versioned_table").mode("append")`: stage per
    task, register all staged files as ONE atomic fast-append commit
    (``add_files``). Any task failure → ``abort`` unlinks the stage."""

    def __init__(self, schema_json: str, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError(
                "versioned_table sink is append-only; truncate-and-"
                "replace via VersionedParquetTable.write()"
            )
        _ArrowStagingWriter.__init__(self, options["path"])
        _validate_sink_schema(self.path, schema_json)

    def commit(self, messages) -> None:
        files = self._staged(messages)
        if files:
            _meta(self.path).add_files(files)

    def abort(self, messages) -> None:
        self._discard(messages)


class VersionedTableStreamWriter(
    _ArrowStagingWriter, DataSourceStreamArrowWriter
):
    """`df.writeStream.format("versioned_table")`: each micro-batch
    commits as one fast append, EXACTLY-ONCE across restarts — the
    commit records ``(sinkId, batchId)`` in the version's properties
    and a replayed batch id (Structured Streaming re-runs the last
    batch after a crash) is detected and discarded instead of
    re-appended (the Delta-sink txn-version idempotence contract).
    ``sinkId`` (option, default "default") scopes the dedup so two
    independent queries can feed one table."""

    def __init__(self, schema_json: str, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError(
                "versioned_table stream sink supports append output "
                "mode only"
            )
        _ArrowStagingWriter.__init__(self, options["path"])
        self.sink_id = options.get("sinkid", "default")
        _validate_sink_schema(self.path, schema_json)
        self._applied: int | None = None  # newest batch id, lazy-read

    def _last_applied(self, t: VersionedParquetTable) -> int | None:
        if self._applied is None:
            # one newest-first properties scan per writer lifetime
            # (fresh instance after a restart), then tracked in memory
            for v in reversed(t.versions()):
                props = t._load_root(v).get("properties") or {}
                if props.get("vt_sink_id") == self.sink_id:
                    self._applied = int(props["vt_sink_batch"])
                    break
        return self._applied

    def commit(self, messages, batchId: int) -> None:
        files = self._staged(messages)
        t = _meta(self.path)
        last = self._last_applied(t)
        if last is not None and batchId <= last:
            self._discard(messages)  # crash-replayed batch: already in
            return
        if files:
            t.add_files(
                files,
                properties={
                    "vt_sink_id": self.sink_id,
                    "vt_sink_batch": str(batchId),
                },
            )
        self._applied = batchId

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)


class VersionedTableDataSource(DataSource):
    """See module docstring. Usage:
    `spark.dataSource.register(VersionedTableDataSource)` (or
    `register_versioned_table_source(spark)`), then
    `spark.read[Stream].format("versioned_table").option("path", p)`."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self) -> StructType:
        t = _meta(self.options["path"])
        v = self.options.get("version")
        v = int(v) if v is not None else t.latest_version()
        if v is None:
            raise FileNotFoundError(
                f"versioned_table: no committed version at "
                f"{self.options['path']}"
            )
        return schema_from_json(t._load_root(v)["schema"])

    def _schema_json(self) -> str:
        return json.dumps(self.schema().jsonValue())

    def reader(self, schema: StructType) -> DataSourceReader:
        return VersionedTableBatchReader(
            json.dumps(schema.jsonValue()), dict(self.options)
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return VersionedTableStreamReader(
            json.dumps(schema.jsonValue()), dict(self.options)
        )

    def writer(self, schema: StructType, overwrite: bool):
        return VersionedTableBatchWriter(
            json.dumps(schema.jsonValue()), dict(self.options), overwrite
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        return VersionedTableStreamWriter(
            json.dumps(schema.jsonValue()), dict(self.options), overwrite
        )


def register_versioned_table_source(spark) -> None:
    """Idempotent session-level registration."""
    spark.dataSource.register(VersionedTableDataSource)


def await_drain(start, timeout: int | None = None, retries: int = 2) -> None:
    """Start a streaming query over the Python DataSource and await
    termination, retrying a loaded-host cold-start failure.

    Spark 4.1 hardcodes a 10 s connect-back window for the driver-side
    Python planner worker (``PythonWorkerFactory.createSimpleWorker``,
    verified against the shipped spark-core jar — not configurable);
    on a contended host the very first Python-DataSource stream of a
    process can miss it and the query dies in PLANNING with
    ``SocketTimeoutException: Timed out while waiting for the Python
    worker to connect back`` — before any micro-batch commits.
    Restarting resumes from the checkpoint, so a bounded retry is
    exactly-once-safe for every sink this engine drains into (parquet
    sink commit log; versioned_table sink (sinkId, batchId)
    idempotence).  ``start`` is a zero-arg callable returning a
    STARTED StreamingQuery (so each retry re-plans from scratch).
    Anything other than the connect-back signature re-raises
    immediately.
    """
    from pyspark.errors.exceptions.captured import StreamingQueryException

    for attempt in range(retries + 1):
        q = start()
        try:
            if timeout is None:
                q.awaitTermination()
            else:
                q.awaitTermination(timeout)
            return
        except StreamingQueryException as e:
            if attempt < retries and "connect back" in str(e):
                continue
            raise
