"""SparkSession factory.

The reference builds one session per job with catalog + connector conf
(spark_jobs/gcs_bronze_to_silver.py:47-67, gcs_silver_to_gold.py:42-88).
It also force-disables vectorized parquet readers, whole-stage codegen
and Arrow as a local-stability workaround (gcs_silver_to_gold.py:60-64)
— we deliberately do NOT inherit that: vectorization + codegen stay on.

Scale posture (local[N] test box vs 1000-executor cluster):
- AQE on (runtime coalescing, skew-join splitting) so the same plan
  survives a 100× scale-up without hand-tuned shuffle partition counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number a ceiling,
  not a tuning knob.
- Session timezone pinned to UTC so timestamp semantics are stable and
  comparable against external engines (DuckDB oracles are UTC-naive).
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def build_session(
    app_name: str = "news_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-sane defaults."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Reference used legacy (non-ANSI) Spark 3.5 semantics; we keep
        # ANSI off so dirty-input casts degrade to NULL like the
        # reference's PERMISSIVE ingest expects, and use try_* forms
        # where we want the intent explicit anyway.
        .config("spark.sql.ansi.enabled", "false")
        # Engine default, documented: the test corpus's events.ts is
        # parquet TIMESTAMP(NANOS), which Spark has no native type for;
        # every reader in this engine wants the raw-nanos reading (then
        # truncates to micros — sources.readers.read_table). Setting it
        # here (not ad hoc inside runners) keeps runners from mutating
        # shared-session state (r7 verdict #4).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def borrowed_conf(spark: SparkSession, **conf: str):
    """Set session confs for the block, then restore the caller's
    values — explicitly-set ones come back, unset ones are unset again
    — so nothing leaks into later queries on a shared session (r7
    verdict #4). Only safe when nothing planned inside the block runs
    lazily after it under the borrowed confs."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, p in prior.items():
            if p is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)


def borrows_session_conf(**conf: str):
    """Decorator for runners that need a session conf during a FULLY
    DRAINED operation (Trigger.AvailableNow streams that terminate
    inside the call): the call runs under :func:`borrowed_conf`. Only
    safe when the function's result does not lazily depend on the conf
    (memory-sink tables are materialized; a lazy parquet scan would
    NOT be)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, *args, **kwargs):
            with borrowed_conf(spark, **conf):
                return fn(spark, *args, **kwargs)
        return wrapper

    return deco
