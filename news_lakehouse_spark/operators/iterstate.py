"""Lineage truncation for iterative operators (PageRank, BFS,
star connected components, propagation): one helper that picks the
right checkpoint flavor for the deployment.

Iterative DataFrame algorithms must materialize each round's state
and CUT the logical plan, or round N's plan embeds rounds 1..N-1 —
exponential plan growth, re-execution on failure, and eventual
analyzer blow-up.  Two ways to cut:

* ``localCheckpoint(eager=True)`` — blocks live in executor
  block-manager storage.  Fast (no DFS round-trip) and right for
  local mode and short jobs, but the blocks are pinned to specific
  executors: ONE executor loss invalidates the checkpoint and kills
  the job.  Not acceptable for a multi-hour 1000-executor run.
* ``checkpoint(eager=True)`` — state lands on the RELIABLE checkpoint
  filesystem (``spark.sparkContext.setCheckpointDir``, typically the
  object store / HDFS).  Each round pays one write+read of the
  node-sized state; in exchange the job survives executor loss and
  dynamic-allocation churn — the 100 TB mode.

``truncate_lineage`` auto-selects: reliable when the session has a
checkpoint dir configured, local otherwise.  Operators need no
flag-plumbing — a cluster job opts in with one line at startup::

    spark.sparkContext.setCheckpointDir("hdfs://.../checkpoints")

Reliable checkpoints are NOT auto-reclaimed by default
(``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
false, and even then cleanup waits on JVM GC of the RDD), so a bare
per-round ``checkpoint()`` accumulates O(iterations × state) on the
checkpoint filesystem — at the multi-hour 1000-executor target that
is real storage pressure (ADVICE r10).  Loop-shaped operators
therefore use a :class:`LineageTruncator`, which deletes round
``n-2``'s checkpoint files as soon as round ``n`` is materialized:
once round ``n-1`` exists on stable storage, nothing can ever read
``n-2`` again (each round is computed only from its predecessor, and
eager materialization means no deferred reads remain).  The last TWO
rounds are retained — the final result frame reads its own
checkpoint lazily, and keeping its parent too makes the helper safe
for callers that compare consecutive rounds (convergence tests) after
the call returns.  Bounded leftover = ≤2 round-sized dirs per
operator run, vs O(iterations) without it.

BFS is the exception and uses the stateless function: its ``visited``
frame is a union of EVERY hop's checkpointed frontier, so no hop's
files are dead until the caller is done — deletion there would be
wrong, and its total footprint is already O(V), not O(V × hops).

A loop that needs a figure about each round (rows changed, frontier
size) takes it with :func:`truncate_observed`: the aggregate rides
on the round's own eager materialization as a ``DataFrame.observe``
metric, instead of a second action (a ``limit(1).count()`` probe or
a join against the previous round).  Eager ``localCheckpoint`` and
``checkpoint`` both run inside one SQL execution, so the metric
arrives in local and reliable mode alike; it must stay eager, since
``Observation.get`` waits for the observed plan to run.

Label propagation (``dedupe.connected_components``) also runs its
rounds with AQE and broadcast joins off: its per-round plan is tiny
and fixed, and with AQE each shuffle stage (and each broadcast) is a
Spark job of its own, so its rounds would be bound by per-job
scheduling overhead.  Star connected components and BFS keep AQE.  Star's edge
set shrinks round by round, and AQE's runtime join choice and
coalescing are what keep it fast: on 8 paths of 250 nodes (4 cores)
it took 23-29 s with AQE off against 6 s warm with it on, despite
32 jobs instead of 93.  BFS joins the full edge table against
frontiers whose size swings from hop to hop, which is the case
runtime join selection and skew splitting are for.

Results are bit-identical across both modes (pinned by
tests/test_graph.py): checkpointing changes where state is stored,
never its value — the operators' integer arithmetic guarantees the
rest.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

__all__ = ["truncate_lineage", "truncate_observed", "LineageTruncator"]


def truncate_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: reliable
    ``checkpoint`` when the SparkContext has a checkpoint dir,
    ``localCheckpoint`` otherwise (see module docstring).  Stateless —
    never deletes prior checkpoints; loops whose per-round state dies
    with the next round should prefer :class:`LineageTruncator`.

    ``eager=False`` (honored in LOCAL mode only) skips the dedicated
    materialization job when the caller's very next action consumes
    the frame anyway — that action computes the partitions once and
    Spark's post-job ``doCheckpoint`` completes the truncation, so a
    convergence-probe loop pays ONE job per round instead of two.
    Reliable mode always materializes eagerly: the checkpoint-file
    bookkeeping (and bounded deletion) needs the files on stable
    storage before the round is declared done."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def truncate_observed(
    df: DataFrame,
    metric: Column,
    truncate: Callable[[DataFrame], DataFrame] = truncate_lineage,
) -> tuple[DataFrame, Any]:
    """Eagerly truncate ``df`` with ``truncate`` (:func:`truncate_lineage`
    or a :class:`LineageTruncator`) and return ``(frame, value)``, where
    ``value`` is the aggregate ``metric`` over ``df``'s rows, observed
    during that same materialization (``None`` for an aggregate such as
    ``sum`` over no rows).  ``truncate`` must materialize eagerly:
    ``Observation.get`` blocks until the observed plan has run."""
    obs = Observation()
    out = truncate(df.observe(obs, metric.alias("v")))
    return out, obs.get["v"]


def _checkpoint_file(df: DataFrame) -> str | None:
    """The reliable-checkpoint directory backing ``df`` (a frame just
    returned by ``checkpoint(eager=True)``), or None when it can't be
    determined.  The analyzed plan of a checkpointed Dataset is a
    LogicalRDD over the checkpointed RDD, whose getCheckpointFile
    carries the ``<ckpt-dir>/<uuid>/rdd-<id>`` path."""
    try:
        opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        return opt.get() if opt.isDefined() else None
    except Exception:  # plan shape drift across Spark versions
        return None


class LineageTruncator:
    """Per-loop lineage truncation with bounded checkpoint storage.

    One instance per operator invocation; call it where the loop would
    call :func:`truncate_lineage`.  Local mode is identical to the
    stateless helper.  In reliable mode it retains the two most recent
    round checkpoints and deletes older ones through the Hadoop
    FileSystem API (scheme-correct on HDFS/S3A/file alike), keeping
    the on-disk footprint at ≤2 × state instead of iterations × state.

    Only safe when each round is computed solely from the previous
    round and no earlier round's frame is referenced after the next
    call (true for PageRank, label propagation, star CC, BPE rewrite;
    NOT for BFS's visited-union — see module docstring).
    """

    def __init__(self) -> None:
        self._paths: list[str] = []

    def __call__(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            # eager=False: see truncate_lineage — local mode may defer
            # materialization to the caller's immediate next action
            return df.localCheckpoint(eager=eager)
        out = df.checkpoint(eager=True)  # eager: materialized on return
        path = _checkpoint_file(out)
        if path is not None:
            self._paths.append(path)
            while len(self._paths) > 2:
                self._delete(sc, self._paths.pop(0))
        return out

    @staticmethod
    def _delete(sc, path: str) -> None:
        try:
            jvm = sc._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(jpath, True)
        except Exception:
            pass  # best-effort: worst case is the pre-fix footprint
