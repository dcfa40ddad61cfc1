"""Shared machinery of the workload benchmark: the scratch root, the
Spark session, spans, the Spark event-log digest, peak memory and the
statistics every workload reports.

Spans are recorded only around the benchmark's own calls into the
engine (never inside it). Each span sets the Spark job group to its own
id, so the event log attributes every job to the span that caused it;
a job in any other group is attributed to the innermost span open when
it was submitted.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import statistics
import time


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class ScratchRoot:
    """One directory under the working directory holding the inputs,
    the lake, checkpoints, Spark local dirs and temp files of one run;
    removed on exit."""

    def __init__(self, workload: str):
        self.path = os.path.abspath(
            os.path.join(".perfbench_tmp", f"{workload}-{os.getpid()}")
        )

    def __enter__(self) -> "ScratchRoot":
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "tmp", "events"):
            os.makedirs(os.path.join(self.path, sub))
        # Spark, the JVM and Python temp files all land under the root
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        return self

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        with contextlib.suppress(OSError):
            os.rmdir(parent)  # only when no other run is using it


def start_session(root: ScratchRoot, trace: bool):
    """``build_session`` defaults on ``local[nproc]``; the traced run
    also writes the Spark event log under the scratch root."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # build_session's own heap knob. The inputs need far less than its 8g
    # default; a heap the workload fills early keeps GC counts from
    # depending on how far the heap happened to grow
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from news_lakehouse_spark.session import build_session

    # the whole heap is resident from the start: how much of it G1 had
    # touched by the end varied by 30% between runs of one seed, so peak
    # memory measures what lies outside the heap
    java_opts = f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root.sub('tmp')} {java_opts}",
        "spark.sql.warehouse.dir": root.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": root.sub("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session("perfbench", extra_conf=conf)


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process, from ``/proc``."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        kids.setdefault(parent, []).append(child)
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the Spark context, end the gateway JVM and wait until every
    process this one started has ended.

    ``SparkContext.stop`` leaves the JVM running until it sees its stdin
    close, which otherwise happens only as Python exits, and the JVM's
    shutdown hooks (local-dir removal, Python workers) outlive this
    process. Safe to call whether or not a session was ever started."""
    import signal
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    gateway = SparkContext._gateway
    tree = descendants(os.getpid())
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        live = [p for p in tree if _running(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {live} outlived SIGKILL")
            for p in live:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            killed = True
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of this Python process plus the JVM ``pid``,
    from the kernel's high-water marks (no sampling)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_canary(spark) -> float:
    """Fixed CPU-bound job, recorded as a host diagnostic only."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(20_000_000, numPartitions=16).select(F.xxhash64("id").alias("h")).agg(
        F.sum("h")
    ).collect()
    return time.perf_counter() - t0


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end")

    def __init__(self, sid, name, op, parent):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start = self.end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; when ``enabled`` also keeps the spans and sets
    the Spark job group per span so the event log can attribute jobs."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        op = op if op is not None else (parent.op if parent else name)
        s = Span(len(self.spans), name, op, parent.sid if parent else None)
        if self.enabled:
            self.spans.append(s)
            self._set_group(s)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"sid": s.sid, "name": s.name, "op": s.op,
                                     "parent": s.parent, "start": s.start,
                                     "end": s.end}) + "\n")


#: spans that only group others (the whole run, one lake_serving cycle,
#: one corpus_curation pass); every other span is charged to a layer
WRAPPERS = ("run", "serve.cycle", "curate.pass")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.seconds
    return {s.sid: s.seconds - child.get(s.sid, 0.0) for s in spans}


def layer_self_seconds(spans: list[Span]) -> float:
    """Summed self time of the layer spans: the part of the run the
    spans attribute to a layer. The wrappers' own self time is the
    unattributed rest."""
    own = self_times(spans)
    return sum(own[s.sid] for s in spans if s.name not in WRAPPERS)


def read_event_log(events_dir: str) -> list[dict]:
    out = []
    for root, _dirs, names in os.walk(events_dir):
        for n in sorted(names):
            with open(os.path.join(root, n)) as fh:
                for line in fh:
                    with contextlib.suppress(ValueError):
                        out.append(json.loads(line))
    return out


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPARK_FIELDS = ("jobs", "stages", "tasks", "job_s", "task_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s")


def attribute_jobs(tracer: Tracer, events: list[dict]) -> dict[int, dict]:
    """Spark totals per span (own jobs only, not its children's):
    jobs, stages, tasks, job time (union of job intervals), task time,
    IO, shuffle, spill and GC."""
    by_group = {f"pb{s.sid}": s for s in tracer.spans}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None,
                         "group": props.get("spark.jobGroup.id"), "stages": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    totals: dict[int, dict] = {s.sid: dict.fromkeys(SPARK_FIELDS, 0.0) for s in tracer.spans}
    intervals: dict[int, list] = {s.sid: [] for s in tracer.spans}
    job_span: dict[int, int] = {}

    def innermost(t: float) -> Span | None:
        best = None
        for s in tracer.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    for jid, j in jobs.items():
        span = by_group.get(j["group"]) or innermost(j["start"])
        if span is None:
            continue
        job_span[jid] = span.sid
        t = totals[span.sid]
        t["jobs"] += 1
        intervals[span.sid].append((j["start"], j["end"] or j["start"]))
    seen_stages: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            jid = stage_job.get(sid)
            if jid in job_span and sid not in seen_stages:
                seen_stages.add(sid)
                totals[job_span[jid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid not in job_span:
                continue
            t = totals[job_span[jid]]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, iv in intervals.items():
        totals[sid]["job_s"] = _union_seconds(iv)
    return totals


def subtree_totals(tracer: Tracer, own: dict[int, dict], sid: int) -> dict:
    """Spark totals of span ``sid`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    todo = [sid]
    while todo:
        cur = todo.pop()
        for k in SPARK_FIELDS:
            out[k] += own[cur][k]
        todo.extend(kids.get(cur, []))
    return out
