"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_serving --seed 7 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``,
every per-layer metric with ``--trace 1``). A failed check prints that
object to standard error instead and exits 1; an error exits non-zero
without it.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: per-layer metrics of modules only some workloads call into; the
#: others report them as 0
OTHER_LAYERS = ("table.", "dedupe.")


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter()
    # a terminated run still unwinds, so the Spark JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    import checks
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    body, spark_layer = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)

    with harness.ScratchRoot(args.workload) as root:
        try:
            t0 = time.perf_counter()
            spark = harness.start_session(root, trace)
            session_s = time.perf_counter() - t0
            tracer = harness.Tracer(spark, trace)
            run = workloads.Run(spark, tracer, root, args.seed, args.seconds, trace)
            with tracer.span("run") as whole:
                e2e, layer = body(run)
            setup_s = run.timed_start and (run.timed_start - t_process)
            # read before the canary, whose job would raise the JVM's mark
            rss = harness.peak_rss_mb(harness.jvm_pid(spark))
            if trace:
                layer["canary.cpu_s"] = harness.cpu_canary(spark)
        finally:
            # the JVM and its workers end here, before the root is removed
            harness.stop_spark()
        if trace:
            own = harness.attribute_jobs(tracer, harness.read_event_log(root.sub("events")))
            layer.update(spark_layer(tracer, own))
            layer.update(spark_figures(tracer, own, run.timed_ops))
            layer_s = harness.layer_self_seconds(tracer.spans)
            layer["trace.wall_s"] = whole.seconds
            layer["trace.layer_self_s"] = layer_s
            layer["trace.spans"] = len(tracer.spans)
            for name, value in e2e.items():
                layer[f"traced.{name}"] = value
            run.check(checks.trace_coverage(layer_s, whole.seconds))
            os.makedirs(".perfbench_out", exist_ok=True)
            tracer.dump(os.path.join(".perfbench_out", f"{args.workload}-{args.seed}-spans.jsonl"))
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss
    layer["session.start_s"] = session_s

    for f in run.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    source = layer if trace else e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in source and trace and m["name"].startswith(OTHER_LAYERS):
            source[m["name"]] = 0.0  # a layer this workload never calls into
        if m["name"] not in source:
            raise SystemExit(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(source[m["name"]]), "unit": m["unit"]}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    if run.failed:
        print(json.dumps(result), file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


def spark_figures(tracer, own, timed_ops: list[str]) -> dict:
    """``spark.*``: the event-log totals of each timed op (all spans
    sharing its op id), then the median over ops; ``driver_gap_s`` is
    the op's wall time minus the union of its job intervals."""
    import harness

    per_op = {op: dict.fromkeys((*harness.SPARK_FIELDS, "wall_s"), 0.0) for op in timed_ops}
    for s in tracer.spans:
        top = s.parent is None or tracer.spans[s.parent].op != s.op
        if s.op in per_op and top:
            t = per_op[s.op]
            for k, v in harness.subtree_totals(tracer, own, s.sid).items():
                t[k] += v
            t["wall_s"] += s.seconds
    for t in per_op.values():
        t["driver_gap_s"] = t["wall_s"] - t["job_s"]
    return {f"spark.{k}": harness.median([t[k] for t in per_op.values()])
            for k in (*harness.SPARK_FIELDS, "driver_gap_s")}


if __name__ == "__main__":
    sys.exit(main())
