"""Self-tests of the workload benchmark: generator determinism, that
each output check rejects a planted fault, and that BENCHMARK.json
declares every metric the workloads report. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _drops(seed: int) -> bytes:
    g = gen.NewsGenerator(seed, "daily")
    out = [gen.to_jsonl(g.drop(0, 300, recrawl_share=0.0))]
    out += [gen.to_jsonl(g.drop(d, 100)) for d in range(10, 14)]
    return b"".join(out)


def test_generator_is_deterministic():
    assert _drops(3) == _drops(3)
    assert gen.corpus(3, 400) == gen.corpus(3, 400)
    assert _drops(3) != _drops(4)
    assert gen.corpus(3, 400) != gen.corpus(4, 400)


def test_drops_have_recrawls_and_dirty_rows():
    g = gen.NewsGenerator(1, "daily")
    g.drop(0, 200, recrawl_share=0.0)
    rows = g.drop(5, 150)
    urls = [r["url"].strip() for r in rows]
    recrawled = [u for u in urls if u in g.urls[:195]]
    assert 25 <= len(recrawled) <= 30
    invalid = [r for r in rows if not gen.is_valid(r)]
    assert invalid and len(invalid) <= 3
    assert any(c["interaction_details"] == "not json"
               for r in rows for c in (r["top_comments"] or []))


def test_corpus_clusters_are_paths_of_light_edits():
    docs, planted = gen.corpus(2, 1000)
    text = dict(docs)
    children: dict[int, int] = {}
    for parent, child in planted:
        children[parent] = children.get(parent, 0) + 1
        j = gen.jaccard(gen.shingles(text[parent]), gen.shingles(text[child]))
        assert j >= 0.8
    assert max(children.values()) == 1  # no branching: clusters are paths
    parent_of = {c: p for p, c in planted}
    for parent, child in planted:
        if parent in parent_of:  # no shortcut from a grandparent either
            grand = parent_of[parent]
            assert gen.jaccard(gen.shingles(text[grand]), gen.shingles(text[child])) < 0.8
    assert 0.2 < len(planted) / len(docs) < 0.35


def test_aggregate_check_rejects_dropped_gold_row():
    # rows: (Article_NK, PublicationDateKey, OpinionCount)
    rows = [("a", 20250101, 3), ("b", 20250101, 4), ("c", 20250102, 5)]
    topic_of = {"a": "x", "b": "x", "c": "y"}
    want = checks.topic_day_totals(rows, topic_of, 0, 1, 2)
    assert want == {("x", 20250101, 2, 7), ("y", 20250102, 1, 5)}
    got = checks.topic_day_totals(rows[1:], topic_of, 0, 1, 2)
    assert checks.equal("flat-view aggregate", got, want)


def test_equal_rejects_wrong_read_result():
    assert checks.equal("point row", [(1, 2)], [(1, 2)]) == []
    assert checks.equal("point row", [(1, 3)], [(1, 2)])
    assert checks.equal("scan count", 41, 42)


def test_feed_model_counts_updates_twice():
    a = {"k1": (1,), "k2": (2,), "k3": (3,)}
    b = {"k1": (1,), "k2": (20,), "k4": (4,)}
    assert checks.feed_counts(a, b) == {"insert": 2, "delete": 2}
    assert checks.equal("feed", {"insert": 1, "delete": 2}, checks.feed_counts(a, b))


def test_pair_check_rejects_missing_and_false_pairs():
    docs, planted = gen.corpus(5, 600)
    sh = {d: gen.shingles(t) for d, t in docs}
    assert checks.near_duplicate_pairs(list(planted), sh, planted, 0.8) == []
    assert checks.near_duplicate_pairs(planted[1:], sh, planted, 0.8, min_recall=1.0)
    unrelated = next((a, b) for a, _ in docs for b, _ in docs
                     if a < b and gen.jaccard(sh[a], sh[b]) < 0.5)
    assert checks.near_duplicate_pairs(planted + [unrelated], sh, planted, 0.8)


def test_survivors_follow_transitive_closure():
    # 1-2-3 is one path cluster, 5-4 another; 6 is alone
    assert checks.survivors_of([1, 2, 3, 4, 5, 6], [(2, 3), (1, 2), (4, 5)]) == {1, 4, 6}
    wrong = {1, 3, 4, 6}  # a survivor set that missed the 1-2-3 closure
    assert checks.equal("survivors", sorted(wrong),
                        sorted(checks.survivors_of([1, 2, 3, 4, 5, 6], [(1, 2), (2, 3), (4, 5)])))


def _spans(*rows) -> list:
    """Spans from (name, parent, start, end) rows; sid is the row index."""
    out = []
    for sid, (name, parent, start, end) in enumerate(rows):
        s = harness.Span(sid, name, name, parent)
        s.start, s.end = start, end
        out.append(s)
    return out


def test_layer_self_time_leaves_out_wrappers():
    spans = _spans(("run", None, 0.0, 10.0), ("setup.facts", 0, 0.0, 4.0),
                   ("serve.cycle", 0, 4.0, 10.0), ("table.read.point", 2, 4.0, 7.0),
                   ("table.plan.point", 3, 4.0, 5.0), ("table.commit", 2, 7.0, 9.9))
    assert abs(harness.layer_self_seconds(spans) - 9.9) < 1e-9
    assert checks.trace_coverage(9.9, 10.0) == []


def test_coverage_check_rejects_unattributed_gap():
    # 3 s of the cycle lie between its layer spans
    spans = _spans(("run", None, 0.0, 10.0), ("setup.facts", 0, 0.0, 4.0),
                   ("serve.cycle", 0, 4.0, 10.0), ("table.read.point", 2, 4.0, 5.0),
                   ("table.commit", 2, 8.0, 10.0))
    layer_s = harness.layer_self_seconds(spans)
    assert abs(layer_s - 7.0) < 1e-9
    assert checks.trace_coverage(layer_s, spans[0].seconds)


def test_stop_spark_waits_for_every_child_process():
    import subprocess

    child = subprocess.Popen(["sh", "-c", "sleep 0.5 & wait"])
    grandchildren = harness.descendants(child.pid)
    harness.stop_spark(timeout=10.0)
    assert child.poll() is not None
    assert not any(harness._running(p) for p in grandchildren)


def test_benchmark_json_declares_every_metric():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == ["lake_serving", "corpus_curation"]
    for w in spec["workloads"]:
        assert w["name"] in workloads.WORKLOADS
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {
        "setup_s": "s",
        "peak_rss_mb": "MB",
        "lake_bytes_per_input_byte": "B/B",
        "point_p50_ms": "ms",
        "scan_p50_ms": "ms",
        "agg_p50_ms": "ms",
        "timetravel_p50_ms": "ms",
        "feed_p50_ms": "ms",
        "commit_p50_s": "s",
        "curate_docs_per_s": "1/s",
    }
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    layer = {m["name"] for m in spec["per_layer"]}
    want = {"session.start_s", "table.commit_s", "table.commit_jobs", "table.files_total",
            "table.versions", "table.live_files", "table.manifest_bytes", "table.feed_rows",
            "dedupe.minhash_s", "dedupe.minhash_jobs", "dedupe.survivors_s",
            "dedupe.survivors_jobs", "dedupe.pairs", "dedupe.survivors", "read_p90_ms",
            "trace.wall_s", "trace.layer_self_s"}
    for kind in workloads.READ_KINDS:
        want |= {f"table.plan_ms.{kind}", f"table.files_kept.{kind}", f"table.read_jobs.{kind}"}
    want |= {f"spark.{k}" for k in ("jobs", "stages", "tasks", "job_s", "driver_gap_s",
                                     "task_s", "input_bytes", "shuffle_read_bytes",
                                     "shuffle_write_bytes", "spill_bytes", "gc_s")}
    assert want <= layer
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
