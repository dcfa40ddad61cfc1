"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via a count() over the final plan
(touching every operator, no driver-side collect of big results).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "j4_three_way_agg",
    "j6_flat_serving_view",
    "s8_merge_upsert",
    "o2_topk_per_group",
    "w1_dedupe_latest",
    "d1_timestamp_cascade",
    "n4_json_map_explode",
    "t_windowed_agg",
    "x_sessionize",
    "a2_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_sim_topk_bruteforce",
    "x_fingerprint",
    "x_quality_metrics",
    "x_token_count",
    "x_embed_centroid",
    "x_range_join",
    "x_salted_join",
    "x_dedup_embedding_cosine",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "t_session_window",
]

# round records only: BENCH_r11_c8.json and the like are side
# records, not rounds
_ROUND_FILE = re.compile(r"^BENCH_r(\d+)\.json$")


def next_round(names) -> int:
    """The round after the newest ``BENCH_r{N}.json`` among ``names``."""
    return max((int(m[1]) for m in map(_ROUND_FILE.match, names) if m), default=0) + 1


# Round-2 additions, timed separately so "value"/"queries" stay
# comparable with BENCH_r01's 23-query headline set.
EXTENDED = [
    "q7_nation_volume",
    "q18_large_volume_customers",
    "x_dsir_weights",
    "x_mixture_sample",
    "x_corpus_pipeline",
    "x_cms_heavy_hitters",
    "x_ts_pattern_search",
    "x_retention_cohorts",
    "x_dedup_incremental",
    "x_char_entropy",
    # round-3 additions (TPC-H completion — full 22-query coverage):
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q16_parts_supplier_relationship",
    "q21_suppliers_kept_waiting",
    # round-3 additions (training-data extension ops):
    "x_substring_duplication",
    "x_substring_removal",
    "x_embed_quantize",
    "x_hll_rollup",
    "x_kll_rollup",
    "x_key_skew",
    "x_weighted_sample",
    "x_exact_percentile",
    "x_exact_group_median",
    # round-4 additions (ACID table layer + real media decode):
    "x_time_travel",
    "x_table_changes",
    "x_compact_roundtrip",
    "x_media_probe",
    "x_semdedup",
    "x_corpus_shard",
    "x_ngram_diversity",
    "x_semdedup_incremental",
    "x_source_overlap",
    "x_hard_negatives",
    # round-5 additions (manifest column-bounds scan planning + change
    # feed across compaction):
    "x_stats_pruned_read",
    "x_changes_across_compact",
    # round-6 additions (merge-on-read equality delete + bloom-sidecar
    # point lookup):
    "x_mor_delete",
    "x_bloom_point_lookup",
    # round-6 additions (incremental materialized view + CDC replica +
    # metadata-only snapshot restore):
    "x_ivm_refresh",
    "x_cdc_replicate",
    "x_rollback",
    # round-6 additions (metadata tables + partition-spec evolution):
    "x_table_metadata",
    "x_partition_evolution",
    "x_sim_pq_topk",
    "x_partial_compact",
    "t_stream_dedup",
    "x_pq_index_incremental",
    "x_resample_ffill",
    "x_fuzzy_join",
    "x_grouped_trend",
    "x_kmv_overlap",
    "x_kmv_rollup",
    # round-7 additions (stream-stream left-outer interval join +
    # field-id schema evolution):
    "t_stream_left_join",
    "t_stream_full_join",
    "x_schema_evolution",
    # round-8 additions (table change-feed streaming source + nested
    # schema evolution + Z-order clustered compaction):
    "t_stream_table_feed",
    "x_nested_evolution",
    "x_zorder_pruned_read",
    "t_feed_schema_drift",
    # round-9 additions (continuous byte-bounded feed + changes()
    # across rollback-then-evolution):
    "t_feed_continuous",
    "x_rollback_evolution",
    # round-9 additions (fast append + versioned_table as a native
    # PySpark DataSource under Structured Streaming's lifecycle):
    "t_datasource_stream",
    # round-9 additions (large-star/small-star connected components —
    # diameter-independent dedup clustering):
    "x_cc_large_star",
    # round-9 additions (fastText-style hashed-linear classifier
    # inference — broadcast model, zero-shuffle codegen scoring):
    "x_quality_classifier",
    # round-9 additions (metadata-only aggregates — Iceberg
    # metadata-only scan: count/min/max from manifests, zero data IO):
    "x_metadata_agg",
    # round-9 additions (versioned_table streaming SINK — add_files
    # fast-append per micro-batch, (sinkId, batchId) exactly-once):
    "t_datasource_sink",
    # round-9 additions (zero-copy hardlink clone — Delta SHALLOW
    # CLONE analog with vacuum-safe isolation):
    "x_table_clone",
    # round-9 additions (graph analytics: integer-exact PageRank,
    # degree-oriented triangle counting; distributed BPE training):
    "x_pagerank",
    "x_pagerank_seeded",
    "x_triangle_count",
    "x_bpe_train",
    "x_bpe_tokenize",
    "x_bfs_distance",
    # round-10 additions (hidden partitioning via transform specs;
    # incremental join-view maintenance over two change feeds; CHECK
    # constraints):
    "x_hidden_partitioning",
    "x_join_ivm",
    "x_check_constraints",
    # round-11 additions (storage-partitioned join + aggregation on
    # bucket specs — zero-shuffle manifest-aligned plans):
    "x_bucket_join",
    "x_bucket_agg",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from news_lakehouse_spark.queries import QUERIES
    from news_lakehouse_spark.session import build_session

    # time the operators, not their O(table) verification asserts —
    # x_cdc_replicate / x_ivm_refresh keep those on every correctness
    # run (the driver oracle gate never sets this)
    os.environ["SPARK_GRAFT_BENCH_LEAN"] = "1"
    spark = build_session("bench")
    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # warm the Python/Arrow workers too (reused across queries): the
    # first mapInPandas otherwise pays one interpreter spin-up per core
    # inside whichever query hits the boundary first
    spark.range(256, numPartitions=int(spark.sparkContext.defaultParallelism)).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # 5 runs, report the min: single-run timings on a shared host track
    # ±35% scheduler/page-cache noise, and r6 measured min-of-3 drifting
    # up to 1.3x across back-to-back full runs with identical code — the
    # per-query min needs more samples to converge to the plan's cost.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    def time_queries(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            best = float("inf")
            df = QUERIES[name](spark, sf_dir)
            n = df.count()
            for _ in range(runs):
                t0 = time.perf_counter()
                # noop sink: consume EVERY output column of every row.
                # count() lets Catalyst prune unreferenced final columns
                # (and eliminate provably-1:1 final joins), silently
                # under-timing queries whose cost lives in those columns.
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 3)
            print(
                f"# {name}: {n} rows, min of {runs} runs {out[name]:.3f}s",
                file=sys.stderr,
            )
        return out

    # Host-speed canaries: fixed, code-independent, plan-invariant
    # jobs. Round-over-round bench ratios divide out by these to
    # separate host drift from real plan regressions: r5's flagged
    # sampling/sketch "regressions" were uniform across untouched
    # queries AND rounds-old plans, which only a canary can prove.
    # r8's flagged x_table_changes "1.45x" was the opposite failure:
    # a pure-CPU canary cannot see page-cache/filesystem/GC drift,
    # and the r9 ABAB bisect (tools/bisect_r7_vs_head.json) showed the
    # r7 CODE reproducing the "regressed" time on the drifted host.
    # Hence THREE components, one per cost class the suite contains:
    # cpu (codegen-bound), scan_shuffle (parquet IO + exchange), and
    # driver_meta (many tiny driver-side file commits, the
    # changes()/manifest-walk shape).
    def canary() -> dict[str, float]:
        import tempfile

        from pyspark.sql import functions as F

        def best_of(fn) -> float:
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        def cpu() -> None:
            spark.range(50_000_000, numPartitions=32).select(
                F.xxhash64("id").alias("h")
            ).agg(F.sum("h")).collect()

        def scan_shuffle() -> None:
            spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
                "l_suppkey"
            ).agg(F.sum("l_quantity").alias("q")).agg(F.sum("q")).collect()

        def driver_meta() -> None:
            with tempfile.TemporaryDirectory() as d:
                blob = json.dumps({"files": list(range(200))})
                for i in range(300):
                    with open(os.path.join(d, f"m{i:05d}.json"), "w") as fh:
                        fh.write(blob)
                total = 0
                for name in sorted(os.listdir(d)):
                    with open(os.path.join(d, name)) as fh:
                        total += len(json.load(fh)["files"])
                assert total == 300 * 200

        return {
            "cpu": best_of(cpu),
            "scan_shuffle": best_of(scan_shuffle),
            "driver_meta": best_of(driver_meta),
        }

    canaries = canary()
    canary_sec = canaries["cpu"]
    print(f"# host canary: {canaries}", file=sys.stderr)

    timings = time_queries(HEADLINE)
    total = round(sum(timings.values()), 3)
    extended = time_queries(EXTENDED)

    # Outlier auto-rerun (r10 verdict Next #7): the host shows a
    # recurring transient-stall class that concentrates on one query
    # family per invocation (r9/r10: stateful streaming 1.5-3x slow in
    # one run, normal the next, canaries fast throughout) — previously
    # adjudicated by hand-merging two full invocations. Mechanized:
    # when a query's min exceeds its last committed round value >1.5x
    # while the cpu canary moved <1.2x (so the host, not the plan, is
    # the only suspect), rerun that query once and keep the overall
    # min. A REAL regression reproduces on the rerun and stays visible.
    rerun_note: dict[str, dict] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        prior_rounds = sorted(
            int(f[len("BENCH_LOCAL_r"):-len(".json")])
            for f in os.listdir(here)
            if f.startswith("BENCH_LOCAL_r") and f.endswith(".json")
        )
        with open(
            os.path.join(here, f"BENCH_LOCAL_r{prior_rounds[-1]}.json")
        ) as fh:
            prior = json.load(fh)
        prior_q = {**prior.get("queries", {}), **prior.get("extended", {})}
        prior_cpu = prior.get("host_canaries", {}).get(
            "cpu", prior.get("host_canary_sec")
        )
    except (IndexError, OSError, ValueError, KeyError):
        prior_q, prior_cpu = {}, None
    cpu_ok = (
        prior_cpu is not None
        and canaries["cpu"] < 1.2 * float(prior_cpu)
    )
    if cpu_ok:
        for book in (timings, extended):
            for name, sec in list(book.items()):
                p = prior_q.get(name)
                if p is None or sec <= 1.5 * float(p):
                    continue
                again = time_queries([name])[name]
                book[name] = min(sec, again)
                rerun_note[name] = {
                    "first_min": sec,
                    "rerun_min": again,
                    "prior_round": float(p),
                }
                print(
                    f"# outlier rerun {name}: {sec:.3f} -> "
                    f"{book[name]:.3f} (prior {p})",
                    file=sys.stderr,
                )
        total = round(sum(timings.values()), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        # resolved parallelism evidence (r11 verdict #2): session.py
        # honors $SPARK_GRAFT_CPUS but the JSON never proved it, so the
        # driver's scaling check had to flag suspect_cpus_ignored —
        # echo the ACTUAL master and defaultParallelism the bench ran
        # with, straight from the live SparkContext.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "queries": timings,
        "sf": sf_val,
        "runs_per_query": runs,
        "stat": "min",
        "materialize": "noop_sink_all_columns",
        "extended_total_sec": round(sum(extended.values()), 3),
        "extended": extended,
        "host_canary_sec": canary_sec,
        # queries auto-rerun after tripping the >1.5x-vs-prior-round
        # check with a <1.2x cpu canary (transient host stalls; see
        # comment at the rerun loop). Empty = nothing tripped.
        "rerun_note": rerun_note,
        # operator-only spans for the multi-commit table-layer queries
        # (min across this process's runs): their bench rows carry
        # O(setup-commits) fixture noise; a regression in
        # apply_changes/refresh/rollback/evolve/feed shows here even
        # when the row total hides it (r7 verdict #6)
        "operator_phases": __import__(
            "news_lakehouse_spark.queries", fromlist=["PHASE_TIMINGS"]
        ).PHASE_TIMINGS,
        # cpu = the historical host_canary_sec series; scan_shuffle /
        # driver_meta model the IO- and metadata-bound query classes
        # the cpu canary proved blind to (r9 bisect, PLANS.md). Last
        # key, so a record that keeps only the line's tail keeps all
        # three.
        "host_canaries": canaries,
    }
    # the contract line is the FIRST and ONLY stdout of this process,
    # flushed immediately (r11 verdict #2: BENCH_r10's stored stdout
    # tail truncated the line and killed the round-over-round PERF
    # comparison — nothing may precede or follow it on stdout)
    print(json.dumps(payload), flush=True)
    # Also persist the FULL JSON in-repo: the driver records only the
    # last 2000 chars of stdout, which truncated BENCH_r06's headline
    # block — committed BENCH_LOCAL_r{N}.json keeps every round's
    # complete numbers readable without reconstruction. Round = next
    # after the newest driver-recorded BENCH_r{N}.json (override with
    # SPARK_GRAFT_ROUND).
    here = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        rnd = str(next_round(os.listdir(here)))
    with open(os.path.join(here, f"BENCH_LOCAL_r{rnd}.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
