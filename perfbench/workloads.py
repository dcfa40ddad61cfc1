"""The benchmark's workloads. Each one builds its inputs from the seed
in an untimed set-up (warm-up ops included), runs timed ops in a closed
loop with one client until the run's seconds are spent, checks every
output, and returns its metrics.

Every workload reports every end-to-end metric named in
``BENCHMARK.json``; README.md lists what each one measures per workload.
"""

from __future__ import annotations

import os
import random
import time

import checks
from gen import (NewsGenerator, article_nk, corpus, day_key, is_valid, shingles, to_jsonl,
                 write_drop)
from harness import median, percentile, subtree_totals, tree_bytes

READ_KINDS = ("point", "scan", "agg", "timetravel", "feed")


class Run:
    """State one workload run shares with the harness."""

    def __init__(self, spark, tracer, root, seed: int, seconds: float, trace: bool):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.rng = random.Random(f"{seed}:ops")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.timed_start = 0.0
        self.timed_ops: list[str] = []  # op ids of the timed ops

    def check(self, failures: list[str]) -> None:
        """Count one attempted op, failed when its checks fail."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def start_timing(self) -> None:
        self.timed_start = time.perf_counter()

    def more(self, done: int, min_ops: int, share: float = 1.0) -> bool:
        """Closed loop: go on until ``share`` of the run's seconds is
        spent and at least ``min_ops`` timed ops are done."""
        return done < min_ops or time.perf_counter() - self.timed_start < share * self.seconds


# --- lake_serving -----------------------------------------------------------

SERVE_HISTORY = 3  # committed days before the warm-up's merge commit
SERVE_CYCLES = 2  # timed cycles, each ending in one daily merge commit
SERVE_DAY_ROWS = 60  # bronze rows per day
SERVE_READ_ROUNDS = 2  # least rounds of the 5 reads per cycle
# untimed rounds of the 5 reads before timing: after one, each read kind
# still got about a third faster over the next 8 rounds as the JIT warmed
SERVE_WARMUP_ROUNDS = 3
SERVE_BACK = 2  # versions back for time travel and the change feed


def _serving_facts(spark, days: list[list[dict]], path: str):
    """Gold publication-fact rows of every article in ``days``, built
    from its first crawl with the silver and gold plans in one action,
    plus the fact row of every later crawl and the dimensions.

    A re-crawl changes only the comment count and the keywords, so its
    fact row is the first crawl's with ``OpinionCount`` and
    ``KeywordCount`` recomputed the way ``plans.gold`` computes them."""
    from news_lakehouse_spark.plans.gold import build_gold_dimensions, build_gold_facts
    from news_lakehouse_spark.plans.silver import build_silver_tables
    from news_lakehouse_spark.schemas import NEWS_SCHEMA

    firsts: dict[str, dict] = {}
    for rows in days:
        for row in rows:
            if is_valid(row):
                firsts.setdefault(row["url"].strip(), row)
    write_drop(path, list(firsts.values()))
    silver = build_silver_tables(spark.read.schema(NEWS_SCHEMA).json(path), require_ts=True)
    fact = build_gold_facts(silver)["fact_article_publication"]
    schema = fact.schema
    names = schema.fieldNames()
    i_op, i_kw, i_nk = (names.index(c) for c in ("OpinionCount", "KeywordCount", "Article_NK"))
    base = {r["Article_NK"]: tuple(r) for r in fact.collect()}
    dims = build_gold_dimensions(silver)
    day_facts: list[list[tuple]] = []
    for rows in days:
        out = []
        for row in rows:
            if not is_valid(row):
                continue
            fact_row = list(base[article_nk(row["url"])])
            fact_row[i_op] = row["comment_count"]
            fact_row[i_kw] = len({k.strip() for k in row["keywords"] if k.strip()})
            if row is firsts[row["url"].strip()] and tuple(fact_row) != base[fact_row[i_nk]]:
                raise RuntimeError("re-crawl fact model disagrees with plans.gold")
            out.append(tuple(fact_row))
        day_facts.append(out)
    return day_facts, schema, dims


def lake_serving(run: Run) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from news_lakehouse_spark.plans.flat_view import articles_flat_view
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    spark, tr, rng = run.spark, run.tracer, run.rng
    with tr.span("setup.inputs"):
        gen = NewsGenerator(run.seed, "serving")
        # history days only publish new articles (fast appends); the
        # warm-up's and the timed cycles' daily merges also re-crawl
        days = [gen.drop(d, SERVE_DAY_ROWS, recrawl_share=0.0 if d < SERVE_HISTORY else 0.2)
                for d in range(SERVE_HISTORY + 1 + SERVE_CYCLES)]
        day_bytes = [len(to_jsonl(rows)) for rows in days]
        topic_of = {article_nk(r["url"]): r["topic"] for rows in days for r in rows if is_valid(r)}
    with tr.span("setup.facts"):
        os.makedirs(run.root.sub("bronze"))
        day_facts, schema, dims = _serving_facts(spark, days, run.root.sub("bronze", "firsts.json"))
    names = schema.fieldNames()
    i_key, i_nk, i_date, i_op = (names.index(c) for c in
                                 ("ArticleKey", "Article_NK", "PublicationDateKey", "OpinionCount"))

    lake = run.root.sub("lake")
    fact_t = VersionedParquetTable(spark, os.path.join(lake, "fact_article_publication"))
    states: list[dict] = [{}]  # model: version -> {Article_NK: fact row}

    def commit(day: int, how: str) -> tuple[float, int]:
        state = dict(states[-1])
        rows = day_facts[day]
        for row in rows:
            state[row[i_nk]] = row
        df = spark.createDataFrame(rows, schema)
        t0 = time.perf_counter()
        if how == "write":
            v = fact_t.write(df, partition_by=["PublicationDateKey"], bloom_columns=["ArticleKey"])
        elif how == "append":
            v = fact_t.append(df)
        else:
            v = fact_t.merge(df, ["ArticleKey"])
        secs = time.perf_counter() - t0
        states.append(state)
        run.check(checks.equal("committed version", v, len(states) - 1))
        return secs, len(rows)

    with tr.span("setup.history"):
        for day in range(SERVE_HISTORY):
            commit(day, "append" if day else "write")
        dim_t = {}
        for name in ("dim_author", "dim_topic", "dim_sub_topic"):
            dim_t[name] = VersionedParquetTable(spark, os.path.join(lake, name))
            dim_t[name].write(dims[name])
    input_bytes = sum(day_bytes[:SERVE_HISTORY])

    def agg_model(state: dict) -> set:
        return checks.topic_day_totals(state.values(), topic_of, i_nk, i_date, i_op)

    def total_model(state: dict) -> tuple:
        return (len(state), sum(r[i_op] for r in state.values()))

    plan_rng = random.Random(f"{run.seed}:plan")

    def plan(kind: str, op: str, fn) -> None:
        """Traced runs time the scan plan of each read on its own."""
        if run.trace:
            with tr.span(f"table.plan.{kind}", op) as s:
                files = fn()
            kept = len(files["added"]) + len(files["removed"]) if isinstance(files, dict) else len(files)
            plans[kind].append((s.seconds * 1000.0, kept, len(fact_t.files_for())))

    def read(kind: str, op: str) -> float:
        latest = len(states) - 1
        state = states[latest]
        if kind == "point":
            nk = rng.choice(sorted(state))
            key = state[nk][i_key]
            # plan another key: planning this one first would leave its
            # probe hashes cached for the read
            plan(kind, op, lambda: fact_t.files_for(
                predicate=[("ArticleKey", "=", state[plan_rng.choice(sorted(state))][i_key])]))
            with tr.span("table.read.point", op) as s:
                got = fact_t.read(predicate=[("ArticleKey", "=", key)]).filter(
                    F.col("ArticleKey") == key).collect()
            run.check(checks.equal("point row", [tuple(r) for r in got], [state[nk]]))
        elif kind == "scan":
            d = rng.randrange(SERVE_HISTORY - 1)
            keys = [day_key(d), day_key(d + 1)]
            plan(kind, op, lambda: fact_t.files_for(partition_filter={"PublicationDateKey": keys}))
            with tr.span("table.read.scan", op) as s:
                got = fact_t.read(partition_filter={"PublicationDateKey": keys}).count()
            run.check(checks.equal("scan count", got,
                                   sum(1 for r in state.values() if r[i_date] in keys)))
        elif kind == "agg":
            plan(kind, op, lambda: fact_t.files_for())
            with tr.span("table.read.agg", op) as s:
                flat = articles_flat_view(fact_t.read(), dim_t["dim_author"].read(),
                                          dim_t["dim_topic"].read(), dim_t["dim_sub_topic"].read())
                got = flat.groupBy("TopicName", "PublicationDateKey").agg(
                    F.count("*"), F.sum("OpinionCount")).collect()
            run.check(checks.equal("flat-view aggregate", {tuple(r) for r in got}, agg_model(state)))
        elif kind == "timetravel":
            v = latest - SERVE_BACK
            plan(kind, op, lambda: fact_t.files_for(version=v))
            with tr.span("table.read.timetravel", op) as s:
                got = fact_t.read(version=v).agg(F.count("*"), F.sum("OpinionCount")).collect()
            run.check(checks.equal(f"aggregate at v{v}", tuple(got[0]), total_model(states[v])))
        else:
            v = latest - SERVE_BACK
            plan(kind, op, lambda: fact_t.changes_plan(v, latest))
            with tr.span("table.read.feed", op) as s:
                got = {r[0]: r[1] for r in fact_t.changes(v, latest)
                       .groupBy("_change_type").count().collect()}
            want = checks.feed_counts(states[v], state)
            feed_rows.append(sum(got.values()))
            run.check(checks.equal(f"feed v{v}..v{latest}",
                                   {k: got.get(k, 0) for k in want}, want))
        return s.seconds * 1000.0

    plans: dict[str, list] = {k: [] for k in READ_KINDS}
    feed_rows: list[int] = []
    lat: dict[str, list[float]] = {k: [] for k in READ_KINDS}
    commit_s: list[float] = []
    commit_rate: list[float] = []
    with tr.span("setup.warmup"):
        commit(SERVE_HISTORY, "merge")
        input_bytes += day_bytes[SERVE_HISTORY]
        for _ in range(SERVE_WARMUP_ROUNDS):
            for kind in READ_KINDS:
                read(kind, "warmup")
    for v in lat.values():
        v.clear()
    for v in plans.values():
        v.clear()
    feed_rows.clear()

    # a fixed number of cycles, so the committed history (and with it
    # every size metric) does not depend on how fast the host runs; the
    # run's seconds set the least time spent reading within them
    run.start_timing()
    for cycle in range(SERVE_CYCLES):
        op = f"cycle{cycle}"
        run.timed_ops.append(op)
        with tr.span("serve.cycle", op):
            rounds = 0
            while run.more(rounds, SERVE_READ_ROUNDS, (cycle + 1) / SERVE_CYCLES):
                for kind in READ_KINDS:
                    lat[kind].append(read(kind, op))
                rounds += 1
            day = SERVE_HISTORY + 1 + cycle
            with tr.span("table.commit", op):
                secs, n = commit(day, "merge")
            input_bytes += day_bytes[day]
            commit_s.append(secs)
            commit_rate.append(n / secs)

    lake_bytes = tree_bytes(lake)
    e2e = {
        **{f"{k}_p50_ms": median(lat[k]) for k in READ_KINDS},
        "commit_p50_s": median(commit_s),
        "curate_docs_per_s": median(commit_rate),
        "lake_bytes_per_input_byte": lake_bytes / input_bytes,
    }
    pooled = [x for k in READ_KINDS for x in lat[k]]
    layer = {
        "read_p90_ms": percentile(pooled, 90),
        "read_samples": len(pooled),
        "table.commit_s": median(commit_s),
        "table.versions": fact_t.latest_version(),
        "table.live_files": len(fact_t.files_for()),
        "table.files_total": median([p[2] for k in READ_KINDS for p in plans[k]]),
        "table.manifest_bytes": tree_bytes(os.path.join(fact_t.path, "_manifests")),
        "table.feed_rows": median(feed_rows),
    }
    for k in READ_KINDS:
        layer[f"table.plan_ms.{k}"] = median([p[0] for p in plans[k]])
        layer[f"table.files_kept.{k}"] = median([p[1] for p in plans[k]])
    return e2e, layer


def lake_serving_spark(tracer, own) -> dict:
    """Per-layer Spark figures of lake_serving from the event log."""
    out = {}
    for kind in READ_KINDS:
        jobs = [subtree_totals(tracer, own, s.sid)["jobs"] for s in tracer.spans
                if s.name == f"table.read.{kind}" and s.op != "warmup"]
        out[f"table.read_jobs.{kind}"] = median(jobs)
    out["table.commit_jobs"] = median([subtree_totals(tracer, own, s.sid)["jobs"]
                                       for s in tracer.spans if s.name == "table.commit"])
    return out


# --- corpus_curation --------------------------------------------------------

CORPUS_DOCS = 2000
CORPUS_HOPS = 6  # edits per duplicate chain, so every closed cluster is a 7-document path
WARMUP_DOCS = 150
CORPUS_READ_ROUNDS = 10  # least rounds of the 5 reads of the curated corpus
THRESHOLD = 0.8


def corpus_curation(run: Run) -> tuple[dict, dict]:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from news_lakehouse_spark.operators.dedupe import dedup_survivors, minhash_near_duplicates

    spark, tr, rng = run.spark, run.tracer, run.rng
    with tr.span("setup.inputs"):
        docs, planted = corpus(run.seed, CORPUS_DOCS, max_hops=CORPUS_HOPS)
        text_of = dict(docs)
        sh = {d: shingles(t) for d, t in docs}
        input_bytes = len(to_jsonl([{"doc_id": d, "text": t} for d, t in docs]))
    with tr.span("setup.cache"):
        df = spark.createDataFrame(docs, "doc_id long, text string").persist(
            StorageLevel.MEMORY_AND_DISK)
        df.count()
    doc_ids = [d for d, _ in docs]

    passes = {"minhash": [], "survivors": [], "rate": [], "pairs": [], "survivors_n": []}
    lat: dict[str, list[float]] = {k: [] for k in READ_KINDS}

    def one_pass(op: str, frame, ids: list[int], out: str) -> set[int]:
        """MinHash pairs, then survivors written as the curated corpus;
        returns the survivor ids after checking pairs and survivors."""
        with tr.span("curate.pass", op):
            with tr.span("dedupe.minhash", op) as m:
                pairs_df = minhash_near_duplicates(
                    frame, "doc_id", "text", threshold=THRESHOLD).select("id_a", "id_b").persist()
                pairs_df.count()
            # the checks' copy of the pairs, read from the cache
            with tr.span("check.pairs", op):
                pairs = [(r[0], r[1]) for r in pairs_df.collect()]
            with tr.span("dedupe.survivors", op) as s:
                dedup_survivors(frame, pairs_df, "doc_id").write.parquet(out)
            pairs_df.unpersist()
        id_set = set(ids)
        with tr.span("check.survivors", op):
            run.check(checks.near_duplicate_pairs(
                pairs, sh, [p for p in planted if p[1] in id_set], THRESHOLD))
            want = checks.survivors_of(ids, pairs)
            got = [r[0] for r in spark.read.parquet(out).select("doc_id").collect()]
            run.check(checks.equal("survivors", sorted(got), sorted(want)))
        if op != "warmup":
            passes["minhash"].append(m.seconds)
            passes["survivors"].append(s.seconds)
            passes["rate"].append(len(ids) / (m.seconds + s.seconds))
            passes["pairs"].append(len(pairs))
            passes["survivors_n"].append(len(want))
        return want

    def agg_model(ids: set[int]) -> dict:
        """Curated documents per 200-character length bucket."""
        model: dict[int, int] = {}
        for d in ids:
            key = len(text_of[d]) // 200
            model[key] = model.get(key, 0) + 1
        return model

    def open_curated(op: str, out: str):
        """The curated corpus at ``out`` and the warm-up's curated
        subset, the fixed earlier version of the corpus."""
        with tr.span("curated.open", op):
            return spark.read.parquet(out), spark.read.parquet(base_out)

    def reads(op: str, cur, base, want: set[int]) -> None:
        """One round of reads of the curated corpus; time travel and
        the change feed go against the earlier version."""
        x = rng.choice(sorted(want))
        with tr.span("curated.read.point", op) as s:
            got = cur.filter(F.col("doc_id") == x).collect()
        lat["point"].append(s.seconds * 1000.0)
        run.check(checks.equal("curated point", [tuple(r) for r in got], [(x, text_of[x])]))
        lo = rng.randrange(len(docs) - 100)
        with tr.span("curated.read.scan", op) as s:
            got = cur.filter(F.col("doc_id").between(lo, lo + 99)).count()
        lat["scan"].append(s.seconds * 1000.0)
        run.check(checks.equal("curated scan", got, sum(1 for d in want if lo <= d <= lo + 99)))
        for kind, frame, ids in (("agg", cur, want), ("timetravel", base, base_want)):
            with tr.span(f"curated.read.{kind}", op) as s:
                got = frame.groupBy((F.length("text") / 200).cast("int")).count().collect()
            lat[kind].append(s.seconds * 1000.0)
            run.check(checks.equal(f"curated {kind}", dict(map(tuple, got)), agg_model(ids)))
        with tr.span("curated.read.feed", op) as s:
            got = cur.exceptAll(base).count() + base.exceptAll(cur).count()
        lat["feed"].append(s.seconds * 1000.0)
        run.check(checks.equal("curated feed rows", got, len(want ^ base_want)))

    # warm-up: one untimed pass over the first WARMUP_DOCS documents
    base_out = run.root.sub("curated", "warmup")
    with tr.span("setup.warmup"):
        warm = doc_ids[:WARMUP_DOCS]
        base_want = one_pass("warmup", df.filter(F.col("doc_id") < WARMUP_DOCS), warm, base_out)
        reads("warmup", *open_curated("warmup", base_out), base_want)
    for v in lat.values():
        v.clear()
    # one timed pass (a second would add about 10 s to every run, which
    # the run budget has no room for); reads of its output go on until
    # the run's seconds are spent
    run.start_timing()
    op = "pass0"
    run.timed_ops.append(op)
    out = run.root.sub("curated", op)
    want = one_pass(op, df, doc_ids, out)
    cur, base = open_curated(op, out)
    rounds = 0
    while run.more(rounds, CORPUS_READ_ROUNDS):
        reads(op, cur, base, want)
        rounds += 1

    e2e = {
        **{f"{k}_p50_ms": median(lat[k]) for k in READ_KINDS},
        "commit_p50_s": median(passes["survivors"]),
        "curate_docs_per_s": median(passes["rate"]),
        "lake_bytes_per_input_byte": tree_bytes(out) / input_bytes,
    }
    pooled = [x for k in READ_KINDS for x in lat[k]]
    layer = {
        "read_p90_ms": percentile(pooled, 90),
        "read_samples": len(pooled),
        "dedupe.minhash_s": median(passes["minhash"]),
        "dedupe.survivors_s": median(passes["survivors"]),
        "dedupe.pairs": median(passes["pairs"]),
        "dedupe.survivors": median(passes["survivors_n"]),
    }
    return e2e, layer


def corpus_curation_spark(tracer, own) -> dict:
    out = {}
    for name in ("minhash", "survivors"):
        out[f"dedupe.{name}_jobs"] = median([
            subtree_totals(tracer, own, s.sid)["jobs"] for s in tracer.spans
            if s.name == f"dedupe.{name}" and s.op != "warmup"])
    return out


WORKLOADS = {
    "lake_serving": (lake_serving, lake_serving_spark),
    "corpus_curation": (corpus_curation, corpus_curation_spark),
}
