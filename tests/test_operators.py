"""Operator-level unit tests: merge semantics, dedup, windows, keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from news_lakehouse_spark.functions.keys import (
    date_key,
    sha2_key,
    surrogate_key_safe,
)
from news_lakehouse_spark.operators.dedupe import (
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from news_lakehouse_spark.operators.merge import merge_insert_only, merge_upsert
from news_lakehouse_spark.operators.windows import dedupe_latest, top_k_per_group


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    source = spark.createDataFrame(
        [(2, "B"), (4, "D"), (4, "D2")], ["k", "v"]
    )
    out = merge_upsert(
        target, source, ["k"], order_by=[F.col("v").desc()]
    )
    got = {(r["k"], r["v"]) for r in out.collect()}
    # source wins on 2; 4 deduped to the first under order_by (D2 > D)
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "D2")}


def test_merge_insert_only_semantics(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    source = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    out = merge_insert_only(target, source, ["k"])
    got = {(r["k"], r["v"]) for r in out.collect()}
    # 2 keeps the target value (no update branch), 3 inserted
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_drops_null_keys(spark):
    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    source = spark.createDataFrame(
        [(None, "x"), (2, "b")], "k int, v string"
    )
    out = merge_upsert(target, source, ["k"])
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, "a"), (2, "b")}


def test_surrogate_key_sentinel(spark):
    df = spark.createDataFrame(
        [("a",), ("",), ("   ",), (None,)], "nk string"
    )
    rows = df.select(
        "nk", surrogate_key_safe("nk").alias("key")
    ).collect()
    by_nk = {r["nk"]: r["key"] for r in rows}
    assert by_nk[""] == -1
    assert by_nk["   "] == -1  # trimmed blank → sentinel
    assert by_nk[None] == -1
    assert by_nk["a"] != -1
    # deterministic and equal to xxhash64 of the trimmed key
    expected = df.select(F.xxhash64(F.lit("a")).alias("h")).first()["h"]
    assert by_nk["a"] == expected


def test_sha2_key_matches_concat_ws(spark):
    df = spark.createDataFrame([(" a ", None, "b")], "x string, y string, z string")
    got = df.select(sha2_key("x", "y", "z").alias("k")).first()["k"]
    exp = df.select(
        F.sha2(F.concat_ws("||", F.lit("a"), F.lit("b")), 256).alias("k")
    ).first()["k"]
    # NULL parts are skipped by concat_ws (reference id contract)
    assert got == exp


def test_date_key(spark):
    df = spark.createDataFrame([("2024-03-07",), (None,)], "d string")
    rows = df.select(
        date_key(F.col("d").cast("date")).alias("k")
    ).collect()
    assert {r["k"] for r in rows} == {20240307, -1}


def test_dedupe_latest_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "y"), (2, 5, "z")], ["k", "ts", "v"]
    )
    out = dedupe_latest(df, ["k"], [F.col("ts").desc()])
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, "y"), (2, "z")}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", i, float(100 - i)) for i in range(10)], ["g", "i", "v"]
    )
    out = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("i")], 3)
    assert sorted(r["i"] for r in out.collect()) == [0, 1, 2]


def test_minhash_finds_planted_near_dups(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again today " * 5
    for i in range(20):
        rows.append((i, f"unrelated document number {i} with its own words {'filler %d ' % i * 30}"))
    rows.append((100, base))
    rows.append((101, base + " extra tail"))  # near-dup of 100
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_near_duplicates(df, "doc_id", "text", threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (100, 101) in got
    exact = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    assert {(r["id_a"], r["id_b"]) for r in exact.collect()} == got


def test_minhash_arrow_kernel_matches_codegen(spark):
    """The numpy kernel and the explode+groupBy aggregation must produce
    bit-identical signatures — the LSH band hashes depend on it."""
    from news_lakehouse_spark.operators.dedupe import (
        _signatures_from_shingles,
        _signatures_from_shingles_arrow,
        _with_hashed_shingles,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta number {i} " * 4) for i in range(8)],
        ["doc_id", "text"],
    )
    import news_lakehouse_spark.operators.dedupe as dd

    sh = _with_hashed_shingles(df, "doc_id", "text", 3)
    sig_arrow = {
        r["doc_id"]: r["signature"]
        for r in _signatures_from_shingles_arrow(sh, "doc_id", 128, 42).collect()
    }
    # codegen reference: the explode+groupBy aggregation, written out
    # (the public _signatures_from_shingles dispatches bigint inputs to
    # the arrow kernel, so the groupBy body is replicated here verbatim)
    params = dd._affine_params(128, 42)
    p = F.lit(dd._MERSENNE_P)
    hs = sh.select(F.col("doc_id"), F.explode("shingles").alias("__s")).select(
        "doc_id", F.pmod(F.col("__s"), p).alias("__h")
    )
    ref = (
        hs.groupBy("doc_id")
        .agg(
            *[
                F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), p)).alias(f"mh_{i}")
                for i, (a, b) in enumerate(params)
            ]
        )
        .select("doc_id", F.array(*[f"mh_{i}" for i in range(128)]).alias("signature"))
    )
    sig_ref = {r["doc_id"]: r["signature"] for r in ref.collect()}
    assert sig_arrow == sig_ref


def test_simhash_close_for_near_dups(spark):
    a = "spark makes big data processing fast and expressive " * 10
    df = spark.createDataFrame(
        [(1, a), (2, a + " tiny change"), (3, "completely different words here entirely")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df, "doc_id", "text").collect()}

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[2]) <= 6
    assert hamming(sigs[1], sigs[3]) > 10


def test_ngram_jaccard_max_df_noop_when_under_cap(spark):
    """With a cap no shingle exceeds, output is identical to uncapped."""
    rows = [(i, f"shared prefix words here document {i} body {'token %d ' % i * 10}")
            for i in range(12)]
    rows += [(100, "aaa bbb ccc ddd eee fff ggg hhh"),
             (101, "aaa bbb ccc ddd eee fff ggg zzz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    capped = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.3, max_df=1000
        ).collect()
    }
    assert capped == uncapped and (100, 101) in {(a, b) for a, b, _ in capped}


def test_ngram_jaccard_max_df_drops_boilerplate_shingles(spark):
    """A shingle shared by every doc is excluded once its df exceeds the
    cap: pairs related only through boilerplate disappear."""
    boiler = "all rights reserved"
    rows = [(i, f"{boiler} unique body {i} {'word%d ' % i * 6}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.01).count()
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_df=5
    ).count()
    assert uncapped > 0 and capped == 0


def test_minhash_bucket_cap_drops_degenerate_template_buckets(spark):
    """One dominant template puts every copy in the same band bucket in
    every band; a bucket-size cap must excise those quadratic buckets
    while keeping honest near-dup pairs found in small buckets."""
    template = "identical boilerplate template body repeated verbatim " * 6
    rows = [(i, template) for i in range(30)]  # 30 identical copies
    base = "the quick brown fox jumps over the lazy dog again today " * 5
    rows += [(100, base), (101, base + " extra tail")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = minhash_near_duplicates(
        df, "doc_id", "text", threshold=0.8, max_bucket_size=5
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    # every template-template pair lives only in >cap buckets → dropped
    assert not any(a < 30 and b < 30 for a, b in got)
    # uncapped finds the full quadratic template clique
    full = minhash_near_duplicates(
        df, "doc_id", "text", threshold=0.8, max_bucket_size=None
    ).count()
    assert full >= 30 * 29 // 2


def test_minhash_parquet_staging_matches_cached_path(spark, tmp_path):
    """staging_path spills the shingle table to parquet; results must be
    identical to the in-memory cached path."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [(i, f"unrelated document {i} {'filler %d ' % i * 20}") for i in range(10)]
    rows += [(100, base), (101, base + " extra tail")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cached = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_near_duplicates(df, "doc_id", "text", threshold=0.8).collect()
    }
    staged = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_near_duplicates(
            df,
            "doc_id",
            "text",
            threshold=0.8,
            staging_path=str(tmp_path / "shingle_stage"),
        ).collect()
    }
    assert staged == cached and (100, 101) in {(a, b) for a, b, _ in staged}
    import os

    assert os.path.isdir(tmp_path / "shingle_stage")


def test_simhash_near_duplicates_block_lsh_is_complete(spark):
    """Pigeonhole block-LSH must find exactly the pairs a brute-force
    Hamming scan over the signatures finds."""
    from news_lakehouse_spark.operators.dedupe import (
        simhash_near_duplicates,
        simhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, f"document {i} " + "filler%d " % i * 25) for i in range(15)]
    rows += [(100, base), (101, base + "tail"), (102, base + "other tail words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(
            df, "doc_id", "text", max_hamming=6, bits=60, word_hash="sha2_60"
        ).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(
            df, "doc_id", "text", bits=60, word_hash="sha2_60"
        ).collect()
    }
    ids = sorted(sigs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = bin(sigs[a] ^ sigs[b]).count("1")
            if hd <= 6:
                expect[(a, b)] = hd
    assert got == expect
    assert (100, 101) in got  # the planted near-dup is found


def test_bm25_prefers_rarer_term_and_matches_manual_score(spark):
    import math

    from news_lakehouse_spark.operators.search import bm25_scores

    rows = [
        (1, "spark spark spark engine"),
        (2, "spark engine engine engine"),
        (3, "engine engine engine engine"),
        (4, "unrelated words only here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
    assert set(got) == {1, 2}
    assert got[1]["score"] > got[2]["score"]  # higher tf wins at equal dl
    # manual Lucene-BM25: N=4, df=2, dl=4, avgdl=4, tf=3
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    expect = idf * 3 * 2.2 / (3 + 1.2 * (1 - 0.75 + 0.75 * 1.0))
    assert abs(got[1]["score"] - round(expect, 6)) < 1e-9


def test_tfidf_top_terms_rank_and_ties(spark):
    from news_lakehouse_spark.operators.search import tfidf_top_terms

    rows = [
        (1, "alpha alpha beta gamma"),
        (2, "beta beta gamma gamma delta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_top_terms(df, "doc_id", "text", top_n=2, min_term_len=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    # doc 1: alpha (tf=2, df=1) clearly first
    assert sorted(by_doc[1])[0] == (1, "alpha")
    # doc 2: beta and gamma tie on tfidf -> lexicographic order
    assert sorted(by_doc[2]) == [(1, "beta"), (2, "gamma")]


def test_train_test_split_stable_under_growth(spark):
    from news_lakehouse_spark.operators.sampling import (
        deterministic_sample,
        train_test_split,
    )

    small = spark.range(0, 500).withColumnRenamed("id", "k")
    big = spark.range(0, 5000).withColumnRenamed("id", "k")
    s_small = {
        (r["k"], r["split"])
        for r in train_test_split(small, ["k"], 0.1, 0.05).collect()
    }
    s_big = {
        (r["k"], r["split"])
        for r in train_test_split(big, ["k"], 0.1, 0.05).collect()
    }
    # growth never reassigns an existing key
    assert s_small <= s_big
    frac = sum(1 for _, s in s_big if s == "test") / 5000
    assert 0.07 < frac < 0.13
    # sampling is partitioning-insensitive
    a = {r["k"] for r in deterministic_sample(big, ["k"], 0.2).collect()}
    b = {r["k"] for r in deterministic_sample(big.repartition(17), ["k"], 0.2).collect()}
    assert a == b and 0.15 < len(a) / 5000 < 0.25


def test_cross_corpus_contamination_finds_planted_overlap(spark):
    from news_lakehouse_spark.operators.dedupe import cross_corpus_contamination

    secret = "the exact benchmark answer sequence alpha beta gamma delta epsilon"
    bench = spark.createDataFrame([(900, secret)], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, f"innocent document with its own words {'filler ' * 20}"),
            (2, f"a leaked copy contains {secret} verbatim inside"),
            (3, "another clean one entirely different tokens here friend"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_overlap_ngrams"]
        for r in cross_corpus_contamination(corpus, bench, "doc_id", "text", n=8).collect()
    }
    assert set(got) == {2} and got[2] >= 1


def test_funnel_strict_ordering(spark):
    from news_lakehouse_spark.operators.funnel import funnel_conversion

    rows = [
        # user 1: full ordered funnel
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # user 2: click BEFORE view — click must not count
        (2, 10, "click"), (2, 20, "view"),
        # user 3: view only
        (3, 10, "view"),
        # user 4: view then purchase (skips click) — purchase not counted
        (4, 10, "view"), (4, 20, "purchase"),
    ]
    e = spark.createDataFrame(rows, ["user_id", "t", "event_type"]).withColumn(
        "ts", F.timestamp_seconds("t")
    )
    got = {r["step"]: r for r in funnel_conversion(e, ["view", "click", "purchase"]).collect()}
    assert got["view"]["n_users"] == 4
    assert got["click"]["n_users"] == 1
    assert got["purchase"]["n_users"] == 1
    assert got["click"]["conv_from_first"] == 0.25
    assert got["view"]["conv_from_prev"] is None


def test_validate_expectations_and_enforce(spark):
    from news_lakehouse_spark.operators.validate import (
        accepted_values,
        enforce,
        in_range,
        non_blank,
        not_null,
        unique,
        validate_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, "ok"),
            (1, "a", -2.0, "ok"),     # dup key + below range
            (2, None, 50.0, "bad"),   # null name + above range + not accepted
            (3, "  ", 5.0, "ok"),     # blank name
        ],
        ["k", "name", "v", "status"],
    )
    rules = [
        not_null("name"),
        non_blank("name"),
        unique(["k"]),
        in_range("v", 0, 10),
        accepted_values("status", ["ok"]),
    ]
    got = {r["rule"]: r["violations"] for r in validate_expectations(df, rules).collect()}
    assert got == {
        "not_null(name)": 1,
        "non_blank(name)": 2,
        "unique(k)": 1,
        "in_range(v)": 2,
        "accepted_values(status)": 1,
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unique"):
        enforce(df, rules)
    enforce(df.limit(0), rules)  # empty df passes


def test_connected_components_and_survivors(spark):
    from news_lakehouse_spark.operators.dedupe import (
        connected_components,
        dedup_survivors,
    )

    # components: {1,2,3,4} via chain, {10,11}, {20} untouched singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 20]], ["doc_id", "text"]
    )
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 20]


def test_connected_components_long_chain(spark):
    from news_lakehouse_spark.operators.dedupe import connected_components

    # a 12-node path needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    comp = connected_components(pairs).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == 13


def test_stratified_sample_rates_and_determinism(spark):
    from news_lakehouse_spark.operators.sampling import stratified_sample

    rows = [(i, "a" if i % 2 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "g"])
    out = stratified_sample(
        df, "g", {"a": 1.0, "b": 0.25}, key_cols=["k"]
    )
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 2000          # fraction 1.0 keeps everything
    assert 350 < counts["b"] < 650      # ~0.25 of 2000
    # unlisted group with default 0 disappears
    out2 = stratified_sample(df, "g", {"a": 1.0}, key_cols=["k"])
    assert out2.filter(F.col("g") == "b").count() == 0
    # deterministic across partitionings
    s1 = {r["k"] for r in out.collect()}
    s2 = {
        r["k"]
        for r in stratified_sample(
            df.repartition(13), "g", {"a": 1.0, "b": 0.25}, key_cols=["k"]
        ).collect()
    }
    assert s1 == s2


def test_quantile_bucket_thresholds(spark):
    from news_lakehouse_spark.operators.sampling import quantile_bucket

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
    out = quantile_bucket(df, "v", 4)
    by_bucket = {}
    for r in out.collect():
        by_bucket.setdefault(r["bucket"], []).append(r["v"])
    assert set(by_bucket) == {1, 2, 3, 4}
    # exact interpolated quartiles of 1..100: 25.75, 50.5, 75.25
    assert max(by_bucket[1]) == 25.0 and min(by_bucket[2]) == 26.0
    assert max(by_bucket[2]) == 50.0 and min(by_bucket[3]) == 51.0
    assert max(by_bucket[3]) == 75.0 and min(by_bucket[4]) == 76.0


def test_stratified_sample_requires_row_keys(spark):
    import pytest

    from news_lakehouse_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(1, "a")], ["k", "g"])
    with pytest.raises(ValueError, match="key_cols"):
        stratified_sample(df, "g", {"a": 0.5})


def test_connected_components_raises_when_budget_exhausted(spark):
    import pytest

    from news_lakehouse_spark.operators.dedupe import connected_components

    # a path graph 0-1-2-...-9 needs ~diameter rounds; 2 is not enough
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2)
    # and converges fine with budget
    comp = connected_components(pairs, max_iters=20)
    assert {r["component"] for r in comp.collect()} == {0}


def test_connected_components_one_job_per_round(spark):
    """A propagation round is one Spark job: its convergence count is
    observed on the round's own checkpoint, and the loop runs without
    AQE's per-stage jobs. A 7-node path takes 6 rounds; the whole call
    plus reading the result stays within 2 jobs a round."""
    from news_lakehouse_spark.operators.dedupe import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    group = "test_connected_components_one_job_per_round"
    sc.setJobGroup(group, group)
    try:
        comp = connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(tuple(r) for r in comp) == [(i, 0) for i in range(7)]
    rounds = 6
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2 * rounds


def test_connected_components_restores_session_conf(spark):
    """The propagate loop turns AQE and broadcast joins off only for
    its own rounds: an explicit setting comes back and an unset one is
    unset again, after a normal return and after the max_iters error."""
    import pytest

    from news_lakehouse_spark.operators.dedupe import connected_components

    aqe, bcast = "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold"
    saved = {k: spark.conf.get(k, None) for k in (aqe, bcast)}
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    try:
        for prior in ("true", "false", None):
            if prior is None:
                spark.conf.unset(aqe)
            else:
                spark.conf.set(aqe, prior)
            want = {aqe: prior, bcast: spark.conf.get(bcast, None)}
            comp = connected_components(pairs).collect()
            assert {r["component"] for r in comp} == {0}
            assert {k: spark.conf.get(k, None) for k in want} == want
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components(pairs, max_iters=2)
            assert {k: spark.conf.get(k, None) for k in want} == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_connected_components_empty_pairs(spark):
    """No pairs: the first round observes no rows (a NULL sum), which
    reads as converged instead of blocking on the observation."""
    import threading

    from news_lakehouse_spark.operators.dedupe import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out: list = []
    t = threading.Thread(
        target=lambda: out.append(connected_components(pairs).collect()),
        daemon=True,
    )
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert out == [[]]


def test_ann_recall_uses_actual_exact_size(spark):
    from news_lakehouse_spark.operators.similarity import ann_recall_at_k

    # query 7 has only 3 exact neighbors; a perfect approximation of
    # those 3 must score recall 1.0 even at k=10
    exact = spark.createDataFrame(
        [(7, 1), (7, 2), (7, 3)], ["query_id", "neighbor_id"]
    )
    approx = spark.createDataFrame(
        [(7, 1), (7, 2), (7, 3), (7, 99)], ["query_id", "neighbor_id"]
    )
    out = ann_recall_at_k(approx, exact, k=10).collect()
    assert len(out) == 1
    assert out[0]["recall"] == 1.0


def test_upsert_schema_evolution_adds_columns(spark, tmp_path):
    """evolve_schema=True widens the table with source-only columns
    (Iceberg add-column evolution); old rows read back null. Off by
    default, a new column is dropped, not silently added."""
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])

    delta = spark.createDataFrame([(2, "B", "en"), (3, "c", "de")], ["k", "v", "lang"])
    t.merge(delta, ["k"], evolve_schema=True)

    got = {(r["k"], r["v"], r["lang"]) for r in t.read().collect()}
    assert got == {(1, "a", None), (2, "B", "en"), (3, "c", "de")}

    # default path: a further merge WITHOUT the flag keeps the (now
    # evolved) schema and projects the source onto it
    delta2 = spark.createDataFrame([(4, "d", "fr", 9)], ["k", "v", "lang", "extra"])
    t.merge(delta2, ["k"])
    back = t.read()
    assert set(back.columns) == {"k", "v", "lang"}
    assert {(r["k"], r["v"], r["lang"]) for r in back.collect()} == got | {
        (4, "d", "fr")
    }


def test_evolve_schema_rejects_source_missing_target_columns(spark):
    """Add-column-only contract: a source that LACKS a target column
    (typo/rename) must raise, not silently null-fill updates."""
    import pytest

    from news_lakehouse_spark.operators.merge import merge_insert_only, merge_upsert

    target = spark.createDataFrame([(1, "a", 10)], ["k", "v", "score"])
    bad = spark.createDataFrame([(1, "A", "en")], ["k", "v", "lang"])  # no score
    with pytest.raises(ValueError, match="score"):
        merge_upsert(target, bad, ["k"], evolve_schema=True)
    with pytest.raises(ValueError, match="score"):
        merge_insert_only(target, bad, ["k"], evolve_schema=True)
    # pure addition still evolves
    good = spark.createDataFrame([(1, "A", 11, "en")], ["k", "v", "score", "lang"])
    out = merge_upsert(target, good, ["k"], evolve_schema=True)
    assert set(out.columns) == {"k", "v", "score", "lang"}


def test_substring_duplication_planted_spans(spark):
    """Planted duplicated k-span coverage is exact: two docs share one
    8-token run (pos 2..9 in doc 1, pos 0..7 in doc 2); a third doc
    shares nothing. Covered-token counts follow the span-union rule."""
    from news_lakehouse_spark.operators.dedupe import substring_duplication

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"intro words {shared} tail one two"),       # 13 tokens, 8 dup
        (2, f"{shared} completely different ending"),    # 11 tokens, 8 dup
        (3, "nothing here repeats at all ever in any way whatsoever truly"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in substring_duplication(df, "doc_id", "text", k=8).collect()
    }
    assert got[1] == (13, 8, round(8 / 13, 6))
    assert got[2] == (11, 8, round(8 / 11, 6))
    assert got[3] == (11, 0, 0.0)


def test_substring_duplication_overlapping_spans_union(spark):
    """A 9-token shared run = two overlapping 8-spans; coverage is the
    UNION (9 tokens), not 16 — and a doc shorter than k yields no spans
    but still reports its token count."""
    from news_lakehouse_spark.operators.dedupe import substring_duplication

    run9 = "a1 a2 a3 a4 a5 a6 a7 a8 a9"
    rows = [
        (1, f"{run9} xx yy"),
        (2, f"zz {run9}"),
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in substring_duplication(df, "doc_id", "text", k=8).collect()
    }
    assert got[1] == (11, 9)
    assert got[2] == (10, 9)
    assert got[3] == (2, 0)


def test_substring_duplication_within_doc_repeat_not_counted(spark):
    """A k-span repeated twice INSIDE one doc (df=1) is not cross-doc
    duplication — document frequency uses distinct docs."""
    from news_lakehouse_spark.operators.dedupe import substring_duplication

    run8 = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [(1, f"{run8} middle {run8}"), (2, "some other words live here now ok yes")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["dup_tokens"]
           for r in substring_duplication(df, "doc_id", "text", k=8).collect()}
    assert got == {1: 0, 2: 0}


def test_remove_duplicated_spans_keeps_canonical_copy(spark):
    """The min-id doc keeps the shared run; every other doc loses it.
    A doc with no cross-doc spans is untouched, and the operator is
    idempotent on its own output."""
    from news_lakehouse_spark.operators.dedupe import remove_duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"intro words {shared} tail one two"),
        (2, f"{shared} completely different ending"),
        (3, "nothing here repeats at all ever in any way whatsoever truly"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = remove_duplicated_spans(df, "doc_id", "text", k=8)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["clean_text"] == f"intro words {shared} tail one two"
    assert got[1]["kept_tokens"] == 13
    assert got[2]["clean_text"] == "completely different ending"
    assert got[2]["kept_tokens"] == 3
    assert got[3]["kept_tokens"] == got[3]["n_tokens"] == 11
    # idempotent: re-running on the cleaned corpus changes nothing
    again = remove_duplicated_spans(
        out.select("doc_id", F.col("clean_text").alias("text")), "doc_id", "text", k=8
    )
    got2 = {r["doc_id"]: r["clean_text"] for r in again.collect()}
    assert got2 == {i: got[i]["clean_text"] for i in (1, 2, 3)}


def test_incremental_minhash_classifies_batch(spark):
    """A batch doc near-identical to a corpus doc → in_corpus; two
    near-identical batch docs (no corpus match) → earlier admits, later
    is dup_in_batch; a unique doc admits. Replaying admitted docs
    against the grown corpus admits nothing."""
    from news_lakehouse_spark.operators.dedupe import incremental_minhash_dedupe

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about spark plans")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, base + " ok"),                       # near-dup of corpus 1
            (11, "fresh unique content with many novel words in this row"),
            (12, "fresh unique content with many novel words in this rows"),  # near-dup of 11
            (13, "totally singular document unlike anything else at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["in_corpus"], r["dup_in_batch"], r["admit"])
           for r in incremental_minhash_dedupe(
               corpus, batch, "doc_id", "text", threshold=0.5).collect()}
    assert out[10] == (1, 0, 0)
    assert out[11] == (0, 0, 1)
    assert out[12] == (0, 1, 0)
    assert out[13] == (0, 0, 1)
    # replay: admitted rows joined into the corpus classify as in_corpus
    grown = corpus.union(batch.filter(F.col("doc_id").isin(11, 13)))
    replay = {r["doc_id"]: r["in_corpus"]
              for r in incremental_minhash_dedupe(
                  grown, batch.filter(F.col("doc_id").isin(11, 13)).withColumn(
                      "doc_id", F.col("doc_id") + 100),
                  "doc_id", "text", threshold=0.5).collect()}
    assert replay == {111: 1, 113: 1}


def test_resample_fill_densifies_and_ffills(spark):
    from news_lakehouse_spark.operators.timeseries import resample_fill

    rows = [
        (1, "2024-01-01 00:10:00", 5.0),
        (1, "2024-01-01 02:20:00", 7.0),   # hour 1 missing entirely
        (2, "2024-01-01 00:30:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    out = resample_fill(df, ["user_id"], "ts", 3600, sum_cols=["value"])
    got = {
        (r["user_id"], str(r["bucket"]), r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00", 1, 5.0),
        (1, "2024-01-01 01:00:00", 0, 5.0),  # gap: 0 events, ffilled sum
        (1, "2024-01-01 02:00:00", 1, 7.0),
        (2, "2024-01-01 00:00:00", 1, 1.0),
    }
    nulls = resample_fill(df, ["user_id"], "ts", 3600, sum_cols=["value"], fill="null")
    gap = [r for r in nulls.collect() if r["n_events"] == 0]
    assert len(gap) == 1 and gap[0]["sum_value"] is None


def test_fuzzy_token_join_exact_jaccard(spark):
    from news_lakehouse_spark.operators.fuzzyjoin import fuzzy_token_join

    left = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zz yy xx")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [
            (10, "Alpha beta GAMMA epsilon"),  # jaccard 3/5 with left 1
            (11, "alpha beta gamma delta"),    # exact copy: 1.0
            (12, "totally different words"),
        ],
        "id long, name string",
    )
    got = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in fuzzy_token_join(
            left, right, "id", "id", "name", "name", threshold=0.5
        ).collect()
    }
    assert got == {(1, 10): 0.6, (1, 11): 1.0}
    # df cap: a token in > max_df right rows generates no candidates
    none = fuzzy_token_join(
        left, right, "id", "id", "name", "name", threshold=0.5, max_df=0
    )
    assert none.count() == 0


def test_fuzzy_join_prefix_filter_exact_and_cuts_candidates(spark, monkeypatch):
    """The ppjoin prefix cut must be invisible in the OUTPUT (it is
    exact: any pair with Jaccard >= t shares a token inside both
    df-ordered prefixes) while materially shrinking the candidate set
    that the verification phase pays for."""
    from news_lakehouse_spark.operators.fuzzyjoin import (
        _candidate_pairs,
        _token_sets,
        fuzzy_token_join,
    )

    # every doc shares 4 stopwords (huge posting lists) + has rare
    # tail tokens; near-dup pairs differ by one tail token
    mk = lambda i, tail: f"the of and to {tail} item{i}"
    left = spark.createDataFrame(
        [(i, mk(i, f"rare{i} extra{i}")) for i in range(30)],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(100 + i, mk(i, f"rare{i} extra{i}")) for i in range(30)]
        + [(500, "the of and to unrelated stuff")],
        "id long, name string",
    )
    kw = dict(threshold=0.8, max_df=10**6)
    out = lambda pf: {
        (r["id_l"], r["id_r"], r["jaccard"])
        for r in fuzzy_token_join(
            left, right, "id", "id", "name", "name",
            prefix_filter=pf, **kw
        ).collect()
    }
    with_pf, without_pf = out(True), out(False)
    assert with_pf == without_pf
    assert {(i, 100 + i, 1.0) for i in range(30)} <= with_pf

    _, l_post = _token_sets(left, "id", "name", "l")
    _, r_post = _token_sets(right, "id", "name", "r")
    n_pref = _candidate_pairs(l_post, r_post, 0.8, 10**6, True).count()
    n_full = _candidate_pairs(l_post, r_post, 0.8, 10**6, False).count()
    # stopword postings generate ~30x31 candidates without the cut;
    # rare-first prefixes keep essentially only the true pairs
    assert n_pref <= n_full / 5, (n_pref, n_full)
    # auto mode: this corpus is tiny, so the default thresholds keep
    # the direct plan; with the blowup thresholds zeroed the same call
    # takes the cut — both produce the forced modes' (identical) output
    from news_lakehouse_spark.operators import fuzzyjoin as fj

    n_auto = _candidate_pairs(l_post, r_post, 0.8, 10**6, None).count()
    assert n_auto == n_full, (n_auto, n_full)
    assert out(None) == with_pf
    monkeypatch.setattr(fj, "PREFIX_BLOWUP_FACTOR", 0)
    monkeypatch.setattr(fj, "PREFIX_MIN_CANDIDATES", 0)
    n_auto = _candidate_pairs(l_post, r_post, 0.8, 10**6, None).count()
    assert n_auto == n_pref, (n_auto, n_pref)
    assert out(None) == with_pf

    # non-ASCII tokens: Spark tokenizer is \p{L}\p{N}, same as the
    # DuckDB oracle (advice r6) — accents must not split tokens
    l2 = spark.createDataFrame([(1, "café naïve über 42")], "id long, name string")
    r2 = spark.createDataFrame([(2, "Café NAÏVE über 42")], "id long, name string")
    got = fuzzy_token_join(l2, r2, "id", "id", "name", "name", threshold=0.9).collect()
    assert [(r["id_l"], r["id_r"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_grouped_linear_fit_closed_form_and_degenerates(spark):
    from news_lakehouse_spark.operators.timeseries import grouped_linear_fit

    rows = [
        # key 1: y = 2x + 1 exactly -> slope 2, intercept 1, r2 1
        (1, 0.0, 1.0), (1, 1.0, 3.0), (1, 2.0, 5.0),
        # key 2: single point -> no line
        (2, 4.0, 9.0),
        # key 3: zero x-variance -> no line
        (3, 5.0, 1.0), (3, 5.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "k long, x double, y double")
    got = {r["k"]: r for r in grouped_linear_fit(df, ["k"], "x", "y").collect()}
    assert (got[1]["slope"], got[1]["intercept"], got[1]["r2"]) == (2.0, 1.0, 1.0)
    assert got[1]["n"] == 3
    assert got[2]["slope"] is None and got[2]["n"] == 1
    assert got[3]["slope"] is None and got[3]["n"] == 2


def test_kmv_sketch_exact_when_unsaturated_and_calibrated(spark):
    from news_lakehouse_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_intersect_estimate,
        kmv_sketch,
    )

    # unsaturated: estimates are EXACT set arithmetic
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5, 20)]
    df = spark.createDataFrame(rows, "seg string, v long")
    sk = kmv_sketch(df, ["seg"], "v", k=64)
    one = (
        sk.filter(F.col("seg") == "a").select(F.col("kmv").alias("ka"))
        .crossJoin(sk.filter(F.col("seg") == "b").select(F.col("kmv").alias("kb")))
    )
    est = kmv_intersect_estimate(F.col("ka"), F.col("kb"), 64)
    got = one.select(
        kmv_distinct_estimate(F.col("ka"), 64).alias("a"),
        est["union_est"].alias("u"),
        est["jaccard_est"].alias("j"),
        est["intersect_est"].alias("i"),
    ).first()
    assert (got["a"], got["u"], got["i"]) == (10.0, 20.0, 5.0)
    assert abs(got["j"] - 0.25) < 1e-12

    # saturated: distinct estimate within ~4/sqrt(k) of truth
    big = spark.createDataFrame(
        [("c", i) for i in range(5000)], "seg string, v long"
    )
    k = 256
    est_c = (
        kmv_sketch(big, ["seg"], "v", k=k)
        .select(kmv_distinct_estimate(F.col("kmv"), k).alias("e"))
        .first()["e"]
    )
    assert abs(est_c - 5000) / 5000 < 4 / (k - 2) ** 0.5


def test_kmv_merge_equals_sketch_of_union(spark):
    from news_lakehouse_spark.operators.sketches import kmv_merge, kmv_sketch

    rows = [("d1", i) for i in range(300)] + [
        ("d2", i) for i in range(200, 500)
    ]
    df = spark.createDataFrame(rows, "day string, v long")
    k = 64
    daily = kmv_sketch(df, ["day"], "v", k=k)
    merged = daily.agg(kmv_merge(F.col("kmv"), k).alias("kmv")).first()["kmv"]
    whole = (
        kmv_sketch(df.withColumn("g", F.lit(1)), ["g"], "v", k=k)
        .first()["kmv"]
    )
    assert merged == whole  # lossless merge: sketch(parts) == sketch(union)


def test_connected_components_star_matches_propagate(spark):
    from news_lakehouse_spark.operators.dedupe import connected_components

    # chain {0..12}, clique {20,21,22}, pair {30,31}, plus a bridge
    # edge merging the chain into the clique via 12-20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)]
        + [(20, 21), (21, 22), (20, 22), (30, 31), (12, 20)],
        ["id_a", "id_b"],
    )
    prop = {
        r["id"]: r["component"]
        for r in connected_components(pairs, method="propagate").collect()
    }
    star = {
        r["id"]: r["component"]
        for r in connected_components(pairs, method="star").collect()
    }
    assert star == prop
    assert star[22] == 0 and star[31] == 30


def test_connected_components_star_contracts_long_chain_fast(spark):
    import pytest

    from news_lakehouse_spark.operators.dedupe import connected_components

    # a 64-node path: propagation needs ~diameter rounds (>> 8), the
    # star plan squares path lengths — 8 rounds is ample
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=8, method="propagate")
    comp = connected_components(pairs, max_iters=8, method="star").collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == 65


def test_connected_components_rejects_unknown_method(spark):
    import pytest

    from news_lakehouse_spark.operators.dedupe import connected_components

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="propagate | star"):
        connected_components(pairs, method="bogus")


def test_shingle_builders_return_empty_below_n(spark):
    """_shifted_zip's r11 rewrite made short inputs TOTAL: size(ws) < n
    now yields an empty shingle array (the old sequence(0, size-n) form
    produced garbage there and relied on callers pre-filtering). Pin
    the widened behavior so it stays intentional (advice r11)."""
    from news_lakehouse_spark.operators.dedupe import (
        hashed_shingles_of_words,
        shingles_of_words,
    )

    df = spark.createDataFrame(
        [(1, ["a"]), (2, ["a", "b"]), (3, []), (4, ["a", "b", "c"])],
        ["id", "ws"],
    )
    got = {
        r["id"]: (r["s"], r["h"])
        for r in df.select(
            "id",
            shingles_of_words(F.col("ws"), 3).alias("s"),
            hashed_shingles_of_words(F.col("ws"), 3).alias("h"),
        ).collect()
    }
    assert got[1] == ([], [])
    assert got[2] == ([], [])
    assert got[3] == ([], [])
    assert got[4][0] == ["a b c"]
    assert len(got[4][1]) == 1
