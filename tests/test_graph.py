from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_lakehouse_spark.operators.bpe import apply_bpe, train_bpe_merges
from news_lakehouse_spark.operators.graph import pagerank, triangle_stats


def _pagerank_reference(edges, iterations, damping_pct=85, units=10**12):
    """Pure-Python twin of the integer recurrence."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out_deg: dict = {}
    for u, _ in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    rank = {v: units for v in nodes}
    base = ((100 - damping_pct) * units) // 100
    for _ in range(iterations):
        dang = sum(rank[v] for v in nodes if v not in out_deg) // n
        in_sum = {v: 0 for v in nodes}
        for u, v in edges:
            in_sum[v] += rank[u] // out_deg[u]
        rank = {
            v: base + (damping_pct * (in_sum[v] + dang)) // 100 for v in nodes
        }
    return rank


def test_pagerank_matches_reference_recurrence(spark):
    # 4-node graph with a cycle, a sink (dangling), and a hub
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iterations=7).collect()
    }
    assert got == _pagerank_reference(edges, 7)
    # the sink has max in-mass
    assert max(got, key=got.get) == 4


def test_pagerank_mass_conserved_up_to_floor_loss(spark):
    edges = [(i, (i * 3 + 1) % 11) for i in range(11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    iters, units = 5, 10**12
    total = sum(r["rank_units"] for r in pagerank(df, iterations=iters).collect())
    n = 11
    # each node loses < 1 unit to each DIV per step; 3 DIVs per step
    assert n * units >= total > n * units - 3 * n * iters - n
    # deterministic across reruns and partitionings
    again = sum(
        r["rank_units"]
        for r in pagerank(df.repartition(7), iterations=iters).collect()
    )
    assert again == total


def test_pagerank_overflow_guard(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="overflow"):
        pagerank(df, units=2**62)


def test_triangle_stats_counts_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, 3 through each node) plus a
    # pendant 5 and a duplicate/reversed/self-loop noise edge set
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 4), (2, 1), (3, 3),
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    rows = {r["node"]: r for r in triangle_stats(df).collect()}
    assert {n: r["triangles"] for n, r in rows.items()} == {
        1: 3, 2: 3, 3: 3, 4: 3, 5: 0,
    }
    assert rows[4]["degree"] == 4 and rows[4]["wedges"] == 6
    assert rows[5]["degree"] == 1 and rows[5]["wedges"] == 0
    assert sum(r["triangles"] for r in rows.values()) == 3 * 4


def test_triangle_stats_no_triangles_on_bipartite(spark):
    edges = [(i, 100 + (i % 3)) for i in range(9)]
    df = spark.createDataFrame(edges, "a long, b long")
    assert all(
        r["triangles"] == 0 for r in triangle_stats(df).collect()
    )


def test_bpe_learns_expected_merges(spark):
    # "ababab x2, abc" => top pair 'ab' (freq 7), then marker+... chain
    docs = [("ababab",), ("ababab",), ("abc",)]
    df = spark.createDataFrame(docs, "text string")
    merges = train_bpe_merges(df, "text", 3, min_freq=2)
    assert merges[0]["left"] == "a" and merges[0]["right"] == "b"
    assert merges[0]["token"] == "ab" and merges[0]["freq"] == 7
    # after rewrite: "MMM" x2, "Mc" -> top pair (M,M) freq 4 (sliding)
    assert merges[1]["token"] == "abab" and merges[1]["freq"] == 4
    # expansion chains through earlier markers
    assert all(m["token"].count("a") == m["token"].count("b") for m in merges)


def test_bpe_greedy_nonoverlapping_application(spark):
    # 'aaa' contains 2 sliding pairs but merges once (greedy LTR)
    df = spark.createDataFrame([("aaaa",), ("aaa",)], "text string")
    merges = train_bpe_merges(df, "text", 1, min_freq=2)
    assert merges[0]["freq"] == 5  # sliding count: 3 + 2
    out = apply_bpe(df, "text", merges).collect()
    toks = {r["text"]: r["bpe_tokens"] for r in out}
    assert toks["aaaa"] == ["aa", "aa"]
    assert toks["aaa"] == ["aa", "a"]


def test_bpe_stops_below_min_freq_and_rejects_marker_collision(spark):
    df = spark.createDataFrame([("xy",)], "text string")
    assert train_bpe_merges(df, "text", 5, min_freq=2) == []
    bad = spark.createDataFrame([("a" + chr(0xE000),)], "text string")
    with pytest.raises(ValueError, match="marker"):
        train_bpe_merges(bad, "text", 2)


def test_apply_bpe_roundtrip_preserves_text(spark):
    docs = [("the cat sat on the mat",), ("the thematic theme",)]
    df = spark.createDataFrame(docs, "text string")
    merges = train_bpe_merges(df, "text", 4, min_freq=2)
    assert len(merges) >= 2
    for r in apply_bpe(df, "text", merges).collect():
        assert "".join(r["bpe_tokens"]) == r["text"]


def test_bfs_distances_min_hop_and_early_stop(spark):
    from news_lakehouse_spark.operators.graph import bfs_distances

    # 1 -> 2 -> 3 -> 4, plus a shortcut 1 -> 3 and an unreachable 9
    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (9, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}
    # hop cap binds
    capped = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, max_hops=1).collect()}
    assert capped == {1: 0, 2: 1, 3: 1}
    # a seed stays 0 even with in-edges; multi-seed takes min
    seeds2 = spark.createDataFrame([(1,), (4,)], "node long")
    multi = {r["node"]: r["dist"] for r in bfs_distances(e, seeds2, max_hops=10).collect()}
    assert multi[4] == 0 and multi[1] == 0


def _ppr_reference(edges, seeds, iterations, damping_pct=85, units=10**12):
    nodes = sorted({u for e in edges for u in e})
    n, t = len(nodes), len(set(seeds) & {u for e in edges for u in e})
    out_deg: dict = {}
    for u, _ in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    rank = {v: units for v in nodes}
    base = ((100 - damping_pct) * units * n) // (100 * t)
    for _ in range(iterations):
        dang = sum(rank[v] for v in nodes if v not in out_deg)
        in_sum = {v: 0 for v in nodes}
        for u, v in edges:
            in_sum[v] += rank[u] // out_deg[u]
        rank = {
            v: (base if v in seeds else 0)
            + (damping_pct * (in_sum[v] + (dang // t if v in seeds else 0)))
            // 100
            for v in nodes
        }
    return rank


def test_personalized_pagerank_matches_reference(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iterations=6, teleport=seeds).collect()
    }
    assert got == _ppr_reference(edges, {1}, 6)
    # seed-proximity: the seed outranks the node it can't reach back from
    assert got[1] > got[4] or got[2] > 0  # structural sanity
    # classic mode unchanged by the refactor
    classic = {
        r["node"]: r["rank_units"]
        for r in pagerank(df, iterations=6).collect()
    }
    assert classic == _pagerank_reference(edges, 6)


def test_personalized_pagerank_rejects_disjoint_seeds(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="teleport"):
        pagerank(df, iterations=2, teleport=seeds)


def test_reliable_checkpoint_mode_bit_identical(spark, tmp_path):
    """iterstate.truncate_lineage upgrades localCheckpoint to a
    reliable checkpoint when the context has a checkpoint dir — the
    fault-tolerant mode a multi-hour cluster run needs — and the
    results are bit-identical across both modes."""
    from news_lakehouse_spark.operators.dedupe import connected_components
    from news_lakehouse_spark.operators.graph import bfs_distances

    edges = [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(7,), (1,)], "node long")

    local_pr = sorted(
        tuple(r) for r in pagerank(df, iterations=5).collect()
    )
    local_cc = sorted(
        tuple(r)
        for r in connected_components(pairs, method="star").collect()
    )
    # the propagate rounds and BFS hops read their convergence counts
    # from an observation on the checkpoint: it must arrive in both modes
    local_prop = sorted(tuple(r) for r in connected_components(pairs).collect())
    local_bfs = sorted(tuple(r) for r in bfs_distances(df, seeds, max_hops=5).collect())

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rel_pr = sorted(
            tuple(r) for r in pagerank(df, iterations=5).collect()
        )
        rel_cc = sorted(
            tuple(r)
            for r in connected_components(pairs, method="star").collect()
        )
        rel_prop = sorted(tuple(r) for r in connected_components(pairs).collect())
        rel_bfs = sorted(tuple(r) for r in bfs_distances(df, seeds, max_hops=5).collect())
        # the reliable mode actually wrote checkpoint state
        import os

        assert any(os.scandir(tmp_path / "ckpt"))
    finally:
        sc.setCheckpointDir(None)
    assert rel_pr == local_pr
    assert rel_cc == local_cc
    assert rel_prop == local_prop == local_cc
    assert rel_bfs == local_bfs


def test_truncator_bounds_checkpoint_storage(spark, tmp_path):
    """ADVICE r10: reliable mode must not accumulate O(iterations x
    state) on the checkpoint FS. LineageTruncator deletes round n-2's
    rdd-* dir once round n lands (keep-2: the newest round plus its
    parent, so convergence tests comparing consecutive rounds stay
    readable), and the surviving frame still collects correctly."""
    import os

    from news_lakehouse_spark.operators.iterstate import LineageTruncator

    def rdd_dirs(root):
        out = []
        for dirpath, dirnames, _ in os.walk(root):
            out += [d for d in dirnames if d.startswith("rdd-")]
        return out

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        # direct: 6 chained rounds leave <=2 rdd dirs, last two rounds
        # both remain readable
        t = LineageTruncator()
        df = spark.range(100).withColumnRenamed("id", "v")
        prev = None
        for i in range(6):
            df, prev = t(df.withColumn("v", F.col("v") + 1)), df
        assert len(rdd_dirs(tmp_path / "ckpt")) <= 2
        assert df.agg(F.sum("v")).collect()[0][0] == sum(range(100)) + 600
        assert prev.agg(F.sum("v")).collect()[0][0] == sum(range(100)) + 500

        # through an operator: pagerank's loop uses the truncator and
        # matches local mode exactly while leaving <=2 dirs + the
        # stateless init/triangle checkpoints (bounded, not O(iters))
        edges = [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4), (7, 8)]
        g = spark.createDataFrame(edges, "src long, dst long")
        rel = sorted(tuple(r) for r in pagerank(g, iterations=12).collect())
        n_dirs = len(rdd_dirs(tmp_path / "ckpt"))
        assert n_dirs <= 4, f"checkpoint dirs grew with iterations: {n_dirs}"
    finally:
        sc.setCheckpointDir(None)
    loc = sorted(tuple(r) for r in pagerank(g, iterations=12).collect())
    assert rel == loc


def test_bpe_batched_recount_identical_merges(spark):
    """recount_every=k must learn EXACTLY the k=1 merge sequence —
    the batch acceptance rule defers conflicting pairs to the next
    recount rather than reordering them."""
    import random

    rng = random.Random(11)
    # conflict-rich: tiny alphabet, so top pairs constantly share
    # symbols and the greedy prefix must stop/defer almost every round
    rich = [
        ("".join(rng.choice("ab") for _ in range(rng.randint(3, 30))),)
        for _ in range(60)
    ]
    # broader alphabet: batches actually pack several disjoint pairs
    wide = [
        ("".join(rng.choice("abcdefgh ") for _ in range(rng.randint(5, 40))),)
        for _ in range(80)
    ]
    for docs in (rich, wide):
        df = spark.createDataFrame(docs, "text string")
        base = train_bpe_merges(df, "text", 6, min_freq=2)
        for k in (2, 3, 6):
            st: dict = {}
            got = train_bpe_merges(
                df, "text", 6, min_freq=2, recount_every=k, stats=st
            )
            assert got == base, (docs is rich, k)
            assert st["count_rounds"] <= 6
    # the wide corpus must actually have saved scans at k=6
    st6: dict = {}
    df = spark.createDataFrame(wide, "text string")
    train_bpe_merges(df, "text", 6, min_freq=2, recount_every=6, stats=st6)
    st1: dict = {}
    train_bpe_merges(df, "text", 6, min_freq=2, recount_every=1, stats=st1)
    assert st1["count_rounds"] == 6
    assert st6["count_rounds"] < st1["count_rounds"]


def test_bpe_batched_min_freq_and_validation(spark):
    df = spark.createDataFrame([("xy",)], "text string")
    assert train_bpe_merges(df, "text", 5, min_freq=2, recount_every=4) == []
    with pytest.raises(ValueError, match="recount_every"):
        train_bpe_merges(df, "text", 2, recount_every=0)


def test_bpe_pair_counts_index_by_codepoint(spark):
    """The array-windowed pair counter (split + element_at) must see
    the exact pair multiset the positional substring form defines —
    including supplementary-plane chars (surrogate pairs stay one
    symbol), PUA markers, diacritics and whitespace."""
    from pyspark.sql import functions as F

    from news_lakehouse_spark.operators.bpe import _adjacent_pairs

    rows = [
        ("ab",), ("a",), ("",), ("abc\U0001F600def",),
        ("\U0001F600\U0001F600",), ("a\U0001F600",),
        ("x",), ("xăâđy",), ("a b  c",),
        ("tab\tnl\n",), ("\U0001D518\U0001D52B\U0001D526",),
    ]
    d = spark.createDataFrame(rows, "t string")
    got = {
        (r["pair"], r["freq"])
        for r in _adjacent_pairs(d).collect()
    }
    ref = (
        d.filter(F.length("t") >= 2)
        .select(
            F.explode(F.expr("sequence(1, length(t) - 1)")).alias("i"), "t"
        )
        .select(F.expr("substring(t, i, 2)").alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("freq"))
    )
    want = {(r["pair"], r["freq"]) for r in ref.collect()}
    assert got == want
