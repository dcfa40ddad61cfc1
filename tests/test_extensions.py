"""Extension operators: similarity, as-of, approx distinct, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_lakehouse_spark.operators.multimodal import (
    decode_audio,
    decode_image,
    extract_features,
    with_binary_payload,
)
from news_lakehouse_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
)
from news_lakehouse_spark.operators.windows import asof_last
from news_lakehouse_spark.sources.readers import read_table


def test_cosine_topk_exact_self_similarity(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    # duplicate vector 0 as id 9999 → it must be the top neighbor with cos≈1
    dup = q.select(F.lit(9999).cast("long").alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(dup)
    top = cosine_topk_bruteforce(corpus, q, k=1).collect()
    assert top[0]["neighbor_id"] == 9999
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-5


def test_cosine_topk_shuffled_fallback_matches_broadcast(spark, sf_dir):
    """Past max_broadcast_queries the pair-up must switch to the
    block-nested shuffle join (no broadcast of the query set) and
    return IDENTICAL results. Plan assert, no OOM reliance."""
    from news_lakehouse_spark.operators.similarity import hard_negative_mining

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    bcast = cosine_topk_bruteforce(emb, q, k=3)
    shuf = cosine_topk_bruteforce(
        emb, q, k=3, max_broadcast_queries=0, corpus_blocks=4
    )
    key = lambda df: {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in df.collect()
    }
    assert key(shuf) == key(bcast)
    # the shuffled plan joins on the corpus-block key, not a broadcast
    plan = shuf._jdf.queryExecution().analyzed().toString()
    assert "__cb" in plan
    bplan = bcast._jdf.queryExecution().analyzed().toString()
    assert "__cb" not in bplan
    # hard-negative mining takes the same fallback
    hshuf = hard_negative_mining(emb, q, k=3, max_broadcast_queries=0)
    hb = hard_negative_mining(emb, q, k=3)
    hkey = lambda df: {
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
    }
    assert hkey(hshuf) == hkey(hb)
    assert "__cb" in hshuf._jdf.queryExecution().analyzed().toString()


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    from news_lakehouse_spark.operators.similarity import ann_recall_at_k

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    approx = lsh_bucketed_topk(emb, q, k=5, planes=6, tables=32)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert a and all(p[0] != p[1] for p in a)
    # multi-table OR-amplification: recall must be real, not bucket luck
    recalls = ann_recall_at_k(approx, exact, k=5).collect()
    assert len(recalls) == 10
    assert sum(r["recall"] for r in recalls) / len(recalls) >= 0.5


def test_ann_recall_floor_drops_bad_queries(spark):
    rows_exact = [(1, n) for n in range(10)] + [(2, n) for n in range(10)]
    # query 1 finds 8/10; query 2 finds 1/10
    rows_approx = [(1, n) for n in range(8)] + [(2, 0)]
    from news_lakehouse_spark.operators.similarity import ann_recall_at_k

    exact = spark.createDataFrame(rows_exact, ["query_id", "neighbor_id"])
    approx = spark.createDataFrame(rows_approx, ["query_id", "neighbor_id"])
    all_rows = {
        (r["query_id"], r["n_hits"], r["recall"])
        for r in ann_recall_at_k(approx, exact, k=10).collect()
    }
    assert all_rows == {(1, 8, 0.8), (2, 1, 0.1)}
    floored = ann_recall_at_k(approx, exact, k=10, floor=0.5).collect()
    assert [(r["query_id"], r["recall"]) for r in floored] == [(1, 0.8)]


def test_asof_last(spark):
    rows = [
        (1, 1, "signup", 100),
        (2, 1, "purchase", 150),
        (3, 1, "signup", 200),
        (4, 1, "purchase", 250),
        (5, 2, "purchase", 50),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "t"]).withColumn(
        "ts", F.timestamp_seconds("t")
    )
    out = asof_last(
        df, ["user_id"], "ts", F.col("event_type") == "signup", F.col("ts"), "asof"
    ).filter(F.col("event_type") == "purchase")
    got = {r["event_id"]: r["asof"] for r in out.collect()}
    assert got[2].timestamp() == 100  # latest signup ≤ 150
    assert got[4].timestamp() == 200  # latest signup ≤ 250
    assert got[5] is None  # user 2 never signed up


def test_asof_last_non_monotone_value(spark):
    # The looked-up value DECREASES over time: latest-qualifying must win,
    # not the max (regression for the max(when(...)) formulation).
    rows = [
        (1, 1, "price", 100, 90.0),
        (2, 1, "price", 200, 50.0),  # latest price is LOWER
        (3, 1, "trade", 250, None),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "kind", "t", "px"]
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = asof_last(
        df, ["user_id"], "ts", F.col("kind") == "price", F.col("px"), "asof_px"
    ).filter(F.col("kind") == "trade")
    assert out.first()["asof_px"] == 50.0  # latest, not max(90.0)


def test_approx_distinct_error_bound(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("a"),
        F.countDistinct("l_partkey").alias("e"),
    ).first()
    assert abs(row["a"] - row["e"]) / row["e"] < 0.05


def test_multimodal_stub_contract(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").limit(20)
    feats = extract_features(with_binary_payload(d)).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["modality"] == "text"
        assert len(r["content_sha"]) == 64
        assert r["n_bytes"] > 0
    # codec stubs: fake codec is deterministic, real raises
    assert decode_image(b"abcdef", codec="fake") == (7, 7)
    with pytest.raises(NotImplementedError):
        decode_image(b"abcdef")
    with pytest.raises(NotImplementedError):
        decode_audio(b"abcdef")


def _pgm(width, height, raster: bytes) -> bytes:
    return b"P5\n# comment\n%d %d\n255\n" % (width, height) + raster


def _ppm(width, height, raster: bytes) -> bytes:
    return b"P6 %d %d 255\n" % (width, height) + raster


def _bmp24(width, height, rows_topdown: list[list[tuple]]) -> bytes:
    """Minimal uncompressed 24-bit BMP (bottom-up, rows padded to 4)."""
    import struct

    row_bytes = (width * 3 + 3) & ~3
    raster = b""
    for row in reversed(rows_topdown):  # bottom-up storage
        line = b"".join(bytes((b_, g, r)) for (r, g, b_) in row)  # BGR
        raster += line + b"\x00" * (row_bytes - len(line))
    header_size = 14 + 40
    total = header_size + len(raster)
    return (
        struct.pack("<2sIHHI", b"BM", total, 0, 0, header_size)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(raster), 2835, 2835, 0, 0)
        + raster
    )


def _wav(samples, rate=8000) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(struct.pack("<h", int(s * 32767)) for s in samples)
        )
    return buf.getvalue()


def test_decode_image_real_formats():
    import numpy as np

    img = decode_image(_pgm(3, 2, bytes([10, 20, 30, 40, 50, 60])))
    assert img.shape == (2, 3, 1)
    assert img[0, 0, 0] == 10 and img[1, 2, 0] == 60
    rgb = decode_image(_ppm(2, 1, bytes([255, 0, 0, 0, 255, 0])))
    assert rgb.shape == (1, 2, 3)
    assert tuple(rgb[0, 0]) == (255, 0, 0) and tuple(rgb[0, 1]) == (0, 255, 0)
    bmp = decode_image(_bmp24(2, 2, [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (9, 9, 9)],
    ]))
    assert bmp.shape == (2, 2, 3)
    assert tuple(bmp[0, 0]) == (255, 0, 0)   # top-left survives flip
    assert tuple(bmp[1, 1]) == (9, 9, 9)
    assert isinstance(img, np.ndarray)


def test_decode_audio_real_wav():
    import math

    import numpy as np

    rate = 8000
    sine = [0.5 * math.sin(2 * math.pi * 440 * t / rate) for t in range(rate)]
    samples, got_rate = decode_audio(_wav(sine, rate))
    assert got_rate == rate
    assert samples.shape == (rate, 1)
    rms = float(np.sqrt((samples**2).mean()))
    assert abs(rms - 0.5 / math.sqrt(2)) < 0.01  # sine RMS = A/sqrt(2)


def test_resize_images_real_codec(spark):
    from news_lakehouse_spark.operators.multimodal import resize_images

    # 4x4 gray gradient in quadrant blocks → 2x2 nearest = block values
    raster = bytes(
        [10, 10, 200, 200,
         10, 10, 200, 200,
         90, 90, 250, 250,
         90, 90, 250, 250]
    )
    df = spark.createDataFrame(
        [(1, bytearray(_pgm(4, 4, raster)))], "doc_id long, payload binary"
    )
    out = resize_images(df, height=2, width=2, codec="auto").collect()[0]
    assert bytes(out["pixels"]) == bytes([10, 200, 90, 250])


def test_describe_media_mixed_corpus(spark):
    from news_lakehouse_spark.operators.multimodal import describe_media

    rows = [
        (1, bytearray(_pgm(3, 2, bytes(6)))),
        (2, bytearray(_wav([0.0] * 4000, 8000))),
        (3, bytearray(b"not media at all")),
        (4, bytearray(b"P5 trunca")),  # corrupt header
        (5, None),  # NULL payload must classify, never crash the worker
        # PNG: magic + IHDR (640x480, color type 6 = RGBA)
        (6, bytearray(
            bytes.fromhex("89504E470D0A1A0A0000000D49484452")
            + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
            + bytes.fromhex("080600000000000000")
        )),
        # JPEG: SOI + APP0 stub + SOF2 (progressive), 123x45, 3 comps
        (7, bytearray(
            bytes.fromhex("FFD8FFE00004AABB")
            + bytes.fromhex("FFC2001108")
            + (45).to_bytes(2, "big") + (123).to_bytes(2, "big")
            + bytes.fromhex("03010100020101030101")
        )),
        (8, bytearray(b"\x89PNG\r\n\x1a\x08bad")),   # corrupt PNG magic tail
        (9, bytearray(b"\xff\xd8\xff\xc4\x00\x04AB\xff\xda")),  # no SOF
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in describe_media(df).collect()}
    assert got[1]["media_kind"] == "image"
    assert (got[1]["height"], got[1]["width"], got[1]["channels"]) == (2, 3, 1)
    assert got[2]["media_kind"] == "audio"
    assert got[2]["sample_rate"] == 8000
    assert abs(got[2]["duration_s"] - 0.5) < 1e-9
    assert got[2]["rms"] == 0.0
    assert got[3]["media_kind"] == "unknown"
    assert got[4]["media_kind"] == "corrupt"
    assert got[5]["media_kind"] == "unknown"
    assert got[5]["height"] is None and got[5]["rms"] is None
    assert (got[1]["format"], got[2]["format"]) == ("netpbm", "wav")
    # header-only dims for compressed formats — no codec needed
    assert got[6]["media_kind"] == "image" and got[6]["format"] == "png"
    assert (got[6]["height"], got[6]["width"], got[6]["channels"]) == (480, 640, 4)
    assert got[7]["media_kind"] == "image" and got[7]["format"] == "jpeg"
    assert (got[7]["height"], got[7]["width"], got[7]["channels"]) == (45, 123, 3)
    # corrupt headers classify, never throw
    assert got[8]["media_kind"] == "unknown"  # magic doesn't match PNG
    assert got[9]["media_kind"] == "corrupt"  # JPEG magic, no SOF


def test_resize_and_frames_tolerate_null_payload(spark):
    from news_lakehouse_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, None), (2, bytearray(b"abcdef"))], "doc_id long, payload binary"
    )
    resized = {r["doc_id"]: r for r in resize_images(df, 2, 2).collect()}
    assert len(bytes(resized[1]["pixels"])) == 4  # NULL → zero-byte fill
    frames = sample_frames(df, n_frames=2).collect()
    assert {(r["doc_id"], r["frame_idx"]) for r in frames} == {
        (1, 0), (1, 1), (2, 0), (2, 1),
    }


# --- range join / skew / embedding near-dup -------------------------------


def test_range_join_matches_naive(spark, sf_dir):
    from news_lakehouse_spark.operators.rangejoin import range_join_bucketed

    e = read_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"),
        F.col("ts").alias("s_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_end"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(F.col("ts").alias("p_ts"))
    fast = range_join_bucketed(p, s, "p_ts", "s_ts", "s_end", 1800)
    naive = p.join(s, (F.col("p_ts") >= F.col("s_ts")) & (F.col("p_ts") < F.col("s_end")))
    key = lambda r: (r["sid"], r["p_ts"])
    assert sorted(map(key, fast.collect())) == sorted(map(key, naive.collect()))


def test_range_join_exclusive_end_on_bucket_boundary(spark):
    from news_lakehouse_spark.operators.rangejoin import range_join_bucketed

    # range [10:00, 10:30) with bucket width 1800s: a point at exactly
    # 10:30 sits in the next bucket AND is excluded by the predicate;
    # a point at exactly 10:00 is included.
    s = spark.createDataFrame(
        [("r1", "2024-01-01 10:00:00", "2024-01-01 10:30:00")],
        "rid string, s_ts string, s_end string",
    ).select("rid", F.col("s_ts").cast("timestamp"), F.col("s_end").cast("timestamp"))
    p = spark.createDataFrame(
        [("p0", "2024-01-01 10:00:00"), ("p1", "2024-01-01 10:29:59"), ("p2", "2024-01-01 10:30:00")],
        "pid string, p_ts string",
    ).select("pid", F.col("p_ts").cast("timestamp"))
    got = {r["pid"] for r in range_join_bucketed(p, s, "p_ts", "s_ts", "s_end", 1800).collect()}
    assert got == {"p0", "p1"}


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from news_lakehouse_spark.operators.skew import salted_aggregate

    li = read_table(spark, sf_dir, "lineitem")
    salted = {
        r["l_returnflag"]: (r["n_rows"], round(r["sum_l_quantity"], 2))
        for r in salted_aggregate(li, ["l_returnflag"], sums=["l_quantity"]).collect()
    }
    plain = {
        r["l_returnflag"]: (r["n"], round(r["s"], 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    from news_lakehouse_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    salted_n = salted_join(li, o, ["o_orderkey"], salt=4).count()
    plain_n = li.join(o, "o_orderkey").count()
    assert salted_n == plain_n


def test_embedding_near_dup_finds_planted_duplicate(spark, sf_dir):
    from news_lakehouse_spark.operators.similarity import embedding_near_duplicates

    emb = read_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") == 3).select(
        F.lit(100003).cast("long").alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_duplicates(
        emb.unionByName(dup), threshold=0.999, blocks=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 100003)}
    assert all(abs(r["cos_sim"] - 1.0) < 1e-6 for r in pairs)


def test_embedding_near_dup_cross_block_order(spark):
    from news_lakehouse_spark.operators.similarity import embedding_near_duplicates

    # ids chosen so the higher id hashes to the *lower* block for some
    # (id, block) combination — pairs must still come out (min, max)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(df, threshold=0.99, blocks=3).collect()
    assert len(pairs) == 12 * 11 // 2
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    from news_lakehouse_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    # probing every cell degrades IVF to exact search
    ivf = ivf_topk(emb, q, k=5, n_centroids=8, n_probe=8, iters=1)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf.collect()
    }
    assert got == exact


def test_resize_images_shape_and_determinism(spark, sf_dir):
    from news_lakehouse_spark.operators.multimodal import resize_images

    d = read_table(spark, sf_dir, "documents").limit(20)
    payloads = with_binary_payload(d)
    out = resize_images(payloads, height=4, width=4).collect()
    assert len(out) == 20
    assert all(len(r["pixels"]) == 16 for r in out)
    again = resize_images(payloads, height=4, width=4).collect()
    assert {r["doc_id"]: bytes(r["pixels"]) for r in out} == {
        r["doc_id"]: bytes(r["pixels"]) for r in again
    }


def test_resize_real_codec_raises(spark, sf_dir):
    from py4j.protocol import Py4JJavaError
    from news_lakehouse_spark.operators.multimodal import resize_images

    d = read_table(spark, sf_dir, "documents").limit(1)
    with pytest.raises(Exception) as e:
        resize_images(with_binary_payload(d), codec="real").collect()
    assert "NotImplementedError" in str(e.value) or isinstance(
        e.value, NotImplementedError
    )


def test_sample_frames_cardinality(spark, sf_dir):
    from news_lakehouse_spark.operators.multimodal import sample_frames

    d = read_table(spark, sf_dir, "documents").limit(10)
    out = sample_frames(with_binary_payload(d), n_frames=3).collect()
    assert len(out) == 30
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2] for v in per_doc.values())


def test_read_binary_dir(spark):
    import os

    from news_lakehouse_spark.sources.readers import read_binary_dir

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures", "binary")
    df = read_binary_dir(spark, fixdir, glob="doc*.*")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 6
    by_name = {os.path.basename(r["path"]): r for r in rows}
    # length metadata agrees with actual payload bytes
    assert all(len(r["content"]) == r["length"] for r in rows)
    with open(os.path.join(fixdir, "doc000.img"), "rb") as f:
        assert bytes(by_name["doc000.img"]["content"]) == f.read()
    # max_bytes filters on file-status length before content is read
    small = read_binary_dir(spark, fixdir, glob="doc*.*", max_bytes=300)
    assert small.count() == sum(1 for r in rows if r["length"] <= 300)
    assert "length" in small._jdf.queryExecution().optimizedPlan().toString()


def test_chunk_documents_cover_and_overlap(spark):
    from news_lakehouse_spark.operators.textmetrics import chunk_documents

    words120 = " ".join(f"w{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, words120), (2, "short doc only"), (3, "   ")], ["doc_id", "text"]
    )
    out = chunk_documents(df, "doc_id", "text", chunk_size=64, overlap=16)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"]) for r in out.collect())
    )
    by_doc = {}
    for d, i, n, t in rows:
        by_doc.setdefault(d, []).append((i, n, t))
    # doc 1: 120 words, stride 48 -> starts 0, 48, 96
    assert [(i, n) for i, n, _ in by_doc[1]] == [(0, 64), (1, 64), (2, 24)]
    # overlap: chunk k starts 48 words in, so last 16 of chunk 0 == first 16 of chunk 1
    c0, c1 = by_doc[1][0][2].split(), by_doc[1][1][2].split()
    assert c0[48:] == c1[:16]
    # full coverage, in order
    merged = c0 + c1[16:] + by_doc[1][2][2].split()[16:]
    assert merged == words120.split()
    # short doc -> one chunk; blank doc -> no chunks
    assert by_doc[2] == [(0, 3, "short doc only")]
    assert 3 not in by_doc


def test_char_lm_scores_garbled_text_lower(spark):
    from news_lakehouse_spark.operators.textmetrics import char_trigram_logprob

    normal = [
        (i, "the quick brown fox jumps over the lazy dog near the river bank")
        for i in range(1, 21)
    ]
    garbled = [(99, "zq xv jk qz wx kj zx vq xz qk jw vz")]
    df = spark.createDataFrame(normal + garbled, ["doc_id", "text"])
    scores = {
        r["doc_id"]: r["avg_logprob"]
        for r in char_trigram_logprob(df, "doc_id", "text").collect()
    }
    typical = sum(scores[i] for i in range(1, 21)) / 20
    assert scores[99] < typical - 1.0  # clearly off-distribution


def test_pack_sequences_invariants(spark):
    from news_lakehouse_spark.operators.packing import pack_sequences

    rows = [(i, 100 + (i * 37) % 800) for i in range(200)] + [(999, 5000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    packs = pack_sequences(df, "doc_id", "n_tok", budget=1024, num_partitions=4).collect()
    lens = dict(rows)
    seen = []
    for p in packs:
        ids = list(p["doc_ids"])
        seen.extend(ids)
        assert p["n_docs"] == len(ids)
        assert p["total_tokens"] == sum(lens[i] for i in ids)
        # budget respected except oversize singletons
        if len(ids) > 1:
            assert p["total_tokens"] <= 1024
    assert sorted(seen) == sorted(lens)  # every doc exactly once
    assert [p["doc_ids"] for p in packs if 999 in p["doc_ids"]] == [[999]]
    # fill efficiency: FFD on ~uniform lengths should beat 70%
    multi = [p for p in packs if p["n_docs"] > 1]
    fill = sum(p["total_tokens"] for p in multi) / (1024 * len(multi))
    assert fill > 0.7
    # determinism for fixed partitioning
    again = pack_sequences(df, "doc_id", "n_tok", budget=1024, num_partitions=4).collect()
    assert sorted(map(str, again)) == sorted(map(str, packs))


def test_remove_boilerplate_drops_repeated_paragraphs(spark):
    from news_lakehouse_spark.operators.textmetrics import remove_boilerplate

    bp = "cookie banner accept all terms"  # 5 words → one window-5 segment
    docs = spark.createDataFrame(
        [
            (1, f"{bp} alpha beta gamma delta eps"),
            (2, f"{bp} zeta eta theta iota kappa"),
            (3, f"{bp} lam mu nu xi omicron"),
            (4, "unique words only here today now nothing shared"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            docs, "doc_id", "text", window=5, max_df=3
        ).collect()
    }
    # every input doc survives, including the empty one
    assert set(out) == {1, 2, 3, 4, 5}
    # the shared segment (df=3) is dropped from all three docs...
    for d in (1, 2, 3):
        assert out[d]["n_removed"] == 1
        assert bp not in out[d]["clean_text"]
    # ...the unique tails survive in order
    assert out[1]["clean_text"] == "alpha beta gamma delta eps"
    # unique doc untouched
    assert out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == "unique words only here today now nothing shared"
    # empty doc → zero segments, empty text
    assert out[5]["n_segments"] == 0 and out[5]["clean_text"] == ""


def test_zorder_repartition_disjoint_file_ranges(spark, sf_dir, tmp_path):
    from news_lakehouse_spark.operators.layout import morton_key, zorder_repartition

    o = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    out = zorder_repartition(
        o.select("o_orderkey", "o_custkey", day.alias("day")),
        [F.col("o_custkey"), F.col("day")],
        num_partitions=8,
    )
    dest = str(tmp_path / "zorders")
    out.write.parquet(dest)
    back = spark.read.parquet(dest)
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("__zorder").alias("lo"), F.max("__zorder").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    assert len(spans) > 1
    # range partitioning ⇒ file key-ranges never overlap
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_morton_key_interleaves_bits(spark):
    from news_lakehouse_spark.operators.layout import morton_key

    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3)], "x int, y int")
    got = [
        r["z"]
        for r in df.select(morton_key(["x", "y"], bits=4).alias("z"))
        .orderBy("z")
        .collect()
    ]
    # x occupies even bit positions, y odd: (1,0)→1, (0,1)→2, (3,3)→15
    assert got == [1, 2, 15]


def test_dsir_weights_favor_target_language(spark):
    from news_lakehouse_spark.operators.importance import dsir_importance_weights

    sf_dir = "/root/testdata/sf0.001"
    d = read_table(spark, sf_dir, "documents")
    w = dsir_importance_weights(
        d, "doc_id", "text", is_target=F.col("lang") == "en", num_buckets=4096
    )
    joined = w.join(d.select("doc_id", "lang"), "doc_id")
    stats = {
        r["lang"]: r["avg_w"]
        for r in joined.groupBy("lang").agg(F.avg("logweight").alias("avg_w")).collect()
    }
    # the likelihood-ratio model must rank target-language docs above
    # every non-target language on average
    assert all(stats["en"] > v for k, v in stats.items() if k != "en")
    # every doc scored exactly once
    assert w.count() == d.count()
    assert w.filter(F.col("selected").isin(0, 1)).count() == d.count()


def test_mixture_sample_hits_target_proportions(spark):
    from news_lakehouse_spark.operators.sampling import mixture_sample

    sf_dir = "/root/testdata/sf0.001"
    d = read_table(spark, sf_dir, "documents")
    weights = {f"src{i}": 3.0 if i % 2 == 0 else 1.0 for i in range(20)}
    out = mixture_sample(d, "source", weights, key_cols=["doc_id"])
    kept = (
        out.filter(F.col("kept") == 1)
        .groupBy("source")
        .count()
        .collect()
    )
    by_src = {r["source"]: r["count"] for r in kept}
    evens = [by_src[f"src{i}"] for i in range(0, 20, 2)]
    odds = [by_src[f"src{i}"] for i in range(1, 20, 2)]
    # exact 3:1 mixture up to the floor: every even stratum keeps the
    # same count, every odd stratum the same count, ratio ~3
    assert len(set(evens)) == 1 and len(set(odds)) == 1
    assert abs(evens[0] / odds[0] - 3.0) < 0.35  # floor() granularity
    # no upsampling: kept never exceeds stratum size
    sizes = {r["source"]: r["count"] for r in d.groupBy("source").count().collect()}
    assert all(by_src[s] <= sizes[s] for s in by_src)
    # determinism: second run marks the identical set
    again = mixture_sample(d, "source", weights, key_cols=["doc_id"])
    assert (
        out.filter("kept = 1")
        .select("doc_id")
        .exceptAll(again.filter("kept = 1").select("doc_id"))
        .count()
        == 0
    )


def test_mixture_sample_cutoff_equals_rank(spark):
    # The scale-safe boundary-band plan must mark the IDENTICAL row
    # set as the full per-stratum row_number definition.
    from news_lakehouse_spark.operators.sampling import mixture_sample

    sf_dir = "/root/testdata/sf0.001"
    d = read_table(spark, sf_dir, "documents")
    weights = {f"src{i}": 3.0 if i % 2 == 0 else 1.0 for i in range(20)}
    rank = mixture_sample(
        d, "source", weights, key_cols=["doc_id"], method="rank"
    ).select("doc_id", "kept")
    cutoff = mixture_sample(
        d, "source", weights, key_cols=["doc_id"], method="cutoff"
    ).select("doc_id", "kept")
    assert rank.exceptAll(cutoff).count() == 0
    assert cutoff.exceptAll(rank).count() == 0
    # the cutoff plan must not sort whole strata: no window spec
    # partitioned solely by the stratum column over the full table —
    # the only row_number in the plan runs on the filtered band
    plan = cutoff._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan  # band threshold selection exists


def test_mixture_sample_auto_picks_rank_for_small_strata(spark):
    from news_lakehouse_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(60)], ["doc_id", "src"]
    )
    auto = mixture_sample(
        df, "src", {"a": 1.0, "b": 1.0}, key_cols=["doc_id"], method="auto"
    )
    rank = mixture_sample(
        df, "src", {"a": 1.0, "b": 1.0}, key_cols=["doc_id"], method="rank"
    )
    a = sorted((r["doc_id"], r["kept"]) for r in auto.collect())
    b = sorted((r["doc_id"], r["kept"]) for r in rank.collect())
    assert a == b


def test_corpus_pipeline_funnel_verdicts(spark):
    from news_lakehouse_spark.operators.pipeline import corpus_pipeline

    good = "the quick brown fox jumps over a lazy dog near the old stone bridge"
    rows = [
        (1, good),                             # kept
        (2, good.upper()),                     # normalized dup of 1
        (3, good + " slow"),                   # blocklisted
        (4, "tiny doc"),                       # too_short
        (5, good + " extra tail words here"),  # kept, distinct content
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in corpus_pipeline(df, "doc_id", "text", ["slow"]).collect()
    }
    assert out[1]["final_kept"] == 1 and out[1]["is_dup"] == 0
    assert out[2]["is_dup"] == 1 and out[2]["final_kept"] == 0
    assert out[3]["blocked"] == 1 and out[3]["final_kept"] == 0
    assert out[4]["drop_reason"] == "too_short"
    assert out[5]["final_kept"] == 1
    # a blocked doc must not claim the survivor slot: doc 2 is the dup,
    # not doc 3, even though 3 shares no fingerprint with anyone
    assert out[3]["is_dup"] == 0


def test_cms_sketch_merges_cellwise_and_never_underestimates(spark):
    from news_lakehouse_spark.operators.sketches import cms_estimate, count_min_sketch

    words_a = ["join"] * 30 + ["hash"] * 5 + ["scan"]
    words_b = ["join"] * 10 + ["merge"] * 7
    a = spark.createDataFrame([(w,) for w in words_a], ["tok"])
    b = spark.createDataFrame([(w,) for w in words_b], ["tok"])
    sk_a = count_min_sketch(a, "tok", width=64, depth=3)
    sk_b = count_min_sketch(b, "tok", width=64, depth=3)
    sk_union = count_min_sketch(a.union(b), "tok", width=64, depth=3)
    # mergeability: sketch(A ∪ B) == cell-wise sum of the two grids
    summed = (
        sk_a.withColumnRenamed("cnt", "ca")
        .join(sk_b.withColumnRenamed("cnt", "cb"), ["row", "bucket"], "full")
        .select(
            "row",
            "bucket",
            (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0))).alias("cnt"),
        )
    )
    assert summed.exceptAll(sk_union).count() == 0
    assert sk_union.exceptAll(summed).count() == 0
    # one-sided error: estimates never fall below the true counts
    probes = spark.createDataFrame(
        [("join",), ("hash",), ("merge",), ("absent",)], ["token"]
    )
    est = {
        r["token"]: r["est"]
        for r in cms_estimate(sk_union, probes, "token", width=64, depth=3).collect()
    }
    truth = {"join": 40, "hash": 5, "merge": 7, "absent": 0}
    for t, n in truth.items():
        assert est[t] >= n


def test_funnel_and_dsir_lazy_plan_construction(spark):
    """materialize=False must build the full plan without running any
    Spark jobs (plan-only consumers: .explain(), audits)."""
    from news_lakehouse_spark.operators.funnel import funnel_conversion
    from news_lakehouse_spark.operators.importance import dsir_importance_weights

    sc = spark.sparkContext
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    f = funnel_conversion(ev, ["view", "click", "purchase"], materialize=False)
    d = dsir_importance_weights(
        docs, "doc_id", "text", is_target=F.col("lang") == "en", materialize=False
    )
    f.explain()
    d.explain()
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lazy plan construction ran Spark jobs"
    # and the lazy funnel still computes the same step counts
    eager = funnel_conversion(ev, ["view", "click", "purchase"])
    a = sorted((r["step"], r["n_users"]) for r in f.collect())
    b = sorted((r["step"], r["n_users"]) for r in eager.collect())
    assert a == b


def test_temperature_weights_flatten_mixture(spark):
    from news_lakehouse_spark.operators.sampling import temperature_weights

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = {r["src"]: r for r in temperature_weights(df, "src", tau=0.5).collect()}
    assert out["big"]["n_rows"] == 90 and out["small"]["n_rows"] == 10
    # shares sum to 1, tau<1 lifts the tail and shrinks the head
    assert abs(out["big"]["p_tau"] + out["small"]["p_tau"] - 1.0) < 1e-5
    assert out["small"]["p_tau"] > out["small"]["p_raw"]
    assert out["big"]["p_tau"] < out["big"]["p_raw"]
    assert out["small"]["up_factor"] > 1.0 > out["big"]["up_factor"]
    # tau=1 is proportional sampling: up_factor == 1 everywhere
    flat = temperature_weights(df, "src", tau=1.0).collect()
    assert all(abs(r["up_factor"] - 1.0) < 1e-6 for r in flat)


def test_semantic_dedup_drops_planted_twin(spark):
    import random

    from news_lakehouse_spark.operators.similarity import semantic_dedup

    rng = random.Random(3)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [(0, base), (1, [x * 1.001 for x in base])]  # near-identical twin
    for i in range(2, 40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, "vec_id", "embedding", dim=dim, planes=3, threshold=0.95
    ).collect()}
    assert len(out) == 40                       # verdict for every row
    assert out[0]["kept"] == 1                  # min-id survivor
    assert out[1]["kept"] == 0                  # twin dropped
    assert out[0]["bucket"] == out[1]["bucket"]  # same sign-bit cell


def test_semantic_dedup_auto_planes_grow_with_corpus():
    """planes='auto' must grow with corpus size so expected bucket rows
    stay constant — the fixed-planes default was the r3 scale gap."""
    from news_lakehouse_spark.operators.similarity import _auto_planes

    assert _auto_planes(1_000, 4096) == 1
    assert _auto_planes(4096 * 64, 4096) == 6
    assert _auto_planes(10_000_000_000, 4096) == 22
    assert _auto_planes(10**15, 4096) == 24  # clamped


def test_semantic_dedup_degenerate_bucket_capped(spark):
    """A single-direction corpus collapses into one bucket no plane
    count can split; the max_bucket_size guard must keep the pairwise
    join out of that bucket (rows pass through kept=1) instead of
    going quadratic."""
    from news_lakehouse_spark.operators.similarity import semantic_dedup

    dim = 8
    base = [1.0] * dim
    rows = [(i, [x * (1 + i * 1e-6) for x in base]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(
        df, "vec_id", "embedding", dim=dim, planes=3, threshold=0.9,
        max_bucket_size=10,
    ).collect()
    assert len(out) == 30
    assert all(r["kept"] == 1 for r in out)  # capped bucket: no drops
    # same corpus without the cap: twins are dropped (sanity that the
    # cap, not the threshold, produced the pass-through above)
    out2 = semantic_dedup(
        df, "vec_id", "embedding", dim=dim, planes=3, threshold=0.9,
        max_bucket_size=None,
    ).collect()
    assert sum(r["kept"] for r in out2) == 1


def test_vocab_coverage_ranks_and_cumulative_share(spark):
    from news_lakehouse_spark.operators.textmetrics import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b c d")], ["doc_id", "text"]
    )
    out = vocab_coverage(df, "text", top_k=3).collect()
    assert [(r["rank"], r["word"], r["n"]) for r in out] == [
        (1, "a", 4), (2, "b", 3), (3, "c", 2),
    ]
    assert abs(out[0]["share"] - 0.4) < 1e-6          # 4/10
    assert abs(out[-1]["cum_share"] - 0.9) < 1e-6     # (4+3+2)/10
    # cumulative share is monotone non-decreasing
    cums = [r["cum_share"] for r in out]
    assert cums == sorted(cums)


def test_knn_classify_planted_clusters(spark):
    from news_lakehouse_spark.operators.similarity import knn_classify

    import random

    rng = random.Random(7)
    dim = 8
    # two well-separated label clusters + 2 queries near each center
    center_a = [5.0] + [0.0] * (dim - 1)
    center_b = [0.0] * (dim - 1) + [5.0]
    rows = []
    for i in range(10):
        rows.append((i, [c + rng.gauss(0, 0.1) for c in center_a], "A"))
    for i in range(10, 20):
        rows.append((i, [c + rng.gauss(0, 0.1) for c in center_b], "B"))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    queries = spark.createDataFrame(
        [(100, center_a), (101, center_b)],
        "vec_id long, embedding array<float>",
    )
    out = {r["query_id"]: r for r in knn_classify(corpus, queries, k=5).collect()}
    assert out[100]["predicted_label"] == "A" and out[100]["votes"] == 5
    assert out[101]["predicted_label"] == "B" and out[101]["votes"] == 5
    assert out[100]["best_rank"] == 1


def test_knn_classify_tie_breaks_by_best_rank_then_label(spark):
    from news_lakehouse_spark.operators.similarity import knn_classify

    # 2-NN with one neighbor of each label: vote tie → closest wins
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "Z"),   # cos=1.0 with query → rank 1
            (2, [1.0, 0.5], "A"),   # lower cos → rank 2
            (3, [0.0, 1.0], "C"),   # outside k
        ],
        "vec_id long, embedding array<float>, label string",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = knn_classify(corpus, queries, k=2).collect()
    assert len(out) == 1
    # Z holds rank 1 despite losing the label sort — best_rank beats label
    assert out[0]["predicted_label"] == "Z"
    assert out[0]["votes"] == 1 and out[0]["best_rank"] == 1


def test_dedup_survivors_by_keeps_best_then_min_id(spark):
    from news_lakehouse_spark.operators.dedupe import dedup_survivors_by

    df = spark.createDataFrame(
        [
            (1, 100), (2, 300), (3, 300),   # cluster {1,2,3}: best=300, tie → id 2
            (4, 50), (5, 40),               # cluster {4,5}: best → id 4
            (9, 10),                        # in no pair: survives untouched
        ],
        "doc_id long, n_chars int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors_by(df, pairs, "doc_id", "n_chars").collect()
    )
    assert kept == [2, 4, 9]


def test_quantize_embeddings_roundtrip_bounds(spark):
    """Quantized values stay in [-127, 127], the max-|v| element maps to
    ±127 exactly, dequantization error is bounded by scale/2 per dim,
    and a zero vector quantizes to zeros with scale 0."""
    from news_lakehouse_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.001, 0.002, -0.003, 0.004]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: (r["qvec"], r["scale"])
           for r in quantize_embeddings(df, "vec_id", "embedding").collect()}
    qv1, s1 = got[1]
    assert s1 == 1.0 / 127.0
    assert qv1 == [64, -127, 32, 0]  # round(0.5*127)=64 (63.5 rounds up)
    for vec_id, (qv, s) in got.items():
        assert all(-127 <= q <= 127 for q in qv)
        orig = dict(rows)[vec_id]
        assert all(abs(q * s - v) <= s / 2 + 1e-12 for q, v in zip(qv, orig))
    assert got[3] == ([0, 0, 0, 0], 0.0)


def test_hll_daily_rollup_merge_lossless(spark):
    """Union of per-day sketches gives the same estimate as one sketch
    over everything, and small cardinalities estimate exactly."""
    from news_lakehouse_spark.operators.sketches import hll_daily_rollup
    from pyspark.sql import functions as F

    rows = [
        ("click", "2024-01-01", u) for u in range(20)
    ] + [
        ("click", "2024-01-02", u) for u in range(10, 30)  # overlap 10-19
    ] + [
        ("view", "2024-01-01", u) for u in range(5)
    ]
    df = spark.createDataFrame(rows, ["event_type", "day", "user_id"])
    got = {r["event_type"]: r["est_distinct"]
           for r in hll_daily_rollup(df, "event_type", "day", "user_id").collect()}
    # HLL is exact at these cardinalities (sparse mode)
    assert got == {"click": 30, "view": 5}
    direct = {
        r["event_type"]: r["d"]
        for r in df.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d"))
        .collect()
    }
    assert got == direct


def test_kll_daily_rollup_quantiles(spark):
    """Merged per-day KLL sketches recover exact quantiles on a small
    series (sketch stores every value below k=200), and the single-day
    fold path (no merge) agrees with a direct sketch."""
    from news_lakehouse_spark.operators.sketches import kll_daily_rollup
    from pyspark.sql import functions as F

    rows = [("a", "2024-01-01", float(v)) for v in range(1, 51)] + [
        ("a", "2024-01-02", float(v)) for v in range(51, 101)
    ] + [("b", "2024-01-01", float(v)) for v in range(1, 11)]
    df = spark.createDataFrame(rows, ["grp", "day", "value"])
    got = {
        r["grp"]: (r["p50"], r["p95"])
        for r in kll_daily_rollup(df, "grp", "day", "value").collect()
    }
    # KLL returns a retained item whose rank is within eps of the ask;
    # below k it retains everything, so the answer is a real data point
    # with exact rank up to the inclusive/exclusive rank convention.
    assert got["a"][0] in (50.0, 51.0)
    assert got["a"][1] in (95.0, 96.0)
    assert got["b"][0] in (5.0, 6.0)
    # single-day group 'b' exercises the fold's empty-slice branch
    direct = df.filter("grp = 'b'").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("value"), F.lit(0.5)
        ).alias("q")
    ).collect()[0]["q"]
    assert got["b"][0] == direct


def test_key_skew_stats_ratios(spark):
    """A planted hot key dominates the profile with the right share and
    skew ratio; ties rank deterministically by key."""
    from news_lakehouse_spark.operators.skew import key_skew_stats

    rows = [("hot",)] * 60 + [("warm",)] * 20 + [("a",)] * 10 + [("b",)] * 10
    df = spark.createDataFrame(rows, ["k"])
    got = [
        (r["k"], r["rank"], r["cnt"], r["share"], r["skew_vs_mean"])
        for r in key_skew_stats(df, ["k"], top_n=3).collect()
    ]
    # 100 rows, 4 keys -> mean 25/key
    assert got == [
        ("hot", 1, 60, 0.6, 2.4),
        ("warm", 2, 20, 0.2, 0.8),
        ("a", 3, 10, 0.1, 0.4),  # tie with b broken by key asc
    ]


def test_reservoir_sample_exact_k_and_plan_equivalence(spark):
    """Both physical plans yield the identical min(k, n_g)-per-group
    set, and growing one group never perturbs another group's sample."""
    from news_lakehouse_spark.operators.sampling import reservoir_sample_per_group

    rows = [(i, "big") for i in range(200)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, ["id", "g"])
    rank = {(r["id"], r["g"]) for r in reservoir_sample_per_group(
        df, "g", 10, ["id"], method="rank").collect()}
    cut = {(r["id"], r["g"]) for r in reservoir_sample_per_group(
        df, "g", 10, ["id"], method="cutoff").collect()}
    assert rank == cut
    assert sum(1 for _, g in rank if g == "big") == 10
    assert sum(1 for _, g in rank if g == "small") == 3
    # stability: doubling the big group leaves the small group's sample alone
    grown = df.union(spark.createDataFrame(
        [(2000 + i, "big") for i in range(200)], ["id", "g"]))
    g2 = {(r["id"], r["g"]) for r in reservoir_sample_per_group(
        grown, "g", 10, ["id"], method="cutoff").collect()}
    assert {(i, g) for i, g in g2 if g == "small"} == {(i, g) for i, g in rank if g == "small"}


def test_weighted_sample_rank_cutoff_equivalence(spark):
    """Both physical plans pick the identical weighted-without-
    replacement set; heavy rows dominate slots; non-positive/null
    weights are excluded; undersized groups return whole."""
    from news_lakehouse_spark.operators.sampling import weighted_sample_per_group

    rows = (
        [(i, "g", 1.0) for i in range(500)]
        + [(1000 + i, "g", 100.0) for i in range(500)]
        + [(2000, "g", None), (2001, "g", 0.0), (2002, "g", -3.0)]
        + [(3000 + i, "tiny", 5.0) for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["id", "grp", "w"])
    rank = {(r["grp"], r["id"]) for r in weighted_sample_per_group(
        df, "grp", 60, ["id"], "w", method="rank").collect()}
    cut = {(r["grp"], r["id"]) for r in weighted_sample_per_group(
        df, "grp", 60, ["id"], "w", method="cutoff").collect()}
    assert rank == cut
    assert sum(1 for g, _ in rank if g == "g") == 60
    # tiny group: min(k, n) = all 4 rows
    assert {(g, i) for g, i in rank if g == "tiny"} == {
        ("tiny", 3000 + i) for i in range(4)}
    # excluded weights never sampled
    assert not any(i in (2000, 2001, 2002) for _, i in rank)
    # E-S weighting: a 100x weight ratio should hand the heavy half
    # nearly every slot (P[light row beats heavy row] ~ 1/101)
    heavy = sum(1 for g, i in rank if g == "g" and i >= 1000)
    assert heavy >= 50


def test_weighted_sample_null_group_excluded_both_paths(spark):
    """NULL-group rows are excluded by contract (every join keys on the
    group); the explicit filter makes both physical paths agree."""
    from news_lakehouse_spark.operators.sampling import weighted_sample_per_group

    rows = [(i, "g", 1.0) for i in range(20)] + [(100, None, 9.0), (101, None, 9.0)]
    df = spark.createDataFrame(rows, ["id", "grp", "w"])
    for method in ("rank", "cutoff"):
        got = {r["id"] for r in weighted_sample_per_group(
            df, "grp", 5, ["id"], "w", method=method).collect()}
        assert len(got) == 5 and not got & {100, 101}, method


def test_weighted_sample_cutoff_nonstring_group_types(spark):
    """Cutoff-path group-key map is keyed by Spark's cast-to-string on
    BOTH sides; types whose Python rendering differs (bool 'True' vs
    'true', dates) must still resolve band bounds instead of
    NULL-ing them and tripping the bracketing assert."""
    import datetime as dt

    from news_lakehouse_spark.operators.sampling import weighted_sample_per_group

    rows = [(i, i % 2 == 0, dt.date(2024, 1, 1 + i % 2), 1.0 + i % 3)
            for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "bgrp", "dgrp", "w"])
    for grp in ("bgrp", "dgrp"):
        rank = {(r[grp], r["id"]) for r in weighted_sample_per_group(
            df, grp, 7, ["id"], "w", method="rank").collect()}
        cut = {(r[grp], r["id"]) for r in weighted_sample_per_group(
            df, grp, 7, ["id"], "w", method="cutoff").collect()}
        assert rank == cut and len(rank) == 14, grp


def test_exact_group_order_statistics_all_null_group_dropped(spark):
    """A group whose value column is entirely NULL is omitted (as SQL
    would), not turned into a job-aborting assert."""
    from news_lakehouse_spark.operators.sketches import exact_group_order_statistics

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), ("b", None), ("b", None)],
        "grp string, v double",
    )
    got = {r["grp"]: r["p50"] for r in
           exact_group_order_statistics(df, "grp", "v", p=0.5).collect()}
    assert got == {"a": 1.0}


def test_exact_order_statistics_matches_sorted(spark):
    """The band-selection value equals the true ceil(p*n)-th smallest
    on a small frame, nulls excluded, duplicate-heavy data handled."""
    from news_lakehouse_spark.operators.sketches import exact_order_statistics

    vals = [float(v) for v in range(1, 101)] + [50.0] * 30 + [None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = exact_order_statistics(df, "v", ps=(0.5, 0.9, 1.0)).collect()[0]
    ordered = sorted(v for v in vals if v is not None)
    n = len(ordered)
    import math
    assert row["p50"] == ordered[math.ceil(0.5 * n) - 1]
    assert row["p90"] == ordered[math.ceil(0.9 * n) - 1]
    assert row["p100"] == ordered[-1]


def test_exact_group_order_statistics_matches_sorted(spark):
    """Per-group band selection equals the true per-group ceil(p*n)-th
    smallest, including a single-row group and duplicate values."""
    from news_lakehouse_spark.operators.sketches import (
        exact_group_order_statistics,
    )
    import math

    data = {
        "a": [float(v) for v in range(1, 40)] + [7.0] * 10,
        "b": [3.5],
        "c": [2.0, 2.0, 9.0, 1.0],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        r["grp"]: r["p50"]
        for r in exact_group_order_statistics(df, "grp", "v", p=0.5).collect()
    }
    want = {
        g: sorted(vs)[math.ceil(0.5 * len(vs)) - 1] for g, vs in data.items()
    }
    assert got == want


def test_exact_order_statistics_tie_mass(spark):
    """A value duplicated across the rank (95% of rows identical) must
    resolve via cumulative distinct-value counts, and the answer is
    that value whenever the rank falls inside the tie mass."""
    from news_lakehouse_spark.operators.sketches import (
        exact_group_order_statistics,
        exact_order_statistics,
    )

    vals = [1.0, 2.0] + [5.0] * 95 + [8.0, 9.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = exact_order_statistics(df, "v", ps=(0.5, 0.97, 0.99)).collect()[0]
    assert row["p50"] == 5.0 and row["p97"] == 5.0
    assert row["p99"] == 9.0  # ceil(0.99*100)=99th value
    g = spark.createDataFrame([("x", v) for v in vals], "grp string, v double")
    got = exact_group_order_statistics(g, "grp", "v", p=0.5).collect()[0]
    assert got["p50"] == 5.0


def test_training_shards_deterministic_balanced_shuffle_free(spark, sf_dir):
    from news_lakehouse_spark.operators.layout import assign_training_shards

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    s1 = assign_training_shards(d, ["doc_id"], num_shards=8)
    # pure per-row expression: no exchange in the plan
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = {r["doc_id"]: (r["shard"], r["order_u"]) for r in s1.collect()}
    # deterministic: a second independent invocation agrees exactly
    s2 = assign_training_shards(d, ["doc_id"], num_shards=8)
    assert {r["doc_id"]: (r["shard"], r["order_u"]) for r in s2.collect()} == rows
    shards = [v[0] for v in rows.values()]
    assert set(shards) <= set(range(8))
    # binomial balance: every shard within 4 sigma of n/8
    import collections
    import math

    n = len(shards)
    sigma = math.sqrt(n * (1 / 8) * (7 / 8))
    for c in collections.Counter(shards).values():
        assert abs(c - n / 8) < 4 * sigma
    # a different salt decorrelates the assignment
    s3 = assign_training_shards(d, ["doc_id"], num_shards=8, salt="other")
    moved = sum(
        1 for r in s3.collect() if rows[r["doc_id"]][0] != r["shard"]
    )
    assert moved > n / 2


def test_ngram_diversity_exact_counts(spark):
    from news_lakehouse_spark.operators.textmetrics import ngram_diversity

    df = spark.createDataFrame(
        [
            ("a", "the cat sat on the cat"),   # bigrams: the cat, cat sat, sat on, on the, the cat -> 5 total, 4 distinct
            ("a", "one"),                      # < 2 words: contributes nothing
            ("b", "x y x y x y"),              # bigrams: x y, y x, x y, y x, x y -> 5 total, 2 distinct
        ],
        ["source", "text"],
    )
    out = {r["source"]: r for r in ngram_diversity(df, "source", "text", n=2).collect()}
    assert out["a"]["total_ngrams"] == 5 and out["a"]["distinct_ngrams"] == 4
    assert out["b"]["total_ngrams"] == 5 and out["b"]["distinct_ngrams"] == 2
    assert abs(out["b"]["diversity"] - 0.4) < 1e-9


def test_semantic_dedup_kernel_parity(spark, sf_dir):
    """The Arrow+BLAS bucket kernel and the pure expression-tree join
    must agree row for row (same buckets, same kept set)."""
    from news_lakehouse_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(dim=64, planes=3, threshold=0.4, seed=7)
    blas = {
        r["vec_id"]: (r["bucket"], r["kept"])
        for r in semantic_dedup(emb, "vec_id", "embedding", kernel="blas", **kw).collect()
    }
    expr = {
        r["vec_id"]: (r["bucket"], r["kept"])
        for r in semantic_dedup(emb, "vec_id", "embedding", kernel="expr", **kw).collect()
    }
    assert blas == expr
    assert any(v[1] == 0 for v in blas.values())  # the fixture has twins


def test_incremental_semantic_dedup_classification(spark):
    """Planted scenarios: corpus twin -> in_corpus; twin pair inside
    the batch -> lower id admits, higher id dup_in_batch; unique
    vector -> admit."""
    from news_lakehouse_spark.operators.similarity import incremental_semantic_dedup

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    other = [0.0, 1.0] + [0.0] * (dim - 2)
    third = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    corpus = spark.createDataFrame([(1, base)], ["vec_id", "embedding"])
    batch = spark.createDataFrame(
        [
            (10, base),   # twin of corpus vec 1 -> in_corpus
            (20, other),  # first of a batch twin pair -> admit
            (21, other),  # lower-id twin 20 exists -> dup_in_batch
            (30, third),  # unique -> admit
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r
        for r in incremental_semantic_dedup(
            corpus, batch, "vec_id", "embedding", dim=dim, planes=3, threshold=0.95
        ).collect()
    }
    assert (out[10]["in_corpus"], out[10]["dup_in_batch"], out[10]["admit"]) == (1, 0, 0)
    assert (out[20]["in_corpus"], out[20]["dup_in_batch"], out[20]["admit"]) == (0, 0, 1)
    assert (out[21]["in_corpus"], out[21]["dup_in_batch"], out[21]["admit"]) == (0, 1, 0)
    assert (out[30]["in_corpus"], out[30]["dup_in_batch"], out[30]["admit"]) == (0, 0, 1)


def test_semantic_index_ingest_two_increments(spark, tmp_path):
    """Persisted bucket-partitioned index: increment 1 admits uniques
    and collapses its internal twin; increment 2 sees an increment-1
    admit as in_corpus; the index only ever stores admitted rows."""
    from news_lakehouse_spark.operators.similarity import semantic_index_ingest
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    dim = 8
    v = lambda i: [1.0 if j == i else 0.0 for j in range(dim)]
    idx = VersionedParquetTable(spark, str(tmp_path / "semidx"))
    b1 = spark.createDataFrame(
        [(1, v(0)), (2, v(1)), (3, v(1))], ["vec_id", "embedding"]
    )
    out1 = {r["vec_id"]: r for r in semantic_index_ingest(
        idx, b1, dim=dim, planes=3, threshold=0.95
    ).collect()}
    assert out1[1]["admit"] == 1 and out1[2]["admit"] == 1
    assert out1[3]["dup_in_batch"] == 1
    assert sorted(r["vec_id"] for r in idx.read().collect()) == [1, 2]

    b2 = spark.createDataFrame([(10, v(0)), (11, v(2))], ["vec_id", "embedding"])
    out2 = {r["vec_id"]: r for r in semantic_index_ingest(
        idx, b2, dim=dim, planes=3, threshold=0.95
    ).collect()}
    assert out2[10]["in_corpus"] == 1
    assert out2[11]["admit"] == 1
    assert sorted(r["vec_id"] for r in idx.read().collect()) == [1, 2, 11]
    # bucket is a real partition column of the stored index
    assert "bucket" in dict(idx.read().dtypes)


def test_partition_filter_accepts_value_lists(spark, tmp_path):
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "vt"))
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], ["id", "grp"]
    )
    t.write(df, partition_by=["grp"])
    got = t.read(partition_filter={"grp": [1, 3]})
    assert sorted(r["id"] % 4 for r in got.collect()) == [1] * 10 + [3] * 10
    # scalar form unchanged
    assert t.read(partition_filter={"grp": 2}).count() == 10


def test_hard_negative_mining_excludes_same_label(spark, sf_dir):
    from news_lakehouse_spark.operators.similarity import hard_negative_mining

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = hard_negative_mining(emb, q, k=4).collect()
    labels = {r["vec_id"]: r["label"] for r in q.collect()}
    assert len(out) == 3 * 4
    for r in out:
        assert r["neighbor_label"] != labels[r["query_id"]]
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 4
    # ranks are densely 1..k per query and similarity is non-increasing
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for pairs in by_q.values():
        pairs.sort()
        assert [p[0] for p in pairs] == [1, 2, 3, 4]
        sims = [p[1] for p in pairs]
        assert all(a >= b for a, b in zip(sims, sims[1:]))


def test_pq_lossless_codebook_equals_bruteforce(spark):
    """m=1 with one centroid per distinct vector makes PQ encoding
    lossless, so ADC ranking must equal exact brute force — at any
    batch layout: the batch holding a query must still yield k other
    candidates once the query's own row is excluded."""
    import math

    from news_lakehouse_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rows = [
        (i, [math.cos(0.37 * i + d * 0.11) for d in range(4)])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=1, nbits=3, sample_n=8, iters=4)
    codes = pq_encode(df, books)
    got = codes.collect()
    assert all(0 <= c < 8 for r in got for c in r["codes"])
    # 8 distinct vectors, 8 centroids: every vector quantizes to itself
    assert len({tuple(r["codes"]) for r in got}) == 8

    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(df, df, k=3).collect()
    }
    for parts in (2, 4):
        adc = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in pq_topk(
                codes.repartitionByRange(parts, "vec_id"), df, books, k=3
            ).collect()
        }
        assert adc == exact, parts


def test_pq_topk_chunked_fallback_matches_single_lut(spark, sf_dir):
    """Past max_lut_queries pq_topk must split the query set into hash
    chunks (one ADC pass each, bounded task-broadcast LUT) and return
    IDENTICAL results to the single-LUT plan — both with and without
    the exact re-rank. Plan assert: the chunked plan is a Union, the
    single-LUT plan is not."""
    from news_lakehouse_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 9)
    books = pq_train(emb, m=4, nbits=4, sample_n=128)
    codes = pq_encode(emb, books)
    single = pq_topk(codes, q, books, k=3, max_lut_queries=None)
    chunked = pq_topk(codes, q, books, k=3, max_lut_queries=4)
    key = lambda df: {
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_score"])
        for r in df.collect()
    }
    assert key(chunked) == key(single)
    assert "Union" in chunked._jdf.queryExecution().analyzed().toString()
    assert "Union" not in single._jdf.queryExecution().analyzed().toString()
    # re-ranked flavor takes the same fallback and stays exact
    rr_single = pq_topk(codes, q, books, k=3, corpus=emb, max_lut_queries=None)
    rr_chunked = pq_topk(codes, q, books, k=3, corpus=emb, max_lut_queries=0)
    rkey = lambda df: {
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in df.collect()
    }
    assert rkey(rr_chunked) == rkey(rr_single)


def test_pq_rerank_scores_are_exact_cosine(spark, sf_dir):
    from news_lakehouse_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    books = pq_train(emb, m=8, nbits=4, sample_n=128)
    codes = pq_encode(emb, books)
    rr = pq_topk(codes, q, books, k=5, corpus=emb, shortlist=6)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk_bruteforce(emb, q, k=200).collect()
    }
    for r in rr.collect():
        # reranked scores are TRUE cosines, not ADC approximations
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cos_sim"]


def test_pq_index_ingest_requires_own_table(spark, tmp_path):
    """An index table not created by pq_index_ingest (no codebooks in
    its commit properties) must be refused, not silently re-trained —
    retraining would make old and new codes incomparable."""
    import pytest as _pytest

    from news_lakehouse_spark.operators.similarity import pq_index_ingest
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable

    t = VersionedParquetTable(spark, str(tmp_path / "pq"))
    t.write(spark.createDataFrame([(1, [0.1] * 8)], "vec_id long, embedding array<double>"))
    with _pytest.raises(ValueError, match="pq_codebooks"):
        pq_index_ingest(
            t,
            spark.createDataFrame(
                [(2, [0.2] * 8)], "vec_id long, embedding array<double>"
            ),
            m=2,
            nbits=2,
        )


def test_hashed_linear_score_matches_python_forward_pass(spark):
    import hashlib
    import math

    from news_lakehouse_spark.operators.classify import (
        hashed_linear_score,
        pseudo_weights,
    )

    w = pseudo_weights(64)
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "Gamma, GAMMA!")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in hashed_linear_score(
            df, "text", w, bias=0.25, salt="t", hash="sha2",
            n_features_col="nf"
        ).collect()
    }

    def bucket(salted: str) -> int:
        return int(hashlib.sha256(salted.encode()).hexdigest()[:15], 16) % 64

    # doc 1: unigrams alpha, beta + bigram "alpha beta"
    feats = [
        bucket("t1\x1falpha"),
        bucket("t1\x1fbeta"),
        bucket("t2\x1falpha beta"),
    ]
    z = 0.25 + sum(w[b] for b in feats) / 3
    assert out[1]["nf"] == 3
    assert abs(out[1]["score"] - 1 / (1 + math.exp(-z))) < 1e-12
    # doc 2: no features -> sigmoid(bias)
    assert out[2]["nf"] == 0
    assert abs(out[2]["score"] - 1 / (1 + math.exp(-0.25))) < 1e-12
    # doc 3: normalization lowercases + strips punctuation -> gamma x2
    g = bucket("t1\x1fgamma")
    z3 = 0.25 + (w[g] + w[g] + w[bucket("t2\x1fgamma gamma")]) / 3
    assert abs(out[3]["score"] - 1 / (1 + math.exp(-z3))) < 1e-12


def test_hashed_ngram_buckets_orders_and_validation(spark):
    import pytest
    from pyspark.sql import functions as F

    from news_lakehouse_spark.operators.classify import (
        hashed_linear_score,
        hashed_ngram_buckets,
    )

    df = spark.createDataFrame([("one two three four",)], ["text"])
    n1 = df.select(
        F.size(hashed_ngram_buckets("text", 32, ngram_max=1)).alias("n")
    ).first()["n"]
    n2 = df.select(
        F.size(hashed_ngram_buckets("text", 32, ngram_max=2)).alias("n")
    ).first()["n"]
    assert (n1, n2) == (4, 7)  # 4 unigrams, +3 bigrams
    with pytest.raises(ValueError, match="ngram_max"):
        df.select(hashed_ngram_buckets("text", 32, ngram_max=3))
    with pytest.raises(ValueError, match="n_buckets"):
        df.select(hashed_ngram_buckets("text", 0))
    with pytest.raises(ValueError, match="weights"):
        hashed_linear_score(df, "text", [])
    with pytest.raises(ValueError, match="hash"):
        df.select(hashed_ngram_buckets("text", 32, hash="md5"))
    # the xxhash64 production path: same feature count and determinism,
    # different bucket stream than sha2
    fast = df.select(
        hashed_ngram_buckets("text", 32, hash="xxhash64").alias("b")
    ).first()["b"]
    assert len(fast) == 7
    assert fast == df.select(
        hashed_ngram_buckets("text", 32).alias("b")
    ).first()["b"]  # default IS xxhash64
    assert all(0 <= b < 32 for b in fast)
