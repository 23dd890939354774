"""Unit tests for the M-extension operators (dedup, similarity, text,
multimodal) on small hand-built frames plus the sf0.001 fixtures."""

import pytest
from pyspark.sql import functions as F

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    dedup as D,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    multimodal as M,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    similarity as S,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
    text as X,
)

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different text about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, "el gato y el perro en la casa de la abuela"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs, ["text"], "doc_id").orderBy("doc_id").collect()
    assert [(r["doc_id"], r["n_copies"]) for r in out] == [
        (1, 2), (2, 1), (3, 1), (5, 1),
    ]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got  # exact dup → jaccard 1.0
    assert (1, 2) in got and (2, 4) in got  # near dups
    assert not any(3 in p or 5 in p for p in got)


def test_minhash_matches_exact_jaccard(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup(
            docs, n=3, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert lsh == exact  # banding recall ≈1 at this threshold


def test_minhash_recall_on_fixtures(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup(
            docs, n=3, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_dedup(spark, docs):
    # measured: hamming(1,2)=6 (one token of nine differs → only low-
    # margin bits flip), unrelated pairs are ≥25 — radius 6 separates
    pairs = D.simhash_dedup(docs, max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 4)] == 0  # identical text → identical simhash
    assert got[(1, 2)] == 6  # near dup within radius
    assert not any(3 in p or 5 in p for p in got)  # unrelated excluded


def test_simhash_deterministic_across_partitioning(spark, docs):
    one = {r["doc_id"]: r["simhash"] for r in D.simhash_df(docs.coalesce(1)).collect()}
    many = {
        r["doc_id"]: r["simhash"] for r in D.simhash_df(docs.repartition(5)).collect()
    }
    assert one == many


def test_simhash_plan_is_arrow_batched(spark, docs):
    # Signature math is an Arrow-batched pandas stage, never
    # row-at-a-time Python.
    plan = D.simhash_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_brute_force_topk_is_exact(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    out = S.brute_force_topk(emb, query_ids=[0, 1], k=3).collect()
    assert len(out) == 6
    ranks = {(r["q_id"], r["rank"]): r["n_id"] for r in out}
    # rank sequence complete per query
    assert all((q, r) in ranks for q in (0, 1) for r in (1, 2, 3))


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    qids = list(range(10))
    exact = {
        (r["q_id"], r["n_id"])
        for r in S.brute_force_topk(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in S.lsh_topk(emb, query_ids=qids, k=5, n_planes=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    qids = list(range(10))
    exact = {
        (r["q_id"], r["n_id"])
        for r in S.brute_force_topk(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in S.ivf_topk(emb, query_ids=qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_bpe_token_stats(spark, docs):
    rows = {r["doc_id"]: r for r in X.bpe_token_stats(docs).collect()}
    # "the quick brown fox jumps over the lazy dog": 9 words, no
    # digits or punctuation
    assert rows[1]["n_ws_tokens"] == 9
    assert rows[1]["n_alpha_tokens"] == 9
    assert rows[1]["n_num_tokens"] == 0
    assert rows[1]["n_other_tokens"] == 0
    assert rows[1]["n_bpe_tokens"] == 9


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in X.language_id(docs).collect()}
    assert out[1] == "en" and out[4] == "en"
    assert out[5] == "es"


def test_quality_features_ranges(spark, docs):
    rows = X.quality_features(docs).collect()
    for r in rows:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["distinct_token_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_fingerprint_clusters_dups(spark, docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in X.fingerprint(docs).collect()}
    assert fp[1] == fp[4]  # exact dup
    assert fp[1] != fp[3]


def test_asof_join_backward_inclusive(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(1, "u1", 10), (2, "u1", 20), (3, "u2", 5), (4, "u3", 9)],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("u1", 10, 100.0), ("u1", 15, 150.0), ("u2", 6, 60.0)],
        "user_id string, ts long, value double",
    )
    out = {
        r["event_id"]: r["asof_value"]
        for r in asof_join(left, right, on=["user_id"]).collect()
    }
    assert out[1] == 100.0  # inclusive: right at ts=10 matches left ts=10
    assert out[2] == 150.0  # most recent prior (15), not first (10)
    assert out[3] is None  # right exists but only later (6 > 5)
    assert out[4] is None  # no right rows for the key


def test_salted_join_and_two_phase_agg_match_unsalted(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.skew import (
        salted_join,
        two_phase_agg,
    )
    from pyspark.sql import functions as FF

    # 90% of rows share one hot key.
    left = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)],
        "id long, k string, v double",
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3)], "k string, r long"
    )

    plain = {
        (r["id"], r["r"])
        for r in left.join(right, "k").select("id", "r").collect()
    }
    salted = {
        (r["id"], r["r"])
        for r in salted_join(left, right, on=["k"]).select("id", "r").collect()
    }
    assert salted == plain and len(plain) > 0

    expected = {
        (r["k"], r["n"], r["total"])
        for r in left.groupBy("k")
        .agg(FF.count("*").alias("n"), FF.sum("v").alias("total"))
        .collect()
    }
    got = {
        (r["k"], r["n"], r["total"])
        for r in two_phase_agg(
            left, ["k"], {"n": ("v", "count"), "total": ("v", "sum")}
        ).collect()
    }
    assert got == expected


def test_range_join_window_bounds(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        range_join,
    )
    import datetime as dt

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, "u1", t(100)), (2, "u2", t(100))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", t(40), "in"), ("u1", t(100), "edge"), ("u1", t(101), "late"),
         ("u1", t(39), "early"), ("u2", t(50), "other")],
        "k string, rts timestamp, tag string",
    )
    out = range_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", lower=-60, upper=0
    )
    got = {(r["id"], r["tag"]) for r in out.collect()}
    # window [ts-60, ts]: includes t(40) and the t(100) edge, not
    # t(101) (future) or t(39) (too old)
    assert got == {(1, "in"), (1, "edge"), (2, "other")}


def test_winnow_fingerprints_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "a completely different sentence with no shared content"),
        ],
        "doc_id long, text string",
    )
    fps = X.winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] == by_doc[2]  # identical docs → identical sets
    assert not (by_doc[1] & by_doc[3])  # disjoint content → no overlap
    assert len(by_doc[1]) > 3


def test_cascading_rollup_matches_direct(spark):
    # Day buckets aggregated from hour buckets must equal day buckets
    # aggregated directly from raw (associative aggs, exact decimals).
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        cascading_rollup,
    )
    import __spark_entry__ as entry

    e = entry._events(spark, SF001).withColumn(
        "value", F.col("value").cast("decimal(18,4)")
    )
    cascaded = cascading_rollup(e, "ts", ["event_type"], "value", ["1 hour", "1 day"])[
        "1 day"
    ]
    direct = (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "*")
        .drop("w")
    )
    key = lambda r: (r["bucket_start"], r["event_type"])
    got = {key(r): (r["n_events"], r["sum_value"]) for r in cascaded.collect()}
    want = {key(r): (r["n_events"], r["sum_value"]) for r in direct.collect()}
    assert got == want and len(got) > 0


def test_approx_distinct_within_bound(spark):
    l = spark.read.parquet(f"{SF001}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.05


def test_multimodal_extract_features(spark):
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x89PNG fake bytes"), {"src": "cam0"}),
            (2, "audio", bytearray(b"RIFF fake"), {}),
            (3, "image", None, None),
        ],
        M.ASSET_SCHEMA,
    )
    out = M.extract_features(assets, feat_dim=8).orderBy("asset_id").collect()
    assert len(out) == 3
    assert out[0]["n_bytes"] == 15 and len(out[0]["features"]) == 8
    # determinism: same bytes → same sha/features
    again = M.extract_features(assets, feat_dim=8).orderBy("asset_id").collect()
    assert out[0]["content_sha"] == again[0]["content_sha"]
    assert out[2]["n_bytes"] == 0  # null content handled


def test_multimodal_raise_stub(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"x"), None)], M.ASSET_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        M.extract_features(assets, decode_stub="raise").collect()


def _tiny_png(width, height, rgb):
    """Hand-built real PNG: 8-bit RGB, filter 0 scanlines, one IDAT."""
    import struct as st
    import zlib as zl

    def chunk(ctype, data):
        body = ctype + data
        return st.pack(">I", len(data)) + body + st.pack(
            ">I", zl.crc32(body) & 0xFFFFFFFF
        )

    ihdr = st.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(rgb) * width for _ in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zl.compress(raw))
        + chunk(b"IEND", b"")
    )


def _tiny_wav(rate=8000, n_frames=800, amplitude=16384, period=8):
    """Real WAV via the stdlib wave module: mono 16-bit square wave."""
    import io as io_
    import struct as st
    import wave as wv

    buf = io_.BytesIO()
    with wv.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = [
            amplitude if (i // period) % 2 == 0 else -amplitude
            for i in range(n_frames)
        ]
        w.writeframes(st.pack(f"<{n_frames}h", *samples))
    return buf.getvalue()


def test_multimodal_real_codecs(spark):
    """The auto path decodes REAL media through the stdlib codecs:
    true dimensions and pixel/sample statistics, not byte hashes."""
    png = _tiny_png(5, 3, (255, 0, 0))  # pure red 5x3
    ppm = b"P6\n4 2\n255\n" + bytes([0, 255, 0]) * 8  # pure green 4x2
    pgm = b"P5\n3 3\n255\n" + bytes([128] * 9)  # mid gray 3x3
    wav = _tiny_wav()
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(png), None),
            (2, "image", bytearray(ppm), None),
            (3, "image", bytearray(pgm), None),
            (4, "audio", bytearray(wav), None),
            (5, "image", bytearray(b"not an image"), None),
        ],
        M.ASSET_SCHEMA,
    )
    out = {
        r["asset_id"]: r
        for r in M.extract_features(
            assets, feat_dim=6, decode_stub="auto"
        ).collect()
    }
    # PNG: real dims, channel means = (1, 0, 0) for pure red
    assert (out[1]["width"], out[1]["height"]) == (5, 3)
    assert out[1]["features"][0] == pytest.approx(1.0)
    assert out[1]["features"][1] == pytest.approx(0.0)
    assert out[1]["features"][2] == pytest.approx(0.0)
    # PPM: pure green
    assert (out[2]["width"], out[2]["height"]) == (4, 2)
    assert out[2]["features"][1] == pytest.approx(1.0)
    # PGM: constant mid gray → mean 128/255, std 0
    assert (out[3]["width"], out[3]["height"]) == (3, 3)
    assert out[3]["features"][0] == pytest.approx(128 / 255)
    assert out[3]["features"][1] == pytest.approx(0.0)  # std
    # WAV: width carries sample rate, height channels; square wave
    # RMS = amplitude/32768 = 0.5
    assert (out[4]["width"], out[4]["height"]) == (8000, 1)
    assert out[4]["features"][0] == pytest.approx(0.5, abs=1e-3)
    # Unknown format falls back to the deterministic byte-hash stub
    assert out[5]["width"] is not None and len(out[5]["features"]) == 6


# --- minimal baseline JPEG ENCODER (test fixture generator) ---------
# Standard Huffman tables from the JPEG spec (ITU T.81 Annex K.3) —
# public constants; the encoder exists only to build fixtures the
# stdlib cannot otherwise produce (no PIL in this environment).

_K3_DC_BITS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_K3_DC_VALS = bytes(range(12))
_K3_AC_BITS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
_K3_AC_VALS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


def _enc_codes(bits, vals):
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _EncBits:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = self.nbits = 0

    def flush(self):
        while self.nbits:
            self.put(1, 1)  # pad with 1s
        return bytes(self.out)


def _encode_jpeg(planes, h_samp, v_samp, quant=16, restart=0):
    """Baseline JPEG from float64 planes (Y or Y,Cb,Cr at FULL
    resolution); chroma is box-subsampled per sampling factors."""
    import struct as st

    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_idct_basis,
    )

    height, width = planes[0].shape
    n_comp = len(planes)
    basis = _jpeg_idct_basis()
    q = np.full(64, quant, dtype=np.int32)
    hmax, vmax = max(h_samp), max(v_samp)
    mcus_x, mcus_y = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    dc_codes = _enc_codes(_K3_DC_BITS, _K3_DC_VALS)
    ac_codes = _enc_codes(_K3_AC_BITS, _K3_AC_VALS)

    # component planes at their subsampled resolution, padded to the
    # MCU grid by edge replication
    comp_planes = []
    for ci in range(n_comp):
        ry, rx = vmax // v_samp[ci], hmax // h_samp[ci]
        p = planes[ci]
        if ry > 1 or rx > 1:  # box average
            ph = (p.shape[0] // ry) * ry
            pw = (p.shape[1] // rx) * rx
            p = p[:ph, :pw].reshape(ph // ry, ry, pw // rx, rx).mean((1, 3))
        th, tw = mcus_y * v_samp[ci] * 8, mcus_x * h_samp[ci] * 8
        pad = np.empty((th, tw))
        pad[: p.shape[0], : p.shape[1]] = p
        pad[p.shape[0] :, : p.shape[1]] = p[-1:, :]
        pad[:, p.shape[1] :] = pad[:, p.shape[1] - 1 : p.shape[1]]
        comp_planes.append(pad)

    def mag(v):
        s = 0
        a = abs(v)
        while a:
            s += 1
            a >>= 1
        return s

    segments = [[]]  # lists of (code,len) per restart interval
    pred = [0] * n_comp
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu and mcu % restart == 0:
                segments.append([])
                pred = [0] * n_comp
            emit = segments[-1].append
            for ci in range(n_comp):
                for by in range(v_samp[ci]):
                    for bx in range(h_samp[ci]):
                        y0 = (my * v_samp[ci] + by) * 8
                        x0 = (mx * h_samp[ci] + bx) * 8
                        blk = comp_planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        coef = basis @ (blk - 128.0) @ basis.T
                        zz = np.round(
                            coef.reshape(-1)[_JPEG_ZIGZAG] / q
                        ).astype(int)
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s = mag(diff)
                        emit(dc_codes[s])
                        if s:
                            emit(
                                (diff if diff >= 0 else diff + (1 << s) - 1, s)
                            )
                        run = 0
                        last_nz = max(
                            (i for i in range(1, 64) if zz[i]), default=0
                        )
                        for i in range(1, last_nz + 1):
                            v = int(zz[i])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                emit(ac_codes[0xF0])
                                run -= 16
                            s = mag(v)
                            emit(ac_codes[(run << 4) | s])
                            emit((v if v >= 0 else v + (1 << s) - 1, s))
                            run = 0
                        if last_nz < 63:
                            emit(ac_codes[0x00])  # EOB
            mcu += 1

    def seg(marker, payload):
        return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(x) for x in q))
    sof = st.pack(">BHHB", 8, height, width, n_comp)
    for ci in range(n_comp):
        sof += bytes([ci + 1, (h_samp[ci] << 4) | v_samp[ci], 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + _K3_DC_BITS + _K3_DC_VALS)
    out += seg(0xC4, bytes([0x10]) + _K3_AC_BITS + _K3_AC_VALS)
    if restart:
        out += seg(0xDD, st.pack(">H", restart))
    sos = bytes([n_comp])
    for ci in range(n_comp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    for i, segment in enumerate(segments):
        w = _EncBits()
        for code, length in segment:
            w.put(code, length)
        out += w.flush()
        if i < len(segments) - 1:
            out += bytes([0xFF, 0xD0 + (i % 8)])
    out += b"\xff\xd9"
    return bytes(out)


# --- minimal PROGRESSIVE JPEG encoder (test fixture generator) ------
# Scan scripts follow spec Annex G: DC first/refine (interleaved),
# AC first/refine per component with EOB-run coding and libjpeg-style
# buffered correction bits. Huffman tables are flat custom tables
# (all DC symbols at 4 bits, all AC symbols at 8 bits) so every
# symbol — including the EOBn codes Annex K.3 lacks — is codable.

_PROG_DC_BITS = bytes([0, 0, 0, 12] + [0] * 12)
_PROG_DC_VALS = bytes(range(12))
_PROG_AC_SYMS = (
    [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(15)]
    + [0xF0]
)
_PROG_AC_BITS = bytes([0] * 7 + [len(_PROG_AC_SYMS)] + [0] * 8)
_PROG_AC_VALS = bytes(_PROG_AC_SYMS)


def _quantized_blocks(planes, h_samp, v_samp, quant):
    """Per-component (by, bx, 64) zigzag-order quantized coefficient
    arrays on the MCU-padded grid (same math as _encode_jpeg)."""
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _jpeg_idct_basis,
    )

    height, width = planes[0].shape
    basis = _jpeg_idct_basis()
    q = np.full(64, quant, dtype=np.int32)
    hmax, vmax = max(h_samp), max(v_samp)
    mcus_x, mcus_y = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    out = []
    for ci, plane in enumerate(planes):
        ry, rx = vmax // v_samp[ci], hmax // h_samp[ci]
        p = plane
        if ry > 1 or rx > 1:
            ph = (p.shape[0] // ry) * ry
            pw = (p.shape[1] // rx) * rx
            p = p[:ph, :pw].reshape(ph // ry, ry, pw // rx, rx).mean((1, 3))
        th, tw = mcus_y * v_samp[ci] * 8, mcus_x * h_samp[ci] * 8
        pad = np.empty((th, tw))
        pad[: p.shape[0], : p.shape[1]] = p
        pad[p.shape[0] :, : p.shape[1]] = p[-1:, :]
        pad[:, p.shape[1] :] = pad[:, p.shape[1] - 1 : p.shape[1]]
        by, bx = th // 8, tw // 8
        zz = np.empty((by, bx, 64), dtype=np.int64)
        for yb in range(by):
            for xb in range(bx):
                blk = pad[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8]
                coefs = basis @ (blk - 128.0) @ basis.T
                zz[yb, xb] = np.round(coefs.reshape(-1)[_JPEG_ZIGZAG] / q)
        out.append(zz)
    return out, (width, height, mcus_x, mcus_y, q)


def _mag(v):
    s, a = 0, abs(int(v))
    while a:
        s += 1
        a >>= 1
    return s


def _encode_jpeg_progressive(planes, h_samp, v_samp, quant=16, scans=None):
    """Progressive JPEG from float planes. ``scans`` is a list of
    (comp_indices, ss, se, ah, al); default is a libjpeg-like script
    with both spectral selection and successive approximation."""
    import struct as st

    coefs, (width, height, mcus_x, mcus_y, q) = _quantized_blocks(
        planes, h_samp, v_samp, quant
    )
    n_comp = len(planes)
    if scans is None:
        allc = list(range(n_comp))
        scans = [(allc, 0, 0, 0, 1)]
        for c in range(n_comp):
            scans.append(([c], 1, 63, 0, 2))
        for c in range(n_comp):
            scans.append(([c], 1, 63, 2, 1))
        scans.append((allc, 0, 0, 1, 0))
        for c in range(n_comp):
            scans.append(([c], 1, 63, 1, 0))
    dc_codes = _enc_codes(_PROG_DC_BITS, _PROG_DC_VALS)
    ac_codes = _enc_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    hmax, vmax = max(h_samp), max(v_samp)

    def nonint_blocks(ci):
        cw = -(-width * h_samp[ci] // hmax)
        ch = -(-height * v_samp[ci] // vmax)
        return -(-ch // 8), -(-cw // 8)

    def encode_scan(comp_idx, ss, se, ah, al):
        w = _EncBits()
        if ss == 0:  # DC scan
            pred = [0] * n_comp
            if len(comp_idx) > 1:
                order = [
                    (ci, by, bx)
                    for my in range(mcus_y)
                    for mx in range(mcus_x)
                    for ci in comp_idx
                    for by in range(
                        my * v_samp[ci], my * v_samp[ci] + v_samp[ci]
                    )
                    for bx in range(
                        mx * h_samp[ci], mx * h_samp[ci] + h_samp[ci]
                    )
                ]
            else:
                ci = comp_idx[0]
                bh, bw = nonint_blocks(ci)
                order = [
                    (ci, by, bx) for by in range(bh) for bx in range(bw)
                ]
            for ci, by, bx in order:
                v = int(coefs[ci][by, bx, 0]) >> al  # arithmetic shift
                if ah == 0:
                    diff = v - pred[ci]
                    pred[ci] = v
                    s = _mag(diff)
                    w.put(*dc_codes[s])
                    if s:
                        w.put(
                            diff if diff >= 0 else diff + (1 << s) - 1, s
                        )
                else:
                    w.put(v & 1, 1)
            return w.flush()

        # AC scan: one component
        (ci,) = comp_idx
        bh, bw = nonint_blocks(ci)
        eobrun = 0
        be: list[int] = []  # correction bits buffered across the run

        def flush_eob():
            nonlocal eobrun, be
            if eobrun > 0:
                nb = eobrun.bit_length() - 1
                w.put(*ac_codes[nb << 4])
                if nb:
                    w.put(eobrun - (1 << nb), nb)
                for bit in be:
                    w.put(bit, 1)
                eobrun, be = 0, []

        for by in range(bh):
            for bx in range(bw):
                blk = coefs[ci][by, bx]
                if ah == 0:  # first pass at this Al
                    vals = [
                        (1 if blk[k] >= 0 else -1) * (abs(int(blk[k])) >> al)
                        for k in range(ss, se + 1)
                    ]
                    if not any(vals):
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
                        continue
                    flush_eob()
                    r = 0
                    trailing = True
                    last_nz = max(i for i, v in enumerate(vals) if v)
                    for i, v in enumerate(vals[: last_nz + 1]):
                        if v == 0:
                            r += 1
                            continue
                        while r > 15:
                            w.put(*ac_codes[0xF0])
                            r -= 16
                        s = _mag(v)
                        w.put(*ac_codes[(r << 4) | s])
                        w.put(v if v >= 0 else v + (1 << s) - 1, s)
                        r = 0
                    if last_nz < len(vals) - 1:
                        eobrun += 1
                else:  # refinement pass (libjpeg encode_mcu_AC_refine)
                    absv = [
                        abs(int(blk[k])) >> al for k in range(ss, se + 1)
                    ]
                    eob_idx = -1
                    for i, t in enumerate(absv):
                        if t == 1:
                            eob_idx = i
                    r = 0
                    br: list[int] = []
                    for i, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and i <= eob_idx:
                            flush_eob()
                            w.put(*ac_codes[0xF0])
                            r -= 16
                            for bit in br:
                                w.put(bit, 1)
                            br = []
                        if t > 1:
                            br.append(t & 1)
                            continue
                        flush_eob()
                        w.put(*ac_codes[(r << 4) | 1])
                        w.put(1 if blk[ss + i] >= 0 else 0, 1)
                        for bit in br:
                            w.put(bit, 1)
                        br = []
                        r = 0
                    if r > 0 or br:
                        eobrun += 1
                        be.extend(br)
                        if eobrun == 0x7FFF:
                            flush_eob()
        flush_eob()
        return w.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(x) for x in q))
    sof = st.pack(">BHHB", 8, height, width, n_comp)
    for ci in range(n_comp):
        sof += bytes([ci + 1, (h_samp[ci] << 4) | v_samp[ci], 0])
    out += seg(0xC2, sof)
    out += seg(0xC4, bytes([0x00]) + _PROG_DC_BITS + _PROG_DC_VALS)
    out += seg(0xC4, bytes([0x10]) + _PROG_AC_BITS + _PROG_AC_VALS)
    for comp_idx, ss, se, ah, al in scans:
        sos = bytes([len(comp_idx)])
        for ci in comp_idx:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        out += encode_scan(comp_idx, ss, se, ah, al)
    out += b"\xff\xd9"
    return bytes(out)


def test_multimodal_jpeg_progressive_pixel_decode():
    """Progressive (SOF2) must reconstruct the EXACT same pixels as
    a baseline encode of the same quantized coefficients — spectral
    selection, successive approximation (DC+AC refinement scans,
    EOB runs with buffered correction bits), grayscale and 4:2:0."""
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_jpeg,
    )

    rng = np.random.default_rng(11)
    # gradient + flat regions (flat blocks exercise cross-block EOB
    # runs) + noise patch (dense AC exercises ZRL/refinement paths)
    gray = np.full((17, 24), 96.0)
    yy, xx = np.mgrid[0:17, 0:24]
    gray[:, :12] = 40.0 + 6 * xx[:, :12] + 3 * yy[:, :12]
    gray[9:, 16:] = np.clip(
        rng.normal(128, 55, size=(8, 8)), 0, 255
    ).round()

    base = _decode_jpeg(_encode_jpeg([gray], [1], [1]), feat_dim=8)

    # spectral-selection-only script
    spectral = [([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)]
    p1 = _decode_jpeg(
        _encode_jpeg_progressive([gray], [1], [1], scans=spectral),
        feat_dim=8,
    )
    assert p1["features"] == base["features"]
    assert (p1["width"], p1["height"]) == (24, 17)

    # full successive-approximation script (default)
    p2 = _decode_jpeg(
        _encode_jpeg_progressive([gray], [1], [1]), feat_dim=8
    )
    assert p2["features"] == base["features"]

    # legal 0xFF fill bytes before markers (spec B.1.1.2) must not
    # derail either walker: pad before SOS and before EOI
    prog_bytes = _encode_jpeg_progressive([gray], [1], [1])
    sos_at = prog_bytes.index(b"\xff\xda")
    padded = (
        prog_bytes[:sos_at] + b"\xff\xff\xff" + prog_bytes[sos_at:]
    )
    p_pad = _decode_jpeg(padded, feat_dim=8)
    assert p_pad["features"] == base["features"]
    base_bytes = _encode_jpeg([gray], [1], [1])
    sos_at = base_bytes.index(b"\xff\xda")
    b_pad = _decode_jpeg(
        base_bytes[:sos_at] + b"\xff" + base_bytes[sos_at:], feat_dim=8
    )
    assert b_pad["features"] == base["features"]

    # color 4:2:0 (subsampled chroma, interleaved DC, per-comp AC)
    h, w = 20, 12
    yy, xx = np.mgrid[0:h, 0:w]
    y = 60.0 + 7 * xx + 2 * yy
    cb = np.full((h, w), 120.0) + 3 * yy
    cr = np.full((h, w), 136.0) - 2 * xx
    base_c = _decode_jpeg(
        _encode_jpeg([y, cb, cr], [2, 1, 1], [2, 1, 1]), feat_dim=8
    )
    p3 = _decode_jpeg(
        _encode_jpeg_progressive([y, cb, cr], [2, 1, 1], [2, 1, 1]),
        feat_dim=8,
    )
    assert p3["features"] == base_c["features"]
    assert (p3["width"], p3["height"]) == (w, h)


def test_multimodal_dispatch_fallback_matrix():
    """Pin EXACTLY which magics take which path (COVERAGE.md format
    matrix): real decode for supported formats, true-dims +
    placeholder features for arithmetic JPEG, byte-hash fallback for
    16-bit / Adam7 PNG and unknown magics."""
    import struct
    import zlib

    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _fake_decode,
        decode_asset,
    )

    def png(w, h, depth, color, interlace, raw):
        def chunk(tag, payload):
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    # real path: 8-bit gray PNG decodes to exact pixel stats
    raw8 = b"".join(b"\x00" + bytes([10 * x for x in range(4)]) for _ in range(4))
    out = decode_asset(png(4, 4, 8, 0, 0, raw8), "image", 6)
    assert out["features"][0] == np.frombuffer(
        bytes([0, 10, 20, 30] * 4), np.uint8
    ).mean() / 255.0

    # 16-bit PNG → byte-hash fallback (features == _fake_decode's)
    content16 = png(2, 2, 16, 0, 0, b"\x00" + b"\x12\x34" * 2 + b"\x00" + b"\x56\x78" * 2)
    out16 = decode_asset(content16, "image", 6)
    assert out16["features"] == _fake_decode(content16, "image", 6)["features"]

    # Adam7 interlaced PNG → fallback
    content_a7 = png(2, 2, 8, 0, 1, b"\x00\x01\x00\x02\x00\x03\x04")
    out_a7 = decode_asset(content_a7, "image", 6)
    assert out_a7["features"] == _fake_decode(content_a7, "image", 6)["features"]

    # arithmetic-coded JPEG (SOF9 0xC9) → TRUE dims, fake features
    sof = struct.pack(">BHHB", 8, 5, 7, 1) + bytes([1, 0x11, 0])
    arith = (
        b"\xff\xd8"
        + b"\xff\xc9"
        + struct.pack(">H", len(sof) + 2)
        + sof
        + b"\xff\xd9"
    )
    out_ar = decode_asset(arith, "image", 6)
    assert (out_ar["width"], out_ar["height"]) == (7, 5)
    assert out_ar["features"] == _fake_decode(arith, "image", 6)["features"]

    # unknown magic → full fallback
    blob = b"\x00\x01\x02mystery"
    assert decode_asset(blob, "image", 6) == _fake_decode(blob, "image", 6)


def test_multimodal_jpeg_baseline_pixel_decode():
    """Real entropy decode: encode known images with a minimal
    baseline encoder (spec Annex K tables), decode with the operator
    path, and pin pixel statistics against the source — grayscale,
    color 4:4:4, color 4:2:0, and a restart-interval stream."""
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_jpeg,
    )

    rng = np.random.default_rng(3)

    # grayscale 24x17 (non-multiple-of-8 crops exercised)
    gray = np.clip(
        rng.normal(120, 30, size=(17, 24)), 0, 255
    ).round()
    jb = _encode_jpeg([gray], [1], [1])
    out = _decode_jpeg(jb, feat_dim=4)
    assert (out["width"], out["height"]) == (24, 17)
    # feature[0] = channel mean / 255; quant=16 error is small
    assert abs(out["features"][0] - gray.mean() / 255.0) < 0.02

    # color 4:4:4 and 4:2:0 — smooth gradient so subsampling loses
    # little; compare per-channel means through RGB<->YCbCr
    h, w = 16, 16
    yy, xx = np.mgrid[0:h, 0:w]
    r = 40.0 + 8 * xx
    g = 90.0 + 6 * yy
    b = 130.0 + 2 * xx + 2 * yy
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    for h_s, v_s in (([1, 1, 1], [1, 1, 1]), ([2, 1, 1], [2, 1, 1])):
        jb = _encode_jpeg([y, cb, cr], h_s, v_s)
        out = _decode_jpeg(jb, feat_dim=6)
        assert (out["width"], out["height"]) == (w, h)
        for ch, plane in enumerate((r, g, b)):
            assert abs(out["features"][ch] - plane.mean() / 255.0) < 0.03, (
                h_s, ch,
            )

    # restart markers: identical result to the no-DRI stream
    jb_dri = _encode_jpeg([gray], [1], [1], restart=1)
    assert b"\xff\xd0" in jb_dri or b"\xff\xd1" in jb_dri
    out_dri = _decode_jpeg(jb_dri, feat_dim=4)
    assert abs(out_dri["features"][0] - gray.mean() / 255.0) < 0.02

    # progressive (SOF2) keeps the dims-only fallback contract
    prog = jb.replace(b"\xff\xc0", b"\xff\xc2", 1)
    out_prog = _decode_jpeg(prog, feat_dim=4)
    assert (out_prog["width"], out_prog["height"]) == (w, h)


def test_multimodal_jpeg_header_dims():
    """JPEG SOF parse extracts real dimensions (pixel decode stays a
    documented fallback)."""
    import struct as st

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_jpeg,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

    sof = st.pack(">BHHB", 8, 240, 320, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpeg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xC0, sof)
        + b"\xff\xd9"
    )
    out = _decode_jpeg(jpeg, feat_dim=4)
    assert out is not None
    assert (out["width"], out["height"]) == (320, 240)
    assert len(out["features"]) == 4
    assert _decode_jpeg(b"\xff\xd8\xff\xd9", 4) is None  # no SOF
    assert _decode_jpeg(b"not a jpeg", 4) is None


def test_multimodal_png_filters_roundtrip():
    """Unfiltering handles Sub/Up/Average/Paeth: re-encode a gradient
    with each filter type and check identical pixel stats."""
    import struct as st
    import zlib as zl

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_png,
    )

    width, height = 6, 4
    # gradient pixels, 3 channels
    rows = [
        bytes((x * 40 + c * 10 + y * 5) % 256 for x in range(width) for c in range(3))
        for y in range(height)
    ]

    def encode(filter_type):
        def chunk(ctype, data):
            body = ctype + data
            return st.pack(">I", len(data)) + body + st.pack(
                ">I", zl.crc32(body) & 0xFFFFFFFF
            )

        stride = width * 3
        out = bytearray()
        prev = bytearray(stride)
        for r in rows:
            line = bytearray(r)
            enc = bytearray(line)
            if filter_type == 1:
                for i in range(stride - 1, 2, -1):
                    enc[i] = (line[i] - line[i - 3]) & 0xFF
            elif filter_type == 2:
                for i in range(stride):
                    enc[i] = (line[i] - prev[i]) & 0xFF
            elif filter_type == 3:
                for i in range(stride):
                    a = line[i - 3] if i >= 3 else 0
                    enc[i] = (line[i] - (a + prev[i]) // 2) & 0xFF
            elif filter_type == 4:
                for i in range(stride):
                    a = line[i - 3] if i >= 3 else 0
                    b = prev[i]
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                    enc[i] = (line[i] - pred) & 0xFF
            out.append(filter_type)
            out.extend(enc)
            prev = line
        ihdr = st.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zl.compress(bytes(out)))
            + chunk(b"IEND", b"")
        )

    baseline = _decode_png(encode(0), feat_dim=8)
    assert baseline is not None
    for ftype in (1, 2, 3, 4):
        got = _decode_png(encode(ftype), feat_dim=8)
        assert got is not None
        assert got["features"] == baseline["features"], f"filter {ftype}"
        assert (got["width"], got["height"]) == (width, height)


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [(1, "video", bytearray(b"v" * 100), None), (2, "image", bytearray(b"i"), None)],
        M.ASSET_SCHEMA,
    )
    out = M.frame_sample_plan(assets, every_n=10, max_frames=4).collect()
    ids = {r["asset_id"] for r in out}
    assert ids == {1}  # images filtered out
    assert len(out) == 4
    assert [r["frame_offset"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [
        0, 10, 20, 30,
    ]


def test_lsh_persisted_index_matches_in_memory(spark, tmp_path):
    """The persisted LSH index (build-once parquet) returns exactly
    the in-memory lsh_topk results — same seed-derived hyperplanes,
    same probe logic."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(5))
    # non-default seed: proves the query path derives its hyperplanes
    # from the index's _lsh_meta dataset, not from caller defaults
    in_mem = sorted(
        tuple(r)
        for r in S.lsh_topk(emb, query_ids=qids, k=3, seed=7).collect()
    )
    path = str(tmp_path / "lsh_index")
    S.lsh_index_write(emb, path, seed=7)
    from_idx = sorted(
        tuple(r)
        for r in S.lsh_topk_from_index(
            spark, path, emb, query_ids=qids, k=3
        ).collect()
    )
    assert from_idx == in_mem and len(in_mem) > 0
    # dim mismatch is refused loudly, not silently wrong
    import pytest as _pytest

    with _pytest.raises(ValueError, match="built for dim"):
        S.lsh_topk_from_index(
            spark, path, emb, query_ids=qids, dim=9999, k=3
        )


def test_decontam_ngram_overlap(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        decontam as DC,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 5-gram "quick brown fox jumps over"
            (1, "she saw the quick brown fox jumps over a fence yesterday"),
            # shares words but no 5-gram run
            (2, "the dog was lazy and brown but never quick at all"),
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in DC.ngram_overlap(corpus, bench, n=5).collect()
    }
    assert out[1][1] is True and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    # hashed join mode flags the same documents
    hashed = {
        r["doc_id"]: r["contaminated"]
        for r in DC.ngram_overlap(corpus, bench, n=5, hashed=True).collect()
    }
    assert hashed == {k: v[1] for k, v in out.items()}


def test_redact_pii(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.org or 192.168.0.1 ok"),
            (2, "call 555-867-5309 x2 and 555 123 4567 now"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in X.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<IPV4>" in out[1]["redacted"]
    assert "example.org" not in out[1]["redacted"]
    assert out[2]["n_phone"] == 2
    assert out[2]["redacted"].count("<PHONE>") == 2
    assert out[3]["redacted"] == "no pii here at all"


def test_pack_sequences_invariants(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P,
    )

    rows = [(i, " ".join(["w"] * (5 + (i * 7) % 40))) for i in range(50)]
    rows.append((99, " ".join(["w"] * 300)))  # oversize vs budget 64
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = P.pack_sequences(df, max_tokens=64).collect()
    assert len(packed) == 51  # every doc exactly once
    assert len({r["doc_id"] for r in packed}) == 51
    by_pack = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pack_id, members in by_pack.items():
        # pack_id is the min doc_id of its members
        assert pack_id == min(m["doc_id"] for m in members)
        if len(members) > 1:
            assert sum(m["n_tokens"] for m in members) <= 64
            assert not any(m["oversize"] for m in members)
    oversize = [r for r in packed if r["oversize"]]
    assert [r["doc_id"] for r in oversize] == [99]
    assert len(by_pack[99]) == 1
    # invariant gate row
    inv = P.packing_invariants(
        P.pack_sequences(df, max_tokens=64), 64
    ).collect()[0]
    assert inv["n_docs"] == 51
    assert inv["packs_within_budget"] and inv["docs_packed_once"]
    # packing is dense: ~total/budget packs plus ≤1 partial pack per
    # partition (8), far under one pack per doc
    total = sum(r["n_tokens"] for r in packed if not r["oversize"])
    assert len(by_pack) - 1 <= total // 64 + 8 + 1  # -1: oversize pack


def test_pack_sequences_adaptive_fanout_and_density(spark):
    """Default fan-out derives from corpus size (floor 8 at fixture
    scale); higher explicit fan-out keeps every invariant and costs
    at most one extra partial pack per partition of density."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P,
    )

    rows = [(i, " ".join(["w"] * (5 + (i * 7) % 40))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # adaptive default == floor fan-out at this scale
    got_default = P.pack_sequences(df, max_tokens=64).collect()
    got_8 = P.pack_sequences(df, max_tokens=64, n_partitions=8).collect()
    assert sorted(map(tuple, got_default)) == sorted(map(tuple, got_8))
    total = sum(r["n_tokens"] for r in got_8)
    n_packs_at = {}
    for n_parts in (8, 32):
        packed = P.pack_sequences(
            df, max_tokens=64, n_partitions=n_parts
        ).collect()
        assert len(packed) == 200
        n_packs_at[n_parts] = len({r["pack_id"] for r in packed})
        # greedy single-open-pack guarantee: a closed pack plus the
        # doc that closed it exceed the budget → ≥50% density, plus
        # one partial pack per partition
        assert n_packs_at[n_parts] <= 2 * -(-total // 64) + n_parts
        inv = P.packing_invariants(
            P.pack_sequences(df, max_tokens=64, n_partitions=n_parts), 64
        ).collect()[0]
        assert inv["packs_within_budget"] and inv["docs_packed_once"]
    # 4x the fan-out costs at most the extra partial packs, not a
    # density collapse
    assert n_packs_at[32] - n_packs_at[8] <= 24


def test_packing_invariants_empty_input(spark):
    """Empty corpus degrades to a vacuous pass (TRUE flags), matching
    the oracle's literal TRUE — not NULL from min-over-zero-rows."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P,
    )

    df = spark.createDataFrame([], "doc_id long, text string")
    inv = P.packing_invariants(
        P.pack_sequences(df, max_tokens=64, n_partitions=2), 64
    ).collect()[0]
    assert inv["n_docs"] == 0
    assert inv["packs_within_budget"] is True
    assert inv["docs_packed_once"] is True


def test_entry_caches_evict_stale_sessions(spark):
    """The per-(session, sf) frame caches drop entries whose session
    has STOPPED, while live sibling sessions (shared context) keep
    their entries — no thrash, no dead-session pinning."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    try:
        E._t(spark, sf, "region")
        sibling = spark.newSession()
        E._t(sibling, sf, "region")
        # both LIVE sessions coexist in the cache
        owners = {k[0] for k in E._TABLE_CACHE}
        assert {id(spark), id(sibling)} <= owners

        class _DeadSession:  # sparkContext access raises → stopped
            @property
            def sparkContext(self):
                raise RuntimeError("stopped")

        E._TABLE_CACHE[(123456, sf, "fake")] = (_DeadSession(), None)
        E._t(spark, sf, "region")  # any access sweeps dead entries
        assert (123456, sf, "fake") not in E._TABLE_CACHE
        assert any(k[0] == id(sibling) for k in E._TABLE_CACHE)
    finally:
        E._TABLE_CACHE.clear()


def test_session_window_boundary_merges(spark):
    """Spark's native session_window MERGES an event landing exactly
    at the previous session's close boundary (gap == exactly the
    window size) — the oracle must use a strict > on the gap. Pinned
    after a review found the >= form latent-wrong (no exact-gap rows
    in the fixtures)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),  # exactly at close: merges
        (1, t0 + dt.timedelta(minutes=90)),  # 60-min gap: new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .orderBy("w.start")
        .collect()
    )
    assert [r["n"] for r in out] == [2, 1]
    assert out[0]["w"]["end"] == t0 + dt.timedelta(minutes=60)


def test_repetition_signals(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),  # heavy repetition
            (2, "each word here appears exactly once today"),
            (3, "hi"),  # < n tokens: one whole-text gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in X.repetition_signals(df, n=2).collect()}
    # doc 1: 7 bigram slots; "buy now" appears 4x, distinct grams
    # are {"buy now", "now buy"}
    assert out[1]["n_ngrams"] == 7
    assert out[1]["top_ngram_frac"] == round(4 / 7, 6)
    assert out[1]["dup_ngram_frac"] == round((7 - 2) / 7, 6)
    # doc 2: all bigrams unique
    assert out[2]["top_ngram_frac"] == round(1 / 6, 6)
    assert out[2]["dup_ngram_frac"] == 0.0
    # doc 3: single whole-text gram
    assert out[3]["n_ngrams"] == 1 and out[3]["top_ngram_frac"] == 1.0


def test_boilerplate_ngrams(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    footer = "subscribe to our newsletter"
    rows = [(i, f"unique words {i} only here {footer}") for i in range(20)]
    rows += [(100 + i, f"totally different content {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["ngram"]: r for r in X.boilerplate_ngrams(
        df, n=3, min_doc_frac=0.5
    ).collect()}
    # every 3-gram of the footer crosses the 50% doc-frequency bar
    assert "subscribe to our" in out and "to our newsletter" in out
    assert out["subscribe to our"]["doc_freq"] == 20
    assert out["subscribe to our"]["doc_frac"] == 0.8
    # per-doc uniqueness: repeating an n-gram within one doc counts once
    rep = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "other text entirely")],
        "doc_id long, text string",
    )
    rep_out = X.boilerplate_ngrams(rep, n=3, min_doc_frac=0.4).collect()
    assert {r["doc_freq"] for r in rep_out} == {1}


def test_pack_sequences_randomized_invariants(spark):
    """Seeded randomized corpora: the packing invariants hold for any
    mix of tiny/large/oversize docs and any partition count."""
    import random

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as P,
    )

    rng = random.Random(0)
    for trial in range(3):
        budget = rng.choice([32, 100, 256])
        n_docs = rng.randint(1, 120)
        rows = [
            (i, " ".join(["w"] * rng.randint(1, budget * 2)))
            for i in range(n_docs)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        packed = P.pack_sequences(
            df, max_tokens=budget, n_partitions=rng.choice([1, 3, 8])
        ).collect()
        assert len(packed) == n_docs
        assert len({r["doc_id"] for r in packed}) == n_docs
        by_pack = {}
        for r in packed:
            by_pack.setdefault(r["pack_id"], []).append(r)
        for members in by_pack.values():
            if len(members) > 1:
                assert sum(m["n_tokens"] for m in members) <= budget
            for m in members:
                assert m["oversize"] == (m["n_tokens"] > budget)
                if m["oversize"]:
                    assert len(members) == 1


def test_mixing_weighted_sample(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    rows = [(i, "t", "en" if i < 800 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    frs = {"en": 0.25, "fr": 1.0}
    sampled = MX.weighted_sample(df, frs).collect()
    by_lang = {}
    for r in sampled:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    # fr kept whole, en downsampled near its rate (hash Bernoulli)
    assert len(by_lang["fr"]) == 200
    assert 120 <= len(by_lang["en"]) <= 280
    # deterministic: same rows on a different partitioning
    again = {
        r["doc_id"]
        for r in MX.weighted_sample(df.repartition(7), frs).collect()
    }
    assert again == {r["doc_id"] for r in sampled}
    # report matches filter counts, one scan
    rep = {r["lang"]: r for r in MX.mix_report(df, frs).collect()}
    assert rep["en"]["n_sampled"] == len(by_lang["en"])
    assert rep["fr"]["realized_rate"] == 1.0


def test_mixing_hash_no_overflow_at_bigint_scale(spark):
    """hash32 must be exact for doc_ids far beyond 2^32 — the naive
    (key * K) % 2^32 overflows bigint there (runtime error under
    Spark's default ANSI mode). Pin against Python's arbitrary-
    precision arithmetic at keys near 2^62, and pin that the two-limb
    form left fixture-scale hashes unchanged."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    big = 2**62
    keys = [0, 1, 12345, 2**31 - 1, 2**32 + 7, big - 3, big, big + 12345]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", MX.hash32_expr("doc_id").alias("h")
        ).collect()
    }
    for k in keys:
        assert got[k] == (k * 2654435761) % 2**32, k
    # filter runs clean under ANSI at extreme keys
    n = df.filter(MX.keep_fraction_expr("doc_id", 0.5)).count()
    assert 0 <= n <= len(keys)


def test_mixing_temperature_fractions():
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.mixing import (
        temperature_fractions,
    )

    counts = {"en": 8000, "fr": 1000, "zh": 1000}
    # T=1: proportional — each domain sampled at the same rate
    t1 = temperature_fractions(counts, 1.0, target_total=5000)
    assert t1["en"] == pytest.approx(t1["fr"]) == pytest.approx(t1["zh"])
    # T→0: uniform target — tail domains sampled at higher rates,
    # equal absolute counts until they saturate at 1.0
    t0 = temperature_fractions(counts, 1e-9, target_total=3000)
    assert t0["fr"] == pytest.approx(1.0)  # min(1, 1000/1000)
    assert t0["en"] == pytest.approx(1000 / 8000, rel=1e-3)
    # expected sampled totals never exceed the target
    for t in (0.3, 0.7, 1.0):
        fr = temperature_fractions(counts, t, target_total=4000)
        assert sum(fr[d] * counts[d] for d in counts) <= 4000 * 1.001


def test_combined_signatures_match_individual_passes(spark, docs):
    """The one-pass combined signature frame is bit-identical to the
    three single-sketch operators (same per-doc kernels)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        signatures as G,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    sig = G.combined_signatures(
        docs, n=3, num_hashes=64, bands=32, k=16, window=8
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(G.bands_view(sig)) == rows(
        D.minhash_bands(docs, n=3, num_hashes=64, bands=32)
    )
    assert rows(G.simhash_view(sig)) == rows(D.simhash_df(docs))
    assert rows(G.winnow_view(sig, with_counts=True)) == rows(
        X.winnow_fingerprints(docs, k=16, window=8, with_counts=True)
    )


def test_connected_components_chain_triangle_pair(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round),
    # triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_matches_union_find(spark):
    """Property check on random graphs: the distributed min-label
    propagation must agree with a driver-side union-find."""
    import random

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(42)
    for trial in range(3):
        n_nodes, n_edges = 30, 25
        edges = [
            tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        in_graph = {v for e in edges for v in e}
        expected = {}
        for v in in_graph:
            root = find(v)
            expected[v] = min(u for u in in_graph if find(u) == root)

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial}"


def test_audio_chunk_plan_offsets(spark):
    assets = spark.createDataFrame(
        [
            (1, "audio", bytearray(40_000), {}),
            (2, "video", bytearray(100), {}),
        ],
        M.ASSET_SCHEMA,
    )
    chunks = M.audio_chunk_plan(assets, chunk_ms=1000, bytes_per_ms=16).collect()
    # 40_000 bytes / 16_000 per chunk -> 3 chunks (last one partial)
    assert [r["chunk_idx"] for r in chunks] == [0, 1, 2]
    assert [(r["byte_start"], r["byte_end"]) for r in chunks] == [
        (0, 16000), (16000, 32000), (32000, 40000),
    ]
    assert all(r["asset_id"] == 1 for r in chunks)  # video filtered out


def test_signature_ops_on_empty_and_degenerate_docs(spark):
    """Empty frames and empty/whitespace/1-char docs must not crash
    any signature operator — the batch shapes these produce (empty
    Arrow batches, zero-length grams) are exactly what a 100 TB
    corpus's stragglers look like."""
    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    weird = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x"), (4, None), (5, "a b")], schema
    )

    assert D.minhash_lsh_dedup(empty, threshold=0.5).count() == 0
    assert X.winnow_fingerprints(empty).count() == 0
    assert D.simhash_dedup(empty).count() == 0
    assert D.ngram_jaccard_pairs(empty).count() == 0

    # Degenerate docs: must complete; empty-ish docs may legitimately
    # pair with each other, never crash.
    D.minhash_lsh_dedup(weird, threshold=0.9).count()
    X.winnow_fingerprints(weird).count()
    D.simhash_dedup(weird).count()
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        connected_components,
    )
    assert connected_components(
        spark.createDataFrame([], "id_a long, id_b long")
    ).count() == 0


def test_approx_quantile_within_bound(spark):
    """The approx_quantile_orders gate now self-verifies: it emits a
    within_rank_bounds flag (GK sketch answer inside the ±0.005 rank
    window of the exact distribution) plus the exact median. Pin that
    the flag holds on the sf0.001 fixture and the median matches an
    independently computed exact percentile."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet")
    got = {
        r["o_orderpriority"]: r
        for r in entry.queries()["approx_quantile_orders"](spark, sf).collect()
    }
    exact = {
        r["o_orderpriority"]: r["m"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("m"))
        .collect()
    }
    assert set(got) == set(exact) and len(got) == 5
    for prio, row in got.items():
        assert row["within_rank_bounds"] is True, prio
        assert row["exact_median"] == exact[prio], prio


def test_signatures_partitioning_independent(spark, docs):
    """The dedup signatures claim partitioning-independence (blake2b
    base hashes, no rand()) — pin it: 1-partition and 7-partition
    runs of the same corpus must emit identical signature sets."""
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    one = docs.repartition(1)
    many = docs.repartition(7)
    assert rows(D.minhash_bands(one)) == rows(D.minhash_bands(many))
    assert rows(D.simhash_df(one)) == rows(D.simhash_df(many))
    assert rows(X.winnow_fingerprints(one)) == rows(X.winnow_fingerprints(many))


def test_cosine_near_dup_lsh_recall_vs_exact(spark):
    """Multi-table adaptive LSH blocking: every emitted pair passes
    the exact cosine filter (precision 1), and recall of the exact
    truth set at the near-dup threshold stays high (OR-construction
    over 4 tables)."""
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(60, 16))
    rows = []
    vid = 0
    for v in base:
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        dup = v + rng.normal(scale=0.05, size=16)  # cosine ≈ 0.996
        rows.append((vid, [float(x) for x in dup]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    truth = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.9, exact=True).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.9).collect()
    }
    assert got <= truth  # exact-cosine filter → perfect precision
    assert len(truth) >= 60  # every planted dup pair is in truth
    assert len(got) / len(truth) >= 0.7


def test_label_spectrum_known_covariance(spark):
    """applyInPandas eigen operator on a hand-built group: vectors
    along one axis → top eigenvalue = that axis variance, trace equals
    it, second eigenvalue 0."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.similarity import (
        label_spectrum,
    )

    rows = [(1, [float(x), 0.0]) for x in (0, 2, 4, 6)] + [(2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {r["label"]: r for r in label_spectrum(df, top_k=2).collect()}
    # variance of [0,2,4,6] (ddof=1) = 20/3
    assert abs(got[1]["cov_trace"] - 20 / 3) < 1e-4
    assert abs(got[1]["top_eigs"][0] - 20 / 3) < 1e-4
    assert abs(got[1]["top_eigs"][1]) < 1e-9
    assert got[2]["n_vectors"] == 1 and got[2]["cov_trace"] == 0.0


def test_label_spectrum_giant_label_multi_partition(spark):
    """Two-phase moments path: a label spread over many partitions
    (so mapInPandas emits many partials) must merge to exactly the
    covariance numpy computes on the full matrix — no bounded-group
    assumption. Also pins partition-count invariance."""
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.similarity import (
        label_spectrum,
    )

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(2000, 8)) @ np.diag([3, 2, 1, 1, 1, 1, 1, 1])
    rows = [(7, [float(x) for x in v]) for v in mat]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    # float32 storage on the Spark side → compare against float32-
    # rounded input, not the float64 originals
    mat32 = mat.astype(np.float32).astype(np.float64)
    cov = np.cov(mat32, rowvar=False)
    want_eigs = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]

    for n_parts in (1, 16):
        got = label_spectrum(df.repartition(n_parts), top_k=3).collect()
        assert len(got) == 1 and got[0]["n_vectors"] == 2000
        assert abs(got[0]["cov_trace"] - np.trace(cov)) < 1e-6
        for g, w in zip(got[0]["top_eigs"], want_eigs):
            assert abs(g - w) < 1e-6


def test_winnow_moss_guarantee(spark):
    """Winnowing's defining property: two documents sharing a
    substring of length >= k + window - 1 MUST share at least one
    fingerprint (MOSS). Randomized trials with k=8, window=4 →
    guarantee threshold 11 chars."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefgh"
    k, window = 8, 4
    cases = []
    for i in range(12):
        shared = "".join(rng.choice(alphabet) for _ in range(rng.randint(11, 30)))
        pre_a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        suf_a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        pre_b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        suf_b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        cases.append((2 * i, pre_a + shared + suf_a))
        cases.append((2 * i + 1, pre_b + shared + suf_b))

    df = spark.createDataFrame(cases, "doc_id long, text string")
    fps = X.winnow_fingerprints(df, k=k, window=window).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for i in range(12):
        a, b = by_doc[2 * i], by_doc[2 * i + 1]
        assert a & b, f"case {i}: no shared fingerprint despite shared substring"


def test_connected_components_long_chain(spark):
    """Pointer jumping must collapse a 64-node path in O(log n)
    rounds — plain neighbor propagation would need 63 and silently
    truncate at max_iter."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_range_join_narrow_bins_not_lossy(spark):
    """A bin_width narrower than the window span must still find
    matches in MIDDLE bins (endpoint-only probing would drop them)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        range_join,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], ["k", "lts"]
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    # right events at +10s, +45s, +80s — with window [0, 90] and
    # bin_width=30 the +45s row lands in a middle bin.
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:10"), (1, "2024-01-01 10:00:45"),
         (1, "2024-01-01 10:01:20"), (1, "2024-01-01 10:05:00")],
        ["k", "rts"],
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    got = range_join(
        left, right, ["k"], "lts", "rts", lower=0, upper=90, bin_width=30
    ).select("rts").collect()
    secs = sorted(r["rts"].second + 60 * r["rts"].minute for r in got)
    assert secs == [10, 45, 80]  # +10s, +45s (middle bin), +80s; +300s out


def test_minhash_bands_rejects_uneven_banding(spark, docs):
    with pytest.raises(ValueError, match="divide evenly"):
        D.minhash_bands(docs, num_hashes=64, bands=30)


def test_bucket_pairs_giant_bucket_guard(spark):
    """Adversarial corpus: many identical docs collapse into one LSH
    bucket per band. Above max_bucket_members the guard must emit a
    star (O(m) pairs) instead of all combinations (O(m²)), while
    keeping connectivity — every doc still lands in one cluster."""
    n_docs = 1000
    rows = [(i, "same exact adversarial text repeated everywhere") for i in range(n_docs)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs_df = D.minhash_lsh_dedup(
        docs, n=3, num_hashes=64, bands=32, threshold=0.5,
        max_bucket_members=64,
    )
    pairs = pairs_df.collect()
    # star expansion: exactly m-1 pairs, all anchored at the min id
    assert len(pairs) == n_docs - 1
    assert all(r["id_a"] == 0 for r in pairs)
    assert all(r["jaccard"] == 1.0 for r in pairs)

    # connectivity preserved: one cluster holding every doc
    clusters = D.connected_components(pairs_df).collect()
    assert len(clusters) == n_docs
    assert {r["cluster_id"] for r in clusters} == {0}


def test_bucket_pairs_full_expansion_below_cap(spark):
    """Buckets at or under the cap keep exhaustive pair expansion;
    cap=None is unconditional full expansion."""
    m = 30
    docs = spark.createDataFrame(
        [(i, "identical little doc body here") for i in range(m)],
        "doc_id long, text string",
    )
    capped = D.minhash_lsh_dedup(
        docs, bands=32, threshold=0.5, max_bucket_members=m
    ).count()
    uncapped = D.minhash_lsh_dedup(
        docs, bands=32, threshold=0.5, max_bucket_members=None
    ).count()
    assert capped == uncapped == m * (m - 1) // 2


def test_simhash_signature_computed_once(spark, docs):
    """The persisted signature frame must feed BOTH sides of the
    blocked self-join from cache: the executed plan reads the Arrow
    signature stage via InMemoryTableScan, not two MapInPandas runs."""
    out = D.simhash_dedup(docs, max_hamming=6)
    out.count()  # materialize so the cache is populated and planned in
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    # Every MapInPandas occurrence sits under an InMemoryRelation (the
    # cached stage's description) — none executes outside the cache.
    assert plan.count("MapInPandas") == plan.count("InMemoryRelation")
    spark.catalog.clearCache()


def test_incremental_minhash_matches_one_shot(spark, docs, tmp_path):
    """Arrival-order invariance: pairs from batch-wise incremental
    runs (band store carried between batches) must union to exactly
    the one-shot full-corpus pairs. The near-dup group {1, 2, 4}
    straddles the batch split, so cross-batch candidates are
    genuinely exercised."""
    store = str(tmp_path / "band_store")
    b1 = docs.filter(F.col("doc_id").isin(1, 3))       # doc 1 of the group
    b2 = docs.filter(F.col("doc_id").isin(2, 4, 5))    # docs 2, 4 arrive later

    kw = dict(n=3, num_hashes=64, bands=32, threshold=0.5)
    p1 = D.incremental_minhash_dedup(b1, store, old_docs=None, **kw)
    got1 = {(r["id_a"], r["id_b"]) for r in p1.collect()}
    p2 = D.incremental_minhash_dedup(b2, store, old_docs=b1, **kw)
    got2 = {(r["id_a"], r["id_b"]) for r in p2.collect()}

    full = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_dedup(docs, **kw).collect()
    }
    assert got1 | got2 == full
    assert got1 & got2 == set()          # no pair reported twice
    assert (1, 4) in got2                # cross-batch exact dup found
    assert (1, 2) in got2 and (2, 4) in got2


def test_incremental_minhash_giant_bucket_guard(spark, tmp_path):
    """Cross-batch candidates go through bucket_pairs, so the
    giant-bucket star guard bounds pair expansion to O(m) in the
    incremental path too, and clustering (connectivity) agrees with
    the one-shot result even when the guard fires."""
    n_docs, cap = 20, 8
    rows = [(i, "identical text repeated for every document here") for i in range(n_docs)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "band_store")
    b1 = docs.filter(F.col("doc_id") < 10)
    b2 = docs.filter(F.col("doc_id") >= 10)
    kw = dict(
        n=3, num_hashes=64, bands=32, threshold=0.5, max_bucket_members=cap
    )
    p1 = D.incremental_minhash_dedup(b1, store, old_docs=None, **kw)
    p2 = D.incremental_minhash_dedup(b2, store, old_docs=b1, **kw)
    union = p1.select("id_a", "id_b").unionByName(p2.select("id_a", "id_b"))
    n_union = union.count()
    # star pairing bounds the pair list far below C(20,2)=190
    assert n_union < 60
    # connectivity equivalence: everything still one cluster
    clusters = {
        r["cluster_id"]
        for r in D.connected_components(union, "id_a", "id_b").collect()
    }
    assert clusters == {0}
    one_shot = D.minhash_lsh_dedup(docs, **kw)
    oneshot_clusters = {
        r["cluster_id"]
        for r in D.connected_components(one_shot, "id_a", "id_b").collect()
    }
    assert oneshot_clusters == {0}


def test_incremental_minhash_dry_run_leaves_store(spark, docs, tmp_path):
    """update_store=False must not grow the band store."""
    store = str(tmp_path / "band_store")
    b1 = docs.filter(F.col("doc_id") <= 3)
    D.incremental_minhash_dedup(b1, store, threshold=0.5).collect()
    n_before = spark.read.parquet(store).count()
    b2 = docs.filter(F.col("doc_id") > 3)
    D.incremental_minhash_dedup(
        b2, store, old_docs=b1, threshold=0.5, update_store=False
    ).collect()
    assert spark.read.parquet(store).count() == n_before


# ------------------------------------------------------ entropy


def test_entropy_hand_computed(spark):
    import math

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    # "a a b": tokens a=2, b=1 (N=3); chars (lowered, incl spaces):
    # 'a'x2, 'b'x1, ' 'x2 (N=5)
    d = spark.createDataFrame([(1, "a a b"), (2, "")], ["doc_id", "text"])
    out = {r.doc_id: r for r in X.entropy_scores(d).collect()}

    def h(counts):
        n = sum(counts)
        q = lambda c: round(math.log(c) * 1e6)  # noqa: E731
        return round(math.log(n) - sum(c * q(c) for c in counts) / (n * 1e6), 6)

    assert out[1].n_tokens == 3
    assert out[1].token_entropy == pytest.approx(h([2, 1]), abs=1e-6)
    assert out[1].char_entropy == pytest.approx(h([2, 1, 2]), abs=1e-6)
    assert out[2].n_tokens == 0
    assert out[2].token_entropy is None and out[2].char_entropy is None


def test_entropy_extremes_and_partitioning_invariance(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    rows = [(0, "x x x x x x")] + [
        (i, " ".join(f"w{(i + j) % 13}" for j in range(30))) for i in range(1, 20)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    one = {
        r.doc_id: (r.token_entropy, r.char_entropy)
        for r in X.entropy_scores(d.coalesce(1)).collect()
    }
    many = {
        r.doc_id: (r.token_entropy, r.char_entropy)
        for r in X.entropy_scores(d.repartition(7)).collect()
    }
    assert one == many  # quantized-integer numerator -> bit-stable
    assert one[0][0] == 0.0  # all-same-token doc has zero token entropy
    assert all(v[0] > 0 for k, v in one.items() if k)  # varied docs don't


# ------------------------------------------------------ count-min


def test_cms_never_underestimates_and_exact_when_sparse(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        sketch as SK,
    )

    d = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d d d d")], ["doc_id", "text"]
    )
    out = {r.token: r for r in SK.heavy_hitters(d, top_k=10).collect()}
    exact = {"a": 4, "b": 3, "d": 4, "c": 1}
    assert {k: v.exact_n for k, v in out.items()} == exact
    assert all(r.never_underest for r in out.values())
    # width 512 >> 4 distinct tokens: no collisions, estimates exact
    assert all(r.cms_est == r.exact_n for r in out.values())


def test_cms_merge_equals_one_shot(spark):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        sketch as SK,
    )

    rows = [(i, " ".join(f"w{(i + j) % 7}" for j in range(20))) for i in range(12)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    whole = SK.cms_build(toks, depth=3, width=64)
    half1 = SK.cms_build(
        d.filter("doc_id < 6").select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
        ),
        depth=3,
        width=64,
    )
    half2 = SK.cms_build(
        d.filter("doc_id >= 6").select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
        ),
        depth=3,
        width=64,
    )
    merged = SK.cms_merge(half1, half2)
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b  # counts add cell-wise: shard-and-merge == one shot


def test_cms_probe_is_broadcast(spark):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        sketch as SK,
    )

    d = spark.createDataFrame([(1, "a b c a")], ["doc_id", "text"])
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    sk = SK.cms_build(toks, depth=2, width=32)
    plan = SK.cms_estimate(sk, toks.distinct(), depth=2, width=32)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # sketch side never shuffles the probe


def test_cms_probe_depth_mismatch_fails_closed(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        sketch as SK,
    )

    toks = spark.createDataFrame(
        [("a",), ("a",), ("b",)], ["token"]
    )
    sk = SK.cms_build(toks, depth=2, width=32)
    # probing DEEPER than the build must raise, not silently return 0
    with _pytest.raises(Exception, match="probe depth exceeds"):
        SK.cms_estimate(sk, toks.distinct(), depth=4, width=32).collect()
    # probing SHALLOWER is legal and still never underestimates
    out = {
        r.token: r.cms_est
        for r in SK.cms_estimate(
            sk, toks.distinct(), depth=1, width=32
        ).collect()
    }
    assert out["a"] >= 2 and out["b"] >= 1
    # empty sketch ⇒ all-zero estimates, no spurious assert
    empty = SK.cms_build(toks.filter(F.lit(False)), depth=2, width=32)
    out0 = SK.cms_estimate(empty, toks.distinct(), depth=2, width=32)
    assert all(r.cms_est == 0 for r in out0.collect())


# ------------------------------------------------------ dsir


def test_dsir_weights_separate_target_like_docs(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dsir as DS,
    )

    # Docs 0-9 speak vocab A (the target), 10-19 vocab B. DSIR
    # weights must rank every A doc above every B doc.
    rows = [
        (i, " ".join(f"a{(i + j) % 5}" for j in range(20))) for i in range(10)
    ] + [
        (i, " ".join(f"b{(i + j) % 5}" for j in range(20)))
        for i in range(10, 20)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    target = d.filter("doc_id < 10")
    w = {r.doc_id: r.logw for r in DS.importance_weights(d, target).collect()}
    assert min(w[i] for i in range(10)) > max(w[i] for i in range(10, 20))


def test_dsir_sample_deterministic_under_partitioning(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dsir as DS,
    )

    rows = [
        (i, " ".join(f"w{(i + j) % 11}" for j in range(25))) for i in range(40)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    target = d.filter("doc_id % 3 = 0")
    pick = lambda df: [  # noqa: E731
        (r.doc_id, r.logw, r.key) for r in DS.dsir_sample(df, target, 15).collect()
    ]
    a = pick(d.coalesce(1))
    b = pick(d.repartition(9))
    assert a == b  # quantized weights + derandomized Gumbel keys
    assert len(a) == 15
    assert [t[0] for t in a] == [
        t[0] for t in sorted(a, key=lambda t: (-t[2], t[0]))
    ]


def test_dsir_predicate_target_equals_dataframe_target(spark):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dsir as DS,
    )

    rows = [
        (i, " ".join(f"w{(i * 3 + j) % 9}" for j in range(15))) for i in range(25)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    via_df = sorted(
        map(tuple, DS.importance_weights(d, d.filter("doc_id % 4 = 0")).collect())
    )
    via_pred = sorted(
        map(tuple, DS.importance_weights(d, F.col("doc_id") % 4 == 0).collect())
    )
    assert via_df == via_pred  # one-scan conditional-count fast path


def test_gopher_filter_rules_fire_individually(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    stop = "the of and to in is that it for was"  # all glue words
    good = stop + " " + " ".join(f"word{i}x" for i in range(60))
    docs = [
        (0, good),  # passes every rule
        (1, "the of and"),  # too_short (has stopwords, short)
        (2, " ".join("supercalifragilistic" for _ in range(50)) + " " + stop),
        # ^ bad_token_len (avg len > 10) + repetitive
        (3, " ".join("1234 5678" for _ in range(25)) + " " + stop),
        # ^ low_alpha + repetitive
        (4, " ".join(f"zz{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(60))),
        # ^ low_stopword only (all-alpha unique words)
        (5, (stop + " ") * 20),  # repetitive (dup 2-grams) but stopwords ok
    ]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.gopher_filter(d).collect()}
    assert out[0].keep and out[0].reasons == ""
    assert not out[1].keep and "too_short" in out[1].reasons
    assert "bad_token_len" in out[2].reasons
    assert "low_alpha" in out[3].reasons
    assert out[4].reasons == "low_stopword"
    assert not out[5].keep and "repetitive" in out[5].reasons
    # reasons are sorted + comma-joined -> deterministic accounting key
    for r in out.values():
        parts = r.reasons.split(",") if r.reasons else []
        assert parts == sorted(parts)


def test_hopping_window_double_assignment(spark):
    import datetime

    from pyspark.sql import functions as F

    rows = [
        (datetime.datetime(2024, 1, 1, 10, m), "a", 1.0) for m in (0, 15, 40)
    ]
    d = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = (
        d.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    # every event covered by exactly dur/slide = 2 windows
    assert sum(r.n for r in out) == 2 * 3
    starts = sorted(r.w.start.minute for r in out)
    assert starts == [0, 30, 30, 0][: len(starts)] or len(out) == 3


def test_novelty_scores_extremes(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    d = spark.createDataFrame(
        [
            (0, "a b c d e f"),      # identical to doc 1 -> zero novelty
            (1, "a b c d e f"),
            (2, "p q r s t u"),      # fully unique -> novelty 1.0
            (3, "a b c x y z"),      # shares the 'a b c' shingle only
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in X.novelty_scores(d, n=3).collect()}
    assert out[0].novel_frac == 0.0 and out[1].novel_frac == 0.0
    assert out[2].novel_frac == 1.0
    assert out[3].n_shingles == 4 and out[3].n_novel == 3
    assert out[3].novel_frac == 0.75


def test_novelty_scores_short_docs_keep_their_row(spark):
    """A document shorter than n tokens has no n-gram: it falls back to
    ONE whole-text shingle (``ngrams_col``), as in the oracle. Pins
    the left join of the per-doc shingle counts onto the df=1 slice:
    a short doc whose gram another doc shares has no novel row to
    join, and must keep its row with n_novel 0, as the oracle's
    inner join over its shingles gives it."""
    import duckdb

    import __spark_entry__ as entry

    rows = [
        (0, "a b c d e f"),
        (1, "x y"),       # short, unique -> its one shingle is novel
        (2, "p q"),       # short, shared with doc 3 -> nothing novel
        (3, "p q"),
        (4, "solo"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novel_frac)
        for r in X.novelty_scores(d, n=3).collect()
    }
    assert got == {
        0: (4, 4, 1.0),
        1: (1, 1, 1.0),
        2: (1, 0, 0.0),
        3: (1, 0, 0.0),
        4: (1, 1, 1.0),
    }
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    oracle = {r[0]: tuple(r[1:]) for r in con.sql(entry.NOVELTY_SQL).fetchall()}
    assert oracle == got


def test_fuzzy_decontam_orientation_and_near_match(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        decontam as DC,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different words here entirely now"),
         (3, near)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    out = DC.fuzzy_decontam(corpus, bench, threshold=0.5).collect()
    got = {(r.doc_id, r.bench_id) for r in out}
    # doc 1 exact leak, doc 3 paraphrased leak; doc 2 clean.
    assert got == {(1, 100), (3, 100)}
    by_doc = {r.doc_id: r.jaccard for r in out}
    assert by_doc[1] == 1.0
    assert 0.5 <= by_doc[3] < 1.0


def test_dataset_card_slice_accounting(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    d = spark.createDataFrame(
        [
            (0, "en", "s1", "a b c"),
            (1, "en", "s1", "a a a a"),
            (2, "fr", "s2", "x y"),
        ],
        ["doc_id", "lang", "source", "text"],
    )
    out = {(r.lang, r.source): r for r in X.dataset_card(d).collect()}
    en = out[("en", "s1")]
    assert en.n_docs == 2 and en.n_tokens == 7
    assert en.min_tokens == 3 and en.max_tokens == 4
    assert en.median_tokens == 3.5
    # doc0 ratio 1.0, doc1 ratio 0.25 -> floor-mean 0.625
    assert en.avg_distinct_ratio == 0.625
    fr = out[("fr", "s2")]
    assert fr.n_docs == 1 and fr.avg_distinct_ratio == 1.0


def test_best_quality_representative_beats_min_id(spark):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dedup as D,
    )

    # cluster {1,2,3}: doc 3 is longest -> keep 3, not min-id 1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["id_a", "id_b"]
    )
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d e"), (9, "solo")],
        ["doc_id", "text"],
    )
    clusters = D.connected_components(pairs, "id_a", "id_b")
    out = (
        clusters.join(docs.select("doc_id", F.length("text").alias("_nc")), ["doc_id"])
        .groupBy("cluster_id")
        .agg(
            F.expr("max_by(doc_id, named_struct('nc', _nc, 'id', -doc_id))").alias("keep")
        )
        .collect()
    )
    assert {(r.cluster_id, r.keep) for r in out} == {(1, 3)}


def test_hll_incremental_distinct_invariants(spark):
    from pyspark.sql import functions as F

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        sketch as SK,
    )

    d = spark.createDataFrame(
        [(i % 2, i % 97, i) for i in range(2000)], ["g", "k", "seq"]
    )
    out = SK.hll_incremental_distinct(
        d, "g", "k", F.col("seq") % 5
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r.exact_distinct == 97
        assert r.union_within_2pct  # batch-union ~ one-shot
        assert r.within_5pct  # estimate near exact


def test_paragraph_dedup_modes(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dedup as D,
    )

    # delimiter mode: doc 2 repeats doc 1's paragraph A; doc 1
    # repeats its own B internally
    rows = [
        (1, "aaa x\n\nbbb y\n\nbbb y"),
        (2, "aaa x\n\nccc z"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in D.paragraph_dedup(d, delimiter="\n\n").collect()
    }
    assert out[1].n_paragraphs == 3 and out[1].n_kept == 2
    assert out[1].cleaned_text == "aaa x\n\nbbb y"
    assert out[2].n_paragraphs == 2 and out[2].n_kept == 1
    assert out[2].cleaned_text == "ccc z"

    # regex-metacharacter delimiters split LITERALLY
    dm = spark.createDataFrame(
        [(1, "aa||bb||aa"), (2, "bb||cc")], ["doc_id", "text"]
    )
    outm = {
        r.doc_id: r for r in D.paragraph_dedup(dm, delimiter="||").collect()
    }
    assert outm[1].n_paragraphs == 3 and outm[1].cleaned_text == "aa||bb"
    assert outm[2].n_paragraphs == 2 and outm[2].cleaned_text == "cc"
    dd = spark.createDataFrame([(1, "x.y.x")], ["doc_id", "text"])
    outd = D.paragraph_dedup(dd, delimiter=".").collect()[0]
    assert outd.n_paragraphs == 3 and outd.cleaned_text == "x.y"

    # chunk mode: 4-token chunks; doc 20 repeats doc 10's first chunk
    rows = [
        (10, "a b c d e f g h"),
        (20, "a b c d zz"),
    ]
    d2 = spark.createDataFrame(rows, ["doc_id", "text"])
    out2 = {
        r.doc_id: r
        for r in D.paragraph_dedup(d2, chunk_tokens=4).collect()
    }
    assert out2[10].n_paragraphs == 2 and out2[10].n_kept == 2
    assert out2[10].cleaned_text == "a b c d e f g h"
    assert out2[20].n_paragraphs == 2 and out2[20].n_kept == 1
    assert out2[20].cleaned_text == "zz"
    # deterministic under repartitioning
    again = {
        r.doc_id: r.cleaned_text
        for r in D.paragraph_dedup(
            d2.repartition(5), chunk_tokens=4
        ).collect()
    }
    assert again == {k: v.cleaned_text for k, v in out2.items()}


def test_pack_boundaries_manifest(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    # pre-packed frame: pack 1 holds docs 1(3 tok),2(4),5(2); pack 7
    # holds doc 7(10, oversize)
    rows = [
        (2, 4, 1, False),
        (5, 2, 1, False),
        (1, 3, 1, False),
        (7, 10, 7, True),
    ]
    packed = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, pack_id long, oversize boolean"
    )
    out = {r.pack_id: r for r in PK.pack_boundaries(packed).collect()}
    assert out[1].doc_ids == [1, 2, 5]
    assert out[1].boundaries == [3, 7, 9]  # cumulative end offsets
    assert out[1].total_tokens == 9 and out[1].n_docs == 3
    assert out[7].doc_ids == [7] and out[7].boundaries == [10]
    # deterministic under repartitioning
    again = {
        r.pack_id: (r.doc_ids, r.boundaries)
        for r in PK.pack_boundaries(packed.repartition(3)).collect()
    }
    assert again == {
        k: (v.doc_ids, v.boundaries) for k, v in out.items()
    }


def test_scalar_quantize_codes_and_reconstruction(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
    )

    rows = [
        (1, [0.0, -1.0, 5.0]),
        (2, [1.0, 1.0, 5.0]),  # dim 2 is constant
        (3, [0.5, 0.0, 5.0]),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, stats = PJ.scalar_quantize(d)
    got = {r.vec_id: r.qvec for r in codes.collect()}
    # dim0 range [0,1]: 0.0 -> 0, 1.0 -> clamped 255, 0.5 -> 127
    assert got[1][0] == 0 and got[2][0] == 255 and got[3][0] == 127
    # dim1 range [-1,1]: -1 -> 0, 1 -> 255, 0.0 -> 127
    assert got[1][1] == 0 and got[2][1] == 255 and got[3][1] == 127
    # constant dim codes to 0 everywhere
    assert all(got[i][2] == 0 for i in (1, 2, 3))
    # reconstruction error < per-dim scale; constant dim exact
    deq = PJ.dequantize_col(F.col("qvec"), F.col("_st"))
    rec = {
        r.vec_id: r.v
        for r in codes.crossJoin(F.broadcast(stats))
        .select("vec_id", deq.alias("v"))
        .collect()
    }
    for vid, vec in rows:
        for i, (orig, hat) in enumerate(zip(vec, rec[vid])):
            scale = [1.0 / 255, 2.0 / 255, 0.0][i]
            assert abs(orig - hat) <= scale + 1e-12, (vid, i)
    # deterministic under repartitioning
    codes2, _ = PJ.scalar_quantize(d.repartition(5))
    assert {r.vec_id: r.qvec for r in codes2.collect()} == got


def test_rp_project_drops_null_and_ragged_vectors(spark):
    """Dirty-input contract (ADVICE r06): null / wrong-length
    embeddings emit no output row instead of crashing np.stack, and
    clean rows still project exactly."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
    )

    d = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 1.0]),
            (2, None),            # null vector
            (3, [0.5, -0.25]),    # ragged (d_in=3 expected)
            (4, [1.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in PJ.rp_project(d, d_in=3, d_out=4).collect()}
    assert set(out) == {1, 4}
    signs = PJ.sign_matrix(3, 4)
    q1 = [500000, -250000, 1000000]
    for k in range(4):
        assert out[1][f"p{k}"] == sum(
            q * s for q, s in zip(q1, signs[k])
        )


def test_diversity_report_hand_computed(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    d = spark.createDataFrame(
        [(1, "en", "a b a b"), (2, "en", "a b"), (3, "fr", "x")],
        ["doc_id", "lang", "text"],
    )
    out = {
        (r.lang, r.n): r for r in X.diversity_report(d).collect()
    }
    # en unigrams: a,b,a,b,a,b -> 6 total, 2 distinct
    assert out[("en", 1)].total_ngrams == 6
    assert out[("en", 1)].distinct_ngrams == 2
    assert out[("en", 1)].distinct_ratio_q == 2 * 1_000_000 // 6
    # en bigrams: doc1 "a b","b a","a b" + doc2 "a b" -> 4 total, 2 distinct
    assert out[("en", 2)].total_ngrams == 4
    assert out[("en", 2)].distinct_ngrams == 2
    # fr doc has 1 token: n=2,3 fall back to the whole-text gram
    assert out[("fr", 2)].total_ngrams == 1
    assert out[("fr", 3)].distinct_ngrams == 1


def test_pmi_collocations_hand_computed(spark):
    import math

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    # "x y" always together (5x), "p q" never adjacent; filler tokens
    docs = ["x y p", "x y q", "x y p", "x y q", "x y r"]
    d = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = X.pmi_collocations(d, min_count=5, top_k=5).collect()
    # only (x,y) reaches min_count=5
    assert len(out) == 1
    r = out[0]
    assert (r.w1, r.w2) == ("x", "y") and r.n_pair == 5
    # N=15 tokens, M=10 bigrams, c_x=c_y=5:
    expect = math.log((5 / 10) / ((5 / 15) * (5 / 15)))
    assert r.pmi_q == round(expect * 1e6)


def test_source_overlap_matrix_hand_computed(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    # srcA and srcB share the shingle "a b c"; srcC shares nothing
    rows = [
        (1, "A", "a b c d"),   # shingles: "a b c", "b c d"
        (2, "B", "a b c"),     # shingle:  "a b c"
        (3, "C", "x y z"),     # shingle:  "x y z"
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {
        (r.source_a, r.source_b): r
        for r in X.source_overlap_matrix(d).collect()
    }
    ab = out[("A", "B")]
    assert ab.n_common == 1 and ab.n_a == 2 and ab.n_b == 1
    assert ab.overlap_q == 1_000_000  # |A∩B| / min = 1/1
    assert ("A", "C") not in out and ("B", "C") not in out  # zero rows


def test_zipf_slope_recovers_power_law(spark):
    """A corpus built with freq(rank r) = round(1000/r) must fit a
    slope near −1; a uniform corpus must fit a slope near 0."""
    rows = []
    for r in range(1, 31):
        rows.extend((i, f"w{r:02d}") for i in range(round(1000 / r)))
    d = spark.createDataFrame(rows, ["i", "text"])
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    out = X.zipf_slope(d, top_k=30).collect()[0]
    assert out.n_tokens_fit == 30
    assert abs(out.slope_q / 1e4 + 1.0) < 0.05
    uni = spark.createDataFrame(
        [(i, f"u{i % 20:02d}") for i in range(2000)], ["i", "text"]
    )
    out_u = X.zipf_slope(uni, top_k=20).collect()[0]
    assert abs(out_u.slope_q / 1e4) < 0.05


def test_chunk_documents_offsets_and_coverage(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    toks = [f"t{i}" for i in range(10)]
    d = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c")], ["doc_id", "text"]
    )
    out = sorted(
        PK.chunk_documents(d, chunk_size=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    c1 = [r for r in out if r.doc_id == 1]
    # 10 tokens, size 4, stride 3 -> ceil((10-4)/3)+1 = 3 chunks
    assert [r.start_token for r in c1] == [0, 3, 6]
    assert [r.n_tokens for r in c1] == [4, 4, 4]
    assert c1[0].chunk_text == "t0 t1 t2 t3"
    assert c1[2].chunk_text == "t6 t7 t8 t9"
    # every token position covered by >= 1 chunk; overlap = 1
    covered = set()
    for r in c1:
        covered |= set(range(r.start_token, r.start_token + r.n_tokens))
    assert covered == set(range(10))
    c2 = [r for r in out if r.doc_id == 2]
    assert len(c2) == 1 and c2[0].chunk_text == "a b c" and c2[0].n_tokens == 3
    # invalid stride rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        PK.chunk_documents(d, chunk_size=4, stride=5)


def test_weighted_exact_k_matches_python_reference(spark):
    """The A-ES sample must equal a Python recomputation of the same
    quantized rank formula (cross-impl determinism), drop nonpositive
    weights, and favor heavy rows in aggregate."""
    import math

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    MULT, MOD = 2654435761, 2**32
    rows = [(i, (i * 13) % 97 + 1 if i % 11 else 0) for i in range(500)]
    d = spark.createDataFrame(rows, ["doc_id", "w"])

    def rank_key(i, w):
        h = ((i % MOD) * MULT) % MOD
        return math.floor(math.log((h + 1) / MOD) / w * 1e6)

    expect = sorted(
        ((rank_key(i, w), i) for i, w in rows if w > 0),
        key=lambda t: (-t[0], t[1]),
    )[:40]
    got = MX.weighted_exact_k(d.repartition(7), 40, "w").collect()
    assert sorted(r.doc_id for r in got) == sorted(i for _, i in expect)
    # bias check: giant weight should (deterministically) be sampled
    d2 = spark.createDataFrame(
        [(i, 10**9 if i == 123 else 1) for i in range(400)],
        ["doc_id", "w"],
    )
    assert 123 in {
        r.doc_id for r in MX.weighted_exact_k(d2, 10, "w").collect()
    }


def test_leakage_safe_split_clusters_never_straddle(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        dedup as D,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], ["doc_id"]
    )
    # two chains + one triangle + singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (50, 51), (60, 61), (61, 62), (60, 62)],
        ["id_a", "id_b"],
    )
    out = D.leakage_safe_split(docs, pairs, test_fraction=0.3).collect()
    assert len(out) == 200
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # invariant: one side per cluster
    assert all(len(s) == 1 for s in by_cluster.values())
    # linked docs share a cluster (and hence a side)
    m = {r.doc_id: r for r in out}
    assert m[1].cluster_id == m[2].cluster_id == m[3].cluster_id == 1
    assert m[60].cluster_id == m[61].cluster_id == m[62].cluster_id == 60
    # singleton docs cluster to themselves
    assert m[100].cluster_id == 100
    # both sides populated at 30%
    splits = {r.split for r in out}
    assert splits == {"train", "test"}
    # deterministic under repartitioning
    again = {
        r.doc_id: (r.cluster_id, r.split)
        for r in D.leakage_safe_split(
            docs.repartition(9), pairs, test_fraction=0.3
        ).collect()
    }
    assert again == {r.doc_id: (r.cluster_id, r.split) for r in out}


def test_token_budget_sample_fills_each_budget(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    rows = [(i, "en" if i % 2 == 0 else "fr", "w " * 10) for i in range(40)]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = MX.token_budget_sample(d, {"en": 45, "fr": 100}).collect()
    by = {}
    for r in out:
        by.setdefault(r.lang, []).append(r)
    # each doc has 10 tokens: en budget 45 -> 5 docs (last overshoots),
    # fr budget 100 -> exactly 10 docs
    assert len(by["en"]) == 5 and sum(r.n_tokens for r in by["en"]) == 50
    assert len(by["fr"]) == 10 and sum(r.n_tokens for r in by["fr"]) == 100
    # deterministic under repartitioning
    again = sorted(
        (r.doc_id, r.lang)
        for r in MX.token_budget_sample(
            d.repartition(7), {"en": 45, "fr": 100}
        ).collect()
    )
    assert again == sorted((r.doc_id, r.lang) for r in out)


def test_token_budget_two_phase_equals_one_stage(spark):
    """The de-skewed (domain,bucket)-window form must be bit-identical
    to the naive single-window-per-domain greedy, for skewed domains,
    budgets above/below/at the domain total, and tiny bucket counts
    (1 bit => 2 buckets forces multi-bucket offsets to matter)."""
    from pyspark.sql import Window

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.dedup import (
        tokens_col,
    )

    def one_stage(d, budgets):
        doms = list(budgets)
        bm = F.create_map(
            *[x for k in doms for x in (F.lit(k), F.lit(int(budgets[k])))]
        )
        w = (
            Window.partitionBy("lang")
            .orderBy(MX.hash32_expr("doc_id"), "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            d.filter(F.col("lang").isin(doms))
            .withColumn("_nt", F.size(tokens_col("text")).cast("bigint"))
            .withColumn(
                "_before", F.coalesce(F.sum("_nt").over(w), F.lit(0))
            )
            .filter(F.col("_before") < bm[F.col("lang")])
            .select(
                "doc_id",
                "lang",
                F.col("_nt").alias("n_tokens"),
                F.col("_before").alias("tokens_before"),
            )
        )

    # skewed corpus: 900 en docs, 90 fr, 10 de, variable lengths
    rows = []
    for i in range(1000):
        lang = "en" if i < 900 else ("fr" if i < 990 else "de")
        rows.append((i, lang, "tok " * (1 + (i * 7) % 13)))
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    for budgets in (
        {"en": 500, "fr": 200, "de": 10**9},  # partial / partial / all
        {"en": 1, "de": 0},  # first-doc-only / zero budget
        {"fr": 631},  # odd boundary
    ):
        want = sorted(map(tuple, one_stage(d, budgets).collect()))
        for bits in (1, 4, 8):
            got = sorted(
                map(
                    tuple,
                    MX.token_budget_sample(
                        d.repartition(5), budgets, n_bucket_bits=bits
                    ).collect(),
                )
            )
            assert got == want, (budgets, bits)
    # empty corpus path
    assert (
        MX.token_budget_sample(d.filter(F.lit(False)), {"en": 10}).count()
        == 0
    )


def test_multimodal_gif_lzw_pixel_decode():
    import struct

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_gif,
    )

    def encode_gif(indices, w, h, palette):
        # minimal GIF89a writer: one image, global color table, and
        # an LZW stream that emits CLEAR before every literal (valid
        # per spec, no string table needed)
        min_code = 2
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        acc = nbits = 0
        out = bytearray()
        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        for i in indices:
            put(clear)
            put(i)
        put(eoi)
        if nbits:
            out.append(acc & 0xFF)
        pal = b"".join(bytes(c) for c in palette)
        hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
        img = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        lzw = bytes([min_code]) + bytes([len(out)]) + bytes(out) + b"\x00"
        return hdr + pal + img + lzw + b"\x3b"

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    gif = encode_gif([0, 1, 2, 3], 2, 2, palette)
    got = _decode_gif(gif, feat_dim=6)
    assert got is not None
    assert got["width"] == 2 and got["height"] == 2
    f = got["features"]
    # per-channel means are all 127.5/255; std 0.5; min 0; max 1
    assert all(abs(x - 0.5) < 1e-6 for x in f[:4])
    assert f[4] == 0.0 and f[5] == 1.0

    # truncated stream degrades to None (dispatch then falls back)
    assert _decode_gif(gif[:20], 6) is None

    # a stream whose LZW data ends early (EOI but < w*h pixels) must
    # ALSO fall back — never full-frame stats over a partial buffer
    short = encode_gif([0, 1], 2, 2, palette)  # promises 4, carries 2
    assert _decode_gif(short, 6) is None


def test_multimodal_gif_interlaced_decode():
    import struct

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _decode_gif,
    )

    def encode_gif(indices, w, h, palette, interlaced=False):
        min_code = 2
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        acc = nbits = 0
        out = bytearray()

        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for i in indices:
            put(clear)
            put(i)
        put(eoi)
        if nbits:
            out.append(acc & 0xFF)
        pal = b"".join(bytes(c) for c in palette)
        hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
        flags = 0x40 if interlaced else 0x00
        img = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([flags])
        lzw = bytes([min_code]) + bytes([len(out)]) + bytes(out) + b"\x00"
        return hdr + pal + img + lzw + b"\x3b"

    palette = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    # 2x5 image, row r is solid color r%4: scanline order rows 0..4
    rows = [[r % 4, r % 4] for r in range(5)]
    flat = [i for row in rows for i in row]
    plain = _decode_gif(encode_gif(flat, 2, 5, palette), feat_dim=8)
    # interlaced storage for h=5: pass order rows 0, 4, 2, then 1, 3
    inter_rows = [rows[0], rows[4], rows[2], rows[1], rows[3]]
    inter_flat = [i for row in inter_rows for i in row]
    inter = _decode_gif(
        encode_gif(inter_flat, 2, 5, palette, interlaced=True), feat_dim=8
    )
    assert plain is not None and inter is not None
    # same logical image ⇒ identical pixel features after deinterlace
    assert inter["features"] == plain["features"]
    assert inter["width"] == 2 and inter["height"] == 5

    # the row permutation itself (features above are order-blind):
    # GIF appendix-E pass order for h=5 is rows 0, 4, 2, 1, 3; h=11
    # exercises all four passes
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.multimodal import (
        _gif_interlace_order,
    )

    assert _gif_interlace_order(5) == [0, 4, 2, 1, 3]
    assert _gif_interlace_order(11) == [0, 8, 4, 2, 6, 10, 1, 3, 5, 7, 9]
    # every scanline appears exactly once for any height
    for h in (1, 2, 7, 8, 9, 16, 33):
        assert sorted(_gif_interlace_order(h)) == list(range(h))


# ------------------------------------------------- round-6 operators


def test_percentile_filter_by_group(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scoring as SC,
    )

    # two groups: a keeps top 25% of 8 docs = 2 (plus boundary
    # ties), b has a 3-way tie at the cutoff — all must survive
    rows = [(i, "a", i / 10.0) for i in range(1, 9)]
    rows += [(100, "b", 0.9), (101, "b", 0.5), (102, "b", 0.5),
             (103, "b", 0.5)]
    scored = spark.createDataFrame(
        rows, "doc_id long, source string, score double"
    )
    out = SC.percentile_filter_by_group(
        scored, keep_frac=0.25
    ).collect()
    kept = {r["doc_id"] for r in out if r["keep"]}
    # group a: ceil(0.25*8)=2 → docs 8, 7
    # group b: ceil(0.25*4)=1 → doc 100 only (0.9 > tie block)
    assert kept == {7, 8, 100}
    assert len(out) == 12  # every doc emitted with a flag


def test_percentile_filter_tie_inclusion(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scoring as SC,
    )

    scored = spark.createDataFrame(
        [(1, "a", 0.5), (2, "a", 0.5), (3, "a", 0.5), (4, "a", 0.1)],
        "doc_id long, source string, score double",
    )
    out = SC.percentile_filter_by_group(scored, keep_frac=0.25).collect()
    kept = {r["doc_id"] for r in out if r["keep"]}
    assert kept == {1, 2, 3}  # cutoff lands on the tie → all kept


def test_kneser_ney_bigrams_hand_check(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        lm as LM,
    )

    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )
    # bigrams: (a,b)x2, (b,a)x1, (a,c)x1
    out = {(r["w1"], r["w2"]): r for r in LM.kneser_ney_bigrams(d).collect()}
    ab = out[("a", "b")]
    assert ab["c2"] == 2 and ab["n_followers"] == 2
    assert ab["n_continuations"] == 1  # only 'a' precedes 'b'
    # P_KN(b|a) = (2-.75)/3 + (.75/3)*2*(1/3)
    assert ab["p_kn"] == pytest.approx(
        (2 - 0.75) / 3 + (0.75 / 3) * 2 * (1 / 3), abs=1e-6
    )
    # probabilities out of a context sum to ≤ 1 (KN is normalized)
    p_a = sum(r["p_kn"] for (w1, _), r in out.items() if w1 == "a")
    assert p_a <= 1.0 + 1e-6


def test_doremi_weights_sum_to_one_and_upweight_surprising(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        lm as LM,
    )

    # domain "rep" is highly repetitive (low NLL), "div" diverse
    d = spark.createDataFrame(
        [(i, "rep", "x y x y x y x y") for i in range(5)]
        + [(10 + i, "div", t) for i, t in enumerate(
            ["p q r s", "s r q p", "q s p r", "r p s q", "p s q r"]
        )],
        "doc_id long, source string, text string",
    )
    out = {r["domain"]: r for r in LM.doremi_domain_weights(d).collect()}
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-5
    assert out["div"]["excess_nll"] > 0 > out["rep"]["excess_nll"]
    # diverse domain gains weight over its token share
    assert out["div"]["weight"] > out["div"]["token_share"]
    assert out["rep"]["weight"] < out["rep"]["token_share"]


def test_length_packing_report_exact(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    d = spark.createDataFrame(
        [(1, "w " * 3), (2, "w " * 5), (3, "w " * 600)],
        "doc_id long, text string",
    )
    out = {r["len_bucket"]: r for r in
           PK.length_packing_report(d, max_seq=512).collect()}
    # 3 tokens → bucket 1; 5 → bucket 2; 600 → bucket 9
    assert out[1]["n_docs"] == 1 and out[1]["n_chunks"] == 1
    assert out[2]["n_tokens"] == 5
    b9 = out[9]
    assert b9["n_chunks"] == 2  # ceil(600/512)
    assert b9["pad_waste"] == 2 * 512 - 600
    assert b9["efficiency_q"] == 600 * 1_000_000 // 1024


def test_triplet_mining_margins(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0], 0),   # near-same-label neighbor of 0
            (2, [0.95, 0.05, 0.0], 1),  # even nearer impostor
            (3, [0.0, 1.0, 0.0], 1),
            (4, [0.0, 0.9, 0.1], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["anchor_id"]: r for r in
           S.triplet_mining(emb, query_ids=[0, 3]).collect()}
    t0 = out[0]
    assert t0["pos_id"] == 1 and t0["neg_id"] == 2
    # impostor 2 is closer than positive 1 → negative margin
    assert t0["margin"] < 0
    t3 = out[3]
    assert t3["pos_id"] == 4 and t3["margin"] > 0


def test_purge_removes_all_copies(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        governance as GV,
    )

    d = spark.createDataFrame(
        [
            (0, "a", "secret text to forget"),
            (1, "a", "  Secret Text To Forget  "),  # copy (normalized)
            (2, "b", "secret text to forget"),      # copy, other source
            (3, "b", "innocent other document"),
        ],
        "doc_id long, source string, text string",
    )
    kept = GV.purge_by_ids(d, [0]).collect()
    assert {r["doc_id"] for r in kept} == {3}  # ALL copies gone

    ledger = GV.tombstone_ledger(d, [0]).collect()
    assert len(ledger) == 1
    assert ledger[0]["n_copies"] == 3
    assert (ledger[0]["min_doc_id"], ledger[0]["max_doc_id"]) == (0, 2)

    audit = {r["source"]: r for r in GV.purge_audit(d, [0]).collect()}
    assert audit["a"]["n_purged"] == 2 and audit["a"]["n_kept"] == 0
    assert audit["b"]["n_purged"] == 1 and audit["b"]["n_kept"] == 1

    # recurrence: a future batch re-ingesting the content is blocked
    # by anti-joining the ledger fingerprints
    future = spark.createDataFrame(
        [(100, "c", "SECRET TEXT TO FORGET"), (101, "c", "fresh doc")],
        "doc_id long, source string, text string",
    )
    fp = GV.content_fingerprint("text")
    blocked = future.withColumn("_fp", fp).join(
        F.broadcast(
            GV.tombstone_ledger(d, [0]).select(
                F.col("fingerprint").alias("_fp")
            )
        ),
        "_fp",
        "left_anti",
    )
    assert [r["doc_id"] for r in blocked.collect()] == [101]


def test_cdc_chunk_insertion_locality(spark):
    """The CDC property fixed-size blocks lack: prepending text to a
    document only re-chunks the neighborhood of the edit, so most
    chunk hashes survive and block-dedup still finds the shared
    content."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    import random as _random

    rng = _random.Random(7)
    words = ["".join(rng.choices("abcdefghij", k=5)) for _ in range(400)]
    base = " ".join(words)
    edited = "INSERTED PREFIX >>> " + base
    d = spark.createDataFrame(
        [(1, "orig", base), (2, "edit", edited)],
        "doc_id long, source string, text string",
    )
    out = {
        r["source"]: r
        for r in PK.cdc_chunk_stats(
            d, divisor=16, group_col="source"
        ).collect()
    }
    assert out["orig"]["n_chunks"] > 10  # boundaries actually fire
    both = PK.cdc_chunk_stats(
        d.withColumn("source", F.lit("all")), divisor=16, group_col="source"
    ).collect()[0]
    # if chunking were edit-fragile the union would have ~n_orig +
    # n_edit distinct chunks; CDC must share most of them
    n_union_distinct = both["n_distinct"]
    n_orig = out["orig"]["n_distinct"]
    n_edit = out["edit"]["n_distinct"]
    assert n_union_distinct < n_orig + n_edit * 0.5


def test_cdc_chunk_tab_newline_boundaries(spark):
    """Tab/newline-separated documents must get candidate cuts too
    (ADVICE r06: the old ASCII-space-only split collapsed them to
    one chunk), and chunking must be identical to the same content
    space-separated — the whitespace CLASS, not the separator
    choice, defines word alignment."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    import random as _random

    rng = _random.Random(11)
    words = ["".join(rng.choices("abcdefghij", k=5)) for _ in range(400)]
    space_doc = " ".join(words)
    tab_doc = "\t".join(words)
    nl_doc = "\n".join(words)
    d = spark.createDataFrame(
        [(1, "sp", space_doc), (2, "tab", tab_doc), (3, "nl", nl_doc)],
        "doc_id long, source string, text string",
    )
    out = {
        r["source"]: r
        for r in PK.cdc_chunk_stats(
            d, divisor=16, group_col="source"
        ).collect()
    }
    assert out["sp"]["n_chunks"] > 10
    # the hash window covers the separator chars, so exact cut
    # positions legitimately differ per separator — what must hold
    # is that non-space separators produce candidate cuts AT ALL
    assert out["tab"]["n_chunks"] > 10, "tab-separated doc got no cuts"
    assert out["nl"]["n_chunks"] > 10, "newline-separated doc got no cuts"


def test_gear_cdc_matches_contract_and_locality(spark):
    """The Arrow Gear kernel honors the same contract as the JVM md5
    variant: every doc yields ≥1 chunk, chunk lengths sum to the
    byte total, exact duplicate docs produce duplicate chunk sets,
    and a prefix edit only re-chunks its neighborhood."""
    import random as _random

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    rng = _random.Random(11)
    words = ["".join(rng.choices("abcdefghij", k=5)) for _ in range(400)]
    base = " ".join(words)
    d = spark.createDataFrame(
        [(1, "dup", base), (2, "dup", base), (3, "edit", "XX " + base)],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in
           PK.gear_cdc_chunk_stats(d, divisor=128).collect()}
    dup = out["dup"]
    assert dup["n_chunks"] >= 2 and dup["n_chunks"] % 2 == 0
    assert dup["n_distinct"] == dup["n_chunks"] // 2  # exact dup halves
    assert dup["avg_chunk_len_q"] * dup["n_chunks"] // 1_000_000 \
        <= 2 * len(base.encode()) + dup["n_chunks"]
    # locality: union of dup+edit shares most chunks
    both = PK.gear_cdc_chunk_stats(
        d.withColumn("source", F.lit("all")), divisor=128
    ).collect()[0]
    assert both["n_distinct"] < dup["n_distinct"] + out["edit"]["n_distinct"] * 0.5


def test_bpe_train_matches_reference(spark):
    """bpe_train must reproduce the classic sequential reference
    implementation (Sennrich et al.) on a hand corpus — same merges,
    same order, same weighted counts."""
    from collections import Counter

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        bpe as B,
    )

    texts = ["low low low lower lower newest newest newest newest widest"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = B.bpe_train(d, n_merges=6)

    # pure-python reference
    vocab = Counter(texts[0].split())
    words = {w: list(w) + ["</w>"] for w in vocab}
    expect = []
    for step in range(1, 7):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (l, r), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        expect.append((step, l, r, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    assert got == expect and len(got) == 6


def test_bpe_train_metachar_tokens(spark):
    """Corpus tokens containing backslashes and quotes (TeX/code
    text) must train cleanly — the learned symbols are bound as lit
    columns, not interpolated into SQL strings (ADVICE r06)."""
    from collections import Counter

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        bpe as B,
    )

    text = r"\def \def \def \def don't don't don't a\'b a\'b"
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = B.bpe_train(d, n_merges=4)

    vocab = Counter(text.lower().split())
    words = {w: list(w) + ["</w>"] for w in vocab}
    expect = []
    for step in range(1, 5):
        pairs = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (l, r), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        expect.append((step, l, r, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    assert got == expect and len(got) == 4
    assert any("\\" in l or "\\" in r for _, l, r, _ in got)


def test_bpe_oracle_separator_bytes_absent_from_corpora():
    """BPE_VOCAB_SQL's word encoding joins symbols on \\x1f and uses
    \\x1e as the early-stop no-op pattern (see _bpe_vocab_sql's
    docstring) — sound only while the test corpora contain neither
    byte. Scan every SF's documents table so a regenerated corpus
    that violates the assumption fails here, not as a silent oracle
    mismatch."""
    import glob

    import duckdb

    paths = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert paths
    for p in paths:
        n = duckdb.sql(
            f"SELECT count(*) FROM '{p}' WHERE contains(text, chr(31))"
            " OR contains(text, chr(30))"
        ).fetchone()[0]
        assert n == 0, f"{p} contains \\x1f/\\x1e bytes"


def test_bpe_vocab_gate_merge_count(spark):
    """The driver gate trains 8 merges on the sf0.001 corpus — pin
    that the n>=2 early-stop does NOT trigger there (the oracle and
    the Spark path would both stop, but a full 8-row result is the
    contract the gate's row count asserts)."""
    import __spark_entry__ as entry

    out = entry.bpe_vocab_docs(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 8
    assert [r["step"] for r in out] == list(range(1, 9))
    assert all(r["n"] >= 2 for r in out)


def test_triplet_mining_singleton_label_dropped(spark):
    """An anchor whose label has no other member yields no positive
    → no triplet row (inner-join contract, documented)."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),   # label 7 has only this member
            (1, [0.9, 0.1], 1),
            (2, [0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = S.triplet_mining(emb, query_ids=[0, 1]).collect()
    assert {r["anchor_id"] for r in out} == {1}  # anchor 0 dropped


def test_bpe_document_tokens_hand_corpus(spark):
    """bpe_document_tokens on a corpus whose segmentation is fully
    determined: after 2 merges on 'low low lower', types segment to
    [low</w>] and [low, e, r, </w>] — doc token counts follow."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        bpe as B,
    )

    d = spark.createDataFrame(
        [(0, "low low lower"), (1, "low"), (2, "  ")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in B.bpe_document_tokens(d, n_merges=2).collect()
    }
    # merges learned: (l, o) n=3, then (lo, w) n=3 -> symbol 'low';
    # 'low' word = [low, </w>] (2 tokens), 'lower' = [low, e, r, </w>]
    # (4 tokens); the whitespace-only doc has no words but still gets
    # a ROW (zeros) — a packing/curriculum consumer inner-joining on
    # this frame must not silently lose documents
    assert rows == {0: (3, 2 + 2 + 4), 1: (1, 2), 2: (0, 0)}


def test_label_silhouette_separated_and_traitor(spark):
    """label_silhouette on a hand corpus: two orthogonal label
    families are perfectly coherent (positive silhouette, zero
    misassigned); planting one label-0 vector inside family 1 makes
    it — and only it — misassigned."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.1], 0),
        (2, [0.9, 0.05], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 1.0], 1),
        (5, [0.05, 0.9], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["label"]: r for r in S.label_silhouette(emb).collect()
    }
    assert out[0]["n_vectors"] == 3 and out[1]["n_vectors"] == 3
    assert out[0]["n_misassigned"] == 0 and out[1]["n_misassigned"] == 0
    assert out[0]["mean_silhouette"] > 0.5
    assert out[1]["mean_silhouette"] > 0.5

    traitor = spark.createDataFrame(
        rows + [(6, [0.0, 1.1], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out2 = {
        r["label"]: r for r in S.label_silhouette(traitor).collect()
    }
    assert out2[0]["n_misassigned"] == 1  # only the planted vector
    assert out2[1]["n_misassigned"] == 0
    assert out2[0]["mean_silhouette"] < out[0]["mean_silhouette"]


def test_label_silhouette_single_label_is_zero_not_null(spark):
    """With one distinct label there is no other-label centroid, so
    b was null and every output column nulled out (round-9 advice
    item); the convention is silhouette 0 for k=1, and trivially
    zero misassignments."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 7), (1, [0.9, 0.1], 7), (2, [0.0, 1.0], 7)],
        "vec_id long, embedding array<float>, label int",
    )
    row = S.label_silhouette(emb).collect()[0]
    assert row["n_vectors"] == 3
    assert row["mean_silhouette"] == 0.0
    assert row["n_misassigned"] == 0


def test_funnel_order_and_gap_semantics(spark):
    """funnel pins: (a) steps must occur in strict order AFTER the
    previous step's FIRST occurrence — a purchase before the first
    view does not count; (b) max_gap_s drops conversions that land
    outside the horizon; (c) conv columns are vs-first and vs-prev."""
    from datetime import datetime

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        funnel,
    )

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, u, ty, mins):
        return (i, u, ty, datetime(2024, 1, 1, 12, mins // 60, mins % 60))

    rows = [
        # u1: view@0 -> click@+2m -> purchase@+4m (full convert)
        (1, 1, "view", t0),
        (2, 1, "click", datetime(2024, 1, 1, 12, 2)),
        (3, 1, "purchase", datetime(2024, 1, 1, 12, 4)),
        # u2: purchase BEFORE first view, click after -> stops at click
        (4, 2, "purchase", datetime(2024, 1, 1, 11, 0)),
        (5, 2, "view", t0),
        (6, 2, "click", datetime(2024, 1, 1, 12, 30)),
        # u3: view only
        (7, 3, "view", t0),
        # u4: view -> click outside the 1h gap -> stops at view
        (8, 4, "view", t0),
        (9, 4, "click", datetime(2024, 1, 1, 14, 0)),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {
        r["step"]: r
        for r in funnel(
            e, ["view", "click", "purchase"], max_gap_s=3600
        ).collect()
    }
    assert out["view"]["n_users"] == 4
    assert out["click"]["n_users"] == 2  # u1, u2
    assert out["purchase"]["n_users"] == 1  # u1
    assert out["view"]["conv_overall"] == 1.0
    assert out["view"]["conv_prev"] is None
    assert out["click"]["conv_overall"] == 0.5
    assert out["purchase"]["conv_prev"] == 0.5


def test_curriculum_stages_tie_stable(spark):
    """curriculum_stages pins: ties share one stage (all four value-1
    rows land together even though NTILE would split them), and the
    integer formula (cum*k - 1) div n places each distinct value."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    rows = [(i, v) for i, v in enumerate([1, 1, 1, 1, 2, 3, 4, 5])]
    df = spark.createDataFrame(rows, "doc_id long, v long")
    out = {r["v"]: r["stage"] for r in MX.curriculum_stages(df, "v", 4).collect()}
    # cum(1)=4 -> (16-1)//8=1; cum(2)=5 -> 19//8=2; cum(3)=6 -> 2;
    # cum(4)=7 -> 27//8=3; cum(5)=8 -> 31//8=3
    assert out == {1: 1, 2: 2, 3: 2, 4: 3, 5: 3}
    two = {r["v"]: r["stage"] for r in MX.curriculum_stages(
        spark.createDataFrame([(0, 10), (1, 20), (2, 30), (3, 40)],
                              "doc_id long, v long"), "v", 2).collect()}
    assert two == {10: 0, 20: 0, 30: 1, 40: 1}


def test_cohort_retention_matrix(spark):
    """cohort_retention on a hand timeline: two daily cohorts with
    known churn; retention normalizes within each cohort and period 0
    is always 1.0."""
    from datetime import datetime

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        cohort_retention,
    )

    d = lambda day, h=9: datetime(2024, 3, day, h)  # noqa: E731
    rows = [
        # cohort Mar-1: u1 active d1,d2,d3; u2 active d1,d3
        (1, 1, d(1)), (2, 1, d(2)), (3, 1, d(3)),
        (4, 2, d(1)), (5, 2, d(3)), (6, 2, d(1, 23)),
        # cohort Mar-2: u3 active d2 only
        (7, 3, d(2)),
    ]
    e = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        (str(r["cohort_start"]), r["period_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(e, granularity="day").collect()
    }
    assert out == {
        ("2024-03-01", 0): (2, 1.0),
        ("2024-03-01", 1): (1, 0.5),
        ("2024-03-01", 2): (2, 1.0),
        ("2024-03-02", 0): (1, 1.0),
    }
    bad = False
    try:
        cohort_retention(e, granularity="month")
    except ValueError:
        bad = True
    assert bad


def test_funnel_timestamp_ntz(spark):
    """funnel's max_gap_s path must accept TIMESTAMP_NTZ (Spark 4
    reads tz-less parquet timestamps as NTZ, which raw unix_micros
    rejects) — pinned after the 100x probe caught the analysis
    error on direct parquet reads."""
    from datetime import datetime

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        funnel,
    )

    rows = [
        (1, 1, "view", datetime(2024, 1, 1, 12, 0)),
        (2, 1, "click", datetime(2024, 1, 1, 12, 30)),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp_ntz",
    )
    out = {r["step"]: r["n_users"] for r in
           funnel(e, ["view", "click"], max_gap_s=3600).collect()}
    assert out == {"view": 1, "click": 1}


def test_hashed_embeddings_counts_and_hash(spark):
    """hashed_embeddings: vector entries are the md5-bucket token
    counts (verified against a hashlib recomputation) and sum to the
    doc's token count."""
    import hashlib

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        search as SR,
    )

    d = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "gamma")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["embedding"] for r in
            SR.hashed_embeddings(d, dim=8).collect()}

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 8

    exp0 = [0] * 8
    exp0[bucket("alpha")] += 2
    exp0[bucket("beta")] += 1
    exp1 = [0] * 8
    exp1[bucket("gamma")] += 1
    assert rows == {0: exp0, 1: exp1}


def test_local_topk_exact_int_ties_across_partitions(spark):
    """local_topk_exact_int: parallel count vectors score an exact
    cosine tie and the kernel's in-partition (score, n_id) order must
    compose into the same global ranking no matter how rows are
    partitioned — the property the float kernel cannot promise."""
    rows = [
        (0, [1, 0]),   # query
        (1, [2, 0]),   # cos 1 with query (parallel)
        (2, [4, 0]),   # cos 1 too — exact tie with id 1
        (3, [1, 1]),   # cos 1/sqrt(2)
        (4, [0, 1]),   # cos 0
    ]
    e = spark.createDataFrame(
        rows, "doc_id long, embedding array<long>"
    ).repartition(4)
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.similarity import (
        local_topk_exact_int,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = local_topk_exact_int(e, [0], k=3, id_col="doc_id")
    skey = (F.col("dot") * F.col("dot")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("q_id").orderBy(skey.desc(), F.col("n_id").asc())
    ranked = [
        (r["n_id"], r["rank"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3").orderBy("rank").collect()
    ]
    assert ranked == [(1, 1), (2, 2), (3, 3)]


def test_rolling_zscore_flags_planted_spike(spark):
    """7 flat days then a spike: z = (cnt-mean)/sd with the scored
    day excluded from its own baseline; hand-computed expectation."""
    import datetime as dt
    import statistics

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )

    base = dt.datetime(2024, 3, 1)
    counts = [10, 11, 10, 12, 10, 11, 10, 40]  # day 8 spikes
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=d), "x"))
            eid += 1
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string"
    )
    out = rolling_zscore_anomalies(e).collect()
    # only day 8 has exactly 7 prior days
    assert len(out) == 1
    r = out[0]
    mu = statistics.mean(counts[:7])
    sd = statistics.stdev(counts[:7])
    assert r.cnt == 40
    assert r.z == round((40 - mu) / sd, 4)
    assert r.is_anomaly


def test_rolling_zscore_skips_zero_variance_and_short_history(spark):
    import datetime as dt

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # constant 5/day for 9 days -> sd == 0, nothing scored; and a
    # second type with only 3 days -> short history, nothing scored
    for d in range(9):
        for _ in range(5):
            rows.append((eid, base + dt.timedelta(days=d), "flat"))
            eid += 1
    for d in range(3):
        for _ in range(d + 1):
            rows.append((eid, base + dt.timedelta(days=d), "short"))
            eid += 1
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string"
    )
    assert rolling_zscore_anomalies(e).count() == 0


def test_rolling_zscore_densifies_calendar_and_scores_drop_to_zero(spark):
    """Round-9 advice fix: the trailing-7-day baseline is 7 CALENDAR
    days, not 7 observed-active days. (a) A key active on days 1-8
    and 16 must NOT score day 16 against days 1-8 (the gap days are
    zero-filled, so day 16's trailing window is the zero days 9-15 —
    zero variance, unscored); (b) a zero-event day INSIDE the span
    gets a row and a volume collapse to zero is flagged."""
    import datetime as dt
    import statistics

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # "gap": varying counts days 0-7, silence 8-14, one event day 15
    gap_counts = [10, 11, 10, 12, 10, 11, 10, 12]
    for d, c in enumerate(gap_counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=d), "gap"))
            eid += 1
    rows.append((eid, base + dt.timedelta(days=15), "gap"))
    eid += 1
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string"
    )
    out = {(r.key, r.day): r for r in rolling_zscore_anomalies(e).collect()}
    # day 15 scores against the zero-filled days 8-14 (sd == 0 ->
    # unscored), NOT against the active days 1-7
    assert ("gap", dt.date(2024, 3, 16)) not in out
    # the first silent day (day 8) scores cnt=0 against days 1-7
    drop = out[("gap", dt.date(2024, 3, 9))]
    mu = statistics.mean(gap_counts[1:8])
    sd = statistics.stdev(gap_counts[1:8])
    assert drop.cnt == 0
    assert drop.z == round((0 - mu) / sd, 4)
    assert drop.is_anomaly


def test_expectation_report_flags_planted_violations(spark):
    """Plant one violation per expectation class and require exact
    violation counts."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        audit as AU,
    )

    parent = spark.createDataFrame(
        [(1,), (2,), (3,)], "pk bigint"
    )
    child = spark.createDataFrame(
        [
            (10, 1, 5.0, "a"),
            (10, 2, 5.0, "b"),     # duplicate child pk
            (11, 9, 51.0, "a"),    # orphan fk + out-of-range
            (12, None, None, "z"), # null fk + null measure + bad value
        ],
        "id bigint, fk bigint, qty double, status string",
    )
    rep = {
        r.check_name: (r.n_violations, r.passed)
        for r in AU.expectation_report(
            [
                AU.pk_unique(child, "id", "child_pk"),
                AU.not_null(child, "fk", "fk_not_null"),
                AU.fk_covered(child, "fk", parent, "pk", "fk_covered"),
                AU.in_range(child, "qty", 0, 50, "qty_range"),
                AU.accepted_values(
                    child, "status", ["a", "b"], "status_accepted"
                ),
            ]
        ).collect()
    }
    assert rep == {
        "child_pk": (1, False),
        "fk_not_null": (1, False),
        # NULL fk is NOT an orphan (dbt/Deequ relationship semantics;
        # not_null is the separate check) — only the dangling 9
        "fk_covered": (1, False),
        # 51 out of range + null measure violates
        "qty_range": (2, False),
        "status_accepted": (1, False),
    }


def test_expectation_report_all_green_on_clean_data(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        audit as AU,
    )

    t = spark.createDataFrame(
        [(1, "a"), (2, "b")], "pk bigint, status string"
    )
    rep = AU.expectation_report(
        [
            AU.pk_unique(t, "pk", "pk"),
            AU.not_null(t, "pk", "nn"),
            AU.accepted_values(t, "status", ["a", "b"], "vals"),
        ]
    ).collect()
    assert all(r.passed and r.n_violations == 0 for r in rep)


def test_scd2_merge_branches_and_idempotency(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scd as SCD,
    )

    dim = spark.createDataFrame(
        [(1, "gold", 10.0), (2, "silver", 5.0), (3, "bronze", 1.0)],
        "key bigint, tier string, bal double",
    )
    cur = SCD.scd2_init(dim, "key", ["tier", "bal"], "2024-01-01")
    updates = spark.createDataFrame(
        [
            (1, "gold", 10.0),     # no-op
            (2, "gold", 5.0),      # tracked change -> close + insert
            (9, "new", 0.0),       # brand-new key
        ],
        "key bigint, tier string, bal double",
    )
    after = SCD.scd2_merge(cur, updates, "key", ["tier", "bal"], "2024-02-01")
    rows = {
        (r.key, r.tier, r.bal, r.is_current,
         str(r.effective_from)[:10],
         str(r.effective_to)[:10] if r.effective_to else None)
        for r in after.collect()
    }
    assert rows == {
        (1, "gold", 10.0, True, "2024-01-01", None),
        (2, "silver", 5.0, False, "2024-01-01", "2024-02-01"),
        (2, "gold", 5.0, True, "2024-02-01", None),
        (3, "bronze", 1.0, True, "2024-01-01", None),
        (9, "new", 0.0, True, "2024-02-01", None),
    }
    # idempotent: re-applying the SAME batch later changes nothing
    again = SCD.scd2_merge(
        after, updates, "key", ["tier", "bal"], "2024-03-01"
    )
    rows2 = {
        (r.key, r.tier, r.bal, r.is_current,
         str(r.effective_from)[:10],
         str(r.effective_to)[:10] if r.effective_to else None)
        for r in again.collect()
    }
    assert rows2 == rows


def test_scd2_null_tracked_values_null_safe(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scd as SCD,
    )

    dim = spark.createDataFrame(
        [(1, None), (2, "x")], "key bigint, tier string"
    )
    cur = SCD.scd2_init(dim, "key", ["tier"], "2024-01-01")
    updates = spark.createDataFrame(
        [(1, None), (2, None)], "key bigint, tier string"
    )
    after = SCD.scd2_merge(cur, updates, "key", ["tier"], "2024-02-01")
    got = {(r.key, r.tier, r.is_current) for r in after.collect()}
    # key 1: null == null (null-safe) -> untouched; key 2: x -> null
    assert got == {
        (1, None, True),
        (2, "x", False),
        (2, None, True),
    }


def test_k_anonymity_histogram_and_flags(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        governance as GV,
    )

    rows = (
        [("us", "a")] * 5      # class size 5 -> ok at k=5
        + [("us", "b")] * 2    # size 2 -> violates
        + [("fr", "a")] * 2    # size 2 -> violates (same size bucket)
        + [("de", "c")]        # size 1 -> violates
    )
    df = spark.createDataFrame(rows, "nation string, seg string")
    got = {
        r.class_size: (r.n_classes, r.n_rows, r.violates)
        for r in GV.k_anonymity_report(
            df, ["nation", "seg"], k=5
        ).collect()
    }
    assert got == {
        5: (1, 5, False),
        2: (2, 4, True),
        1: (1, 1, True),
    }


def test_incremental_agg_merge_equals_direct(spark):
    """merge(state(A), state(B)) must equal state(A ∪ B) exactly,
    including a group present in only one batch."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        incremental as INC,
    )

    rows = [
        ("p1", 10.5), ("p1", 1.25), ("p2", 3.0),
        ("p2", -2.0), ("p3", 7.75),
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    a = df.filter(F.col("v") > 2)
    b = df.filter(F.col("v") <= 2)
    merged = {
        r.k: (r.n_rows, r.m_sum, r.m_min, r.m_max)
        for r in INC.merge_agg_states(
            INC.additive_agg_state(a, ["k"], "v"),
            INC.additive_agg_state(b, ["k"], "v"),
            ["k"],
        ).collect()
    }
    direct = {
        r.k: (r.n_rows, r.m_sum, r.m_min, r.m_max)
        for r in INC.additive_agg_state(df, ["k"], "v").collect()
    }
    assert merged == direct


def test_incremental_agg_state_sum_stays_decimal_at_large_totals(spark):
    """The merge lattice must be exact end-to-end: the state keeps
    m_sum as DECIMAL(38,4) (round-9 fix) — the old double exposure
    rounded per-state sums to ~15 significant digits, so totals
    beyond ~1e12 could diverge from the direct aggregate by ulps in
    the 4th decimal despite the exactness contract."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        incremental as INC,
    )

    big = 987654321098.7654
    df = spark.createDataFrame(
        [("k", big)] * 13 + [("k", 0.0001)], "k string, v double"
    )
    a = spark.createDataFrame([("k", big)] * 7, "k string, v double")
    b = spark.createDataFrame(
        [("k", big)] * 6 + [("k", 0.0001)], "k string, v double"
    )
    state = INC.additive_agg_state(a, ["k"], "v")
    assert dict(state.dtypes)["m_sum"] == "decimal(38,4)"
    merged = INC.merge_agg_states(
        state, INC.additive_agg_state(b, ["k"], "v"), ["k"]
    ).collect()[0]
    direct = INC.additive_agg_state(df, ["k"], "v").collect()[0]
    assert merged.m_sum == direct.m_sum  # exact Decimal equality
    assert merged.n_rows == direct.n_rows == 14


def test_incremental_merge_rejects_stale_double_state(spark):
    """A pre-round-9 persisted state (m_sum as double) unioned with a
    decimal(38,4) state would coerce BOTH to double — silently
    restoring the lossy path the decimal lattice removed. The merge
    must fail loudly on the mixed-lattice input instead (round-9
    advice item)."""
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        incremental as INC,
    )

    df = spark.createDataFrame([("k", 1.5)], "k string, v double")
    fresh = INC.additive_agg_state(df, ["k"], "v")
    stale = fresh.withColumn("m_sum", F.col("m_sum").cast("double"))
    with pytest.raises(TypeError, match="decimal"):
        INC.merge_agg_states(fresh, stale, ["k"])
    with pytest.raises(TypeError, match="decimal"):
        INC.merge_agg_states(stale, fresh, ["k"])
    # explicit opt-out still merges (the caller owns the semantics)
    got = INC.merge_agg_states(stale, stale, ["k"], decimal=False)
    assert got.collect()[0].m_sum == 3.0


def test_pq_topk_recall_vs_exact(spark):
    """PQ/ADC shortlist + exact rerank must recover most of the exact
    top-5 on the fixture embeddings (same ≥0.5 contract as the other
    ANN paths; measured well above it — reconstruction error is small
    vs the cosine margins at 64d/8x16)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
        similarity as S,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(5))
    exact = {
        (r.q_id, r.n_id)
        for r in S.brute_force_topk(e, query_ids=qids, k=5).collect()
    }
    approx = {
        (r.q_id, r.n_id)
        for r in PJ.pq_topk(e, query_ids=qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_pq_codes_shape_and_determinism(spark):
    import numpy as np

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
    )

    rng = np.random.RandomState(3)
    sample = rng.randn(64, 16)
    b1 = PJ._pq_codebooks(sample, m=4, kc=8)
    b2 = PJ._pq_codebooks(sample, m=4, kc=8)
    assert b1.shape == (4, 8, 4) and np.array_equal(b1, b2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(16)]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    enc = PJ.pq_encode_pudf(b1)
    codes = df.select(enc("embedding").alias("c")).collect()
    assert all(len(r.c) == 4 and all(0 <= x < 8 for x in r.c) for r in codes)


def test_label_centroid_eval_separable_clusters(spark):
    """Three tight clusters with one planted mislabel: the confusion
    matrix must be perfect except exactly that row."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    rows = []
    vid = 0
    base = {0: [9.0, 0.0, 0.0], 1: [0.0, 9.0, 0.0], 2: [0.0, 0.0, 9.0]}
    for lbl in (0, 1, 2):
        for j in range(4):
            v = [x + 0.1 * j for x in base[lbl]]
            rows.append((vid, v, lbl))
            vid += 1
    # a vector that clearly belongs to cluster 0 but is labeled 1
    rows.append((vid, [9.0, 0.2, 0.0], 1))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    rep = {
        r.label: (r.n_true, r.n_pred, r.tp, r.precision, r.recall)
        for r in S.label_centroid_eval(df).collect()
    }
    assert rep[0] == (4, 5, 4, 0.8, 1.0)
    assert rep[1] == (5, 4, 4, 1.0, 0.8)
    assert rep[2] == (4, 4, 4, 1.0, 1.0)


def test_pack_sequences_null_text_counts_as_empty_doc(spark):
    """A NULL text must behave like the empty document (1 token),
    not poison the greedy state: unguarded, size(split(NULL)) is
    NULL -> NaN in the Arrow batch, budget_left -= NaN sticks at NaN
    and the whole partition collapses into one unbounded pack."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    rows = [(0, "a b c")] + [(i, None) for i in range(1, 4)] + [
        (i, "w " * 40) for i in range(4, 10)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    packed = PK.pack_sequences(df, max_tokens=64, n_partitions=1)
    out = {r.doc_id: r for r in packed.collect()}
    assert out[1].n_tokens == 1 and not out[1].oversize
    # invariant frame must still certify the packing
    inv = PK.packing_invariants(packed, 64).collect()[0]
    assert inv.packs_within_budget and inv.docs_packed_once


def test_cdc_report_keeps_all_empty_group(spark):
    """A group whose docs are all empty/NULL yields zero chunks but
    must still appear in the report (n_chunks=0) in BOTH variants —
    summing n_docs over the report equals df.count()."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    df = spark.createDataFrame(
        [("live", "some words repeated some words"), ("dead", ""),
         ("dead", None)],
        "source string, text string",
    )
    for fn in (PK.cdc_chunk_stats, PK.gear_cdc_chunk_stats):
        rep = {r.source: r for r in fn(df).collect()}
        assert set(rep) == {"live", "dead"}, fn.__name__
        assert rep["dead"].n_docs == 2 and rep["dead"].n_chunks == 0
        assert rep["dead"].dup_ratio_q == 0
        assert sum(r.n_docs for r in rep.values()) == df.count()


def test_gear_cdc_supports_non_string_group_col(spark):
    """The 'swap the two functions freely' contract includes the
    group column type: the Arrow schema must mirror the caller's
    column, not hardcode string."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        packing as PK,
    )

    df = spark.createDataFrame(
        [(7, "alpha beta gamma delta"), (7, "alpha beta gamma delta"),
         (9, "one two three four")],
        "bucket int, text string",
    )
    a = {r.bucket: r.n_docs for r in
         PK.gear_cdc_chunk_stats(df, group_col="bucket").collect()}
    b = {r.bucket: r.n_docs for r in
         PK.cdc_chunk_stats(df, group_col="bucket").collect()}
    assert a == b == {7: 2, 9: 1}


def test_curriculum_stages_null_values_do_not_skew_boundaries(spark):
    """NULL values are excluded up front: with 100 NULLs and 25 rows
    each of 1..4 at n_stages=4, the real values must stage 0,1,2,3
    (NULLs counted into the cumulative histogram would collapse
    values 1 and 2 into stage 2)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        mixing as MX,
    )

    rows = [(i, (i % 4) + 1) for i in range(100)] + [
        (100 + i, None) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens int")
    out = MX.curriculum_stages(
        df, n_stages=4, value_col="n_tokens", id_col="doc_id"
    )
    stages = {r.n_tokens: r.stage for r in out.collect()}
    assert stages == {1: 0, 2: 1, 3: 2, 4: 3}
    assert out.count() == 100  # NULL rows explicitly excluded


def test_asof_join_null_keys_and_null_right_ts(spark):
    """SQL ASOF semantics: NULL join keys match nothing (a NULL-key
    left row keeps NULL payload instead of inheriting a NULL-key
    right row), and a right row with NULL timestamp is never 'the
    most recent prior row' (NULLS-FIRST ordering would otherwise
    hand its payload to every pre-first-right left row)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        temporal as TP,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"),
         (None, "2024-01-01 10:00:00", "b")],
        "user_id bigint, ts string, tag string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) ts", "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 100.0),
         (1, None, 999.0),          # NULL ts: never a valid match
         (None, "2024-01-01 09:00:00", 555.0)],  # NULL key
        "user_id bigint, rts string, value double",
    ).selectExpr("user_id", "CAST(rts AS TIMESTAMP) rts", "value")
    out = {r.tag: r.asof_value for r in TP.asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="rts",
        right_payload=["value"],
    ).collect()}
    assert out == {"a": 100.0, "b": None}


def test_range_join_rejects_nonpositive_bin_width(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        temporal as TP,
    )

    l = spark.createDataFrame([(1, "2024-01-01 00:00:00")],
                              "user_id bigint, lts string")
    r = spark.createDataFrame([(1, "2024-01-01 00:00:30")],
                              "user_id bigint, rts string")
    for bad in (0, -60):
        with pytest.raises(ValueError, match="bin_width"):
            TP.range_join(l, r, ["user_id"], "lts", "rts", 0, 60,
                          bin_width=bad)


def test_phone_pattern_anchored_but_matches_plus_form(spark):
    """The phone regex must not redact the 12-char tail of a longer
    digit run, while still matching bare and plus-prefixed phones
    (RE2-compatible alternation, no lookbehind)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    df = spark.createDataFrame(
        [(0, "order 98555-123-4567 stays"),
         (1, "call 555-123-4567 now"),
         (2, "intl +123 456 7890 ok")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in X.redact_pii(df).collect()}
    assert rows[0].n_phone == 0 and "98555-123-4567" in rows[0].redacted
    assert rows[1].n_phone == 1 and "<PHONE>" in rows[1].redacted
    assert rows[2].n_phone == 1 and "<PHONE>" in rows[2].redacted


def test_gopher_filter_drops_null_and_empty_text(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "the " * 60 + "real document it is")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in X.gopher_filter(df).collect()}
    assert not out[0].keep and "too_short" in out[0].reasons
    assert not out[1].keep and "too_short" in out[1].reasons


def test_token_stats_exclude_phantom_empty_token(spark):
    """Empty/whitespace-only docs must not inject the '' token into
    corpus statistics (token_frequencies, zipf, pmi, diversity)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    rows = [(i, "", "en") for i in range(50)] + [
        (100 + i, "alpha beta alpha beta gamma", "en") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    freq = {r.token: r.n for r in X.token_frequencies(df).collect()}
    assert "" not in freq and freq["alpha"] == 10
    top = X.zipf_slope(df, top_k=3).collect()[0]
    assert top.n_tokens_fit == 3  # alpha, beta, gamma — no ''
    pmi = X.pmi_collocations(df, min_count=2, top_k=5).collect()
    assert all(r.w1 != "" and r.w2 != "" for r in pmi)
    div = {(r.lang, r.n): r.total_ngrams
           for r in X.diversity_report(df).collect()}
    assert div[("en", 1)] == 25  # 5 docs x 5 tokens, no phantom rows


def test_winnow_rejects_non_integral_id(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        text as X,
    )

    df = spark.createDataFrame([("u1", "some text here")],
                               "url string, text string")
    with pytest.raises(TypeError, match="integral"):
        X.winnow_fingerprints(df, id_col="url")


def test_purge_reaches_null_text_docs(spark):
    """A takedown naming a NULL-text doc must remove it (and every
    other copy of the empty content): md5(NULL) is NULL and NULL
    keys never equi-join, so the unguarded fingerprint silently
    skipped exactly the doc that was named."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        governance as GV,
    )

    df = spark.createDataFrame(
        [(42, None, "s1"), (43, "", "s1"), (44, "keep me", "s2")],
        "doc_id bigint, text string, source string",
    )
    survivors = {r.doc_id for r in GV.purge_by_ids(df, [42]).collect()}
    assert survivors == {44}  # 43 is a copy of the empty content
    ledger = GV.tombstone_ledger(df, [42]).collect()
    assert len(ledger) == 1 and ledger[0].n_copies == 2
    audit = {r.source: r for r in GV.purge_audit(df, [42]).collect()}
    assert audit["s1"].n_purged == 2 and audit["s2"].n_kept == 1


def test_perplexity_buckets_single_bucket(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        lm as LM,
    )

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "c d c d"), (2, "a b c d")],
        "doc_id bigint, text string",
    )
    out = LM.perplexity_buckets(df, n_buckets=1).collect()
    assert len(out) == 1 and out[0].bucket == 1 and out[0].n_docs == 3
    with pytest.raises(ValueError, match="n_buckets"):
        LM.perplexity_buckets(df, n_buckets=0)


def test_lm_vocab_excludes_phantom_empty_token(spark):
    """Empty docs must not inflate the add-1 vocabulary V: scores
    over a corpus with blank docs equal scores over the same corpus
    without them."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        lm as LM,
    )

    clean = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a b a"), (2, "a a b b")],
        "doc_id bigint, text string",
    )
    noisy = clean.unionByName(
        spark.createDataFrame(
            [(10, ""), (11, "   ")], "doc_id bigint, text string"
        )
    )
    base = {r.doc_id: r.perplexity
            for r in LM.perplexity_scores(clean).collect()}
    with_blanks = {r.doc_id: r.perplexity
                   for r in LM.perplexity_scores(noisy).collect()}
    assert all(with_blanks[k] == v for k, v in base.items())
    assert with_blanks[10] is None  # no bigrams -> NULL score


def test_score_documents_sparse_weights_and_null_text(spark):
    """Sparse-model contract: a missing bucket contributes weight 0
    but still counts in the mean's denominator, and EVERY input doc
    gets an output row (NULL-text docs score NULL with keep=false
    instead of bypassing the quality gate)."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scoring as SC,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "zz zz"), (3, None)],
        "doc_id bigint, text string",
    )
    full = SC.synthetic_weights(spark, 16)
    # sparse model: drop half the buckets
    sparse = full.filter("bucket % 2 = 0")
    out = {r.doc_id: r for r in
           SC.score_documents(docs, sparse, n_buckets=16).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3].score is None and out[3].keep is False
    # all-covered corpus: sparse and full scores agree iff the doc's
    # buckets are all present; here we just pin that scores exist
    assert out[1].score is not None and out[2].score is not None


def test_percentile_filter_rejects_bad_keep_frac(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scoring as SC,
    )

    scored = spark.createDataFrame(
        [(1, "s", 0.5)], "doc_id bigint, source string, score double"
    )
    for bad in (0.0, 1.5, -0.1):
        with pytest.raises(ValueError, match="keep_frac"):
            SC.percentile_filter_by_group(scored, keep_frac=bad)


def test_remove_duplicate_spans_preserves_case(spark):
    """Span surgery must not case-fold the surviving text: matching
    keys are lowercased, reconstruction is not."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        spans as SP,
    )

    df = spark.createDataFrame(
        [(0, "Keep My CASE and punctuation, OK?")],
        "doc_id bigint, text string",
    )
    out = SP.remove_duplicate_spans(df, w=3).collect()[0]
    assert out.n_removed == 0
    assert out.cleaned_text == "Keep My CASE and punctuation, OK?"


def test_ngram_overlap_blank_bench_row_matches_nothing(spark):
    """A blank row in the eval set must not mark blank corpus docs
    contaminated — the '' whole-text fallback shingle is excluded."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        decontam as DC,
    )

    corpus = spark.createDataFrame(
        [(1, "   "), (2, "real words here")], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame([(10, "")], "doc_id bigint, text string")
    out = {r.doc_id: r.contaminated
           for r in DC.ngram_overlap(corpus, bench, n=13).collect()}
    assert out == {1: False, 2: False}


def test_bloom_contains_rejects_colliding_columns(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        bloom as BL,
    )

    bloom = BL.bloom_build(
        spark.createDataFrame([("k1",)], "key string"), "key"
    )
    probe = spark.createDataFrame(
        [("k1", 9)], "key string, _p0 int"
    )
    with pytest.raises(ValueError, match="_p0"):
        BL.bloom_contains(probe, bloom, "key")


def test_scd2_merge_rejects_duplicate_update_keys(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        scd as SCD,
    )

    dim = SCD.scd2_init(
        spark.createDataFrame([(1, "a")], "key bigint, v string"),
        "key", ["v"], "2024-01-01",
    )
    dupes = spark.createDataFrame(
        [(1, "b"), (1, "c")], "key bigint, v string"
    )
    with pytest.raises(Exception, match="duplicate"):
        SCD.scd2_merge(dim, dupes, "key", ["v"], "2024-02-01").collect()


def test_audit_checks_empty_table_and_null_fk(spark):
    """Empty table -> n_violations 0 (not NULL, which vanishes from
    both pass and fail filters); NULL child FKs are not orphans."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        audit as AU,
    )

    empty = spark.createDataFrame([], "x bigint")
    rep = AU.expectation_report(
        [AU.not_null(empty, "x", "c1"), AU.in_range(empty, "x", 0, 9, "c2")]
    ).collect()
    assert all(r.n_violations == 0 and r.passed for r in rep)

    child = spark.createDataFrame(
        [(1,), (None,), (99,)], "fk bigint"
    )
    parent = spark.createDataFrame([(1,)], "pk bigint")
    out = AU.fk_covered(child, "fk", parent, "pk", "c3").collect()[0]
    assert out.n_violations == 1  # only 99 is an orphan; NULL is not


def test_pq_topk_rejects_indivisible_dim(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
    )

    emb = spark.createDataFrame(
        [(i, [float(i)] * 10) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="dim % m"):
        PJ.pq_topk(emb, query_ids=[0], k=2, m=8)


def test_rp_project_drops_nonfinite_vectors(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        projection as PJ,
    )

    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 7 + [float("nan")])],
        "vec_id bigint, embedding array<double>",
    )
    out = PJ.rp_project(emb, 8, 4).collect()
    assert {r.vec_id for r in out} == {0}  # NaN row dropped, not garbage


def test_combined_signatures_rejects_non_integral_id(spark):
    import pytest

    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        signatures as SG,
    )

    df = spark.createDataFrame([("u", "text here")],
                               "doc_id string, text string")
    with pytest.raises(TypeError, match="integral"):
        SG.combined_signatures(df)


def test_incremental_dedup_requires_old_docs_with_store(spark, tmp_path):
    """A populated band store without the historical texts cannot
    verify cross-batch candidates — silently falling back to
    batch-only dedup (the old behavior) skipped every new-vs-history
    pair while still growing the store. Must raise."""
    import pytest

    docs = spark.createDataFrame(
        [(i, "the same text repeated here") for i in range(6)],
        "doc_id bigint, text string",
    )
    store = str(tmp_path / "store")
    b1 = docs.filter("doc_id < 3")
    D.incremental_minhash_dedup(b1, store, threshold=0.5)
    with pytest.raises(ValueError, match="old_docs"):
        D.incremental_minhash_dedup(
            docs.filter("doc_id >= 3"), store, threshold=0.5
        )


def test_simhash_dedup_validates_and_handles_exact_mode(spark):
    """max_hamming=0 (exact-simhash mode) must plan and run (the
    64-bit mask literal used to overflow a JVM long); out-of-range
    radii fail fast instead of degenerating to a cross join."""
    import pytest

    df = spark.createDataFrame(
        [(0, "aa bb cc dd"), (1, "aa bb cc dd"), (2, "zz yy xx ww")],
        "doc_id bigint, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in D.simhash_dedup(df, max_hamming=0).collect()}
    assert pairs == {(0, 1)}
    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_dedup(df, max_hamming=64)


def test_brute_force_topk_ignores_zero_vectors(spark):
    """An all-zero embedding must never rank as anyone's neighbor:
    unguarded, its NaN cosine sorts ABOVE every real score."""
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = [(r.n_id, r.rank) for r in
           S.brute_force_topk(emb, query_ids=[0], k=2).collect()]
    assert out[0] == (1, 1)  # the real neighbor, not the zero vector


def test_label_spectrum_string_labels(spark):
    from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.operators import (
        similarity as S,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.0], "en" if i % 2 else "fr")
         for i in range(8)],
        "vec_id bigint, embedding array<float>, lang string",
    )
    out = {r.label for r in
           S.label_spectrum(emb, label_col="lang", top_k=2).collect()}
    assert out == {"en", "fr"}
