"""Operator unit tests: dedup, similarity, text analysis, multimodal plumbing.

Follows the reference's write-then-read unit-test style (SURVEY.md §5 layer 1)
with tiny deterministic inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from buzz_rust_spark.operators import dedup as D
from buzz_rust_spark.operators import multimodal as M
from buzz_rust_spark.operators import similarity as S
from buzz_rust_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick  brown fox jumps over the lazy dog"),  # exact after norm
        (3, "The quick brown fox jumps over the lazy cat"),  # near-dup
        (4, "completely different content about spark engines"),
        (5, ""),
        (6, "one"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    groups = D.exact_duplicates(docs).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in groups}
    assert by_keep[1] == 2  # 1 and 2 normalize to the same text
    assert by_keep[3] == 1
    survivors = D.dedup_exact(docs)
    assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 3, 4, 5, 6]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    found = {(r["id_1"], r["id_2"]): r["jaccard"] for r in pairs}
    assert found[(1, 2)] == pytest.approx(1.0)  # identical after normalization
    assert (1, 3) in found and 0.5 <= found[(1, 3)] < 1.0
    assert not any(4 in p for p in found)


def test_minhash_matches_ngram_truth(spark, docs):
    truth = {
        (r["id_1"], r["id_2"])
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_1"], r["id_2"])
        for r in D.minhash_lsh_pairs(
            docs, n=3, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    assert lsh == truth


def test_minhash_signature_shape(spark, docs):
    sigs = D.minhash_signatures(docs, num_hashes=16).collect()
    assert all(len(r["signature"]) == 16 for r in sigs)
    assert all(
        0 <= v < D.MINHASH_PRIME for r in sigs for v in r["signature"]
    )


def test_simhash_identical_and_near(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]  # same tokens → same signature
    pairs = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one-token difference → small hamming


def test_ann_bruteforce_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0, 0.0]),  # nearly identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    topk = S.cosine_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=3
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(topk, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    cos = {r["neighbor_id"]: r["cosine"] for r in topk}
    assert cos[1] == pytest.approx(1.0, abs=1e-5)
    assert cos[2] == pytest.approx(0.0, abs=1e-9)
    assert cos[3] == pytest.approx(-1.0, abs=1e-9)


def test_ann_lsh_recalls_close_neighbor(spark):
    # 20 corpus vectors; vec 1 is a near-copy of vec 0.
    import math

    rows = []
    for i in range(20):
        base = [math.sin(i * 7.3 + j) for j in range(8)]
        rows.append((i, base))
    rows[1] = (1, [x + 0.01 for x in rows[0][1]])
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.cosine_topk_lsh(
        emb, emb.where(F.col("vec_id") == 0), dim=8, k=1, bits=16, bands=8
    ).collect()
    assert out and out[0]["neighbor_id"] == 1


def test_token_counts_and_quality(spark, docs):
    stats = {r["doc_id"]: r for r in T.with_text_stats(docs).collect()}
    assert stats[1]["n_tokens"] == 9
    assert stats[5]["n_tokens"] == 0
    assert stats[6]["n_tokens"] == 1
    q = {r["doc_id"]: r["quality"] for r in T.quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[1] > q[5]  # real sentence beats empty text


def test_bpe_ish_counts_punctuation(spark):
    df = spark.createDataFrame([(1, "hello, world! it's 3.5x faster")], ["id", "t"])
    n = df.select(T.bpe_ish_token_count(F.col("t")).alias("n")).collect()[0]["n"]
    assert n == 11  # hello , world ! it ' s 3 . 5x faster


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog in the house", "en"),
        (2, "el perro y la casa de los gatos", "es"),
        (3, "der Hund ist nicht das Problem und", "de"),
        (4, "qqq zzz xxx", "und"),
        # real (unsegmented) Chinese: no whitespace word boundaries, so zh
        # markers must match by CONTAINMENT — token intersection scored this
        # 0 and returned 'und' before the r5 char-mode fix
        (5, "我不是在这里有的和我们一起去了北京看看世界", "zh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "expected"])
    out = {r["doc_id"]: r["pred_lang"] for r in T.language_id(df).collect()}
    for doc_id, _, expected in rows:
        assert out[doc_id] == expected


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in T.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    fp2 = {
        r["doc_id"]: r["fingerprint"]
        for r in T.fingerprint(df, hash_fn="portable").collect()
    }
    assert fp2[1] == fp2[2] and fp2[1] != fp2[3]


def test_multimodal_decode_real_bmp_features(spark):
    """Image rows carry real payloads (media_id mod 3: BMP / PNG / baseline
    JPEG): features are actual pixel stats (feature[0]/[1] = decoded
    width/height), not byte-stub hashes — and ALL containers decode to the
    same stats for the same pixels."""
    media = M.synthetic_media(spark, n=10)
    feats = M.decode_features(media, dim=8).collect()
    assert len(feats) == 10
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 8 for r in feats)
    for i in range(10):
        w, h = 64 + i % 16, 48 + i % 12
        assert by_id[i]["feature"][0] == pytest.approx(float(w))
        assert by_id[i]["feature"][1] == pytest.approx(float(h))
        if i % 3 == 0:  # BMP: fixed-layout container → exact size pinned
            stride = (w * 3 + 3) & ~3
            assert by_id[i]["n_bytes"] == 54 + stride * h
        # grayscale stats live in [0, 1]
        assert all(0.0 <= x <= 1.0 for x in by_id[i]["feature"][2:6])


def test_multimodal_decode_real_wav_features(spark):
    media = M.synthetic_media(spark, n=4, kind="audio")
    by_id = {r["media_id"]: r for r in M.decode_features(media, dim=8).collect()}
    for i in range(4):
        assert by_id[i]["feature"][0] == pytest.approx(0.8)  # 8000 Hz / 1e4
        assert by_id[i]["feature"][1] == pytest.approx((1000 + i) / 1000.0, abs=1e-3)
        # 0.5-amplitude sine: mean ~0, max ~0.5
        assert abs(by_id[i]["feature"][2]) < 0.01
        assert by_id[i]["feature"][5] == pytest.approx(0.5, abs=0.01)


def test_multimodal_strict_raises_on_non_bmp_wav(spark):
    # 'opaque' rows carry opaque bytes → strict marks the real-decoder
    # boundary (video rows now decode for real via the AVI/MJPEG codec)
    media = M.synthetic_media(spark, n=2, kind="opaque")
    with pytest.raises(Exception, match="NotImplementedError|BMP/WAV"):
        M.decode_features(media, strict=True).collect()
    # but BMP/WAV decode for real even under strict
    imgs = M.synthetic_media(spark, n=2, kind="image")
    assert len(M.decode_features(imgs, strict=True).collect()) == 2


def test_bmp_wav_codec_roundtrip():
    import numpy as np

    px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(5, 3, 3)
    assert np.array_equal(M.decode_bmp(M.encode_bmp(px)), px)
    s = np.linspace(-1, 1, 101)
    samples, rate, channels = M.decode_wav(M.encode_wav(s, 4000))
    assert rate == 4000 and channels == 1
    assert np.allclose(samples, s, atol=1e-4)  # 16-bit quantization step
    # non-media bytes are rejected, not misparsed
    assert M.decode_bmp(b"not a bitmap at all") is None
    assert M.decode_wav(b"RIFFxxxxNOPE") is None


def test_png_codec_roundtrip_and_unfilter():
    """encode_png → decode_png is pixel-identical for every channel count,
    and the unfilter path is cross-checked against an INDEPENDENT test-side
    implementation of the PNG spec's five filters (r4 VERDICT #5)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    # round-trip all four color types (gray, gray+alpha, RGB, RGBA)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(9, 7, ch), dtype=np.uint8)
        dec = M.decode_png(M.encode_png(px))
        assert dec.shape == (9, 7, 3)
        if ch == 1 or ch == 2:
            assert np.array_equal(dec, np.repeat(px[:, :, :1], 3, axis=2))
        else:
            assert np.array_equal(dec, px[:, :, :3])

    # hand-FILTER an RGB image with every filter type (reference scalar
    # implementation of spec §9, independent of the decoder) and check the
    # decoder unfilters it back to the original pixels
    h, w, bpp = 6, 5, 3
    px = rng.randint(0, 256, size=(h, w, bpp), dtype=np.uint8)
    flat = px.reshape(h, w * bpp).astype(int)
    filtered = b""
    for y, f in enumerate([0, 1, 2, 3, 4, 4]):
        line = flat[y]
        up = flat[y - 1] if y else np.zeros(w * bpp, int)
        out = []
        for x in range(w * bpp):
            a = flat[y][x - bpp] if x >= bpp else 0
            b = up[x]
            c = flat[y - 1][x - bpp] if (y and x >= bpp) else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - a
            elif f == 2:
                v = line[x] - b
            elif f == 3:
                v = line[x] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[x] - pred
            out.append(v & 0xFF)
        filtered += bytes([f]) + bytes(out)

    def chunk(t, d):
        return len(d).to_bytes(4, "big") + t + d + zlib.crc32(t + d).to_bytes(4, "big")

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(filtered))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(M.decode_png(payload), px)

    # unsupported/malformed variants are refused, not misparsed
    assert M.decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    bad_depth = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(filtered))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(bad_depth) is None
    assert M.decode_png(None) is None
    # zlib-bomb guard: absurd declared dims are rejected BEFORE any inflate
    # could allocate (review r5) — a 1-gigapixel IHDR over a tiny IDAT
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 40000, 40000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 1000))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(bomb) is None


def test_multimodal_decode_real_png_features(spark):
    """z00's decode stage computes REAL pixel features for PNG payloads
    (pinned width/height/means), and the strict boundary still rejects
    JPEG-like bytes (r4 VERDICT #5)."""
    import numpy as np

    from buzz_rust_spark.operators.multimodal import MEDIA_SCHEMA

    yy, xx = np.mgrid[0:20, 0:30]
    px = np.stack([xx % 256, yy % 256, (xx + yy) % 256], axis=2).astype(np.uint8)
    png = M.encode_png(px)
    jpeg_ish = b"\xff\xd8\xff\xe0" + bytes(range(64))  # JPEG SOI marker
    rows = [
        (0, "image", bytearray(png), "image/png", 30, 20, None),
        (1, "image", bytearray(jpeg_ish), "image/jpeg", None, None, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in M.decode_features(media, dim=8).collect()}
    expected_gray = px.astype("float64").mean(axis=2) / 255.0
    assert feats[0]["feature"][0] == pytest.approx(30.0)  # width
    assert feats[0]["feature"][1] == pytest.approx(20.0)  # height
    assert feats[0]["feature"][2] == pytest.approx(expected_gray.mean(), abs=1e-5)
    assert feats[0]["feature"][3] == pytest.approx(expected_gray.std(), abs=1e-5)
    # JPEG row fell through to the stub in non-strict mode
    assert feats[1]["n_bytes"] == len(jpeg_ish)
    with pytest.raises(Exception, match="NotImplementedError|PNG"):
        M.decode_features(
            spark.createDataFrame(rows[1:], schema=MEDIA_SCHEMA), strict=True
        ).collect()
    # but PNG decodes for real even under strict
    strict_ok = M.decode_features(
        spark.createDataFrame(rows[:1], schema=MEDIA_SCHEMA), strict=True
    ).collect()
    assert strict_ok[0]["feature"][0] == pytest.approx(30.0)


def test_resize_images_real_png(spark):
    """PNG payloads resize for real and stay PNG (container preserved)."""
    import numpy as np

    from buzz_rust_spark.operators.multimodal import MEDIA_SCHEMA

    yy, xx = np.mgrid[0:16, 0:24]
    px = np.stack([xx % 256, yy % 256, (xx * yy) % 256], axis=2).astype(np.uint8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(M.encode_png(px)), "image/png", 24, 16, None)],
        schema=MEDIA_SCHEMA,
    )
    out = M.resize_images(media, target_width=8, target_height=4).collect()
    assert len(out) == 1 and out[0]["width"] == 8 and out[0]["height"] == 4
    resized = M.decode_png(bytes(out[0]["payload"]))
    assert resized is not None and resized.shape == (4, 8, 3)
    # nearest-neighbor: every output pixel equals SOME input pixel exactly
    rows_idx = (np.arange(4) * 16) // 4
    cols_idx = (np.arange(8) * 24) // 8
    assert np.array_equal(resized, px[rows_idx][:, cols_idx])


def test_frame_sample_plan(spark):
    media = M.synthetic_media(spark, n=3, kind="video")
    # durations 1000,1001,1002 ms → 1000ms step → 1-2 frames each
    out = M.frame_sample_plan(media, every_ms=1000).collect()
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert per[0] == [0]
    assert per[1] == [0, 1000]


def test_asof_join_backward_forward_tolerance(spark):
    from datetime import datetime

    from buzz_rust_spark.operators.asof import asof_join

    def ts(m):
        return datetime(2024, 1, 1, 0, m, 0)

    left = spark.createDataFrame(
        [(1, "u", ts(10)), (2, "u", ts(20)), (3, "v", ts(15)), (4, "w", ts(5))],
        ["id", "key", "t"],
    )
    right = spark.createDataFrame(
        [(100, "u", ts(8)), (101, "u", ts(10)), (102, "u", ts(25)), (103, "v", ts(16))],
        ["rid", "key", "t"],
    )
    back = {
        r["id"]: r["r_rid"]
        for r in asof_join(
            left, right, left_ts="t", right_ts="t", by=["key"], right_prefix="r_"
        ).collect()
    }
    # id1: right at exactly ts(10) matches (inclusive); id2: latest <= 20 is 101
    # id3: v's only right is at 16 > 15 → no match; id4: w has no rights
    assert back == {1: 101, 2: 101, 3: None, 4: None}

    fwd = {
        r["id"]: r["r_rid"]
        for r in asof_join(
            left,
            right,
            left_ts="t",
            right_ts="t",
            by=["key"],
            direction="forward",
            right_prefix="r_",
        ).collect()
    }
    assert fwd == {1: 101, 2: 102, 3: 103, 4: None}

    tol = {
        r["id"]: r["r_rid"]
        for r in asof_join(
            left,
            right,
            left_ts="t",
            right_ts="t",
            by=["key"],
            tolerance_seconds=120,
            right_prefix="r_",
        ).collect()
    }
    # id2's nearest earlier right is at 10 → 600s gap > 120s tolerance → null
    assert tol == {1: 101, 2: None, 3: None, 4: None}


def test_asof_join_missing_ts_column_is_bad_request(spark):
    from datetime import datetime

    from buzz_rust_spark import BuzzBadRequestError
    from buzz_rust_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, datetime(2024, 1, 1))], ["id", "t"])
    right = spark.createDataFrame([(2, datetime(2024, 1, 1))], ["rid", "t"])
    with pytest.raises(BuzzBadRequestError, match="'ts'.*left"):
        asof_join(left, right, left_ts="ts", right_ts="t")
    with pytest.raises(BuzzBadRequestError, match="'ts'.*right"):
        asof_join(left, right, left_ts="t", right_ts="ts")


def test_asof_join_widens_mixed_ts_types_without_tolerance(spark):
    """DATE/TIMESTAMP and INT/LONG sides join on the widened type when no
    tolerance is set; with a tolerance the types must match."""
    from datetime import date, datetime

    from buzz_rust_spark import BuzzBadRequestError
    from buzz_rust_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, date(2024, 1, 2)), (2, date(2024, 1, 1))], ["id", "d"]
    )
    right = spark.createDataFrame(
        [(100, datetime(2024, 1, 1, 12)), (101, datetime(2023, 12, 31))],
        ["rid", "t"],
    )
    got = {
        r["id"]: r["r_rid"]
        for r in asof_join(left, right, "d", "t", right_prefix="r_").collect()
    }
    assert got == {1: 100, 2: 101}
    with pytest.raises(BuzzBadRequestError, match="tolerance"):
        asof_join(left, right, "d", "t", tolerance_seconds=60)

    ileft = spark.createDataFrame([(1, 5), (2, 15)], ["id", "k"]).withColumn(
        "k", F.col("k").cast("int")
    )
    iright = spark.createDataFrame([(100, 4), (101, 10)], ["rid", "k"])
    got = {
        r["id"]: r["r_rid"]
        for r in asof_join(ileft, iright, "k", "k", right_prefix="r_").collect()
    }
    assert got == {1: 100, 2: 101}


def test_row_count_sums_a_directory_of_parquet_files(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from buzz_rust_spark.queries.registry import row_count

    table_dir = tmp_path / "docs.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"x": list(range(3))}), table_dir / "part-0.parquet")
    pq.write_table(pa.table({"x": list(range(4))}), table_dir / "part-1.parquet")
    pq.write_table(pa.table({"x": list(range(5))}), tmp_path / "single.parquet")
    assert row_count(str(tmp_path), "docs") == 7
    assert row_count(str(tmp_path), "single") == 5


def test_duplicate_clusters_matches_union_find(spark):
    """Min-label propagation must agree with a driver-side union-find."""
    from buzz_rust_spark.operators.dedup import duplicate_clusters

    edges = [
        (1, 2), (2, 3),          # component {1,2,3} -> 1
        (10, 11),                # {10,11} -> 10
        (20, 21), (21, 22), (22, 23), (20, 23),  # cycle {20..23} -> 20
        (30, 40), (31, 40),      # star {30,31,40} -> 30
    ]
    pairs = spark.createDataFrame(edges, ["id_1", "id_2"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }

    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    assert got == want


def test_resize_images_real_bmp(spark):
    """BMP payloads resize for real: the output is a decodable BMP at the
    target dims whose pixels equal a local nearest-neighbor recompute."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    media = M.synthetic_media(spark, n=16, kind="image")
    out = M.resize_images(media, target_width=32, target_height=32).collect()
    assert len(out) == 16
    originals = {
        r["media_id"]: M.decode_image(bytes(r["payload"]))
        for r in media.select("media_id", "payload").collect()
    }
    for r in out:
        assert r["width"] == 32 and r["height"] == 32
        # container preserved: BMP in → BMP out, PNG → PNG, JPEG → JPEG
        decode = [M.decode_bmp, M.decode_png, M.decode_jpeg][r["media_id"] % 3]
        resized = decode(bytes(r["payload"]))
        assert resized is not None and resized.shape == (32, 32, 3)
        src = originals[r["media_id"]]
        rows = (np.arange(32) * src.shape[0]) // 32
        cols = (np.arange(32) * src.shape[1]) // 32
        expect = src[rows][:, cols]
        if r["media_id"] % 3 == 2:  # JPEG re-encode is lossy (quant + DCT)
            assert np.abs(resized.astype(int) - expect.astype(int)).max() <= 24
        else:
            assert np.array_equal(resized, expect)
    # strict mode still marks the boundary for undecodable payloads; real
    # BMPs pass.  (craft an image-kind row with opaque bytes.)
    import pytest as _pytest

    fake = spark.createDataFrame(
        [(1, "image", bytes(range(64)), "image/jpeg", 8, 8, 0)],
        schema=M.MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="NotImplementedError|not a BMP"):
        M.resize_images(fake, strict=True).collect()
    assert len(M.resize_images(media, strict=True).collect()) == 16


def test_skew_join_equals_plain_join(spark, sf_dir):
    """skew_join must equal the plain join on skewed data, with the hot keys
    routed through a broadcast join branch."""
    from pyspark.sql import functions as F

    from buzz_rust_spark.functions.skew import skew_join
    from buzz_rust_spark.queries.registry import load

    li = load(spark, sf_dir, "lineitem")
    # Manufacture pathological skew: a third of all rows collapse onto one key.
    skewed = li.withColumn(
        "k", F.when(F.col("l_orderkey") % 3 == 0, F.lit(7)).otherwise(F.col("l_partkey"))
    ).select("k", "l_quantity")
    dim = (
        load(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("k"), "p_brand")
        .unionByName(spark.createDataFrame([(7, "HOT")], "k long, p_brand string"))
    )

    plain = skewed.join(dim, "k").groupBy("p_brand").count()
    auto = skew_join(skewed, dim, "k").groupBy("p_brand").count()
    explicit = skew_join(skewed, dim, "k", hot_keys=[7]).groupBy("p_brand").count()
    expected = {(r["p_brand"], r["count"]) for r in plain.collect()}
    assert {(r["p_brand"], r["count"]) for r in auto.collect()} == expected
    assert {(r["p_brand"], r["count"]) for r in explicit.collect()} == expected

    plan = explicit._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the hot branch
    # left join with nulls on the big side must keep every left row
    with_nulls = skewed.unionByName(
        spark.createDataFrame([(None, 1.0)], "k long, l_quantity double")
    )
    lp = with_nulls.join(dim, "k", "left").count()
    ls = skew_join(with_nulls, dim, "k", "left", hot_keys=[7]).count()
    assert lp == ls


def test_vector_quantize_roundtrip_and_normalize(spark, sf_dir):
    """int8 codes stay in range, the round-trip error matches the reported
    MAE bound, and l2_normalize yields unit vectors."""
    import math

    from pyspark.sql import functions as F

    from buzz_rust_spark.functions import vector as V
    from buzz_rust_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 50)
    e = F.col("embedding")
    rows = emb.select(
        "vec_id",
        V.as_double_array(e).alias("vec"),
        V.int8_quantize(e).alias("codes"),
        V.max_abs(e).alias("m"),
        V.int8_quantization_mae(e).alias("mae"),
        V.l2_norm(V.l2_normalize(e)).alias("unit_norm"),
    ).collect()
    assert rows
    for r in rows:
        assert all(-127 <= c <= 127 for c in r["codes"])
        scale = 127.0 / r["m"]
        mae = sum(abs(x - c / scale) for x, c in zip(r["vec"], r["codes"])) / len(r["vec"])
        assert math.isclose(mae, r["mae"], rel_tol=1e-9)
        assert r["mae"] <= r["m"] / 127.0  # half-step bound: max err ≤ m/254 per element
        assert math.isclose(r["unit_norm"], 1.0, rel_tol=1e-12)


def test_hyperplane_signatures_diverse(spark):
    """Planes must differ (one continuous LCG stream): with identical planes
    every signature collapses to 0 or all-ones and LSH degenerates to a
    2-bucket cross join."""
    import math

    rows = [(i, [math.sin(i * 3.7 + j * 1.3) for j in range(16)]) for i in range(64)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sigs = {r["lsh_sig"] for r in S.hyperplane_signatures(emb, dim=16, bits=16).collect()}
    assert len(sigs) > 2, f"signatures collapsed to {sigs}"


def test_ngram_cap_only_prunes_candidates(spark, docs):
    """The df-cap affects candidate generation only: default cap and no cap
    agree exactly on the test corpus, while a cap of 1 (every shared shingle
    is 'hot') suppresses all candidates — proving the cap is live."""
    capped = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    uncapped = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, shingle_df_cap=None
        ).collect()
    }
    assert capped == uncapped and capped
    none_found = D.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, shingle_df_cap=1
    ).count()
    assert none_found == 0


def test_ngram_cap_hot_correction_keeps_jaccard_exact(spark):
    """When the cap actually triggers, pairs that still share a cold shingle
    must report the EXACT Jaccard (shared hot shingles restored via the
    per-doc hot arrays), not the cold-only undercount."""
    # "alpha beta gamma" appears in all 8 docs → its shingle is hot at cap=4;
    # docs 1/2 additionally share cold shingles ("delta epsilon zeta ...").
    filler = [f"unique{i} filler{i} pad{i}" for i in range(6)]
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, "alpha beta gamma delta epsilon zeta theta"),
        *[(3 + i, f"alpha beta gamma {filler[i]}") for i in range(6)],
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            corpus, n=3, threshold=0.3, shingle_df_cap=4
        ).collect()
    }
    uncapped = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            corpus, n=3, threshold=0.3, shingle_df_cap=None
        ).collect()
    }
    assert (1, 2) in capped
    assert capped[(1, 2)] == pytest.approx(uncapped[(1, 2)])


def test_ngram_auto_elides_hot_branch_when_no_bucket_is_hot(spark, docs):
    """Round-12 optimization pin: the auto path's probe already reads the max
    posting-list size, so when NO bucket exceeds the df-cap the (provably
    empty) hot-correction join subtree must be elided from the plan — and
    when a bucket IS hot, the subtree must stay."""
    from buzz_rust_spark.operators.dedup import ngram_jaccard_pairs

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # default cap (10k) >> every df on the tiny corpus → subtree elided
    cold = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    assert "array_intersect" not in plan_of(cold)
    # cap=1 makes every shared shingle hot → subtree present
    hot = ngram_jaccard_pairs(docs, n=3, threshold=0.5, shingle_df_cap=1)
    assert "array_intersect" in plan_of(hot)
    # and the elided plan still returns the exact pairs of the static path
    static = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, prefix_filter=False
    )
    as_set = lambda df: {  # noqa: E731
        (r["id_1"], r["id_2"], round(r["jaccard"], 6)) for r in df.collect()
    }
    assert as_set(cold) == as_set(static) and as_set(cold)


def test_ngram_pair_agg_partitions_adapt_to_volume(spark, docs, monkeypatch):
    """Round-13 optimization pin: when the auto probe's Σ df² says the pair
    count aggregate would see more than PAIR_AGG_ROWS_PER_TASK rows per
    default shuffle partition, the dense path repartitions the pair rows by
    the pair key into ceil(est / rows_per_task) partitions (sf1 measurement:
    2.5 GB of aggregation spill → 0, exec median 24.1 → 11.0 s).  The
    partition count must only change layout — results stay identical to the
    default path — and must NOT engage below the threshold."""
    from buzz_rust_spark.operators import dedup as D_

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    import re

    # the adaptive exchange is the only pair-key exchange with a
    # REPARTITION_BY_NUM origin (the default agg exchange is
    # ENSURE_REQUIREMENTS; ensure_parallelism's is round-robin)
    adaptive_exchange = re.compile(
        r"hashpartitioning\(id_1[^)]*\), REPARTITION_BY_NUM"
    )
    # default threshold: tiny corpus stays on the round-12 shape
    small = D_.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    assert not adaptive_exchange.search(plan_of(small))
    # force the adaptive path (as a huge corpus would) and require both the
    # pair-key exchange in the plan and identical results
    monkeypatch.setattr(D_, "PAIR_AGG_ROWS_PER_TASK", 1)
    big = D_.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    assert adaptive_exchange.search(plan_of(big))
    as_set = lambda df: {  # noqa: E731
        (r["id_1"], r["id_2"], round(r["jaccard"], 6)) for r in df.collect()
    }
    assert as_set(big) == as_set(small) and as_set(big)


def test_shingle_pipelines_stage_token_array_once(spark, docs):
    """Round-12 optimization pin: the shingle/ngram hot paths stage the token
    array in its own projection, so the regex tokenization appears exactly
    ONCE in each physical plan (the inline form re-ran `split` inside the
    slice lambdas — interpreted, once per output element).  If a refactor
    re-inlines the tokens (e.g. CollapseProject starts merging the staging
    projection), the `split` count regresses and this trips."""
    from buzz_rust_spark.operators.dedup import (
        _exploded_shingle_index,
        _hashed_shingle_docs,
    )

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    idx_plan = plan_of(_exploded_shingle_index(docs, "text", "doc_id", 3, "fast"))
    assert idx_plan.count("split(") == 1
    shh = _hashed_shingle_docs(docs, "text", "doc_id", 3, "fast")
    try:
        assert plan_of(shh).count("split(") == 1
    finally:
        shh.unpersist()
    grams_plan = plan_of(T.top_ngrams(docs, n=2, k=5))
    assert grams_plan.count("split(") == 1


def test_salted_aggregate_nullable_count(spark):
    """count partial must skip nulls like F.count(col) in a plain group-by
    (COUNT(*) would overcount nullable inputs)."""
    from buzz_rust_spark.functions.skew import salted_aggregate

    rows = [("a", 1), ("a", None), ("a", 3), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {
        r["k"]: (r["n"], r["s"])
        for r in salted_aggregate(
            df, keys=["k"], aggs={"n": ("v", "count"), "s": ("v", "sum")}, salt_buckets=4
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_redact_pii(spark):
    rows = [
        (1, "mail me at john.doe+x@example.co.uk or call (555) 123-4567"),
        (2, "server 192.168.1.100 responded; backup at 10.0.0.1"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1]["text"] and "@" not in out[1]["text"]
    assert "<PHONE>" in out[1]["text"] and "123-4567" not in out[1]["text"]
    assert out[1]["n_email_redacted"] == 1 and out[1]["n_phone_redacted"] == 1
    assert out[2]["text"].count("<IP>") == 2 and out[2]["n_ip_redacted"] == 2
    assert out[3]["text"] == rows[2][1]
    assert (
        out[3]["n_email_redacted"]
        == out[3]["n_phone_redacted"]
        == out[3]["n_ip_redacted"]
        == 0
    )


def test_contamination_flags(spark):
    bench = spark.createDataFrame(
        [(1, "what is the capital of france paris obviously")],
        ["q_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 5-gram "what is the capital of"
            (10, "quiz: what is the capital of france paris obviously said no one"),
            (11, "entirely unrelated text about distributed query engines"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_contaminated_ngrams"], r["contaminated"])
        for r in T.contamination_flags(
            corpus, bench, n=5, benchmark_text_col="text"
        ).collect()
    }
    assert out[10][1] is True and out[10][0] >= 1
    assert out[11] == (0, False)
    assert len(out) == 2  # every input doc appears exactly once


def test_stratified_sample_deterministic_rates(spark):
    from buzz_rust_spark.operators.sampling import stratified_sample

    rows = [(i, "web" if i % 2 == 0 else "code") for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "domain"])
    out = stratified_sample(df, "domain", {"web": 0.5, "code": 0.1})
    got = out.groupBy("domain").count().collect()
    counts = {r["domain"]: r["count"] for r in got}
    assert 400 <= counts["web"] <= 600  # ~500 of 1000
    assert 50 <= counts["code"] <= 150  # ~100 of 1000
    # deterministic: identical on rerun
    again = {
        (r["id"], r["domain"]) for r in stratified_sample(
            df, "domain", {"web": 0.5, "code": 0.1}
        ).collect()
    }
    assert {(r["id"], r["domain"]) for r in out.collect()} == again
    # unknown strata obey default_fraction
    assert (
        stratified_sample(df, "domain", {"web": 0.5}).where(
            F.col("domain") == "code"
        ).count()
        == 0
    )


def test_hash_split_stable_and_exhaustive(spark):
    from buzz_rust_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(3000)], ["id"])
    out = hash_split(df, {"train": 8, "val": 1, "test": 1}, key_cols=["id"])
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] + counts["val"] + counts["test"] == 3000
    assert counts["train"] > 2200  # ~2400 expected
    # a row's split depends only on its key: subset assignment matches
    sub = hash_split(
        df.where(F.col("id") < 100), {"train": 8, "val": 1, "test": 1}, key_cols=["id"]
    )
    full = {r["id"]: r["split"] for r in out.where(F.col("id") < 100).collect()}
    assert {r["id"]: r["split"] for r in sub.collect()} == full


def test_sampling_invariant_to_partitioning(spark):
    """Hash sampling must pick identical rows regardless of physical layout —
    the property that makes it safe under task retries and repartitioning
    (unlike RNG-seeded per-partition sampling)."""
    from buzz_rust_spark.operators.sampling import hash_split, stratified_sample

    rows = [(i, "web" if i % 3 else "code") for i in range(1000)]
    df1 = spark.createDataFrame(rows, ["id", "domain"]).repartition(13)
    df2 = spark.createDataFrame(rows, ["id", "domain"]).coalesce(1)
    s1 = {r["id"] for r in stratified_sample(df1, "domain", {"web": 0.4, "code": 0.2}).collect()}
    s2 = {r["id"] for r in stratified_sample(df2, "domain", {"web": 0.4, "code": 0.2}).collect()}
    assert s1 == s2
    h1 = {(r["id"], r["split"]) for r in hash_split(df1, {"a": 1, "b": 1}, key_cols=["id"]).collect()}
    h2 = {(r["id"], r["split"]) for r in hash_split(df2, {"a": 1, "b": 1}, key_cols=["id"]).collect()}
    assert h1 == h2


def test_prepare_training_corpus_end_to_end(spark):
    """The composed prep pipeline: scrub → quality gate → exact dedup →
    near-dup clusters → decontaminate → split, with each stage's effect
    visible in the output."""
    from buzz_rust_spark.operators.corpus import (
        CorpusPrepConfig,
        prepare_training_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 → dropped
        (3, base.replace("dog", "cat")),  # near-dup of 1 → dropped (cluster min=1)
        (4, "write me at alice@example.com about the distributed query engine "
            "architecture we discussed during the long meeting yesterday ok"),
        (5, "x"),  # too short → quality-gated
        (6, "completely original prose about training data pipelines running "
            "on large compute clusters with careful deduplication strategies"),
        (7, "the benchmark question what is the capital of france appears here "
            "verbatim inside this otherwise unremarkable document body text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(0, "what is the capital of france")], ["q_id", "text"]
    )
    out = prepare_training_corpus(
        docs,
        benchmark=bench,
        config=CorpusPrepConfig(
            min_quality=0.6,
            neardup_threshold=0.5,
            contamination_ngram=5,
            split_weights={"train": 1.0},
        ),
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 4, 6}  # 2 exact-dup, 3 near-dup, 5 quality, 7 contaminated
    assert "<EMAIL>" in got[4]["text"]  # scrub ran before anything downstream
    assert all(r["split"] == "train" for r in got.values())
    assert all("quality" in r.asDict() for r in got.values())


# --- paragraph-level dedup ---------------------------------------------------


def test_paragraph_dedup_keeps_first_occurrence(spark):
    boiler = "subscribe to our newsletter today"
    rows = [
        (1, f"intro paragraph one\n{boiler}\nunique closing thoughts"),
        (2, f"{boiler}\nsecond document body text here"),
        (3, f"third document distinct content\n{boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(df, min_chars=10).collect()
    }
    # doc 1 holds the first occurrence (lowest doc_id) and keeps everything
    assert out[1]["text"] == rows[0][1]
    assert out[1]["n_paragraphs"] == 3 and out[1]["n_kept"] == 3
    # later copies lose exactly the boilerplate line, order preserved
    assert out[2]["text"] == "second document body text here"
    assert out[3]["text"] == "third document distinct content"
    assert out[3]["n_paragraphs"] == 2 and out[3]["n_kept"] == 1


def test_paragraph_dedup_short_lines_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "##\nlong enough paragraph body\n##"),
         (2, "##\nanother long enough body here\n##")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in D.paragraph_dedup(df, min_chars=10).collect()}
    # the "##" separator is below min_chars on BOTH docs: never deduped
    assert out[1] == "##\nlong enough paragraph body\n##"
    assert out[2] == "##\nanother long enough body here\n##"


def test_paragraph_dedup_normalized_matching_and_empty_doc(spark):
    df = spark.createDataFrame(
        [(1, "Exactly The Same   Paragraph"),
         (2, "exactly the same paragraph")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(df, min_chars=10).collect()}
    assert out[1]["n_kept"] == 1
    # doc 2 is entirely boilerplate: survives with empty text, caller decides
    assert out[2]["n_kept"] == 0 and out[2]["text"] == ""


def test_paragraph_dedup_matches_bruteforce_oracle(spark, sf_dir):
    """Brute-force single-threaded re-implementation over the real corpus
    slice must agree exactly (determinism + first-occurrence semantics)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    out = {
        r["doc_id"]: r["text"]
        for r in D.paragraph_dedup(docs, min_chars=10).collect()
    }
    import re

    seen: set[str] = set()
    expected: dict[int, str] = {}
    for row in sorted(docs.collect(), key=lambda r: r["doc_id"]):
        kept = []
        for para in row["text"].split("\n"):
            if len(para.strip()) < 10:
                kept.append(para)
                continue
            norm = re.sub(r"\s+", " ", para.lower().strip())
            if norm not in seen:
                seen.add(norm)
                kept.append(para)
        expected[row["doc_id"]] = "\n".join(kept)
    assert out == expected


# --- incremental (cross-batch) dedup ----------------------------------------


def test_dedup_incremental_against_seen_corpus(spark):
    seen = spark.createDataFrame([(1, "known document text"),], ["doc_id", "text"])
    seen_hashes = D.exact_duplicates(seen).select("text_hash")
    batch = spark.createDataFrame(
        [
            (10, "known document text"),        # already ingested → dropped
            (11, "fresh content alpha"),
            (12, "fresh content alpha"),        # within-batch dup → keep min id
            (13, "fresh content beta"),
        ],
        ["doc_id", "text"],
    )
    out = D.dedup_incremental(batch, seen_hashes)
    assert {r["doc_id"] for r in out.collect()} == {11, 13}
    # survivors expose their hash for appending to the seen state
    assert "text_hash" in out.columns
    # second pass with the updated state drops everything
    new_state = seen_hashes.union(out.select("text_hash"))
    assert D.dedup_incremental(batch, new_state).count() == 0


# --- deterministic epoch shuffle ---------------------------------------------


def test_shuffle_epoch_deterministic_and_complete(spark, sf_dir):
    from buzz_rust_spark.operators.sampling import shuffle_epoch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = [r["doc_id"] for r in shuffle_epoch(docs, epoch=1, num_shards=8).collect()]
    b = [r["doc_id"] for r in shuffle_epoch(docs, epoch=1, num_shards=8).collect()]
    c = [r["doc_id"] for r in shuffle_epoch(docs, epoch=2, num_shards=8).collect()]
    assert a == b                      # rerun-stable
    assert a != c                      # epochs permute differently
    assert sorted(a) == sorted(c)      # nothing lost or duplicated
    assert a != sorted(a)              # actually shuffled


def test_shuffle_epoch_no_global_sort(spark, sf_dir):
    """The plan must be hash exchange + in-partition sort — no
    rangepartitioning (global sort) anywhere."""
    from buzz_rust_spark.operators.sampling import shuffle_epoch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        shuffle_epoch(docs, epoch=1, num_shards=8)
        ._sc._jvm.PythonSQLUtils.explainString(
            shuffle_epoch(docs, epoch=1, num_shards=8)._jdf.queryExecution(),
            "formatted",
        )
    )
    assert "rangepartitioning" not in plan.lower()
    assert "Sort" in plan  # the within-partition sort is there


# --- operator-scoped cache cleanup ------------------------------------------


def test_operator_caches_released_between_queries(spark, sf_dir):
    """d02+d03+t05 back-to-back must not accumulate persisted relations: the
    query registry releases the previous query's tracked caches at next-query
    entry, and release_operator_caches() drains the rest (VERDICT r3 #4)."""
    from buzz_rust_spark.functions.cache import release_operator_caches
    from buzz_rust_spark.queries import all_queries

    release_operator_caches()
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    qs = all_queries()
    for name in ("d02_ngram_jaccard", "d03_minhash_lsh", "t05_top_ngrams"):
        qs[name].fn(spark, sf_dir).count()
    release_operator_caches()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= baseline, f"leaked persisted RDDs: {after - baseline}"


def test_gopher_repetition_matches_bruteforce(spark):
    """Every repetition metric equals a brute-force Python recompute of the
    documented definitions (occurrence-after-first dups, >= 2-occurrence top
    gram, overlap-agnostic dup chars clamped to 1) on fixtures that fire
    each rule family independently."""
    from collections import Counter

    from buzz_rust_spark.operators.text import gopher_repetition

    rows = [
        (0, "the quick brown fox jumps over a lazy dog while birds sing "
            "sweetly in the morning light of spring"),
        (1, "repeated line here\nrepeated line here\nunique line one\n\n"
            "same para\n\nsame para"),
        (2, "buy now " * 20 + "please"),
        (3, "alpha beta gamma delta epsilon filler one two alpha beta gamma "
            "delta epsilon other words here"),
        (4, ""),
        (5, "   \n  \n\n  "),  # whitespace-only: every metric 0, passes
    ]

    def ref(text):
        import re

        toks = [w for w in re.split(r"\s+", text.lower().strip()) if w]
        total = len(" ".join(toks)) if toks else 0
        out = {}

        def seg_stats(segs):
            c = Counter(segs)
            dup_n = sum(n - 1 for n in c.values() if n > 1)
            dup_c = sum((n - 1) * len(s) for s, n in c.items() if n > 1)
            tot_n, tot_c = len(segs), sum(len(s) for s in segs)
            return (
                round(min(dup_n / tot_n, 1.0), 6) if tot_n else 0.0,
                round(min(dup_c / tot_c, 1.0), 6) if tot_c else 0.0,
            )

        lines = [s.strip() for s in re.split(r"\n", text) if s.strip()]
        paras = [s.strip() for s in re.split(r"\n{2,}", text) if s.strip()]
        out["dup_line_frac"], out["dup_line_char_frac"] = seg_stats(lines)
        out["dup_para_frac"], out["dup_para_char_frac"] = seg_stats(paras)

        def grams(n):
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

        for n in (2, 3, 4):
            c = Counter(grams(n))
            top = max((k * len(g) for g, k in c.items() if k >= 2), default=0)
            out[f"top_{n}gram_char_frac"] = (
                round(min(top / total, 1.0), 6) if total else 0.0
            )
        for n in range(5, 11):
            c = Counter(grams(n))
            dup = sum((k - 1) * len(g) for g, k in c.items() if k > 1)
            out[f"dup_{n}gram_char_frac"] = (
                round(min(dup / total, 1.0), 6) if total else 0.0
            )
        return out

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(df).collect()}
    for i, text in rows:
        want = ref(text)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-6), (i, k, got[i][k], v)
    # rule firing: clean prose and degenerate docs pass; each pathology fails
    assert got[0]["passes"] and got[4]["passes"] and got[5]["passes"]
    assert not got[1]["passes"] and not got[2]["passes"] and not got[3]["passes"]


def test_gopher_repetition_plan_shape(spark, sf_dir):
    """The n-gram metrics are codegen hash aggregates over an integers-only
    explode — no Python nodes, no cartesian products, and the only strings
    leaving the map stage are the (small) per-segment line/para arrays."""
    from buzz_rust_spark.operators.text import gopher_repetition
    from buzz_rust_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    plan = gopher_repetition(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "xxhash64" in plan  # grams shuffle as 64-bit hashes, not strings


def test_bigram_lm_matches_bruteforce(spark):
    """train_bigram_lm + lm_score reproduce an exact Python recompute of the
    documented add-alpha model on every transition, including OOV words,
    OOV contexts, single-token docs, and empty docs."""
    import math
    import re
    from collections import Counter

    from buzz_rust_spark.operators.lm import lm_score, train_bigram_lm

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "a cat and a dog"),
    ]
    score_rows = [
        (1, "the cat sat on the mat"),
        (2, "zebra quantum flux"),
        (3, ""),
        (4, "the"),
        (5, "dog the cat"),  # seen words, unseen transitions
    ]

    def toks(s):
        return [w for w in re.split(r"\s+", s.lower().strip()) if w]

    alpha = 0.5
    c1 = Counter(w for _, s in train_rows for w in toks(s))
    c2 = Counter(
        (a, b)
        for _, s in train_rows
        for a, b in zip(toks(s), toks(s)[1:])
    )
    N, V = sum(c1.values()), len(c1)

    def ref(s):
        ws = toks(s)
        if not ws:
            return (0, None, None)
        lps = [math.log((c1[ws[0]] + alpha) / (N + alpha * V))]
        for a, b in zip(ws, ws[1:]):
            lps.append(
                math.log((c2[(a, b)] + alpha) / (c1[a] + alpha * V))
            )
        avg = round(sum(lps) / len(lps), 6)
        return (len(ws), avg, round(math.exp(-avg), 6))

    lm = train_bigram_lm(
        spark.createDataFrame(train_rows, ["doc_id", "text"]), alpha=alpha
    )
    assert (lm.n_tokens, lm.vocab_size) == (N, V)
    got = {
        r["doc_id"]: (r["n_scored"], r["avg_logprob"], r["perplexity"])
        for r in lm_score(
            lm, spark.createDataFrame(score_rows, ["doc_id", "text"])
        ).collect()
    }
    for i, s in score_rows:
        n, avg, ppl = ref(s)
        assert got[i][0] == n, (i, got[i])
        if avg is None:
            assert got[i][1] is None and got[i][2] is None
        else:
            assert got[i][1] == pytest.approx(avg, abs=2e-6), (i, got[i], avg)
            assert got[i][2] == pytest.approx(ppl, rel=1e-5), (i, got[i], ppl)
    # in-distribution text scores strictly better than OOV gibberish
    assert got[1][1] > got[2][1]


def test_operator_cache_scopes_are_independent(spark):
    """Two interleaved operator builds in explicit scopes release ONLY their
    own persists (r4 VERDICT #6: the old module-global list let concurrent
    callers release each other's caches)."""
    from buzz_rust_spark.functions.cache import (
        operator_cache_scope,
        release_operator_caches,
    )

    release_operator_caches()
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta eta") for i in range(20)],
        ["doc_id", "text"],
    )
    with operator_cache_scope() as outer:
        a = D.minhash_lsh_pairs(docs, threshold=0.5)
        n_outer = len(outer)
        assert n_outer > 0  # minhash registered its persists to THIS scope
        with operator_cache_scope() as inner:
            b = D.ngram_jaccard_pairs(docs, threshold=0.5)
            assert len(inner) > 0 and len(outer) == n_outer  # no cross-talk
            b.count()
        # inner scope released; outer persists must still be CACHED and usable
        a.count()
        live = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        assert len(live - baseline) >= n_outer
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= baseline, f"scoped persists leaked: {after - baseline}"
    # and the session registry was never involved
    assert release_operator_caches() == 0


def test_duplicate_clusters_one_action_per_iteration(spark, monkeypatch):
    """Each propagation round must be ONE action: the convergence count is an
    Observation folded into the eager checkpoint's materialization, never a
    separate count()/collect()/isEmpty() driver action (r4 VERDICT #7).
    Job-ID counting is useless here (AQE splits one action into a job per
    shuffle stage), so pin the property itself: every counting action is
    poisoned for the duration of the call."""
    from pyspark.sql import DataFrame

    from buzz_rust_spark.functions.cache import release_operator_caches

    def _poisoned(name):
        def fail(self, *a, **k):
            raise AssertionError(
                f"duplicate_clusters ran DataFrame.{name}() as a separate "
                "action — convergence must ride the checkpoint's Observation"
            )
        return fail

    for name in ("count", "collect", "isEmpty", "first", "take", "head"):
        monkeypatch.setattr(DataFrame, name, _poisoned(name))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_1", "id_2"]
    )  # path graph: min-label needs 3 propagation rounds + 1 confirming round
    out = D.duplicate_clusters(pairs)
    monkeypatch.undo()
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1}
    release_operator_caches()


def test_duplicate_clusters_releases_checkpoints(spark):
    """Per-round localCheckpoint storage must actually be unpersisted on the
    running Spark version (the release goes through private internals — this
    pins that it still works; r4 ADVICE #5): after the call only the FINAL
    checkpoint may remain cached."""
    from buzz_rust_spark.functions.cache import release_operator_caches

    release_operator_caches()
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    # star + path mix: converges in several rounds, so multiple checkpoints
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_1", "id_2"]
    )
    out = D.duplicate_clusters(pairs)
    out.count()
    release_operator_caches()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - baseline
    # ≤1: the final checkpoint the returned plan still reads; every earlier
    # round's checkpoint must have been freed
    assert len(leaked) <= 1, f"leaked {len(leaked)} checkpoint RDDs: {leaked}"


def test_dedup_incremental_null_text_semantics(spark):
    """Null-text documents are ONE equivalence class (dedup_exact's
    group-by-null semantics): first survives, later ones drop — in-batch and
    against a state that carries the NULL digest (r4 ADVICE #3: the old
    equi-joins silently dropped every null-text row)."""
    new = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, None), (4, "hello world")],
        ["doc_id", "text"],
    )
    empty_seen = spark.createDataFrame([], "text_hash string")
    surv = sorted(
        r.doc_id for r in D.dedup_incremental(new, empty_seen).collect()
    )
    assert surv == [1, 2], surv  # min-id null doc survives, doc 3 drops
    null_seen = spark.createDataFrame([(None,)], "text_hash string")
    surv2 = sorted(
        r.doc_id for r in D.dedup_incremental(new, null_seen).collect()
    )
    assert surv2 == [1], surv2  # state already saw a null doc → both drop


def test_dedup_incremental_bloom_null_text_semantics(spark):
    """Same null-class semantics on the Bloom path: null digests hash to a
    constant probe signature, so the state CAN represent them; the null-safe
    join-back must surface it (r4 ADVICE #3)."""
    from buzz_rust_spark.operators.bloom import bloom_build, dedup_incremental_bloom

    new = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, None)], ["doc_id", "text"]
    )
    empty_state = spark.createDataFrame([], "word_idx int, bits long")
    surv = sorted(
        r.doc_id for r in dedup_incremental_bloom(new, empty_state).collect()
    )
    assert surv == [1, 2], surv
    # advance the state with the survivors' digests (including the NULL one)
    survivors = dedup_incremental_bloom(new, empty_state)
    state = bloom_build(survivors.select("text_hash"), "text_hash")
    surv2 = sorted(
        r.doc_id for r in dedup_incremental_bloom(new, state).collect()
    )
    assert surv2 == [], surv2  # every doc (incl. nulls) now a known duplicate


def test_gopher_passes_expr_matches_gopher_quality(spark, sf_dir):
    """The inline Gopher gate (used by prepare_training_corpus to avoid the
    metrics-relation semi-join) must keep the EXACT same set as
    gopher_quality's `passes` flag (r4 ADVICE #4)."""
    from buzz_rust_spark.operators.text import gopher_passes_expr, gopher_quality
    from buzz_rust_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents").limit(200)
    rules = dict(min_stopwords=0, min_mean_word_len=2.0)  # corpus-tuned
    via_flag = {
        r.doc_id
        for r in gopher_quality(docs, **rules).where(F.col("passes")).collect()
    }
    via_expr = {
        r.doc_id
        for r in docs.where(gopher_passes_expr(F.col("text"), **rules))
        .select("doc_id")
        .collect()
    }
    assert via_expr == via_flag
    assert via_flag  # non-degenerate: the tuned rules keep at least one doc


def test_paragraph_dedup_single_explode_scan(spark):
    """The exploded paragraph relation must be computed once (persisted) and
    shared by all four branches — not re-derived per branch (VERDICT r3 #2)."""
    from buzz_rust_spark.functions.cache import release_operator_caches

    df = spark.createDataFrame(
        [(1, "alpha paragraph body\nshared boilerplate line"),
         (2, "shared boilerplate line\nbeta paragraph body")],
        ["doc_id", "text"],
    )
    out = D.paragraph_dedup(df, min_chars=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # With the persist, every branch reads an InMemoryTableScan; the single
    # Generate lives only inside the cached plan (which toString prints once
    # per scan), so Generate occurrences == InMemoryRelation occurrences.
    # Pre-fix, three branches re-derived the explode OUTSIDE any cache, so
    # the counts differed.
    assert plan.count("InMemoryTableScan") >= 4, plan
    assert plan.count("Generate") == plan.count("InMemoryRelation"), plan
    out.count()
    release_operator_caches()


def test_simhash_vectorized_checksum(spark, sf_dir):
    """The round-4 vectorized SimHash kernel must produce bit-identical
    signatures to the definitional per-token accumulation (and the pigeonhole
    banding downstream of it)."""

    def reference_simhash(text: str) -> int:
        toks = (text or "").lower().split()
        if not toks:
            return 0
        acc = [0] * 64
        for tok in toks:
            h = D.hash_token(tok)
            for j in range(64):
                acc[j] += 1 if (h >> j) & 1 else -1
        value = sum(1 << j for j in range(64) if acc[j] > 0)
        return value - (1 << 64) if value >= 1 << 63 else value

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    got = {
        r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()
    }
    want = {
        r["doc_id"]: reference_simhash(r["text"])
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == want
    # empty/None-ish docs hash to 0
    edge = spark.createDataFrame([(1, ""), (2, "   "), (3, "one")], ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(edge).collect()}
    assert sigs[1] == 0 and sigs[2] == 0 and sigs[3] == reference_simhash("one")


def test_semantic_dedup_properties(spark, sf_dir):
    """SemDeDup greedy pruning invariants, brute-force verified per cluster:
    every kept pair within a cluster is below the threshold, and every
    dropped row is >= threshold to some kept LOWER-id row in its cluster."""
    import numpy as np

    from pyspark.sql import functions as _F

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # real corpus + synthetic near-copies (id+10000, one component nudged):
    # the testdata embeddings carry almost no cosine>=0.8 pairs on their own
    dups = base.where(_F.col("vec_id") < 50).select(
        (_F.col("vec_id") + 10000).alias("vec_id"),
        _F.concat(
            _F.slice("embedding", 1, 63),
            _F.array(_F.element_at("embedding", 64) + _F.lit(0.05)),
        ).alias("embedding"),
    )
    emb = base.select("vec_id", "embedding").unionByName(dups)
    out = S.semantic_dedup(emb, threshold=0.8, n_clusters=8, dim=64).collect()
    assert len(out) == emb.count()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype="float64")
        for r in emb.collect()
    }
    for vid, v in vecs.items():
        n = np.linalg.norm(v)
        vecs[vid] = v / (n if n else 1.0)
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    n_dropped = 0
    for rows in by_cluster.values():
        rows.sort(key=lambda r: r["vec_id"])
        kept_ids = [r["vec_id"] for r in rows if r["kept"]]
        for r in rows:
            earlier_kept = [k for k in kept_ids if k < r["vec_id"]]
            sims = [float(vecs[k] @ vecs[r["vec_id"]]) for k in earlier_kept]
            if r["kept"]:
                assert all(s < 0.8 + 1e-9 for s in sims), r
            else:
                n_dropped += 1
                assert max(sims) >= 0.8 - 1e-9, r
                assert r["max_cosine_kept"] == pytest.approx(max(sims), abs=1e-5)
    assert n_dropped > 0  # the corpus contains semantic near-dups


def test_semantic_dedup_identical_vectors_keep_min_id(spark):
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in (7, 3, 9)] + [
        (5, [0.0, 1.0, 0.0, 0.0])
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for nparts in (1, 4):
        out = {
            r["vec_id"]: r["kept"]
            for r in S.semantic_dedup(
                emb.repartition(nparts), threshold=0.95, n_clusters=2, dim=4
            ).collect()
        }
        assert out[3] and not out[7] and not out[9]  # min id survives
        assert out[5]  # orthogonal vector untouched


def test_semantic_dedup_null_ragged_tolerant(spark):
    """Null/wrong-dimension embeddings are dropped, not driver/task crashes
    (code-review r4: training collected nulls, prune np.stacked ragged)."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),
            (3, [1.0]),       # ragged
            (4, [1.0, 0.001]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["kept"] for r in
           S.semantic_dedup(emb, threshold=0.95, n_clusters=1).collect()}
    assert set(out) == {1, 4}
    assert out[1] and not out[4]


def test_decode_wav_truncated_payload(spark):
    """A 16-bit WAV with an odd-length data chunk decodes its complete
    samples instead of raising (code-review r4)."""
    import numpy as np

    good = M.encode_wav(np.zeros(10), 8000)
    truncated = good[:-1]  # odd data length
    r = M.decode_wav(truncated)
    assert r is not None and len(r[0]) == 9


# --- BPE tokenizer -----------------------------------------------------------


def test_bpe_learns_canonical_merges(spark):
    """The Sennrich toy corpus: frequent character pairs merge first, and
    every encoded word reconstructs exactly."""
    from buzz_rust_spark.operators import bpe as B

    rows = [
        (1, "low low low low low"),
        (2, "lower lower newest newest newest newest newest newest"),
        (3, "widest widest widest"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = B.train_bpe(df, num_merges=10)
    assert len(merges) == 10
    # 'es'+'t</w>' family dominates (newest x6 + widest x3): the first merges
    # must include building 'est</w>'
    joined = ["".join(p) for p in merges]
    assert any(m == "est</w>" or m.endswith("est</w>") for m in joined)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ("low", "lower", "newest", "widest", "unseen"):
        pieces = B.encode_word(w, ranks)
        assert "".join(pieces) == w + B.END  # lossless
    # distributed encode == local reference for every document
    got = {r["doc_id"]: r["pieces"] for r in B.bpe_encode(df, merges).collect()}
    for doc_id, text in rows:
        want = [p for w in text.lower().split() for p in B.encode_word(w, ranks)]
        assert got[doc_id] == want


def test_bpe_training_deterministic(spark, sf_dir):
    from buzz_rust_spark.operators import bpe as B

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = B.train_bpe(docs, num_merges=16)
    m2 = B.train_bpe(docs.repartition(7), num_merges=16)
    assert m1 == m2
    enc = B.bpe_encode(docs, m1)
    row = enc.where(enc.doc_id == 0).collect()[0]
    assert row["n_pieces"] == len(row["pieces"]) > 0


def test_bpe_real_text_roundtrip_checksum(spark):
    """Real public-domain prose (not word-salad): training is deterministic,
    encoding is lossless, and the EXACT distributed token sequence is pinned
    by checksum (r4 VERDICT #8)."""
    import hashlib
    import re

    from buzz_rust_spark.operators import bpe as B

    fixture = (
        "Call me Ishmael. Some years ago - never mind how long precisely - "
        "having little or no money in my purse, and nothing particular to "
        "interest me on shore, I thought I would sail about a little and see "
        "the watery part of the world. It is a way I have of driving off the "
        "spleen and regulating the circulation."
    )
    df = spark.createDataFrame([(1, fixture)], ["doc_id", "text"])
    merges = B.train_bpe(df, num_merges=32, min_pair_freq=2)
    assert len(merges) == 27  # training exhausts pairs >= min_pair_freq
    row = B.bpe_encode(df, merges).collect()[0]
    assert row["n_pieces"] == 169
    assert (
        hashlib.md5("\x00".join(row["pieces"]).encode()).hexdigest()
        == "3c46a7ad4e315c374c6cfcb7d67d394e"
    )
    # lossless: concatenated pieces reproduce the tokenized text exactly
    joined = "".join(row["pieces"]).replace(B.END, " ").strip()
    assert joined == " ".join(re.split(r"\s+", fixture.lower().strip()))


def test_bpe_distributed_equals_local_non_ascii(spark):
    """Distributed encode == local encode_word on 1000 random strings over a
    mixed alphabet including accented Latin, Cyrillic, CJK, emoji, and
    Unicode whitespace (r4 VERDICT #8 — the ASCII-only property extended).
    The local reference consumes the SAME JVM-tokenized words, isolating the
    UDF's merge application from tokenizer differences (pinned separately by
    test_bpe_encode_uses_jvm_tokenization)."""
    import random

    from buzz_rust_spark.functions.text import tokens as spark_tokens
    from buzz_rust_spark.operators import bpe as B

    rng = random.Random(20260814)
    alphabet = (
        "abcdefghij àéîöü ßœç абвгд 你好世界 日本語 🙂🚀 0123456789"
    )
    strings = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(1000)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], ["doc_id", "text"]
    )
    merges = B.train_bpe(df, num_merges=24)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", spark_tokens(F.col("text")).alias("t")
        ).collect()
    }
    got = {r["doc_id"]: r["pieces"] for r in B.bpe_encode(df, merges).collect()}
    for i in range(1000):
        want = [p for w in (toks[i] or []) for p in B.encode_word(w, ranks)]
        assert got[i] == want, f"doc {i}: {strings[i]!r}"
        # every piece sequence reconstructs its words exactly (lossless)
        assert "".join(got[i]) == "".join(w + B.END for w in (toks[i] or []))


def test_bpe_encode_uses_jvm_tokenization(spark):
    """Training and encoding must tokenize identically on Unicode whitespace
    Java's \\s does not match (code-review r4: a Python .split() in the UDF
    split NBSP-joined words the trainer had counted as one)."""
    from buzz_rust_spark.operators import bpe as B

    df = spark.createDataFrame([(1, "foo bar foo bar")], ["doc_id", "text"])
    counts = B.word_counts(df)
    assert counts == [("foo bar", 2)]  # NBSP does not split (Java \s)
    merges = B.train_bpe(df, num_merges=4)
    row = B.bpe_encode(df, merges).collect()[0]
    # encode saw the same single NBSP-joined word type: pieces reconstruct
    # exactly two copies of it (a Python .split() would have produced
    # foo/bar pieces that never matched the trained statistics)
    assert "".join(row["pieces"]) == ("foo bar" + B.END) * 2


def test_token_oracle_parity_whitespace_only_docs(spark):
    """Spark tokens() and the DuckDB _TOKS macro must agree that a
    whitespace-only document has ZERO tokens (code-review r4: unfiltered
    string_split('', ' ') returns [''] — len 1)."""
    import duckdb

    from buzz_rust_spark.functions.text import tokens as spark_tokens
    from buzz_rust_spark.queries.pipeline import _TOKS

    cases = ["", "\n", "\t ", "a b", " a\nb "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], ["i", "text"])
    got = {
        r["i"]: r["n"]
        for r in df.select("i", F.size(spark_tokens(F.col("text"))).alias("n")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')".replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '")
                            for i, t in enumerate(cases))
                + ") AS t(i, text)")
    want = {r[0]: r[1] for r in con.execute(f"SELECT i, len({_TOKS}) FROM documents").fetchall()}
    assert got == want == {0: 0, 1: 0, 2: 0, 3: 2, 4: 2}


# --- round-4: Gopher rules, C4 line cleaning, repeated spans ---------------


@pytest.fixture(scope="module")
def rich_docs(spark):
    """Documents with the punctuation/bullet/line structure the synthetic
    corpus lacks, so every Gopher/C4 rule fires at least once."""
    good = " ".join(
        "the quick brown fox jumps over that lazy dog with great energy and be "
        "have of to style".split()
    )
    rows = [
        # 0: passes everything (50+ words, stopwords, clean lines)
        (0, ". ".join([good] * 4) + "."),
        # 1: too short
        (1, "tiny doc"),
        # 2: symbol-heavy (hashes + ellipsis)
        (2, "the code ### is ... mostly ### symbols ... here ### now ..."),
        # 3: bullet list (every line starts with a bullet)
        (3, "• first item\n• second item\n• third item"),
        # 4: ellipsis line endings
        (4, "first line ...\nsecond line ...\nthird line stays"),
        # 5: numeric (no alphabetic words)
        (5, "12345 67890 11111 22222 33333"),
        # 6: no stopwords at all
        (6, "zebra xylophone quartz jigsaw vortex plasma"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_gopher_quality_rules(spark, rich_docs):
    out = {
        r["doc_id"]: r
        for r in T.gopher_quality(rich_docs, min_words=20).collect()
    }
    assert out[0]["passes"]
    assert out[0]["n_stopwords"] >= 2 and out[0]["alpha_word_ratio"] == 1.0
    assert not out[1]["passes"]  # word count below minimum
    assert out[2]["symbol_word_ratio"] > 0.1  # hashes + ellipses counted
    assert out[3]["bullet_line_ratio"] == 1.0
    assert out[4]["ellipsis_line_ratio"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[5]["alpha_word_ratio"] == 0.0 and not out[5]["passes"]
    assert out[6]["n_stopwords"] == 0


def test_gopher_quality_is_narrow(spark, rich_docs):
    plan = T.gopher_quality(rich_docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map stage: no shuffle


def test_c4_clean_lines_rules(spark):
    rows = [
        (
            1,
            "This is a perfectly fine sentence.\n"
            "too short.\n"
            "Enable javascript to view this page properly please.\n"
            "No terminal punctuation on this line at all\n"
            "Another good sentence with enough words here!\n"
            'A quoted ending works according to the rules."\n'
            "Third proper sentence keeps the document alive.",
        ),
        (2, "Lorem ipsum dolor sit amet consectetur.\nGood line but doc is banned."),
        (3, "function() { return 1; }\nCode docs with braces are dropped entirely."),
        (4, "Only one good sentence here so the doc dies.\nnope\nnah"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.c4_clean_lines(df).collect()}
    # doc 1: 7 lines; drops "too short." (words), javascript line (ban),
    # no-punct line; keeps 4
    assert out[1]["n_lines"] == 7 and out[1]["n_kept"] == 4
    assert out[1]["keep_doc"]
    assert "javascript" not in out[1]["cleaned"]
    assert "punctuation on this line" not in out[1]["cleaned"]
    assert out[1]["cleaned"].count("\n") == 3
    # doc 2: lorem ipsum ban; doc 3: "{" ban; doc 4: < 3 kept lines
    assert not out[2]["keep_doc"]
    assert not out[3]["keep_doc"]
    assert not out[4]["keep_doc"] and out[4]["n_kept"] == 1


def test_repeated_spans_counts(spark):
    boiler = "all rights reserved please do not redistribute this file thanks"  # 10 words
    rows = [
        (1, "alpha beta " + boiler),
        (2, boiler + " gamma delta"),
        (3, "unrelated words entirely different from everything else in here now"),
        (4, boiler + " " + boiler),  # within-doc repeat
        (5, "short doc"),  # under the window: contributes nothing
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.repeated_spans(df, span=10, min_count=2).collect()
    # the boilerplate 10-gram occurs: docs 1,2 once each, doc 4 at positions
    # 1 and 11 (and nothing else repeats)
    hot = [r for r in out if r["n_docs"] == 3]
    assert len(hot) == 1
    assert hot[0]["n_occurrences"] == 4 and hot[0]["first_doc"] == 1
    # overlapping windows inside doc 4 (boiler+boiler spans) repeat only there
    for r in out:
        assert r["n_occurrences"] >= 2


def test_repeated_spans_portable_hash_matches_md5(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        ["doc_id", "text"],
    )
    out = D.repeated_spans(df, span=10, hash_fn="portable").collect()
    import hashlib

    expected = int(hashlib.md5(b"a b c d e f g h i j").hexdigest()[:15], 16)
    assert len(out) == 1 and out[0]["span_hash"] == expected


def test_scrub_repeated_spans(spark):
    boiler = "all rights reserved please do not redistribute this file thanks"  # 10 words
    rows = [
        (1, "alpha beta " + boiler),
        (2, boiler + " gamma delta"),
        (3, "unrelated words entirely different from everything else in here now"),
        (4, boiler + " " + boiler),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.scrub_repeated_spans(df, span=10).collect()}
    # first occurrence (doc 1, pos 3) survives; later occurrences cut
    assert out[1]["n_removed"] == 0 and boiler in out[1]["text"]
    assert out[2]["n_removed"] == 10 and out[2]["text"] == "gamma delta"
    assert out[3]["n_removed"] == 0
    # doc 4 is both occurrences + bridging windows → fully scrubbed
    assert out[4]["n_removed"] == 20 and out[4]["text"] == ""
    # under-window doc untouched
    assert out[5]["n_removed"] == 0 and out[5]["text"] == "short doc"


def test_prepare_training_corpus_with_heuristic_stages(spark):
    """The optional C4 / Gopher / span-scrub stages compose into the
    pipeline: line cleaning rewrites text before scoring, the rule gate
    drops failing docs, and the scrub cuts repeated boilerplate."""
    from buzz_rust_spark.operators.corpus import (
        CorpusPrepConfig,
        prepare_training_corpus,
    )

    boiler = "all rights reserved please do not redistribute this file thanks"
    good = (
        "the quick brown fox jumps over that lazy dog and runs away with "
        "great energy to be of have style and many more words in this line."
    )
    rows = [
        # keeps: enough words, stopwords, good lines; boiler span appears
        # here FIRST so it survives the scrub in this doc
        (1, good + "\n" + boiler + " " + good),
        # boiler appears again -> scrubbed out of this doc (the line ends in
        # punctuation so C4 keeps it and the SCRUB is what cuts the boiler)
        (2, good.replace("quick", "slow") + "\n" + boiler + " extra trailing words."),
        # all lines fail the line rules (too short) -> dropped by C4 doc rule
        (3, "short.\nlines.\nonly."),
        # fails gopher stopword rule (no stopwords at all, enough words)
        (4, " ".join(["zebra quartz vortex plasma jigsaw xylophone"] * 10) + "."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_training_corpus(
        docs,
        config=CorpusPrepConfig(
            min_quality=0.0,
            neardup_threshold=0.95,
            split_weights={"train": 1.0},
            c4_rules={"min_words_per_line": 3, "min_kept_lines": 1},
            gopher_rules={"min_words": 10, "min_stopwords": 2},
            scrub_span=10,
        ),
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2}  # 3 dies in C4, 4 dies in Gopher
    assert boiler in got[1]["text"]  # first occurrence survives the scrub
    assert boiler not in got[2]["text"]  # later occurrence cut
    assert "extra trailing words" in got[2]["text"]  # rest of the doc intact


def test_prepare_training_corpus_repetition_gate(spark):
    """The optional Gopher REPETITION gate composes into the pipeline: a
    document dominated by one repeated bigram is dropped, normal prose
    survives, and the gate sits after the persisted stage-1-3 result."""
    from buzz_rust_spark.operators.corpus import (
        CorpusPrepConfig,
        prepare_training_corpus,
    )

    rows = [
        (1, "the quick brown fox jumps over that lazy dog and then walks "
            "slowly back home to rest for the night in peace"),
        (2, "buy now " * 30 + "while stocks last today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_training_corpus(
        docs,
        config=CorpusPrepConfig(
            min_quality=0.0,
            neardup_threshold=0.95,
            split_weights={"train": 1.0},
            repetition_rules={},  # published thresholds
        ),
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1]
    # gate off -> both survive (the rule is what dropped doc 2)
    out2 = prepare_training_corpus(
        docs,
        config=CorpusPrepConfig(
            min_quality=0.0, neardup_threshold=0.95,
            split_weights={"train": 1.0},
        ),
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2]


# --- bloom-filter dedup state ----------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from buzz_rust_spark.operators import bloom as B

    keys = spark.range(2000).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    # deliberately small filter (2^14 bits) so the fp rate is visible
    bits, k = 1 << 14, 7
    state = B.bloom_build(keys, "k", num_bits=bits, num_hashes=k)
    assert state.count() <= bits // 64
    # every inserted key is found — Bloom filters NEVER false-negative
    assert (
        B.bloom_might_contain(keys, state, "k", bits, k)
        .where(~F.col("might_contain")).count() == 0
    )
    # fp rate on unseen keys stays within 3x of theory (~0.26% here)
    unseen = spark.range(4000).select(F.concat(F.lit("oth-"), F.col("id")).alias("k"))
    fp = (
        B.bloom_might_contain(unseen, state, "k", bits, k)
        .where(F.col("might_contain")).count()
    )
    theory = (1 - 2.718281828 ** (-k * 2000 / bits)) ** k
    assert fp / 4000 <= max(3 * theory, 0.02)


def test_bloom_merge_equals_union_build(spark):
    from buzz_rust_spark.operators import bloom as B

    a = spark.range(500).select(F.concat(F.lit("a-"), F.col("id")).alias("k"))
    b = spark.range(500).select(F.concat(F.lit("b-"), F.col("id")).alias("k"))
    merged = B.bloom_merge(B.bloom_build(a, "k"), B.bloom_build(b, "k"))
    direct = B.bloom_build(a.unionByName(b), "k")
    assert (
        merged.exceptAll(direct).count() == 0
        and direct.exceptAll(merged).count() == 0
    )


def test_dedup_incremental_bloom_matches_exact_when_fp_free(spark, docs):
    """With a roomy filter (fp ~ 0) the bloom path returns exactly the
    exact-state path's survivors."""
    from buzz_rust_spark.operators import bloom as B

    seen_docs = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    seen_hashes = D.exact_duplicates(seen_docs).select("text_hash")
    exact = sorted(
        r["doc_id"] for r in D.dedup_incremental(batch, seen_hashes).collect()
    )
    state = B.bloom_build(seen_hashes, "text_hash")
    got = sorted(
        r["doc_id"] for r in B.dedup_incremental_bloom(batch, state).collect()
    )
    assert got == exact


def test_span_scrub_shares_persisted_relations(spark):
    """The scrub's tokenized corpus and span index must be computed once
    (persisted) and shared across branches — the rebuild and both ownership
    branches read InMemoryTableScans, never a re-derived explode."""
    from buzz_rust_spark.functions.cache import release_operator_caches

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k"), (2, "a b c d e f g h i j k z")],
        ["doc_id", "text"],
    )
    out = D.scrub_repeated_spans(df, span=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3, plan
    # the position explode exists only inside the cached span-index plan
    # (printed once per scan of that cache); without the persists the two
    # ownership branches would each re-derive a Generate with ZERO
    # InMemoryRelations in the plan, failing this bound
    assert 0 < plan.count("Generate") <= plan.count("InMemoryRelation"), plan
    out.count()
    release_operator_caches()


def test_c4_ban_terms_match_case_insensitively(spark):
    """Review fix: caller-supplied ban terms with uppercase letters must
    still match (both sides lowercased)."""
    df = spark.createDataFrame(
        [(1, "Enable JavaScript to view this excellent page today.\n"
             "A perfectly good line stays right here for sure.")],
        ["doc_id", "text"],
    )
    out = T.c4_clean_lines(df, line_ban=["JavaScript"], min_kept_lines=1).collect()[0]
    assert out["n_kept"] == 1 and "JavaScript" not in out["cleaned"]


def test_gopher_alpha_ratio_counts_unicode_letters(spark):
    """Review fix: rule 6 counts ANY Unicode letter, so accented and
    non-Latin scripts are not auto-failed."""
    df = spark.createDataFrame(
        [(1, "café résumé naïve"), (2, "的 是 在 了"), (3, "123 456")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["alpha_word_ratio"] for r in T.gopher_quality(df).collect()}
    assert out[1] == 1.0 and out[2] == 1.0 and out[3] == 0.0


def test_scrub_passthrough_preserves_untouched_text(spark):
    """Review fix: passthrough mode keeps extra columns and leaves uncut
    documents' text byte-for-byte (no lowercasing/whitespace collapse)."""
    boiler = "all rights reserved please do not redistribute this file thanks"
    rows = [
        (1, "Alpha  BETA " + boiler, "src1"),
        (2, boiler + " Gamma\tDelta", "src2"),
        (3, "Original   Mixed-Case\ttext UNTOUCHED here with formatting", "src3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in D.scrub_repeated_spans(df, span=10, passthrough=True).collect()
    }
    assert set(out[1].asDict()) == {"doc_id", "text", "source", "n_tokens", "n_removed"}
    # doc 3 has no cuts: text preserved exactly, including case/tabs
    assert out[3]["n_removed"] == 0
    assert out[3]["text"] == rows[2][1]
    # doc 1 keeps the first occurrence (its text is rebuilt only if cut);
    # doc 2's boiler is cut and its remainder is token-joined
    assert out[1]["n_removed"] == 0 and out[1]["text"] == rows[0][1]
    assert out[2]["n_removed"] == 10 and out[2]["text"] == "gamma delta"
    assert out[2]["source"] == "src2"


def test_ann_bruteforce_tolerates_nan_vectors(spark):
    """Review fix: a NaN-element corpus vector must not empty the batch's
    candidate set (NaN k-th boundary) — valid neighbors still surface."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [float("nan"), 1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") == 0), k=5).collect()
    got = {r["neighbor_id"] for r in out}
    assert 1 in got and 3 in got and 2 not in got


def test_semantic_dedup_nan_and_empty(spark):
    """Review fix: NaN-element embeddings are dropped (not silently marking
    their whole cluster as duplicates) and an empty input returns an empty
    result instead of raising."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [float("nan"), 0.0]),  # dropped
        (2, [0.99, 0.14]),  # near-dup of 0 -> pruned
        (3, [0.0, 1.0]),  # distinct -> kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["kept"] for r in S.semantic_dedup(df, n_clusters=1, threshold=0.95).collect()}
    assert 1 not in out  # NaN row dropped entirely
    assert out[0] and out[3] and not out[2]
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.semantic_dedup(empty, n_clusters=2).count() == 0


def test_hash_tokens_long_token_fallback(spark):
    """Review fix: one huge unbroken token must not inflate the padded
    matrix; the scalar fallback stays bit-identical."""
    toks = ["short", "x" * 100_000, "another", ""]
    got = list(D.hash_tokens(toks))
    assert got == [D.hash_token(t) for t in toks]


def test_bpe_encode_tolerates_null_text(spark):
    from buzz_rust_spark.operators.bpe import bpe_encode, train_bpe

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, None)], ["doc_id", "text"]
    )
    merges = train_bpe(df.where(F.col("text").isNotNull()), num_merges=4)
    out = {r["doc_id"]: r["pieces"] for r in bpe_encode(df, merges).collect()}
    assert out[2] == [] and len(out[1]) > 0


def test_bm25_known_values(spark):
    """BM25 against hand-computed scores on a 3-doc corpus."""
    import math

    from buzz_rust_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "dog dog dog dog"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["apple", "cherry"]).collect()}
    n, avgdl, k1, b = 3.0, 3.0, 1.2, 0.75

    def score(f, dl, dfreq):
        idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
        return idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))

    assert out[0] == round(score(2, 3, 1), 6)  # 'apple' x2 in doc 0
    assert out[1] == round(score(1, 2, 1), 6)  # 'cherry' x1 in doc 1
    assert out[2] == 0.0  # no query terms -> zero, row still present
    assert len(out) == 3


def test_bm25_term_frequency_saturates(spark):
    """Repeating a term grows the score sublinearly (the k1 saturation that
    distinguishes BM25 from raw tf-idf)."""
    from buzz_rust_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(0, "hit miss miss miss"), (1, "hit hit hit miss"), (2, "miss miss")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(df, ["hit"]).collect()}
    assert 0.0 < out[0] < out[1] < 3 * out[0]


def test_jpeg_roundtrip_near_lossless():
    """quant=1 444: recovery within DCT rounding (±2) on random pixels; solid
    colors (DC-only blocks) recover exactly."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 40, 3), np.uint8)
    out = M.decode_jpeg(M.encode_jpeg(img, quant=1))
    assert out is not None and out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2

    solid = np.zeros((16, 16, 3), np.uint8)
    solid[:] = (200, 50, 90)
    assert np.array_equal(M.decode_jpeg(M.encode_jpeg(solid, quant=1)), solid)


def test_jpeg_subsampling_and_odd_dims():
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    y, x = np.mgrid[0:33, 0:47]
    img = np.stack(
        [x * 255 // 47, y * 255 // 33, (x + y) * 255 // 80], axis=2
    ).astype(np.uint8)
    out = M.decode_jpeg(M.encode_jpeg(img, subsampling="420", quant=2))
    assert out.shape == img.shape
    # smooth gradient: 2x2 chroma pooling stays within a few levels
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 8

    rng = np.random.default_rng(3)
    odd = rng.integers(0, 256, (13, 17, 3), np.uint8)
    out = M.decode_jpeg(M.encode_jpeg(odd, quant=1))
    assert out.shape == (13, 17, 3)
    assert np.abs(out.astype(int) - odd.astype(int)).max() <= 2


def test_jpeg_restart_markers():
    """DRI/RSTn: DC predictors reset per restart segment and the byte-aligned
    stream still decodes bit-exactly vs the no-restart encode."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 40, 3), np.uint8)
    base = M.decode_jpeg(M.encode_jpeg(img, quant=1))
    for ri in (1, 3):
        enc = M.encode_jpeg(img, quant=1, restart_interval=ri)
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
        assert np.array_equal(M.decode_jpeg(enc), base)


def test_jpeg_rejects_garbage_and_progressive():
    from buzz_rust_spark.operators import multimodal as M

    assert M.decode_jpeg(None) is None
    assert M.decode_jpeg(b"not a jpeg") is None
    assert M.decode_jpeg(b"\xff\xd8\xff\xd9") is None
    import numpy as np

    enc = M.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    assert M.decode_jpeg(enc[: len(enc) // 2]) is None  # truncated scan
    # flip SOF0 -> SOF2: the full-band 0..63 scan header is INVALID in a
    # progressive frame (T.81 G.1), so the stream is refused as malformed —
    # progressive frames themselves are supported
    prog = enc.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert M.decode_jpeg(prog) is None
    # missing EOI after a complete scan still decodes (common corruption)
    import numpy as _np
    assert M.decode_jpeg(enc[:-2]) is not None


def test_jpeg_dequantizes_stream_tables():
    """The decoder must use the DQT tables FROM THE STREAM: the same
    coefficients under a coarser table decode to different (coarser)
    pixels."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    y, x = np.mgrid[0:16, 0:16]
    img = np.stack([x * 16, y * 16, (x + y) * 8], axis=2).astype(np.uint8)
    fine = M.decode_jpeg(M.encode_jpeg(img, quant=1))
    coarse = M.decode_jpeg(M.encode_jpeg(img, quant=16))
    d_fine = np.abs(fine.astype(int) - img.astype(int)).mean()
    d_coarse = np.abs(coarse.astype(int) - img.astype(int)).mean()
    assert d_fine < d_coarse  # quantization error actually applied


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    enc = M.encode_jpeg(np.full((8, 8, 3), 77, np.uint8), quant=1)
    filled = enc[:2] + b"\xff\xff\xff" + enc[2:]
    out = M.decode_jpeg(filled)
    assert out is not None and int(out.min()) == int(out.max()) == 77


def test_jpeg_progressive_equals_baseline():
    """Spectral-selection progressive (SOF2: DC scan + per-component AC band
    scans with EOB runs) decodes to the SAME pixels as the baseline encode
    of the same image."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    # (33, 40): h mod 16 in 1..8 — the 4:2:0 luma AC scan must traverse the
    # COMPONENT block grid (5 rows), not the padded MCU grid (6)
    for shape, sub in [((24, 40, 3), "444"), ((33, 47, 3), "420"), ((33, 40, 3), "420")]:
        img = rng.integers(0, 256, shape, np.uint8)
        base = M.decode_jpeg(M.encode_jpeg(img, subsampling=sub, quant=1))
        prog = M.decode_jpeg(
            M.encode_jpeg(img, subsampling=sub, quant=1, progressive=True)
        )
        assert prog is not None and np.array_equal(base, prog)
    # sparse image: multi-block EOB runs down the AC scans
    img = np.full((64, 64, 3), 128, np.uint8)
    img[0, 0] = (255, 0, 0)
    assert np.array_equal(
        M.decode_jpeg(M.encode_jpeg(img, quant=1)),
        M.decode_jpeg(M.encode_jpeg(img, quant=1, progressive=True)),
    )


def test_jpeg_progressive_successive_approximation():
    """Hand-assembled 4-scan stream (DC first Al=1, DC refine, AC first
    Al=1, AC refine with correction bits) for one 8x8 block — the T.81 G.2
    refinement paths pinned against an independently computed IDCT."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def mag(v):
        s = int(abs(v)).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)

    # target quantized coefficients: DC=11, zigzag k=1 -> 5, k=3 -> -3
    out = b"\xff\xd8"
    out += seg(0xDB, b"\x00" + bytes([1] * 64))  # flat quant table
    out += seg(0xC2, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))  # SOF2 8x8 gray
    dht = bytes([0x00]) + bytes(M._ENC_DC_COUNTS) + bytes(M._ENC_DC_SYMBOLS)
    dht += bytes([0x10]) + bytes(M._ENC_AC_COUNTS) + bytes(M._ENC_AC_SYMBOLS)
    out += seg(0xC4, dht)

    # scan 1: DC first, Al=1 -> sends 11>>1 = 5 (category 3)
    wr = M._BitWriter()
    ln, code = M._ENC_DC[3]
    wr.write(code, ln)
    wr.write(5, 3)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + wr.flush()

    # scan 2: DC refine, Ah=1 Al=0 -> one bit = 11 & 1 = 1
    wr = M._BitWriter()
    wr.write(1, 1)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + wr.flush()

    # scan 3: AC first, Al=1 -> k=1: 5//2=2; k=3: -3 trunc-> -1; then EOB
    wr = M._BitWriter()
    ln, code = M._ENC_AC[(0 << 4) | 2]
    wr.write(code, ln)
    wr.write(mag(2)[1], 2)
    ln, code = M._ENC_AC[(1 << 4) | 1]  # one zero (k=2), then value
    wr.write(code, ln)
    wr.write(mag(-1)[1], 1)
    ln, code = M._ENC_AC[0x00]
    wr.write(code, ln)
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01])) + wr.flush()

    # scan 4: AC refine, Ah=1 Al=0 -> EOB then correction bits [1, 1]
    # (k=1: 4->5, k=3: -2->-3); no newly-significant coefficients
    wr = M._BitWriter()
    ln, code = M._ENC_AC[0x00]
    wr.write(code, ln)
    wr.write(1, 1)
    wr.write(1, 1)
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + wr.flush()
    out += b"\xff\xd9"

    got = M.decode_jpeg(out)
    assert got is not None
    coef = np.zeros((8, 8))
    coef[0, 0] = 11
    coef[0, 1] = 5  # zigzag k=1
    coef[2, 0] = -3  # zigzag k=3
    px = M._DCT_A.T @ coef @ M._DCT_A + 128.0
    want = np.clip(np.round(px), 0, 255).astype(np.uint8)
    assert np.array_equal(got[:, :, 0], want)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])  # gray replicated


def test_jpeg_progressive_partial_refinement_decodes_coarse():
    """Dropping the refinement scans (truncating to fewer scans + EOI) must
    still decode — to the coarser approximation — like real viewers do."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (16, 16, 3), np.uint8)
    full = M.encode_jpeg(img, quant=1, progressive=True)
    # cut after the SECOND SOS's entropy data: find the third 0xFFDA and
    # truncate there, appending EOI
    positions = []
    i = 0
    while True:
        j = full.find(b"\xff\xda", i)
        if j < 0:
            break
        positions.append(j)
        i = j + 2
    assert len(positions) == 4  # DC + 3 AC scans
    cut = full[: positions[2]] + b"\xff\xd9"
    coarse = M.decode_jpeg(cut)
    assert coarse is not None and coarse.shape == img.shape
    fullpx = M.decode_jpeg(full)
    # luma present everywhere; chroma scans missing -> not equal to full
    assert not np.array_equal(coarse, fullpx)


def test_gif_roundtrip_and_animation():
    """Single-frame GIFs round-trip exactly (few-color palettes); animated
    GIFs decode to the encoder's frames at the encoded timestamps."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    img = np.zeros((20, 30, 3), np.uint8)
    img[5:10, 4:9] = (255, 0, 0)
    img[12:, 20:] = (0, 128, 255)
    assert np.array_equal(M.decode_gif(M.encode_gif([img])), img)

    f0 = np.zeros((8, 8, 3), np.uint8)
    f1 = np.full((8, 8, 3), (0, 255, 0), np.uint8)
    f2 = np.full((8, 8, 3), (0, 0, 255), np.uint8)
    frames = M.decode_gif_frames(
        M.encode_gif([f0, f1, f2], delays_ms=[100, 200, 300])
    )
    assert [t for t, _ in frames] == [0, 100, 300]
    for got, want in zip(frames, (f0, f1, f2)):
        assert np.array_equal(got[1], want)

    assert M.decode_gif(None) is None
    assert M.decode_gif(b"GIF89a") is None
    assert M.decode_gif(b"not a gif") is None


def test_gif_lzw_table_growth_and_reset():
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    rng = np.random.default_rng(5)
    for n, alpha in [(10, 4), (20000, 16), (60000, 128)]:
        seq = [int(x) for x in rng.integers(0, alpha, n)]
        mcs = max(2, (alpha - 1).bit_length())
        assert M._lzw_decode(M._lzw_encode(seq, mcs), mcs) == seq


def test_gif_interlaced_decodes_in_display_order():
    """Flip the interlace flag on a stream whose rows were pre-permuted into
    GIF's four-pass file order: the decoder must un-permute them."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    h, w = 16, 8
    img = np.zeros((h, w, 3), np.uint8)
    img[:, :, 0] = (np.arange(h) * 16)[:, None]  # distinct value per row
    file_order = [r for first, step in M._GIF_INTERLACE_PASSES
                  for r in range(first, h, step)]
    permuted = img[file_order]
    gif = bytearray(M.encode_gif([permuted]))
    # image descriptor follows 13-byte header + GCT (palette size from flags)
    gct_len = 3 * (2 << (gif[10] & 7))
    desc = 13 + gct_len
    assert gif[desc] == 0x2C
    gif[desc + 9] |= 0x40  # set interlace flag
    out = M.decode_gif(bytes(gif))
    assert np.array_equal(out, img)


def test_gif_transparency_composites_previous_frame():
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    red = np.full((8, 8, 3), (255, 0, 0), np.uint8)
    f2 = np.full((8, 8, 3), (255, 255, 255), np.uint8)
    f2[:2, :2] = (0, 255, 0)  # becomes the transparent color
    # palette sorts lexicographically: green=0, red=1, white=2
    gif = M.encode_gif([red, f2], delays_ms=[50, 50], transparent_idx=0)
    frames = M.decode_gif_frames(gif)
    want2 = np.full((8, 8, 3), (255, 255, 255), np.uint8)
    want2[:2, :2] = (255, 0, 0)  # red shows through the transparent corner
    assert np.array_equal(frames[1][1], want2)


def test_extract_gif_frames_spark(spark):
    """Real distributed frame extraction: one row per decoded frame, PNG
    payloads decodable back to the encoder's frames; every_ms thins."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    media = M.synthetic_media(spark, n=6, kind="animation")
    out = M.extract_gif_frames(media).collect()
    assert len(out) == 18  # 3 frames x 6 animations
    by_key = {(r["media_id"], r["frame_idx"]): r for r in out}
    for i in range(6):
        w, h = 64 + i % 16, 48 + i % 12
        for f in range(3):
            r = by_key[(i, f)]
            assert (r["width"], r["height"], r["ts_ms"]) == (w, h, f * 100)
            px = M.decode_png(bytes(r["frame_png"]))
            want = np.full(
                (h, w, 3),
                ((i * 37 + f * 85) % 256, (i * 11) % 256, f * 100),
                np.uint8,
            )
            assert np.array_equal(px, want)
    thinned = M.extract_gif_frames(media, every_ms=200).collect()
    assert len(thinned) == 12  # keeps ts 0 and 200 of (0, 100, 200)


def test_resize_gif_container_preserved(spark):
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    img = np.zeros((16, 16, 3), np.uint8)
    img[:8] = (200, 10, 10)
    rows = [(1, "image", M.encode_gif([img]), "image/gif", 16, 16, 0)]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    out = M.resize_images(df, target_width=8, target_height=8).collect()
    resized = M.decode_gif(bytes(out[0]["payload"]))
    assert resized is not None and resized.shape == (8, 8, 3)
    assert np.array_equal(resized[:4], np.full((4, 8, 3), (200, 10, 10), np.uint8))


def test_gif_disposal_background_restore():
    """Patch frame 1's disposal to 'restore background': frame 2's
    transparent pixels then show the background color, not frame 1."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    red = np.full((8, 8, 3), (255, 0, 0), np.uint8)
    f2 = np.full((8, 8, 3), (255, 255, 255), np.uint8)
    f2[:2, :2] = (0, 255, 0)  # transparent color (palette 0, also bg_idx 0)
    gif = bytearray(M.encode_gif([red, f2], delays_ms=[50, 50], transparent_idx=0))
    gce1 = 13 + 3 * (2 << (gif[10] & 7))
    assert gif[gce1 + 1] == 0xF9
    gif[gce1 + 3] = (gif[gce1 + 3] & ~0x1C) | (2 << 2)  # disposal 2
    frames = M.decode_gif_frames(bytes(gif))
    want2 = np.full((8, 8, 3), (255, 255, 255), np.uint8)
    want2[:2, :2] = (0, 255, 0)  # background (green) shows through
    assert np.array_equal(frames[1][1], want2)


def test_gif_hardening_review_fixes():
    """Crafted LZW min-code bytes are refused fast (not a 2^200 table
    hang); the >256-color quantization fallback produces real colors (the
    uint8 overflow made it solid black); transparent_idx without delays
    emits a GCE; mismatched frame dims raise a typed error; animated
    resize keeps every frame."""
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    gif = bytearray(M.encode_gif([np.zeros((4, 4, 3), np.uint8)]))
    desc = 13 + 3 * (2 << (gif[10] & 7))
    gif[desc + 10] = 200
    assert M.decode_gif(bytes(gif)) is None

    rng = np.random.default_rng(1)
    big = rng.integers(0, 256, (32, 32, 3), np.uint8)
    out = M.decode_gif(M.encode_gif([big]))
    assert len(np.unique(out.reshape(-1, 3), axis=0)) > 50
    assert np.abs(out.astype(int) - big.astype(int)).max() <= 52

    assert b"\x21\xf9" in M.encode_gif(
        [np.zeros((4, 4, 3), np.uint8)], transparent_idx=0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="share one size"):
        M.encode_gif([np.zeros((2, 2, 3), np.uint8), np.zeros((1, 4, 3), np.uint8)])


def test_resize_animated_gif_keeps_frames(spark):
    import numpy as np

    from buzz_rust_spark.operators import multimodal as M

    f = [np.full((16, 16, 3), (c, 0, 0), np.uint8) for c in (10, 120, 240)]
    gif = M.encode_gif(f, delays_ms=[100, 150, 200])
    df = spark.createDataFrame(
        [(1, "image", gif, "image/gif", 16, 16, 450)], schema=M.MEDIA_SCHEMA
    )
    out = M.resize_images(df, target_width=8, target_height=8).collect()
    frames = M.decode_gif_frames(bytes(out[0]["payload"]))
    assert len(frames) == 3
    assert [t for t, _ in frames] == [0, 100, 250]
    for (_, px), c in zip(frames, (10, 120, 240)):
        assert px.shape == (8, 8, 3)
        assert np.array_equal(px, np.full((8, 8, 3), (c, 0, 0), np.uint8))


def test_wav_extended_formats():
    """decode_wav beyond integer PCM: IEEE float (format 3), G.711 µ-law
    (7) and A-law (6) — the encodings speech corpora actually use."""
    import struct

    import numpy as np

    from buzz_rust_spark.operators.multimodal import decode_wav

    def wav(fmt_code, bits, data, rate=8000, ch=1):
        fmt = struct.pack(
            "<HHIIHH", fmt_code, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits
        )
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    x = np.array([0.0, 0.5, -0.25, 1.0], np.float32)
    s, rate, ch = decode_wav(wav(3, 32, x.tobytes()))
    assert np.allclose(s, x) and (rate, ch) == (8000, 1)
    x64 = np.array([0.125, -0.875], np.float64)
    s, _, _ = decode_wav(wav(3, 64, x64.tobytes()))
    assert np.allclose(s, x64)

    # µ-law: canonical G.711 encoder (bias 0x84) round-trips within the
    # codec's quantization error
    def mulaw_encode(v):
        bias, clip = 0x84, 32635
        sign = 0x80 if v < 0 else 0
        v = min(abs(v), clip) + bias
        exp = v.bit_length() - 8
        mant = (v >> (exp + 3)) & 0x0F
        return ~(sign | (exp << 4) | mant) & 0xFF

    vals = [0, 100, 1000, 8000, 30000, -100, -1000, -30000]
    s, _, _ = decode_wav(wav(7, 8, bytes(mulaw_encode(v) for v in vals)))
    for got, want in zip(s, vals):
        w = want / 32124.0
        assert abs(got - w) <= max(0.004, abs(w) * 0.06)

    # A-law (sun g711 alaw2linear): sign bit SET = positive; magnitudes
    # span [8, 32256]; nearest-code roundtrip within segment error
    s, _, _ = decode_wav(wav(6, 8, bytes(range(256))))
    vals = s * 32768.0
    for b in range(128):
        assert vals[b] == -vals[b ^ 0x80]
    assert np.abs(vals).min() == 8 and np.abs(vals).max() == 32256
    for want in [20, 300, 2500, 18000, -300, -18000]:
        got = vals[int(np.argmin(np.abs(vals - want)))]
        assert abs(got - want) <= max(8, abs(want) * 0.04)

    # unsupported compression still refused
    assert decode_wav(wav(2, 4, b"\x00\x00")) is None


def test_wav_float_nan_inf_sanitized():
    """NaN/Inf are valid float encodings (unlike PCM) — the [-1,1] samples
    contract must hold so downstream stats never go NaN."""
    import struct

    import numpy as np

    from buzz_rust_spark.operators.multimodal import decode_wav

    raw = np.array([0.5, np.nan, np.inf, -np.inf, 2.5, -3.0], np.float32).tobytes()
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    s, _, _ = decode_wav(wav)
    assert np.isfinite(s).all() and s.min() >= -1.0 and s.max() <= 1.0
    assert s[0] == 0.5 and s[1] == 0.0 and s[2] == 1.0 and s[3] == -1.0


def test_jaccard_auto_cost_switch(spark, docs, monkeypatch):
    """Round-11: prefix_filter='auto' (the new default) picks dense vs
    prefix from the Σ df² candidate-volume estimate — dense below
    PREFIX_AUTO_PAIR_BUDGET, prefix above it — with identical pairs
    either way."""
    calls = []
    real_dense = D._ngram_jaccard_dense
    real_prefix = D._ngram_jaccard_prefix
    monkeypatch.setattr(
        D, "_ngram_jaccard_dense",
        lambda *a, **k: calls.append("dense") or real_dense(*a, **k),
    )
    monkeypatch.setattr(
        D, "_ngram_jaccard_prefix",
        lambda *a, **k: calls.append("prefix") or real_prefix(*a, **k),
    )

    def run():
        return sorted(
            (r["id_1"], r["id_2"], round(r["jaccard"], 6))
            for r in D.ngram_jaccard_pairs(
                docs, n=3, threshold=0.5
            ).collect()
        )

    dense_pairs = run()
    assert calls == ["dense"]  # tiny corpus: Σ df² under the budget
    monkeypatch.setattr(D, "PREFIX_AUTO_PAIR_BUDGET", -1)
    prefix_pairs = run()
    assert calls == ["dense", "prefix"]  # forced over the budget
    assert prefix_pairs == dense_pairs and dense_pairs
