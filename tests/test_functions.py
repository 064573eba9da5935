"""Training-data-pipeline operators: dedup (LSH vs exhaustive), similarity
(LSH vs brute force), multimodal plumbing, fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base.replace("lazy", "sleepy")},   # near-dup of 1
        {"doc_id": 3, "text": base},                             # exact dup of 1
        {"doc_id": 4, "text": "completely different content about spark query engines and columnar storage"},
        {"doc_id": 5, "text": "another unrelated document mentioning inverted index construction pipelines"},
    ]
    return spark.createDataFrame(rows)


class TestDedup:
    def test_exact_groups(self, near_dup_docs):
        from letarette_spark.functions.dedup import exact_duplicate_groups

        groups = exact_duplicate_groups(near_dup_docs).collect()
        assert len(groups) == 1
        assert groups[0]["members"] == "1,3"

    def test_lsh_pairs_subset_of_exhaustive(self, near_dup_docs):
        from letarette_spark.functions.dedup import jaccard_pairs, minhash_lsh_pairs

        exhaustive = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_pairs(near_dup_docs, n=3, threshold=0.3).collect()
        }
        lsh = {
            (r["a"], r["b"]): r["jaccard"]
            for r in minhash_lsh_pairs(
                near_dup_docs, bands=8, rows_per_band=1, n=3, threshold=0.3
            ).collect()
        }
        assert set(lsh) <= set(exhaustive)
        assert (1, 3) in lsh            # exact dup always collides
        assert (1, 2) in exhaustive     # near-dup above threshold
        # with 8 bands of 1 row, a ~0.8-jaccard pair collides w.p. ~1-(0.2)^8
        assert (1, 2) in lsh

    def test_jaccard_duplicate_ids_match_join_path(self, spark, near_dup_docs, monkeypatch):
        """Duplicate ids: the sparse-accumulator candidate scan falls back
        to the distributed join, so both paths give the same pairs and no
        id pairs with itself."""
        from letarette_spark.functions import dedup

        dup = near_dup_docs.unionByName(near_dup_docs.filter("doc_id IN (1, 2)"))

        def pairs():
            return sorted(
                (r["a"], r["b"], r["jaccard"])
                for r in dedup.jaccard_pairs(dup, n=3, threshold=0.3).collect()
            )

        default = pairs()
        monkeypatch.setattr(dedup, "_spa_candidate_pairs", lambda *a, **k: None)
        assert default == pairs()
        assert default and all(a != b for a, b, _j in default)

    def test_simhash_close_for_near_dups(self, near_dup_docs):
        from letarette_spark.functions.dedup import simhash64

        h = {r["doc_id"]: r["simhash"] for r in simhash64(near_dup_docs).collect()}
        assert h[1] == h[3]
        ham_near = bin((h[1] ^ h[2]) & (2**64 - 1)).count("1")
        ham_far = bin((h[1] ^ h[4]) & (2**64 - 1)).count("1")
        assert ham_near < ham_far

    def test_fingerprint_order_sensitive(self, spark):
        from letarette_spark.functions.textstats import fingerprint64

        df = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "alpha beta gamma"},
                {"doc_id": 2, "text": "gamma beta alpha"},
                {"doc_id": 3, "text": "alpha beta gamma"},
            ]
        )
        fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint64(df).collect()}
        assert fp[1] == fp[3] != fp[2]


class TestSimilarity:
    def test_lsh_topk_recall_vs_bruteforce(self, spark):
        from letarette_spark.functions.similarity import cosine_topk, lsh_cosine_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = [r["vec_id"] for r in cosine_topk(emb, query_id=0, k=5).collect()]
        approx = [
            r["vec_id"]
            for r in lsh_cosine_topk(emb, query_id=0, k=5, n_planes=2).collect()
        ]
        # 2 hyperplanes -> 4 buckets: recall should be decent, result ordered
        assert len(approx) > 0
        assert set(approx) <= set(
            r["vec_id"] for r in cosine_topk(emb, query_id=0, k=50).collect()
        ) | set(exact)

    def test_embedding_dup_pairs_symmetic_dedup(self, spark):
        from letarette_spark.functions.dedup import embedding_duplicate_pairs

        rows = [
            {"vec_id": 1, "embedding": [1.0, 0.0, 0.0]},
            {"vec_id": 2, "embedding": [0.999, 0.01, 0.0]},
            {"vec_id": 3, "embedding": [0.0, 1.0, 0.0]},
        ]
        emb = spark.createDataFrame(rows)
        pairs = embedding_duplicate_pairs(emb, threshold=0.99).collect()
        assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]


class TestMultimodal:
    def test_plumbing_shapes_and_determinism(self, spark):
        from letarette_spark.functions import multimodal as mm

        media = mm.synthesize_media(spark, 30)
        counts = {r["kind"]: r["c"] for r in media.groupBy("kind").agg(F.count("*").alias("c")).collect()}
        assert set(counts) == {"image", "audio", "video"}

        feats = mm.image_features(media)
        rows = feats.collect()
        assert len(rows) == counts["image"]
        assert all(0.0 <= r["mean_luma"] <= 1.0 for r in rows)
        # deterministic across runs
        again = {r["media_id"]: r["phash"] for r in mm.image_features(media).collect()}
        assert {r["media_id"]: r["phash"] for r in rows} == again

        resized = mm.resize_images(media, 32, 32).collect()
        assert all(len(r["data"]) == 128 for r in resized)

        frames = mm.sample_frames(media, every_ms=300)
        f = frames.collect()
        assert len(f) > counts["video"]  # fan-out happened
        assert frames.schema["frame"].dataType.typeName() == "binary"

        audio = mm.audio_features(media).collect()
        assert len(audio) == counts["audio"]

    def test_real_decoder_boundary(self):
        from letarette_spark.functions import multimodal as mm

        with pytest.raises(NotImplementedError):
            mm.require_real_decoder()


class TestDedupScaleShapes:
    """Round-2 hardening: ANSI-safe short docs, candidate-only LSH verify,
    shuffle-free simhash, banded-LSH embedding dedup."""

    def test_shingles_short_docs_ansi_safe(self, spark):
        # docs with < n tokens must emit no shingles (not crash under ANSI)
        from letarette_spark.functions.dedup import (
            jaccard_pairs, minhash_signatures, shingles,
        )

        rows = [
            {"doc_id": 1, "text": ""},
            {"doc_id": 2, "text": "onetoken"},
            {"doc_id": 3, "text": "two tokens"},
            {"doc_id": 4, "text": "three whole tokens"},
            {"doc_id": 5, "text": "three whole tokens"},
        ]
        df = spark.createDataFrame(rows)
        sh = shingles(df, n=3).collect()
        assert {r["doc_id"] for r in sh} == {4, 5}
        pairs = jaccard_pairs(df, n=3, threshold=0.1).collect()
        assert [(p["a"], p["b"], p["jaccard"]) for p in pairs] == [(4, 5, 1.0)]
        sigs = minhash_signatures(df, k=4).collect()
        assert {r["doc_id"] for r in sigs} == {4, 5}

    def test_lsh_verify_restricted_to_candidates(self, near_dup_docs):
        # verification must stay candidate-scoped (linear at scale), never
        # recompute the all-pairs jaccard: the candidate pairs join the
        # per-doc shingle ARRAYS by id and intersect natively per row —
        # there must be no exploded (id, shingle) self-join anywhere
        from letarette_spark.functions.dedup import minhash_lsh_pairs

        df = minhash_lsh_pairs(near_dup_docs, bands=8, rows_per_band=1,
                               n=3, threshold=0.3, eager_cleanup=False)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "array_intersect" in plan
        # the only explode left feeds candidate GENERATION (band buckets),
        # whose join key is the band hash — a shingle-keyed join would
        # mean the exhaustive formulation sneaked back in
        assert "Join Inner, (shingle" not in plan

    def test_jaccard_for_pairs_matches_exhaustive(self, near_dup_docs):
        from letarette_spark.functions.dedup import (
            jaccard_for_pairs, jaccard_pairs, shingles,
        )

        exhaustive = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_pairs(near_dup_docs, n=3, threshold=0.0).collect()
        }
        cand = near_dup_docs.sparkSession.createDataFrame(
            [(1, 2), (1, 3), (1, 4)], "a long, b long"
        )
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in jaccard_for_pairs(
                shingles(near_dup_docs, 3), cand, 0.0
            ).collect()
        }
        assert got == {k: v for k, v in exhaustive.items() if k in {(1, 2), (1, 3), (1, 4)}}

    def test_simhash_plan_has_no_shuffle(self, near_dup_docs):
        from letarette_spark.functions.dedup import simhash64

        df = simhash64(near_dup_docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Generate" not in plan  # no explode-based row amplification

    def test_simhash_empty_doc_is_zero(self, spark):
        from letarette_spark.functions.dedup import simhash64

        df = spark.createDataFrame([{"doc_id": 1, "text": ""}])
        assert simhash64(df).collect()[0]["simhash"] == 0

    def test_banded_lsh_embedding_pairs(self, spark):
        import numpy as np

        from letarette_spark.functions.dedup import (
            embedding_duplicate_pairs, lsh_embedding_duplicate_pairs,
        )

        rng = np.random.default_rng(0)
        vecs = rng.standard_normal((40, 16))
        vecs[1] = vecs[0]                                   # exact dup
        vecs[2] = vecs[0] + 0.05 * rng.standard_normal(16)  # near dup
        rows = [
            {"vec_id": i, "embedding": [float(x) for x in v]}
            for i, v in enumerate(vecs)
        ]
        emb = spark.createDataFrame(rows)
        exact = {
            (r["a"], r["b"])
            for r in embedding_duplicate_pairs(emb, threshold=0.9).collect()
        }
        lsh = {
            (r["a"], r["b"])
            for r in lsh_embedding_duplicate_pairs(
                emb, threshold=0.9, bands=4, planes_per_band=4, dim=16
            ).collect()
        }
        assert lsh <= exact
        assert (0, 1) in lsh  # identical vectors collide in every band
        assert (0, 2) in lsh  # ~0.05 rad apart: P(miss all 4 bands) ~ 1e-5

    def test_banded_lsh_plan_has_no_cross_join(self, spark):
        import numpy as np

        from letarette_spark.functions.dedup import lsh_embedding_duplicate_pairs

        rng = np.random.default_rng(1)
        rows = [
            {"vec_id": i, "embedding": [float(x) for x in v]}
            for i, v in enumerate(rng.standard_normal((10, 8)))
        ]
        emb = spark.createDataFrame(rows)
        df = lsh_embedding_duplicate_pairs(emb, threshold=0.5, dim=8,
                                           eager_cleanup=False)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Cross" not in plan


class TestRealCodecs:
    """BMP/WAV are struct formats — the decode step is REAL pure numpy
    (functions/codecs.py); unknown formats keep the deterministic fake."""

    def test_bmp_roundtrip_padding_and_hash(self):
        import numpy as np

        from letarette_spark.functions.codecs import (
            average_hash64, decode_bmp, encode_bmp, luma, resize_nearest,
        )

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)  # padded rows
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
        assert decode_bmp(b"not a bitmap at all, definitely") is None

        small = resize_nearest(px, 8, 8)
        assert small.shape == (8, 8, 3)

        solid = np.full((4, 4, 3), 100, dtype=np.uint8)
        assert abs(float(luma(solid).mean()) - 100.0) < 1e-9
        assert average_hash64(solid) == 0  # no pixel exceeds the mean

        # half-dark half-bright: exactly 32 bits set
        half = np.zeros((8, 8, 3), dtype=np.uint8)
        half[:, 4:] = 255
        assert bin(average_hash64(half) & (2**64 - 1)).count("1") == 32

    def test_png_roundtrip_and_cross_check_with_bmp(self):
        """PNG decode is REAL: identical pixel data through the PNG and BMP
        paths must produce identical luma/aHash features."""
        import numpy as np

        from letarette_spark.functions.codecs import (
            average_hash64, decode_bmp, decode_png, encode_bmp, encode_png,
        )

        rng = np.random.default_rng(11)
        px = rng.integers(0, 256, size=(9, 14, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px)
        assert np.array_equal(
            decode_png(encode_png(px)), decode_bmp(encode_bmp(px))
        )
        assert average_hash64(decode_png(encode_png(px))) == average_hash64(px)
        assert decode_png(b"\x89PNG\r\n\x1a\nnot really") is None
        assert decode_png(b"GIF89a...") is None

    def test_png_all_filter_types_and_color_types(self):
        """Hand-built scanlines exercise filters 1-4 (Sub/Up/Average/Paeth)
        and the gray/gray+alpha/RGBA color types the spec defines."""
        import struct
        import zlib

        import numpy as np

        from letarette_spark.functions.codecs import _PNG_SIG, decode_png

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        def png(w, h, color, raw):
            ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
            return (_PNG_SIG + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

        # 2x4 RGB, rows filtered with Sub then Up. Row0 raw: [10,20,30,
        # 1,2,3,...] -> Sub deltas; row1 = row0 + [5,...] -> Up deltas.
        row0 = np.array([[10, 20, 30], [11, 22, 33], [12, 24, 36], [13, 26, 39]],
                        dtype=np.uint8).reshape(-1)
        sub = bytearray([1])
        prev = [0, 0, 0]
        for i, v in enumerate(row0):
            sub.append((int(v) - (int(row0[i - 3]) if i >= 3 else 0)) & 0xFF)
        row1 = (row0 + 5).astype(np.uint8)
        up = bytearray([2]) + bytes((row1 - row0) & 0xFF)
        img = decode_png(png(4, 2, 2, bytes(sub) + bytes(up)))
        assert img is not None
        assert np.array_equal(img[0].reshape(-1), row0)
        assert np.array_equal(img[1].reshape(-1), row1)

        # 3x3 grayscale with Average and Paeth filters (reference maths
        # computed by hand from the spec definitions)
        g0 = np.array([8, 16, 24], dtype=np.uint8)
        g1 = np.array([10, 20, 30], dtype=np.uint8)
        g2 = np.array([12, 25, 37], dtype=np.uint8)
        raw = bytearray([0]) + bytes(g0)
        # Average: rec = cur + floor((left + up)/2)
        avg = bytearray([3])
        left = 0
        for i in range(3):
            avg.append((int(g1[i]) - ((left + int(g0[i])) >> 1)) & 0xFF)
            left = int(g1[i])
        # Paeth: rec = cur + paeth(left, up, upleft)
        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        pae = bytearray([4])
        for i in range(3):
            a = int(g2[i - 1]) if i >= 1 else 0
            b = int(g1[i])
            c = int(g1[i - 1]) if i >= 1 else 0
            pae.append((int(g2[i]) - paeth(a, b, c)) & 0xFF)
        img = decode_png(png(3, 3, 0, bytes(raw) + bytes(avg) + bytes(pae)))
        assert img is not None and img.shape == (3, 3, 3)
        assert np.array_equal(img[:, :, 0], np.stack([g0, g1, g2]))
        assert np.array_equal(img[:, :, 0], img[:, :, 1])  # gray -> 3 chans

        # RGBA: alpha dropped
        rgba = np.zeros((1, 2, 4), dtype=np.uint8)
        rgba[0, 0] = (1, 2, 3, 200)
        rgba[0, 1] = (4, 5, 6, 100)
        img = decode_png(png(2, 1, 6, b"\x00" + rgba.tobytes()))
        assert np.array_equal(img, rgba[:, :, :3])

        # truncated IDAT / wrong dims -> None, not an exception
        assert decode_png(png(4, 2, 2, bytes(sub))) is None

    def test_png_through_spark_multimodal_pipeline(self, spark):
        """PNG payloads flow through image_features/resize_images with REAL
        pixel features — identical to the same pixels as BMP."""
        import numpy as np

        from letarette_spark.functions.codecs import (
            decode_image, encode_bmp, encode_png,
        )
        from letarette_spark.functions.multimodal import (
            MEDIA_SCHEMA, image_features, resize_images,
        )

        rng = np.random.default_rng(21)
        px = rng.integers(0, 256, size=(10, 12, 3), dtype=np.uint8)
        rows = [
            {"media_id": 1, "kind": "image", "mime": "image/png",
             "data": encode_png(px), "width": None, "height": None,
             "sample_rate": None, "duration_ms": None},
            {"media_id": 2, "kind": "image", "mime": "image/bmp",
             "data": encode_bmp(px), "width": None, "height": None,
             "sample_rate": None, "duration_ms": None},
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = {r["media_id"]: r for r in image_features(media).collect()}
        assert feats[1]["mean_luma"] == feats[2]["mean_luma"]
        assert feats[1]["phash"] == feats[2]["phash"]
        assert (feats[1]["width"], feats[1]["height"]) == (12, 10)

        resized = {r["media_id"]: r for r in resize_images(media, 6, 5).collect()}
        a = decode_image(bytes(resized[1]["data"]))
        b = decode_image(bytes(resized[2]["data"]))
        assert a is not None and a.shape == (5, 6, 3)
        assert np.array_equal(a, b)

    def test_jpeg_roundtrip_444_and_420(self):
        """Baseline JPEG is REAL: DCT roundtrip error bounded, both
        subsampling modes, garbage rejected, lossy-but-close gradient."""
        import numpy as np

        from letarette_spark.functions.jpeg import decode_jpeg, encode_jpeg

        solid = np.full((16, 24, 3), (200, 64, 32), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(solid, quality=95))
        assert dec is not None and dec.shape == solid.shape
        assert np.abs(dec.astype(int) - solid.astype(int)).max() <= 1

        yy, xx = np.mgrid[0:37, 0:53]
        grad = np.stack(
            [np.clip(yy * 4, 0, 255), np.clip(xx * 3, 0, 255),
             np.clip(yy + xx, 0, 255)], axis=2,
        ).astype(np.uint8)
        for sub, tol in (("444", 4), ("420", 12)):
            dec = decode_jpeg(encode_jpeg(grad, quality=92, subsampling=sub))
            assert dec is not None and dec.shape == grad.shape
            err = np.abs(dec.astype(int) - grad.astype(int))
            assert err.max() <= tol and err.mean() < 2.5, (sub, err.max())

        # non-multiple-of-MCU dims, noise input: decodes to right shape
        rng = np.random.default_rng(5)
        noise = rng.integers(0, 256, size=(23, 29, 3), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(noise, quality=90, subsampling="420"))
        assert dec is not None and dec.shape == noise.shape

        assert decode_jpeg(b"\xff\xd8\xff\xe0nonsense") is None
        assert decode_jpeg(b"not a jpeg") is None

    def test_jpeg_fill_bytes_before_markers(self):
        """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        marker — a legal stream padded this way must still decode."""
        import numpy as np

        from letarette_spark.functions.jpeg import decode_jpeg, encode_jpeg

        solid = np.full((16, 16, 3), (90, 180, 40), dtype=np.uint8)
        data = encode_jpeg(solid, quality=95)
        # inject fill bytes before every marker segment after SOI: walk
        # the marker chain of the encoded stream and pad each one
        out = bytearray(data[:2])
        pos = 2
        while pos + 4 <= len(data):
            assert data[pos] == 0xFF
            marker = data[pos + 1]
            seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
            out += b"\xff\xff\xff"  # fill bytes, then the real marker
            out += data[pos : pos + 2 + seglen]
            pos += 2 + seglen
            if marker == 0xDA:  # SOS: rest is entropy-coded data
                out += data[pos:]
                break
        dec = decode_jpeg(bytes(out))
        assert dec is not None and dec.shape == solid.shape
        assert np.abs(dec.astype(int) - solid.astype(int)).max() <= 1

    def test_jpeg_through_decode_image_and_features(self):
        """JPEG payloads flow through decode_image -> luma/aHash like BMP;
        feature values match the BMP path within JPEG's loss bound."""
        import numpy as np

        from letarette_spark.functions.codecs import (
            average_hash64, decode_image, encode_bmp, luma,
        )
        from letarette_spark.functions.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:32, 0:32]
        grad = np.stack(
            [np.clip(yy * 8, 0, 255)] * 3, axis=2
        ).astype(np.uint8)
        a = decode_image(encode_jpeg(grad, quality=95))
        b = decode_image(encode_bmp(grad))
        assert a is not None and b is not None
        assert abs(float(luma(a).mean()) - float(luma(b).mean())) < 2.0
        # aHash is threshold-based on an 8x8 mean — stable under the tiny
        # DCT loss for a smooth vertical gradient
        assert average_hash64(a) == average_hash64(b)

    def test_wav_roundtrip_and_rms(self):
        import numpy as np

        from letarette_spark.functions.codecs import decode_wav, encode_wav

        t = np.arange(8000) / 16000.0
        sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
        blob = encode_wav(sine, 16000)
        dec = decode_wav(blob)
        assert dec is not None
        samples, rate = dec
        assert rate == 16000 and len(samples) == 8000
        rms = float(np.sqrt((samples ** 2).mean()))
        assert abs(rms - 0.5 / np.sqrt(2)) < 1e-3  # sine RMS = A/sqrt(2)
        assert decode_wav(b"RIFFxxxxNOPE") is None

    def test_spark_pipeline_with_real_media(self, spark):
        import numpy as np

        from letarette_spark.functions.codecs import decode_bmp, encode_bmp, encode_wav
        from letarette_spark.functions.multimodal import (
            audio_features, image_features, resize_images,
        )

        dark = np.full((16, 16, 3), 10, dtype=np.uint8)
        bright = np.full((12, 20, 3), 250, dtype=np.uint8)
        t = np.arange(4000) / 8000.0
        sine = (0.25 * np.sin(2 * np.pi * 220 * t) * 32767).astype(np.int16)
        rows = [
            {"media_id": 1, "kind": "image", "mime": "image/bmp",
             "data": encode_bmp(dark), "width": None, "height": None,
             "sample_rate": None, "duration_ms": None},
            {"media_id": 2, "kind": "image", "mime": "image/bmp",
             "data": encode_bmp(bright), "width": None, "height": None,
             "sample_rate": None, "duration_ms": None},
            {"media_id": 3, "kind": "audio", "mime": "audio/wav",
             "data": encode_wav(sine, 8000), "width": None, "height": None,
             "sample_rate": 8000, "duration_ms": None},
        ]
        from letarette_spark.functions.multimodal import MEDIA_SCHEMA

        media = spark.createDataFrame(rows, MEDIA_SCHEMA)

        feats = {r["media_id"]: r for r in image_features(media).collect()}
        assert abs(feats[1]["mean_luma"] - 10 / 255) < 1e-9
        assert abs(feats[2]["mean_luma"] - 250 / 255) < 1e-9
        assert (feats[1]["width"], feats[1]["height"]) == (16, 16)
        assert (feats[2]["width"], feats[2]["height"]) == (20, 12)

        resized = {r["media_id"]: r for r in resize_images(media, 8, 6).collect()}
        for mid in (1, 2):
            px = decode_bmp(bytes(resized[mid]["data"]))
            assert px is not None and px.shape == (6, 8, 3)

        au = audio_features(media).collect()
        assert len(au) == 1 and au[0]["media_id"] == 3
        assert au[0]["duration_ms"] == 500
        assert abs(au[0]["rms"] - 0.25 / np.sqrt(2)) < 1e-3


class TestGopherQualityGates:
    def test_flags_and_thresholds(self, spark):
        from letarette_spark.functions.textstats import gopher_quality_flags

        good = " ".join(f"word{i} content here" for i in range(30))  # 90 words
        bullets = "\n".join(f"- item {i}" for i in range(10))
        dupes = "same line again\n" * 10 + "unique closer"
        short = "tiny doc"
        rows = [
            {"doc_id": 1, "text": good},
            {"doc_id": 2, "text": bullets},
            {"doc_id": 3, "text": dupes},
            {"doc_id": 4, "text": short},
            {"doc_id": 5, "text": ""},
        ]
        out = {r["doc_id"]: r for r in
               gopher_quality_flags(spark.createDataFrame(rows)).collect()}
        assert out[1]["passes"] and out[1]["n_words"] == 90
        assert out[2]["bullet_line_frac"] == 1.0 and not out[2]["passes"]
        assert out[3]["dup_line_frac"] > 0.3 and not out[3]["passes"]
        assert not out[4]["passes"] and not out[5]["passes"]
        assert out[5]["n_words"] == 0 and out[5]["dup_line_frac"] == 0.0


class TestReviewRegressions:
    def test_wav_zero_rate_is_unparseable(self):
        import numpy as np

        from letarette_spark.functions.codecs import decode_wav, encode_wav

        blob = bytearray(encode_wav(np.zeros(10, dtype=np.int16), 16000))
        blob[24:28] = (0).to_bytes(4, "little")  # corrupt fmt: rate = 0
        assert decode_wav(bytes(blob)) is None  # not ZeroDivisionError

    def test_lsh_embedding_pairs_on_empty_frame(self, spark):
        from letarette_spark.functions.dedup import lsh_embedding_duplicate_pairs
        from letarette_spark.functions.similarity import lsh_cosine_candidates

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert lsh_embedding_duplicate_pairs(empty, dim=None).count() == 0
        assert lsh_cosine_candidates(empty).count() == 0

    def test_dedup_ops_release_their_caches(self, spark, near_dup_docs):
        from letarette_spark.functions.dedup import minhash_lsh_pairs

        sc = spark.sparkContext
        before = sc._jsc.sc().getPersistentRDDs().size()
        out = minhash_lsh_pairs(near_dup_docs, bands=8, rows_per_band=1,
                                n=3, threshold=0.3)
        out.count()
        after = sc._jsc.sc().getPersistentRDDs().size()
        # +1 = the localCheckpoint of the returned pair set itself; all
        # intermediate shingle/candidate caches must be gone
        assert after <= before + 1, "dedup call leaked persisted RDDs"

    def test_jpeg_bitreader_state_stays_bounded(self):
        # regression: consumed bits must be dropped from `cur`, otherwise
        # it grows into a bigint and decode goes quadratic in scan size
        from letarette_spark.functions.jpeg import _BitReader

        data = bytes(range(1, 251)) * 40  # 10 KB, no FF markers
        r = _BitReader(data, 0)
        reads = 0
        try:
            while True:
                r.read_bit()
                reads += 1
                assert r.cur.bit_length() <= 40, (
                    f"BitReader accumulated {r.cur.bit_length()} bits "
                    f"after {reads} reads"
                )
        except EOFError:
            pass
        assert reads == len(data) * 8
