"""Multimodal plumbing tests (decode is a declared deterministic stub)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from paddle_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\n" + b"fakepng" * 10),
        (1, b"\xff\xd8\xff" + b"fakejpg" * 20),
        (2, b"GIF89a" + b"fakegif" * 5),
        (3, b"%PDF-1.4\nnot an image"),
        (4, None),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_binary_meta(media):
    out = {r["media_id"]: r for r in MM.binary_meta(media).collect()}
    assert out[0]["kind"] == "image"
    assert out[1]["kind"] == "image"
    assert out[3]["kind"] == "pdf"
    payload = b"\x89PNG\r\n\x1a\n" + b"fakepng" * 10
    assert out[0]["n_bytes"] == len(payload)
    assert out[0]["sha256"] == hashlib.sha256(payload).hexdigest()


def test_decode_stub_schema_and_determinism(media):
    out = MM.decode_media(media)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "width", "height", "n_frames", "feature", "decode_ok",
    ]
    rows1 = {r["media_id"]: r.asDict() for r in out.collect()}
    rows2 = {r["media_id"]: r.asDict() for r in MM.decode_media(media).collect()}
    assert rows1 == rows2
    r0 = rows1[0]
    assert r0["decode_ok"] and 64 <= r0["width"] <= 255 and len(r0["feature"]) == 8
    # deterministic fake matches the single-process function
    w, h, nf, feat = MM.decode_fake(b"\x89PNG\r\n\x1a\n" + b"fakepng" * 10)
    assert (r0["width"], r0["height"], r0["n_frames"]) == (w, h, nf)


def test_decode_media_real_codec_single_switch(spark):
    """decode_media(codec='python') routes through the ONE codec switch
    (kernels/pixels.decoder_for): real dims + channel-mean features for a
    decodable PNG, per-item isolation for garbage, and an unknown codec
    refuses at plan construction — not per row."""
    import numpy as np

    from paddle_spark.sources.synth import make_png

    img = np.zeros((8, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 255  # pure red
    df = spark.createDataFrame(
        [(1, bytearray(make_png(img))), (2, bytearray(b"not an image"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in MM.decode_media(df, codec="python").collect()}
    r1 = rows[1]
    assert r1["decode_ok"] and (r1["width"], r1["height"]) == (6, 8)
    assert r1["feature"] == [1.0, 0.0, 0.0]
    assert not rows[2]["decode_ok"]
    with pytest.raises(ValueError):
        MM.decode_media(df, codec="bogus")  # plan construction, no action ran


def test_pixel_stats_real_decode_and_isolation(spark):
    """pixel_stats decodes real PNG/BMP pixels distributed; garbage and
    seam formats (JPEG entropy data) become decode_ok=false rows, never
    task failures."""
    import numpy as np

    from paddle_spark.sources.synth import make_bmp, make_png

    arr = np.zeros((10, 20, 3), dtype=np.uint8)
    arr[:, :, 0] = 200          # solid-ish: r=200, g=0, b=0
    rows = [
        (0, bytearray(make_png(arr, filter_types=[4]))),
        (1, bytearray(make_bmp(arr))),
        (2, bytearray(b"\xff\xd8\xff\xe0 not decodable jpeg")),
        (3, bytearray(b"random garbage")),
        (4, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in MM.pixel_stats(media).collect()}
    for mid in (0, 1):
        r = out[mid]
        assert r["decode_ok"] and (r["width"], r["height"]) == (20, 10)
        assert (r["out_width"], r["out_height"]) == (20, 10)  # under cap
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (200.0, 0.0, 0.0)
    for mid in (2, 3, 4):
        assert not out[mid]["decode_ok"]
    # resize cap engages distributed too
    big = np.full((300, 400, 3), 10, dtype=np.uint8)
    media2 = spark.createDataFrame(
        [(9, bytearray(make_png(big)))], "media_id long, payload binary"
    )
    r = MM.pixel_stats(media2, max_dim=128).collect()[0]
    assert (r["out_width"], r["out_height"]) == (128, 96)
    assert r["mean_r"] == 10.0


def test_frame_sample_fanout_and_isolation(spark):
    import numpy as np

    from paddle_spark.sources.synth import make_gif, make_png

    pal = [[10, 20, 30], [200, 100, 50], [1, 2, 3]]
    frames = [np.full((6, 9), f, dtype=np.uint8) for f in range(3)]
    rows = [
        (0, bytearray(make_gif(frames, pal))),            # 3 frames -> 0, 2
        (1, bytearray(make_png(np.full((4, 5, 3), 7, dtype=np.uint8)))),
        (2, bytearray(b"junk")),                          # no rows
        (3, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = MM.frame_sample(media, every_k=2, max_frames=8).collect()
    got = {(r["media_id"], r["frame_no"]): r for r in out}
    assert set(got) == {(0, 0), (0, 2), (1, 0)}
    assert (got[(0, 0)]["mean_r"], got[(0, 0)]["mean_g"]) == (10.0, 20.0)
    assert got[(0, 2)]["mean_b"] == 3.0
    assert got[(1, 0)]["mean_r"] == 7.0 and got[(1, 0)]["width"] == 5


def test_frame_sample_grayscale_payloads(spark):
    """1-channel decodes (gray PNG/JPEG) report means too — they repeat
    to 3 channels instead of being silently dropped."""
    import numpy as np

    from paddle_spark.sources.synth import make_jpeg, make_png

    g = np.full((8, 10), 77, dtype=np.uint8)
    rows = [(0, bytearray(make_png(g))), (1, bytearray(make_jpeg(g)))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in MM.frame_sample(media).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (77.0, 77.0, 77.0)


def test_visual_features_dhash_and_histogram(spark):
    """Pixel-derived features (the digest-fake retirement): identical
    payloads hash identically, near-identical payloads land within a few
    Hamming bits, distinct structures differ, and the histogram embedding
    is the exact per-bin pixel fraction."""
    import numpy as np

    from paddle_spark.sources.synth import make_png

    base = np.full((16, 36, 3), 140, dtype=np.uint8)
    base[:, :18] = 40
    near = base.copy()
    near[0, 0] = 41  # one-pixel perturbation
    flipped = base[:, ::-1].copy()  # gradient signs invert
    rows = [
        (0, bytearray(make_png(base))),
        (1, bytearray(make_png(base))),
        (2, bytearray(make_png(near))),
        (3, bytearray(make_png(flipped))),
        (4, bytearray(b"junk")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in MM.visual_features(media).collect()}
    assert out[0]["dhash"] == out[1]["dhash"]
    ham = bin((out[0]["dhash"] ^ out[2]["dhash"]) & (2**64 - 1)).count("1")
    assert ham <= 4
    assert out[0]["dhash"] != out[3]["dhash"]
    # histogram: half the pixels at 40 (bin 0), half at 140 (bin 2),
    # repeated across the three channels
    assert out[0]["feature"] == [0.5, 0.0, 0.5, 0.0] * 3
    assert not out[4]["decode_ok"] and out[4]["feature"] is None


def test_visual_features_feed_ann(spark):
    """The ANN operator consumes visual_features output directly: exact
    duplicates rank first with cosine 1.0."""
    import numpy as np

    from paddle_spark.operators.similarity import brute_force_topk
    from paddle_spark.sources.synth import make_png

    def img(a, b, split):
        x = np.full((16, 36, 3), b, dtype=np.uint8)
        x[:, :split] = a
        return bytearray(make_png(x))

    rows = [
        (0, img(40, 140, 18)),
        (1, img(40, 140, 18)),   # duplicate of 0
        (2, img(40, 140, 6)),    # same bins, different fractions
        (3, img(200, 255, 18)),  # different bins entirely
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    vf = MM.visual_features(media).selectExpr(
        "media_id AS vec_id", "feature AS embedding"
    )
    top = brute_force_topk(vf, vf, k=1)
    best = {r["qid"]: r for r in top.collect()}
    assert best[0]["cid"] == 1 and best[0]["cosine"] == 1.0
    assert best[1]["cid"] == 0 and best[1]["cosine"] == 1.0


def test_pixel_codec_knob(spark):
    """The codec switch takes exactly 'auto', 'python' and 'system'. Any
    other name — including the removed 'native' (PIL) and 'off' values —
    refuses at plan construction (driver side, not mid-task)."""
    media = spark.createDataFrame([(0, b"x")], "media_id long, payload binary")
    ops = (MM.pixel_stats, MM.visual_features, MM.frame_sample,
           MM.video_frames, MM.decode_media)
    for codec in ("native", "off", "bogus"):
        for op in ops:
            with pytest.raises(ValueError, match="unknown pixel codec"):
                op(media, codec=codec)
    for codec in ("auto", "python"):
        for op in ops:
            op(media, codec=codec)


def test_visual_near_dups_banded_hamming(spark):
    """Banded dhash Hamming join: exact pairs for distance <= n_bands-1,
    no all-pairs comparison (equi-join candidates only)."""
    import numpy as np

    from paddle_spark.sources.synth import make_png

    def img(split, patch):
        x = np.full((16, 36, 3), 140, dtype=np.uint8)
        x[:, :split] = 40
        if patch:
            x[14:16, :] = 140  # zeroes dhash row 7 -> Hamming 2 vs unpatched
        return bytearray(make_png(x))

    rows = [
        (0, img(6, False)),
        (1, img(6, False)),   # dup of 0 -> hamming 0
        (2, img(6, True)),    # near-dup   -> hamming 2
        (3, img(22, False)),  # different structure -> far
        (4, bytearray(b"junk")),  # decode failure: excluded
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in MM.visual_near_dups(media, max_hamming=3).collect()}
    assert out == {(0, 1): 0, (0, 2): 2, (1, 2): 2}
    # the join is banded equi-join, not a cartesian/BNLJ
    plan = MM.visual_near_dups(media)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dhash_near_dup_recall_and_separation(spark):
    """Quality property of the visual near-dup chain: structured images
    survive mild perturbation (JPEG-free: brightness shift + sparse
    noise) within the banded join's Hamming budget, while distinct
    structures stay far — measured recall/separation, not anecdotes."""
    import numpy as np

    from paddle_spark.sources.synth import make_png

    rng = np.random.RandomState(0)

    def structured(seed):
        r = np.random.RandomState(seed)
        # block-pattern "thumbnail": 4x4 tiles of random shades, upscaled
        tiles = r.randint(0, 256, (4, 4), dtype=np.uint8)
        img = np.kron(tiles, np.ones((8, 8), np.uint8))
        return np.repeat(img[:, :, None], 3, axis=2)

    rows = []
    n_pairs = 12
    for k in range(n_pairs):
        base = structured(100 + k)
        pert = base.astype(np.int16) + int(rng.randint(-12, 13))
        mask = rng.random(base.shape[:2]) < 0.002
        pert[mask] = rng.randint(0, 256)
        pert = np.clip(pert, 0, 255).astype(np.uint8)
        rows.append((2 * k, bytearray(make_png(base))))
        rows.append((2 * k + 1, bytearray(make_png(pert))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    vf = {r["media_id"]: r["dhash"] for r in MM.visual_features(media).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    recall_hits = sum(
        1 for k in range(n_pairs) if ham(vf[2 * k], vf[2 * k + 1]) <= 3
    )
    assert recall_hits >= int(0.8 * n_pairs), recall_hits
    # separation: distinct structures nearly always exceed the budget
    far = [
        ham(vf[2 * a], vf[2 * b])
        for a in range(n_pairs)
        for b in range(a + 1, n_pairs)
    ]
    assert sum(1 for d in far if d > 3) >= int(0.95 * len(far)), sorted(far)[:5]


def test_auto_codec_fallback_and_identity(spark, monkeypatch):
    """codec='auto' (the r6 default) resolves to the system arm when any
    codec library is bound and byte-falls-back to the pure decoders when
    none is; operator rows are identical either way (the per-format
    byte-identity pins lifted to the operator level)."""
    import numpy as np
    import pandas as pd

    from paddle_spark.kernels import (
        gif_native, jpeg_native, png_native, tiff_native, webp_native,
    )
    from paddle_spark.kernels.pixels import decode_pixels, decoder_for

    # fallback: no system libs -> auto IS the pure decoder
    monkeypatch.setattr(png_native, "have_native_png", lambda: False)
    monkeypatch.setattr(gif_native, "have_native_gif", lambda: False)
    monkeypatch.setattr(webp_native, "have_native_webp", lambda: False)
    monkeypatch.setattr(tiff_native, "have_native_tiff", lambda: False)
    monkeypatch.setattr(jpeg_native, "have_native_jpeg", lambda: False)
    assert decoder_for("auto") is decode_pixels
    monkeypatch.undo()

    from paddle_spark.sources.synth import (
        make_bmp, make_gif, make_jpeg, make_png, make_tiff, make_webp,
    )

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["id"].tolist()]
            payloads = []
            for i in ids:
                rng = np.random.RandomState(i)
                img = rng.randint(0, 256, (40 + i % 9, 40 + i % 7, 3),
                                  dtype=np.uint8)
                k = i % 6
                if k == 0:
                    payloads.append(make_png(img, filter_types=[0, 1, 2, 3, 4]))
                elif k == 1:
                    payloads.append(make_bmp(img))
                elif k == 2:
                    payloads.append(make_jpeg(img[:, :, 0]))
                elif k == 3:
                    payloads.append(make_gif(img[:, :, 0] % 64,
                                             np.arange(192).reshape(64, 3)))
                elif k == 4:
                    payloads.append(make_tiff(img, compression="lzw",
                                              rows_per_strip=16))
                else:
                    payloads.append(make_webp(img, subtract_green=True))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = spark.range(0, 48, 1, 4).mapInPandas(
        gen, schema="media_id long, payload binary"
    )
    a = sorted(map(tuple, MM.pixel_stats(media, max_dim=64).collect()))
    b = sorted(map(tuple,
                   MM.pixel_stats(media, max_dim=64, codec="python").collect()))
    assert a == b
