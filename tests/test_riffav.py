"""WAV/PCM + AVI/MJPEG kernels (kernels/riffav.py) and their operators
(multimodal.audio_stats / video_frames): spec-twin roundtrips, feature
exactness on dyadic fixtures, container malformation, per-item isolation."""

import numpy as np
import pytest

from paddle_spark.kernels.riffav import (
    audio_features,
    avi_frame,
    avi_frames,
    avi_meta,
    decode_wav,
)
from paddle_spark.sources.synth import make_avi_mjpeg, make_jpeg, make_wav


class TestWav:
    def test_square_wave_exact_features(self):
        amp = 5 / 128.0  # dyadic: exact at 8- and 16-bit quantization
        sig = np.tile([amp, -amp], 600)
        for bits in (8, 16):
            f = audio_features(make_wav(sig, 8000, bits))
            assert f["bits"] == bits and f["channels"] == 1
            assert f["n_samples"] == 1200 and f["duration_ms"] == 150.0
            assert f["rms"] == amp and f["peak"] == amp

    def test_stereo_shapes_and_normalization(self):
        sig = np.stack([np.linspace(-0.5, 0.5, 100), np.zeros(100)], axis=1)
        w = decode_wav(make_wav(sig, 44100, 16))
        assert w["channels"] == 2 and w["samples"].shape == (100, 2)
        assert np.max(np.abs(w["samples"][:, 0] - sig[:, 0])) <= 1 / 32768.0
        assert np.all(w["samples"][:, 1] == 0.0)

    def test_malformed_degrades(self):
        good = make_wav(np.zeros(64), 8000, 16)
        assert decode_wav(None) is None
        assert decode_wav(b"RIFFxxxxWAVE") is None          # no chunks
        assert decode_wav(b"not a riff at all") is None
        assert decode_wav(good[:30]) is None                 # truncated
        bad = bytearray(good)
        bad[20] = 3                                          # float PCM tag
        assert decode_wav(bytes(bad)) is None
        assert audio_features(b"\x89PNG\r\n\x1a\n" + b"x" * 40) is None

    def test_fuzz_never_raises(self):
        import random

        base = make_wav(np.sin(np.arange(500) / 10.0) * 0.4, 8000, 16)
        rng = random.Random(3)
        for _ in range(200):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            out = decode_wav(bytes(b))
            assert out is None or out["n_samples"] > 0


class TestAvi:
    def _avi(self, grays, w=32, h=24, fps=10):
        return make_avi_mjpeg(
            [make_jpeg(np.full((h, w), g, np.uint8)) for g in grays], w, h, fps
        )

    def test_meta_and_frame_walk(self):
        p = self._avi([10, 90, 170], fps=25)
        m = avi_meta(p)
        assert m == {"n_frames": 3, "width": 32, "height": 24,
                     "us_per_frame": 40000}
        fs = avi_frames(p)
        assert len(fs) == 3 and all(f[:3] == b"\xff\xd8\xff" for f in fs)
        assert avi_frame(p, 2) == fs[2] and avi_frame(p, 3) is None

    def test_frames_decode_through_jpeg_kernel(self):
        from paddle_spark.kernels.pixels import decode_pixels

        p = self._avi([40, 200])
        for g, fb in zip((40, 200), avi_frames(p)):
            img = decode_pixels(fb)
            assert img.shape[:2] == (24, 32) and float(img.mean()) == g

    def test_malformed_degrades(self):
        assert avi_meta(b"RIFFxxxxAVI ") is None
        assert avi_frames(b"RIFFxxxxWAVE") == []
        assert avi_meta(None) is None and avi_frames(None) == []
        p = bytearray(self._avi([50]))
        assert avi_frames(bytes(p[: len(p) // 3])) == []  # truncated movi


class TestOperators:
    def test_audio_stats_isolation(self, spark):
        amp = 4 / 128.0
        rows = [
            (0, bytearray(make_wav(np.tile([amp, -amp], 400), 8000, 16))),
            (1, bytearray(b"garbage bytes")),
        ]
        from paddle_spark.operators.multimodal import audio_stats

        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = {r["media_id"]: r for r in audio_stats(df).collect()}
        assert out[0]["decode_ok"] and out[0]["rms"] == amp
        assert out[0]["duration_ms"] == 100.0
        assert not out[1]["decode_ok"]

    def test_video_frames_fan_out_and_codec_gate(self, spark):
        from paddle_spark.operators.multimodal import video_frames

        p = make_avi_mjpeg(
            [make_jpeg(np.full((16, 24), g, np.uint8)) for g in (30, 60, 90, 120)],
            24, 16,
        )
        df = spark.createDataFrame(
            [(7, bytearray(p)), (8, bytearray(b"junk"))],
            "media_id long, payload binary",
        )
        out = video_frames(df, every_k=2, max_frames=8).collect()
        got = {(r["media_id"], r["frame_no"]): r["mean_r"] for r in out}
        assert got == {(7, 0): 30.0, (7, 2): 90.0}
        with pytest.raises(ValueError):
            video_frames(df, codec="bogus")  # plan-construction refusal


def test_extract_document_media_kinds():
    """Recognized a/v containers are zero-block successes on the text
    path (same policy as images); unparseable ones are per-doc failures,
    never exceptions."""
    from paddle_spark.kernels.extract import extract_document

    r = extract_document(make_wav(np.zeros(100), 8000, 16))
    assert r.parse_ok and r.branch == "audio" and r.text == ""
    avi = make_avi_mjpeg([make_jpeg(np.full((8, 8), 5, np.uint8))], 8, 8)
    r2 = extract_document(avi)
    assert r2.parse_ok and r2.branch == "video" and r2.n_blocks_kept == 0
    r3 = extract_document(b"RIFF\x00\x00\x00\x00WAVEgarbage")
    assert not r3.parse_ok and r3.branch == "audio"
    r4 = extract_document(b"RIFF\x00\x00\x00\x00ACONanih")
    assert not r4.parse_ok and r4.branch == "none"


class TestWildWavs:
    def test_system_wavs_match_stdlib_wave(self):
        """Wild-file cross-validation against an INDEPENDENT third-party
        reader (CPython's stdlib wave module — the same pattern as the
        libwebp VP8L parity tests): for every system .wav, our decoder
        must agree on channels/rate/frame-count and be sample-exact under
        the identical normalization. Skips quietly on systems without a
        wav corpus."""
        import glob
        import wave

        files = sorted(
            glob.glob("/root/.pyenv/versions/**/*.wav", recursive=True)
            + glob.glob("/usr/share/**/*.wav", recursive=True)
        )
        if not files:
            pytest.skip("no wild wav corpus")
        checked = 0
        for f in files:
            p = open(f, "rb").read()
            try:
                w = wave.open(f)
                ch, sw, rate, nf = (
                    w.getnchannels(), w.getsampwidth(),
                    w.getframerate(), w.getnframes(),
                )
                frames = w.readframes(nf)
            except Exception:
                continue  # non-PCM or stdlib-unreadable: out of scope
            got = decode_wav(p)
            assert got is not None, f
            assert (got["channels"], got["sample_rate"]) == (ch, rate), f
            assert got["n_samples"] == nf, f
            assert got["bits"] == sw * 8, f
            # sample-exactness under identical normalization
            if sw == 1:
                exp = (np.frombuffer(frames, np.uint8).astype(np.float64) - 128.0) / 128.0
            elif sw == 2:
                exp = np.frombuffer(frames, "<i2").astype(np.float64) / 32768.0
            elif sw == 3:
                b3 = np.frombuffer(frames, np.uint8).reshape(-1, 3).astype(np.int64)
                v = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
                v = np.where(v & 0x800000, v - (1 << 24), v)
                exp = v.astype(np.float64) / float(1 << 23)
            else:
                exp = np.frombuffer(frames, "<i4").astype(np.float64) / float(1 << 31)
            assert np.array_equal(got["samples"].reshape(-1), exp), f
            checked += 1
        assert checked >= 3, checked  # the corpus has pcm8/16/24/32 variants


class TestRawAvi:
    def test_raw_dib_frames_roundtrip_exact(self):
        from paddle_spark.kernels.riffav import (
            avi_video_format,
            decode_dib_frame,
        )
        from paddle_spark.sources.synth import make_avi_raw

        rng = np.random.RandomState(8)
        fr = [rng.randint(0, 256, (9, 13, 3), dtype=np.uint8) for _ in range(3)]
        p = make_avi_raw(fr)  # w=13 -> stride 40 exercises row padding
        vf = avi_video_format(p)
        assert vf == {"width": 13, "height": 9, "bpp": 24, "compression": 0}
        for f_in, fb in zip(fr, avi_frames(p)):
            assert np.array_equal(decode_dib_frame(fb, 13, 9), f_in)
        assert decode_dib_frame(b"short", 13, 9) is None

    def test_video_frames_operator_sniffs_both_arms(self, spark):
        from paddle_spark.operators.multimodal import video_frames
        from paddle_spark.sources.synth import make_avi_raw

        raw = make_avi_raw([np.full((6, 6, 3), (50, 100, 150), np.uint8)])
        mjpg = make_avi_mjpeg(
            [make_jpeg(np.full((6, 6), 80, np.uint8))], 6, 6
        )
        df = spark.createDataFrame(
            [(1, bytearray(raw)), (2, bytearray(mjpg))],
            "media_id long, payload binary",
        )
        got = {r["media_id"]: (r["mean_r"], r["mean_g"], r["mean_b"])
               for r in video_frames(df).collect()}
        assert got[1] == (50.0, 100.0, 150.0)
        assert got[2] == (80.0, 80.0, 80.0)


class TestAuAiff:
    """Sun AU + AIFF/AIFC decode, cross-validated sample-exact against
    the independent stdlib readers (sunau/aifc + audioop for G.711)."""

    def _wild(self, ext):
        import glob

        return sorted(glob.glob(
            f"/root/.pyenv/versions/**/*.{ext}", recursive=True))

    def test_wild_au_and_aiff_match_stdlib(self):
        import warnings

        from paddle_spark.kernels.riffav import decode_audio

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import aifc
            import audioop
            import sunau
        files = self._wild("au") + self._wild("aiff") + self._wild("aifc")
        if not files:
            pytest.skip("no wild au/aiff corpus")
        checked = 0
        for f in files:
            mod = sunau if f.endswith(".au") else aifc
            try:
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", DeprecationWarning)
                    r = mod.open(f)
                    ch, sw, rate, nf = (
                        r.getnchannels(), r.getsampwidth(),
                        r.getframerate(), r.getnframes(),
                    )
                    comp = r.getcomptype()
                    frames = r.readframes(nf)
            except Exception:
                continue
            comp = comp.encode() if isinstance(comp, str) else comp
            got = decode_audio(open(f, "rb").read())
            if comp in (b"alaw", b"ALAW", b"ulaw", b"ULAW"):
                # stdlib sunau/aifc ALREADY expand G.711 to linear 16-bit
                # (native byte order via audioop) — so this is a direct
                # independent check of our ulaw/alaw tables
                exp = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
                assert got is not None, f
                assert (got["channels"], got["sample_rate"]) == (ch, rate), f
                assert np.array_equal(got["samples"].reshape(-1), exp), f
                checked += 1
                continue
            if comp not in (b"NONE", b"sowt"):
                assert got is None, f  # out-of-scope codecs degrade
                continue
            assert got is not None, f
            assert (got["channels"], got["sample_rate"], got["n_samples"]) == (ch, rate, nf), f
            if sw == 1:
                exp = np.frombuffer(frames, np.int8).astype(np.float64) / 128.0
            elif sw == 2:
                exp = np.frombuffer(frames, ">i2").astype(np.float64) / 32768.0
            elif sw == 3:
                b3 = np.frombuffer(frames, np.uint8).reshape(-1, 3).astype(np.int64)
                v = (b3[:, 0] << 16) | (b3[:, 1] << 8) | b3[:, 2]
                v = np.where(v & 0x800000, v - (1 << 24), v)
                exp = v.astype(np.float64) / float(1 << 23)
            else:
                exp = np.frombuffer(frames, ">i4").astype(np.float64) / float(1 << 31)
            assert np.array_equal(got["samples"].reshape(-1), exp), f
            checked += 1
        assert checked >= 8, checked  # pcm8/16/24/32 x au/aiff + ulaw files

    def test_g711_tables_match_audioop_bytewise(self):
        import warnings

        from paddle_spark.kernels.riffav import alaw_to_float, ulaw_to_float

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            import audioop
        b = np.arange(256, dtype=np.uint8)
        for mine, ref_fn in ((ulaw_to_float, audioop.ulaw2lin),
                             (alaw_to_float, audioop.alaw2lin)):
            ref = np.frombuffer(ref_fn(b.tobytes(), 2), dtype="<i2")
            assert np.array_equal(mine(b) * 32768.0, ref.astype(np.float64))

    def test_malformed_degrades(self):
        from paddle_spark.kernels.riffav import decode_aiff, decode_au, decode_audio

        assert decode_au(b".snd" + b"\x00" * 10) is None
        assert decode_aiff(b"FORM\x00\x00\x00\x00AIFF") is None
        assert decode_audio(b"FORM\x00\x00\x00\x00ILBMBODY") is None
        # float AU encoding (6) declines
        hdr = b".snd" + (24).to_bytes(4, "big") + (8).to_bytes(4, "big") + (6).to_bytes(4, "big") + (8000).to_bytes(4, "big") + (1).to_bytes(4, "big")
        assert decode_au(hdr + b"\x00" * 8) is None
