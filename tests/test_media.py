"""Multimodal plumbing: schemas, batch iteration, determinism (decode is
a documented stub; the Spark-side contract is what's under test)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zcurve_spark.sources.interleaved import explode_spans, interleaved_docs
from zcurve_spark.sources.media import FEATURE_DIM, extract_features, frame_sample, synth_media_blobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    spans = explode_spans(interleaved_docs(spark, SF_DIR))
    m = synth_media_blobs(spans).cache()
    m.count()
    return m


def test_blob_and_meta_shapes(media):
    r = media.select("media_ref", "blob", "meta").first()
    assert r.media_ref.startswith("m://")
    assert isinstance(r.blob, (bytes, bytearray)) and len(r.blob) == 48
    assert r.meta.media_type in ("image", "audio", "video")
    assert r.meta.width >= 1 and r.meta.height >= 1 and r.meta.duration_ms >= 1


def test_feature_extraction_contract(media):
    out = extract_features(media)
    assert dict(out.dtypes)["features"] == "array<float>"
    pdf = out.limit(50).toPandas()
    assert (pdf.features.map(len) == FEATURE_DIM).all()
    assert (pdf.n_bytes == 48).all()
    assert pdf.features.map(lambda f: all(0.0 <= v <= 1.0 for v in f)).all()


def test_feature_extraction_deterministic_and_partition_invariant(media):
    a = extract_features(media).orderBy("media_ref").limit(20).collect()
    b = extract_features(media.repartition(16)).orderBy("media_ref").limit(20).collect()
    assert [(r.media_ref, r.features) for r in a] == [(r.media_ref, r.features) for r in b]


def test_frame_sample(media):
    f = frame_sample(media, every_ms=10_000)
    pdf = f.limit(200).toPandas()
    assert (pdf.ts_ms % 10_000 == 0).all()
    assert (pdf.frame_idx >= 0).all()
    one = f.groupBy("media_ref").agg(F.max("ts_ms").alias("mx"), F.count(F.lit(1)).alias("n")).first()
    assert one.n == one.mx // 10_000 + 1


class TestRealWavCodec:
    """The audio decode path is REAL (stdlib RIFF/WAV parse + numpy DSP),
    not a hash fake — contract tests against locally computed features."""

    def test_wav_roundtrip_features(self):
        import numpy as np

        from zcurve_spark.sources.media import FEATURE_DIM, decode_wav, synth_wav_blob

        for seed in (0, 7, 123):
            blob = synth_wav_blob(seed)
            assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
            f = decode_wav(blob)
            assert f.shape == (FEATURE_DIM,)
            assert f[0] == 1.0                      # mono
            assert abs(f[1] - 8000 / 48000) < 1e-6  # sample rate
            assert abs(f[2] - 2048 / 8000) < 1e-6   # duration
            assert 0.1 < f[3] < 0.9                 # rms of the sine mix
            # determinism
            assert np.array_equal(f, decode_wav(synth_wav_blob(seed)))

    def test_decode_rejects_garbage(self):
        import pytest as _pytest

        from zcurve_spark.sources.media import decode_wav

        with _pytest.raises(Exception):
            decode_wav(b"not a wav payload at all")

    def test_extract_features_with_real_codec(self, spark):
        import pandas as pd

        from zcurve_spark.sources.media import (
            FEATURES_SCHEMA,
            codec_decode,
            decode_wav,
            extract_features,
            synth_wav_blob,
        )

        rows = [(f"m://{i}", bytearray(synth_wav_blob(i)), ("audio", 0, 0, 256)) for i in range(12)]
        df = spark.createDataFrame(
            rows,
            "media_ref string, blob binary, meta struct<media_type:string,width:int,height:int,duration_ms:int>",
        )
        out = extract_features(df, decode_fn=codec_decode).toPandas()
        assert len(out) == 12
        for r in out.itertuples():
            i = int(r.media_ref.split("/")[-1])
            expect = decode_wav(synth_wav_blob(i))
            assert list(map(float, r.features)) == list(map(float, expect))


class TestRealBmpCodec:
    """The image decode/resize path is REAL for 24-bit uncompressed BMP
    (struct container parse + numpy), not a hash fake."""

    def test_bmp_roundtrip_features(self):
        import numpy as np

        from zcurve_spark.sources.media import FEATURE_DIM, decode_bmp, synth_bmp_blob

        for seed in (0, 7, 123):
            blob = synth_bmp_blob(seed, width=32, height=24)
            assert blob[:2] == b"BM"
            f = decode_bmp(blob)
            assert f.shape == (FEATURE_DIM,)
            assert abs(f[0] - 32 / 4096) < 1e-6   # width
            assert abs(f[1] - 24 / 4096) < 1e-6   # height
            assert abs(f[2] - 0.5) < 0.02         # mean R of a 0..255 gradient
            assert abs(f[3] - 0.5) < 0.02         # mean G of a 0..255 gradient
            assert abs(sum(f[7:]) - 1.0) < 1e-5   # histogram fractions
            assert np.array_equal(f, decode_bmp(synth_bmp_blob(seed, width=32, height=24)))

    def test_bmp_pixel_exactness(self):
        import numpy as np

        from zcurve_spark.sources.media import _bmp_encode, _bmp_pixels

        # odd width forces row padding; encode->decode must be lossless
        pix = (np.arange(5 * 3 * 3, dtype=np.uint8)).reshape(3, 5, 3)
        assert np.array_equal(_bmp_pixels(_bmp_encode(pix)), pix)

    def test_bmp_rejects_garbage(self):
        import pytest as _pytest

        from zcurve_spark.sources.media import decode_bmp

        with _pytest.raises(Exception):
            decode_bmp(b"definitely not a bitmap")

    def test_resize_real(self):
        import numpy as np

        from zcurve_spark.sources.media import _bmp_pixels, resize_bmp, synth_bmp_blob

        blob = synth_bmp_blob(42, width=32, height=24)
        out = resize_bmp(blob, 8, 6)
        pix = _bmp_pixels(out)
        assert pix.shape == (6, 8, 3)
        # nearest-neighbor: every output pixel exists in the source
        src = _bmp_pixels(blob)
        yi = (np.arange(6) * 24) // 6
        xi = (np.arange(8) * 32) // 8
        assert np.array_equal(pix, src[yi][:, xi])

    def test_resize_images_operator(self, spark):
        from zcurve_spark.sources.media import _bmp_pixels, resize_images, synth_bmp_blob

        rows = [(f"m://img{i}", bytearray(synth_bmp_blob(i, width=16 + i, height=12 + i)))
                for i in range(8)]
        rows.append(("m://bad", bytearray(b"not an image")))
        df = spark.createDataFrame(rows, "media_ref string, blob binary")
        out = {r.media_ref: r for r in resize_images(df, 8, 8).collect()}
        assert len(out) == 9
        for i in range(8):
            r = out[f"m://img{i}"]
            assert (r.width, r.height) == (8, 8)
            assert _bmp_pixels(bytes(r.blob)).shape == (8, 8, 3)
        bad = out["m://bad"]
        assert (bad.width, bad.height) == (-1, -1)
        assert bytes(bad.blob) == b"not an image"

    def test_extract_features_dispatch_image(self, spark):
        from zcurve_spark.sources.media import (
            codec_decode,
            decode_bmp,
            extract_features,
            synth_bmp_blob,
        )

        rows = [(f"m://{i}", bytearray(synth_bmp_blob(i)), ("image", 32, 24, 0)) for i in range(6)]
        df = spark.createDataFrame(
            rows,
            "media_ref string, blob binary, meta struct<media_type:string,width:int,height:int,duration_ms:int>",
        )
        out = extract_features(df, decode_fn=codec_decode).toPandas()
        assert len(out) == 6
        for r in out.itertuples():
            i = int(r.media_ref.split("/")[-1])
            expect = decode_bmp(synth_bmp_blob(i))
            assert list(map(float, r.features)) == list(map(float, expect))


class TestPngCodec:
    def test_roundtrip_all_filter_types(self):
        """encode(filter f) -> decode must reproduce pixels exactly for
        every RFC 2083 filter type (None/Sub/Up/Average/Paeth)."""
        import numpy as np

        from zcurve_spark.sources.media import _png_pixels, png_encode, synth_png_blob

        pix = _png_pixels(synth_png_blob(7, width=20, height=13))
        for f in range(5):
            again = _png_pixels(png_encode(pix, filter_type=f))
            assert (again == pix).all(), f"filter {f}"

    def test_png_and_bmp_same_content_same_features(self):
        """synth_png_blob and synth_bmp_blob carry identical pixel
        content, so the decoded features must agree exactly."""
        import numpy as np

        from zcurve_spark.sources.media import decode_bmp, decode_png, synth_bmp_blob, synth_png_blob

        fb = decode_bmp(synth_bmp_blob(11))
        fp = decode_png(synth_png_blob(11))
        assert np.array_equal(fb, fp)

    def test_codec_dispatch_routes_png(self):
        import numpy as np

        from zcurve_spark.sources.media import codec_decode, decode_png, synth_png_blob

        b = synth_png_blob(3)
        assert np.array_equal(codec_decode(b, "image"), decode_png(b))

    def test_grayscale_and_rgba(self):
        import struct
        import zlib

        import numpy as np

        from zcurve_spark.sources.media import _PNG_SIG, _png_pixels

        def enc(pix, color):
            h, w = pix.shape[:2]
            ch = 1 if color == 0 else 4
            body = b"".join(b"\x00" + pix[y].tobytes() for y in range(h))
            def chunk(t, d):
                return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
            return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

        g = np.arange(24, dtype=np.uint8).reshape(4, 6)
        out = _png_pixels(enc(g, 0))
        assert out.shape == (4, 6, 3) and (out[:, :, 0] == g).all() and (out[:, :, 2] == g).all()

        rgba = np.arange(4 * 6 * 4, dtype=np.uint8).reshape(4, 6, 4)
        out = _png_pixels(enc(rgba, 6))
        assert out.shape == (4, 6, 3) and (out == rgba[:, :, :3]).all()

    def test_resize_images_handles_png_blobs(self, spark):
        import numpy as np

        from zcurve_spark.sources.media import _png_pixels, resize_images, synth_png_blob

        rows = [(f"m{i}", synth_png_blob(i, width=30, height=20)) for i in range(4)]
        df = spark.createDataFrame(rows, "media_ref string, blob binary")
        out = {r.media_ref: r for r in resize_images(df, 8, 8).collect()}
        for i in range(4):
            r = out[f"m{i}"]
            assert (r.width, r.height) == (8, 8)
            pix = _png_pixels(bytes(r.blob))
            # nearest-neighbor: every output pixel exists in the source
            src = _png_pixels(synth_png_blob(i, width=30, height=20))
            yi = (np.arange(8) * 20) // 8
            xi = (np.arange(8) * 30) // 8
            assert (pix == src[yi][:, xi]).all()


class TestAviCodec:
    def test_roundtrip_frames_exact(self):
        import numpy as np

        from zcurve_spark.sources.media import _avi_encode, _avi_frames, _bmp_pixels, synth_bmp_blob

        base = _bmp_pixels(synth_bmp_blob(5, width=20, height=12))
        frames = [np.roll(base, i, axis=0) for i in range(5)]
        blob = _avi_encode(frames, fps=4)
        got, uspf = _avi_frames(blob)
        assert uspf == 250_000
        assert got.shape == (5, 12, 20, 3)
        for i in range(5):
            assert (got[i] == frames[i]).all(), i

    def test_codec_dispatch_routes_avi(self):
        import numpy as np

        from zcurve_spark.sources.media import codec_decode, decode_avi, synth_avi_blob

        b = synth_avi_blob(9)
        f = codec_decode(b, "video")
        assert np.array_equal(f, decode_avi(b))
        assert f[0] == 8.0  # n_frames
        assert f[4] > 0  # motion energy: frames differ

    def test_frame_extract_bridges_to_image_path(self, spark):
        """Sampled AVI frames come out as REAL BMPs that the image path
        (resize) consumes unchanged."""
        import numpy as np

        from zcurve_spark.sources.media import (
            _avi_frames,
            _bmp_pixels,
            frame_extract,
            resize_images,
            synth_avi_blob,
        )

        blob = synth_avi_blob(3, width=24, height=16, n_frames=6, fps=10)  # 100ms/frame
        df = spark.createDataFrame([("v0", blob)], "media_ref string, blob binary")
        rows = frame_extract(df, every_ms=200).collect()
        # frames at 0,200,400ms -> idx 0,2,4
        assert [r.frame_idx for r in sorted(rows, key=lambda r: r.ts_ms)] == [0, 2, 4]
        src, _ = _avi_frames(blob)
        for r in rows:
            assert (_bmp_pixels(bytes(r.frame_bmp)) == src[r.frame_idx]).all()
        # feed extracted frames straight into the image resize operator
        frames_df = spark.createDataFrame(
            [(f"{r.media_ref}#{r.ts_ms}", bytes(r.frame_bmp)) for r in rows],
            "media_ref string, blob binary",
        )
        out = resize_images(frames_df, 8, 8).collect()
        assert all((o.width, o.height) == (8, 8) for o in out)


class TestMjpegAvi:
    """Motion-JPEG AVI is not decoded: only uncompressed DIB frames are,
    and an AVI declaring any other biCompression raises."""

    def test_unknown_compression_raises(self):
        import struct

        from zcurve_spark.sources.media import _avi_frames, synth_avi_blob

        dib = synth_avi_blob(1)
        strf = dib.find(b"strf")
        assert 0 < strf < 400
        at = strf + 8 + 16  # BITMAPINFOHEADER.biCompression
        assert dib[at : at + 4] == b"\x00\x00\x00\x00"
        for fourcc in (b"MJPG", b"H264"):
            blob = bytearray(dib)
            blob[at : at + 4] = struct.pack("<I", int.from_bytes(fourcc, "little"))
            with pytest.raises(ValueError, match="unsupported AVI compression"):
                _avi_frames(bytes(blob))
