"""Multimodal binary-column plumbing tests (north-star extension).

The codec is a deterministic fake (md5-digest stats) so every value here is
closed-form; the Spark-side plumbing — schema, Arrow batching, explosion,
partitioning — runs for real.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ihop_reddit_spark.datapipe.multimodal import (
    ASSET_SCHEMA,
    asset_byte_stats,
    extract_image_features,
    sample_frames,
    synthesize_assets,
)


@pytest.fixture(scope="module")
def assets(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(12)],
        "doc_id long, text string",
    )
    return synthesize_assets(docs).cache()


def _expected_stats(payload: bytes):
    digest = hashlib.md5(payload).digest()
    mean = sum(digest) / 16
    var = sum((b - mean) ** 2 for b in digest) / 16
    return mean, var**0.5


def test_asset_schema_and_kinds(assets):
    assert [(f.name, f.dataType.simpleString()) for f in assets.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in ASSET_SCHEMA.fields
    ]
    kinds = {r["kind"] for r in assets.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    img = assets.where(F.col("asset_id") == 3).head()
    assert img["kind"] == "image"  # 3 % 3 == 0 → first kind
    assert bytes(img["payload"]) == b"document number 3 body text"
    assert img["meta"]["channels"] == 3 and img["meta"]["n_frames"] == 1


def test_image_features_exact(assets):
    feats = {r["asset_id"]: r for r in extract_image_features(assets).collect()}
    images = assets.where(F.col("kind") == "image").collect()
    assert set(feats) == {r["asset_id"] for r in images}
    for row in images:
        mean, std = _expected_stats(bytes(row["payload"]))
        got = feats[row["asset_id"]]
        assert got["pixel_mean"] == pytest.approx(mean, abs=1e-12)
        assert got["pixel_std"] == pytest.approx(std, abs=1e-12)
        assert got["n_bytes"] == len(bytes(row["payload"]))
        assert got["width"] == row["meta"]["width"]


def test_real_decoder_is_marked_stub(assets):
    with pytest.raises(Exception) as exc:
        extract_image_features(assets, decode_fn="real").collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_frame_sampling_explodes_before_python(assets):
    frames = sample_frames(assets, every_n=4).collect()
    videos = assets.where(F.col("kind") == "video").collect()
    expected_n = sum(len(range(0, r["meta"]["n_frames"], 4)) for r in videos)
    assert len(frames) == expected_n
    # per-frame decode is keyed by (payload, frame_index) — distinct frames of
    # one video disagree, and values are the closed-form digest means
    by_key = {(r["asset_id"], r["frame_index"]): r["frame_mean"] for r in frames}
    v = videos[0]
    payload = bytes(v["payload"])
    for idx in range(0, v["meta"]["n_frames"], 4):
        mean, _ = _expected_stats(payload + idx.to_bytes(4, "big"))
        assert by_key[(v["asset_id"], idx)] == pytest.approx(mean, abs=1e-12)


def test_byte_stats_rollup(assets):
    stats = {r["kind"]: r for r in asset_byte_stats(assets).collect()}
    assert stats["video"]["sum_frames"] > stats["image"]["sum_frames"]
    rows = assets.collect()
    for kind in ("image", "audio", "video"):
        mine = [r for r in rows if r["kind"] == kind]
        assert stats[kind]["n_assets"] == len(mine)
        assert stats[kind]["sum_bytes"] == sum(len(bytes(r["payload"])) for r in mine)


def test_resize_images_payload_and_meta(assets):
    from ihop_reddit_spark.datapipe.multimodal import resize_images

    out = resize_images(assets, 8, 4).collect()
    srcs = {r["asset_id"]: r for r in assets.where(F.col("kind") == "image").collect()}
    assert {r["asset_id"] for r in out} == set(srcs)
    for r in out:
        c = srcs[r["asset_id"]]["meta"]["channels"]
        assert len(bytes(r["payload"])) == 8 * 4 * c
        assert (r["meta"]["width"], r["meta"]["height"]) == (8, 4)
        digest = hashlib.md5(bytes(srcs[r["asset_id"]]["payload"])).digest()
        expected = (digest * (8 * 4 * c // 16 + 1))[: 8 * 4 * c]
        assert bytes(r["payload"]) == expected


def test_resample_audio_payload_and_meta(assets):
    from ihop_reddit_spark.datapipe.multimodal import resample_audio

    out = resample_audio(assets, 8000).collect()
    srcs = {r["asset_id"]: r for r in assets.where(F.col("kind") == "audio").collect()}
    assert {r["asset_id"] for r in out} == set(srcs)
    for r in out:
        src = srcs[r["asset_id"]]
        n = len(bytes(src["payload"])) * 8000 // src["meta"]["sample_rate"]
        assert len(bytes(r["payload"])) == n
        assert r["meta"]["sample_rate"] == 8000
        # everything else in the struct carries through
        assert r["meta"]["width"] == src["meta"]["width"]
        assert r["kind"] == "audio"
        digest = hashlib.md5(bytes(src["payload"])).digest()
        assert bytes(r["payload"]) == (digest * (n // 16 + 1))[:n]


def test_resample_audio_real_codec_is_stub(assets):
    from ihop_reddit_spark.datapipe.multimodal import resample_audio

    with pytest.raises(Exception) as exc:
        resample_audio(assets, 8000, decode_fn="real").collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


# ---------------------------------------------------------------------------
# REAL dependency-free codecs (WAV PCM16 / BMP24)
# ---------------------------------------------------------------------------
def test_wav_round_trip_and_planted_rms(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_wav,
        synthesize_wav_assets,
        wav_bytes,
        wav_feature_stats,
    )

    # pure codec round-trip
    t = np.arange(800) / 800.0
    sig = 0.5 * np.sin(2 * np.pi * 7 * t)
    rate, back = decode_wav(wav_bytes(sig, 8000))
    assert rate == 8000 and len(back) == 800
    assert np.abs(back - sig).max() < 1e-3  # PCM16 quantization only

    # distributed decode: whole cycles → rms == A/√2 up to quantization
    ids = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    stats = wav_feature_stats(synthesize_wav_assets(ids)).collect()
    assert len(stats) == 20
    for r in stats:
        assert r["sample_rate"] == 8000 and r["n_samples"] == 800
        assert abs(r["duration_s"] - 0.1) < 1e-12
        assert abs(r["rms"] - 0.5 / 2**0.5) < 1e-3


def test_bmp_round_trip_and_planted_colors(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        bmp_bytes,
        decode_bmp,
        image_feature_stats,
        synthesize_bmp_assets,
    )

    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    assert np.array_equal(decode_bmp(bmp_bytes(px)), px)  # exact, any W%4

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    stats = {r["asset_id"]: r for r in
             image_feature_stats(synthesize_bmp_assets(ids)).collect()}
    for i in range(12):
        r = stats[i]
        assert (r["width"], r["height"]) == (16, 8 + i % 4)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
            float((37 * i) % 256), float((59 * i) % 256), float((83 * i) % 256)
        )


def test_png_round_trip_all_filters_and_planted_colors(spark):
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_image,
        decode_png,
        image_feature_stats,
        png_bytes,
        synthesize_png_assets,
    )

    # pseudorandom pixels, height ≥ 5 so filter cycling hits ALL five
    # types (None/Sub/Up/Average/Paeth) — round-trip must be bit-exact
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(11, 13, 3)).astype(np.uint8)
    assert np.array_equal(decode_png(png_bytes(px)), px)
    # filter-0-only payload decodes identically too
    assert np.array_equal(
        decode_png(png_bytes(px, cycle_filters=False)), px
    )

    # corrupted chunk body → CRC failure, not silent garbage pixels
    good = bytearray(png_bytes(px))
    good[40] ^= 0xFF  # inside IHDR/IDAT region
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))

    # magic dispatch: a lossy-WebP signature routes to the system
    # libwebp when installed (truncated garbage fails loudly there); in
    # library-less environments the marked deployment stub stands
    from ihop_reddit_spark.datapipe.webp_native import libwebp_available

    if libwebp_available():
        with pytest.raises(ValueError, match="libwebp"):
            decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    else:
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")

    # planted closed form through deflate + unfilter, distributed
    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    stats = {r["asset_id"]: r for r in
             image_feature_stats(synthesize_png_assets(ids)).collect()}
    for i in range(12):
        r = stats[i]
        assert (r["width"], r["height"]) == (16, 8 + i % 4)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
            float((37 * i) % 256), float((59 * i) % 256), float((83 * i) % 256)
        )


def test_png_grayscale_and_alpha_channels():
    """decode_png normalizes gray / gray+alpha / RGBA to H×W×3 RGB."""
    import struct
    import zlib

    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import decode_png

    def make_png(w, h, ctype, ch, raw_rows):
        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        body = b"".join(b"\x00" + r for r in raw_rows)  # filter 0 rows
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(body))
            + chunk(b"IEND", b"")
        )

    # grayscale (type 0): value replicated across RGB
    g = make_png(3, 2, 0, 1, [bytes([10, 20, 30]), bytes([40, 50, 60])])
    px = decode_png(g)
    assert px.shape == (2, 3, 3) and (px[0, 1] == [20, 20, 20]).all()
    # RGBA (type 6): alpha stripped
    rows = [bytes([1, 2, 3, 255, 4, 5, 6, 0])]
    px = decode_png(make_png(2, 1, 6, 4, rows))
    assert px.shape == (1, 2, 3)
    assert (px[0, 0] == [1, 2, 3]).all() and (px[0, 1] == [4, 5, 6]).all()
    # gray+alpha (type 4)
    px = decode_png(make_png(2, 1, 4, 2, [bytes([9, 255, 7, 128])]))
    assert (px[0, 0] == [9, 9, 9]).all() and (px[0, 1] == [7, 7, 7]).all()

    # palette (type 3, r6): indices map through PLTE
    import pytest

    def make_palette_png(w, h, rows, palette, *, drop_plte=False):
        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        body = b"".join(b"\x00" + r for r in rows)
        plte = chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
            + (b"" if drop_plte else plte)
            + chunk(b"IDAT", zlib.compress(body))
            + chunk(b"IEND", b"")
        )

    pal = [(255, 0, 0), (0, 128, 0), (0, 0, 64)]
    px = decode_png(
        make_palette_png(3, 2, [bytes([0, 1, 2]), bytes([2, 2, 0])], pal)
    )
    assert px.shape == (2, 3, 3)
    assert (px[0, 1] == [0, 128, 0]).all() and (px[1, 0] == [0, 0, 64]).all()
    # missing PLTE and out-of-range indices fail loudly
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(
            make_palette_png(1, 1, [bytes([0])], pal, drop_plte=True)
        )
    with pytest.raises(ValueError, match="palette index"):
        decode_png(make_palette_png(1, 1, [bytes([9])], pal))


def test_image_ahash_accepts_png_payloads(spark):
    """The dedup path is codec-agnostic: the same planted block pattern
    encoded as PNG hashes to the same bits as its BMP twin."""
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        _block_white,
        image_ahash,
        png_bytes,
    )

    def png_assets(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i in pdf["doc_id"].to_numpy():
                i = int(i)
                px = np.zeros((32, 32, 3), dtype=np.uint8)
                for by in range(8):
                    for bx in range(8):
                        if _block_white(i, bx, by):
                            px[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = 255
                rows.append((i, png_bytes(px)))
            yield pd.DataFrame(rows, columns=["asset_id", "payload"])

    base = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    assets = base.mapInPandas(png_assets, "asset_id long, payload binary")
    got = {r["asset_id"]: r["bits"] for r in image_ahash(assets).collect()}
    for i in range(4):
        assert got[i] == [
            _block_white(i, bx, by) for by in range(8) for bx in range(8)
        ]


def test_gif_lzw_fuzz_round_trip():
    """GIF-variant LZW: variable width, LSB-first, clear-on-overflow —
    fuzzed round-trips incl. single-symbol runs that drive the KwKwK
    special case and 12-bit dictionary overflow resets."""
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = np.random.RandomState(0)
    for trial in range(25):
        mcs = int(rng.randint(2, 9))
        n = int(rng.randint(1, 20000))
        idx = rng.randint(0, 1 << mcs, size=n)
        if trial % 3 == 0:
            idx = np.repeat(idx[: max(1, n // 50)], 50)[:n]
        if trial % 5 == 0:
            idx = np.zeros(n, dtype=np.int64)
        assert _lzw_decode(_lzw_encode(idx, mcs), mcs) == list(idx)


def test_gif_round_trip_and_planted_frames(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_gif,
        gif_bytes,
        gif_frame_stats,
        synthesize_gif_assets,
    )

    # random-palette animated round-trip
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, size=(4, 3)).astype(np.uint8)
    frames = [pal[rng.randint(0, 4, size=(13, 17))] for _ in range(3)]
    out = decode_gif(gif_bytes(frames))
    assert len(out) == 3
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))

    # distributed planted closed form: per-frame means exact
    ids = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    stats = gif_frame_stats(synthesize_gif_assets(ids)).collect()
    by_asset: dict = {}
    for r in stats:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for i in range(9):
        rows = sorted(by_asset[i], key=lambda r: r["frame_index"])
        assert len(rows) == 2 + i % 3
        for f, r in enumerate(rows):
            assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (
                float((37 * i + 11 * f) % 256),
                float((59 * i + 13 * f) % 256),
                float((83 * i + 17 * f) % 256),
            )


def test_gif_interlace_transparency_disposal():
    """Hand-crafted containers (independent of our encoder's choices)
    exercise the decoder paths the encoder never emits: interlaced row
    order, transparent-index skip, and disposal modes 2 (background) and
    3 (previous)."""
    import struct

    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        _lzw_encode,
        decode_gif,
    )

    def container(w, h, frames_spec, bg=0):
        # palette: 0=black, 1=white, 2=red, 3=green
        pal = b"\x00\x00\x00\xff\xff\xff\xff\x00\x00\x00\xff\x00"
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | 0x01, bg, 0)
        out += pal
        for idx, interlace, transparent, disposal in frames_spec:
            flags = (0x01 if transparent is not None else 0) | (disposal << 2)
            out += b"\x21\xf9\x04" + bytes([flags, 0, 0,
                                            transparent or 0]) + b"\x00"
            out += b"\x2c" + struct.pack(
                "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
            )
            out.append(2)  # min code size
            data = _lzw_encode(np.asarray(idx).reshape(-1), 2)
            for i in range(0, len(data), 255):
                out.append(len(data[i : i + 255]))
                out += data[i : i + 255]
            out.append(0)
        out.append(0x3B)
        return bytes(out)

    # interlace: 5 rows painted with their ROW index value in
    # sequential order must come back deinterlaced (passes 0,8/4/2/1 →
    # storage order rows 0,4,2,1,3)
    rows = np.array(
        [[r] * 3 for r in (0, 1, 2, 3, 1)], dtype=np.int64
    )  # values ≤ 3 (palette size)
    stored = rows[[0, 4, 2, 1, 3]]  # what an interlacing encoder writes
    f = decode_gif(container(3, 5, [(stored, True, None, 0)]))[0]
    pal = np.array(
        [[0, 0, 0], [255, 255, 255], [255, 0, 0], [0, 255, 0]], np.uint8
    )
    assert np.array_equal(f, pal[rows])

    # transparency: frame1 all red (disposal 0 = keep); frame2
    # all-transparent → rendered frame2 still shows red
    red = np.full((2, 2), 2, np.int64)
    trans = np.full((2, 2), 1, np.int64)  # index 1, marked transparent
    frames = decode_gif(
        container(
            2, 2,
            [(red, False, None, 0), (trans, False, 1, 0)],
            bg=1,
        )
    )
    assert np.array_equal(frames[0], np.full((2, 2, 3), [255, 0, 0]))
    assert np.array_equal(frames[1], frames[0])  # transparent keeps red

    # disposal 3 (restore previous): after showing red frame1, the
    # canvas reverts to the pre-frame1 state (white background), so a
    # transparent frame2 renders white
    frames = decode_gif(
        container(
            2, 2,
            [(red, False, None, 3), (trans, False, 1, 0)],
            bg=1,
        )
    )
    assert np.array_equal(frames[0], np.full((2, 2, 3), [255, 0, 0]))
    assert np.array_equal(frames[1], np.full((2, 2, 3), 255))

    # disposal 2: restore to background color after the frame
    frames = decode_gif(
        container(
            2, 2,
            [(red, False, None, 2), (trans, False, 1, 0)],
            bg=1,
        )
    )
    assert np.array_equal(frames[0], np.full((2, 2, 3), [255, 0, 0]))
    assert np.array_equal(frames[1], np.full((2, 2, 3), 255))


def test_gif_frame_ahash_and_image_dispatch(spark):
    """Per-frame aHash through the real GIF codec matches the planted
    block pattern, and decode_image() serves GIF first frames into the
    shared image path."""
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        _block_white,
        decode_image,
        gif_bytes,
        gif_frame_ahash,
    )

    def block_frame(i, f):
        px = np.zeros((32, 32, 3), dtype=np.uint8)
        for by in range(8):
            for bx in range(8):
                if (i * 7 + f * 19 + bx * 3 + by * 5) % 11 < 5:
                    px[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = 255
        return px

    def gen(it):
        import pandas as pd

        for pdf in it:
            rows = [
                (
                    int(i),
                    gif_bytes([block_frame(int(i), f) for f in range(3)]),
                )
                for i in pdf["doc_id"].to_numpy()
            ]
            yield pd.DataFrame(rows, columns=["asset_id", "payload"])

    base = spark.createDataFrame([(i,) for i in range(3)], ["doc_id"])
    assets = base.mapInPandas(gen, "asset_id long, payload binary")
    got = {
        (r["asset_id"], r["frame_index"]): r["bits"]
        for r in gif_frame_ahash(assets).collect()
    }
    for i in range(3):
        for f in range(3):
            expected = [
                (i * 7 + f * 19 + bx * 3 + by * 5) % 11 < 5
                for by in range(8)
                for bx in range(8)
            ]
            assert got[(i, f)] == expected

    # magic dispatch → first frame
    px0 = block_frame(1, 0)
    assert np.array_equal(
        decode_image(gif_bytes([px0, block_frame(1, 1)])), px0
    )


def test_image_ahash_through_real_codec(spark):
    from ihop_reddit_spark.datapipe.multimodal import (
        _block_white,
        ahash_hamming,
        image_ahash,
        synthesize_block_bmp_assets,
    )

    base = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    hashes = image_ahash(synthesize_block_bmp_assets(base))
    got = {r["asset_id"]: r["bits"] for r in hashes.collect()}
    # engine bits (via encode->decode->luma->threshold) == planted pattern
    for i in range(6):
        expected = [
            _block_white(i, bx, by) for by in range(8) for bx in range(8)
        ]
        assert got[i] == expected
        # the near-dup differs only in the forced-white (0,0) block
        diff = [a != b for a, b in zip(got[i], got[i + 100_000])]
        assert sum(diff) == (0 if _block_white(i, 0, 0) else 1)

    # hamming operator: self-distance 0
    pairs = base.select(
        F.col("doc_id").alias("left_id"),
        F.col("doc_id").alias("right_id"),
    )
    out = ahash_hamming(pairs, hashes)
    assert all(r["hamming"] == 0 for r in out.collect())


def test_image_ahash_accepts_jpeg_payloads(spark):
    """JPEG payloads flow the same decode_image → aHash near-dup path as
    PNG/BMP/GIF (r6): a black/white block pattern survives the DC-step-8
    round trip, so the planted aHash bits come out exactly."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import QUANT_DC8, jpeg_bytes
    from ihop_reddit_spark.datapipe.multimodal import image_ahash

    def pattern_px(i):
        # 8×8 blocks of 0/255 keyed off (i, bx, by) — DC-only, exact
        blocks = np.array(
            [[255 if (i + bx + by) % 2 == 0 else 0 for bx in range(8)]
             for by in range(8)],
            dtype=np.uint8,
        )
        return np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)

    import pandas as pd

    rows = [
        (i, bytearray(jpeg_bytes(pattern_px(i), quant_luma=QUANT_DC8)))
        for i in range(4)
    ]
    assets = spark.createDataFrame(
        pd.DataFrame(rows, columns=["asset_id", "payload"])
    )
    got = {r["asset_id"]: r["bits"] for r in image_ahash(assets).collect()}
    for i in range(4):
        expected = [
            (i + bx + by) % 2 == 0 for by in range(8) for bx in range(8)
        ]
        assert got[i] == expected


def test_audio_envelope_hash_through_real_codec(spark):
    from ihop_reddit_spark.datapipe.multimodal import (
        _segment_loud,
        audio_envelope_hash,
        synthesize_envelope_wav_assets,
    )

    base = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    hashes = audio_envelope_hash(
        synthesize_envelope_wav_assets(base)
    )
    got = {r["asset_id"]: r["bits"] for r in hashes.collect()}
    for i in range(4):
        expected = [_segment_loud(i, s) for s in range(64)]
        assert got[i] == expected
        diff = sum(
            a != b for a, b in zip(got[i], got[i + 100_000])
        )
        assert diff == (0 if _segment_loud(i, 0) else 1)


def test_video_frames_slice_jvm_side_and_decode(spark):
    from ihop_reddit_spark.datapipe.multimodal import (
        VIDEO_FRAME_BYTES,
        _video_block_white,
        decode_bmp,
        image_ahash,
        synthesize_block_video_assets,
        video_frames,
    )

    base = spark.createDataFrame([(0,), (3,)], ["doc_id"])
    assets = synthesize_block_video_assets(base, frames=4)
    fr = video_frames(assets)
    rows = fr.collect()
    # 2 ids × (base + dup) × 4 frames
    assert len(rows) == 16
    assert all(len(bytes(r["payload"])) == VIDEO_FRAME_BYTES for r in rows)
    # every sliced frame is an independently decodable BMP
    px = decode_bmp(bytes(rows[0]["payload"]))
    assert px.shape == (32, 32, 3)
    # per-frame hash equals the planted pattern; dup's frame 0 all-white
    fh = image_ahash(
        fr.select(
            (F.col("asset_id") * 100 + F.col("frame_index"))
            .alias("asset_id"),
            "payload",
        )
    )
    got = {r["asset_id"]: r["bits"] for r in fh.collect()}
    for i in (0, 3):
        for f in range(4):
            expected = [
                _video_block_white(i, f, bx, by)
                for by in range(8) for bx in range(8)
            ]
            assert got[i * 100 + f] == expected
        assert all(got[(i + 100_000) * 100 + 0])  # all-white bumper
        assert got[(i + 100_000) * 100 + 1] == got[i * 100 + 1]


def test_video_frames_short_payload_yields_no_frames(spark):
    from ihop_reddit_spark.datapipe.multimodal import video_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"tiny")), (2, bytearray(b""))],
        "asset_id long, payload binary",
    )
    assert video_frames(df).count() == 0


# ---------------------------------------------------------------------------
# Baseline JPEG codec (datapipe/jpeg_codec — round 6)
# ---------------------------------------------------------------------------
def test_jpeg_solid_blocks_exact_with_dc8_table():
    """Constant 8×8 blocks round-trip BIT-EXACTLY under the DC-step-8
    table: DC of a constant block is 8·(v−128), an exact multiple of 8,
    so quantization is lossless and IDCT reconstructs the plane."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import (
        QUANT_DC8,
        decode_jpeg,
        jpeg_bytes,
    )

    rng = np.random.RandomState(11)
    for _ in range(4):
        vals = rng.randint(0, 256, size=(3, 2))
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
        out = decode_jpeg(jpeg_bytes(px, quant_luma=QUANT_DC8))
        assert np.array_equal(out, np.repeat(px[:, :, None], 3, axis=2))


def test_jpeg_rgb_444_near_lossless_with_unit_quant():
    """All-ones quantization leaves only DCT-coefficient rounding: random
    RGB content (full AC Huffman path — runs, ZRL, every magnitude
    category) survives within a few counts per channel."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import decode_jpeg, jpeg_bytes

    rng = np.random.RandomState(23)
    ones = np.ones((8, 8), dtype=np.int64)
    px = rng.randint(0, 256, size=(24, 40, 3)).astype(np.uint8)
    out = decode_jpeg(jpeg_bytes(px, quant_luma=ones, quant_chroma=ones))
    assert out.shape == px.shape
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 6


def test_jpeg_420_subsampling_and_odd_sizes():
    """4:2:0 chroma: smooth gradients survive subsample+upsample; odd
    (non-multiple-of-8/16) dimensions crop back exactly."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import decode_jpeg, jpeg_bytes

    y, x = np.mgrid[0:21, 0:35]
    px = np.stack(
        [(y * 3) % 256, (x * 2) % 256, ((x + y) * 2) % 256], axis=2
    ).astype(np.uint8)
    out = decode_jpeg(jpeg_bytes(px, subsampling="420"))
    assert out.shape == (21, 35, 3)
    assert np.abs(out.astype(int) - px.astype(int)).mean() < 20


def test_jpeg_restart_intervals():
    """DRI + RSTn markers: predictors reset per segment, decode matches
    the no-restart stream's pixels exactly (same coefficients)."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import decode_jpeg, jpeg_bytes

    rng = np.random.RandomState(5)
    ones = np.ones((8, 8), dtype=np.int64)
    px = rng.randint(0, 256, size=(32, 24)).astype(np.uint8)
    plain = decode_jpeg(jpeg_bytes(px, quant_luma=ones))
    restarted = jpeg_bytes(px, quant_luma=ones, restart_interval=3)
    assert b"\xff\xdd" in restarted and b"\xff\xd0" in restarted
    assert np.array_equal(decode_jpeg(restarted), plain)


def test_jpeg_hierarchical_is_marked_stub_and_fake_sof2_is_loud():
    import numpy as np
    import pytest as _pytest

    from ihop_reddit_spark.datapipe.jpeg_codec import decode_jpeg, jpeg_bytes

    px = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(jpeg_bytes(px))
    i = data.find(b"\xff\xc0")
    # lossless/hierarchical (SOF3) stays the marked libjpeg boundary
    data[i + 1] = 0xC3
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))
    # a BASELINE stream relabeled SOF2 is a malformed progressive scan
    # (Se=63 on a DC scan) — loud ValueError, never silent garbage
    data[i + 1] = 0xC2
    with _pytest.raises(ValueError, match="Se"):
        decode_jpeg(bytes(data))
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_jpeg_progressive_decodes_identically_to_baseline():
    """SOF2 decodes for REAL (r10): the progressive writer emits the
    same quantized coefficients through a DC-first + DC-refinement +
    per-component AC scan script, so progressive and baseline encodes
    of the same pixels must decode bit-identically — gray, 4:4:4 and
    4:2:0, odd sizes."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import decode_jpeg, jpeg_bytes

    rng = np.random.RandomState(11)
    for shape in ((16, 16), (24, 17), (8, 8)):
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert (
            decode_jpeg(jpeg_bytes(px, progressive=True))
            == decode_jpeg(jpeg_bytes(px))
        ).all()
    for sub in ("444", "420"):
        for shape in ((16, 16, 3), (19, 22, 3)):
            px = rng.randint(0, 256, size=shape).astype(np.uint8)
            assert (
                decode_jpeg(jpeg_bytes(px, subsampling=sub, progressive=True))
                == decode_jpeg(jpeg_bytes(px, subsampling=sub))
            ).all()


def test_jpeg_progressive_ac_refinement_hand_built():
    """The AC successive-approximation REFINEMENT path (which the
    in-tree writer does not emit) driven by a hand-built stream: an
    Al=1 first AC scan plants a coefficient, the Ah=1 refinement scan
    must apply a correction bit to it, insert a new ±1 past a skipped
    zero-history position, and honor EOBRUN for the tail."""
    import struct

    import numpy as np

    from ihop_reddit_spark.datapipe import jpeg_codec as J

    dc_codes = J._canonical_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac_codes = J._canonical_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1)
    out += bytes([1, 0x11, 0])
    for cls, bits, vals in (
        (0, J._DC_LUMA_BITS, J._DC_LUMA_VALS),
        (1, J._AC_LUMA_BITS, J._AC_LUMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(vals))
        out += bytes([cls << 4]) + bytes(bits) + bytes(vals)

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    # scan A: DC first (Al=0), dc = 0 → category 0, no amplitude
    out += sos(0, 0, 0, 0)
    w = J._BitWriter()
    c, l = dc_codes[0]
    w.write(c, l)
    w.flush()
    out += w.out
    # scan B: AC first at Al=1 — zz[1] = extend(3, s=2) << 1 = 6, EOB
    out += sos(1, 63, 0, 1)
    w = J._BitWriter()
    c, l = ac_codes[0x02]
    w.write(c, l)
    w.write(3, 2)
    c, l = ac_codes[0x00]
    w.write(c, l)
    w.flush()
    out += w.out
    # scan C: AC refinement (Ah=1, Al=0) — RS=0x11 (skip ONE zero-history
    # position, insert ±1), sign=1 (+1), correction bit 1 for zz[1]
    # (6 -> 7), placement lands at zz[3]; then EOBRUN for the tail
    out += sos(1, 63, 1, 0)
    w = J._BitWriter()
    c, l = ac_codes[0x11]
    w.write(c, l)
    w.write(1, 1)  # sign: positive
    w.write(1, 1)  # correction bit for the nonzero history coeff zz[1]
    c, l = ac_codes[0x00]
    w.write(c, l)  # EOBRUN = 1 (covers the rest of this block)
    w.flush()
    out += w.out
    out += b"\xff\xd9"

    got = J.decode_jpeg(bytes(out))
    # expected: zigzag coefficients [0, 7, 0, 1, 0, ...] through the
    # same dequant(1) + IDCT the baseline gate already pins
    zz = np.zeros(64, dtype=np.float64)
    zz[1] = 7
    zz[3] = 1
    nat = np.zeros(64, dtype=np.float64)
    nat[J.ZIGZAG] = zz
    block = nat.reshape(8, 8)
    spatial = J._DCT.T @ block @ J._DCT + 128.0
    want = np.clip(np.round(spatial), 0, 255).astype(np.uint8)
    assert (got == np.repeat(want[..., None], 3, axis=2)).all()


def test_decode_image_dispatches_jpeg_and_real_asset_features(spark):
    """decode_image routes FFD8 payloads through the real JPEG decoder;
    synthesize_real_image_assets' four formats all yield the planted
    per-channel means through ONE image_feature_stats pass."""
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import QUANT_DC8, jpeg_bytes
    from ihop_reddit_spark.datapipe.multimodal import (
        decode_image,
        image_feature_stats,
        synthesize_real_image_assets,
    )

    gray = np.full((16, 16), 200, dtype=np.uint8)
    px = decode_image(jpeg_bytes(gray, quant_luma=QUANT_DC8))
    assert px.shape == (16, 16, 3) and np.all(px == 200)

    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    rows = image_feature_stats(
        synthesize_real_image_assets(docs)
    ).collect()
    assert len(rows) == 8
    for r in rows:
        i = r["asset_id"]
        if i % 4 == 3:  # grayscale JPEG
            exp = ((37 * i) % 256,) * 3
        else:
            exp = ((37 * i) % 256, (59 * i) % 256, (83 * i) % 256)
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == exp
        assert r["width"] == 16
        assert r["height"] == (16 if i % 4 == 2 else 8 + i % 4)


def test_png_adam7_interlace_and_16bit_depth():
    """Adam7 (r6): seven independently-filtered sub-images scatter back
    bit-exactly; 16-bit samples scale to 8 via the high byte; sub-byte
    depths remain the marked stub."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.multimodal import decode_png

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    def png(w, h, depth, ctype, interlace, body):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR",
                    struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                                interlace))
            + chunk(b"IDAT", zlib.compress(bytes(body)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(3)
    w, h = 9, 10
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    body = bytearray()
    for x0, xs, y0, ys in ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8),
                           (2, 4, 0, 4), (0, 2, 2, 4), (1, 2, 0, 2),
                           (0, 1, 1, 2)):
        sub = px[y0::ys, x0::xs]
        for row in sub:
            body += b"\x00" + row.tobytes()
    assert np.array_equal(decode_png(png(w, h, 8, 2, 1, body)), px)

    g16 = rng.randint(0, 65536, size=(3, 4)).astype(">u2")
    body = b"".join(b"\x00" + row.tobytes() for row in g16)
    out = decode_png(png(4, 3, 16, 0, 0, body))
    assert np.array_equal(out[:, :, 0], (g16 >> 8).astype(np.uint8))
    assert np.array_equal(out[:, :, 0], out[:, :, 2])

    # sub-byte depths decode for REAL now (r10): 4-bit gray, MSB-first
    # packed, rescaled exactly (v * 17); filter byte 0 + 4 data bytes
    out = decode_png(png(8, 1, 4, 0, 0, bytes([0, 0x0F, 0x28, 0x5A, 0xC3])))
    want4 = np.array([0x0, 0xF, 0x2, 0x8, 0x5, 0xA, 0xC, 0x3]) * 17
    assert np.array_equal(out[0, :, 0], want4.astype(np.uint8))
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    # 1-bit gray with a SUB filter (byte-distance filtering): row of
    # 16 pixels = 2 bytes; second byte stored as delta to the first
    row = bytes([1, 0b10110010, (0b01011101 - 0b10110010) % 256])
    out = decode_png(png(16, 1, 1, 0, 0, row))
    bits = [int(b) * 255 for b in "1011001001011101"]
    assert np.array_equal(out[0, :, 0], np.array(bits, np.uint8))
    # 2-bit PALETTE indices (no rescale — straight PLTE lookup)
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 7, 7])
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 1, 2, 3, 0, 0, 0))
        + chunk(b"PLTE", pal)
        + chunk(b"IDAT", zlib.compress(bytes([0, 0b00011011])))
        + chunk(b"IEND", b"")
    )
    out = decode_png(blob)
    assert np.array_equal(
        out[0],
        np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 7, 7]], np.uint8),
    )
    # invalid header stays loud (16-bit palette is illegal, not a stub)
    with pytest.raises(ValueError):
        decode_png(png(8, 1, 3, 0, 0, b"\x00\x00"))


# ---------------------------------------------------------------------------
# AVI/MJPEG container (datapipe/avi)
# ---------------------------------------------------------------------------
def _planted_jpeg_frames(i: int, n: int, size: int = 16):
    import numpy as np

    from ihop_reddit_spark.datapipe.jpeg_codec import QUANT_DC8, jpeg_bytes

    frames = []
    for f in range(n):
        vals = np.array(
            [[(37 * i + 80 * k + 71 * f) % 256 for k in (0, 1)],
             [(37 * i + 80 * k + 71 * f) % 256 for k in (2, 3)]],
            dtype=np.uint8,
        )
        px = np.repeat(np.repeat(vals, size // 2, axis=0), size // 2, axis=1)
        frames.append(jpeg_bytes(px, quant_luma=QUANT_DC8))
    return frames


def test_avi_round_trip_and_strict_validation():
    import struct

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.avi import (
        avi_bytes,
        decode_avi,
        parse_avi,
    )

    frames = _planted_jpeg_frames(5, 3)
    payload = avi_bytes(frames, width=16, height=16, fps=10)

    # deterministic writer + lossless frame recovery through the walk
    assert avi_bytes(frames, width=16, height=16, fps=10) == payload
    avi = parse_avi(payload)
    assert (avi.width, avi.height, avi.fps, avi.n_frames) == (16, 16, 10.0, 3)
    assert avi.frames == frames

    # planted pixels decode exactly through per-frame baseline JPEG
    _avi, pxs = decode_avi(payload)
    for f, px in enumerate(pxs):
        vals = np.array(
            [[(37 * 5 + 80 * k + 71 * f) % 256 for k in (0, 1)],
             [(37 * 5 + 80 * k + 71 * f) % 256 for k in (2, 3)]],
            dtype=np.uint8,
        )
        want = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        assert px.shape == (16, 16, 3)
        assert all(np.array_equal(px[:, :, c], want) for c in range(3))

    # truncation fails loudly
    with pytest.raises(ValueError, match="RIFF declares"):
        parse_avi(payload[: len(payload) // 2])
    # not an AVI form (e.g. a WAV RIFF)
    with pytest.raises(ValueError, match="not 'AVI '"):
        parse_avi(payload[:8] + b"WAVE" + payload[12:])

    # idx1 size corruption is caught
    bad = bytearray(payload)
    i = payload.rindex(b"idx1")
    bad[i + 16 : i + 20] = struct.pack("<I", 999)
    with pytest.raises(ValueError, match="idx1 offset 999"):
        parse_avi(bytes(bad))

    # frame-count disagreement (patched avih.dwTotalFrames) is caught
    bad = bytearray(payload)
    i = payload.index(b"avih") + 8 + 16
    bad[i : i + 4] = struct.pack("<I", 7)
    with pytest.raises(ValueError, match="frame-count disagreement"):
        parse_avi(bytes(bad))

    # non-MJPG handler is the marked libav stub boundary
    bad = bytearray(payload)
    i = payload.index(b"strh") + 8 + 4
    bad[i : i + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPG"):
        parse_avi(bytes(bad))

    # legacy absolute-offset idx1 convention is accepted
    movi_pos = payload.index(b"movi")
    alt = bytearray(payload)
    i = payload.rindex(b"idx1") + 8
    n_entries = struct.unpack_from("<I", payload, payload.rindex(b"idx1") + 4)[0] // 16
    for e in range(n_entries):
        off = struct.unpack_from("<I", alt, i + e * 16 + 8)[0]
        struct.pack_into("<I", alt, i + e * 16 + 8, off + movi_pos)
    assert parse_avi(bytes(alt)).frames == frames


def test_avi_planted_frames_distributed(spark):
    from ihop_reddit_spark.datapipe.multimodal import (
        avi_frame_stats,
        synthesize_avi_assets,
    )

    ids = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    stats = avi_frame_stats(synthesize_avi_assets(ids)).collect()
    by_asset: dict = {}
    for r in stats:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for i in range(9):
        rows = sorted(by_asset[i], key=lambda r: r["frame_index"])
        assert len(rows) == 2 + i % 3
        for f, r in enumerate(rows):
            want = sum((37 * i + 80 * k + 71 * f) % 256 for k in range(4)) / 4
            assert (r["width"], r["height"]) == (16, 16)
            assert r["mean_r"] == r["mean_g"] == r["mean_b"] == want


def test_avi_frame_ahash(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.avi import decode_avi
    from ihop_reddit_spark.datapipe.multimodal import (
        _ahash_bits,
        avi_frame_ahash,
        synthesize_avi_assets,
    )

    ids = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    assets = synthesize_avi_assets(ids)
    hashed = {
        (r["asset_id"], r["frame_index"]): r["bits"]
        for r in avi_frame_ahash(assets).collect()
    }
    for r in assets.collect():
        _avi, pxs = decode_avi(bytes(r["payload"]))
        for f, px in enumerate(pxs):
            assert hashed[(r["asset_id"], f)] == _ahash_bits(px, 8)
            assert len(hashed[(r["asset_id"], f)]) == 64


# ---------------------------------------------------------------------------
# G.711 μ-law / A-law (telephony WAV)
# ---------------------------------------------------------------------------
def test_g711_tables_round_trip_and_container():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_wav,
        decode_wav_g711,
        g711_compress,
        g711_expand,
        g711_wav_bytes,
    )

    codes = np.arange(256, dtype=np.uint8)
    for law, full_scale in (("mulaw", 32124), ("alaw", 32256)):
        lin = g711_expand(codes, law)
        # 16-bit-scale range and zero representation exist
        assert lin.min() == -full_scale and lin.max() == full_scale
        # compress is the exact inverse on the decode table's values
        assert (g711_expand(g711_compress(lin, law), law) == lin).all()
        # nearest-code quantization for arbitrary linears
        x = np.array([-30000, -1, 0, 1, 7, 100, 30000])
        q = g711_expand(g711_compress(x, law), law)
        assert (np.abs(q - x) <= np.abs(lin[:, None] - x).min(axis=0)).all()

        # container round-trip: fact chunk skipped, odd data length padded
        for n in (240, 241):
            wav = g711_wav_bytes(codes[:n], 8000, law)
            assert len(wav) % 2 == 0
            rate, law2, lin2 = decode_wav_g711(wav)
            assert (rate, law2) == (8000, law)
            assert (lin2 == lin[:n]).all()
            # generic float path normalizes into [-1, 1]
            _, f = decode_wav(wav)
            assert np.abs(f).max() <= 1.0

    # G.711 payloads are rejected by the exact-int surface if PCM
    from ihop_reddit_spark.datapipe.multimodal import wav_bytes

    with pytest.raises(ValueError, match="not a mono G.711"):
        decode_wav_g711(wav_bytes(np.zeros(8), 8000))


def test_g711_planted_assets_distributed(spark):
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        g711_expand,
        g711_feature_stats,
        synthesize_g711_assets,
    )

    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    rows = {
        r["asset_id"]: r
        for r in g711_feature_stats(synthesize_g711_assets(ids)).collect()
    }
    n = np.arange(240, dtype=np.int64)
    for i in range(8):
        law = "mulaw" if i % 2 == 0 else "alaw"
        want = int(g711_expand(((31 * i + 7 * n) % 256), law).sum())
        r = rows[i]
        assert (r["law"], r["sample_rate"], r["n_samples"]) == (law, 8000, 240)
        assert r["sum_linear"] == want


def test_mp4_round_trip_and_strict_validation():
    """MP4 writer → demuxer → JPEG decode round-trip: sample payloads
    recover byte-exact through the two-per-chunk stsc/stco walk for
    every sample count parity; corruption fails loudly; compressed
    codecs demux but hit the honest libav stub at decode."""
    import struct

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.jpeg_codec import QUANT_DC8, jpeg_bytes
    from ihop_reddit_spark.datapipe.mp4 import (
        decode_mp4,
        mp4_bytes,
        parse_mp4,
    )

    def planted(i, f, size=16):
        vals = np.array(
            [[(41 * i + 80 * 0 + 67 * f) % 256, (41 * i + 80 * 1 + 67 * f) % 256],
             [(41 * i + 80 * 2 + 67 * f) % 256, (41 * i + 80 * 3 + 67 * f) % 256]],
            dtype=np.uint8,
        )
        return np.repeat(np.repeat(vals, size // 2, 0), size // 2, 1)

    for n in (1, 2, 3, 4, 5):  # odd and even chunking, single-sample track
        frames = [
            jpeg_bytes(planted(7, f), quant_luma=QUANT_DC8) for f in range(n)
        ]
        blob = mp4_bytes(frames, width=16, height=16, fps=10)
        assert blob == mp4_bytes(frames, width=16, height=16, fps=10)
        m = parse_mp4(blob)
        assert (m.codec, m.width, m.height, m.fps, m.n_samples) == (
            "jpeg", 16, 16, 10.0, n,
        )
        assert m.samples == frames
        _m, decoded = decode_mp4(blob)
        for f, px in enumerate(decoded):
            assert (px == np.repeat(planted(7, f)[..., None], 3, axis=2)).all()

    frames = [jpeg_bytes(planted(3, f), quant_luma=QUANT_DC8) for f in range(3)]
    blob = mp4_bytes(frames, width=16, height=16, fps=10)
    # truncation: a box escapes its container
    with pytest.raises(ValueError, match="escapes|truncated"):
        parse_mp4(blob[:-20])
    # not an MP4
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(b"\x00\x00\x00\x08free" * 4)
    # sample-count disagreement between stts and stsz fails loudly
    stts_at = blob.find(b"stts")
    corrupted = bytearray(blob)
    # stts payload: version/flags(4) entry_count(4) count(4) delta(4)
    count_off = stts_at + 4 + 4 + 4
    (cnt,) = struct.unpack(">I", corrupted[count_off : count_off + 4])
    corrupted[count_off : count_off + 4] = struct.pack(">I", cnt + 1)
    with pytest.raises(ValueError, match="mismatch"):
        parse_mp4(bytes(corrupted))
    # a compressed sample entry demuxes but refuses to fake a decode
    swapped = blob.replace(b"\x00\x00\x00Vjpeg", b"\x00\x00\x00Vavc1")
    assert parse_mp4(swapped).codec == "avc1"
    with pytest.raises(NotImplementedError, match="libav"):
        decode_mp4(swapped)


def test_mp4_planted_frames_distributed(spark):
    """The Arrow-batched gate surface: planted MP4 assets decode to the
    exact closed-form means, per frame, through mapInPandas."""
    from ihop_reddit_spark.datapipe.multimodal import (
        mp4_frame_stats,
        synthesize_mp4_assets,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 5, 17)], "doc_id long")
    rows = mp4_frame_stats(synthesize_mp4_assets(ids)).collect()
    assert len(rows) == sum(2 + i % 3 for i in (0, 5, 17))
    for r in rows:
        i, f = r["asset_id"], r["frame_index"]
        want = sum((41 * i + 80 * k + 67 * f) % 256 for k in range(4)) / 4
        assert (r["width"], r["height"]) == (16, 16)
        assert r["mean_r"] == r["mean_g"] == r["mean_b"] == want


def test_webp_vp8l_round_trips_and_validation():
    """VP8L writer → decoder round-trips across code forms (simple ≤2
    distinct / canonical via the code-length code), subtract-green,
    odd geometries; corruption and the lossy half fail loudly."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.webp import (
        decode_webp,
        parse_webp,
        webp_bytes,
    )

    # simple codes (2 distinct per channel)
    px = np.full((16, 16, 3), 200, np.uint8)
    px[::2, ::2] = 40
    px[1::2, 1::2] = 40
    assert (decode_webp(webp_bytes(px)) == px).all()
    # canonical codes (4 distinct), deterministic bytes
    vals = np.array([[13, 93], [173, 253]], np.uint8)
    px4 = np.repeat(np.repeat(np.repeat(vals, 8, 0), 8, 1)[..., None], 3, 2)
    blob4 = webp_bytes(px4)
    assert blob4 == webp_bytes(px4)
    assert parse_webp(blob4) == (16, 16, False)
    assert (decode_webp(blob4) == px4).all()
    # dense many-symbol channels + subtract-green transform inverse
    rng = np.arange(16 * 16 * 3, dtype=np.uint32)
    pxr = ((rng * 2654435761) >> 16).astype(np.uint8).reshape(16, 16, 3)
    assert (decode_webp(webp_bytes(pxr)) == pxr).all()
    pxc = pxr.copy()
    pxc[:, :, 0] = (pxc[:, :, 1].astype(int) + 30) % 256
    assert (decode_webp(webp_bytes(pxc, subtract_green=True)) == pxc).all()
    # odd geometry, single pixel, single row
    po = ((np.arange(7 * 13 * 3, dtype=np.uint32) * 131) % 251).astype(
        np.uint8
    ).reshape(7, 13, 3)
    assert (decode_webp(webp_bytes(po)) == po).all()
    assert (
        decode_webp(webp_bytes(np.array([[[9, 8, 7]]], np.uint8)))
        == [[[9, 8, 7]]]
    ).all()
    # truncation and signature failures are loud
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(blob4[:-5])
    with pytest.raises(ValueError, match="RIFF"):
        parse_webp(b"nope" * 8)
    # the lossy half: system libwebp when installed (a VP8L payload
    # relabeled VP8 is a corrupt lossy stream — loud ValueError), the
    # marked stub otherwise
    from ihop_reddit_spark.datapipe.webp_native import libwebp_available

    lossy = bytearray(blob4)
    lossy[12:16] = b"VP8 "
    if libwebp_available():
        with pytest.raises(ValueError, match="libwebp"):
            parse_webp(bytes(lossy))
    else:
        with pytest.raises(NotImplementedError, match="lossless"):
            parse_webp(bytes(lossy))


def test_webp_vp8l_lz77_and_color_cache_decode():
    """Decoder paths no in-tree writer emits, driven by a hand-built
    bitstream: a literal, an LZ77 backward reference through the 2D
    distance map, and a color-cache hit must reconstruct exactly."""
    import struct

    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    P = (0xFF << 24) | (10 << 16) | (20 << 8) | 30  # ARGB literal
    cache_bits = 4
    cache_idx = (0x1E35A7BD * P & 0xFFFFFFFF) >> (32 - cache_bits)

    bw = W._BitWriter()
    bw.write(4 - 1, 14)  # width 4
    bw.write(0, 14)  # height 1
    bw.write(0, 1)  # alpha
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta codes
    # green alphabet: literal 20, length-sym 256 (len code 0 → 2? no:
    # lz77 code 1 → value 2), cache sym 280+cache_idx
    green_syms = [20, 256 + 1, 280 + cache_idx]
    glens = [0] * (256 + 24 + (1 << cache_bits))
    glens[green_syms[0]] = 1
    glens[green_syms[1]] = 2
    glens[green_syms[2]] = 2
    W._emit_code_lengths(bw, glens)
    gcodes = W._codes_of(glens)
    for vals, alphabet in (([10], 256), ([30], 256), ([255], 256), ([1], 40)):
        # red/blue/alpha single-symbol; distance code: symbol 1 → lz77
        # value 2 → distance map entry 2 = (1, 0) → d = 1
        W._emit_prefix_code(bw, vals, alphabet)
    # pixel stream: literal P; LZ77 len 2 dist-map(1,0); cache hit
    c, l = gcodes[20]
    W._write_code(bw, c, l)  # green 20 → then r/b/a are 0-bit codes
    c, l = gcodes[256 + 1]
    W._write_code(bw, c, l)  # length symbol (value 2)
    # distance: single-symbol code → 0 bits
    c, l = gcodes[280 + cache_idx]
    W._write_code(bw, c, l)  # cache hit for the 4th pixel

    data = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    blob = b"RIFF" + struct.pack("<I", len(riff)) + riff
    out = W.decode_webp(blob)
    assert out.shape == (1, 4, 3)
    assert (out == np.array([[[10, 20, 30]] * 4], np.uint8)).all()


def test_webp_planted_assets_through_image_dispatch(spark):
    """WebP assets flow the same decode_image path as png/bmp/gif/jpeg:
    planted closed-form means per asset, both code forms + transform."""
    from ihop_reddit_spark.datapipe.multimodal import (
        image_feature_stats,
        synthesize_webp_assets,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 3, 19)], "doc_id long")
    rows = {r["asset_id"]: r for r in
            image_feature_stats(synthesize_webp_assets(ids)).collect()}
    assert set(rows) == {0, 3, 19}
    for i, r in rows.items():
        want = sum((47 * i + 80 * k) % 256 for k in range(4)) / 4
        assert (r["width"], r["height"]) == (16, 16)
        assert r["mean_r"] == r["mean_g"] == r["mean_b"] == want


def _vp8l_container(bw) -> bytes:
    import struct

    data = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_webp_vp8l_predictor_transform_decode():
    """Hand-built stream with the PREDICTOR transform (one 4x4 block,
    mode 1 = left): residuals reconstruct exactly against the spec's
    border rules (top-left += 0xFF000000, first row from left, first
    column from top)."""
    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    bw = W._BitWriter()
    bw.write(1, 14)  # width 2
    bw.write(1, 14)  # height 2
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # PREDICTOR
    bw.write(0, 3)  # size_bits = 2 → 4x4 blocks → 1x1 mode image
    # mode sub-image (no meta allowed): cache bit, then 5 codes; one
    # pixel with green = mode 1 (left), other channels 0
    bw.write(0, 1)  # no cache
    for vals, alphabet in (([1], 280), ([0], 256), ([0], 256), ([0], 256), ([0], 40)):
        W._emit_prefix_code(bw, vals, alphabet)
    # single-symbol codes are 0-bit → no pixel bits needed
    bw.write(0, 1)  # end of transforms
    # main image: residual literals
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    res = [(0, 10, 5, 0), (1, 2, 3, 4), (7, 8, 9, 6), (1, 1, 1, 1)]  # ARGB
    a_s = [r[0] for r in res]
    r_s = [r[1] for r in res]
    g_s = [r[2] for r in res]
    b_s = [r[3] for r in res]
    gcodes = W._emit_prefix_code(bw, g_s, 280)
    rcodes = W._emit_prefix_code(bw, r_s, 256)
    bcodes = W._emit_prefix_code(bw, b_s, 256)
    acodes = W._emit_prefix_code(bw, a_s, 256)
    W._emit_prefix_code(bw, [0], 40)
    for i in range(4):
        for codes, v in ((gcodes, g_s[i]), (rcodes, r_s[i]),
                         (bcodes, b_s[i]), (acodes, a_s[i])):
            c, l = codes[v]
            W._write_code(bw, c, l)
    out = W.decode_webp(_vp8l_container(bw), keep_alpha=True)
    # spec reconstruction: p00 = res + ff000000; p01 = res + left;
    # p10 = res + top; p11 = res + left (mode 1)
    p00 = (255, 10, 5, 0)  # ARGB + ff000000 → A=255
    p01 = (1 + p00[0] & 255, 2 + p00[1], 3 + p00[2], 4 + p00[3])
    p10 = (7 + p00[0] & 255, 8 + p00[1], 9 + p00[2], 6 + p00[3])
    p11 = (1 + p10[0] & 255, 1 + p10[1], 1 + p10[2], 1 + p10[3])
    want = np.array(
        [
            [[p00[1], p00[2], p00[3], p00[0]], [p01[1], p01[2], p01[3], p01[0]]],
            [[p10[1], p10[2], p10[3], p10[0]], [p11[1], p11[2], p11[3], p11[0]]],
        ],
        np.uint8,
    )
    assert (out == want).all()


def test_webp_vp8l_color_indexing_decode():
    """Hand-built stream with COLOR_INDEXING (3-color palette → 2-bit
    bundling, 4 packed pixels per green byte): delta-coded palette and
    packed indices reconstruct the full-width row exactly."""
    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    bw = W._BitWriter()
    bw.write(5, 14)  # width 6
    bw.write(0, 14)  # height 1
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(2, 8)  # 3 colors
    # palette entropy image (3x1): literals, delta-coded entries —
    # first (255,10,20,30), then deltas (0,5,5,5) and (0,240,0,0)
    bw.write(0, 1)  # no cache
    pal_px = [(255, 10, 20, 30), (0, 5, 5, 5), (0, 240, 0, 0)]
    pg = [p[2] for p in pal_px]
    pr = [p[1] for p in pal_px]
    pb = [p[3] for p in pal_px]
    pa = [p[0] for p in pal_px]
    g_c = W._emit_prefix_code(bw, pg, 280)
    r_c = W._emit_prefix_code(bw, pr, 256)
    b_c = W._emit_prefix_code(bw, pb, 256)
    a_c = W._emit_prefix_code(bw, pa, 256)
    W._emit_prefix_code(bw, [0], 40)
    for p in pal_px:
        for codes, v in ((g_c, p[2]), (r_c, p[1]), (b_c, p[3]), (a_c, p[0])):
            c, l = codes[v]
            W._write_code(bw, c, l)
    bw.write(0, 1)  # end of transforms
    # packed main image: width ceil(6/4) = 2 "pixels", indices in green
    # channel, 2 bits each LSB-first: pixels [0,1,2,0] → 0b00_10_01_00,
    # [2,1] → 0b00_00_01_10
    packed = [0b00100100, 0b00000110]
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    g2 = W._emit_prefix_code(bw, packed, 280)
    r2 = W._emit_prefix_code(bw, [0], 256)
    b2 = W._emit_prefix_code(bw, [0], 256)
    a2 = W._emit_prefix_code(bw, [0], 256)
    W._emit_prefix_code(bw, [0], 40)
    del r2, b2, a2
    for v in packed:
        c, l = g2[v]
        W._write_code(bw, c, l)
    out = W.decode_webp(_vp8l_container(bw), keep_alpha=True)
    # palette after delta decode: c0=(255,10,20,30), c1=(255,15,25,35),
    # c2=(255,255,25,35) — as RGBA rows
    c0, c1, c2 = (10, 20, 30, 255), (15, 25, 35, 255), (255, 25, 35, 255)
    want = np.array([[c0, c1, c2, c0, c2, c1]], np.uint8)
    assert out.shape == (1, 6, 4)
    assert (out == want).all()


def test_webp_vp8l_meta_prefix_codes_decode():
    """Per-block entropy groups: a hand-built 4x1 image with 2-pixel
    blocks, where group 0 encodes value A and group 1 encodes value B —
    a decoder ignoring the meta image cannot reconstruct it."""
    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    bw = W._BitWriter()
    bw.write(3, 14)  # width 4
    bw.write(0, 14)  # height 1
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix codes present
    bw.write(0, 3)  # prefix_bits = 2 → 4-px blocks? no: 2^2=4 → 1 block
    # 2^2 = 4-pixel blocks makes ONE group; use the meta image to still
    # exercise group indirection by pointing block 0 at group index 1:
    # meta image 1x1 with (red<<8|green) = 1 → groups[1] used, groups[0]
    # present but dead
    bw.write(0, 1)  # meta image: no cache
    mg = W._emit_prefix_code(bw, [1], 280)  # green=1 → group index 1
    W._emit_prefix_code(bw, [0], 256)  # red=0
    W._emit_prefix_code(bw, [0], 256)
    W._emit_prefix_code(bw, [0], 256)
    W._emit_prefix_code(bw, [0], 40)
    del mg  # all single-symbol → zero payload bits
    # group 0 (dead): all single-symbol codes, zero payload cost
    for vals, alphabet in (([7], 280), ([7], 256), ([7], 256), ([7], 256), ([0], 40)):
        W._emit_prefix_code(bw, vals, alphabet)
    # group 1 (live): literal RGBA (50, 60, 70, 255)
    g1 = [
        W._emit_prefix_code(bw, [60], 280),
        W._emit_prefix_code(bw, [50], 256),
        W._emit_prefix_code(bw, [70], 256),
        W._emit_prefix_code(bw, [255], 256),
        W._emit_prefix_code(bw, [0], 40),
    ]
    del g1  # single-symbol codes → the four pixels cost zero bits
    out = W.decode_webp(_vp8l_container(bw))
    assert out.shape == (1, 4, 3)
    assert (out == np.array([[[50, 60, 70]] * 4], np.uint8)).all()


def test_webp_vp8l_color_transform_decode():
    """Hand-built stream with the COLOR (cross-color) transform: the
    transform element's channel layout is g2r in BLUE, g2b in GREEN,
    r2b in RED (libwebp ColorCodeToMultipliers), exercised with both a
    positive and a negative signed green — a decoder reading the
    multipliers from swapped channels cannot reconstruct this."""
    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    g2r, g2b, r2b = 32, 16, 64  # 1.0, 0.5, 2.0 in signed 3.5 fixed point
    bw = W._BitWriter()
    bw.write(1, 14)  # width 2
    bw.write(0, 14)  # height 1
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(1, 2)  # COLOR
    bw.write(0, 3)  # size_bits = 2 → 4x4 blocks → 1x1 element image
    bw.write(0, 1)  # element sub-image: no cache
    # element pixel: green=g2b, red=r2b, blue=g2r, alpha=0
    for vals, alphabet in (
        ([g2b], 280), ([r2b], 256), ([g2r], 256), ([0], 256), ([0], 40)
    ):
        W._emit_prefix_code(bw, vals, alphabet)
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # main image: no cache
    bw.write(0, 1)  # no meta
    # residual literals (a, r, g, b): g=10 → gs=+10; g=200 → gs=-56
    res = [(255, 100, 10, 50), (255, 10, 200, 100)]
    a_s = [r[0] for r in res]
    r_s = [r[1] for r in res]
    g_s = [r[2] for r in res]
    b_s = [r[3] for r in res]
    gcodes = W._emit_prefix_code(bw, g_s, 280)
    rcodes = W._emit_prefix_code(bw, r_s, 256)
    bcodes = W._emit_prefix_code(bw, b_s, 256)
    acodes = W._emit_prefix_code(bw, a_s, 256)
    W._emit_prefix_code(bw, [0], 40)
    for i in range(2):
        for codes, v in ((gcodes, g_s[i]), (rcodes, r_s[i]),
                         (bcodes, b_s[i]), (acodes, a_s[i])):
            c, l = codes[v]
            W._write_code(bw, c, l)
    out = W.decode_webp(_vp8l_container(bw))

    # closed-form inverse: r = r' + (g2r·gs >> 5); b = b' + (g2b·gs >> 5)
    #                                                + (r2b·rs >> 5)
    def inv(rp, g, bp):
        gs = g - 256 if g >= 128 else g
        r = (rp + ((g2r * gs) >> 5)) & 255
        rs = r - 256 if r >= 128 else r
        b = (bp + ((g2b * gs) >> 5) + ((r2b * rs) >> 5)) & 255
        return r, g, b

    want = np.array([[inv(100, 10, 50), inv(10, 200, 100)]], np.uint8)
    assert (out == want).all()
    # the two layouts genuinely disagree on this stream (swap-detector)
    def inv_swapped(rp, g, bp):
        gs = g - 256 if g >= 128 else g
        r = (rp + ((r2b * gs) >> 5)) & 255  # swapped g2r<->r2b
        rs = r - 256 if r >= 128 else r
        b = (bp + ((g2b * gs) >> 5) + ((g2r * rs) >> 5)) & 255
        return r, g, b

    assert inv_swapped(100, 10, 50) != inv(100, 10, 50)


def test_webp_vp8l_predictor_right_edge_uses_row_wrap():
    """TR on the rightmost column is the CURRENT row's leftmost pixel
    (libwebp contiguous-buffer addressing), not the top pixel: a 2x2
    image under predictor mode 3 (TR) distinguishes the two."""
    import numpy as np

    from ihop_reddit_spark.datapipe import webp as W

    bw = W._BitWriter()
    bw.write(1, 14)  # width 2
    bw.write(1, 14)  # height 2
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # PREDICTOR
    bw.write(0, 3)  # size_bits = 2 → one 4x4 block → 1x1 mode image
    bw.write(0, 1)  # mode sub-image: no cache
    for vals, alphabet in (
        ([3], 280), ([0], 256), ([0], 256), ([0], 256), ([0], 40)
    ):
        W._emit_prefix_code(bw, vals, alphabet)
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    res = [(0, 10, 5, 0), (1, 2, 3, 4), (7, 8, 9, 6), (1, 1, 1, 1)]  # ARGB
    a_s = [r[0] for r in res]
    r_s = [r[1] for r in res]
    g_s = [r[2] for r in res]
    b_s = [r[3] for r in res]
    gcodes = W._emit_prefix_code(bw, g_s, 280)
    rcodes = W._emit_prefix_code(bw, r_s, 256)
    bcodes = W._emit_prefix_code(bw, b_s, 256)
    acodes = W._emit_prefix_code(bw, a_s, 256)
    W._emit_prefix_code(bw, [0], 40)
    for i in range(4):
        for codes, v in ((gcodes, g_s[i]), (rcodes, r_s[i]),
                         (bcodes, b_s[i]), (acodes, a_s[i])):
            c, l = codes[v]
            W._write_code(bw, c, l)
    out = W.decode_webp(_vp8l_container(bw), keep_alpha=True)
    # borders: p00 += ff000000; p01 (y=0) from left; p10 (x=0) from top;
    # p11 is rightmost → TR = px[i-w+1] = p10 (current-row leftmost)
    p00 = (255, 10, 5, 0)
    p01 = tuple((a + b) & 255 for a, b in zip(res[1], p00))
    p10 = tuple((a + b) & 255 for a, b in zip(res[2], p00))
    p11 = tuple((a + b) & 255 for a, b in zip(res[3], p10))
    assert p10 != p01  # the wrap genuinely differs from top-fallback
    want = np.array(
        [
            [[p00[1], p00[2], p00[3], p00[0]], [p01[1], p01[2], p01[3], p01[0]]],
            [[p10[1], p10[2], p10[3], p10[0]], [p11[1], p11[2], p11[3], p11[0]]],
        ],
        np.uint8,
    )
    assert (out == want).all()


def test_webp_vp8x_extended_container():
    """Real-world lossless WebPs wrap VP8L in a VP8X extended container
    (metadata chunks first): the RIFF walk finds the VP8L chunk behind
    VP8X/EXIF/XMP (odd sizes padded to even); VP8X+VP8 stays the marked
    lossy stub; a metadata-only container fails loudly."""
    import struct

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.webp import (
        decode_webp,
        parse_webp,
        webp_bytes,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    simple = webp_bytes(px)
    (vp8l_size,) = struct.unpack("<I", simple[16:20])
    vp8l_chunk = simple[12 : 20 + vp8l_size + (vp8l_size & 1)]

    def riff(*chunks):
        body = b"WEBP" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def chunk(fourcc, payload):
        out = fourcc + struct.pack("<I", len(payload)) + payload
        return out + (b"\x00" if len(payload) % 2 else b"")

    vp8x = chunk(b"VP8X", bytes(10))
    exif = chunk(b"EXIF", b"Exif\x00")  # odd size → pad byte exercised
    xmp = chunk(b"XMP ", b"<x/>")
    ext = riff(vp8x, exif, xmp, vp8l_chunk)
    assert parse_webp(ext) == parse_webp(simple) == (3, 2, False)
    assert (decode_webp(ext) == px).all()
    # VP8X wrapping the LOSSY half: routed to the system libwebp when
    # installed (garbage payload fails loudly), marked stub otherwise
    from ihop_reddit_spark.datapipe.webp_native import libwebp_available

    lossy = riff(vp8x, chunk(b"VP8 ", b"\x00" * 8))
    if libwebp_available():
        with pytest.raises(ValueError, match="libwebp"):
            decode_webp(lossy)
    else:
        with pytest.raises(NotImplementedError, match="lossy"):
            parse_webp(lossy)
    # animation needs libwebpdemux — an honest boundary either way
    with pytest.raises(NotImplementedError, match="animated"):
        parse_webp(riff(vp8x, chunk(b"ANIM", bytes(6))))
    with pytest.raises(ValueError, match="no VP8L"):
        parse_webp(riff(vp8x, exif))


def test_mp4_missing_boxes_fail_loudly():
    """A structurally valid but incomplete video trak names the missing
    box in a ValueError (not a TypeError from a None dereference)."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.jpeg_codec import QUANT_DC8, jpeg_bytes
    from ihop_reddit_spark.datapipe.mp4 import mp4_bytes, parse_mp4

    frame = jpeg_bytes(np.full((16, 16), 99, np.uint8), quant_luma=QUANT_DC8)
    blob = mp4_bytes([frame, frame], width=16, height=16, fps=10)
    for box in (b"minf", b"stsd", b"stts", b"stsc", b"stsz"):
        broken = blob.replace(box, b"fre" + box[:1], 1)
        with pytest.raises(ValueError, match=box.decode()):
            parse_mp4(broken)
    # without mdia there is no hdlr, so no track qualifies as video
    with pytest.raises(ValueError, match="no video track"):
        parse_mp4(blob.replace(b"mdia", b"frem", 1))


def test_webp_lossy_decode_via_system_libwebp():
    """The lossy (VP8) half decodes FOR REAL through the system libwebp
    when installed: solid macroblock-aligned grays encoded at q=95
    reconstruct within ±1 (YUV fixed-point rounding), dimensions exact,
    deterministic bytes; RGBA surface carries alpha 255."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.webp import decode_webp, parse_webp
    from ihop_reddit_spark.datapipe.webp_native import (
        encode_lossy_rgb,
        libwebp_available,
        libwebp_encoder_available,
    )

    if not (libwebp_available() and libwebp_encoder_available()):
        pytest.skip("system libwebp not installed — stub boundary stands")
    vals = np.array([[10, 90], [170, 250]], np.uint8)
    px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    px = np.repeat(px[..., None], 3, 2)
    blob = encode_lossy_rgb(px, 95.0)
    assert blob == encode_lossy_rgb(px, 95.0)  # deterministic
    assert blob[12:16] == b"VP8 "  # genuinely the lossy bitstream
    assert parse_webp(blob) == (16, 16, False)
    out = decode_webp(blob)
    assert out.shape == (16, 16, 3)
    assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 1
    rgba = decode_webp(blob, keep_alpha=True)
    assert rgba.shape == (16, 16, 4) and (rgba[:, :, 3] == 255).all()


def test_webp_vp8l_conformance_against_libwebp():
    """libwebp as an independent SPEC ORACLE for the in-tree VP8L
    codec: writer outputs (simple + canonical codes, subtract-green)
    and the hand-built transform streams must decode bit-identically
    through both decoders — round-trips alone cannot catch a
    self-consistent spec deviation (the r9 color-transform channel
    swap); this can."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import webp as W
    from ihop_reddit_spark.datapipe.webp_native import (
        decode_rgb,
        libwebp_available,
    )

    if not libwebp_available():
        pytest.skip("system libwebp not installed")
    rng = np.random.RandomState(3)
    for case in range(3):
        px = rng.randint(0, 256, size=(9 + case, 17 - case, 3)).astype(
            np.uint8
        )
        for sg in (False, True):
            blob = W.webp_bytes(px, subtract_green=sg)
            assert (W.decode_webp(blob) == px).all()
            assert (decode_rgb(blob) == px).all()

    # hand-built COLOR-transform stream (the path no writer emits):
    # both decoders must reconstruct the same pixels
    g2r, g2b, r2b = 32, 16, 64
    bw = W._BitWriter()
    bw.write(1, 14)
    bw.write(0, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR
    bw.write(0, 3)
    bw.write(0, 1)
    for vals_, alphabet in (
        ([g2b], 280), ([r2b], 256), ([g2r], 256), ([0], 256), ([0], 40)
    ):
        W._emit_prefix_code(bw, vals_, alphabet)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    res = [(255, 100, 10, 50), (255, 10, 200, 100)]
    codes = [
        W._emit_prefix_code(bw, [r[2] for r in res], 280),
        W._emit_prefix_code(bw, [r[1] for r in res], 256),
        W._emit_prefix_code(bw, [r[3] for r in res], 256),
        W._emit_prefix_code(bw, [r[0] for r in res], 256),
    ]
    W._emit_prefix_code(bw, [0], 40)
    for r in res:
        for c, v in zip(codes, (r[2], r[1], r[3], r[0])):
            cc, ll = c[v]
            W._write_code(bw, cc, ll)
    blob = _vp8l_container(bw)
    ours = W.decode_webp(blob)
    ref = decode_rgb(blob)
    assert (ours == ref).all()

    # hand-built PREDICTOR mode-3 stream (right-edge TR wrap)
    bw = W._BitWriter()
    bw.write(1, 14)
    bw.write(1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(0, 3)
    bw.write(0, 1)
    for vals_, alphabet in (
        ([3], 280), ([0], 256), ([0], 256), ([0], 256), ([0], 40)
    ):
        W._emit_prefix_code(bw, vals_, alphabet)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    res = [(0, 10, 5, 0), (1, 2, 3, 4), (7, 8, 9, 6), (1, 1, 1, 1)]
    codes = [
        W._emit_prefix_code(bw, [r[2] for r in res], 280),
        W._emit_prefix_code(bw, [r[1] for r in res], 256),
        W._emit_prefix_code(bw, [r[3] for r in res], 256),
        W._emit_prefix_code(bw, [r[0] for r in res], 256),
    ]
    W._emit_prefix_code(bw, [0], 40)
    for r in res:
        for c, v in zip(codes, (r[2], r[1], r[3], r[0])):
            cc, ll = c[v]
            W._write_code(bw, cc, ll)
    blob = _vp8l_container(bw)
    assert (W.decode_webp(blob) == decode_rgb(blob)).all()


def test_flac_high_sample_rates_roundtrip():
    """flac_bytes must pick the frame-header rate code per value — a
    fixed 16-bit raw code silently truncates rates > 65535 Hz (88.2k/
    96k/192k are all valid FLAC rates) into streams the decoder then
    rejects. Every encoding path: table code, kHz code (12), 16-bit raw
    (13), decahertz (14), plus the loud reject for the inexpressible."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.flac import decode_flac, flac_bytes

    sig = (np.sin(np.arange(2048) / 7.0) * 12000).astype(np.int64)
    sig = sig.reshape(-1, 1)
    for rate in (96000, 192000, 88200,  # table codes, all > 65535
                 123000,                # kHz code 12
                 65535, 44010,          # 16-bit raw code 13
                 655350):               # decahertz code 14
        blob = flac_bytes(sig, sample_rate=rate)
        sr, bps, samples = decode_flac(blob)
        assert sr == rate
        assert np.array_equal(np.asarray(samples).reshape(-1, 1), sig)
    with pytest.raises(ValueError, match="not expressible"):
        flac_bytes(sig, sample_rate=65537)


def test_webp_lossy_alpha_hint_from_container():
    """parse_webp's has_alpha_hint for lossy (VP8) containers must come
    from the container signals — the VP8X alpha flag (bit 0x10) or an
    ALPH chunk — not a hardcoded False: VP8 bitstreams carry no alpha
    themselves, so lossy-with-alpha images would read as opaque."""
    import struct

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.webp import parse_webp
    from ihop_reddit_spark.datapipe.webp_native import (
        encode_lossy_rgb,
        libwebp_available,
    )

    if not libwebp_available():
        pytest.skip("system libwebp not installed")

    px = np.full((4, 6, 3), 128, np.uint8)
    blob = encode_lossy_rgb(px, 95.0)
    (vp8_size,) = struct.unpack("<I", blob[16:20])
    vp8_chunk = blob[12 : 20 + vp8_size + (vp8_size & 1)]

    def riff(*chunks):
        body = b"WEBP" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def chunk(fourcc, payload):
        out = fourcc + struct.pack("<I", len(payload)) + payload
        return out + (b"\x00" if len(payload) % 2 else b"")

    def vp8x(flags):
        # flags byte + 3 reserved + 24-bit (w-1) + 24-bit (h-1), LE
        return chunk(
            b"VP8X",
            bytes([flags, 0, 0, 0])
            + struct.pack("<I", 6 - 1)[:3]
            + struct.pack("<I", 4 - 1)[:3],
        )

    assert parse_webp(blob) == (6, 4, False)  # plain lossy: no alpha
    with_flag = riff(vp8x(0x10), vp8_chunk)
    assert parse_webp(with_flag) == (6, 4, True)
    without_flag = riff(vp8x(0x00), vp8_chunk)
    assert parse_webp(without_flag) == (6, 4, False)
    with_alph = riff(vp8x(0x00), chunk(b"ALPH", b"\x00" * 24), vp8_chunk)
    assert parse_webp(with_alph) == (6, 4, True)


# ---------------------------------------------------------------------------
# AVIF / AV1 (r11): ctypes bindings to the system libavif (dav1d decode,
# aom encode) — the first real compressed-video-codec path. Lossless
# encodes (identity MC + YUV444 + full range + q0) roundtrip
# INTEGER-EXACTLY, which is what makes the system decoder a conformance
# oracle for the container + RGB/YUV plumbing. Every test skips cleanly
# when the library is absent — the marked NotImplementedError boundary
# is itself pinned below via a simulated-absence monkeypatch.
# ---------------------------------------------------------------------------


def _avif_ready() -> bool:
    from ihop_reddit_spark.datapipe.avif_native import (
        libavif_available,
        libavif_encoder_available,
    )

    return libavif_available() and libavif_encoder_available()


def test_avif_lossless_roundtrip_exact():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    payload = A.encode_rgb(px, lossless=True)
    assert payload[4:12] == b"ftypavif"
    out = A.decode_rgb(payload)
    assert out.shape == (24, 17, 3)
    assert (out == px).all()
    assert A.get_info(payload) == (17, 24, 1)


def test_avif_lossy_is_lossy_but_bounded():
    """The quantizer offsets actually reach the encoder: q=40 on random
    noise must NOT roundtrip exactly (wrong struct offsets would leave
    the library lossless default) while solid grays stay close."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    rng = np.random.RandomState(5)
    noise = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
    lossy = A.decode_rgb(A.encode_rgb(noise, lossless=False, quality=40))
    assert (lossy != noise).any()
    gray = np.full((16, 16, 3), 150, np.uint8)
    out = A.decode_rgb(A.encode_rgb(gray, lossless=False, quality=30))
    assert abs(int(out.astype(int).mean()) - 150) <= 2


def test_av1_video_demux_and_per_sample_decode():
    """Animated AVIF is a genuine ISOBMFF av01 track: the ENGINE's own
    parse_mp4 demuxes it (pict handler, av1C record, chunk walk), and
    decode_mp4 decodes every sample independently via wrap_av1_sample —
    integer-exact against the planted frames."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A
    from ihop_reddit_spark.datapipe.mp4 import decode_mp4, parse_mp4

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    frames = []
    for f in range(4):
        px = np.zeros((16, 16, 3), np.uint8)
        px[:8, :8] = (40 * f + 7) % 256
        px[8:, 8:] = (90 * f + 3) % 256
        frames.append(px)
    payload = A.encode_frames(frames, fps=5, lossless=True)
    assert payload[4:12] == b"ftypavis"
    m = parse_mp4(payload)
    assert m.codec == "av01"
    assert m.n_samples == 4
    assert (m.width, m.height) == (16, 16)
    assert m.codec_config is not None and len(m.codec_config) >= 4
    _m, decoded = decode_mp4(payload)
    assert len(decoded) == 4
    for d, g in zip(decoded, frames):
        assert (d == g).all()
    # libavif's own sequence decode agrees with the per-sample path
    direct = A.decode_frames(payload)
    for d, g in zip(direct, frames):
        assert (d == g).all()


def test_av1_video_encode_is_byte_deterministic():
    """Two encodes of the same frames in different wall-clock seconds are
    the same bytes: the mvhd/tkhd/mdhd times libavif stamps are zeroed."""
    import time

    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    frames = [np.full((16, 16, 3), v, np.uint8) for v in (20, 200)]
    first = A.encode_frames(frames, fps=5, lossless=True)
    time.sleep(1.0 - time.time() % 1.0 + 0.05)  # into the next second
    assert A.encode_frames(frames, fps=5, lossless=True) == first


def test_avif_decode_image_dispatch():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A
    from ihop_reddit_spark.datapipe.multimodal import decode_image

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    px = np.full((8, 8, 3), 99, np.uint8)
    out = decode_image(A.encode_rgb(px, lossless=True))
    assert (out == px).all()


def test_wrap_av1_sample_minimal_container_is_strict_mode_valid():
    """The minimal still-AVIF wrapper must satisfy libavif's STRICT
    default flags (7) — ispe + pixi + essential av1C all present."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import avif_native as A
    from ihop_reddit_spark.datapipe.mp4 import parse_mp4

    if not _avif_ready():
        pytest.skip("system libavif not installed")
    px = np.full((16, 16, 3), 0, np.uint8)
    px[:, :8] = 200
    px2 = np.full((16, 16, 3), 30, np.uint8)
    payload = A.encode_frames([px, px2], fps=5, lossless=True)
    m = parse_mp4(payload)
    for sample, want in zip(m.samples, (px, px2)):
        wrapped = A.wrap_av1_sample(
            sample, m.codec_config, m.width, m.height
        )
        assert wrapped[4:12] == b"ftypavif"
        assert (A.decode_rgb(wrapped) == want).all()


# ---------------------------------------------------------------------------
# HEIC (r11): ctypes bindings to the system libheif (libde265 decode /
# x265 encode). Opaque-pointer API — only heif_error crosses by value —
# with plugin capability probed at bind time. Gray + lossless is
# integer-exact; color at chroma 4:4:4 stays within fixed-point ±2.
# ---------------------------------------------------------------------------


def _heif_ready() -> bool:
    from ihop_reddit_spark.datapipe.heif_native import (
        libheif_available,
        libheif_encoder_available,
    )

    return libheif_available() and libheif_encoder_available()


def test_heic_gray_lossless_roundtrip_exact():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import heif_native as H

    if not _heif_ready():
        pytest.skip("system libheif (+x265/libde265) not installed")
    g = np.zeros((16, 24, 3), np.uint8)
    g[:8, :12] = 201
    g[8:, 12:] = 56
    payload = H.encode_rgb(g, lossless=True)
    assert payload[4:12] == b"ftypheic"
    out = H.decode_rgb(payload)
    assert out.shape == (16, 24, 3)
    assert (out == g).all()
    assert H.get_info(payload) == (24, 16)


def test_heic_color_444_bounded_and_lossy_differs():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import heif_native as H

    if not _heif_ready():
        pytest.skip("system libheif (+x265/libde265) not installed")
    rng = np.random.RandomState(13)
    col = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    out = H.decode_rgb(H.encode_rgb(col, lossless=True, chroma444=True))
    assert int(np.abs(out.astype(int) - col.astype(int)).max()) <= 2
    lossy = H.decode_rgb(H.encode_rgb(col, lossless=False, quality=60))
    assert (lossy != col).any()


def test_heic_decode_image_dispatch():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import heif_native as H
    from ihop_reddit_spark.datapipe.multimodal import decode_image

    if not _heif_ready():
        pytest.skip("system libheif (+x265/libde265) not installed")
    px = np.full((8, 8, 3), 77, np.uint8)
    assert (decode_image(H.encode_rgb(px, lossless=True)) == px).all()


def test_hevc_mp4_demux_and_per_sample_decode():
    """HEVC video: x265-lossless samples extracted from HEIC stills by
    the engine's HEIF item walker, muxed into a real hvc1 MP4 track by
    the engine's writer, demuxed back by parse_mp4, and decoded
    per-sample through wrap_hevc_sample — integer-exact end to end."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import heif_native as H
    from ihop_reddit_spark.datapipe.mp4 import (
        decode_mp4,
        mp4_bytes,
        parse_mp4,
    )

    if not _heif_ready():
        pytest.skip("system libheif (+x265/libde265) not installed")
    frames = []
    for f in range(3):
        px = np.zeros((64, 64, 3), np.uint8)
        px[:32, :32] = (37 * f + 11) % 256
        px[32:, 32:] = (83 * f + 5) % 256
        frames.append(px)
    samples, hvcc = [], None
    for px in frames:
        sample, cfg, w, h = H.extract_hevc(H.encode_rgb(px, lossless=True))
        assert (w, h) == (64, 64)
        samples.append(sample)
        hvcc = cfg
    payload = mp4_bytes(
        samples, width=64, height=64, fps=5,
        codec="hvc1", codec_config=hvcc,
    )
    m = parse_mp4(payload)
    assert m.codec == "hvc1"
    assert m.n_samples == 3
    assert m.codec_config == hvcc
    _m, decoded = decode_mp4(payload)
    for d, g in zip(decoded, frames):
        assert (d == g).all()


def test_hevc_extract_rejects_gridded_images():
    """Non-CTU-multiple dimensions make the encoder emit a grid wrapper
    whose coded tile is PADDED — extract_hevc must refuse the ambiguity
    rather than hand back a padded sample."""
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import heif_native as H

    if not _heif_ready():
        pytest.skip("system libheif (+x265/libde265) not installed")
    px = np.full((16, 16, 3), 90, np.uint8)
    sample, cfg, w, h = H.extract_hevc(H.encode_rgb(px, lossless=True))
    # 16x16 grids: the coded tile is the padded CTU — the extractor
    # reports the CODED size so a caller can detect the mismatch
    assert (w, h) == (64, 64)
    wrapped = H.wrap_hevc_sample(sample, cfg, w, h)
    out = H.decode_rgb(wrapped)
    assert out.shape == (64, 64, 3)
    assert (out[:16, :16] == 90).all()


# ---------------------------------------------------------------------------
# SVG (r11): librsvg + cairo rasterization. Fixtures are authored
# markup, so these tests exercise the renderer and the premultiplied-
# BGRA→RGB-over-white conversion.
# ---------------------------------------------------------------------------


def test_svg_render_exact_and_scaled():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe import svg_native as S

    if not S.librsvg_available():
        pytest.skip("system librsvg/cairo not installed")
    svg = (
        b'<svg xmlns="http://www.w3.org/2000/svg" width="32" height="16">'
        b'<rect x="0" y="0" width="16" height="16" fill="#c86428"/>'
        b'<rect x="16" y="0" width="16" height="16" fill="#1e3c78"/>'
        b"</svg>"
    )
    out = S.render_rgb(svg)
    assert out.shape == (16, 32, 3)
    assert (out[:, :16] == (200, 100, 40)).all()
    assert (out[:, 16:] == (30, 60, 120)).all()
    # vector scaling: 2x viewport keeps the fills exact
    big = S.render_rgb(svg, width=64, height=32)
    assert big.shape == (32, 64, 3)
    assert (big[:, :32] == (200, 100, 40)).all()
    assert (big[:, 32:] == (30, 60, 120)).all()
    # translucent fill composites over the white page
    tr = S.render_rgb(
        b'<svg xmlns="http://www.w3.org/2000/svg" width="4" height="4">'
        b'<rect width="4" height="4" fill="#000000" fill-opacity="0.5"/>'
        b"</svg>"
    )
    assert abs(int(tr[2, 2, 0]) - 128) <= 1


def test_svg_dispatch_sniff_and_errors():
    import pytest

    from ihop_reddit_spark.datapipe import svg_native as S
    from ihop_reddit_spark.datapipe.multimodal import decode_image

    if not S.librsvg_available():
        pytest.skip("system librsvg/cairo not installed")
    assert S.looks_like_svg(b'  <svg xmlns="x">')
    assert S.looks_like_svg(b'<?xml version="1.0"?><svg>')
    assert not S.looks_like_svg(b"<?xml version='1.0'?><html>")
    assert not S.looks_like_svg(b"\x89PNG\r\n")
    svg = (
        b'<?xml version="1.0"?>'
        b'<svg xmlns="http://www.w3.org/2000/svg" width="4" height="4">'
        b'<rect width="4" height="4" fill="#404040"/></svg>'
    )
    assert (decode_image(svg) == 64).all()
    with pytest.raises(ValueError, match="rejected"):
        S.render_rgb(b"<svg this is not xml")


_SVG_GRAY = (
    b'<svg xmlns="http://www.w3.org/2000/svg" width="4" height="4">'
    b'<rect width="4" height="4" fill="#404040"/></svg>'
)


@pytest.mark.parametrize(
    "module, candidates, probe, decode, encode, marker",
    [
        ("webp_native", "_CANDIDATES", "libwebp_available", "decode_rgb",
         "encode_lossy_rgb", "libwebp"),
        ("tiff_native", "_CANDIDATES", "libtiff_available", "decode_rgb",
         None, "libtiff"),
        ("avif_native", "_CANDIDATES", "libavif_available", "decode_rgb",
         "encode_rgb", "libavif"),
        ("heif_native", "_CANDIDATES", "libheif_available", "decode_rgb",
         "encode_rgb", "libheif"),
        ("svg_native", "_RSVG", "librsvg_available", "render_rgb",
         None, "librsvg"),
    ],
    ids=["webp", "tiff", "avif", "heic", "svg"],
)
def test_native_library_absence_raises_marked_boundary(
    module, candidates, probe, decode, encode, marker, monkeypatch
):
    """Every binding loads through ``datapipe.native.load``: a candidate
    list that cannot load makes the capability probe report False and
    every decode/encode path raise the marked ``NotImplementedError``.
    The loader caches per candidate tuple, so the real library binds
    again once the patch is undone."""
    import importlib

    import numpy as np

    from ihop_reddit_spark.datapipe.mp4 import decode_mp4
    from ihop_reddit_spark.datapipe.multimodal import decode_image
    from ihop_reddit_spark.datapipe.tiff import tiff_bytes

    mod = importlib.import_module(f"ihop_reddit_spark.datapipe.{module}")
    if not getattr(mod, probe)():
        pytest.skip(f"system {marker} not installed")
    px = np.full((16, 16, 3), 60, np.uint8)
    # payloads are encoded while the library still loads
    if module == "tiff_native":
        payload = tiff_bytes(px)
    elif module == "svg_native":
        payload = _SVG_GRAY
    else:
        payload = getattr(mod, encode)(px)
    calls = [lambda: getattr(mod, decode)(payload)]
    if module != "tiff_native":  # baseline TIFF decodes in-tree
        calls.append(lambda: decode_image(payload))
    if encode:
        calls.append(lambda: getattr(mod, encode)(px))
    if module == "avif_native":
        # an av01 MP4 reports the capability gate, not a ctypes failure
        # (two frames: a 1-image sequence collapses to a still AVIF)
        video = mod.encode_frames([px, px + 30], fps=5, lossless=True)
        calls.append(lambda: decode_mp4(video))
    monkeypatch.setattr(mod, candidates, ("ihop-absent-library",))
    assert not getattr(mod, probe)()
    for call in calls:
        with pytest.raises(NotImplementedError, match=marker):
            call()
    monkeypatch.undo()
    assert getattr(mod, probe)()


def test_resample_rgb_box_exact_and_bilinear():
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import resample_rgb

    px = np.zeros((16, 16, 3), np.uint8)
    px[:8, :8] = 200
    px[:8, 8:] = 100
    px[8:, :8] = 50
    px[8:, 8:] = 24
    # integer-ratio downscale = exact AREA mean of each box
    out = resample_rgb(px, 8, 8)
    assert out.shape == (8, 8, 3)
    assert (out[:4, :4] == 200).all() and (out[4:, 4:] == 24).all()
    # mixed box: 16x16 -> 1x1 is the global mean, exactly
    one = resample_rgb(px, 1, 1)
    assert int(one[0, 0, 0]) == round((200 + 100 + 50 + 24) / 4)
    # non-integer ratio takes bilinear; corners keep their block values
    up = resample_rgb(px, 24, 24)
    assert up.shape == (24, 24, 3)
    assert int(up[0, 0, 0]) == 200 and int(up[23, 23, 0]) == 24
    # identity is a no-op copy
    assert (resample_rgb(px, 16, 16) == px).all()


def test_resize_images_real_decodes_and_reencodes_png():
    """decode_fn="real" (formerly the marked PIL stub) now runs
    decode_image → resample_rgb → in-tree PNG: the resized payload is a
    genuine PNG whose pixels are the exact box means."""
    import numpy as np

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_png,
        png_bytes,
        resample_rgb,
    )

    px = np.zeros((8, 8, 3), np.uint8)
    px[:, :4] = (10, 20, 30)
    px[:, 4:] = (200, 210, 220)
    resized = resample_rgb(decode_png(png_bytes(px)), 4, 4)
    rt = decode_png(png_bytes(resized))
    assert (rt[:, :2] == (10, 20, 30)).all()
    assert (rt[:, 2:] == (200, 210, 220)).all()


def test_resample_pcm_exactness_properties():
    import numpy as np
    import pytest

    from ihop_reddit_spark.datapipe.multimodal import (
        decode_audio,
        resample_pcm,
        wav_bytes,
    )

    # constants survive any ratio exactly
    const = np.full(800, -12345, np.int64)
    out = resample_pcm(const, 8000, 6000)
    assert len(out) == 600 and (out == -12345).all()
    # integer decimation degenerates to exact sample picks
    ramp = np.arange(100, dtype=np.int64) * 7
    assert (resample_pcm(ramp, 8000, 4000) == ramp[::2]).all()
    # a linear ramp is reproduced exactly by linear interpolation
    up = resample_pcm(np.arange(0, 64, dtype=np.int64) * 4, 8000, 16000)
    assert (np.diff(up.astype(np.int64))[: len(up) - 2] == 2).all()
    # WAV re-encode roundtrip is exact at 16-bit scale
    w = wav_bytes(np.clip(out, -32767, 32767) / 32767.0, 6000)
    rate, s2, _b = decode_audio(w)
    assert rate == 6000 and (s2 == -12345).all()
    with pytest.raises(ValueError, match="zero"):
        resample_pcm(np.arange(2, dtype=np.int64), 48000, 1000)
