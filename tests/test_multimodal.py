"""Multimodal plumbing: mapInPandas decode pipeline — real stdlib codecs
(PPM/BMP/WAV/PPM-stream) plus the deterministic fake for absent ones — and
the perceptual dedup keys built on it (dHash, audio fingerprint)."""

from collections import Counter

import pytest

from parquet_to_clickhouse_schema_spark import registry
from parquet_to_clickhouse_schema_spark.operators.multimodal import (
    N_FEAT,
    decode_payload,
    extract_features,
    multimodal_table,
)
from parquet_to_clickhouse_schema_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

Q = registry.all_queries()

_DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def test_unsupported_format_raises_not_implemented():
    """Bytes with no stdlib codec (not PPM/BMP/WAV) still refuse honestly."""
    with pytest.raises(NotImplementedError):
        decode_payload(b"abc", "image", fake=False)


def test_fake_decode_deterministic():
    a = decode_payload(b"hello world payload", "text", fake=True)
    b = decode_payload(b"hello world payload", "text", fake=True)
    assert a == b
    assert len(a) == N_FEAT


def test_multimodal_schema(spark):
    mm = multimodal_table(spark, SF_SMOKE)
    assert [f.name for f in mm.schema.fields] == ["doc_id", "payload", "meta"]
    assert mm.schema["payload"].dataType.simpleString() == "binary"
    meta = dict(
        (f.name, f.dataType.simpleString()) for f in mm.schema["meta"].dataType.fields
    )
    assert meta == {
        "modality": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    }


def test_extract_features_end_to_end(spark):
    feats = extract_features(spark, SF_SMOKE, fake=True)
    rows = feats.collect()
    assert len(rows) == 500
    r = rows[0]
    assert r.decode_ok is True
    assert len(r.feat) == N_FEAT
    assert r.n_bytes > 0

    # stubbed real decode: plumbing still flows, decode_ok=False
    stubbed = extract_features(spark, SF_SMOKE, fake=False).limit(5).collect()
    assert all(not r.decode_ok for r in stubbed)


def test_resize_respects_size_contract(spark):
    from parquet_to_clickhouse_schema_spark.operators.multimodal import resize_images

    out = resize_images(spark, SF_SMOKE, width=8, height=4).collect()
    assert len(out) > 0
    assert all(len(bytes(r.payload)) == 32 for r in out)
    assert all(r.resize_ok for r in out)
    assert all((r.width, r.height) == (8, 4) for r in out)


def test_resize_real_codec_is_honestly_stubbed(spark):
    from parquet_to_clickhouse_schema_spark.operators.multimodal import resize_images

    out = resize_images(spark, SF_SMOKE, fake=False).collect()
    assert all(not r.resize_ok for r in out)  # NotImplemented surfaces per-row


def test_frame_sampling_fans_out_per_payload(spark):
    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        multimodal_table,
        sample_frames,
    )

    n_docs = multimodal_table(spark, SF_SMOKE).count()
    out = sample_frames(spark, SF_SMOKE, n_frames=4).collect()
    assert len(out) == n_docs * 4
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())
    # deterministic fake: frames are non-empty slices of the payload
    assert all(len(bytes(r.frame)) > 0 for r in out)


# ---- real stdlib codecs (PPM / BMP / WAV / PPM-stream), VERDICT r5 #4 ----


def _ppm_bytes(w, h, rgb):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(rgb)


def _bmp_bytes(w, h, rows_rgb):
    """Minimal uncompressed 24-bit BMP: rows_rgb is h rows (top-down) of
    w (r, g, b) tuples; BMP stores bottom-up BGR with 4-byte row padding."""
    import struct

    stride = (w * 3 + 3) & ~3
    data = b""
    for row in reversed(rows_rgb):
        line = b"".join(bytes((b_, g, r)) for (r, g, b_) in row)
        data += line + b"\x00" * (stride - len(line))
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
    return header + data


def _wav_bytes(samples16, rate=8000):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(struct.pack("<%dh" % len(samples16), *samples16))
    return buf.getvalue()


def test_decode_real_formats_through_pipeline(spark):
    """fake=False over real PPM/BMP/WAV bytes must decode for real inside
    the mapInPandas pipeline; a corrupt payload marks its row, not the job."""
    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        DECODE_SCHEMA,
        decode_payload_batches,
    )

    ppm = _ppm_bytes(2, 1, [255, 0, 0, 0, 0, 255])  # one red, one blue px
    bmp = _bmp_bytes(2, 2, [[(10, 20, 30), (40, 50, 60)],
                            [(70, 80, 90), (100, 110, 120)]])
    wav = _wav_bytes([0, 16384, -16384, 0], rate=8000)
    rows = [
        (1, bytearray(ppm), "image"),
        (2, bytearray(bmp), "image"),
        (3, bytearray(wav), "audio"),
        (4, bytearray(b"\x89PNG not decodable"), "image"),
        (5, bytearray(b"P6\n9999 9999\n255\n"), "image"),  # truncated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, modality string")
    out = {
        r.doc_id: r
        for r in df.mapInPandas(
            decode_payload_batches(fake=False), schema=DECODE_SCHEMA
        ).collect()
    }
    assert out[1].decode_ok and out[2].decode_ok and out[3].decode_ok
    assert not out[4].decode_ok and not out[5].decode_ok
    # PPM: w=2 h=1, mean R = (255+0)/2, mean B = (0+255)/2
    assert out[1].feat[:5] == [2.0, 1.0, 127.5, 0.0, 127.5]
    # BMP round-trips RGB (channel means of the 4 px)
    assert out[2].feat[:5] == [2.0, 2.0, 55.0, 65.0, 75.0]
    # WAV: 1 channel, rate, 4 samples, duration
    assert out[3].feat[:4] == [1.0, 8000.0, 4.0, 0.0005]


def test_resize_real_ppm_nearest_neighbor(spark):
    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        decode_image,
        resize_payload,
    )

    # 2x2 quadrant image upscaled 2x: each quadrant becomes a 2x2 block
    quad = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0]
    src = _ppm_bytes(2, 2, quad)
    out = resize_payload(src, 4, 4, fake=False)
    img = decode_image(out)
    assert img.shape == (4, 4, 3)
    assert tuple(img[0, 0]) == (255, 0, 0) and tuple(img[0, 3]) == (0, 255, 0)
    assert tuple(img[3, 0]) == (0, 0, 255) and tuple(img[3, 3]) == (255, 255, 0)


def test_frame_sample_real_ppm_stream(spark):
    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        sample_frames_payload,
    )

    frames = [_ppm_bytes(1, 1, [i, i, i]) for i in range(10)]
    stream = b"".join(frames)
    got = sample_frames_payload(stream, 4, fake=False)
    # evenly index-sampled real frames: 0, 2, 5, 7
    assert got == [frames[0], frames[2], frames[5], frames[7]]


def test_bmp_topdown_and_32bit(spark):
    """Negative-height (top-down) and 32-bit BMPs decode too."""
    import struct

    from parquet_to_clickhouse_schema_spark.operators.multimodal import decode_image

    # 1x2 top-down 32-bit BMP: rows stored in display order, BGRA
    data = bytes((30, 20, 10, 0)) + bytes((60, 50, 40, 0))
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, 1, -2, 1, 32, 0, len(data), 0, 0, 0, 0)
    img = decode_image(header + data)
    assert img.shape == (2, 1, 3)
    assert tuple(img[0, 0]) == (10, 20, 30) and tuple(img[1, 0]) == (40, 50, 60)


def test_decode_pgm_grayscale_replicates_channels():
    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        decode_image,
    )

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    payload = b"P5\n# comment\n4 3\n255\n" + gray.tobytes()
    img = decode_image(payload)
    assert img.shape == (3, 4, 3)
    assert (img[:, :, 0] == gray).all()
    assert (img[:, :, 1] == gray).all() and (img[:, :, 2] == gray).all()


# ------------------------------------------------------------- PNG (r10) ---


def test_png_roundtrip_every_filter():
    """encode->decode is identity for each individual filter type and for
    mixed cycles — the losslessness q_image_decode_png's oracle gate
    verifies at corpus scale."""
    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (4, 8), (7, 5)]:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            assert (decode_png(encode_png(img, filters)) == img).all()


def test_png_rgba_decodes_to_rgb():
    """Color type 6 (RGBA) decodes; alpha is dropped so every image
    consumer sees the one (h, w, 3) shape."""
    import struct
    import zlib

    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        PNG_SIG,
        decode_image,
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    rng = np.random.RandomState(3)
    h, w = 3, 4
    rgba = rng.randint(0, 256, (h, w, 4), dtype=np.uint8)
    raw = b"".join(b"\x02" + (rgba[y] - (rgba[y - 1] if y else 0)).astype(
        np.uint8
    ).tobytes() for y in range(h))  # Up-filtered scanlines
    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (decode_image(png) == rgba[:, :, :3]).all()


def test_png_interlaced_refuses_honestly():
    """Adam7 interlace is out of scope — the decoder must say so, not
    return garbage."""
    import struct
    import zlib

    import numpy as np

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        PNG_SIG,
        decode_png,
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(png)


def test_png_decode_through_pipeline(spark):
    """q_image_decode_png and q_image_decode see the SAME pixel bytes, so
    their channel means must be identical row-for-row — PNG deflate
    round-trip vs plain PPM passthrough."""
    from parquet_to_clickhouse_schema_spark.operators.llm_media import (
        q_image_decode,
        q_image_decode_png,
    )

    ppm = {
        r["doc_id"]: (r["mean_r"], r["mean_g"], r["mean_b"])
        for r in q_image_decode(spark, SF_SMOKE).collect()
    }
    png = {
        r["doc_id"]: (r["mean_r"], r["mean_g"], r["mean_b"])
        for r in q_image_decode_png(spark, SF_SMOKE).collect()
    }
    assert png == ppm
    assert len(png) > 0


def test_image_dhash_dedup_matches_pure_python(spark):
    """Per-doc dHash == hashing the first-96-byte pixel grid directly in
    Python (no numpy, no decoder) — and exact-duplicate texts must land
    in a shared bucket."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    ref = {}
    for r in docs:
        if len(r.text) < 96:
            continue
        codes = [ord(c) for c in r.text[:96]]
        gray = [
            [sum(codes[(row * 8 + col) * 3 : (row * 8 + col) * 3 + 3])
             for col in range(8)]
            for row in range(4)
        ]
        h = 0
        for row in range(4):
            for col in range(7):
                if gray[row][col] < gray[row][col + 1]:
                    h |= 1 << (row * 7 + col)
        ref[r.doc_id] = h
    rows = Q["q_image_dhash_dedup"](spark, SF_SMOKE).collect()
    got = {r.doc_id: r.dhash for r in rows}
    assert got == ref
    # bucket sizes are consistent with the hashes
    sizes = Counter(got.values())
    for r in rows:
        assert r.bucket_size == sizes[r.dhash]
        assert r.is_dup == (sizes[r.dhash] > 1)


def test_dhash_brightness_invariance_property():
    """THE property that makes dHash a perceptual (not cryptographic)
    signature: a uniform brightness shift adds the same constant to every
    gray sum, preserving all adjacent-pair orderings — the hash is
    unchanged. Exercised over hypothesis-generated 8x4 P6 payloads (no
    Spark needed; dhash_image is the exact kernel the operator ships)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        dhash_image,
    )

    header = b"P6\n8 4\n255\n"

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(0, 155), min_size=96, max_size=96),
        st.integers(1, 100),
    )
    def check(pixels, shift):
        base = header + bytes(pixels)
        shifted = header + bytes(p + shift for p in pixels)  # never clips
        assert dhash_image(base) == dhash_image(shifted)
        assert 0 <= dhash_image(base) < (1 << 28)

    check()


def test_audio_fingerprint_matches_pure_python(spark):
    """Per-doc audio fingerprint == hashing the first-96-byte amplitude
    stream directly in Python (no numpy, no wave parser)."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    ref = {}
    for r in docs:
        if len(r.text) < 96:
            continue
        amps = [ord(c) - 128 for c in r.text[:96]]
        e = [sum(a * a for a in amps[f * 4 : f * 4 + 4]) for f in range(24)]
        h = 0
        for f in range(23):
            if e[f] < e[f + 1]:
                h |= 1 << f
        ref[r.doc_id] = h
    rows = Q["q_audio_fingerprint_dedup"](spark, SF_SMOKE).collect()
    got = {r.doc_id: r.afp for r in rows}
    assert got == ref
    sizes = Counter(got.values())
    for r in rows:
        assert r.bucket_size == sizes[r.afp]
        assert r.is_dup == (sizes[r.afp] > 1)


def test_audio_fingerprint_gain_invariance_property():
    """THE property that makes the fingerprint perceptual: uniform gain
    scales every frame energy by the same factor, preserving all
    orderings — the fingerprint is unchanged (hypothesis-generated
    amplitude streams, integer gain, no clipping by construction)."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_to_clickhouse_schema_spark.operators.multimodal import (
        audio_fingerprint,
    )

    def wav(amps):
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + len(amps))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data"
            + struct.pack("<I", len(amps))
        )
        return hdr + bytes(a + 128 for a in amps)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(-42, 42), min_size=96, max_size=96),
           st.integers(2, 3))
    def check(amps, gain):
        scaled = [a * gain for a in amps]  # |a*3| <= 126: never clips
        assert audio_fingerprint(wav(amps)) == audio_fingerprint(wav(scaled))
        assert 0 <= audio_fingerprint(wav(amps)) < (1 << 23)

    check()


@pytest.mark.parametrize(
    "key", ["q_image_dhash_dedup", "q_audio_fingerprint_dedup"]
)
def test_perceptual_dedup_nonascii_fails_loud(spark, tmp_path, key):
    """A doc whose 96-char prefix UTF-8-encodes to >96 bytes must fail the
    job with its doc_id, not ship a payload the oracle can't mirror."""
    sf = str(tmp_path)
    good = "a" * 96
    bad = "é" + "a" * 95  # 96 chars, 97 UTF-8 bytes
    spark.createDataFrame(
        [(1, good, "en", "s", 96), (2, bad, "fr", "s", 96)], _DOC_SCHEMA
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception, match="non-single-byte.*doc_id=2"):
        Q[key](spark, sf).collect()


def test_perceptual_dedup_decode_failure_fails_loud(spark):
    """The _loud_hash guard converts an ok=False row into a job failure
    naming the doc_id (before r18 the row was silently filtered)."""
    from parquet_to_clickhouse_schema_spark.operators.llm_media import _loud_hash

    df = spark.createDataFrame(
        [(7, 123, True), (8, 0, False)],
        "doc_id long, dhash long, dhash_ok boolean",
    )
    ok = df.filter("doc_id = 7").select(
        "doc_id", _loud_hash("dhash_ok", "dhash", "image")
    )
    assert ok.collect()[0].dhash == 123
    with pytest.raises(Exception, match="image decode failed for doc_id=8"):
        df.select("doc_id", _loud_hash("dhash_ok", "dhash", "image")).collect()


def test_perceptual_dedup_all_rows_kept(spark, tmp_path):
    """Row parity with the oracle's WHERE length(text) >= 96: every
    qualifying doc appears exactly once in the dedup output."""
    sf = str(tmp_path)
    rows = [(i, chr(97 + i % 26) * 100, "en", "s", 100) for i in range(12)]
    rows.append((99, "short", "en", "s", 5))  # below the 96-char floor
    spark.createDataFrame(rows, _DOC_SCHEMA).write.parquet(
        f"{sf}/documents.parquet"
    )
    for key in ("q_image_dhash_dedup", "q_audio_fingerprint_dedup"):
        out = Q[key](spark, sf)
        assert out.count() == 12
        assert out.select("doc_id").distinct().count() == 12
