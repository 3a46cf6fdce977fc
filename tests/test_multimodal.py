"""Multimodal binary-column plumbing (operators/multimodal.py).

The codec is a deterministic stub (no image/audio libs in-container);
what these tests pin down is the real Spark side: binary payload
construction JVM-side, mapInPandas batch iteration, schema, null
handling for undecodable payloads.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from apache_spark_link_prediction_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    decode_stub,
    extract_media_features,
    make_stub_payload,
    media_from_documents,
)


def test_stub_codec_roundtrip():
    p = make_stub_payload(640, 480, 12345, b"body-bytes")
    meta = decode_stub(p)
    assert meta == {"width": 640, "height": 480, "duration_ms": 12345}
    with pytest.raises(ValueError):
        decode_stub(b"not a payload")
    with pytest.raises(ValueError):
        decode_stub(b"SG")


def test_media_payload_built_jvm_side_matches_python_codec(spark, docs):
    media = media_from_documents(docs.limit(20))
    rows = (
        media.join(docs.select("doc_id", "text", "n_chars"),
                   media.media_id == docs.doc_id)
        .collect()
    )
    assert rows
    for r in rows:
        expected = make_stub_payload(
            int(r.media_id) % 1920 + 1,
            int(r.media_id) % 1080 + 1,
            int(r.n_chars) * 10,
            r.text.encode("utf-8"),
        )
        assert bytes(r.payload) == expected


def test_extract_media_features(spark, docs):
    media = media_from_documents(docs.limit(50)).cache()
    feats = extract_media_features(media)
    assert feats.schema == FEATURE_SCHEMA
    got = {r.media_id: r for r in feats.collect()}
    src = {r.media_id: r for r in media.collect()}
    assert len(got) == len(src) > 0
    for mid, r in got.items():
        payload = bytes(src[mid].payload)
        assert r.n_bytes == len(payload)
        assert r.sha256 == hashlib.sha256(payload).hexdigest()
        assert r.width == mid % 1920 + 1
        assert r.height == mid % 1080 + 1
        assert r.modality == "image"
        assert r.duration_ms is not None and r.duration_ms % 10 == 0


def test_undecodable_payload_quarantined_not_crashed(spark):
    media = spark.createDataFrame(
        [
            (1, "image", "image/jpeg", bytearray(b"\xff\xd8 not really a jpeg")),
            (2, "audio", None, None),
            (3, "video", "video/mp4", bytearray(make_stub_payload(10, 20, 30))),
        ],
        schema="media_id long, modality string, mime string, payload binary",
    )
    got = {r.media_id: r for r in extract_media_features(media).collect()}
    assert got[1].sha256 is not None and got[1].width is None
    assert got[2].n_bytes is None and got[2].sha256 is None
    assert (got[3].width, got[3].height, got[3].duration_ms) == (10, 20, 30)


def test_resize_images(spark, docs):
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_stub,
        media_from_documents,
        resize_images,
    )

    media = media_from_documents(docs.limit(30))
    out = {r.media_id: r for r in resize_images(media, max_side=100).collect()}
    src = {r.media_id: r for r in media.collect()}
    assert len(out) == len(src) > 0
    for mid, r in out.items():
        meta = decode_stub(bytes(src[mid].payload))
        w, h = meta["width"], meta["height"]
        assert max(r.width, r.height) <= 100 or (w <= 100 and h <= 100)
        # aspect preserved within integer rounding; never upscaled
        assert r.width <= w and r.height <= h
        # payload re-decodes with the new dims
        again = decode_stub(bytes(r.payload))
        assert (again["width"], again["height"]) == (r.width, r.height)


def test_sample_frames(spark, docs):
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_stub,
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(docs.limit(20), modality="video")
    out = sample_frames(media, every_ms=500, max_frames=4).collect()
    assert out
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    durations = {r.media_id: decode_stub(bytes(r.payload))["duration_ms"] for r in media.collect()}
    for mid, frames in by_id.items():
        expect = min(4, max(1, durations[mid] // 500))
        assert len(frames) == expect
        assert sorted(f.frame_idx for f in frames) == list(range(expect))
        for f in frames:
            assert f.frame_ts_ms == f.frame_idx * 500
            decode_stub(bytes(f.frame))  # every frame is a valid payload
    # non-video rows yield nothing
    imgs = media_from_documents(docs.limit(5), modality="image")
    assert sample_frames(imgs).count() == 0


def _make_bmp(width: int, height: int) -> bytes:
    """Minimal real 24-bit uncompressed BMP (BITMAPINFOHEADER)."""
    import struct

    row = (width * 3 + 3) // 4 * 4  # 4-byte row padding
    body = b"\x00" * (row * height)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + dib + body


def _make_wav(duration_ms: int, rate: int = 8000) -> bytes:
    """Real PCM WAV via the stdlib wave writer."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * (rate * duration_ms // 1000))
    return buf.getvalue()


def test_real_bmp_and_wav_codecs(spark):
    """The registry decodes REAL formats that need no external library:
    uncompressed BMP (struct header parse) and PCM WAV (stdlib wave) —
    through the full mapInPandas pipeline, mixed with SGM1 stubs and
    garbage in one batch."""
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        extract_media_features,
        make_stub_payload,
    )

    bmp = _make_bmp(17, 9)
    wav = _make_wav(1500)
    assert decode_bmp(bmp) == {"width": 17, "height": 9, "duration_ms": None}
    assert decode_wav(wav)["duration_ms"] == 1500

    rows = [
        (1, "image", "image/bmp", bytearray(bmp)),
        (2, "audio", "audio/wav", bytearray(wav)),
        (3, "image", "application/x-sgm1", bytearray(make_stub_payload(64, 32, 0))),
        (4, "image", "image/jpeg", bytearray(b"\xff\xd8\xff garbage")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, mime string, payload binary"
    )
    got = {r.media_id: r for r in extract_media_features(media).collect()}
    assert (got[1].width, got[1].height) == (17, 9)
    assert got[2].duration_ms == 1500
    assert (got[3].width, got[3].height) == (64, 32)
    # compressed format without a registered codec: quarantined nulls,
    # byte-level features intact
    assert got[4].width is None and got[4].n_bytes == len(rows[3][3])


def _pillow_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pillow_available(), reason="covers the no-Pillow container")
def test_pillow_decoder_quarantines_without_pillow():
    """Without Pillow, JPEG-magic payloads raise ValueError (not
    ImportError) from the decoder — the quarantine contract every other
    corrupt/undecodable payload gets. (PNG no longer needs Pillow: the
    stdlib decode_png path handles it in every environment.)"""
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_auto,
        decode_image_pillow,
    )

    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    with pytest.raises(ValueError, match="Pillow"):
        decode_image_pillow(jpeg)
    with pytest.raises(ValueError, match="Pillow"):
        decode_auto(jpeg)


def test_corrupt_png_payload_through_pipeline(spark):
    """A PNG-magic payload with garbage after the signature quarantines
    (decode_png raises on the truncated/CRC-less chunk) while byte-level
    features survive and the job never crashes — the contract a 100 TB
    run with mixed/foreign codecs depends on."""
    import hashlib

    from apache_spark_link_prediction_spark.operators.multimodal import (
        extract_media_features,
    )

    png_header_only = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    media = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(png_header_only))],
        "media_id long, modality string, mime string, payload binary",
    )
    row = extract_media_features(media).collect()[0]
    assert row.width is None and row.height is None  # quarantined decode
    assert row.n_bytes == len(png_header_only)  # byte features kept
    assert row.sha256 == hashlib.sha256(png_header_only).hexdigest()


def test_null_payload_phash_quarantined_not_crashed(spark):
    """A NULL payload (nullable by schema; every other operator guards
    it) must quarantine to phash=None, not raise TypeError in the
    executor — the r12 memoization moved bytes(payload)/sha256 outside
    the try and an all-null partition killed the whole job (ADVICE
    r12). One real PNG rides along to prove non-null rows still hash."""
    from apache_spark_link_prediction_spark.operators.multimodal import (
        encode_png,
        image_phash,
    )

    png = encode_png(8, 8, bytes(range(192)), color_type=2)
    media = spark.createDataFrame(
        [(1, "image", "image/png", None), (2, "image", "image/png", bytearray(png))],
        "media_id long, modality string, mime string, payload binary",
    )
    rows = {r.media_id: r.phash for r in image_phash(media).collect()}
    assert rows[1] is None
    assert rows[2] is not None


def test_png_stdlib_decoder_real_path(spark):
    """Real PNG decode with NO image library: encode_png → decode_png
    round-trips dimensions AND pixel content (mean sample proves the
    inflate+unfilter ran), and the same payload decodes through the
    full mapInPandas pipeline. Runs in every environment — this is the
    library-free tier of the compressed-image branch."""
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_auto,
        decode_png,
        encode_png,
        extract_media_features,
    )

    w, h = 23, 7
    pixels = bytes((x * 3 + y * 7 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    png = encode_png(w, h, pixels, color_type=2)
    meta = decode_auto(png)
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["mean_sample"] == pytest.approx(sum(pixels) / len(pixels))

    # grayscale + RGBA tiers too
    g = encode_png(4, 2, bytes(range(8)), color_type=0)
    assert decode_png(g)["mean_sample"] == pytest.approx(sum(range(8)) / 8)
    rgba = encode_png(2, 2, bytes(range(16)), color_type=6)
    assert decode_png(rgba)["width"] == 2

    media = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(png))],
        "media_id long, modality string, mime string, payload binary",
    )
    row = extract_media_features(media).collect()[0]
    assert (row.width, row.height) == (w, h)


def test_png_unfilter_all_filter_types():
    """decode_png must invert every PNG scanline filter (0=None 1=Sub
    2=Up 3=Average 4=Paeth): hand-build the filtered raw stream per
    type from a known pixel grid and assert the decoded mean matches
    the unfiltered ground truth. A zlib-level or CRC corruption raises
    (quarantine tier)."""
    import struct as _struct
    import zlib

    from apache_spark_link_prediction_spark.operators.multimodal import (
        _PNG_MAGIC,
        decode_png,
    )

    w, h, ch = 5, 4, 3
    stride = w * ch
    rows = [bytes(((x * 11 + y * 17 + c * 5) % 256) for x in range(w) for c in range(ch)) for y in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    def filter_line(ftype, cur, prev):
        out = bytearray()
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                out.append(cur[i])
            elif ftype == 1:
                out.append((cur[i] - a) & 0xFF)
            elif ftype == 2:
                out.append((cur[i] - b) & 0xFF)
            elif ftype == 3:
                out.append((cur[i] - (a + b) // 2) & 0xFF)
            else:
                out.append((cur[i] - paeth(a, b, c)) & 0xFF)
        return bytes(out)

    prev = bytes(stride)
    raw = b""
    for y in range(h):
        ftype = y % 5 if h >= 5 else [1, 2, 3, 4][y % 4]  # cycle filters
        raw += bytes([ftype]) + filter_line(ftype, rows[y], prev)
        prev = rows[y]

    def chunk(ctype, data):
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = _PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    truth = sum(sum(r) for r in rows) / (stride * h)
    assert decode_png(png)["mean_sample"] == pytest.approx(truth)

    corrupt = bytearray(png)
    corrupt[40] ^= 0xFF  # inside IDAT payload → CRC mismatch
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def test_audio_energy_windows_real_wav_roundtrip(spark):
    """audio_from_documents must emit RIFF/WAVE payloads the stdlib
    decoder accepts, and audio_energy_windows must reproduce the
    closed-form RMS; malformed and non-audio rows quarantine (no
    rows, no crash)."""
    import math

    from apache_spark_link_prediction_spark.operators.multimodal import (
        audio_energy_windows,
        audio_from_documents,
        decode_wav,
    )

    docs = spark.createDataFrame([(7, 120), (8, 49)], "doc_id long, n_chars long")
    media = audio_from_documents(docs)
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    meta = decode_wav(payloads[7])
    assert (meta["channels"], meta["sample_width"], meta["framerate"]) == (1, 2, 1000)
    assert meta["duration_ms"] == 120

    got = {
        (r.media_id, r.win): (r.n_samples, r.rms)
        for r in audio_energy_windows(media).collect()
    }
    # doc 7: 120 samples -> windows of 50/50/20; doc 8: one 49-window
    assert {k for k in got} == {(7, 0), (7, 1), (7, 2), (8, 0)}
    assert got[(7, 2)][0] == 20 and got[(8, 0)][0] == 49
    for (doc_id, win), (n, rms) in got.items():
        xs = [((doc_id * 31 + k * 7) % 201) - 100 for k in range(win * 50, win * 50 + n)]
        want = round(math.sqrt(sum(x * x for x in xs) / n), 6)
        assert rms == want, ((doc_id, win), rms, want)

    bad = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(b"not a wav")),
         (2, "image", "image/png", bytearray(b"\x89PNG"))],
        "media_id long, modality string, mime string, payload binary",
    )
    assert audio_energy_windows(bad).count() == 0


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash) — image near-dup
# ---------------------------------------------------------------------------

def _mk_gray(seed: int, n: int = 32) -> "object":
    import numpy as np

    i = np.arange(n * n).reshape(n, n)
    return ((seed * 37 + (i * i) // 7) % 256).astype(np.float64)


def test_phash_identical_and_perturbed_images():
    import numpy as np

    from apache_spark_link_prediction_spark.operators.multimodal import (
        phash64_from_gray,
    )

    a = _mk_gray(5)
    b = a.copy()
    b[3, 7] += 3  # one-pixel wiggle
    c = _mk_gray(17)  # structurally different content
    ha, hb, hc = (phash64_from_gray(x) for x in (a, b, c))
    assert ha == phash64_from_gray(a)  # deterministic
    assert bin((ha ^ hb) & (2**64 - 1)).count("1") <= 7  # near-dup stays close
    assert bin((ha ^ hc) & (2**64 - 1)).count("1") > 10  # different stays far
    # signed-long contract: representable as Spark LongType
    assert -(2**63) <= ha < 2**63


def test_phash_near_dup_pairs_equal_brute_force(spark):
    from apache_spark_link_prediction_spark.operators.multimodal import (
        image_phash,
        phash_near_dup_pairs,
        png_near_dup_testbed,
    )

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    media = png_near_dup_testbed(docs, classes=12)
    banded = {
        (r.src_id, r.dst_id)
        for r in phash_near_dup_pairs(media).collect()
    }
    sigs = {r.media_id: r.phash for r in image_phash(media).collect()}
    assert len(sigs) == 60 and all(v is not None for v in sigs.values())
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 7
    }
    # pigeonhole: max_hamming(7) < blocks(8) makes banding lossless
    assert banded == brute
    # the engineered classes actually produce near-dups, and payloads
    # are unique (sha256/exact dedup would find NOTHING here)
    assert len(brute) > 0
    payloads = [bytes(r.payload) for r in media.collect()]
    assert len(set(payloads)) == len(payloads)


def test_decode_png_exposes_pixels_roundtrip():
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    pixels = bytes((i * 13) % 256 for i in range(8 * 4))
    meta = decode_png(encode_png(8, 4, pixels, color_type=0))
    assert meta["channels"] == 1
    assert meta["pixels"] == pixels


def test_spectral_centroid_pure_tone_and_quarantine(spark):
    """A 1 kHz sine at 8 kHz with 256-sample frames puts the tone
    exactly on FFT bin 32 — the centroid must read ~1000 Hz in every
    full frame; a white-ish wide-spectrum signal must read brighter;
    non-audio payloads quarantine (skip) without failing the batch."""
    import io
    import struct as st
    import wave as wave_mod

    import numpy as np

    from apache_spark_link_prediction_spark.operators.multimodal import (
        audio_spectral_centroid,
    )

    def wav_bytes(samples: "np.ndarray", rate: int = 8000) -> bytes:
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    k = np.arange(1024)
    tone = (10000 * np.sin(2 * np.pi * 1000 * k / 8000)).round()
    rng = np.random.RandomState(3)
    noise = rng.randint(-10000, 10000, size=1024)
    rows = [
        (1, "audio", "audio/wav", bytearray(wav_bytes(tone))),
        (2, "audio", "audio/wav", bytearray(wav_bytes(noise))),
        (3, "audio", "audio/wav", bytearray(b"not a wav")),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, mime string, payload binary"
    )
    out = audio_spectral_centroid(media).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r.centroid_hz)
    assert 3 not in by_media  # quarantined
    assert all(abs(c - 1000.0) < 1.0 for c in by_media[1]), by_media[1]
    assert sum(by_media[2]) / len(by_media[2]) > 1500  # broadband reads brighter


def test_streaming_media_ingest_flags_known_and_passes_novel(spark, tmp_path):
    """The binaryFile-stream ingest tier must flag closed-form siblings
    of indexed classes (pigeonhole recall is exact for hamming <
    blocks) and pass a genuinely-novel asset through with a null match
    — including a corrupt payload, which quarantines to a null hash and
    never crashes the stream."""
    import numpy as np

    from apache_spark_link_prediction_spark.operators.multimodal import (
        encode_png,
        image_phash,
        phash_block_index,
        png_near_dup_testbed,
        streaming_phash_match,
    )
    from apache_spark_link_prediction_spark.sources import load_table
    from apache_spark_link_prediction_spark.streaming.events import (
        run_stream_to_memory,
    )
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    index = phash_block_index(image_phash(png_near_dup_testbed(docs, classes=50)))

    n = 32 * 32
    d = tmp_path / "ingest"
    d.mkdir()
    for i in range(5):  # siblings of classes 0..4
        base = bytearray(((2 * i + 3) * j + (j * j) // 7) % 256 for j in range(n))
        base[(7_777 + i) % n] ^= 3
        (d / f"dup{i}.png").write_bytes(encode_png(32, 32, bytes(base), color_type=0))
    rng = np.random.RandomState(11)
    (d / "novel.png").write_bytes(
        encode_png(32, 32, rng.randint(0, 256, n).astype(np.uint8).tobytes(), color_type=0)
    )
    (d / "corrupt.png").write_bytes(b"\x89PNG\r\n\x1a\nnot really a png")

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.png")
        .load(str(d))
    )
    flat = run_stream_to_memory(
        streaming_phash_match(stream, index),
        name="t_streaming_media_ingest",
        output_mode="append",
    )
    best = {
        r["path"].rsplit("/", 1)[-1]: (r["matched_id"], r["hamming"])
        for r in flat.groupBy("path")
        .agg(F.min("media_id").alias("matched_id"), F.min("hamming").alias("hamming"))
        .collect()
    }
    for i in range(5):
        mid, ham = best[f"dup{i}.png"]
        assert mid is not None and ham <= 7
        assert mid % 50 == i  # matched its own near-dup class
    assert best["novel.png"] == (None, None)
    assert "corrupt.png" not in best  # null hash never reaches the join


def test_media_ingest_gate_determinism_claims(spark):
    """Underwrites the streaming_media_ingest hash gate (VERDICT r07
    item 6): the gate's SQL oracle asserts that an exact byte copy of
    an indexed member folds to (hamming 0, that member). That is
    provable iff (a) the 100 per-class member pHashes are pairwise
    DISTINCT — hamming 0 then has a unique owner, so the struct-min is
    (0, member) — and (b) every engineered novel image is more than
    max_hamming=7 bits from every index signature, so it folds to
    null. Both are properties of the deterministic testbed images;
    this test measures them so the gate never silently rests on an
    assumption the generator has drifted away from."""
    from apache_spark_link_prediction_spark.operators.multimodal import (
        decode_png,
        encode_png,
        image_phash,
        phash64_from_gray,
        png_near_dup_testbed,
    )
    from apache_spark_link_prediction_spark.sources import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    members = (
        docs.groupBy((F.col("doc_id") % 100).alias("cls"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    sigs = [
        r["phash"]
        for r in image_phash(
            png_near_dup_testbed(members.select("doc_id"), classes=100)
        ).collect()
    ]
    assert all(s is not None for s in sigs)
    assert len(set(sigs)) == len(sigs), "member pHashes must be pairwise distinct"

    import numpy as np

    n = 32 * 32
    for i in range(5):
        base = bytes((255 - (5 * j + 11 * i * i) % 251) % 256 for j in range(n))
        meta = decode_png(encode_png(32, 32, base, color_type=0))
        gray = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(
            meta["height"], meta["width"], meta["channels"]
        ).mean(axis=2)
        ph = phash64_from_gray(gray)
        dmin = min(bin(ph ^ s).count("1") for s in sigs)
        assert dmin > 7, f"novel image {i} within hamming {dmin} of the index"


def test_phash_class_golden_constants():
    """Regenerates the 100 golden per-class pHashes that
    queries.image_phash_class_gate's DuckDB oracle hardcodes, via the
    SAME operator path the query runs (encode_png → decode_png →
    phash64_from_gray), and audits the median-threshold margins: the
    smallest nonzero |DCT coefficient − median| must stay far above
    floating-point summation noise (>=1e-4), so the golden values are
    stable across BLAS implementations and a future numpy cannot flip
    a bit silently. If the testbed formula or the hash path changes,
    this fails BEFORE the driver's hash gate does."""
    import numpy as np

    from apache_spark_link_prediction_spark.operators.multimodal import (
        _dct_matrix,
        decode_png,
        encode_png,
        phash64_from_gray,
    )
    from apache_spark_link_prediction_spark.queries import PHASH_CLASS_GOLDEN

    assert len(PHASH_CLASS_GOLDEN) == 100
    n = 32 * 32
    got = []
    min_margin = float("inf")
    for cls in range(100):
        base = bytes(((2 * cls + 3) * i + (i * i) // 7) % 256 for i in range(n))
        meta = decode_png(encode_png(32, 32, base, color_type=0))
        gray = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(
            meta["height"], meta["width"], meta["channels"]
        ).mean(axis=2)
        got.append(phash64_from_gray(gray))
        m = _dct_matrix(32)
        d = (m @ gray.astype(np.float64) @ m.T)[:8, :8].ravel()
        med = float(np.median(d[1:]))
        margins = np.abs(d - med)
        nz = margins[margins > 0]
        min_margin = min(min_margin, float(nz.min()))
    assert tuple(got) == PHASH_CLASS_GOLDEN
    assert len(set(got)) == 100, "class hashes must be pairwise distinct"
    assert min_margin >= 1e-4, f"threshold margin too thin: {min_margin}"
