"""Multimodal column operators: image/audio/video as opaque ``binary``
payloads with typed metadata, processed by Arrow-batched pandas
functions over ``mapInPandas``.

The Spark-side plumbing — schemas, batch iteration, partition sizing,
metadata propagation — is real and tested. The codec layer
(``DECODERS``) decodes the library-free formats for REAL — uncompressed
BMP (pure struct header parse) and PCM WAV (stdlib ``wave``) — and
falls back to a clearly-marked deterministic stub (``decode_stub``,
SGM1 synthetic header) for compressed formats, since the container
ships no Pillow/PyAV; register real decoders in ``decode_auto`` when
the deployment has them.

Scale notes: payloads stay in the ``binary`` column end-to-end (no
base64 round-trips); mapInPandas streams Arrow batches so one task
never materializes its whole partition; feature extraction emits only
small typed columns, so the shuffle after extraction moves features,
not media. Partition count should target ~128 MB of payload per task
(``spark.sql.files.maxPartitionBytes``).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import signature_band_pairs, signature_block_keys

# Typed media metadata carried alongside every payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

# Synthetic payload layout used by the stub codec (and the datagen in
# tests): magic 'SGM1' + u16 width + u16 height + u32 duration_ms + body.
_STUB_MAGIC = b"SGM1"
_STUB_HEADER = struct.Struct(">4sHHI")
# plain int for mapInPandas closures: a captured struct.Struct would fail
# cloudpickle serialization of the worker function
_STUB_HEADER_SIZE = _STUB_HEADER.size


def make_stub_payload(width: int, height: int, duration_ms: int, body: bytes = b"") -> bytes:
    return _STUB_HEADER.pack(_STUB_MAGIC, width, height, duration_ms) + body


def decode_stub(payload: bytes) -> dict:
    """STUB DECODER — deterministic fake standing in for a real codec
    (Pillow / libsndfile / ffmpeg are not installed in this container).
    Parses the synthetic SGM1 header; raises on anything else exactly
    like a real decoder would on a corrupt file."""
    if payload is None or len(payload) < _STUB_HEADER.size or payload[:4] != _STUB_MAGIC:
        raise ValueError("decode_stub: not an SGM1 payload")
    _, width, height, duration_ms = _STUB_HEADER.unpack(payload[: _STUB_HEADER.size])
    return {"width": width, "height": height, "duration_ms": duration_ms}


def decode_bmp(payload: bytes) -> dict:
    """REAL decoder for uncompressed BMP (no image library needed —
    the format is a fixed struct header): 'BM' magic, then a DIB
    BITMAPINFOHEADER at offset 14 with little-endian i32 width/height
    (height may be negative for top-down rows)."""
    if payload is None or len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP payload")
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size >= 40:
        width, height = struct.unpack_from("<ii", payload, 18)
    elif dib_size == 12:  # BITMAPCOREHEADER: u16 dims
        width, height = struct.unpack_from("<HH", payload, 18)
    else:
        raise ValueError(f"decode_bmp: unknown DIB header size {dib_size}")
    return {"width": abs(width), "height": abs(height), "duration_ms": None}


def decode_wav(payload: bytes) -> dict:
    """REAL decoder for PCM WAV via the stdlib ``wave`` module (RIFF
    container, no external audio library needed): duration from
    frames / framerate."""
    import io
    import wave

    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(payload)) as w:
        rate = w.getframerate()
        duration_ms = int(w.getnframes() * 1000 / rate) if rate else None
        channels = w.getnchannels()
        sample_width = w.getsampwidth()
    return {
        "width": None,
        "height": None,
        "duration_ms": duration_ms,
        "channels": channels,
        "sample_width": sample_width,
        "framerate": rate,
    }


_JPEG_MAGIC = b"\xff\xd8\xff"
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# PNG color type → samples per pixel (8-bit, non-interlaced decode path).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(payload: bytes) -> dict:
    """REAL decoder for PNG, pure stdlib (struct + zlib): chunk walk
    with CRC verification, IHDR meta for every valid PNG, and a full
    IDAT inflate + per-scanline unfilter (filters 0-4 incl. Paeth) for
    the 8-bit non-interlaced gray/RGB/gray-alpha/RGBA cases — so the
    compressed-image branch is exercised end-to-end with no Pillow.
    Palette / 16-bit / interlaced PNGs return header meta only (the
    IHDR is authoritative for dimensions); corrupt payloads raise
    ValueError for the quarantine contract."""
    import zlib

    if payload is None or len(payload) < 33 or payload[:8] != _PNG_MAGIC:
        raise ValueError("decode_png: not a PNG payload")
    pos, idat, ihdr = 8, b"", None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("decode_png: truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"decode_png: bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("decode_png: missing IHDR")
    width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    meta = {"width": width, "height": height, "duration_ms": None}
    if (
        bit_depth != 8
        or interlace != 0
        or color_type not in _PNG_CHANNELS
        or not idat
        or not (width and height)
    ):
        return meta  # header-only tier (palette/16-bit/interlaced)
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    raw = zlib.decompress(idat)
    if len(raw) != (stride + 1) * height:
        raise ValueError("decode_png: IDAT size mismatch")
    prev = bytearray(stride)
    pixel_rows: list[bytes] = []
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"decode_png: unknown filter {ftype}")
        prev = line
        meta["sample_sum"] = meta.get("sample_sum", 0) + sum(line)
        pixel_rows.append(bytes(line))
    # pixel-derived stat proves the inflate+unfilter path actually ran
    # (extra keys are ignored by FEATURE_SCHEMA projection, like WAV's)
    meta["mean_sample"] = meta.pop("sample_sum", 0) / (stride * height)
    meta["channels"] = ch
    meta["pixels"] = b"".join(pixel_rows)
    return meta


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Minimal stdlib PNG writer (filter 0 scanlines, one IDAT): the
    synthesis twin of ``decode_png`` for tests/datagen. ``pixels`` is
    row-major 8-bit samples, ``width*height*channels`` bytes."""
    import zlib

    ch = _PNG_CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError("encode_png: pixel buffer size mismatch")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * ch
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image_pillow(payload: bytes) -> dict:
    """REAL decoder for compressed images (JPEG/PNG/WebP/…) via Pillow,
    import-guarded: the import happens lazily inside the worker (this
    container ships no Pillow — there the call raises ValueError and the
    pipeline quarantines the row; a deployment with Pillow installed
    gets real decode with no code change). ``Image.open`` on a BytesIO
    reads only the header for size — no full pixel decode."""
    try:
        from PIL import Image
    except ImportError as exc:  # container without Pillow → quarantine
        raise ValueError("decode_image_pillow: Pillow not installed") from exc
    import io

    with Image.open(io.BytesIO(payload)) as im:
        return {"width": im.width, "height": im.height, "duration_ms": None}


def decode_auto(payload: bytes) -> dict:
    """Magic-byte dispatch: real BMP/WAV/PNG decoders for the formats
    that need no external library (PNG via the stdlib zlib path above),
    Pillow-backed JPEG when the deployment ships Pillow (quarantined
    otherwise), SGM1 stub for the synthetic testbed payloads. MP3/MP4
    still need PyAV — register their decoders here when available;
    everything downstream is unchanged."""
    if payload is not None and len(payload) >= 12:
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return decode_wav(payload)
        if payload[:8] == _PNG_MAGIC:
            return decode_png(payload)
        if payload[:3] == _JPEG_MAGIC:
            return decode_image_pillow(payload)
    return decode_stub(payload)


# Modality → decoder registry. BMP and PCM WAV decode for real (pure
# struct / stdlib wave); compressed formats fall back to the SGM1 stub
# until a real codec is registered; the Spark plumbing is unchanged.
DECODERS: dict[str, Callable[[bytes], dict]] = {
    "image": decode_auto,
    "audio": decode_auto,
    "video": decode_auto,
}


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract every payload via ``mapInPandas``
    (Arrow batches; one Python worker per partition, vectorized
    hashing). Undecodable payloads yield null decode fields but keep
    byte-level features — at 100 TB you quarantine, not crash."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else None
                    ),
                    "sha256": pdf["payload"].map(
                        lambda p: hashlib.sha256(p).hexdigest() if p is not None else None
                    ),
                }
            )
            decoded = []
            for modality, payload in zip(pdf["modality"], pdf["payload"]):
                try:
                    decoded.append(DECODERS[modality](payload))
                except Exception:
                    decoded.append({})
            out["width"] = pd.array(
                [d.get("width") for d in decoded], dtype="Int32"
            )
            out["height"] = pd.array(
                [d.get("height") for d in decoded], dtype="Int32"
            )
            out["duration_ms"] = pd.array(
                [d.get("duration_ms") for d in decoded], dtype="Int32"
            )
            yield out

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


PNG_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_sample", T.DoubleType(), True),
    ]
)


def png_from_documents(docs: DataFrame) -> DataFrame:
    """Testbed adapter: a REAL 16×4 RGB PNG per document, pixels closed-form
    from doc_id (pixel i = (doc_id·31 + i·7) mod 256) so downstream
    decode results are reproducible by any engine from the id alone.
    encode_png needs zlib, so this is an Arrow ``mapInPandas`` step —
    payload built worker-side, never driver-side."""
    n = 16 * 4 * 3

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "image",
                    "mime": "image/png",
                    "payload": [
                        encode_png(
                            16, 4, bytes((int(d) * 31 + i * 7) % 256 for i in range(n))
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(op, schema=MEDIA_SCHEMA)


def decode_png_features(media: DataFrame) -> DataFrame:
    """Pixel-level PNG decode features via the stdlib codec: dimensions
    plus the mean sample value (proof the inflate+unfilter ran, not
    just a header peek). Undecodable rows quarantine to nulls."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = []
            for payload in pdf["payload"]:
                try:
                    decoded.append(decode_png(payload))
                except Exception:
                    decoded.append({})
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.array([d.get("width") for d in decoded], dtype="Int32"),
                    "height": pd.array([d.get("height") for d in decoded], dtype="Int32"),
                    "mean_sample": pd.array(
                        [d.get("mean_sample") for d in decoded], dtype="Float64"
                    ),
                }
            )

    return media.mapInPandas(op, schema=PNG_FEATURE_SCHEMA)


def media_from_documents(docs: DataFrame, *, modality: str = "image") -> DataFrame:
    """Adapter for the testbed: wrap each document's text bytes in a
    synthetic SGM1 payload so the full binary pipeline is exercisable
    without media files. width/height derive deterministically from
    doc_id; duration from n_chars."""
    w = F.col("doc_id") % 1920 + 1
    h = F.col("doc_id") % 1080 + 1
    dur = F.col("n_chars") * 10
    header = F.unhex(
        F.concat(
            F.lit(_STUB_MAGIC.hex().upper()),
            _be_hex(w, 2),
            _be_hex(h, 2),
            _be_hex(dur, 4),
        )
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.lit("application/x-sgm1").alias("mime"),
        F.concat(header, F.encode("text", "UTF-8")).alias("payload"),
    )


def _be_hex(col, width_bytes: int):
    """Big-endian fixed-width hex encoding of a non-negative int column —
    unhex(concat(...)) builds the binary header JVM-side (no Python in
    the plan, concat stays whole-stage-codegen'd)."""
    return F.lpad(F.hex(col.cast("long")), width_bytes * 2, "0")


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize_images(media: DataFrame, *, max_side: int = 256) -> DataFrame:
    """Resize every decodable image payload so its longer side is
    ``max_side`` (aspect preserved, never upscaled). The transform runs
    in ``mapInPandas`` — payload in, payload out, one Arrow batch at a
    time, so a partition's media never sits fully in Python memory.

    STUB CODEC: with no image library in-container, "resizing" rewrites
    the SGM1 header dims and truncates the body proportionally to the
    area ratio — deterministic, testable plumbing with the exact
    signature a Pillow-backed resize drops into. Undecodable payloads
    pass through unchanged (quarantine-not-crash)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_w, out_h, out_p = [], [], []
            for payload in pdf["payload"]:
                try:
                    meta = decode_stub(bytes(payload))
                    w, h = meta["width"], meta["height"]
                    scale = min(1.0, max_side / max(w, h, 1))
                    nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                    body = bytes(payload)[_STUB_HEADER_SIZE:]
                    keep = max(1, int(len(body) * scale * scale)) if body else 0
                    out_p.append(
                        make_stub_payload(nw, nh, meta["duration_ms"], body[:keep])
                    )
                    out_w.append(nw)
                    out_h.append(nh)
                except Exception:
                    out_p.append(None if payload is None else bytes(payload))
                    out_w.append(None)
                    out_h.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "width": pd.array(out_w, dtype="Int32"),
                    "height": pd.array(out_h, dtype="Int32"),
                    "payload": out_p,
                }
            )

    return media.mapInPandas(op, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_frames(media: DataFrame, *, every_ms: int = 1000, max_frames: int = 16) -> DataFrame:
    """Sample frames from video payloads at a fixed period — a 1→N
    exploding ``mapInPandas`` (each input row yields up to
    ``max_frames`` frame rows; downstream feature extraction then
    treats frames as independent images).

    STUB CODEC: a "frame" is an SGM1 image payload at the video's dims
    whose body is a deterministic slice of the source body keyed by the
    frame timestamp — the shape (schema, fan-out, batch memory) is what
    an ffmpeg/PyAV-backed sampler produces. Undecodable or non-video
    rows yield no frames."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for media_id, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                if modality != "video" or payload is None:
                    continue
                try:
                    meta = decode_stub(bytes(payload))
                except Exception:
                    continue
                body = bytes(payload)[_STUB_HEADER_SIZE:]
                n = min(max_frames, max(1, meta["duration_ms"] // every_ms))
                for i in range(n):
                    ts = i * every_ms
                    off = (ts % max(len(body), 1)) if body else 0
                    frames.append(
                        make_stub_payload(
                            meta["width"], meta["height"], 0, body[off : off + 64]
                        )
                    )
                    ids.append(media_id)
                    idxs.append(i)
                    tss.append(ts)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_ts_ms": pd.array(tss, dtype="int32"),
                    "frame": frames,
                }
            )

    return media.mapInPandas(op, schema=FRAME_SCHEMA)


AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("win", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def audio_from_documents(docs: DataFrame) -> DataFrame:
    """Testbed adapter: synthesize a REAL 16-bit mono PCM WAV payload
    per document (stdlib ``wave`` writer — the same RIFF container
    :func:`decode_wav` parses). One sample per character; sample k is
    the deterministic integer ``((doc_id·31 + k·7) mod 201) − 100``,
    so every downstream windowed statistic is closed-form in
    (doc_id, n_chars) and a scalar SQL oracle can hash-check the whole
    binary audio path end-to-end. Arrow-batched mapInPandas: the
    Python synth stands in for the decode-side I/O a real corpus pays."""
    import io
    import wave as wave_mod

    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                k = np.arange(n, dtype=np.int64)
                samples = ((int(doc_id) * 31 + k * 7) % 201 - 100).astype("<i2")
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(1000)
                    w.writeframes(samples.tobytes())
                ids.append(int(doc_id))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "modality": ["audio"] * len(ids),
                    "mime": ["audio/wav"] * len(ids),
                    "payload": payloads,
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("mime", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    return docs.select("doc_id", "n_chars").mapInPandas(op, schema=schema)


def audio_impulse_from_documents(docs: DataFrame) -> DataFrame:
    """Testbed adapter: synthesize an IMPULSE-TRAIN 16-bit mono PCM WAV
    per document — amplitude 10000 at every P-th sample, 0 elsewhere,
    with period ``P = 8·2^(doc_id mod 4) ∈ {8,16,32,64}`` and length
    padded down to a multiple of P (min one period).

    Why this waveform exists (next to the sawtooth of
    :func:`audio_from_documents`): its DFT is closed-form EXACT — for
    a frame of length L with P | L, X_m = A·L/P when m ≡ 0 (mod L/P),
    else 0, so every non-DC nonzero rfft bin has the SAME magnitude
    and the spectral centroid collapses to the unweighted mean of the
    harmonic frequencies, rate·(P+2)/(4P) — a dyadic rational (312.5,
    281.25, 265.625, 257.8125 Hz at rate 1000), independent of frame
    length. That lets a scalar SQL oracle hash-check the REAL decode →
    rFFT → centroid path (audio_spectral_centroid) end to end: FFT
    round-off perturbs the zero bins by ~1e-13 of the peak, orders of
    magnitude inside the 4-dp rounding. P | 256 keeps every
    256-sample centroid window (and the P-multiple tail) phase-aligned."""
    import io
    import wave as wave_mod

    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                p = 8 * (1 << (int(doc_id) % 4))
                n = max(p, (int(n_chars) // p) * p)
                samples = np.zeros(n, dtype="<i2")
                samples[::p] = 10000
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(1000)
                    w.writeframes(samples.tobytes())
                ids.append(int(doc_id))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "modality": ["audio"] * len(ids),
                    "mime": ["audio/wav"] * len(ids),
                    "payload": payloads,
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("mime", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    return docs.select("doc_id", "n_chars").mapInPandas(op, schema=schema)


def audio_energy_windows(media: DataFrame) -> DataFrame:
    """50-sample windowed RMS energy over PCM WAV payloads — the first feature
    any audio curation pipeline computes (silence/clipping detection,
    energy-based segmentation). REAL decode via the stdlib ``wave``
    reader, vectorized RMS via numpy inside an exploding mapInPandas
    (1 payload → ceil(n/window) window rows); malformed or non-audio
    payloads yield no rows (quarantine contract as in
    extract_media_features). Emits (media_id, win, n_samples, rms)
    with rms rounded to 6 dp."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wins, ns, rmss = [], [], [], []
            for media_id, modality, payload in zip(
                pdf["media_id"], pdf["modality"], pdf["payload"]
            ):
                if modality != "audio" or payload is None:
                    continue
                try:
                    meta = decode_wav(bytes(payload))
                except Exception:
                    continue
                if meta["sample_width"] != 2 or meta["channels"] != 1:
                    continue
                body = bytes(payload)
                import io
                import wave as wave_mod

                with wave_mod.open(io.BytesIO(body)) as w:
                    samples = np.frombuffer(
                        w.readframes(w.getnframes()), dtype="<i2"
                    ).astype(np.float64)
                for win in range(0, (len(samples) + 49) // 50):
                    chunk = samples[win * 50 : (win + 1) * 50]
                    ids.append(media_id)
                    wins.append(win)
                    ns.append(len(chunk))
                    rmss.append(round(float(np.sqrt(np.mean(chunk * chunk))), 6))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "win": pd.array(wins, dtype="int32"),
                    "n_samples": pd.array(ns, dtype="int32"),
                    "rms": pd.array(rmss, dtype="float64"),
                }
            )

    return media.mapInPandas(op, schema=AUDIO_ENERGY_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing — image near-duplicate detection
# ---------------------------------------------------------------------------

def _dct_matrix(n: int):
    """Orthonormal DCT-II basis matrix (numpy, cached per size)."""
    import numpy as np

    key = ("dct", n)
    cached = _dct_matrix.__dict__.get(key)
    if cached is None:
        k = np.arange(n).reshape(-1, 1)
        x = np.arange(n).reshape(1, -1)
        cached = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        cached[0] /= np.sqrt(2.0)
        _dct_matrix.__dict__[key] = cached
    return cached


def phash64_from_gray(gray) -> int:
    """64-bit perceptual hash of a grayscale image (float array, h×w):
    nearest-neighbor downsample to 32×32 → 2-D DCT-II → keep the 8×8
    low-frequency block → threshold each coefficient against the median
    of the 63 non-DC coefficients (the DC bit thresholds against the
    same median, keeping the hash 64 bits and near-balanced). Returned
    as a SIGNED 64-bit value so it stores in a Spark LongType and
    ``bit_count(xor)`` computes Hamming distance JVM-side."""
    import numpy as np

    h, w = gray.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g32 = gray[np.ix_(ys, xs)].astype(np.float64)
    m = _dct_matrix(32)
    d = (m @ g32 @ m.T)[:8, :8].ravel()
    med = float(np.median(d[1:]))
    bits = 0
    for i, v in enumerate(d):
        if v > med:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual hash per image payload (PNG via the stdlib codec;
    undecodable / header-only payloads quarantine to null). The hash is
    the ONLY thing shuffled downstream — 8 bytes per image, never
    pixels; this is what makes image near-dup viable at 100 TB of
    media: the expensive decode+DCT is a map-only pass over the payload
    partitions, and the pair-finding runs on longs.

    Byte-identical payloads within a task hit a bounded memo (keyed by
    the payload's sha256, cleared at 8192 entries) — a dedup-bound
    media corpus is duplicate-heavy by definition, and the pHash is a
    pure function of the bytes, so re-running decode+DCT per copy is
    pure waste (ADVICE r11: the class-testbed gate paid n_docs hashes
    where 100 distinct payloads exist). Unique-payload corpora pay one
    sha256 per image, noise next to the DCT."""
    import hashlib

    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[bytes, int | None] = {}
        for pdf in batches:
            ids, hashes = [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                # The media schema declares payload nullable and every
                # other operator quarantines NULL payloads to null
                # output; hashing one here raised TypeError and killed
                # the whole job (ADVICE r12).
                if payload is None:
                    ids.append(int(media_id))
                    hashes.append(None)
                    continue
                raw = bytes(payload)
                key = hashlib.sha256(raw).digest()
                if key in memo:
                    ids.append(int(media_id))
                    hashes.append(memo[key])
                    continue
                ph = None
                try:
                    meta = decode_png(raw)
                    px = meta.get("pixels")
                    if px is not None:
                        arr = np.frombuffer(px, dtype=np.uint8).reshape(
                            meta["height"], meta["width"], meta["channels"]
                        )
                        gray = arr.mean(axis=2)
                        ph = phash64_from_gray(gray)
                except Exception:
                    ph = None
                if len(memo) >= 8192:
                    memo.clear()
                memo[key] = ph
                ids.append(int(media_id))
                hashes.append(ph)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    return media.mapInPandas(op, schema=PHASH_SCHEMA)


# pHash pigeonhole shape: 8 blocks of 8 bits, so two 64-bit hashes
# within Hamming distance 7 share at least one block key
# (dedup.signature_block_keys builds them for every pHash tier).
_PHASH_BLOCKS = 8
_PHASH_MAX_HAMMING = 7


def phash_near_dup_pairs(media: DataFrame) -> DataFrame:
    """Image near-duplicate pairs (Hamming ≤ 7): perceptual hash →
    banded Hamming join (operators.dedup.signature_band_pairs — the
    same pigeonhole machinery as SimHash text dedup, reused on image
    signatures: ``signature_block_keys`` buckets, the shared
    ``bucket_self_join``). Emits (src_id, dst_id, hamming), src_id <
    dst_id."""
    sigs = image_phash(media).filter(F.col("phash").isNotNull()).select(
        F.col("media_id").alias("__id"), F.col("phash").alias("__sh")
    )
    return signature_band_pairs(
        sigs, bits=64, blocks=_PHASH_BLOCKS, max_hamming=_PHASH_MAX_HAMMING
    )


def png_near_dup_testbed(docs: DataFrame, *, classes: int = 100) -> DataFrame:
    """Testbed adapter with ENGINEERED near-duplicates: every doc in the
    same ``doc_id % classes`` class renders the same closed-form 32×32
    grayscale PNG except for a one-byte perturbation at a doc-specific
    position — visually near-identical images whose perceptual hashes
    collide or differ by a few bits, never exact payload duplicates
    (sha256 dedup would miss ALL of them; that is the point of pHash)."""
    n = 32 * 32

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                cls = d % classes
                # class-dependent FREQUENCY (2cls+3 multiplies i), not a
                # constant brightness shift — a shift would leave every
                # non-DC DCT coefficient identical across classes and
                # make all classes mutual near-dups
                base = bytearray(
                    ((2 * cls + 3) * i + (i * i) // 7) % 256 for i in range(n)
                )
                base[d % n] ^= 3  # per-doc one-byte wiggle
                payloads.append(encode_png(32, 32, bytes(base), color_type=0))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "image",
                    "mime": "image/png",
                    "payload": payloads,
                }
            )

    return docs.select("doc_id").mapInPandas(op, schema=MEDIA_SCHEMA)


def png_class_testbed(docs: DataFrame) -> DataFrame:
    """Hash-gate twin of :func:`png_near_dup_testbed`: the SAME
    closed-form class-frequency PNG family but WITHOUT the per-doc
    one-byte wiggle, so every doc in class ``doc_id % 100`` renders
    a byte-identical payload and the perceptual hash is a pure function
    of the class. That makes the full binary pipeline (stdlib PNG
    encode → decode → 32×32 DCT → 64-bit pHash) oracle-checkable
    against per-class golden constants (queries.image_phash_class_gate)
    — the image analogue of audio_impulse_from_documents. The wiggled
    testbed stays the near-dup demo (sha256 misses its pairs); this one
    pins the hash computation itself.

    The payload is a pure function of ``doc_id % 100``, so each
    task memoizes the ≤100 encoded PNGs in the mapInPandas closure
    (ADVICE r11: the unmemoized form paid n_docs PNG encodes where 100
    suffice — at 100 TB that is the difference between O(docs) and
    O(classes) encode work per task)."""
    n = 32 * 32

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_cls: dict[int, bytes] = {}

        def payload_for(cls: int) -> bytes:
            png = by_cls.get(cls)
            if png is None:
                base = bytes(
                    ((2 * cls + 3) * i + (i * i) // 7) % 256 for i in range(n)
                )
                png = by_cls[cls] = encode_png(32, 32, base, color_type=0)
            return png

        for pdf in batches:
            payloads = [payload_for(int(d) % 100) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "modality": "image",
                    "mime": "image/png",
                    "payload": payloads,
                }
            )

    return docs.select("doc_id").mapInPandas(op, schema=MEDIA_SCHEMA)


AUDIO_CENTROID_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("win", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("centroid_hz", T.DoubleType(), True),
    ]
)


def audio_spectral_centroid(media: DataFrame) -> DataFrame:
    """256-sample windowed spectral centroid over 16-bit mono PCM WAV payloads —
    the brightness feature audio curation filters on (speech vs music
    vs noise), and the repo's real frequency-domain tier next to the
    time-domain RMS (audio_energy_windows): per frame, rFFT magnitude
    spectrum |X_k| and centroid = Σ f_k·|X_k| / Σ|X_k| in Hz (DC bin
    excluded so constant offset carries no brightness). Arrow-batched
    mapInPandas; non-PCM16-mono payloads quarantine (skip), frames
    shorter than 8 samples emit null (spectrum too coarse to mean
    anything)."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wave_mod

        for pdf in batches:
            ids, wins, ns, cents = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    meta = decode_wav(bytes(payload))
                except Exception:
                    continue
                if meta["sample_width"] != 2 or meta["channels"] != 1:
                    continue
                with wave_mod.open(io.BytesIO(bytes(payload))) as w:
                    rate = w.getframerate()
                    samples = np.frombuffer(
                        w.readframes(w.getnframes()), dtype="<i2"
                    ).astype(np.float64)
                for win in range((len(samples) + 255) // 256):
                    chunk = samples[win * 256 : (win + 1) * 256]
                    ids.append(int(media_id))
                    wins.append(win)
                    ns.append(len(chunk))
                    if len(chunk) < 8:
                        cents.append(None)
                        continue
                    mag = np.abs(np.fft.rfft(chunk))[1:]  # drop DC
                    freqs = np.fft.rfftfreq(len(chunk), d=1.0 / rate)[1:]
                    total = mag.sum()
                    cents.append(
                        round(float((freqs * mag).sum() / total), 4)
                        if total > 0
                        else None
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "win": pd.array(wins, dtype="int32"),
                    "n_samples": pd.array(ns, dtype="int32"),
                    "centroid_hz": pd.array(cents, dtype="Float64"),
                }
            )

    return media.mapInPandas(op, schema=AUDIO_CENTROID_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming media ingestion — continuous binaryFile → decode → pHash →
# near-dup flag against a static signature index
# ---------------------------------------------------------------------------

PHASH_BY_PATH_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def image_phash_by_path(files: DataFrame) -> DataFrame:
    """Perceptual hash per ``(path, content)`` row — the binaryFile-
    source twin of :func:`image_phash` (works on batch AND streaming
    frames; ``mapInPandas`` is streaming-composable). Undecodable
    payloads quarantine to a null hash, exactly like the batch tier."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, hashes = [], []
            for path, payload in zip(pdf["path"], pdf["content"]):
                ph = None
                try:
                    meta = decode_png(bytes(payload))
                    px = meta.get("pixels")
                    if px is not None:
                        arr = np.frombuffer(px, dtype=np.uint8).reshape(
                            meta["height"], meta["width"], meta["channels"]
                        )
                        ph = phash64_from_gray(arr.mean(axis=2))
                except Exception:
                    ph = None
                paths.append(str(path))
                hashes.append(ph)
            yield pd.DataFrame(
                {"path": paths, "phash": pd.array(hashes, dtype="Int64")}
            )

    return files.select("path", "content").mapInPandas(op, schema=PHASH_BY_PATH_SCHEMA)


def phash_block_index(sigs: DataFrame) -> DataFrame:
    """Blocked pigeonhole index over a (media_id, phash) signature
    table: one row per (block, key) per signature — the static side of
    a stream-static near-dup join. |index| = 8 × |sigs|; at 100 TB
    of media this is still 8 longs per asset, a dimension table."""
    return sigs.filter(F.col("phash").isNotNull()).select(
        "media_id",
        F.col("phash").alias("__idx_ph"),
        F.posexplode(signature_block_keys(F.col("phash"), 64, _PHASH_BLOCKS)).alias(
            "__block", "__key"
        ),
    )


def streaming_phash_match(files: DataFrame, index: DataFrame) -> DataFrame:
    """Continuous media near-dup flagging: a binaryFile STREAM of
    ``(path, content)`` images is decoded + pHashed map-side, exploded
    into pigeonhole blocks, and stream-static equi-joined (left outer)
    against :func:`phash_block_index` — by pigeonhole, any asset within
    Hamming 7 < 8 blocks of an indexed one shares at least
    one block key, so recall vs the index is exact. Emits one row per
    (file, matching block) — ``(path, phash, media_id, hamming)`` with
    nulls for no-match blocks; the per-file best-match fold is a tiny
    batch groupBy downstream (the same composition contract as
    streaming_neardup_suppress). The static side is a plain dimension
    join AQE can broadcast — no streaming state at all, which is what
    makes this the always-on ingest tier (the stateful suppressor
    handles within-stream dups)."""
    sigs = image_phash_by_path(files).filter(F.col("phash").isNotNull())
    banded = sigs.select(
        "path",
        "phash",
        F.posexplode(signature_block_keys(F.col("phash"), 64, _PHASH_BLOCKS)).alias(
            "__block", "__key"
        ),
    )
    joined = banded.join(index, on=["__block", "__key"], how="left")
    hamming = F.bit_count(F.col("phash").bitwiseXOR(F.col("__idx_ph")))
    return joined.select(
        "path",
        "phash",
        F.when(hamming <= _PHASH_MAX_HAMMING, F.col("media_id")).alias("media_id"),
        F.when(hamming <= _PHASH_MAX_HAMMING, hamming.cast("integer")).alias("hamming"),
    )
