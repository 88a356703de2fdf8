"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (SURVEY §7 Phase 5): image/audio/video ride as ``binary``
columns with a typed metadata struct; decode and perceptual hashing
run as Arrow-batched ``mapInPandas`` stages.

Baseline JPEG (huffman + dequant + IDCT, :mod:`.jpeg`), PNG (zlib
inflate + scanline un-filter), BMP, binary PPM, and PCM WAV decode
FOR REAL via stdlib+numpy parsers; formats that need a codec library
the container lacks (MP4/progressive-JPEG/...) are stubbed behind a
loud NotImplementedError or a decode-error row. Everything
Spark-side is identical either way — schemas, batch shapes,
partition behavior, error-row capture — so swapping in a library
decoder changes no plan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: payload + typed metadata — the multimodal row shape
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("source", StringType()),
    ]
)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media corpus: each document's utf-8 bytes act
    as an opaque payload. Real pipelines read payloads from object
    storage; only this synthesis step is fake."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.col("source"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int, int, bytes]:
    """Placeholder for decoders that need a codec library (MP4/...:
    av.open / soundfile.read — not available in this environment).
    Baseline JPEG, PNG, BMP, binary PPM, and PCM WAV decode for real
    via :func:`.jpeg.decode_jpeg` / :func:`decode_png` /
    :func:`decode_bmp` / :func:`decode_ppm` / :func:`decode_wav`."""
    raise NotImplementedError(
        "media decode for this format requires a codec "
        "library; inject a real decoder via decode_media(media, "
        "decoder=...) — JPEG/PNG/BMP/PPM/WAV decode natively via "
        "default_decoder"
    )


def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real pure-stdlib decoder for uncompressed BMP (BITMAPINFOHEADER,
    8/24/32 bpp). Returns (width, height, channels, pixel_bytes) with
    rows top-down and the 4-byte row padding stripped; 24-bpp pixel
    order is BGR as stored. Raises ValueError on corrupt/truncated/
    unsupported input — which decode_media turns into an error row."""
    import struct

    data = bytes(payload)
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("corrupt media header: not a BMP or truncated")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    channels = bpp // 8
    stride = ((width * channels + 3) // 4) * 4
    need = pix_off + stride * height
    if len(data) < need:
        raise ValueError(f"truncated BMP pixel data: {len(data)} < {need}")
    row_range = range(height) if top_down else range(height - 1, -1, -1)
    rows = [
        data[pix_off + r * stride : pix_off + r * stride + width * channels]
        for r in row_range
    ]
    return width, height, channels, b"".join(rows)


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real pure-stdlib decoder for binary PPM (P6, maxval <= 255)."""
    data = bytes(payload)
    if data[:2] != b"P6":
        raise ValueError("corrupt media header: not a binary PPM")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        vals.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    width, height, maxval = vals
    if maxval > 255:
        raise ValueError(f"unsupported 2-byte PPM maxval {maxval}")
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    need = width * height * 3
    if len(data) - pos < need:
        raise ValueError(f"truncated PPM pixel data: {len(data) - pos} < {need}")
    return width, height, 3, data[pos : pos + need]


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real stdlib decoder for PCM WAV via the ``wave`` module:
    (n_frames, 1, n_channels, sample_bytes) — audio maps onto the
    (width, height, channels, pixels) contract as a 1-'row' signal."""
    import io
    import struct
    import wave

    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("corrupt media header: not a RIFF/WAVE container")
    try:
        with wave.open(io.BytesIO(data)) as wav:
            n_frames = wav.getnframes()
            n_channels = wav.getnchannels()
            frames = wav.readframes(n_frames)
    except (wave.Error, EOFError, RuntimeError, struct.error) as exc:
        # the stdlib wave module leaks EOFError on truncated chunk
        # headers and RuntimeError/struct.error on mutated size fields
        # — normalize them all to the decoder ValueError contract
        raise ValueError(f"corrupt WAV: {exc!r}") from exc
    return n_frames, 1, n_channels, frames


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: color type → channel count for 8-bit-depth PNGs
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real pure-stdlib PNG decoder: chunk walk, zlib-inflate the IDAT
    stream, un-filter each scanline per the five PNG filter types
    (None/Sub/Up/Average/Paeth). Supports non-interlaced 8-bit-depth
    images in grayscale (1ch), RGB (3), gray+alpha (2) and RGBA (4).
    Palette (color type 3), 16-bit depth, and Adam7 interlacing raise
    ValueError — decode_media turns that into an error row, exactly as
    for truncated input. Returns (width, height, channels,
    pixel_bytes) rows top-down, no stride padding."""
    import struct
    import zlib

    data = bytes(payload)
    if data[:8] != _PNG_MAGIC:
        raise ValueError("corrupt media header: not a PNG")
    pos, dims, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError(f"bad IHDR length {length}")
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ValueError("unsupported interlaced (Adam7) PNG")
            if w <= 0 or h <= 0:
                raise ValueError(f"bad PNG dimensions {w}x{h}")
            dims = (w, h, _PNG_CHANNELS[color])
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + payload-implicit + crc
    if dims is None or not idat:
        raise ValueError("truncated PNG: missing IHDR or IDAT")
    width, height, channels = dims
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG pixel stream: {exc}") from exc
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError(
            f"truncated PNG pixel data: {len(raw)} < {height * (stride + 1)}"
        )
    bpp = channels  # bytes per pixel at depth 8
    out = bytearray()
    prev = bytearray(stride)
    for r in range(height):
        base = r * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += line
        prev = line
    return width, height, channels, bytes(out)


def default_decoder(payload: bytes) -> tuple[int, int, int, bytes]:
    """Magic-byte dispatch: JPEG / PNG / BMP / binary-PPM / PCM-WAV
    decode for real (stdlib + numpy); any other format still needs a
    codec library and raises NotImplementedError loudly via the stub."""
    data = bytes(payload) if payload is not None else b""
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:8] == _PNG_MAGIC:
        return decode_png(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_wav(data)
    return _decode_stub(data)


#: PNG synthesis geometry shared with the SQL oracle: 16 px × 1 B/px
PNG_WIDTH = 16
PNG_CORRUPT_EVERY = 50


def _png_synth_batches(
    batches: "Iterator[pd.DataFrame]", corrupt_every: int
) -> "Iterator[pd.DataFrame]":
    """The PNG synthesis as a plain batch generator - shared by
    documents_as_png and the fused image_hashes_from_documents
    (round 13, guide 4.1)."""
    import struct
    import zlib

    def _chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                data = (text or "").encode("utf-8")
                height = max(1, -(-len(data) // PNG_WIDTH))
                pix = data.ljust(PNG_WIDTH * height, b"\x00")
                scan = bytearray()
                prev = bytes(PNG_WIDTH)
                for r in range(height):
                    line = pix[r * PNG_WIDTH : (r + 1) * PNG_WIDTH]
                    if r % 2 == 0:  # filter None
                        scan += b"\x00" + line
                    else:  # filter Up: stored as delta vs previous row
                        scan += b"\x02" + bytes(
                            (line[i] - prev[i]) & 0xFF for i in range(PNG_WIDTH)
                        )
                    prev = line
                ihdr = struct.pack(">IIBBBBB", PNG_WIDTH, height, 8, 0, 0, 0, 0)
                payload = (
                    _PNG_MAGIC
                    + _chunk(b"IHDR", ihdr)
                    + _chunk(b"IDAT", zlib.compress(bytes(scan)))
                    + _chunk(b"IEND", b"")
                )
                if corrupt_every and doc_id % corrupt_every == 0:
                    payload = payload[: max(4, len(payload) // 2)]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("image/png")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )
    return _gen(batches)


def documents_as_png(
    documents: DataFrame,
    corrupt_every: int = PNG_CORRUPT_EVERY,
) -> DataFrame:
    """Deterministic REAL-format media corpus #2: each document's
    utf-8 bytes become the pixel data of a valid 8-bit GRAYSCALE PNG
    (``PNG_WIDTH`` wide, height = ceil(bytes / width), zero-padded). Rows
    alternate filter types None and Up so the gate exercises the
    un-filter path, not just the chunk walk + inflate. Every
    ``corrupt_every``-th doc is truncated mid-file to exercise the
    decode-error path. Geometry is closed-form in byte length, so a
    SQL oracle mirrors the decoded stats exactly (pixel CONTENT
    round-trips are pinned byte-for-byte in tests/test_multimodal.py).
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _png_synth_batches(batches, corrupt_every)

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


#: JPEG synthesis geometry shared with the SQL oracle: 16 px × 1 B/px
JPEG_WIDTH = 16
JPEG_CORRUPT_EVERY = 50


def documents_as_jpeg(
    documents: DataFrame,
) -> DataFrame:
    """Deterministic REAL-format media corpus #3: each document's
    utf-8 bytes become the pixels of a valid baseline GRAYSCALE JPEG
    (``JPEG_WIDTH`` wide, height = ceil(bytes / width), zero-padded; flat
    quantization so the DCT round-trip stays within ±2 of the source
    bytes — pinned in tests/test_multimodal.py). Every
    ``JPEG_CORRUPT_EVERY``-th doc is truncated mid-file to exercise the
    decode-error path. Geometry is closed-form in byte length, so a
    SQL oracle mirrors the decoded stats exactly."""
    from .jpeg import encode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                data = (text or "").encode("utf-8")
                height = max(1, -(-len(data) // JPEG_WIDTH))
                pix = data.ljust(JPEG_WIDTH * height, b"\x00")
                payload = encode_jpeg(pix, JPEG_WIDTH, height, channels=1)
                if doc_id % JPEG_CORRUPT_EVERY == 0:
                    payload = payload[: max(4, len(payload) // 2)]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("image/jpeg")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("pixels", BinaryType()),
        StructField("decode_error", StringType()),
    ]
)


def decode_media(media: DataFrame, decoder=default_decoder) -> DataFrame:
    """The decode stage, with the decoder as an injectable seam.

    ``decoder(payload: bytes) -> (width, height, channels, pixel_bytes)``
    — the default handles BMP/PPM/WAV natively (pure stdlib) and raises
    NotImplementedError AT PLAN EXECUTION, loudly not silently, for
    formats that need a codec library (PIL/ffmpeg/soundfile are not in
    this container). Per-payload decode FAILURES (corrupt bytes) become
    ``decode_error`` rows instead of killing the partition — the same
    error-as-data contract as the extraction operator
    (operators/extract.py); a missing decoder library
    (NotImplementedError) still propagates because that is a
    configuration error, not a data error.

    The seam is proven with a fake decoder in
    ``tests/test_multimodal.py::TestDecoderSeam`` — the extraction
    path runs end-to-end, only the codec call is substituted.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {
                "media_id": [],
                "mime": [],
                "width": [],
                "height": [],
                "channels": [],
                "pixels": [],
                "decode_error": [],
            }
            for media_id, mime, payload in zip(
                batch["media_id"], batch["mime"], batch["payload"]
            ):
                width = height = channels = None
                pixels = None
                error = None
                try:
                    width, height, channels, pixels = decoder(
                        payload if payload is not None else b""
                    )
                except NotImplementedError:
                    raise  # missing codec library: fail the job, loudly
                except Exception as exc:
                    error = repr(exc)
                out["media_id"].append(media_id)
                out["mime"].append(mime)
                out["width"].append(width)
                out["height"].append(height)
                out["channels"].append(channels)
                out["pixels"].append(pixels)
                out["decode_error"].append(error)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + hamming-LSH near-dup pairs
# ---------------------------------------------------------------------------
#
# The image twin of text SimHash: a 64-bit signature that survives
# small pixel perturbations (re-encodes, brightness jitter, minor
# crops of boilerplate images), fed into the SAME hamming band-join
# machinery text dedup uses (dedup.hamming_band_pairs), so multimodal
# near-dup dedup composes with the existing connected-components /
# keep-best pipeline unchanged. dHash (gradient sign over a 9x8
# downsample) is a public perceptual-hash formulation popularized by
# the pHash project.

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("phash", LongType()),
        StructField("decode_error", StringType()),
    ]
)

#: PHASH_SCHEMA + the decoded-content key (sha256 hex of the raw
#: pixel/PCM bytes) for candidates→verify pipelines
PHASH_CONTENT_SCHEMA = StructType(
    PHASH_SCHEMA.fields + [StructField("content_sha", StringType())]
)


def _gray_grid(pixels: bytes, width: int, height: int, channels: int):
    """Grayscale 8 x 9 (rows x cols) downsample as EXACT INTEGER
    ``(sums, counts)`` object arrays (Python ints — no overflow, no
    rounding, ever).

    ``sums[i,j]`` is the raw channel-value sum over the cell (alpha
    ignored: 4-channel inputs use RGB only) and ``counts[i,j]`` the
    number of pixels pooled. Dividing would round (channel means ÷3
    and area means ÷ non-power-of-2 bin counts are inexact in
    float64, which let a clip-free uniform brightness shift flip a
    near-tie gradient sign); instead the hash functions compare cells
    by integer cross-multiplication ``sum_l*count_r < sum_r*count_l``,
    so a uniform shift ``+d`` — which adds exactly ``d*channels*count``
    to each sum — cancels algebraically and the invariance is exact.

    Area-sum pooling when the image is at least grid-sized (robust to
    per-pixel noise); nearest-neighbor single-pixel sampling for tiny
    images where area bins would be empty (count=1 cells).
    """
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8)
    if channels > 1:
        arr = arr.reshape(height, width, channels)
        gray = arr[:, :, : min(channels, 3)].astype(np.int64).sum(axis=2)
    else:
        gray = arr.reshape(height, width).astype(np.int64)
    if height >= 8 and width >= 9:
        r_edges = np.linspace(0, height, 8 + 1).astype(np.int64)
        c_edges = np.linspace(0, width, 9 + 1).astype(np.int64)
        summed = np.add.reduceat(
            np.add.reduceat(gray, r_edges[:-1], axis=0), c_edges[:-1], axis=1
        )
        counts = np.outer(np.diff(r_edges), np.diff(c_edges))
        return summed.astype(object), counts.astype(object)
    r_idx = ((np.arange(8) + 0.5) * height / 8).astype(np.int64)
    c_idx = ((np.arange(9) + 0.5) * width / 9).astype(np.int64)
    sampled = gray[r_idx][:, c_idx]
    return sampled.astype(object), np.ones_like(sampled, dtype=object)


def _pack_bits(bits) -> int:
    """64 bools -> signed 64-bit int (two's complement, bit 0 first) —
    the same BIGINT packing dedup.simhash_signatures uses."""
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def dhash64(pixels: bytes, width: int, height: int, channels: int) -> int:
    """Difference hash: 9x8 grayscale downsample, bit = left cell <
    right cell, row-major. Gradient SIGNS survive uniform brightness /
    contrast shifts exactly and small local noise with low hamming
    cost — the standard dHash formulation."""
    sums, counts = _gray_grid(pixels, width, height, channels)
    # exact integer cross-multiplication: mean_l < mean_r without the
    # division that made float64 rounding brightness-sensitive
    bits = (
        sums[:, :-1] * counts[:, 1:] < sums[:, 1:] * counts[:, :-1]
    ).reshape(-1)
    return _pack_bits(bits)


def image_hashes(
    media: DataFrame,
    content_key: bool = False,
) -> DataFrame:
    """(media_id, mime, phash, decode_error): decode + perceptual-hash
    in ONE Arrow pass — pixels never cross back into the plan, so the
    shuffle-visible row is 4 small columns regardless of image size
    (at 100 TB of images the hash relation is GB-scale). Decode
    failures carry a NULL phash + the error string (the decode_media
    error-as-data contract); a missing codec library still raises.

    ``content_key=True`` adds ``content_sha`` (sha256 hex of the raw
    DECODED pixel bytes, computed in the same pass) for
    candidates→verify pipelines: perceptual candidates from the band
    join, EXACT content equality as the verification — the image twin
    of the text pipeline's LSH-candidates → jaccard-verify shape."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _image_hash_batches(batches, content_key)

    return media.mapInPandas(
        run, schema=PHASH_CONTENT_SCHEMA if content_key else PHASH_SCHEMA
    )


def _image_hash_batches(
    batches: Iterator[pd.DataFrame], content_key: bool
) -> Iterator[pd.DataFrame]:
    """The decode+hash pass as a plain batch generator — shared by
    image_hashes and the fused image_hashes_from_documents."""
    import hashlib

    for batch in batches:
        out = {"media_id": [], "mime": [], "phash": [],
               "decode_error": []}
        if content_key:
            out["content_sha"] = []
        for media_id, mime, payload in zip(
            batch["media_id"], batch["mime"], batch["payload"]
        ):
            phash = None
            error = None
            sha = None
            try:
                w, h, c, pix = default_decoder(
                    payload if payload is not None else b""
                )
                phash = dhash64(pix, w, h, c)
                if content_key:
                    sha = hashlib.sha256(bytes(pix)).hexdigest()
            except NotImplementedError:
                raise  # missing codec library: loud, not a data error
            except Exception as exc:  # noqa: BLE001 — error-as-data
                error = repr(exc)
            out["media_id"].append(media_id)
            out["mime"].append(mime)
            out["phash"].append(phash)
            out["decode_error"].append(error)
            if content_key:
                out["content_sha"].append(sha)
        # nullable Int64, NOT an object column: a batch holding one
        # NULL phash (a decode-error row) would otherwise coerce
        # the whole column through float64 on the Arrow hop, and
        # 64-bit hashes above 2**53 silently lose their low bits
        # (observed: ...466 arriving as ...464 only in batches that
        # also carried a corrupt image)
        out["phash"] = pd.array(out["phash"], dtype="Int64")
        yield pd.DataFrame(out)


def image_hashes_from_documents(
    documents: DataFrame,
    corrupt_every: int = PNG_CORRUPT_EVERY,
    content_key: bool = False,
) -> DataFrame:
    """FUSED PNG synthesis + decode/hash (round 13, guide §4.1):
    composing :func:`_png_synth_batches` and
    :func:`_image_hash_batches` inside ONE mapInPandas keeps the PNG
    payload bytes from ever crossing the Python↔JVM boundary — the
    two-operator form (``image_hashes(documents_as_png(df))``)
    pipelines in one Spark stage but still Arrow-serializes every
    payload out of the synth pass and back into the hash pass. Same
    row functions, so the output is identical row-for-row."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _image_hash_batches(
            _png_synth_batches(batches, corrupt_every),
            content_key,
        )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=PHASH_CONTENT_SCHEMA if content_key else PHASH_SCHEMA
    )


def image_near_dup_pairs(
    hashes: DataFrame,
) -> DataFrame:
    """(doc_a, doc_b, hamming) over :func:`image_hashes` output —
    EXACT for max_hamming <= 3 (4-band pigeonhole; see
    dedup.hamming_band_pairs). Rows with NULL phash (decode errors)
    are excluded: an undecodable payload has no perceptual identity,
    and exact byte-level dedup upstream already catches bit-identical
    corrupt files. Pairs feed cluster.duplicate_clusters /
    keep_best_in_cluster unchanged — multimodal near-dup dedup end to
    end with no new shuffle machinery."""
    from .dedup import hamming_band_pairs

    return hamming_band_pairs(
        hashes.filter(F.col("phash").isNotNull()),
        "phash",
        "media_id",
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting: temporal energy-gradient hash + hamming LSH
# ---------------------------------------------------------------------------
#
# The audio member of the perceptual-hash family (public formulation:
# Haitsma & Kalker 2002's sign-of-difference fingerprint, reduced to
# one 64-bit word): mono-fold the PCM signal, split it into 65 equal
# time segments, take mean |amplitude| per segment, bit i = energy
# rises from segment i to i+1. Sign-of-difference is EXACTLY invariant
# to uniform gain (scaling all samples scales every segment energy by
# the same factor) and degrades gracefully under additive noise — the
# re-encoded/re-mastered re-crawl case. Pairs ride the same
# dedup.hamming_band_pairs machinery as text SimHash and image dHash.

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("afp", LongType()),
        StructField("decode_error", StringType()),
    ]
)


def audio_fingerprint64(frames: bytes, n_frames: int, channels: int) -> int:
    """64-bit temporal energy-gradient fingerprint of raw PCM frames
    (the decode_wav output contract). Sample width is inferred from
    the byte count; 8-bit WAV's unsigned-offset encoding is centered
    before folding. Clips shorter than 65 samples sample nearest
    amplitudes instead of segment means (same tiny-input rule as
    :func:`_gray_grid`)."""
    import numpy as np

    if n_frames <= 0 or not frames:
        return 0
    if len(frames) % (n_frames * channels):
        # a short read (data chunk truncated below what the header
        # promised) must be an error ROW, not a garbage fingerprint
        # silently admitted at a wrong inferred sample width
        raise ValueError(
            f"truncated PCM: {len(frames)} bytes for "
            f"{n_frames}x{channels} frames"
        )
    sampwidth = len(frames) // (n_frames * channels)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        raise ValueError(f"unsupported PCM sample width {sampwidth}")
    arr = np.frombuffer(frames, dtype=dtype)
    usable = (len(arr) // channels) * channels
    if usable == 0:
        return 0
    arr = arr[:usable].reshape(-1, channels).astype(np.float64)
    if dtype == np.uint8:
        arr -= 128.0  # 8-bit PCM is unsigned with a 128 offset
    mono = np.abs(arr.mean(axis=1))
    n = len(mono)
    segs = 65
    if n >= segs:
        edges = np.linspace(0, n, segs + 1).astype(np.int64)
        energy = np.add.reduceat(mono, edges[:-1]) / np.diff(edges)
    else:
        idx = ((np.arange(segs) + 0.5) * n / segs).astype(np.int64)
        energy = mono[idx]
    return _pack_bits(energy[1:] > energy[:-1])


#: AUDIO_FP_SCHEMA + the decoded-content key (sha256 hex of the raw
#: PCM bytes) for candidates→verify pipelines
AUDIO_FP_CONTENT_SCHEMA = StructType(
    AUDIO_FP_SCHEMA.fields + [StructField("content_sha", StringType())]
)


def audio_fingerprints(
    media: DataFrame, content_key: bool = False
) -> DataFrame:
    """(media_id, mime, afp, decode_error): decode + fingerprint in one
    Arrow pass — the audio twin of :func:`image_hashes`, with the same
    error-as-data contract and the same nullable-Int64 discipline (a
    batch holding one NULL would otherwise round 64-bit fingerprints
    through float64). ``content_key=True`` adds ``content_sha``
    (sha256 of the raw PCM bytes) for candidates→verify pipelines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for batch in batches:
            out = {"media_id": [], "mime": [], "afp": [], "decode_error": []}
            if content_key:
                out["content_sha"] = []
            for media_id, mime, payload in zip(
                batch["media_id"], batch["mime"], batch["payload"]
            ):
                afp = None
                error = None
                sha = None
                try:
                    n_frames, _one, channels, frames = default_decoder(
                        payload if payload is not None else b""
                    )
                    afp = audio_fingerprint64(frames, n_frames, channels)
                    if content_key:
                        sha = hashlib.sha256(bytes(frames)).hexdigest()
                except NotImplementedError:
                    raise
                except Exception as exc:  # noqa: BLE001 — error-as-data
                    error = repr(exc)
                out["media_id"].append(media_id)
                out["mime"].append(mime)
                out["afp"].append(afp)
                out["decode_error"].append(error)
                if content_key:
                    out["content_sha"].append(sha)
            out["afp"] = pd.array(out["afp"], dtype="Int64")
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run,
        schema=AUDIO_FP_CONTENT_SCHEMA if content_key else AUDIO_FP_SCHEMA,
    )


def audio_near_dup_pairs(
    fingerprints: DataFrame,
) -> DataFrame:
    """(doc_a, doc_b, hamming) over :func:`audio_fingerprints` output —
    exact for hamming<=3 (4-band pigeonhole), decode-error rows
    excluded; same contract as :func:`image_near_dup_pairs`."""
    from .dedup import hamming_band_pairs

    return hamming_band_pairs(
        fingerprints.filter(F.col("afp").isNotNull()),
        "afp",
        "media_id",
    )


#: WAV synthesis geometry: mono 16-bit PCM at a nominal 8 kHz
WAV_CORRUPT_EVERY = 50


def documents_as_wav(
    documents: DataFrame,
    gain: int = 1,
    corrupt_every: int = WAV_CORRUPT_EVERY,
) -> DataFrame:
    """Deterministic REAL-format media corpus #4: each document's
    utf-8 bytes become mono 16-bit PCM samples (value = byte × gain —
    gains up to 128 stay exactly proportional, the property the
    fingerprint's gain-invariance gate relies on) in a valid RIFF/WAVE
    container via the stdlib ``wave`` writer. Every
    ``corrupt_every``-th doc is truncated mid-file to exercise the
    decode-error path."""
    import io
    import wave

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                data = (text or "").encode("utf-8") or b"\x00"
                samples = (
                    np.frombuffer(data, dtype=np.uint8).astype("<i2") * gain
                ).tobytes()
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wav:
                    wav.setnchannels(1)
                    wav.setsampwidth(2)
                    wav.setframerate(8000)
                    wav.writeframes(samples)
                payload = buf.getvalue()
                if corrupt_every and doc_id % corrupt_every == 0:
                    # cut INSIDE the 44-byte header: the stdlib wave
                    # reader silently tolerates a short data chunk, so
                    # a mid-data truncation would not exercise the
                    # error path (both RIFF magics stay intact — the
                    # container sniff passes, the chunk walk fails)
                    payload = payload[:20]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("audio/wav")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF container parsing (ISO/IEC 14496-12, public box grammar)
# ---------------------------------------------------------------------------
#
# Round-9 slice of the video modality: CODEC decode stays stubbed (an
# H.264 decoder has no business in a stdlib sandbox — _decode_stub
# raises loudly), but the CONTAINER is pure public structure: a box
# walk yields duration, track schema, per-sample sizes and keyframe
# positions, which is everything a 100 TB crawl pipeline needs for
# payload stats, sampling manifests ("decode only keyframes 1, 6, 11"),
# and corrupt-object triage — without touching a single codec frame.
# Synthesis mirrors documents_as_png: a deterministic VALID container
# whose geometry is closed-form in the document text, so DuckDB
# oracles pin the parsed numbers exactly.

#: synthesis geometry shared with the SQL oracles: 25 fps at a
#: millisecond timescale, a keyframe every 5th sample
MP4_TIMESCALE = 1000
MP4_SAMPLE_DUR = 40
MP4_KEYFRAME_EVERY = 5
MP4_CORRUPT_EVERY = 50


def _walk_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for the boxes in
    data[start:end]; raises ValueError on any malformed size (the
    corrupt-payload path). Handles size==0 (to end of enclosing box)
    and size==1 (64-bit largesize) per ISO/IEC 14496-12 §4.2."""
    import struct

    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError(f"truncated box header at {off}")
        (size,) = struct.unpack_from(">I", data, off)
        btype = data[off + 4 : off + 8]
        body = off + 8
        if size == 0:
            box_end = end
        elif size == 1:
            if off + 16 > end:
                raise ValueError(f"truncated largesize header at {off}")
            (size64,) = struct.unpack_from(">Q", data, off + 8)
            if size64 < 16:
                raise ValueError(f"bad largesize {size64} at {off}")
            body = off + 16
            box_end = off + size64
        else:
            if size < 8:
                raise ValueError(f"bad box size {size} at {off}")
            box_end = off + size
        if box_end > end:
            raise ValueError(
                f"box {btype!r} at {off} overruns enclosing box "
                f"({box_end} > {end})"
            )
        yield btype, body, box_end
        off = box_end


def sample_decode_times(track: dict) -> list[int]:
    """Decode start time (track timescale ticks) of every sample —
    the stts run expansion (ISO/IEC 14496-12 §8.6.1.2): sample k's
    decode time is the running sum of the deltas before it. Strict
    like :func:`sample_file_offsets` — a run table whose total count
    disagrees with stsz raises ValueError (the error-as-data hook)
    instead of silently mis-timing samples."""
    runs = track.get("time_to_sample") or []
    sizes = track.get("sample_sizes") or []
    n = len(sizes)
    times: list[int] = []
    t = 0
    for cnt, delta in runs:
        for _ in range(cnt):
            if len(times) >= n:
                raise ValueError(
                    f"stts declares more than the {n} stsz samples"
                )
            times.append(t)
            t += delta
    if len(times) != n:
        raise ValueError(f"stts covers {len(times)} of {n} samples")
    return times


def sample_file_offsets(track: dict) -> list[int]:
    """Absolute file offset of every sample of a parsed track — the
    real demuxer walk (ISO/IEC 14496-12 §8.7.4-8.7.5): expand the
    stsc runs over the stco chunk list, then within each chunk the
    i-th sample starts at chunk_offset + sum of its predecessors'
    stsz sizes IN THAT CHUNK. Round 10 anchored every sample at
    chunk_offsets[0], which silently misread multi-chunk layouts;
    this walk handles them, and raises ValueError (the error-as-data
    hook) for inconsistent tables:

    - stsc missing with >1 chunk (single-chunk legacy layouts are
      tolerated: every sample in chunk 1),
    - stsc runs not starting at chunk 1 / not strictly increasing /
      zero samples-per-chunk,
    - chunks exhausted before every stsz sample is placed.
    """
    sizes = track.get("sample_sizes") or []
    chunks = track.get("chunk_offsets") or []
    stsc = track.get("sample_to_chunk") or []
    if not sizes:
        return []
    if not chunks:
        raise ValueError("sample table has sizes but no chunk offsets")
    if not stsc:
        if len(chunks) == 1:
            stsc = [(1, len(sizes), 1)]
        else:
            raise ValueError(
                f"{len(chunks)} chunks but no sample-to-chunk table"
            )
    if stsc[0][0] != 1:
        raise ValueError(f"stsc first run starts at chunk {stsc[0][0]}")
    for (a, spc, _), (b, _, _) in zip(stsc, stsc[1:]):
        if b <= a:
            raise ValueError("stsc first_chunk not strictly increasing")
    offsets: list[int] = []
    run = 0
    placed = 0
    for c in range(1, len(chunks) + 1):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= c:
            run += 1
        spc = stsc[run][1]
        if spc <= 0:
            raise ValueError(f"stsc run {run} declares {spc} samples/chunk")
        off = chunks[c - 1]
        for _ in range(spc):
            if placed >= len(sizes):
                return offsets
            offsets.append(off)
            off += sizes[placed]
            placed += 1
    if placed < len(sizes):
        raise ValueError(
            f"sample-to-chunk places {placed} of {len(sizes)} samples"
        )
    return offsets


def parse_mp4(payload: bytes) -> dict:
    """Parse an ISO BMFF container: ftyp brand, movie timescale +
    duration (mvhd), per-track handler / timescale / duration /
    sample count + total bytes (mdhd, hdlr, stts, stsz), keyframe
    sample numbers (stss), chunk offsets (stco/co64), and mdat size.
    Bounds-checked throughout — corrupt input raises ValueError,
    which the Spark stage turns into an error row. Codec payloads are
    NOT decoded (see _decode_stub)."""
    import struct

    data = bytes(payload)
    out = {
        "brand": None,
        "timescale": None,
        "duration": None,
        "mdat_bytes": 0,
        "mdat_offset": None,
        "tracks": [],
    }

    def full_box(body: int, end: int) -> tuple[int, int]:
        if body + 4 > end:
            raise ValueError("truncated FullBox header")
        version = data[body]
        return version, body + 4

    def parse_stbl(body: int, end: int, track: dict) -> None:
        for btype, b, e in _walk_boxes(data, body, end):
            if btype == b"stts":
                _v, p = full_box(b, e)
                (n,) = struct.unpack_from(">I", data, p)
                if p + 4 + n * 8 > e:
                    raise ValueError("truncated stts")
                total = dur = 0
                runs = []
                for i in range(n):
                    cnt, delta = struct.unpack_from(">II", data, p + 4 + i * 8)
                    total += cnt
                    dur += cnt * delta
                    runs.append((cnt, delta))
                track["n_samples_stts"] = total
                track["samples_duration"] = dur
                track["time_to_sample"] = runs
            elif btype == b"stss":
                _v, p = full_box(b, e)
                (n,) = struct.unpack_from(">I", data, p)
                if p + 4 + n * 4 > e:
                    raise ValueError("truncated stss")
                track["keyframes"] = list(
                    struct.unpack_from(f">{n}I", data, p + 4)
                )
            elif btype == b"stsz":
                _v, p = full_box(b, e)
                fixed, n = struct.unpack_from(">II", data, p)
                if fixed:
                    track["sample_sizes"] = [fixed] * n
                else:
                    if p + 8 + n * 4 > e:
                        raise ValueError("truncated stsz")
                    track["sample_sizes"] = list(
                        struct.unpack_from(f">{n}I", data, p + 8)
                    )
            elif btype == b"stsc":
                _v, p = full_box(b, e)
                (n,) = struct.unpack_from(">I", data, p)
                if p + 4 + n * 12 > e:
                    raise ValueError("truncated stsc")
                track["sample_to_chunk"] = [
                    struct.unpack_from(">III", data, p + 4 + i * 12)
                    for i in range(n)
                ]
            elif btype in (b"stco", b"co64"):
                _v, p = full_box(b, e)
                (n,) = struct.unpack_from(">I", data, p)
                width = 4 if btype == b"stco" else 8
                if p + 4 + n * width > e:
                    raise ValueError(f"truncated {btype.decode()}")
                fmt = ">I" if btype == b"stco" else ">Q"
                track["chunk_offsets"] = [
                    struct.unpack_from(fmt, data, p + 4 + i * width)[0]
                    for i in range(n)
                ]

    def parse_trak(body: int, end: int) -> dict:
        track = {
            "track_id": None,
            "handler": None,
            "timescale": None,
            "duration": None,
            "width": None,
            "height": None,
            "keyframes": [],
            "sample_sizes": [],
            "chunk_offsets": [],
            "sample_to_chunk": [],
            "n_samples_stts": 0,
            "samples_duration": 0,
            "time_to_sample": [],
        }
        for btype, b, e in _walk_boxes(data, body, end):
            if btype == b"tkhd":
                v, p = full_box(b, e)
                if v == 1:
                    p += 8 + 8  # 64-bit ctime/mtime
                    (track["track_id"],) = struct.unpack_from(">I", data, p)
                    p += 4 + 4 + 8  # id, reserved, 64-bit duration
                else:
                    p += 4 + 4
                    (track["track_id"],) = struct.unpack_from(">I", data, p)
                    p += 4 + 4 + 4
                p += 8 + 2 + 2 + 2 + 2 + 36  # reserved..matrix
                w, h = struct.unpack_from(">II", data, p)
                track["width"] = w >> 16  # 16.16 fixed point
                track["height"] = h >> 16
            elif btype == b"mdia":
                for bt2, b2, e2 in _walk_boxes(data, b, e):
                    if bt2 == b"mdhd":
                        v, p = full_box(b2, e2)
                        if v == 1:
                            p += 16
                            ts, = struct.unpack_from(">I", data, p)
                            dur, = struct.unpack_from(">Q", data, p + 4)
                        else:
                            p += 8
                            ts, dur = struct.unpack_from(">II", data, p)
                        track["timescale"], track["duration"] = ts, dur
                    elif bt2 == b"hdlr":
                        _v, p = full_box(b2, e2)
                        track["handler"] = data[p + 4 : p + 8].decode(
                            "ascii", "replace"
                        )
                    elif bt2 == b"minf":
                        for bt3, b3, e3 in _walk_boxes(data, b2, e2):
                            if bt3 == b"stbl":
                                parse_stbl(b3, e3, track)
        return track

    for btype, body, end in _walk_boxes(data, 0, len(data)):
        if btype == b"ftyp":
            if body + 4 > end:
                raise ValueError("truncated ftyp")
            out["brand"] = data[body : body + 4].decode("ascii", "replace")
        elif btype == b"mdat":
            if out["mdat_offset"] is None:
                out["mdat_offset"] = body
            out["mdat_bytes"] += end - body
        elif btype == b"moov":
            for bt2, b2, e2 in _walk_boxes(data, body, end):
                if bt2 == b"mvhd":
                    v, p = full_box(b2, e2)
                    if v == 1:
                        p += 16
                        (out["timescale"],) = struct.unpack_from(
                            ">I", data, p
                        )
                        (out["duration"],) = struct.unpack_from(
                            ">Q", data, p + 4
                        )
                    else:
                        p += 8
                        out["timescale"], out["duration"] = (
                            struct.unpack_from(">II", data, p)
                        )
                elif bt2 == b"trak":
                    out["tracks"].append(parse_trak(b2, e2))
    if out["brand"] is None or out["timescale"] is None:
        raise ValueError("not an ISO BMFF movie (missing ftyp/moov)")
    # Sample-table / payload consistency (ISO 14496-12 §8.5-8.7): a
    # container truncated exactly on the mdat box boundary walks
    # cleanly (every surviving box is well-formed) yet leaves a moov
    # whose sample table declares bytes the file no longer carries —
    # keyframe-manifest offsets would then point past EOF. Require
    # that declared sample bytes fit inside mdat, that keyframe
    # numbers exist, that every chunk offset lands inside the file,
    # and that EVERY SAMPLE's demuxed extent (stsc/stco walk, see
    # sample_file_offsets) fits — round 10 only checked the
    # single-chunk layout, letting multi-chunk files with dangling
    # chunk-2+ samples pass validation.
    declared_total = 0
    for track in out["tracks"]:
        declared = sum(track["sample_sizes"])
        declared_total += declared
        n = max(track["n_samples_stts"], len(track["sample_sizes"]))
        for kf in track["keyframes"]:
            if not 1 <= kf <= n:
                raise ValueError(
                    f"stss keyframe {kf} outside sample table (n={n})"
                )
        for o in track["chunk_offsets"]:
            if o > len(data):
                raise ValueError(
                    f"chunk offset {o} beyond file end {len(data)}"
                )
        if track["sample_sizes"]:
            # raises ValueError itself on inconsistent stsc/stco
            for off, sz in zip(
                sample_file_offsets(track), track["sample_sizes"]
            ):
                if off + sz > len(data):
                    raise ValueError(
                        f"sample at {off} declares {sz} bytes but "
                        f"file ends at {len(data)}"
                    )
    if declared_total > out["mdat_bytes"]:
        raise ValueError(
            f"sample tables declare {declared_total} bytes but mdat "
            f"carries {out['mdat_bytes']}"
        )
    return out


def _mp4_sample_sizes(n_bytes: int, n_samples: int) -> list[int]:
    """Even split of the payload into sample sizes: base = bytes //
    samples, the first (bytes % samples) samples carry one extra byte
    — the closed form the SQL oracles replicate."""
    base, rem = divmod(n_bytes, n_samples)
    return [base + (1 if i < rem else 0) for i in range(n_samples)]


def build_mp4(
    text_bytes: bytes,
) -> bytes:
    """A minimal VALID single-track ISO BMFF container whose mdat is
    ``text_bytes``: n_samples = max(1, whitespace tokens of the text),
    one sample every ``MP4_SAMPLE_DUR`` ticks, a keyframe every
    ``MP4_KEYFRAME_EVERY``-th sample, sample sizes the even split of the
    payload (see _mp4_sample_sizes), all in one chunk. Pure stdlib
    struct packing — the geometry is what parse_mp4 + the oracles
    verify."""
    n_samples = max(1, len(text_bytes.decode("utf-8", "replace").split()))
    sizes = _mp4_sample_sizes(len(text_bytes), n_samples)
    chunks, off = [], 0
    for sz in sizes:
        chunks.append(text_bytes[off : off + sz])
        off += sz
    return build_mp4_samples(chunks)


def build_mp4_samples(
    samples: list[bytes],
    width: int = 320,
    height: int = 240,
    codec: bytes = b"mp4v",
    samples_per_chunk: int | None = None,
    sample_durations: "list[int] | None" = None,
) -> bytes:
    """The general form of :func:`build_mp4`: the caller supplies the
    per-sample byte blobs (e.g. real JPEG frames for MJPEG-in-MP4 —
    'jpeg' is the registered motion-JPEG VisualSampleEntry type), the
    mdat is their concatenation and stsz carries their true lengths.
    Same box grammar, keyframe every ``MP4_KEYFRAME_EVERY``-th sample.
    ``samples_per_chunk=None`` keeps the one-chunk layout; an int
    splits the samples into ceil(n/spc) chunks with per-chunk stco
    offsets and compressed stsc runs — the layout that exercises the
    real demuxer walk (sample_file_offsets).

    ``sample_durations`` (round 12): per-sample decode durations in
    timescale ticks — written as a REAL run-length-encoded stts
    (consecutive equal durations compress into one run, the encoding
    every actual muxer emits), which is what makes the container
    TIME-indexed: a consumer must expand the run table to know when
    sample k presents. None keeps the uniform single-run table."""
    import struct

    if not samples:
        raise ValueError("build_mp4_samples needs at least one sample")
    if len(codec) != 4:
        raise ValueError(f"codec must be a 4CC, got {codec!r}")
    if samples_per_chunk is not None and samples_per_chunk < 1:
        raise ValueError("samples_per_chunk must be >= 1")
    n_samples = len(samples)
    sizes = [len(s) for s in samples]
    text_bytes = b"".join(samples)
    keyframes = list(range(1, n_samples + 1, MP4_KEYFRAME_EVERY))
    if sample_durations is not None:
        if len(sample_durations) != n_samples:
            raise ValueError(
                f"{len(sample_durations)} durations for {n_samples} samples"
            )
        if any(d < 1 for d in sample_durations):
            raise ValueError("sample durations must be >= 1 tick")
        stts_runs: list[list[int]] = []
        for d in sample_durations:
            if stts_runs and stts_runs[-1][1] == d:
                stts_runs[-1][0] += 1
            else:
                stts_runs.append([1, int(d)])
        duration = sum(sample_durations)
    else:
        stts_runs = [[n_samples, MP4_SAMPLE_DUR]]
        duration = n_samples * MP4_SAMPLE_DUR
    spc = samples_per_chunk or n_samples
    # chunk layout: spc samples per chunk, remainder in the last one;
    # chunks lie contiguously in the mdat, so each chunk's RELATIVE
    # byte start is the prefix sum of its predecessors' sample bytes
    chunk_rel_starts, chunk_sample_counts = [], []
    off = i = 0
    while i < n_samples:
        cnt = min(spc, n_samples - i)
        chunk_rel_starts.append(off)
        chunk_sample_counts.append(cnt)
        off += sum(sizes[i : i + cnt])
        i += cnt
    n_chunks = len(chunk_rel_starts)
    stsc_runs = [(1, spc, 1)]
    if chunk_sample_counts[-1] != spc and n_chunks > 1:
        stsc_runs.append((n_chunks, chunk_sample_counts[-1], 1))

    def box(btype: bytes, *parts: bytes) -> bytes:
        body = b"".join(parts)
        return struct.pack(">I", len(body) + 8) + btype + body

    def full(btype: bytes, version: int, flags: int, *parts: bytes) -> bytes:
        return box(
            btype, struct.pack(">I", (version << 24) | flags), *parts
        )

    matrix = struct.pack(
        ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )

    def moov(mdat_data_off: int) -> bytes:
        mvhd = full(
            b"mvhd", 0, 0,
            struct.pack(">II", 0, 0),          # ctime, mtime
            struct.pack(">II", MP4_TIMESCALE, duration),
            struct.pack(">I", 0x00010000),     # rate 1.0
            struct.pack(">H", 0x0100),         # volume 1.0
            b"\x00" * 10,                      # reserved
            matrix,
            b"\x00" * 24,                      # pre_defined
            struct.pack(">I", 2),              # next_track_ID
        )
        tkhd = full(
            b"tkhd", 0, 7,                     # enabled|in_movie|preview
            struct.pack(">II", 0, 0),
            struct.pack(">I", 1),              # track_ID
            b"\x00" * 4,
            struct.pack(">I", duration),
            b"\x00" * 8,
            struct.pack(">HHHH", 0, 0, 0, 0),  # layer, group, volume, rsvd
            matrix,
            struct.pack(">II", width << 16, height << 16),
        )
        mdhd = full(
            b"mdhd", 0, 0,
            struct.pack(">II", 0, 0),
            struct.pack(">II", MP4_TIMESCALE, duration),
            struct.pack(">HH", 0x55C4, 0),     # language 'und'
        )
        hdlr = full(
            b"hdlr", 0, 0,
            b"\x00" * 4, b"vide", b"\x00" * 12, b"SparkGraftVideo\x00",
        )
        # minimal mp4v VisualSampleEntry: 6 reserved + data_ref_index,
        # then the 70 fixed bytes of the visual fields (pre_defined,
        # dims, resolution, frame_count=1, compressorname, depth, -1)
        entry = (
            b"\x00" * 6
            + struct.pack(">H", 1)
            + struct.pack(">HH", 0, 0)
            + b"\x00" * 12
            + struct.pack(">HH", width, height)
            + struct.pack(">II", 0x00480000, 0x00480000)
            + b"\x00" * 4
            + struct.pack(">H", 1)
            + b"\x00" * 32
            + struct.pack(">Hh", 24, -1)
        )
        stsd = full(
            b"stsd", 0, 0,
            struct.pack(">I", 1),
            struct.pack(">I", len(entry) + 8) + codec + entry,
        )
        stts = full(
            b"stts", 0, 0,
            struct.pack(">I", len(stts_runs)),
            *(struct.pack(">II", c, d) for c, d in stts_runs),
        )
        stss = full(
            b"stss", 0, 0,
            struct.pack(">I", len(keyframes)),
            struct.pack(f">{len(keyframes)}I", *keyframes),
        )
        stsz = full(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n_samples),
            struct.pack(f">{n_samples}I", *sizes),
        )
        stsc = full(
            b"stsc", 0, 0,
            struct.pack(">I", len(stsc_runs)),
            *(struct.pack(">III", *run) for run in stsc_runs),
        )
        stco = full(
            b"stco", 0, 0,
            struct.pack(">I", n_chunks),
            *(
                struct.pack(">I", mdat_data_off + rel)
                for rel in chunk_rel_starts
            ),
        )
        stbl = box(b"stbl", stsd, stts, stss, stsz, stsc, stco)
        dref = full(
            b"dref", 0, 0,
            struct.pack(">I", 1),
            full(b"url ", 0, 1),               # self-contained
        )
        minf = box(
            b"minf",
            full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0)),
            box(b"dinf", dref),
            stbl,
        )
        mdia = box(b"mdia", mdhd, hdlr, minf)
        return box(b"moov", mvhd, box(b"trak", tkhd, mdia))

    ftyp = box(b"ftyp", b"isom", struct.pack(">I", 512), b"isomiso2mp41")
    # stco stores an absolute file offset; the offset FIELD is fixed
    # width, so building moov twice (placeholder, then patched) keeps
    # every size stable
    probe = moov(0)
    mdat_data_off = len(ftyp) + len(probe) + 8
    return ftyp + moov(mdat_data_off) + box(b"mdat", text_bytes)


def documents_as_mp4(
    documents: DataFrame,
) -> DataFrame:
    """Deterministic REAL-format media corpus #5: each document
    becomes a valid single-track MP4 whose mdat is the utf-8 text and
    whose sample table derives from the token count (see build_mp4).
    Every ``MP4_CORRUPT_EVERY``-th doc is truncated mid-container to
    exercise the parse-error path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                payload = build_mp4(
                    (text or "").encode("utf-8"),
                )
                if doc_id % MP4_CORRUPT_EVERY == 0:
                    payload = payload[: max(12, len(payload) // 2)]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("video/mp4")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


#: per-sample duration grid for the TIMED corpus: token i plays for
#: MP4_SAMPLE_DUR * (1 + len(token_i) % 3) ticks — variable durations
#: closed-form in the text, with natural runs (consecutive same-length
#: tokens) that exercise REAL stts run-length compression
MP4_TIMED_DUR_MODULUS = 3


def _timed_sample_durations(text: str) -> list[int]:
    toks = (text or "").split()
    if not toks:
        return [MP4_SAMPLE_DUR]
    return [
        MP4_SAMPLE_DUR * (1 + len(t) % MP4_TIMED_DUR_MODULUS)
        for t in toks
    ]


def documents_as_timed_mp4(
    documents: DataFrame,
) -> DataFrame:
    """Deterministic REAL-format media corpus #8 (round 12): the
    VARIABLE-frame-duration container — same text-as-mdat geometry as
    :func:`documents_as_mp4`, but each sample's decode duration is
    closed-form in its token (:data:`MP4_TIMED_DUR_MODULUS` grid),
    written as a run-length-encoded stts. A consumer can no longer
    index frames by sample number alone: presentation time requires
    the stts expansion — which is exactly what a real frame-sampling
    fleet ("1 frame per second") must do on crawled video. Every
    ``MP4_CORRUPT_EVERY``-th doc is truncated mid-container."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, payloads, mimes, sizes, sources = [], [], [], [], []
            for doc_id, text, source in zip(
                batch["doc_id"], batch["text"], batch["source"]
            ):
                data = (text or "").encode("utf-8")
                n_samples = max(1, len((text or "").split()))
                chunk_sizes = _mp4_sample_sizes(len(data), n_samples)
                chunks, off = [], 0
                for sz in chunk_sizes:
                    chunks.append(data[off : off + sz])
                    off += sz
                payload = build_mp4_samples(
                    chunks,
                    sample_durations=_timed_sample_durations(text or ""),
                )
                if doc_id % MP4_CORRUPT_EVERY == 0:
                    payload = payload[: max(12, len(payload) // 2)]
                ids.append(doc_id)
                payloads.append(payload)
                mimes.append("video/mp4")
                sizes.append(len(payload))
                sources.append(source)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "mime": mimes,
                    "n_bytes": sizes,
                    "source": sources,
                }
            )

    return documents.select("doc_id", "text", "source").mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


MP4_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("source", StringType()),
        StructField("brand", StringType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", LongType()),
        StructField("handler", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_keyframes", LongType()),
        StructField("sample_bytes", LongType()),
        StructField("mdat_bytes", LongType()),
        StructField("parse_error", StringType()),
    ]
)


def mp4_container_stats(media: DataFrame) -> DataFrame:
    """Box-walk every payload in one Arrow pass → real container
    metadata (no codec decode): duration in ms, track schema, sample
    + keyframe counts, byte accounting. Corrupt containers flow as
    error rows (NULL metrics + parse_error), the decode_media
    error-as-data contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {k.name: [] for k in MP4_STATS_SCHEMA.fields}
            for media_id, source, payload in zip(
                batch["media_id"], batch["source"], batch["payload"]
            ):
                row = dict.fromkeys(out, None)
                row["media_id"] = media_id
                row["source"] = source
                try:
                    info = parse_mp4(payload if payload is not None else b"")
                    t = info["tracks"][0] if info["tracks"] else {}
                    row["brand"] = info["brand"]
                    row["duration_ms"] = (
                        info["duration"] * 1000
                    ) // info["timescale"]
                    row["n_tracks"] = len(info["tracks"])
                    row["handler"] = t.get("handler")
                    row["width"] = t.get("width")
                    row["height"] = t.get("height")
                    row["n_samples"] = t.get("n_samples_stts", 0)
                    row["n_keyframes"] = len(t.get("keyframes") or [])
                    row["sample_bytes"] = sum(t.get("sample_sizes") or [])
                    row["mdat_bytes"] = info["mdat_bytes"]
                except Exception as exc:  # noqa: BLE001 — error-as-data
                    row["parse_error"] = repr(exc)
                for k, v in row.items():
                    out[k].append(v)
            for name in (
                "media_id", "duration_ms", "n_tracks", "width", "height",
                "n_samples", "n_keyframes", "sample_bytes", "mdat_bytes",
            ):
                # nullable Int64, NOT object: one error row would
                # otherwise coerce the column through float64 on the
                # Arrow hop (the round-8 phash rounding hazard)
                out[name] = pd.array(out[name], dtype="Int64")
            yield pd.DataFrame(out)

    return media.select("media_id", "source", "payload").mapInPandas(
        run, schema=MP4_STATS_SCHEMA
    )


MP4_TIME_MANIFEST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("interval_no", LongType()),
        StructField("sample_no", LongType()),
        StructField("start_tick", LongType()),
        StructField("is_sync", BooleanType()),
        StructField("decode_cost", LongType()),
    ]
)


def mp4_time_indexed_manifest(
    media: DataFrame
) -> DataFrame:
    """The PRESENTATION-TIME sampling manifest (round 12): one row
    per (clip, interval) — "extract 1 frame per second" — naming the
    sample presented at each interval start, its decode start tick,
    whether it is a sync sample, and the DECODE COST of seeking there
    (samples from the governing keyframe through it — the work a
    predictive-codec fleet actually pays per extracted frame).

    Presented sample at tick T = the last sample whose decode time
    <= T (stts run expansion via :func:`sample_decode_times` — sample
    numbers alone cannot answer this on variable-duration tracks).
    Intervals of ``MP4_TIMESCALE`` ticks (one second) run
    0 <= k*interval < track duration. Corrupt
    containers and inconsistent sample tables contribute no rows (the
    stats query owns the error plane). Like the keyframe manifest,
    this relation is what ships to the decode fleet at 100 TB — tiny
    integer rows, never the video bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bisect

        for batch in batches:
            ids, ks, nos, ticks, syncs, costs = [], [], [], [], [], []
            for media_id, payload in zip(
                batch["media_id"], batch["payload"]
            ):
                try:
                    info = parse_mp4(payload if payload is not None else b"")
                except Exception:  # noqa: BLE001 — stats query reports it
                    continue
                for t in info["tracks"]:
                    try:
                        times = sample_decode_times(t)
                    except ValueError:
                        continue
                    if not times:
                        continue
                    total = t.get("samples_duration") or 0
                    kfs = sorted(t.get("keyframes") or [])
                    for k in range(
                        (max(0, total - 1) // MP4_TIMESCALE) + 1
                    ):
                        tick = k * MP4_TIMESCALE
                        j = bisect.bisect_right(times, tick) - 1
                        if j < 0:
                            continue
                        sample_no = j + 1
                        ki = bisect.bisect_right(kfs, sample_no) - 1
                        gov_kf = kfs[ki] if ki >= 0 else 1
                        ids.append(media_id)
                        ks.append(k)
                        nos.append(sample_no)
                        ticks.append(times[j])
                        syncs.append(sample_no in kfs)
                        costs.append(sample_no - gov_kf + 1)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "interval_no": pd.array(ks, dtype="Int64"),
                    "sample_no": pd.array(nos, dtype="Int64"),
                    "start_tick": pd.array(ticks, dtype="Int64"),
                    "is_sync": pd.array(syncs, dtype="boolean"),
                    "decode_cost": pd.array(costs, dtype="Int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=MP4_TIME_MANIFEST_SCHEMA
    )
