"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (SURVEY §2.8 / driver mandate): image/audio/video travel as
``binary`` columns with a ``struct`` metadata sibling. All Spark-side
mechanics are real - schema, partition sizing, Arrow-batched
``mapInPandas`` decode plumbing, frame sampling over raw bytes. The
codec step itself is STUBBED deterministically (`decode_stub=True`
byte-histogram features) because no image/audio library ships in this
container; ``decode_image_features(decode_stub=False)`` raises
NotImplementedError at the exact seam where Pillow/torchvision/ffmpeg
would plug in.

Scale notes: payload bytes never pass through Python row-at-a-time -
mapInPandas hands whole Arrow record batches; binary-heavy tables
should set spark.sql.files.maxPartitionBytes low enough that
(batch rows x payload size) fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def attach_binary_payload(
    docs: DataFrame, text_col: str = "text", modality: str = "text"
) -> DataFrame:
    """Build a multimodal-shaped table from the documents fixture: the
    utf-8 bytes stand in for an image/audio blob. Real ingestion would
    use ``spark.read.format("binaryFile")`` into the same schema."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("utf-8").alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(modality).alias("modality"),
        ).alias("meta"),
    )


FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def decode_image_features(
    mm: DataFrame, *, decode_stub: bool = True, batch_hint: int | None = None
) -> DataFrame:
    """Decode + feature-extract over the payload column via
    ``mapInPandas`` (Arrow batch in, Arrow batch out - the real
    production shape for codec work).

    ``decode_stub=True``: deterministic fake decoder - a 16-bin byte
    histogram normalized to 1. It exercises the identical plumbing
    (bytes -> ndarray -> feature vector) as a real
    ``PIL.Image.open(io.BytesIO(b))`` would.
    """
    if not decode_stub:
        raise NotImplementedError(
            "real image decode requires Pillow/torchvision, not present in "
            "this environment; plug the codec into _decode_batch below"
        )

    def _decode_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                # NULL payloads decode to NULL features (row-complete
                # output, like a failed-decode row in production — the
                # kernel must never crash the batch on one bad blob).
                if b is None:
                    feats.append(None)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(
                    "float64"
                )
                total = hist.sum() or 1.0
                feats.append((hist / total).round(9).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(
                        [None if b is None else len(b) for b in pdf["payload"]],
                        dtype="Int64",
                    ),
                    "features": feats,
                }
            )

    return mm.select("doc_id", "payload").mapInPandas(
        _decode_batch, schema=_FEATURES_SCHEMA
    )


def resize_payload(mm: DataFrame, target_bytes: int = 64) -> DataFrame:
    """'Resize' the binary payload to ``target_bytes`` by stride
    sampling - pure JVM expressions (sequence/transform/substr over
    binary), the plumbing a real `PIL.Image.resize` mapInPandas would
    replace at the codec seam. Payloads shorter than the target pass
    through unchanged."""
    n = F.octet_length("payload")
    stride = F.greatest(F.floor(n / target_bytes).cast("int"), F.lit(1))
    idx = F.slice(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), stride), 1, target_bytes
    )
    resized = F.when(n <= target_bytes, F.col("payload")).otherwise(
        # concat of 1-byte slices at stride positions
        F.aggregate(
            F.transform(idx, lambda i: F.col("payload").substr(i, F.lit(1))),
            F.lit(b""),
            lambda acc, b: F.concat(acc, b),
        )
    )
    return mm.select(
        "doc_id",
        n.cast("long").alias("orig_bytes"),
        resized.alias("payload_resized"),
        F.octet_length(resized).cast("long").alias("resized_bytes"),
    )


def sample_frames(
    mm: DataFrame, frame_size: int = 32, every_k: int = 4
) -> DataFrame:
    """'Video' frame sampling over raw bytes: slice the payload into
    fixed-size frames and keep every k-th - pure JVM expressions
    (sequence + transform + substring on binary), no Python. Real
    video would swap the slicer for an ffmpeg-backed mapInPandas with
    this exact output schema."""
    payload_str = F.col("payload")
    n_frames = F.ceil(F.octet_length("payload") / frame_size).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
    sampled = F.filter(idx, lambda i: i % every_k == 0)
    frames = F.transform(
        sampled,
        lambda i: F.substring(payload_str, (i * frame_size + 1).cast("int"), frame_size),
    )
    return mm.select(
        "doc_id",
        n_frames.alias("n_frames_total"),
        F.size(frames).alias("n_frames_sampled"),
        frames.alias("frames"),
    )


def audio_windows(
    mm: DataFrame,
    window_bytes: int = 64,
    hop_bytes: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size window chunking over a binary payload — the audio
    counterpart of text chunking (`text.chunk_documents`): a waveform
    column splits into frame windows for feature extraction /
    embedding. Byte-addressed (window = ``window_bytes``, stride =
    ``hop_bytes``; real audio would scale both by sample width x rate
    from the metadata struct).

    Map-side explode of substr slices — payload bytes stay JVM-side,
    one output row per window with its offset and a content address
    (md5) so downstream dedup/caching can key on window identity.
    Tail windows shorter than ``window_bytes`` are kept (standard
    last-frame semantics), zero-length payloads produce no rows.
    """
    n = F.octet_length("payload")
    n_windows = F.when(n <= 0, F.lit(0)).otherwise(
        (n + hop_bytes - 1) / hop_bytes
    ).cast("int")
    starts = F.sequence(F.lit(0), n_windows - 1)
    return (
        mm.select(
            id_col,
            F.posexplode(
                F.transform(
                    starts,
                    lambda w: F.col("payload").substr(
                        (w * hop_bytes + 1).cast("int"), F.lit(window_bytes)
                    ),
                )
            ).alias("window_idx", "chunk"),
        )
        .filter(F.octet_length("chunk") > 0)
        .select(
            id_col,
            F.col("window_idx").cast("long").alias("window_idx"),
            (F.col("window_idx").cast("long") * hop_bytes).alias("byte_offset"),
            F.octet_length("chunk").cast("long").alias("n_bytes"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


def image_tiles(
    mm: DataFrame,
    row_bytes: int = 16,
    tile: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """2-D tile chunking over a binary payload — the image counterpart
    of :func:`audio_windows`: treat the payload as an H x ``row_bytes``
    byte raster and emit ``tile`` x ``tile`` blocks (a ViT-style patch
    grid / map-tile pyramid level 0). A real decoder would first run a
    codec UDF; here the raster IS the byte stream, which keeps the
    surface honest: per-tile addressing, ragged right/bottom edges,
    content-address md5 per tile.

    One map-side explode of ``concat`` of ``tile`` row slices per
    block — bytes never leave the JVM, no shuffle at any corpus size.
    Edge tiles shorter than tile*tile bytes are kept (partial-patch
    semantics); fully-empty tiles (beyond the last byte row) drop.
    """
    assert row_bytes % tile == 0, "row_bytes must be a multiple of tile"
    n_cols = row_bytes // tile
    n = F.octet_length("payload")
    n_rows = F.ceil(n / F.lit(row_bytes))
    n_tiles = (F.ceil(n_rows / F.lit(tile)) * n_cols).cast("int")
    idx = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n_tiles - 1)
    )

    def tile_bytes(w):
        tr = (w / n_cols).cast("int")
        tc = (w % n_cols).cast("int")
        return F.concat(
            *[
                F.col("payload").substr(
                    ((tr * tile + k) * row_bytes + tc * tile + 1).cast("int"),
                    F.lit(tile),
                )
                for k in range(tile)
            ]
        )

    return (
        mm.select(
            id_col, F.posexplode(F.transform(idx, tile_bytes)).alias("w", "chunk")
        )
        .filter(F.octet_length("chunk") > 0)
        .select(
            id_col,
            (F.col("w") / n_cols).cast("long").alias("tile_r"),
            (F.col("w") % n_cols).cast("long").alias("tile_c"),
            F.octet_length("chunk").cast("long").alias("n_bytes"),
            F.md5("chunk").alias("tile_md5"),
        )
    )


def byte_histogram(mm: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-level byte-value histogram over the binary payload column
    — the cheapest content diagnostic a multimodal lake runs before any
    decode: byte distributions separate text from compressed media from
    encrypted junk (uniform bytes), catch truncated/zero-padded blobs,
    and feed entropy-based filters, all without leaving the JVM.

    The payload's bytes are extracted natively (``hex`` of each 1-byte
    ``substr`` slice -> ``conv`` base-16; works on ARBITRARY bytes, not
    just ASCII) and exploded map-side into a combinable (byte_value ->
    count, n_docs) aggregation — shuffle payload is <= 256 rows per
    partition regardless of corpus size. Zero-length payloads
    contribute no rows (the explicit empty-array guard: Spark's
    sequence(1, 0) would count DOWN, the `dedup.shingles_tokens`
    lesson).

    Returns (byte_value, n_occurrences, n_docs).
    """
    n = F.octet_length("payload")
    bytes_arr = F.when(n < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.conv(
                F.hex(F.col("payload").substr(i.cast("int"), F.lit(1))), 16, 10
            ).cast("bigint"),
        )
    )
    return (
        mm.select(F.col(id_col).alias("doc"), F.explode(bytes_arr).alias("byte_value"))
        .groupBy("byte_value")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
        )
    )


def ahash(mm: DataFrame, bits: int = 32, id_col: str = "doc_id") -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over the binary
    payload: stride-sample ``bits`` bytes (the 'thumbnail' —
    :func:`resize_payload`'s sampling, kept as VALUES not bytes), set
    bit i when sample i exceeds the sample mean, pack into one BIGINT.
    The canonical cheap perceptual hash: identical payloads collide
    exactly, and near-identical payloads (same image re-encoded, audio
    re-chunked) land within small Hamming distance.

    Everything is exact integer arithmetic map-side: the mean
    comparison is ``b * n_samples > total`` (no division), the pack is
    shifts and adds, bytes extract natively via hex/conv (arbitrary
    binary). One projection, zero shuffles — the fingerprint then
    feeds exact-match grouping (below) or the simhash-style banded
    Hamming join at corpus scale.

    Returns (id_col, n_samples, ahash).
    """
    n = F.octet_length("payload")
    stride = F.greatest(F.floor(n / bits).cast("int"), F.lit(1))
    pos = F.slice(F.sequence(F.lit(1), F.greatest(n, F.lit(1)), stride), 1, bits)
    byte_vals = F.transform(
        pos,
        lambda i: F.conv(
            F.hex(F.col("payload").substr(i.cast("int"), F.lit(1))), 16, 10
        ).cast("bigint"),
    )
    d = mm.filter(n > 0).select(
        F.col(id_col),
        byte_vals.alias("bytes"),
    )
    m = F.size("bytes").cast("bigint")
    tot = F.aggregate("bytes", F.lit(0).cast("bigint"), lambda a, b: a + b)
    d = d.select(id_col, m.alias("m"), tot.alias("tot"), "bytes")
    # SQL form: shiftleft's Python binding takes a literal shift count,
    # but the Catalyst function accepts a column — the 0-based transform
    # index i sets bit i for above-mean samples.
    packed = F.expr(
        "aggregate(transform(bytes, (b, i) -> "
        "CASE WHEN b * m > tot THEN shiftleft(CAST(1 AS BIGINT), i) "
        "ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return d.select(
        id_col, F.col("m").alias("n_samples"), packed.alias("ahash")
    )


# ---------------------------------------------------------------------------
# Real binary ingestion: pure-python PNG / WAV codecs + binaryFile source.
#
# The reference has no multimodal surface (not a parity gap); the
# north-star mandate asks for real binary columns. These codecs
# implement the PUBLIC file formats (PNG: RFC 2083 / ISO 15948; WAV:
# RIFF PCM via the stdlib `wave` module) with zero third-party deps, so
# "decode" below is a genuine decode of genuine files — Pillow/ffmpeg
# would slot into the same seams for formats beyond 8-bit
# grayscale/PCM.
# ---------------------------------------------------------------------------


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal valid PNG: 8-bit grayscale, filter 0, one zlib IDAT."""
    import struct
    import zlib

    if len(pixels) != width * height:
        raise ValueError("pixels must be exactly width*height bytes")

    def chunk(tag: bytes, data: bytes) -> bytes:
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def decode_png_gray(data: bytes) -> tuple[int, int, bytes]:
    """Real PNG decode (8-bit grayscale, filter 0): chunk walk, IHDR
    parse, IDAT zlib-inflate, per-scanline filter strip. Returns
    (width, height, pixel bytes)."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    while pos < len(data):
        # Explicit truncation checks (round-7 fuzz sweep): a cut or
        # corrupt stream must raise ValueError, never struct.error /
        # IndexError / TypeError from an unvalidated read.
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if pos + 8 + length > len(data):
            raise ValueError("truncated PNG chunk body")
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) < 10:
                raise ValueError("truncated IHDR")
            width, height, depth, color = struct.unpack(">IIBB", body[:10])
            if (depth, color) != (8, 0):
                raise NotImplementedError(
                    "only 8-bit grayscale supported by the stdlib codec"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG deflate stream: {e}") from e
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray()
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise NotImplementedError("only filter type 0 supported")
        out += row[1:]
    return width, height, bytes(out)


def encode_bmp_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal valid BMP: 8-bit palettized grayscale (the standard BMP
    grayscale encoding), bottom-up rows padded to 4 bytes — the third
    REAL container format after PNG/WAV, covering the uncompressed
    end of the codec spectrum."""
    import struct

    if len(pixels) != width * height:
        raise ValueError("pixels must be exactly width*height bytes")
    row_pad = (-width) % 4
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    rows = b"".join(
        pixels[y * width : (y + 1) * width] + b"\x00" * row_pad
        for y in range(height - 1, -1, -1)  # bottom-up storage order
    )
    offset = 14 + 40 + len(palette)
    header = struct.pack("<2sIHHI", b"BM", offset + len(rows), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(rows), 0, 0, 256, 0
    )
    return header + info + palette + rows


def decode_bmp_gray(data: bytes) -> tuple[int, int, bytes]:
    """Real BMP decode (8-bit palettized, uncompressed, bottom-up):
    header walk, palette-indexed pixel lookup mapped through the gray
    palette, rows un-padded and flipped to top-down. Returns
    (width, height, pixel bytes) — same contract as the PNG twin."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    (offset,) = struct.unpack("<I", data[10:14])
    (header_size,) = struct.unpack("<I", data[14:18])
    width, height = struct.unpack("<ii", data[18:26])
    bitcount, compression = struct.unpack("<HI", data[28:34])
    if width <= 0:
        raise ValueError("invalid BMP width")
    if bitcount != 8 or compression != 0:
        raise NotImplementedError(
            "only uncompressed 8-bit BMP supported by the stdlib codec"
        )
    # V4/V5 headers relocate the palette (data[54:offset] would slice
    # header bytes into it) and negative height flips storage to
    # top-down — both are VALID BMPs this codec must refuse loudly,
    # never silently mis-decode.
    if header_size != 40:
        raise NotImplementedError(
            "only the 40-byte BITMAPINFOHEADER supported by the stdlib "
            "codec (got a V4/V5-class header)"
        )
    if height <= 0:
        raise NotImplementedError(
            "only bottom-up (positive height) BMP supported by the "
            "stdlib codec"
        )
    if not 54 <= offset <= len(data):
        raise ValueError("invalid BMP pixel data offset")
    palette = data[54:offset]
    if len(palette) < 1024:
        # this codec's encoder always writes the full 256-entry gray
        # palette; a shorter one means indexes could run off its end
        raise ValueError("truncated BMP palette")
    gray = bytes(palette[4 * i] for i in range(len(palette) // 4))
    stride = width + ((-width) % 4)
    if offset + stride * height > len(data):
        # a short final row would otherwise SILENTLY yield fewer
        # pixels than width*height (round-7 fuzz sweep)
        raise ValueError("truncated BMP pixel data")
    out = bytearray()
    for y in range(height - 1, -1, -1):  # flip bottom-up to top-down
        row = data[offset + y * stride : offset + y * stride + width]
        out += bytes(gray[p] for p in row)
    return width, height, bytes(out)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81), grayscale — the fourth REAL container
# format and the first genuinely LOSSY/compressed one: DCT + scalar
# quantization + canonical Huffman entropy coding, pure stdlib+numpy.
# PNG covers lossless-compressed (zlib), BMP uncompressed, WAV PCM
# audio; JPEG adds the transform-coded end of the codec spectrum.
# The decoder reads baseline AND progressive (T.81 §G.2), grayscale
# AND 3-component YCbCr color with subsampled interleaved MCUs,
# cross-validated against javax.imageio on foreign golden files
# (tests/fixtures_jpeg); the encoders here write baseline streams
# (the progressive encoders the decoder tests use live in
# tests/jpeg_codecs.py).
# Library-gated seams that remain: CMYK/arithmetic JPEG, real
# audio/video codecs.
# ---------------------------------------------------------------------------

# Standard Huffman specs (T.81 Tables K.3/K.5): (bits[1..16], values).
# Encoder and decoder both derive their code tables from these specs
# (and the decoder re-derives them from the DHT segment, so the two
# sides are consistent by construction).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Standard Annex K chrominance Huffman specs (T.81 Tables K.4/K.6)
# for the color encoder's second table slots: Huffman class/slot
# (0,1)/(1,1), exactly as JFIF color encoders emit them.
_JPEG_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_CHROMA_VALS = list(range(12))
_JPEG_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_zigzag() -> list[int]:
    """Row-major indices in zigzag scan order, generated (not
    hardcoded) by the diagonal walk: even diagonals run bottom-left to
    top-right, odd ones the reverse."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        for i in (rng if d % 2 else reversed(rng)):
            order.append(i * 8 + (d - i))
    return order


def _jpeg_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman assignment: symbol -> (code, length).
    Codes of each length are consecutive, starting from twice the
    previous length's end (T.81 Annex C)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_dct_matrix():
    import numpy as np

    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c[0] *= 1 / np.sqrt(2)
    return c / 2  # orthonormal DCT-II


def _rgb_to_ycbcr(rgb):
    """JFIF 1.02 §7 color transform, float64 on (h, w, 3) arrays;
    returns (y, cb, cr) planes rounded+clamped to [0, 255] ints.
    Grey inputs (R=G=B) map to (Y=R, 128, 128) EXACTLY: the luma
    weights sum to 1 and both chroma rows to 0, so the fixtures'
    grey-tile images survive the full color pipeline bit-for-bit."""
    import numpy as np

    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return tuple(
        np.clip(np.round(p), 0, 255).astype(np.float64) for p in (y, cb, cr)
    )


def _ycbcr_to_rgb(y, cb, cr):
    """Inverse JFIF transform on float planes; returns interleaved
    uint8 RGB (h, w, 3)."""
    import numpy as np

    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _jpeg_upsample(plane, fx: int, fy: int):
    """Chroma upsampling with the same filter selection the libjpeg
    decoder lineage (and so javax.imageio) applies: TRIANGULAR
    ("fancy") interpolation for the h2v1 and h2v2 cases — 3/4·nearest
    + 1/4·next-nearest with libjpeg's exact alternating integer
    rounding and edge replication — and sample replication for every
    other ratio (libjpeg jdsample.c implements fancy only for those
    two). Integer-exact, so the decode stays deterministic."""
    import numpy as np

    p = plane.astype(np.int64)
    if (fx, fy) == (2, 2):
        # vertical 3:1 sums (values scaled x4), then horizontal 3:1
        # with the +8/+7 alternating round of h2v2_fancy_upsample
        vs = np.empty((p.shape[0] * 2, p.shape[1]), np.int64)
        vs[0::2] = 3 * p + np.vstack([p[:1], p[:-1]])
        vs[1::2] = 3 * p + np.vstack([p[1:], p[-1:]])
        out = np.empty((vs.shape[0], vs.shape[1] * 2), np.int64)
        out[:, 0::2] = (3 * vs + np.hstack([vs[:, :1], vs[:, :-1]]) + 8) >> 4
        out[:, 1::2] = (3 * vs + np.hstack([vs[:, 1:], vs[:, -1:]]) + 7) >> 4
        return out
    if (fx, fy) == (2, 1):
        out = np.empty((p.shape[0], p.shape[1] * 2), np.int64)
        out[:, 0::2] = (3 * p + np.hstack([p[:, :1], p[:, :-1]]) + 1) >> 2
        out[:, 1::2] = (3 * p + np.hstack([p[:, 1:], p[:, -1:]]) + 2) >> 2
        return out
    return np.repeat(np.repeat(p, fy, axis=0), fx, axis=1)


def _jpeg_emit_block(w, flat, prev_dc, dc_codes, ac_codes) -> int:
    """Sequential-DCT entropy coding of ONE zigzag-ordered quantized
    block (T.81 F.1.2): DC difference magnitude category + appended
    bits, AC run/size symbols with ZRL for 16+ zero runs and EOB when
    the tail is empty. Returns this block's DC (the next prediction).
    Shared by the grayscale and color encoders — interleaving only
    changes block ORDER and which table pair each block uses."""
    diff = int(flat[0]) - prev_dc
    size = abs(diff).bit_length()
    w.put(*dc_codes[size])
    if size:
        w.put(
            (diff if diff >= 0 else diff + (1 << size) - 1)
            & ((1 << size) - 1),
            size,
        )
    run = 0
    last_nz = max((i for i in range(1, 64) if flat[i]), default=0)
    for i in range(1, last_nz + 1):
        v = int(flat[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.put(*ac_codes[0xF0])  # ZRL
            run -= 16
        size = abs(v).bit_length()
        w.put(*ac_codes[(run << 4) | size])
        w.put((v if v >= 0 else v + (1 << size) - 1) & ((1 << size) - 1), size)
        run = 0
    if last_nz < 63:
        w.put(*ac_codes[0x00])  # EOB
    return int(flat[0])


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF -> FF00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-pad to byte edge (F.1.2.3)
        return bytes(self.buf)

    def restart(self, n: int) -> None:
        """Byte-align (1-padding; a resulting 0xFF data byte is stuffed
        like any other) and emit the RSTn marker UNstuffed — markers
        are not entropy data (ITU T.81 §F.1.2.3 / §B.2.1)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (n & 7)])


def encode_jpeg_gray(
    pixels: bytes,
    width: int,
    height: int,
    quant: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG, single grayscale component: 8x8
    blocks (edge-replicated padding), orthonormal float DCT, scalar
    quantization (``quant`` row-major; default ALL-ONES — the
    near-lossless setting the fixtures use, so the decode round-trip
    error is DCT float rounding only, |err| <= 2), zigzag, DC
    differential + standard Annex K Huffman coding, byte stuffing,
    JFIF container (SOI APP0 DQT SOF0 DHT DHT [DRI] SOS ... EOI).

    ``restart_interval`` > 0 emits a DRI segment and cyclic RST0-7
    markers every that-many MCUs (byte-aligned, DC prediction reset) —
    the error-resilience/parallel-decode feature most camera JPEGs
    carry."""
    import struct

    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixels must be exactly width*height bytes")
    q = list(quant) if quant is not None else [1] * 64
    zz = _jpeg_zigzag()
    dc_codes = _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dct = _jpeg_dct_matrix()
    qm = np.array(q, dtype=np.float64).reshape(8, 8)

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ph, pw = -height % 8, -width % 8
    img = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0

    w = _BitWriter()

    prev_dc = 0
    mcu = 0
    for by in range(0, img.shape[0], 8):
        for bx in range(0, img.shape[1], 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart((mcu // restart_interval - 1) % 8)
                prev_dc = 0
            mcu += 1
            block = img[by : by + 8, bx : bx + 8]
            coef = dct @ block @ dct.T
            qc = np.round(coef / qm).astype(np.int64)
            flat = qc.reshape(64)[zz]
            prev_dc = _jpeg_emit_block(w, flat, prev_dc, dc_codes, ac_codes)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    zz_q = bytes(q[i] for i in zz)
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    return (
        b"\xff\xd8"
        + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xFFDB, b"\x00" + zz_q)
        + seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + (
            seg(0xFFDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
        + w.flush()
        + b"\xff\xd9"
    )


def _jpeg_color_coef_grids(
    pixels: bytes, width: int, height: int, ql, qc, hs: int, vs: int
):
    """Shared color front end of the color encoders: JFIF
    RGB -> YCbCr, box-averaged chroma subsampling, edge padding to the
    MCU grid, vectorized DCT + quantization. Returns ([Y, Cb, Cr]
    zigzag-ordered coefficient grids of shape (bh, bw, 64), mcux,
    mcuy) — luma grid is (mcuy*vs, mcux*hs) blocks, chroma (mcuy,
    mcux)."""
    import numpy as np

    zz = _jpeg_zigzag()
    dct = _jpeg_dct_matrix()
    rgb = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    y, cb, cr = _rgb_to_ycbcr(rgb)
    mcux, mcuy = -(-width // (8 * hs)), -(-height // (8 * vs))

    def subsample(p):
        if (hs, vs) == (1, 1):
            return p
        ph, pw = -p.shape[0] % vs, -p.shape[1] % hs
        p = np.pad(p, ((0, ph), (0, pw)), mode="edge")
        return np.round(
            p.reshape(p.shape[0] // vs, vs, p.shape[1] // hs, hs).mean(
                axis=(1, 3)
            )
        )

    def blockify(p, bh, bw, qtab):
        p = np.pad(
            p,
            ((0, bh * 8 - p.shape[0]), (0, bw * 8 - p.shape[1])),
            mode="edge",
        ) - 128.0
        blocks = (
            p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        coef = np.einsum("ij,njk,kl->nil", dct, blocks, dct.T)
        qm = np.array(qtab, dtype=np.float64).reshape(8, 8)
        qz = np.round(coef / qm).reshape(-1, 64)[:, zz].astype(np.int64)
        return qz.reshape(bh, bw, 64)

    planes = [
        blockify(y, mcuy * vs, mcux * hs, ql),
        blockify(subsample(cb), mcuy, mcux, qc),
        blockify(subsample(cr), mcuy, mcux, qc),
    ]
    return planes, mcux, mcuy


def encode_jpeg_color(
    pixels: bytes,
    width: int,
    height: int,
    quant_luma: "list[int] | None" = None,
    quant_chroma: "list[int] | None" = None,
    subsampling: "tuple[int, int]" = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG, 3-component YCbCr color: JFIF RGB ->
    YCbCr transform, chroma subsampling by box averaging (``
    subsampling`` = luma's (H1, V1) sampling factors — (2, 2) is
    4:2:0, (2, 1) 4:2:2, (1, 1) 4:4:4; chroma is always (1, 1)),
    per-component quantization (table 0 luma / table 1 chroma;
    defaults ALL-ONES both — the near-lossless setting, so a 4:4:4
    round-trip error is color-transform + DCT rounding only and a
    grey-valued input survives 4:2:0 EXACTLY since its chroma planes
    are the constant 128), INTERLEAVED MCU scan order (T.81 A.2.3:
    per MCU, all of component 1's H1xV1 blocks row-major, then Cb,
    then Cr) with per-component DC prediction and the Annex K
    luma/chroma Huffman table pairs, JFIF container (SOI APP0 DQT DQT
    SOF0 DHTx4 [DRI] SOS ... EOI).

    ``restart_interval`` > 0 emits DRI + cyclic RST0-7 every that-many
    MCUs (byte-aligned; ALL components' DC predictions reset).

    The reference pipeline has no multimodal surface at all (SURVEY
    §2.7); this closes the encode side of the color seam so real
    image-corpus shapes (camera JPEGs are 3-component 4:2:0) can be
    generated, ingested and decoded end-to-end in tests and fixtures."""
    import struct

    import numpy as np

    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be exactly width*height*3 RGB bytes")
    hs, vs = subsampling
    if (hs, vs) not in ((1, 1), (2, 1), (1, 2), (2, 2)):
        raise ValueError("subsampling must be (1|2, 1|2)")
    ql = list(quant_luma) if quant_luma is not None else [1] * 64
    qc = list(quant_chroma) if quant_chroma is not None else [1] * 64
    zz = _jpeg_zigzag()
    dct = _jpeg_dct_matrix()
    luma_codes = (
        _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
        _jpeg_codes(_JPEG_AC_BITS, _JPEG_AC_VALS),
    )
    chroma_codes = (
        _jpeg_codes(_JPEG_DC_CHROMA_BITS, _JPEG_DC_CHROMA_VALS),
        _jpeg_codes(_JPEG_AC_CHROMA_BITS, _JPEG_AC_CHROMA_VALS),
    )

    planes, mcux, mcuy = _jpeg_color_coef_grids(
        pixels, width, height, ql, qc, hs, vs
    )
    factors = [(hs, vs), (1, 1), (1, 1)]
    codes = [luma_codes, chroma_codes, chroma_codes]

    w = _BitWriter()
    pred = [0, 0, 0]
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart((mcu // restart_interval - 1) % 8)
                pred = [0, 0, 0]
            mcu += 1
            for ci, (grid, (fh, fv)) in enumerate(zip(planes, factors)):
                for dv in range(fv):
                    for dh in range(fh):
                        pred[ci] = _jpeg_emit_block(
                            w,
                            grid[my * fv + dv, mx * fh + dh],
                            pred[ci],
                            *codes[ci],
                        )

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xFFDB, b"\x00" + bytes(ql[i] for i in zz))
        + seg(0xFFDB, b"\x01" + bytes(qc[i] for i in zz))
        + seg(0xFFC0, sof)
        + seg(0xFFC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(
            0xFFC4,
            bytes([0x01]) + bytes(_JPEG_DC_CHROMA_BITS) + bytes(_JPEG_DC_CHROMA_VALS),
        )
        + seg(
            0xFFC4,
            bytes([0x11]) + bytes(_JPEG_AC_CHROMA_BITS) + bytes(_JPEG_AC_CHROMA_VALS),
        )
        + (
            seg(0xFFDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + w.flush()
        + b"\xff\xd9"
    )


class _JpegBitReader:
    """MSB-first bit reader over one scan's restart segments (already
    unstuffed). ``next_segment`` re-aligns to the next restart segment
    — decoding state resets (DC prediction, EOB run) are the caller's
    job (§F.2.1.3.1)."""

    def __init__(self, segments: "list[bytearray]") -> None:
        self.segments = segments
        self.idx = 0
        self.raw = segments[0]
        self.bitpos = 0

    def next_segment(self) -> None:
        self.idx += 1
        if self.idx >= len(self.segments):
            raise ValueError("missing restart marker")
        self.raw = self.segments[self.idx]
        self.bitpos = 0

    def bit(self) -> int:
        if self.bitpos >= len(self.raw) * 8:
            raise ValueError("bitstream exhausted")
        b = (self.raw[self.bitpos >> 3] >> (7 - (self.bitpos & 7))) & 1
        self.bitpos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def symbol(self, table: "dict[tuple[int, int], int]") -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a ``size``-bit magnitude to its signed
    value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_entropy_segments(
    data: bytes, start: int
) -> "tuple[list[bytearray], int]":
    """Collect one scan's entropy-coded bytes from ``start``: unstuff
    FF00 -> FF; RST0-7 markers split the stream into restart SEGMENTS
    (each begins byte-aligned); any other marker ends the scan. Returns
    (segments, position of the terminating marker/end of data)."""
    segments: list[bytearray] = [bytearray()]
    i = start
    while i < len(data):
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < len(data) else None
            if nxt == 0x00:
                segments[-1].append(0xFF)
                i += 2
                continue
            if nxt == 0xFF:
                # T.81 B.1.1.2: markers may be PRECEDED by any number
                # of 0xFF fill bytes; consume them so the caller's pos
                # lands on the real marker, not a fill byte.
                i += 1
                continue
            if nxt is not None and 0xD0 <= nxt <= 0xD7:
                segments.append(bytearray())
                i += 2
                continue
            break
        segments[-1].append(b)
        i += 1
    return segments, i


def _jpeg_sequential_scan_mc(units, segments, ri: int) -> None:
    """Sequential-DCT scan over decode UNITS — the layout-agnostic
    core: a unit is one MCU's block list in interleaved scans, or a
    single block in non-interleaved (Ns=1) scans, each entry a
    ``(coef_row, comp)`` pair carrying that block's component (its
    DC/AC tables and its own DC prediction chain, T.81 F.2.2.1).
    ``ri`` restarts count UNITS (MCUs interleaved, blocks otherwise,
    §F.2.1.3.1) and reset every component's prediction."""
    rd = _JpegBitReader(segments)
    pred: "dict[int, int]" = {}
    for ui, unit in enumerate(units):
        if ri and ui and ui % ri == 0:
            rd.next_segment()
            pred = {}
        for c, comp in unit:
            size = rd.symbol(comp["dc"])
            if size > 15:
                # DC SSSS is 0..11 for 8-bit precision (T.81 F.1.2.1);
                # a corrupt table value past 15 would otherwise read an
                # unbounded magnitude and overflow the int64 buffer
                raise ValueError("invalid DC size category")
            diff = _jpeg_extend(rd.bits(size), size) if size else 0
            pred[comp["cid"]] = dc = pred.get(comp["cid"], 0) + diff
            c[0] = dc
            k = 1
            while k < 64:
                rs = rd.symbol(comp["ac"])
                run, size = rs >> 4, rs & 0xF
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                if size == 0:
                    # In a SEQUENTIAL scan only 0x00 (EOB) and 0xF0
                    # (ZRL) have SSSS=0; any other is stream
                    # corruption — reject explicitly instead of
                    # reaching _jpeg_extend(v, 0)'s negative shift.
                    raise ValueError("invalid AC run/size symbol")
                k += run
                if k > 63:
                    raise ValueError("AC index overflow")
                c[k] = _jpeg_extend(rd.bits(size), size)
                k += 1


def _jpeg_refine_ac(c, rd, ss, se, al, eobrun, ac_table) -> int:
    """One block of an AC successive-approximation REFINEMENT scan
    (T.81 §G.2; the libjpeg decode_mcu_AC_refine shape): newly
    significant coefficients arrive as ±1<<Al, already-nonzero ones get
    one correction bit each (in position order, interleaved with the
    run walk), EOB runs carry the remaining blocks' correction bits.
    Returns the remaining EOB-run count."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.symbol(ac_table)
            r, s = rs >> 4, rs & 0xF
            if s:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                s = p1 if rd.bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += rd.bits(r)
                break  # rest of band joins the EOB-run tail below
            # advance past r zero-HISTORY coefficients, appending a
            # correction bit to each nonzero-history one on the way
            while k <= se:
                if c[k] != 0:
                    if rd.bit() and (c[k] & p1) == 0:
                        c[k] += p1 if c[k] >= 0 else m1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if s and k <= se:
                c[k] = s
            k += 1
    if eobrun > 0:
        while k <= se:  # correction bits for the remainder of the band
            if c[k] != 0:
                if rd.bit() and (c[k] & p1) == 0:
                    c[k] += p1 if c[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_progressive_scan_mc(
    units, segments, ss, se, ah, al, ri: int
) -> None:
    """One progressive scan (T.81 §G.2) over decode units:
    DC first / DC refine (which MAY be interleaved multi-component,
    each component on its own prediction chain) / AC first (with EOB
    runs) / AC refine. AC scans are single-component by construction
    (§G.1.1.1.1 — Ns=1 when spectral selection excludes DC), so their
    units carry exactly one block."""
    rd = _JpegBitReader(segments)
    pred: "dict[int, int]" = {}
    eobrun = 0
    for ui, unit in enumerate(units):
        if ri and ui and ui % ri == 0:
            rd.next_segment()
            pred = {}
            eobrun = 0
        if ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se=0")
            for c, comp in unit:
                if ah == 0:  # DC first: diff-coded, point-transformed
                    size = rd.symbol(comp["dc"])
                    if size > 15:
                        raise ValueError("invalid DC size category")
                    diff = _jpeg_extend(rd.bits(size), size) if size else 0
                    pred[comp["cid"]] = dc = pred.get(comp["cid"], 0) + diff
                    c[0] = dc << al
                else:  # DC refine: one bit per block (two's compl |=)
                    if rd.bit():
                        c[0] |= 1 << al
            continue
        if len(unit) != 1:
            raise ValueError("progressive AC scans must be Ns=1")
        c, comp = unit[0]
        table = comp["ac"]
        if ah == 0:  # AC first
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = rd.symbol(table)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1  # EOBn: this block is one
                    if r:
                        eobrun += rd.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC index overflow")
                c[k] = _jpeg_extend(rd.bits(s), s) << al
                k += 1
        else:  # AC refine
            eobrun = _jpeg_refine_ac(c, rd, ss, se, al, eobrun, table)


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Real JPEG decode, 1- or 3-component: segment walk, DQT/DHT
    table builds from the stream itself, entropy decode with
    byte-unstuffing into per-component coefficient buffers,
    dequantize, un-zigzag, orthonormal IDCT, chroma upsample, YCbCr ->
    RGB (JFIF 1.02), level shift, clamp, pad crop. Returns
    (width, height, channels, pixel bytes) — channels is 1 (grayscale
    bytes) or 3 (interleaved RGB).

    Decodes BOTH process families: baseline sequential (SOF0) and
    PROGRESSIVE (SOF2) with spectral selection + successive
    approximation (T.81 §G.2); INTERLEAVED multi-component MCU scans
    (sampling factors where Hmax/Vmax divide evenly — 4:4:4, 4:2:2,
    4:2:0, 4:1:1) and NON-interleaved Ns=1 scans (progressive AC
    scans, and the per-component sequential/DC scans foreign encoders
    emit); both DQT precisions (8-bit and the 16-bit Pq=1 tables);
    DRI/RSTn restart intervals in every scan type (counting MCUs in
    interleaved scans, blocks in non-interleaved, §F.2.1.3.1).
    Chroma upsampling follows the libjpeg decoder lineage exactly
    (triangular for 2x factors, replication otherwise — see
    :func:`_jpeg_upsample`), cross-validated against javax.imageio on
    the tests/fixtures_jpeg goldens. Lossless-sequential/arithmetic
    SOFs,
    CMYK (4-component), and non-dividing sampling factors raise
    NotImplementedError."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    comps: "list[dict]" = []
    by_cid: "dict[int, dict]" = {}
    hmax = vmax = 1
    mcux = mcuy = 0
    restart_interval = 0
    progressive = False
    seen_scan = False
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2 fill byte before a marker
            pos += 1
            continue
        if marker == 0xD9:
            break
        if pos + 4 > len(data):
            raise ValueError("truncated segment header")
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if ln < 2:
            raise ValueError("invalid segment length")
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq == 1:  # 16-bit big-endian entries (foreign files)
                    if i + 129 > len(body):
                        raise ValueError("truncated DQT")
                    quant[tq] = list(
                        struct.unpack(">64H", body[i + 1 : i + 129])
                    )
                    i += 129
                elif pq == 0:
                    if i + 65 > len(body):
                        raise ValueError("truncated DQT")
                    quant[tq] = list(body[i + 1 : i + 65])
                    i += 65
                else:
                    raise ValueError(f"invalid DQT precision {pq}")
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0) or progressive (SOF2) huffman DCT"
            )
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("truncated SOF")
            prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "only grayscale (1) or YCbCr (3) components"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF")
            for i in range(ncomp):
                cid = body[6 + 3 * i]
                h, v = body[7 + 3 * i] >> 4, body[7 + 3 * i] & 0xF
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError("invalid sampling factor")
                comps.append(
                    {"cid": cid, "h": h, "v": v, "tq": body[8 + 3 * i]}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                raise NotImplementedError(
                    "sampling factors must divide Hmax/Vmax"
                )
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            for c in comps:
                # padded INTERLEAVED grid (encoders emit dummy blocks
                # out to the MCU boundary) vs the smaller block count
                # NON-interleaved scans actually code (T.81 A.2.2/A.2.3)
                c["bw"], c["bh"] = mcux * c["h"], mcuy * c["v"]
                c["nb_w"] = -(-(-(-width * c["h"] // hmax)) // 8)
                c["nb_h"] = -(-(-(-height * c["v"] // vmax)) // 8)
                c["coef"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int64)
                by_cid[c["cid"]] = c
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated DHT")
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                if i + 17 + nv > len(body):
                    raise ValueError("truncated DHT")
                vals = list(body[i + 17 : i + 17 + nv])
                codes = _jpeg_codes(bits, vals)
                huff[(tc, th)] = {(l, c): s for s, (c, l) in codes.items()}
                i += 17 + nv
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("truncated DRI")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if width is None:
                raise ValueError("SOS before SOF")
            ns = body[0] if body else 0
            if not 1 <= ns <= 4 or len(body) < 1 + 2 * ns + 3:
                raise ValueError("invalid SOS header")
            scomps = []
            for i in range(ns):
                c = by_cid.get(body[1 + 2 * i])
                if c is None:
                    raise ValueError("scan references unknown component")
                c["dc"] = huff.get((0, body[2 + 2 * i] >> 4))
                c["ac"] = huff.get((1, body[2 + 2 * i] & 0xF))
                scomps.append(c)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            if ss > 63 or se > 63 or se < ss or ah > 13 or al > 13:
                raise ValueError("invalid scan header")
            for c in scomps:
                need_dc = not progressive or (ss == 0 and ah == 0)
                need_ac = not progressive or ss > 0
                if need_dc and c["dc"] is None:
                    raise ValueError("scan references missing DC table")
                if need_ac and c["ac"] is None:
                    raise ValueError("scan references missing AC table")
            seen_scan = True
            if ns == 1:
                c = scomps[0]
                units = (
                    [(c["coef"][byi, bxi], c)]
                    for byi in range(c["nb_h"])
                    for bxi in range(c["nb_w"])
                )
            else:
                units = (
                    [
                        (c["coef"][my * c["v"] + dv, mx * c["h"] + dh], c)
                        for c in scomps
                        for dv in range(c["v"])
                        for dh in range(c["h"])
                    ]
                    for my in range(mcuy)
                    for mx in range(mcux)
                )
            segments, pos = _jpeg_entropy_segments(data, pos + 2 + ln)
            if progressive:
                _jpeg_progressive_scan_mc(
                    units, segments, ss, se, ah, al, restart_interval
                )
            else:
                if ss != 0 or se != 63 or ah or al:
                    raise ValueError("invalid baseline scan header")
                _jpeg_sequential_scan_mc(units, segments, restart_interval)
            continue  # pos already advanced to the terminating marker
        pos += 2 + ln
    if not seen_scan or width is None:
        raise ValueError("truncated JPEG")

    zz = _jpeg_zigzag()
    dct = _jpeg_dct_matrix()
    planes = []
    for c in comps:
        if c["tq"] not in quant:
            raise ValueError("frame references missing quantization table")
        qm = np.array(quant[c["tq"]], dtype=np.float64)
        used = c["coef"][: c["nb_h"], : c["nb_w"]].reshape(-1, 64)
        blocks = np.zeros((used.shape[0], 64), dtype=np.float64)
        blocks[:, zz] = used * qm  # both zigzag-ordered
        pix = (
            np.einsum(
                "ij,njk,kl->nil", dct.T, blocks.reshape(-1, 8, 8), dct
            )
            + 128.0
        )
        plane = (
            pix.reshape(c["nb_h"], c["nb_w"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["nb_h"] * 8, c["nb_w"] * 8)
        )
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        plane = np.clip(np.round(plane[:ch, :cw]), 0, 255)
        if c["h"] != hmax or c["v"] != vmax:
            plane = _jpeg_upsample(plane, hmax // c["h"], vmax // c["v"])
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        return width, height, 1, planes[0].astype(np.uint8).tobytes()
    rgb = _ycbcr_to_rgb(*planes)
    return width, height, 3, rgb.tobytes()


def encode_wav_pcm8(samples: bytes, rate: int = 8000) -> bytes:
    """Minimal valid WAV: mono 8-bit unsigned PCM via stdlib wave."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(rate)
        w.writeframes(samples)
    return buf.getvalue()


def decode_wav_pcm8(data: bytes) -> tuple[int, bytes]:
    """Real WAV decode via stdlib wave. Returns (rate, sample bytes).
    Corrupt/truncated containers raise ValueError (the stdlib module's
    wave.Error/EOFError zoo normalized — round-7 fuzz sweep), so a bad
    object in an ingest directory fails a stats batch loudly and
    uniformly with the image codecs."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            return w.getframerate(), w.readframes(w.getnframes())
    except (wave.Error, EOFError, RuntimeError) as e:
        raise ValueError(f"corrupt WAV container: {e}") from e


PNG_PIXEL_CAP = 256  # 16x16 grayscale fixture images
WAV_SAMPLE_CAP = 64


def write_binary_fixtures(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 20,
) -> int:
    """Materialize REAL binary files (PNG + BMP + JPEG gray/color +
    WAV) derived from the text corpus: every ``modulus``-th doc yields
    doc_{id}.{png,bmp,jpg} (its first 256 utf-8 bytes as a 16x16
    grayscale image, zero-padded — identical pixels through three
    codecs: zlib-lossless, uncompressed, DCT-lossy), doc_{id}.jfif (a
    3-component 4:2:0 color JPEG of grey 8x8 tiles from the first 4
    text bytes — exact through the lossy pipeline by construction)
    and doc_{id}.wav (its first 64 bytes as 8-bit PCM samples).

    Fixture-generation utility, driver-side by design: the subset is
    capped (|docs|/modulus files) and collected once. Production
    multimodal data already EXISTS as files/objects — the scale path is
    :func:`ingest_binary_dir` over them, never this generator. Returns
    the number of docs materialized; idempotent (existing complete dirs
    are left untouched)."""
    import os
    from pathlib import Path

    import hashlib

    # NULL text cannot encode to bytes: those docs yield no fixture
    # file (same row-skipping a production lake does for null blobs);
    # the oracle twins select with the identical IS NOT NULL filter.
    rows = (
        docs.filter(
            ((F.col(id_col) % modulus) == 0) & F.col(text_col).isNotNull()
        )
        .select(id_col, text_col)
        .collect()
    )
    out = Path(out_dir)
    done = out / "_FIXTURES_DONE"
    # Idempotence marker is a CONTENT digest, not a row count: equal
    # counts with changed text must regenerate, or stale PNG/WAV bytes
    # would surface downstream as an opaque oracle hash mismatch. The
    # format-set prefix versions the marker, so dirs written before a
    # codec was added regenerate instead of silently missing files.
    digest = "png+wav+bmp+jpg+jfif:" + hashlib.md5(
        "\x1f".join(
            f"{r[id_col]}\x1e{r[text_col]}"
            for r in sorted(rows, key=lambda r: r[id_col])
        ).encode("utf-8")
    ).hexdigest()
    if done.exists() and done.read_text() == digest:
        return len(rows)
    out.mkdir(parents=True, exist_ok=True)
    # Regeneration must also REMOVE stale files: a shrunk/changed doc
    # set would otherwise leave orphan doc_*.{png,wav,bmp} that
    # ingest_binary_dir still reads, breaking oracle counts/sums.
    for stale in out.glob("doc_*"):
        stale.unlink()
    for r in rows:
        raw = r[text_col].encode("utf-8")
        pix = raw[:PNG_PIXEL_CAP].ljust(PNG_PIXEL_CAP, b"\x00")
        (out / f"doc_{r[id_col]}.png").write_bytes(encode_png_gray(pix, 16, 16))
        (out / f"doc_{r[id_col]}.bmp").write_bytes(encode_bmp_gray(pix, 16, 16))
        # All-ones quant: the near-lossless JPEG setting (|err| <= 2
        # per pixel, DCT float rounding only) — lossy by format, so
        # .jpg stays OUT of ingest_binary_dir's default glob and the
        # pixel-sum oracles; the JPEG twin query verifies it.
        (out / f"doc_{r[id_col]}.jpg").write_bytes(encode_jpeg_gray(pix, 16, 16))
        # Color twin (.jfif so the gray queries' *.jpg globs never see
        # it): a REAL 3-component 4:2:0 interleaved JPEG whose pixels
        # are four 8x8 GREY tiles valued by the first 4 text bytes —
        # grey + block-constant means the full color pipeline (RGB ->
        # YCbCr, chroma subsample, MCU interleave, two table pairs) is
        # EXACT, so the decoded value sum stays text-replayable by the
        # DuckDB oracle despite JPEG being a lossy format.
        tb = raw[:4].ljust(4, b"\x00")
        gray16 = b"".join(
            bytes([tb[ty * 2]]) * 8 + bytes([tb[ty * 2 + 1]]) * 8
            for ty in range(2)
            for _ in range(8)
        )
        rgb16 = b"".join(bytes([p, p, p]) for p in gray16)
        (out / f"doc_{r[id_col]}.jfif").write_bytes(
            encode_jpeg_color(rgb16, 16, 16, subsampling=(2, 2))
        )
        (out / f"doc_{r[id_col]}.wav").write_bytes(
            encode_wav_pcm8(raw[:WAV_SAMPLE_CAP], rate=8000)
        )
    tmp = out / "_FIXTURES_DONE.tmp"
    tmp.write_text(digest)
    os.replace(tmp, done)
    return len(rows)


def _jpeg_sof0_dims_sql(col: str = "content", max_segments: int = 40) -> str:
    """JVM-side JPEG dimension parse as a SQL expression: walk the
    marker-segment chain BY DECLARED LENGTH FIELDS (ITU T.81 §B.1) —
    SOI, then each segment is FF <marker> <len:u16> <payload>, hopping
    ``off -> off + 2 + len`` — until a SOF0/SOF2 frame header
    (precision 8) yields height/width, or SOS/EOI/desync yields NULL. Unlike the
    previous anchored-regexp scan over the hex string, a stray FF C0
    byte pair INSIDE an APPn/EXIF/COM payload is never even visited, so
    it cannot hijack the dims no matter what bytes follow it (round-6
    ADVICE fix; the stray/nibble regression tests pin both codecs'
    cases).

    Shape: one ``aggregate`` fold over a bounded step sequence with a
    (offset, h, w, done) struct accumulator — per-row work is
    O(max_segments) 1-2 byte substrings, independent of payload size
    (entropy data is never touched). Headers with more than
    ``max_segments`` segments before SOF0 (pathological EXIF stacks)
    return NULL dims rather than garbage. Fill bytes (repeated FF) and
    the standalone TEM/RSTn markers are stepped over per the spec.
    The finish struct carries (h, w, nc) — nc is the frame's component
    count (1 grayscale / 3 YCbCr), read from the same validated SOF."""
    u8 = (
        lambda p: f"CAST(conv(hex(substring({col}, CAST(({p}) AS INT), 1)), "
        f"16, 10) AS BIGINT)"
    )
    u16 = (
        lambda p: f"CAST(conv(hex(substring({col}, CAST(({p}) AS INT), 2)), "
        f"16, 10) AS BIGINT)"
    )
    keep = (
        "named_struct('off', a.off, 'h', a.h, 'w', a.w, 'nc', a.nc, "
        "'done', true)"
    )
    sof0_ok = f"{u8('a.off + 4')} = 8 AND a.off + 8 <= length({col})"
    step = f"""CASE
      WHEN a.done OR a.off IS NULL OR a.off + 1 > length({col}) THEN {keep}
      WHEN {u8('a.off')} <> 255 THEN {keep}
      WHEN {u8('a.off + 1')} = 255
        THEN named_struct('off', a.off + 1, 'h', a.h, 'w', a.w, 'nc', a.nc,
                          'done', false)
      WHEN {u8('a.off + 1')} = 192 OR {u8('a.off + 1')} = 194
        THEN named_struct('off', a.off,
        'h', CASE WHEN {sof0_ok} THEN {u16('a.off + 5')} END,
        'w', CASE WHEN {sof0_ok} THEN {u16('a.off + 7')} END,
        'nc', CASE WHEN {sof0_ok} THEN {u8('a.off + 9')} END,
        'done', true)
      WHEN {u8('a.off + 1')} = 216 OR {u8('a.off + 1')} = 1
           OR ({u8('a.off + 1')} BETWEEN 208 AND 215)
        THEN named_struct('off', a.off + 2, 'h', a.h, 'w', a.w, 'nc', a.nc,
                          'done', false)
      WHEN {u8('a.off + 1')} = 217 OR {u8('a.off + 1')} = 218 THEN {keep}
      ELSE named_struct('off', a.off + 2 + {u16('a.off + 2')},
                        'h', a.h, 'w', a.w, 'nc', a.nc, 'done', false)
    END"""
    return (
        f"aggregate(sequence(1, {max_segments}), "
        "named_struct('off', CAST(3 AS BIGINT), 'h', CAST(NULL AS BIGINT), "
        "'w', CAST(NULL AS BIGINT), 'nc', CAST(NULL AS BIGINT), "
        "'done', false), "
        f"(a, i) -> {step}, "
        "a -> named_struct('h', nullif(a.h, CAST(0 AS BIGINT)), "
        "'w', nullif(a.w, CAST(0 AS BIGINT)), "
        "'nc', nullif(a.nc, CAST(0 AS BIGINT))))"
    )


def ingest_binary_dir(spark, path: str, glob: str = "*.{png,wav,bmp}") -> DataFrame:
    """REAL multimodal ingestion: ``spark.read.format("binaryFile")``
    over a directory of image/audio files into the payload+meta schema
    (`attach_binary_payload`'s shape, now from genuine binary objects).

    Format-specific metadata is parsed JVM-SIDE from the magic bytes —
    no Python touches the payloads here: PNG width/height are the
    big-endian u32s at offsets 17/21 (after the 8-byte signature and
    IHDR length+tag), WAV sample rate is the little-endian u32 at
    offset 25 (RIFF fmt chunk) reassembled byte-reversed via hex/conv,
    JPEG height/width come from a real SEGMENT-CHAIN WALK by declared
    length fields (:func:`_jpeg_sof0_dims_sql`) — a stray FF C0 inside
    an APPn/EXIF/COM payload is never visited, so it cannot hijack the
    dims regardless of the bytes after it. No baseline SOF0 before
    SOS/EOI, desync, or zero-valued dims yields NULL width/height
    rather than garbage.
    At scale binaryFile partitions by file and prunes on
    pathGlobFilter; spark.sql.files.maxPartitionBytes bounds (rows x
    payload) per task.

    The DEFAULT glob excludes .jpg: JPEG decode is lossy, so its
    pixel stats can't join the text-replayable PNG/BMP oracles —
    the JPEG twin query ingests with an explicit ``glob="*.jpg"``."""
    be_u32 = lambda off: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(content, {off}, 4)")), 16, 10
    ).cast("long")
    le_u32 = lambda off: F.conv(  # noqa: E731
        F.concat(
            *[F.hex(F.expr(f"substring(content, {off + i}, 1)")) for i in (3, 2, 1, 0)]
        ),
        16,
        10,
    ).cast("long")
    le_u16 = lambda off: F.conv(  # noqa: E731
        F.concat(
            *[F.hex(F.expr(f"substring(content, {off + i}, 1)")) for i in (1, 0)]
        ),
        16,
        10,
    ).cast("long")
    is_png = F.expr("substring(content, 2, 3)") == F.lit(b"PNG")
    is_bmp = F.expr("substring(content, 1, 2)") == F.lit(b"BM")
    is_jpg = F.hex(F.expr("substring(content, 1, 2)")) == F.lit("FFD8")
    # SOF0 = FFC0 <len:u16> <precision:08> <height:u16> <width:u16>,
    # reached by hopping the segment chain's declared lengths (the
    # interpreted fold re-evaluates per field — two evaluations of a
    # ~40-step header walk per jpg row, negligible next to the file
    # scan). Zero dims -> NULL inside the walk's finish lambda.
    jpg_dims = F.expr(_jpeg_sof0_dims_sql("content"))
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    # BMP dimensions are the little-endian i32s at offsets 19/23
    # (BITMAPINFOHEADER after the 14-byte file header), parsed
    # JVM-side like the PNG/WAV fields.
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content").alias("payload"),
        F.struct(
            F.when(is_png, "png")
            .when(is_bmp, "bmp")
            .when(is_jpg, "jpeg")
            .otherwise("wav")
            .alias("format"),
            F.col("length").cast("long").alias("n_bytes"),
            F.when(is_png | is_bmp | is_jpg, "image")
            .otherwise("audio")
            .alias("modality"),
            F.when(is_png, be_u32(17))
            .when(is_bmp, le_u32(19))
            .when(is_jpg, jpg_dims["w"])
            .alias("width"),
            F.when(is_png, be_u32(21))
            .when(is_bmp, le_u32(23))
            .when(is_jpg, jpg_dims["h"])
            .alias("height"),
            # channels, parsed JVM-side like the dims: PNG color type
            # (IHDR byte 26: 0 gray / 2 RGB / 3 palette / 4 gray+alpha
            # / 6 RGBA), BMP bit count (8-bit palette = 1 channel as
            # decoded, 24 = BGR), JPEG SOF component count from the
            # same validated segment walk, WAV channel count (fmt
            # chunk LE u16 at offset 23).
            F.when(
                is_png,
                F.when(F.expr("substring(content, 26, 1)") == F.lit(b"\x00"), 1)
                .when(F.expr("substring(content, 26, 1)") == F.lit(b"\x02"), 3)
                .when(F.expr("substring(content, 26, 1)") == F.lit(b"\x03"), 1)
                .when(F.expr("substring(content, 26, 1)") == F.lit(b"\x04"), 2)
                .when(F.expr("substring(content, 26, 1)") == F.lit(b"\x06"), 4)
                .cast("long"),
            )
            .when(
                is_bmp,
                F.when(le_u16(29) == 8, 1)
                .when(le_u16(29) == 24, 3)
                .when(le_u16(29) == 32, 4)
                .cast("long"),
            )
            .when(is_jpg, jpg_dims["nc"])
            .otherwise(le_u16(23).cast("long"))
            .alias("channels"),
            F.when(~(is_png | is_bmp | is_jpg), le_u32(25)).alias("sample_rate"),
        ).alias("meta"),
    )


def decode_binary_stats(mm: DataFrame, on_error: str = "fail") -> DataFrame:
    """Decode REAL payloads (PNG pixels / WAV samples) via the stdlib
    codecs in one Arrow-batched ``mapInPandas`` pass and emit per-file
    value statistics: modality, n_values (pixels or samples) and
    val_sum (sum of 8-bit values) — integer-exact, so an independent
    oracle can recompute them from the source data the files were
    derived from. This is the production decode shape: whole record
    batches in, no per-row Python calls into Spark, codec work
    vectorized per batch.

    ``on_error`` governs corrupt payloads (every codec raises
    ValueError on corruption — fuzz-enforced), because a 100 TB lake
    directory ALWAYS contains some: ``"fail"`` (default) propagates
    and fails the job — the fixture-derived oracle queries want that;
    ``"skip"`` drops the corrupt file's row; ``"tag"`` keeps the row
    with modality ``"corrupt"``, NULL stats and an ``error`` column
    (NULL for healthy rows) so bad objects are quarantinable
    downstream instead of poisoning a multi-hour job."""
    import pandas as pd

    if on_error not in ("fail", "skip", "tag"):
        raise ValueError("on_error must be 'fail', 'skip' or 'tag'")
    schema = "file_name string, modality string, n_values long, val_sum long"
    if on_error == "tag":
        schema += ", error string"

    def _decode_one(b: bytes) -> "tuple[str, int, int]":
        if b[1:4] == b"PNG":
            w, h, pix = decode_png_gray(b)
            return "image", w * h, int(sum(pix))
        if b[:2] == b"BM":
            w, h, pix = decode_bmp_gray(b)
            return "image", w * h, int(sum(pix))
        if b[:2] == b"\xff\xd8":
            w, h, nch, pix = decode_jpeg(b)
            return "image", w * h * nch, int(sum(pix))
        _, samples = decode_wav_pcm8(b)
        return "audio", len(samples), int(sum(samples))

    def _decode(batches):
        for pdf in batches:
            rows = []
            for name, payload in zip(pdf["file_name"], pdf["payload"]):
                try:
                    modality, n, s = _decode_one(bytes(payload))
                    rows.append((name, modality, n, s, None))
                except (ValueError, NotImplementedError) as e:
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    rows.append((name, "corrupt", None, None, str(e)))
            out = pd.DataFrame(
                rows,
                columns=["file_name", "modality", "n_values", "val_sum",
                         "error"],
            )
            out["n_values"] = out["n_values"].astype("Int64")
            out["val_sum"] = out["val_sum"].astype("Int64")
            if on_error != "tag":
                out = out.drop(columns=["error"])
            yield out

    return mm.select("file_name", "payload").mapInPandas(_decode, schema=schema)
