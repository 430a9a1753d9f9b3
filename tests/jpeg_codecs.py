"""JPEG test codecs: progressive encoders and a grayscale decode wrapper.

The package's JPEG support is a decoder (``multimodal.decode_jpeg``,
baseline and progressive, behind ``decode_binary_stats``) and the two
baseline encoders that write the registry's binary fixtures. The
decoder tests also need progressive streams with chosen scan scripts,
so the progressive encoders live here, next to the tests that use
them, together with :func:`decode_jpeg_gray` (the grayscale-contract
wrapper the round-trip tests compare through),
:func:`_jpeg_baseline_scan` (one single-component sequential scan, for
the corrupt-stream test) and the standard Annex K quantization tables
the lossy round-trip tests encode with.
"""

from __future__ import annotations

from dlt_salesforce_iceberg_rest_demo_spark.operators.multimodal import (
    _JPEG_AC_BITS,
    _JPEG_AC_VALS,
    _JPEG_DC_BITS,
    _JPEG_DC_CHROMA_BITS,
    _JPEG_DC_CHROMA_VALS,
    _JPEG_DC_VALS,
    _BitWriter,
    _jpeg_codes,
    _jpeg_color_coef_grids,
    _jpeg_dct_matrix,
    _jpeg_sequential_scan_mc,
    _jpeg_zigzag,
    decode_jpeg,
)


# Standard Annex K luminance quantization table (T.81 Table K.1),
# zigzag-ordered on emission; kept row-major here.
JPEG_STD_LUMA_QUANT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Standard Annex K chrominance quantization table (T.81 Table K.2),
# row-major like the luminance one.
JPEG_STD_CHROMA_QUANT = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_optimal_table(freq: list[int]) -> tuple[list[int], list[int]]:
    """Optimal length-limited Huffman table for one scan (T.81 §K.2,
    the jpeg_gen_optimal_table algorithm): merge the two
    least-frequent symbols repeatedly (ties toward the larger symbol,
    giving it the longer code), count code lengths, fold lengths > 16
    down (the JPEG limit), and reserve the all-1s code via a
    pseudo-symbol 256 so padding bits can never form a valid code.
    Returns (BITS[1..16], HUFFVAL) as the DHT segment encodes them.
    Progressive AC scans NEED this — their EOBn symbols don't exist in
    the fixed Annex K baseline table."""
    freq = list(freq) + [1]  # pseudo-symbol 256 claims the all-1s code
    others = [-1] * 257
    codesize = [0] * 257
    while True:
        c1, v = -1, None
        for i, f in enumerate(freq):
            if f > 0 and (v is None or f <= v):
                v, c1 = f, i
        c2, v = -1, None
        for i, f in enumerate(freq):
            if f > 0 and i != c1 and (v is None or f <= v):
                v, c2 = f, i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for size in codesize:
        if size:
            bits[size] += 1
    for i in range(32, 16, -1):  # length-limit to 16 (figure K.3)
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the pseudo-symbol's code (the all-1s slot)
    huffval = [
        sym
        for length in range(1, 33)
        for sym in range(256)
        if codesize[sym] == length
    ]
    return bits[1:17], huffval


def _jpeg_prog_ac_first(blocks, ss, se, al, put_sym, put_bits) -> None:
    """AC first-pass body of a progressive scan via callbacks (the
    counting pass builds the per-scan optimized table, the emitting
    pass writes the stream): run-length coding of the point-
    transformed band with EOB-RUN batching across all-zero blocks
    (T.81 §G.1.2.2). ``blocks`` is the scanned component's block
    raster — progressive AC scans are single-component."""
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            put_sym(nb << 4)
            if nb:
                put_bits(eobrun & ((1 << nb) - 1), nb)
            eobrun = 0

    for c in blocks:
        r = 0
        for k in range(ss, se + 1):
            t = int(c[k])
            ta = (t if t >= 0 else -t) >> al
            if ta == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                put_sym(0xF0)
                r -= 16
            size = ta.bit_length()
            put_sym((r << 4) | size)
            v = ta if t >= 0 else -ta
            put_bits((v if v >= 0 else v + (1 << size) - 1)
                     & ((1 << size) - 1), size)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:  # EOB14 ceiling
                flush_eob()
    flush_eob()


def _jpeg_prog_ac_refine(blocks, ss, se, al, put_sym, put_bits) -> None:
    """AC refinement body (the libjpeg encode_mcu_AC_refine
    discipline): correction bits buffer through ZRL/EOB runs in the
    exact order the decoder consumes them."""
    eobrun = 0
    be_bits: "list[int]" = []

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            put_sym(nb << 4)
            if nb:
                put_bits(eobrun & ((1 << nb) - 1), nb)
            for b in be_bits:
                put_bits(b, 1)
            be_bits.clear()
            eobrun = 0

    for c in blocks:
        absv = {
            k: (int(c[k]) if c[k] >= 0 else -int(c[k])) >> al
            for k in range(ss, se + 1)
        }
        eob_pos = ss - 1  # last NEWLY-significant position
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eob_pos = k
        r = 0
        br: "list[int]" = []
        for k in range(ss, se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob_pos:
                flush_eob()
                put_sym(0xF0)
                r -= 16
                for b in br:
                    put_bits(b, 1)
                br.clear()
            if t > 1:  # history coefficient: one correction bit
                br.append(t & 1)
                continue
            flush_eob()
            put_sym((r << 4) | 1)
            put_bits(1 if c[k] > 0 else 0, 1)
            for b in br:
                put_bits(b, 1)
            br.clear()
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


# libjpeg's standard grayscale progression: DC at Al=1, AC split into
# two spectral bands at Al=2, an AC refinement to Al=1, the DC
# refinement bit, and the final AC refinement to full precision.
JPEG_PROGRESSIVE_SCANS: "list[tuple[int, int, int, int]]" = [
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 63, 2, 1),
    (0, 0, 1, 0),
    (1, 63, 1, 0),
]


def encode_jpeg_gray_progressive(
    pixels: bytes,
    width: int,
    height: int,
    quant: list[int] | None = None,
    scans: "list[tuple[int, int, int, int]] | None" = None,
) -> bytes:
    """PROGRESSIVE JPEG (SOF2), single grayscale component: the same
    DCT/quantization front end as :func:`encode_jpeg_gray`, then the
    coefficients stream out over multiple scans of (Ss, Se, Ah, Al) —
    spectral selection (frequency bands) and successive approximation
    (bit planes), T.81 §G.1. DC-first scans diff-code the
    point-transformed DC; AC-first scans run-length code each band with
    EOB-RUN batching across all-zero blocks (EOBn codes); refinement
    scans emit one correction bit per already-nonzero coefficient and
    ±1<<Al for newly significant ones, with correction bits buffered
    through ZRL/EOB runs exactly as the decoder consumes them (the
    libjpeg encode_mcu_AC_refine discipline). Progressive coding is
    LOSSLESS given the quantized coefficients, so the decode is
    bit-identical to the baseline encoding's decode — pinned by the
    round-trip tests across scan scripts.

    ``scans`` defaults to :data:`JPEG_PROGRESSIVE_SCANS`; a custom
    script must put each coefficient's first scan before its
    refinements with Al stepping down by 1 (not validated here beyond
    what decoding enforces)."""
    import struct

    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixels must be exactly width*height bytes")
    q = list(quant) if quant is not None else [1] * 64
    script = [tuple(s) for s in (scans if scans is not None else JPEG_PROGRESSIVE_SCANS)]
    zz = _jpeg_zigzag()
    dc_codes = _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    dct = _jpeg_dct_matrix()
    qm = np.array(q, dtype=np.float64).reshape(8, 8)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ph, pw = -height % 8, -width % 8
    img = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0

    blocks = []
    for by in range(0, img.shape[0], 8):
        for bx in range(0, img.shape[1], 8):
            coef = dct @ img[by : by + 8, bx : bx + 8] @ dct.T
            blocks.append(
                np.round(coef / qm).astype(np.int64).reshape(64)[zz]
            )

    def run_ac_first(ss, se, al, put_sym, put_bits) -> None:
        _jpeg_prog_ac_first(blocks, ss, se, al, put_sym, put_bits)

    def run_ac_refine(ss, se, al, put_sym, put_bits) -> None:
        _jpeg_prog_ac_refine(blocks, ss, se, al, put_sym, put_bits)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def encode_scan(ss: int, se: int, ah: int, al: int) -> bytes:
        sos = seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        w = _BitWriter()
        if ss == 0 and ah == 0:  # DC first (arithmetic-shift transform)
            pred = 0
            for c in blocks:
                v = int(c[0]) >> al
                diff = v - pred
                pred = v
                size = abs(diff).bit_length()
                w.put(*dc_codes[size])
                if size:
                    w.put((diff if diff >= 0 else diff + (1 << size) - 1)
                          & ((1 << size) - 1), size)
            return sos + w.flush()
        if ss == 0:  # DC refine: the next lower bit, one per block
            for c in blocks:
                w.put((int(c[0]) >> al) & 1, 1)
            return sos + w.flush()
        # AC scans use EOBn codes, which the fixed Annex K table lacks:
        # two passes — count symbols, build the per-scan OPTIMIZED
        # Huffman table (emitted as this scan's DHT), then encode.
        run = run_ac_first if ah == 0 else run_ac_refine
        freq = [0] * 256
        run(ss, se, al, lambda s: freq.__setitem__(s, freq[s] + 1),
            lambda v, n: None)
        tbits, tvals = _jpeg_optimal_table(freq)
        codes = _jpeg_codes(tbits, tvals)
        run(ss, se, al, lambda s: w.put(*codes[s]),
            lambda v, n: w.put(v, n))
        dht = seg(0xFFC4, bytes([0x10]) + bytes(tbits) + bytes(tvals))
        return dht + sos + w.flush()

    zz_q = bytes(q[i] for i in zz)
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    return (
        b"\xff\xd8"
        + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xFFDB, b"\x00" + zz_q)
        + seg(0xFFC2, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
        + seg(0xFFC4, dht_dc)
        + seg(0xFFC4, dht_ac)
        + b"".join(encode_scan(*s) for s in script)
        + b"\xff\xd9"
    )


# libjpeg's standard 3-component progression (jcparam.c): interleaved
# DC for all components at Al=1, luma AC split into two bands at
# Al=2, chroma AC full-band at Al=1, luma AC refine 2->1, the DC
# refinement bit, then all AC refinements to full precision. Entries
# are (component indices, Ss, Se, Ah, Al) with 0=Y, 1=Cb, 2=Cr.
JPEG_PROGRESSIVE_SCANS_COLOR: "list[tuple[tuple[int, ...], int, int, int, int]]" = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def encode_jpeg_color_progressive(
    pixels: bytes,
    width: int,
    height: int,
    quant_luma: "list[int] | None" = None,
    quant_chroma: "list[int] | None" = None,
    subsampling: "tuple[int, int]" = (2, 2),
    scans: "list[tuple[tuple[int, ...], int, int, int, int]] | None" = None,
) -> bytes:
    """PROGRESSIVE color JPEG (SOF2, 3-component YCbCr): the same
    color front end as :func:`encode_jpeg_color`, streamed out over a
    multi-scan script — INTERLEAVED multi-component DC scans (each
    component on its own prediction chain and standard DC table) and
    NON-interleaved single-component AC scans (T.81 §G.1.1.1.1) over
    each component's OWN block raster — the padded-grid dummy blocks
    at MCU boundaries are coded only in the interleaved DC scans,
    exactly as the decoder consumes them. AC scans carry per-scan
    §K.2-OPTIMIZED Huffman tables (luma in slot 0, chroma in slot 1,
    emitted as each scan's DHT). Progressive coding is lossless given
    the quantized coefficients, so the decode is bit-identical to the
    baseline color encoding's decode — pinned by round-trip tests and
    cross-validated in javax.imageio.

    ``scans`` defaults to :data:`JPEG_PROGRESSIVE_SCANS_COLOR`
    (libjpeg's standard 10-scan color script); entries are
    (component indices, Ss, Se, Ah, Al)."""
    import struct

    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be exactly width*height*3 RGB bytes")
    hs, vs = subsampling
    if (hs, vs) not in ((1, 1), (2, 1), (1, 2), (2, 2)):
        raise ValueError("subsampling must be (1|2, 1|2)")
    ql = list(quant_luma) if quant_luma is not None else [1] * 64
    qc = list(quant_chroma) if quant_chroma is not None else [1] * 64
    script = [
        (tuple(cs), ss, se, ah, al)
        for cs, ss, se, ah, al in (
            scans if scans is not None else JPEG_PROGRESSIVE_SCANS_COLOR
        )
    ]
    zz = _jpeg_zigzag()
    planes, mcux, mcuy = _jpeg_color_coef_grids(
        pixels, width, height, ql, qc, hs, vs
    )
    factors = [(hs, vs), (1, 1), (1, 1)]
    # per-component used (non-interleaved) block raster — smaller than
    # the padded grid when dims aren't MCU-aligned (luma only; the
    # chroma grid equals (mcuy, mcux) by the nested-ceil identity)
    nb = [
        (-(-(-(-height * fv // vs)) // 8), -(-(-(-width * fh // hs)) // 8))
        for fh, fv in factors
    ]
    dc_codes = [
        _jpeg_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
        _jpeg_codes(_JPEG_DC_CHROMA_BITS, _JPEG_DC_CHROMA_VALS),
        _jpeg_codes(_JPEG_DC_CHROMA_BITS, _JPEG_DC_CHROMA_VALS),
    ]
    table_slot = [0, 1, 1]
    comp_ids = [1, 2, 3]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def mcu_blocks(cs):
        """Interleaved block order: per MCU, each scan component's
        fh x fv blocks row-major (T.81 A.2.3)."""
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in cs:
                    fh, fv = factors[ci]
                    for dv in range(fv):
                        for dh in range(fh):
                            yield ci, planes[ci][my * fv + dv, mx * fh + dh]

    def encode_scan(cs, ss, se, ah, al) -> bytes:
        sos = seg(
            0xFFDA,
            bytes([len(cs)])
            + b"".join(
                bytes([comp_ids[ci], (table_slot[ci] << 4) | table_slot[ci]])
                for ci in cs
            )
            + bytes([ss, se, (ah << 4) | al]),
        )
        w = _BitWriter()
        if ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se=0")
            blocks = (
                mcu_blocks(cs)
                if len(cs) > 1
                else (
                    (cs[0], planes[cs[0]][byi, bxi])
                    for byi in range(nb[cs[0]][0])
                    for bxi in range(nb[cs[0]][1])
                )
            )
            if ah == 0:  # DC first
                pred = [0, 0, 0]
                for ci, c in blocks:
                    v = int(c[0]) >> al
                    diff = v - pred[ci]
                    pred[ci] = v
                    size = abs(diff).bit_length()
                    w.put(*dc_codes[ci][size])
                    if size:
                        w.put(
                            (diff if diff >= 0 else diff + (1 << size) - 1)
                            & ((1 << size) - 1),
                            size,
                        )
            else:  # DC refine
                for ci, c in blocks:
                    w.put((int(c[0]) >> al) & 1, 1)
            return sos + w.flush()
        if len(cs) != 1:
            raise ValueError("progressive AC scans must be Ns=1")
        ci = cs[0]
        raster = [
            planes[ci][byi, bxi]
            for byi in range(nb[ci][0])
            for bxi in range(nb[ci][1])
        ]
        run = _jpeg_prog_ac_first if ah == 0 else _jpeg_prog_ac_refine
        freq = [0] * 256
        run(raster, ss, se, al,
            lambda s: freq.__setitem__(s, freq[s] + 1), lambda v, n: None)
        tbits, tvals = _jpeg_optimal_table(freq)
        codes = _jpeg_codes(tbits, tvals)
        run(raster, ss, se, al,
            lambda s: w.put(*codes[s]), lambda v, n: w.put(v, n))
        dht = seg(
            0xFFC4,
            bytes([0x10 | table_slot[ci]]) + bytes(tbits) + bytes(tvals),
        )
        return dht + sos + w.flush()

    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xFFDB, b"\x00" + bytes(ql[i] for i in zz))
        + seg(0xFFDB, b"\x01" + bytes(qc[i] for i in zz))
        + seg(0xFFC2, sof)
        + seg(0xFFC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(
            0xFFC4,
            bytes([0x01]) + bytes(_JPEG_DC_CHROMA_BITS) + bytes(_JPEG_DC_CHROMA_VALS),
        )
        + b"".join(encode_scan(*s) for s in script)
        + b"\xff\xd9"
    )


def _jpeg_baseline_scan(coefs, segments, dc_table, ac_table, ri: int) -> None:
    """Single-component sequential scan (the grayscale path): each
    block is its own unit, one table pair, one prediction chain."""
    comp = {"cid": 0, "dc": dc_table, "ac": ac_table}
    _jpeg_sequential_scan_mc(
        ([(coefs[i], comp)] for i in range(len(coefs))), segments, ri
    )


def decode_jpeg_gray(data: bytes) -> tuple[int, int, bytes]:
    """Grayscale-contract wrapper over :func:`decode_jpeg` — returns
    (width, height, pixel bytes), the PNG/BMP twins' shape. A
    3-component stream is a CALLER error here (the generic stats path
    uses decode_jpeg directly), so it raises ValueError rather than
    silently dropping chroma."""
    width, height, channels, pixels = decode_jpeg(data)
    if channels != 1:
        raise ValueError(
            "not a grayscale JPEG (use decode_jpeg for color streams)"
        )
    return width, height, pixels
