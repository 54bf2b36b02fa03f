"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a typed metadata struct,
processed via Arrow-batched ``mapInPandas`` — the only operator family where
Python is the right tool (codec libraries). The Spark-side plumbing (schemas,
batch shapes, partitioning) is real and tested. Decode is REAL for the
stdlib-parsable container formats — BMP dimensions, RIFF/WAVE duration via
``struct``, FULL PNG pixel decode (chunk walk + ``zlib`` inflate +
per-scanline unfiltering), JPEG dimensions/precision via the marker walk
(SOI → SOFn), and MP4/ISO-BMFF duration + track dimensions via the box walk
(``moov``/``mvhd``/``tkhd``) in ``decode_media`` — and, since r10, FULL
JPEG PIXEL decode, baseline AND progressive (``_jpeg_decode_pixels``:
canonical Huffman, byte unstuffing, restart intervals, multi-scan
spectral selection + successive approximation, dequant + IDCT, chroma
upsampling, YCbCr→RGB) on stdlib + numpy alone. The remaining honest
boundaries: arithmetic-coded/12-bit/lossless JPEG and MP4 SAMPLE decode
stay metadata-only (px_sum None) — those genuinely need a codec library
(PIL/pyav), which swaps in behind the same ``extract_features`` seam.

Scale notes:
- payloads stay in executor memory exactly one Arrow batch at a time
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory;
  ``bound_arrow_batches_for_payloads`` sizes it from the payload size);
- decode is embarrassingly parallel — no shuffle anywhere in the family;
- metadata-only queries (see ``q_binary_meta`` in textanalysis.py) never
  touch the payload bytes thanks to parquet column pruning.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("checksum", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
        # decoded metadata — filled when decode_media recognizes the
        # container (BMP/WAV/PNG), NULL for formats needing a codec library
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("bit_depth", IntegerType(), True),
        # PNG + JPEG (baseline AND progressive): sum of the fully-decoded
        # pixel bytes — nonsense unless inflate/entropy-decode and every
        # reconstruction step (unfilter / IDCT / upsample / colorspace)
        # were done right
        StructField("px_sum", LongType(), True),
        # WAV PCM-16 (r10): sum of the decoded signed samples when the
        # data chunk's payload is actually present — the uncompressed
        # audio analogue of px_sum; None for header-only/compressed audio
        StructField("sample_sum", LongType(), True),
    ]
)

N_FEATURES = 8


# PNG color type -> samples per pixel (3 = palette: one index per pixel)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, height: int, stride: int, bpp: int, offset: int = 0
) -> bytes:
    """Undo the per-scanline PNG filters (types 0-4: None/Sub/Up/Average/
    Paeth) over ``height`` filtered rows of ``stride`` bytes starting at
    ``offset`` in the inflated stream (r10: generalized from the 8-bit
    whole-image case so sub-byte/16-bit rows and Adam7 interlace passes
    share it — ``bpp`` is the filter's pixel byte-width, 1 for sub-byte
    depths). Returns the reconstructed bytes, row-major.

    This is the engine's only per-byte Python hot path, so the filters with
    no left-neighbor data dependency are numpy-vectorized (uint8 arithmetic
    wraps mod 256 exactly like the spec's arithmetic): None is a copy, Up is
    one vector add against the previous reconstructed row, and Sub — though
    serial along x — is a modular prefix-sum, i.e. ``np.add.accumulate``
    over the row reshaped to (pixels, bpp). Average and Paeth predict from
    the just-reconstructed LEFT neighbor, which forces a scalar scan;
    tools/bench_media.py publishes the measured MB/s-per-core constant for
    capacity planning, and the production swap-in for codec-grade speed is
    a real image library behind the same ``extract_features`` seam."""
    import numpy as np

    if len(raw) < offset + height * (stride + 1):
        raise NotImplementedError("malformed PNG: truncated pixel data")
    rows = np.frombuffer(
        raw, np.uint8, count=height * (stride + 1), offset=offset
    ).reshape(height, stride + 1)
    ftypes = rows[:, 0]
    if (ftypes > 4).any():
        bad = int(ftypes[ftypes > 4][0])
        raise NotImplementedError(f"unknown PNG filter type {bad}")
    recon = np.empty((height, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for r in range(height):
        ftype = int(ftypes[r])
        if ftype == 0:  # None
            line = rows[r, 1:]
        elif ftype == 1:  # Sub: modular prefix-sum with stride bpp
            line = np.add.accumulate(
                rows[r, 1:].reshape(stride // bpp, bpp), axis=0,
                dtype=np.uint8,
            ).reshape(stride)
        elif ftype == 2:  # Up
            line = rows[r, 1:] + prev  # uint8 add wraps mod 256
        else:  # Average / Paeth: left-neighbor dependency -> scalar scan
            src = rows[r, 1:].tolist()
            pb = prev.tolist()
            out = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    left = out[i - bpp] if i >= bpp else 0
                    out[i] = (src[i] + ((left + pb[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = out[i - bpp] if i >= bpp else 0
                    b_ = pb[i]
                    c = pb[i - bpp] if i >= bpp else 0
                    p = a + b_ - c
                    pa, pbd, pc = abs(p - a), abs(p - b_), abs(p - c)
                    if pa <= pbd and pa <= pc:
                        pred = a
                    elif pbd <= pc:
                        pred = b_
                    else:
                        pred = c
                    out[i] = (src[i] + pred) & 0xFF
            line = np.array(out, np.uint8)
        recon[r] = line
        prev = recon[r]
    return recon.tobytes()


# JPEG zigzag scan order: natural (row-major) index of each zigzag position
# (ITU-T T.81 Figure 5 — public spec, as is everything in the decoder below).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment, undoing the
    0xFF00 byte stuffing. A non-stuffed marker (EOI, or an RSTn read
    outside ``restart``) ends the stream: further reads yield zero bits,
    the spec's padding behavior."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.i = 0
        self.b = 0
        self.n = 0
        self.ended = False

    def bit(self) -> int:
        if self.n == 0:
            if self.ended or self.i >= len(self.d):
                self.ended = True
                return 0
            byte = self.d[self.i]
            self.i += 1
            if byte == 0xFF:
                nxt = self.d[self.i] if self.i < len(self.d) else 0xD9
                if nxt == 0x00:
                    self.i += 1  # stuffed data byte
                else:  # a real marker: entropy data is over
                    self.i -= 1
                    self.ended = True
                    return 0
            self.b = byte
            self.n = 8
        self.n -= 1
        return (self.b >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume the RSTn marker at a DRI boundary."""
        self.n = 0
        if (
            self.i + 2 <= len(self.d)
            and self.d[self.i] == 0xFF
            and 0xD0 <= self.d[self.i + 1] <= 0xD7
        ):
            self.i += 2
            self.ended = False
        else:
            raise NotImplementedError("malformed JPEG: missing RST marker")


def _jpeg_huff_table(bits: list[int], symbols: bytes) -> dict:
    """Canonical Huffman code assignment (T.81 Annex C): codes of each
    length count up from twice the previous length's last code + 1.
    Returns {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_huff_decode(r: _JpegBits, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise NotImplementedError("malformed JPEG: invalid huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s received magnitude bits to a signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_JPEG_CONST = {}  # lazy per-process cache: IDCT matrix + zigzag index array

# Declared decode boundary: frames past 64 MP raise NotImplementedError at
# the SOF header (BEFORE any coefficient allocation), so an adversarial
# 65500x65500 header costs bytes-of-header, not a multi-GB numpy alloc.
_JPEG_MAX_PIXELS = 64_000_000


def _jpeg_idct_mat():
    import numpy as np

    if "A" not in _JPEG_CONST:
        # A[u, x] = c(u)/2 * cos((2x+1) u pi / 16); IDCT2(F) = A^T @ F @ A
        x = np.arange(8)
        u = np.arange(8).reshape(8, 1)
        A = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
        A[0] *= 1 / np.sqrt(2)
        # cached: the sf10 q_media_pixels run decodes 500k payloads per
        # pass — rebuilding constants per payload was measurable waste
        _JPEG_CONST["A"] = A
        _JPEG_CONST["zz"] = np.array(_JPEG_ZIGZAG)
    return _JPEG_CONST["A"]


def _jpeg_scan_end(b: bytes, i: int) -> int:
    """Index of the marker byte (0xFF) ending the entropy-coded segment
    starting at ``i`` — skips stuffed 0xFF00 pairs and RSTn markers, which
    belong to the scan."""
    while i < len(b):
        j = b.find(b"\xff", i)
        if j < 0 or j + 1 >= len(b):
            return len(b)
        nxt = b[j + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i = j + 2
            continue
        return j
    return len(b)


def _jpeg_decode_scan(
    r: _JpegBits,
    comps: list,
    scomps: list,
    coeffs: list,
    huff: dict,
    ri: int,
    progressive: bool,
    ss: int,
    se: int,
    ah: int,
    al: int,
    geo: tuple,
) -> None:
    """Entropy-decode ONE scan into the persistent per-component
    coefficient tensors (zigzag index space). Handles all four
    progressive scan kinds (T.81 G.1.2: DC first/refine, AC first/refine
    with EOB-run state) plus the baseline combined DC+AC scan; restart
    intervals reset both the DC predictors and the EOB run."""
    max_h, max_v, mcx, mcy, w, h = geo
    interleaved = len(scomps) > 1
    state = {"eob": 0}
    preds = {ci: 0 for ci, _td, _ta in scomps}

    def dc_decode(ci: int, row: int, col: int, dctab: dict) -> None:
        blk = coeffs[ci][row][col]
        if not progressive or ah == 0:  # first (or baseline) DC pass
            s = _jpeg_huff_decode(r, dctab)
            if s > 11:
                raise NotImplementedError("malformed JPEG: DC category > 11")
            preds[ci] += _jpeg_extend(r.bits(s), s)
            blk[0] = preds[ci] << al
        else:  # refinement: one bit
            if r.bit():
                blk[0] |= 1 << al

    def ac_baseline(ci: int, row: int, col: int, actab: dict) -> None:
        blk = coeffs[ci][row][col]
        k = 1
        while k < 64:
            rs = _jpeg_huff_decode(r, actab)
            run, size = rs >> 4, rs & 15
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise NotImplementedError("malformed JPEG: AC index overflow")
            blk[k] = _jpeg_extend(r.bits(size), size)
            k += 1

    def ac_first(ci: int, row: int, col: int, actab: dict) -> None:
        blk = coeffs[ci][row][col]
        if state["eob"] > 0:
            state["eob"] -= 1
            return
        k = ss
        while k <= se:
            rs = _jpeg_huff_decode(r, actab)
            run, size = rs >> 4, rs & 15
            if size == 0:
                if run == 15:
                    k += 16
                    continue
                state["eob"] = (1 << run) - 1
                if run:
                    state["eob"] += r.bits(run)
                break
            k += run
            if k > se:
                raise NotImplementedError("malformed JPEG: AC index overflow")
            blk[k] = _jpeg_extend(r.bits(size), size) << al
            k += 1

    def ac_refine(ci: int, row: int, col: int, actab: dict) -> None:
        # T.81 G.1.2.3: correction bits for known-nonzero coefficients,
        # run-coded newly-nonzero insertions, EOB-run tail correction
        blk = coeffs[ci][row][col]
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if state["eob"] == 0:
            while k <= se:
                rs = _jpeg_huff_decode(r, actab)
                run, size = rs >> 4, rs & 15
                val = 0
                if size:
                    if size != 1:
                        raise NotImplementedError(
                            "malformed JPEG: refinement size > 1"
                        )
                    val = p1 if r.bit() else m1
                elif run != 15:
                    state["eob"] = 1 << run
                    if run:
                        state["eob"] += r.bits(run)
                    break
                # advance over `run` zero-history positions, emitting a
                # correction bit at every nonzero-history one passed
                while k <= se:
                    if blk[k] != 0:
                        if r.bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eob"] > 0:
            while k <= se:
                if blk[k] != 0:
                    if r.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                k += 1
            state["eob"] -= 1

    def decode_block(ci: int, row: int, col: int, td: int, ta: int) -> None:
        if not progressive:
            dc_decode(ci, row, col, huff[(0, td)])
            ac_baseline(ci, row, col, huff[(1, ta)])
        elif ss == 0:
            # refinement reads raw bits — T.81 ignores the DC table
            # selector there, and the table need not exist (review r10)
            dc_decode(
                ci, row, col, huff[(0, td)] if ah == 0 else None
            )
        else:
            ac_refine(ci, row, col, huff[(1, ta)]) if ah else ac_first(
                ci, row, col, huff[(1, ta)]
            )

    def restart_if_due(unit: int) -> None:
        if ri and unit and unit % ri == 0:
            r.restart()
            for ci in preds:
                preds[ci] = 0
            state["eob"] = 0

    if interleaved:
        for my in range(mcy):
            for mx in range(mcx):
                restart_if_due(my * mcx + mx)
                for ci, td, ta in scomps:
                    _cid, hf, vf, _tq = comps[ci]
                    for by in range(vf):
                        for bx in range(hf):
                            decode_block(
                                ci, my * vf + by, mx * hf + bx, td, ta
                            )
    else:
        # non-interleaved: raster over the component's OWN (un-padded)
        # block grid — ceil(comp_px / 8), not the MCU-padded grid
        ci, td, ta = scomps[0]
        _cid, hf, vf, _tq = comps[ci]
        comp_w = -(-(w * hf) // max_h)  # ceil(w * hf / max_h) px
        comp_h = -(-(h * vf) // max_v)
        bw = -(-comp_w // 8)
        bh = -(-comp_h // 8)
        for row in range(bh):
            for col in range(bw):
                restart_if_due(row * bw + col)
                decode_block(ci, row, col, td, ta)


def _jpeg_decode_pixels(b: bytes):
    """JPEG pixel decode on stdlib + numpy alone — the codec path that
    closed the r9-declared stub, extended in r10 from baseline-only to
    FULL PROGRESSIVE (SOF2): the multi-scan marker walk segments every
    entropy-coded scan, ``_jpeg_decode_scan`` accumulates coefficients
    across scans (spectral selection bands, successive-approximation
    first passes and refinement passes, EOB-run state, per-scan huffman
    table redefinition), and one dequant + float 8x8 IDCT +
    replication-upsample + BT.601 YCbCr->RGB pass renders the final
    tensor. Canonical Huffman, 0xFF00 unstuffing, and RSTn restart
    intervals (DC-predictor + EOB-run reset) are shared with the
    baseline path, which is now just the one-scan special case.

    Returns (height, width, ncomp, pixels) with pixels a uint8 ndarray of
    shape (h, w, ncomp). Raises NotImplementedError for anything beyond
    8-bit huffman sequential/progressive (arithmetic coding, 12-bit,
    hierarchical, >3 components) — callers treat those as metadata-only.

    Scale note: this is a per-payload Python path behind the same
    ``extract_features`` mapInPandas seam as every decoder here —
    embarrassingly parallel across Arrow batches, no shuffle; a real
    codec library swaps in for throughput without touching the plan."""
    import numpy as np

    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    ri = 0
    coeffs = None
    geo = None
    comps: list = []
    n_scans = 0
    off = 2
    while off + 2 <= len(b):
        if b[off] != 0xFF:
            raise NotImplementedError("malformed JPEG: lost marker sync")
        m = b[off + 1]
        if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7:
            off += 2
            continue
        if m == 0xD9:
            break
        if off + 4 > len(b):
            break
        seglen = struct.unpack_from(">H", b, off + 2)[0]
        seg = b[off + 4 : off + 2 + seglen]
        if m == 0xDB:  # DQT (may carry several tables)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(seg[p + 1 : p + 65], np.uint8).astype(
                    np.int32
                )
                p += 65
        elif m == 0xC4:  # DHT (may carry several tables, may follow scans)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                huff[(tc, th)] = _jpeg_huff_table(
                    bits, seg[p + 17 : p + 17 + n]
                )
                p += 17 + n
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / ext. sequential / prog.
            progressive = m == 0xC2
            prec = seg[0]
            h, w = struct.unpack_from(">HH", seg, 1)
            if prec != 8:
                raise NotImplementedError("non-8-bit JPEG")
            comps = []
            for c in range(seg[5]):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            if len(comps) not in (1, 3):
                # 2-component frames have no defined colorspace here and
                # the render path would silently sum one plane (review r10)
                raise NotImplementedError("unsupported component count")
            max_h = max(c[1] for c in comps)
            max_v = max(c[2] for c in comps)
            for _cid, hf, vf, _tq in comps:
                if hf < 1 or vf < 1 or max_h % hf or max_v % vf:
                    raise NotImplementedError(
                        "non-integer chroma sampling ratio"
                    )
            if w < 1 or h < 1:
                raise NotImplementedError("malformed JPEG: zero dimension")
            if w * h > _JPEG_MAX_PIXELS:
                # a corrupt/adversarial header declaring e.g. 65500x65500
                # would otherwise trigger a multi-GB coefficient
                # allocation that can OOM the executor before any
                # opportunistic except catches it (r10 advice)
                raise NotImplementedError(
                    f"JPEG larger than {_JPEG_MAX_PIXELS} px: {w}x{h}"
                )
            mcx = -(-w // (8 * max_h))
            mcy = -(-h // (8 * max_v))
            frame = (h, w, comps)
            geo = (max_h, max_v, mcx, mcy, w, h)
            # coefficient tensors are allocated LAZILY at the first SOS
            # (below) — a metadata-only/truncated payload that never
            # reaches a scan pays nothing for the frame header alone
        elif 0xC3 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            raise NotImplementedError(
                "JPEG beyond huffman sequential/progressive"
            )
        elif m == 0xDD:
            ri = struct.unpack_from(">H", seg, 0)[0]
        elif m == 0xDA:  # one scan: header + entropy segment
            if frame is None:
                raise NotImplementedError("malformed JPEG: SOS before SOF")
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid = seg[1 + 2 * c]
                td, ta = seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15
                ci = next(
                    (i for i, cc in enumerate(comps) if cc[0] == cid), None
                )
                if ci is None:
                    raise NotImplementedError(
                        "malformed JPEG: scan names unknown component"
                    )
                scomps.append((ci, td, ta))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            elif ss == 0 and se != 0:
                raise NotImplementedError("malformed JPEG: bad DC scan Se")
            elif ss > 0 and len(scomps) != 1:
                raise NotImplementedError(
                    "malformed JPEG: interleaved AC scan"
                )
            for ci, td, ta in scomps:
                need = [(0, td)] if (ss == 0 and ah == 0) or not progressive else []
                if (not progressive) or ss > 0:
                    need.append((1, ta))
                for key in need:
                    if key not in huff:
                        raise NotImplementedError(
                            "malformed JPEG: missing huffman table"
                        )
            if coeffs is None:  # first scan: allocate the tensors now
                coeffs = [
                    np.zeros((mcy * vf, mcx * hf, 64), np.int32)
                    for _cid, hf, vf, _tq in comps
                ]
            start = off + 2 + seglen
            end = _jpeg_scan_end(b, start)
            _jpeg_decode_scan(
                _JpegBits(b[start:end]),
                comps,
                scomps,
                coeffs,
                huff,
                ri,
                progressive,
                ss,
                se,
                ah,
                al,
                geo,
            )
            n_scans += 1
            off = end
            continue
        off += 2 + seglen
    if frame is None or n_scans == 0:
        raise NotImplementedError("malformed JPEG: missing SOF/SOS")
    h, w, comps = frame
    max_h, max_v, mcx, mcy, _w, _h = geo
    A = _jpeg_idct_mat()
    zz = _JPEG_CONST["zz"]  # populated by the _jpeg_idct_mat() call above
    full = []
    for ci, (cid, hf, vf, tq) in enumerate(comps):
        if tq not in qt:
            raise NotImplementedError("malformed JPEG: missing quant table")
        q = qt[tq].astype(np.float64)
        bh_, bw_ = mcy * vf, mcx * hf
        # vectorized dequant + zigzag scatter + 2D IDCT across ALL blocks
        # of the plane at once (r11: the per-block Python loop was the
        # render-pass bottleneck once coeffs became numpy tensors)
        deq = coeffs[ci].astype(np.float64) * q
        nat = np.zeros_like(deq)
        nat[:, :, zz] = deq  # zigzag index space -> natural order
        blocks = nat.reshape(bh_, bw_, 8, 8)
        spatial = np.einsum("ij,rcjk,kl->rcil", A.T, blocks, A) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8)
        p = np.repeat(
            np.repeat(plane, max_v // vf, axis=0), max_h // hf, axis=1
        )
        full.append(p[:h, :w])
    if len(full) == 3:
        y, cb, cr = full
        rgb = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=-1,
        )
        px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    else:
        px = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
    return h, w, len(comps), px


def decode_media(payload: bytes, want_pixels: bool = True) -> dict:
    """Public wrapper: any malformed payload raises ``NotImplementedError``,
    never a raw ``struct.error``/``zlib.error``/``IndexError`` from a
    truncated or corrupt container. That guarantee is what keeps ONE bad
    payload in a 100 TB corpus from killing its whole Arrow batch (and with
    it the task): ``extract_features`` catches exactly
    ``NotImplementedError`` and records the row as undecodable. Fuzz-pinned
    by ``test_decode_media_never_raises_raw_parser_errors``.

    ``want_pixels=False`` is the METADATA TIER (r11): container headers
    are walked (mime/dims/duration/bit_depth) but the expensive content
    decode — JPEG entropy decode, PNG inflate+unfilter, WAV PCM sample
    sum — is skipped entirely and ``px_sum``/``sample_sum`` stay None. At
    100 TB a metadata scan over billions of objects must not pay a
    per-object decode attempt (r10 verdict: q_media_container_meta paid a
    guaranteed-to-fail full entropy decode per payload, 4.6x)."""
    try:
        return _decode_media(payload, want_pixels)
    except NotImplementedError:
        raise
    except Exception as e:  # truncated/corrupt container mid-parse
        raise NotImplementedError(f"malformed container: {e}") from e


def _decode_media(payload: bytes, want_pixels: bool = True) -> dict:
    """REAL decode for the stdlib-parsable containers, no dependencies.

    - BMP (``BM`` magic): width/height from the BITMAPINFOHEADER int32s at
      byte offsets 18/22 (height may be negative = top-down row order; the
      magnitude is the pixel height); bit_depth from the uint16 at 28.
    - WAV (``RIFF..WAVE``): walks the RIFF chunk list with ``struct``; the
      ``fmt `` chunk yields byte_rate + bits/sample, the ``data`` chunk its
      size; duration_ms = data_size * 1000 // byte_rate.
    - PNG (8-byte signature): full PIXEL decode on the stdlib alone —
      chunk walk with ``struct`` (IHDR dims/depth/color type, IDAT
      concatenation), ``zlib.decompress`` of the IDAT stream (adler32
      verified by zlib; chunk CRCs are not checked — decode-tolerant), and
      per-scanline unfiltering (all five filter types). The FULL format
      space decodes (r10): every legal depth/color-type pair — 1/2/4/8-bit
      grayscale and palette (PLTE index mapping), 8/16-bit gray/RGB/GA/
      RGBA — plus Adam7 interlace (seven independently-filtered
      sub-images deinterlaced on the pass grid). ``px_sum`` = sum of the
      decoded SAMPLE values (mapped RGB bytes for palette; 16-bit images
      sum 16-bit samples), which is only right if inflate AND unfilter
      AND any index/deinterlace step all worked.

    - JPEG (``FF D8`` SOI): walks the marker stream — standalone markers
      (RSTn/TEM) are skipped, sized segments advance by their big-endian
      length — until the first SOFn frame header (C0-CF minus DHT C4 /
      JPG C8 / DAC CC), which yields sample precision (bit_depth) and
      height/width. The walk stops at SOS: past it lies the entropy-coded
      stream, which genuinely needs a codec, so ``px_sum`` stays None.
    - MP4/ISO-BMFF (``ftyp`` at byte 4): walks the top-level box list
      (32-bit size, ``size==1`` → 64-bit largesize, ``size==0`` →
      to-end-of-file), recurses into ``moov`` for ``mvhd`` (timescale +
      duration, version 0 and 1 layouts) and each ``trak``'s ``tkhd``
      (16.16 fixed-point presentation width/height; audio tracks carry 0,
      so the max across tracks is the video dimensions).
      duration_ms = duration * 1000 // timescale.

    Anything else needs a real codec library and raises — same
    loud-failure policy as ``crawl.default_fetch``.

    Returns ``{"mime", "width", "height", "duration_ms", "bit_depth",
    "px_sum"}`` (inapplicable fields are None)."""
    if payload is None:
        raise NotImplementedError("null payload: nothing to decode")
    b = bytes(payload)
    if b[:2] == b"BM" and len(b) >= 30:
        w, h = struct.unpack_from("<ii", b, 18)
        depth = struct.unpack_from("<H", b, 28)[0]
        return {
            "mime": "image/bmp",
            "width": w,
            "height": abs(h),
            "duration_ms": None,
            "bit_depth": depth,
            "px_sum": None,
        }
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        byte_rate = None
        bits = None
        fmt_code = None
        data_size = None
        data_off = None
        off = 12
        while off + 8 <= len(b):
            cid, sz = struct.unpack_from("<4sI", b, off)
            if cid == b"fmt " and off + 24 <= len(b):
                fmt_code = struct.unpack_from("<H", b, off + 8)[0]
                byte_rate = struct.unpack_from("<I", b, off + 16)[0]
                bits = struct.unpack_from("<H", b, off + 22)[0]
            elif cid == b"data":
                data_size = sz
                data_off = off + 8
            off += 8 + sz + (sz & 1)  # chunks are word-aligned
        if byte_rate and data_size is not None:
            sample_sum = None
            # REAL PCM-16 sample decode (r10) when the data payload is
            # actually present — header-only fixtures declare a size
            # without carrying samples and honestly stay None
            if (
                want_pixels
                and fmt_code == 1
                and bits == 16
                and data_off is not None
                and data_off + data_size <= len(b)
                and data_size >= 2
            ):
                import numpy as np

                sample_sum = int(
                    np.frombuffer(
                        b, "<i2", count=data_size // 2, offset=data_off
                    ).sum(dtype=np.int64)
                )
            return {
                "mime": "audio/wav",
                "width": None,
                "height": None,
                "duration_ms": data_size * 1000 // byte_rate,
                "bit_depth": bits,
                "px_sum": None,
                "sample_sum": sample_sum,
            }
        raise NotImplementedError("malformed WAV: missing fmt/data chunk")
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        import zlib

        import numpy as np

        w = h = None
        depth = ctype = interlace = None
        plte = None
        idat = bytearray()
        off = 8
        while off + 8 <= len(b):
            length, ctag = struct.unpack_from(">I4s", b, off)
            data = b[off + 8 : off + 8 + length]
            if ctag == b"IHDR":
                w, h = struct.unpack_from(">II", data, 0)
                depth, ctype = data[8], data[9]
                interlace = data[12]
            elif ctag == b"PLTE":
                plte = np.frombuffer(data, np.uint8)
            elif ctag == b"IDAT":
                idat += data
            elif ctag == b"IEND":
                break
            off += 12 + length  # len + type + data + crc
        if w is None:
            raise NotImplementedError("malformed PNG: no IHDR")
        ok_depths = {
            0: (1, 2, 4, 8, 16),  # grayscale
            2: (8, 16),           # RGB
            3: (1, 2, 4, 8),      # palette indices
            4: (8, 16),           # gray+alpha
            6: (8, 16),           # RGBA
        }
        if (
            ctype not in _PNG_CHANNELS
            or depth not in ok_depths[ctype]
            or interlace not in (0, 1)
            or (ctype == 3 and (plte is None or len(plte) % 3))
        ):
            raise NotImplementedError("malformed/unsupported PNG header")
        channels = _PNG_CHANNELS[ctype]
        if not want_pixels:  # metadata tier: header only, no inflate
            return {
                "mime": "image/png",
                "width": w,
                "height": h,
                "duration_ms": None,
                "bit_depth": depth,
                "px_sum": None,
            }
        raw = zlib.decompress(bytes(idat))

        def sub_image(offset: int, sw: int, sh: int):
            """Unfilter + sample-extract one (sub)image; returns
            (samples int64 ndarray (sh, sw*channels), bytes consumed)."""
            stride = (sw * channels * depth + 7) // 8
            bpp = max(1, channels * depth // 8)
            recon = _png_unfilter(raw, sh, stride, bpp, offset)
            arr = np.frombuffer(recon, np.uint8).reshape(sh, stride)
            if depth == 8:
                samples = arr.astype(np.int64)
            elif depth == 16:
                samples = (
                    arr.reshape(sh, stride // 2, 2).astype(np.int64)
                )
                samples = samples[:, :, 0] * 256 + samples[:, :, 1]
            else:  # 1/2/4-bit packed samples, MSB first
                bits = np.unpackbits(arr, axis=1)
                per = depth
                n = sw * channels
                groups = bits[:, : n * per].reshape(sh, n, per)
                weights = (1 << np.arange(per - 1, -1, -1)).astype(np.int64)
                samples = groups.astype(np.int64) @ weights
            return samples[:, : sw * channels], sh * (stride + 1)

        if interlace == 0:
            samples, _used = sub_image(0, w, h)
        else:  # Adam7: seven independently-filtered sub-images
            img = np.zeros((h, w, channels), np.int64)
            pos = 0
            for x0, y0, dx, dy in _PNG_ADAM7:
                sw = (w - x0 + dx - 1) // dx
                sh = (h - y0 + dy - 1) // dy
                if sw <= 0 or sh <= 0:
                    continue
                sub, used = sub_image(pos, sw, sh)
                pos += used
                img[y0::dy, x0::dx, :] = sub.reshape(sh, sw, channels)
            samples = img.reshape(h, w * channels)
        if ctype == 3:
            # palette indices -> RGB triples; px_sum over the mapped bytes
            pal = plte.reshape(-1, 3).astype(np.int64)
            idx = samples.reshape(-1)
            if int(idx.max(initial=0)) >= pal.shape[0]:
                raise NotImplementedError("malformed PNG: palette overflow")
            px_sum = int(pal[idx].sum())
        else:
            # px_sum over the raw decoded SAMPLE values (16-bit images sum
            # their 16-bit samples; sub-byte grayscale its 0..2^d-1 values)
            px_sum = int(samples.sum())
        return {
            "mime": "image/png",
            "width": w,
            "height": h,
            "duration_ms": None,
            "bit_depth": depth,
            "px_sum": px_sum,
        }
    if b[:2] == b"\xff\xd8":
        px_sum = None
        if want_pixels:
            try:  # full pixel decode (r10: the former declared stub)
                _h, _w, _nc, px = _jpeg_decode_pixels(b)
                import numpy as np

                px_sum = int(px.sum(dtype=np.int64))
            except Exception:
                # Pixel decode is OPPORTUNISTIC: any failure — declared
                # boundary (NotImplementedError) OR a raw parser error
                # from a corrupt scan (review r10: truncated DHT/DQT
                # raised IndexError/ValueError here and destroyed the
                # metadata that r9 decoded fine) — falls back to the
                # marker-walk metadata below, which independently
                # decides malformed-ness.
                pass
        off = 2
        while off + 4 <= len(b):
            if b[off] != 0xFF:
                raise NotImplementedError("malformed JPEG: lost marker sync")
            marker = b[off + 1]
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                off += 2  # standalone marker, no length field
                continue
            if marker in (0xD9, 0xDA):  # EOI / SOS: entropy stream follows
                break
            seglen = struct.unpack_from(">H", b, off + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                precision = b[off + 4]
                h, w = struct.unpack_from(">HH", b, off + 5)
                return {
                    "mime": "image/jpeg",
                    "width": w,
                    "height": h,
                    "duration_ms": None,
                    "bit_depth": precision,
                    "px_sum": px_sum,  # real for baseline; None beyond it
                }
            off += 2 + seglen
        raise NotImplementedError("malformed JPEG: no SOF marker before SOS")
    if len(b) >= 12 and b[4:8] == b"ftyp":

        def boxes(start: int, end: int):
            off = start
            while off + 8 <= end:
                size, tag = struct.unpack_from(">I4s", b, off)
                payload = off + 8
                if size == 1:  # 64-bit largesize follows the type
                    size = struct.unpack_from(">Q", b, off + 8)[0]
                    payload = off + 16
                elif size == 0:  # box extends to end of file
                    size = end - off
                if size < payload - off:
                    raise NotImplementedError("malformed MP4: bad box size")
                yield tag, payload, off + size
                off += size

        duration_ms = None
        width = height = 0
        for tag, p, box_end in boxes(0, len(b)):
            if tag != b"moov":
                continue
            for tag2, p2, t_end in boxes(p, box_end):
                if tag2 == b"mvhd":
                    ver = b[p2]
                    if ver == 1:
                        ts = struct.unpack_from(">I", b, p2 + 20)[0]
                        dur = struct.unpack_from(">Q", b, p2 + 24)[0]
                    else:
                        ts, dur = struct.unpack_from(">II", b, p2 + 12)
                    if ts:
                        duration_ms = dur * 1000 // ts
                elif tag2 == b"trak":
                    for tag3, p3, _ in boxes(p2, t_end):
                        if tag3 != b"tkhd":
                            continue
                        base = p3 + (88 if b[p3] == 1 else 76)
                        w_fx, h_fx = struct.unpack_from(">II", b, base)
                        width = max(width, w_fx >> 16)
                        height = max(height, h_fx >> 16)
        if duration_ms is None:
            raise NotImplementedError("malformed MP4: no moov/mvhd box")
        return {
            "mime": "video/mp4",
            "width": width or None,
            "height": height or None,
            "duration_ms": duration_ms,
            "bit_depth": None,
            "px_sum": None,  # packet/sample decode needs a codec library
        }
    raise NotImplementedError(
        "unrecognized container; only BMP/WAV/PNG/JPEG/MP4 headers decode "
        "without codec libs"
    )


def bound_arrow_batches_for_payloads(
    avg_payload_mb: float, target_batch_mb: float = 64.0
) -> int:
    """Payload-size-bounded Arrow batching cap (the capacity lever
    evidence/BENCH_media_r06 calls for): Spark slices ``mapInPandas`` input
    by RECORD count (``spark.sql.execution.arrow.maxRecordsPerBatch``,
    default 10,000), so a corpus of ~1 MB payloads would materialize ~10 GB
    pandas frames per batch and OOM the Python worker long before the
    decode loop is the problem. Returns the records cap under which one
    batch carries ~``target_batch_mb`` of payload bytes. The caller owns
    the session: set the conf to this cap around a decode pass over large
    binaries and restore it after (it only affects Python-boundary
    batching, no plan change)."""
    return max(1, int(target_batch_mb / max(avg_payload_mb, 1e-6)))


def extract_features(media: DataFrame, want_pixels: bool = True) -> DataFrame:
    """Decode/featurize via mapInPandas: Arrow batches in, Arrow batches out.

    Column pruning upstream means only (media_id, kind, payload) cross the
    Python boundary; the returned frame is narrow (id + small feature vector),
    so downstream joins/aggregations are cheap regardless of payload size.
    For large payloads, bound the per-batch byte footprint first: set
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to
    ``bound_arrow_batches_for_payloads`` (record-count batching × payload
    size is the executor-memory constraint at 100 TB).

    ``want_pixels=False`` selects the metadata tier: container headers are
    parsed (mime/dims/duration/bit_depth) but content decode — JPEG entropy
    decode, PNG inflate, PCM sample sum — is skipped and px_sum/sample_sum
    stay None. Metadata-only scans (container walks, resize planning, frame
    sampling) must use it: at 100 TB a per-object failed decode attempt is
    the hidden cost the brief forbids."""
    src = media.select("media_id", "kind", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_bytes, checksums, features = [], [], []
            mimes, widths, heights, durations = [], [], [], []
            depths, px_sums, sample_sums = [], [], []
            # one pass, one digest per payload (checksum + features share it)
            for b in pdf["payload"]:
                try:
                    meta = decode_media(b, want_pixels)
                except NotImplementedError:
                    meta = {}  # needs a real codec (or null payload)
                mimes.append(meta.get("mime"))
                widths.append(meta.get("width"))
                heights.append(meta.get("height"))
                durations.append(meta.get("duration_ms"))
                depths.append(meta.get("bit_depth"))
                px_sums.append(meta.get("px_sum"))
                sample_sums.append(meta.get("sample_sum"))
                if b is None:
                    n_bytes.append(0)
                    checksums.append(hashlib.md5(b"").hexdigest()[:8])
                    features.append([0.0] * N_FEATURES)
                    continue
                digest = hashlib.md5(b)
                n_bytes.append(len(b))
                checksums.append(digest.hexdigest()[:8])
                raw = digest.digest()
                features.append([raw[i] / 255.0 for i in range(N_FEATURES)])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "checksum": checksums,
                    "features": features,
                    "mime": mimes,
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "duration_ms": pd.array(durations, dtype="Int64"),
                    "bit_depth": pd.array(depths, dtype="Int32"),
                    "px_sum": pd.array(px_sums, dtype="Int64"),
                    "sample_sum": pd.array(sample_sums, dtype="Int64"),
                }
            )

    return src.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one output row per sampled timestamp.

    The timestamp grid is computed JVM-side (sequence + explode) from
    duration metadata — the expensive per-frame decode happens only after
    sampling, on the reduced row set, via ``extract_features``."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "sample_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "sample_ms", "payload")
    )


def resize_plan(media: DataFrame, max_px: int = 256) -> DataFrame:
    """Resize planning: JVM-side computation of target dims (aspect-preserving
    clamp to ``max_px``); the pixel resampling itself runs in the decode
    tier (codec-library swap point behind ``extract_features``)."""
    scale = F.least(
        F.lit(1.0),
        max_px / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    return media.withColumn(
        "target_width", F.ceil(F.col("width") * scale).cast("int")
    ).withColumn("target_height", F.ceil(F.col("height") * scale).cast("int"))


from pyspark.sql import SparkSession  # noqa: E402

from projet_data_engineering_spark.io import load_table, spread  # noqa: E402
from projet_data_engineering_spark.registry import query  # noqa: E402


@query(
    "q_media_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           substr(md5(text), 1, 8) AS checksum,
           ROUND(CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) / 255.0, 4)
               AS f0,
           ROUND(CAST(concat('0x', substr(md5(text), 15, 2)) AS INT) / 255.0, 4)
               AS f7
    FROM documents
    """,
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction end-to-end on driver data: documents'
    text bytes stand in for opaque media payloads (this container has no
    codec libraries for real embeddings; digest features stand in), flowing through
    the real Arrow plumbing: column-pruned payload scan → mapInPandas
    batches → narrow (id, meta, features) output ready for similarity joins.
    Python-side math is per-batch vectorizable; no shuffle anywhere.

    The stub features are md5-digest bytes, so even this Python path is
    oracle-checked exactly: DuckDB recomputes n_bytes/checksum/feature bytes
    from the same UTF-8 payload — the Arrow round-trip is verified
    bit-for-bit, not just rows-only."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "checksum",
        F.round(F.element_at("features", 1), 4).alias("f0"),
        F.round(F.element_at("features", N_FEATURES), 4).alias("f7"),
    )


def _le_hex(col, n_bytes: int):
    """Fixed-width little-endian hex rendering of a non-negative integer
    column — the JVM-side byte-builder for binary fixtures (consumed by
    ``unhex``). Byte i of the output is the i-th least significant byte."""
    hx = F.lpad(F.hex(col.cast("bigint")), 2 * n_bytes, "0")
    return F.concat(
        *[
            F.substring(hx, 2 * (n_bytes - 1 - i) + 1, 2)
            for i in range(n_bytes)
        ]
    )


def _be_hex(col, n_bytes: int):
    """Fixed-width big-endian hex rendering (PNG ints are network order)."""
    return F.lpad(F.hex(col.cast("bigint")), 2 * n_bytes, "0")


@query(
    "q_media_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/bmp'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'image/png' END AS mime,
           CAST(CASE doc_id % 3
                WHEN 0 THEN 54
                WHEN 1 THEN 44
                ELSE 68 + (doc_id % 4 + 2) * (n_chars % 8 + 2)
           END AS BIGINT) AS n_bytes,
           CAST(CASE doc_id % 3 WHEN 0 THEN n_chars % 1920 + 32
                                WHEN 2 THEN n_chars % 8 + 1 END AS INT)
               AS width,
           CAST(CASE doc_id % 3 WHEN 0 THEN (doc_id * 7) % 1080 + 32
                                WHEN 2 THEN doc_id % 4 + 2 END AS INT)
               AS height,
           CAST(CASE WHEN doc_id % 3 = 1 THEN
                ((n_chars * 131) % 200000 + 4000) * 1000 //
                (8000 * (1 + n_chars % 3) * (doc_id % 2 + 1) * 2)
           END AS BIGINT) AS duration_ms,
           CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 16 ELSE 8 END
                AS INT) AS bit_depth,
           CASE WHEN doc_id % 3 = 2 THEN
               (SELECT CAST(SUM((doc_id * 31 + gr.r * 7 + gc.c * 13) % 256)
                            AS BIGINT)
                FROM UNNEST(generate_series(0, doc_id % 4 + 1)) AS gr(r),
                     UNNEST(generate_series(0, n_chars % 8)) AS gc(c))
           END AS px_sum
    FROM documents
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode end-to-end: genuine BMP headers (doc_id%3==0),
    RIFF/WAVE files (%3==1) and complete PNG files (%3==2) are assembled
    JVM-side byte-for-byte (``unhex`` over hex fields derived from document
    columns), cross the Arrow boundary as binary payloads, and
    ``decode_media`` parses them back inside ``mapInPandas``.

    The PNG arm is a full pixel round-trip with zero codec libraries on
    either side: the fixture packs the filtered scanlines (alternating
    None/Sub row filters) into a STORED-block zlib stream whose adler32 is
    computed IN SQL (two folds over the byte array), and the decoder must
    ``zlib.decompress`` + unfilter to reproduce ``px_sum`` — the sum of the
    reconstructed pixel bytes, which the oracle recomputes from the pixel
    formula alone. A wrong offset, endianness slip, chunk-walk bug, or
    unfilter error breaks the hash match."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    arm = F.col("doc_id") % 3
    width = F.col("n_chars") % 1920 + 32
    height = (F.col("doc_id") * 7) % 1080 + 32
    bmp_hex = F.concat(
        F.lit("424D"),              # 'BM'
        _le_hex(F.lit(54), 4),      # file size (header-only fixture)
        F.lit("00000000"),          # reserved
        _le_hex(F.lit(54), 4),      # pixel-data offset
        _le_hex(F.lit(40), 4),      # BITMAPINFOHEADER size
        _le_hex(width, 4),          # width  @ byte 18
        _le_hex(height, 4),         # height @ byte 22
        F.lit("0100"),              # planes = 1
        F.lit("1800"),              # 24 bpp
        F.lit("00000000"),          # BI_RGB
        F.lit("00000000"),          # image size (0 ok for BI_RGB)
        _le_hex(F.lit(2835), 4),    # x px/m
        _le_hex(F.lit(2835), 4),    # y px/m
        F.lit("00000000"),          # palette colors
        F.lit("00000000"),          # important colors
    )
    channels = F.col("doc_id") % 2 + 1                # 1 or 2
    rate = 8000 * (1 + F.col("n_chars") % 3)          # 8/16/24 kHz
    byte_rate = rate * channels * 2                   # 16-bit PCM
    data_size = (F.col("n_chars") * 131) % 200000 + 4000
    wav_hex = F.concat(
        F.lit("52494646"),          # 'RIFF'
        _le_hex(data_size + 36, 4), # riff size
        F.lit("57415645"),          # 'WAVE'
        F.lit("666D7420"),          # 'fmt '
        _le_hex(F.lit(16), 4),      # fmt chunk size
        F.lit("0100"),              # PCM
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(channels * 2, 2),   # block align
        F.lit("1000"),              # 16 bits/sample
        F.lit("64617461"),          # 'data'
        _le_hex(data_size, 4),      # declared size (samples not written)
    )

    # --- PNG fixture: grayscale 8-bit, alternating None/Sub row filters,
    # filtered scanlines packed in a STORED zlib block; adler32 computed in
    # SQL so zlib.decompress's checksum verification passes on REAL bytes
    w_png = F.col("n_chars") % 8 + 1                  # 1..8 px
    h_png = F.col("doc_id") % 4 + 2                   # 2..5 rows
    n_str = h_png * (w_png + 1)                       # filtered stream bytes

    def px(r, c):
        return F.pmod(F.col("doc_id") * 31 + r * 7 + c * 13, F.lit(256))

    def fbyte(i):
        r = F.floor(i / (w_png + 1)).cast("bigint")
        k = i - r * (w_png + 1)
        c = k - 1
        return (
            F.when(k == 0, F.pmod(r, F.lit(2)))       # row filter type
            .when((F.pmod(r, F.lit(2)) == 0) | (c == 0), px(r, c))
            .otherwise(F.pmod(px(r, c) - px(r, c - 1), F.lit(256)))  # Sub
        )

    fstream = F.transform(F.sequence(F.lit(0), n_str - 1), fbyte)
    s1 = F.aggregate(
        fstream, F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    s2 = F.aggregate(
        F.zip_with(
            fstream,
            F.sequence(n_str, F.lit(1), F.lit(-1)),   # adler weights n..1
            lambda b, wt: b * wt,
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    adler = (
        F.pmod(s2 + n_str, F.lit(65521)) * 65536
        + F.pmod(s1 + 1, F.lit(65521))
    )
    stream_hex = F.array_join(
        F.transform(fstream, lambda v: F.lpad(F.hex(v), 2, "0")), ""
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),                    # signature
        F.lit("0000000D49484452"),                    # IHDR len + type
        _be_hex(w_png, 4), _be_hex(h_png, 4),
        F.lit("0800000000"),            # depth 8, gray, deflate, std, none
        F.lit("00000000"),              # IHDR CRC (decoder is CRC-tolerant)
        _be_hex(n_str + 11, 4),                       # IDAT length
        F.lit("49444154"),                            # 'IDAT'
        F.lit("780101"),                # zlib hdr + final stored block
        _le_hex(n_str, 2), _le_hex(F.lit(65535) - n_str, 2),
        stream_hex,
        _be_hex(adler, 4),
        F.lit("00000000"),                            # IDAT CRC
        F.lit("0000000049454E4400000000"),            # IEND
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(arm == 1, F.lit("audio")).otherwise(F.lit("image")).alias(
            "kind"
        ),
        F.unhex(
            F.when(arm == 0, bmp_hex)
            .when(arm == 1, wav_hex)
            .otherwise(png_hex)
        ).alias("payload"),
    )
    return extract_features(media).select(
        "media_id", "mime", "n_bytes", "width", "height", "duration_ms",
        "bit_depth", "px_sum",
    )


@query(
    "q_media_pixels",
    oracle="""
    WITH g AS (
        SELECT doc_id, doc_id % 4 AS arm,
               doc_id % 3 + 1 AS bw, doc_id % 2 + 1 AS bh,
               CASE doc_id % 4 WHEN 2 THEN 4 WHEN 3 THEN 2 ELSE 1 END AS lpm
        FROM documents
    ),
    geo AS (
        SELECT doc_id, bw * bh * lpm AS n_lb,
               CAST(CASE WHEN arm >= 2 THEN 16 * bw ELSE 8 * bw END AS INT)
                   AS wpx,
               CAST(CASE arm WHEN 2 THEN 16 * bh ELSE 8 * bh END AS INT)
                   AS hpx,
               CASE WHEN arm >= 2 THEN 3 ELSE 1 END AS mult,
               CASE arm WHEN 0 THEN 140 + 2 * bw * bh
                        WHEN 1 THEN 140 + bw * bh
                        WHEN 2 THEN 172 + 12 * bw * bh
                        ELSE 172 + 8 * bw * bh END AS nb
        FROM g
    ),
    blk AS (
        SELECT doc_id, n_lb, wpx, hpx, mult, nb, t.k,
               CASE WHEN t.k % 2 = 0
                    THEN 64 + (doc_id*37 + t.k*53) % 64
                    ELSE -(64 + (doc_id*37 + t.k*53) % 64) END AS d
        FROM geo, UNNEST(generate_series(0, n_lb - 1)) AS t(k)
    ),
    dcs AS (
        SELECT doc_id, wpx, hpx, mult, nb, k,
               SUM(d) OVER (PARTITION BY doc_id ORDER BY k) AS dc
        FROM blk
    )
    SELECT doc_id AS media_id,
           'image/jpeg' AS mime,
           CAST(MAX(nb) AS BIGINT) AS n_bytes,
           MAX(wpx) AS width,
           MAX(hpx) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(MAX(mult) * SUM(64 * LEAST(255, GREATEST(0, dc + 128)))
                AS BIGINT) AS px_sum
    FROM dcs GROUP BY doc_id
    """,
)
def q_media_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG PIXEL decode end-to-end (r10; r11 adds COLOR arms with
    two chroma sampling layouts). Complete JPEGs are assembled JVM-side
    byte-for-byte from document columns (``unhex``), cross the Arrow
    boundary, and ``_jpeg_decode_pixels`` entropy-decodes them inside
    ``mapInPandas``: canonical Huffman table construction, bit-level scan
    decode, T.81 EXTEND sign recovery, DC prediction across blocks,
    dequantization, zigzag→natural reorder, the 8x8 float IDCT,
    integer-ratio chroma upsampling, BT.601 YCbCr→RGB, level shift and
    clamp. Four fixture arms by doc_id%4:

    - 0: grayscale BASELINE (SOF0), one DC-only block per 8x8;
    - 1: grayscale PROGRESSIVE (SOF2, a DC-only first scan);
    - 2: 3-component 4:2:0 baseline (luma 2x2, interleaved 6-block MCUs);
    - 3: 3-component 4:2:2 baseline (luma 2x1, interleaved 4-block MCUs).

    The color arms keep the oracle analytic by construction: every chroma
    block carries a category-0 DC diff (a second DC huffman table with
    0x00 at 8 bits keeps the stream byte-aligned), so Cb=Cr=128.0 exactly,
    the BT.601 conversion collapses to R=G=B=clamp(lumaDC+128), and
    px_sum = 3·Σ_blocks 64·clamp(cumulative-DC+128) — yet the decoder must
    run the full interleaved-MCU walk, per-component block grids, BOTH
    integer upsampling ratios, and the color matrix to reproduce it. A
    wrong MCU order, upsample ratio, or matrix coefficient breaks the
    hash. AC coefficients, ZRL, byte stuffing, restart intervals, and the
    full progressive machinery are pinned against an independent encoder +
    four-loop reference IDCT in tests/test_multimodal.py.

    Reference parity: the reference never decodes media at all
    (scraper/main.py:150-164 stores image URLs as strings); this makes
    the binary column a decodable first-class citizen with zero codec
    libraries."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    arm = F.pmod(F.col("doc_id"), F.lit(4))
    prog = arm == 1   # grayscale progressive
    color = arm >= 2  # 3-component interleaved baseline
    bw = F.col("doc_id") % 3 + 1  # MCU columns (gray: luma block columns)
    bh = F.col("doc_id") % 2 + 1  # MCU rows
    # luma blocks per MCU: 4:2:0 -> 4, 4:2:2 -> 2, grayscale -> 1
    lpm = F.when(arm == 2, F.lit(4)).when(arm == 3, F.lit(2)).otherwise(
        F.lit(1)
    )
    n_luma = bw * bh * lpm

    def entropy_byte(k):
        m = F.pmod(F.col("doc_id") * 37 + k * 53, F.lit(64))
        return F.when(F.pmod(k, F.lit(2)) == 0, m + 64).otherwise(63 - m)

    def luma_hex(k):
        # one DC-only luma block: cat-7 code '0' + 7 magnitude bits fill
        # the first byte; baseline appends the 8-bit AC EOB code
        return F.concat(
            F.lpad(F.hex(entropy_byte(k)), 2, "0"),
            F.when(prog, F.lit("")).otherwise(F.lit("00")),
        )

    gray_entropy = F.array_join(
        F.transform(F.sequence(F.lit(0), n_luma - 1), luma_hex), ""
    )
    # interleaved MCUs: lpm luma blocks then one Cb + one Cr block, each
    # chroma block = 8-bit cat-0 DC code (0x00) + 8-bit EOB (0x00)
    color_entropy = F.array_join(
        F.transform(
            F.sequence(F.lit(0), bw * bh - 1),
            lambda m: F.concat(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), lpm - 1),
                        lambda j: luma_hex(m * lpm + j),
                    ),
                    "",
                ),
                F.lit("00000000"),
            ),
        ),
        "",
    )
    h_px = F.when(arm == 2, bh * 16).otherwise(bh * 8)
    w_px = F.when(color, bw * 16).otherwise(bw * 8)
    jpeg_hex = F.concat(
        F.lit("FFD8"),                          # SOI
        F.lit("FFDB004300" + "08" * 64),        # DQT: flat q=8, table 0
        # SOF0 (baseline) / SOF2 (progressive); color frames carry 3
        # component specs with per-arm luma sampling factors
        F.when(prog, F.lit("FFC2000B08"))
        .when(color, F.lit("FFC0001108"))
        .otherwise(F.lit("FFC0000B08")),
        _be_hex(h_px, 2), _be_hex(w_px, 2),
        F.when(
            color,
            F.concat(
                F.lit("03"),
                F.when(arm == 2, F.lit("012200")).otherwise(
                    F.lit("012100")
                ),
                F.lit("021100"), F.lit("031100"),
            ),
        ).otherwise(F.lit("01011100")),
        F.lit("FFC40014" + "00" + "01" + "00" * 15 + "07"),  # DC DHT0: cat 7 @ 1 bit
        F.lit("FFC40014" + "10" + "00" * 7 + "01" + "00" * 8 + "00"),  # AC DHT0: EOB @ 8 bits
        # chroma DC table (color arms): category 0 at 8 bits — keeps every
        # chroma block at exactly two bytes, so the stream stays aligned
        F.when(
            color,
            F.lit("FFC40014" + "01" + "00" * 7 + "01" + "00" * 8 + "00"),
        ).otherwise(F.lit("")),
        F.when(
            color,
            F.concat(F.lit("FFDA000C03"), F.lit("010002100310")),
        ).otherwise(F.concat(F.lit("FFDA000801"), F.lit("0100"))),
        # baseline full-band scan header vs progressive DC-only scan
        F.when(prog, F.lit("000000")).otherwise(F.lit("003F00")),
        F.when(color, color_entropy).otherwise(gray_entropy),
        F.lit("FFD9"),                          # EOI
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(jpeg_hex).alias("payload"),
    )
    return extract_features(media).select(
        "media_id", "mime", "n_bytes", "width", "height", "bit_depth",
        "px_sum",
    )

@query(
    "q_media_audio",
    oracle="""
    WITH g AS (
        SELECT doc_id, n_chars % 64 + 16 AS n FROM documents
    ),
    s AS (
        SELECT doc_id, n,
               ((doc_id * 73 + t.k * 129) % 65536) - 32768 AS v
        FROM g, UNNEST(generate_series(0, n - 1)) AS t(k)
    )
    SELECT doc_id AS media_id,
           'audio/wav' AS mime,
           CAST(44 + 2 * MAX(n) AS BIGINT) AS n_bytes,
           CAST(MAX(n) // 8 AS BIGINT) AS duration_ms,
           CAST(16 AS INT) AS bit_depth,
           CAST(SUM(v) AS BIGINT) AS sample_sum
    FROM s GROUP BY doc_id
    """,
)
def q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM SAMPLE decode end-to-end (r10): complete mono 16-bit
    8 kHz WAV files — RIFF/fmt/data chunks AND the actual little-endian
    signed sample payload — are assembled JVM-side byte-for-byte from
    document columns (``unhex``), cross the Arrow boundary, and
    ``decode_media`` walks the chunks and sums the decoded int16 samples
    inside ``mapInPandas``. The oracle recomputes the signed sample sum
    (and the duration the byte_rate math implies) from the generating
    formula, so a chunk-offset, endianness, or sign-extension bug breaks
    the hash. This is the uncompressed-audio analogue of
    ``q_media_pixels``: with PNG + baseline/progressive JPEG pixels and
    PCM samples all genuinely decoded, the remaining codec boundary is
    exactly the formats that need external codec libraries."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n = F.col("n_chars") % 64 + 16
    data_size = n * 2

    def sample_hex(k):
        u = F.pmod(F.col("doc_id") * 73 + k * 129, F.lit(65536))
        # two's-complement-16 of (u - 32768) is (u + 32768) % 65536
        return _le_hex(F.pmod(u + 32768, F.lit(65536)), 2)

    samples_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), sample_hex), ""
    )
    wav_hex = F.concat(
        F.lit("52494646"),              # 'RIFF'
        _le_hex(data_size + 36, 4),     # riff size
        F.lit("57415645"),              # 'WAVE'
        F.lit("666D7420"),              # 'fmt '
        _le_hex(F.lit(16), 4),          # fmt chunk size
        F.lit("0100"),                  # PCM
        F.lit("0100"),                  # mono
        _le_hex(F.lit(8000), 4),        # sample rate
        _le_hex(F.lit(16000), 4),       # byte rate
        F.lit("0200"),                  # block align
        F.lit("1000"),                  # 16 bits/sample
        F.lit("64617461"),              # 'data'
        _le_hex(data_size, 4),
        samples_hex,                    # the REAL payload
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.unhex(wav_hex).alias("payload"),
    )
    return extract_features(media).select(
        "media_id", "mime", "n_bytes", "duration_ms", "bit_depth",
        "sample_sum",
    )


@query(
    "q_media_container_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 2 WHEN 0 THEN 'image/jpeg' ELSE 'video/mp4' END
               AS mime,
           CAST(CASE doc_id % 2 WHEN 0 THEN 49 ELSE 248 END AS BIGINT)
               AS n_bytes,
           CAST(CASE doc_id % 2 WHEN 0 THEN n_chars % 4000 + 8
                                ELSE n_chars % 1280 + 16 END AS INT) AS width,
           CAST(CASE doc_id % 2 WHEN 0 THEN (doc_id * 13) % 4000 + 8
                                ELSE (doc_id * 11) % 720 + 16 END AS INT)
               AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN
                ((n_chars * 977) % 90000 + 1000) // (doc_id % 3 + 1)
           END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 8 END AS INT) AS bit_depth
    FROM documents
    """,
)
def q_media_container_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-container metadata decode: genuine JPEG marker
    streams (doc_id%2==0) and MP4/ISO-BMFF box trees (%2==1) are assembled
    JVM-side byte-for-byte from document columns (``unhex``), cross the
    Arrow boundary, and ``decode_media`` walks them back inside
    ``mapInPandas`` — the JPEG walk must skip the sized APP0 and COM
    segments to reach SOF0 (precision/height/width); the MP4 walk must skip
    the ``free`` box, recurse ``moov`` → ``mvhd`` (timescale+duration → ms)
    and ``moov`` → ``trak`` → ``tkhd`` (16.16 fixed-point dims). The oracle
    recomputes every field from the generating formulas, so any offset,
    endianness, or length-walk bug breaks the hash. This is the METADATA
    TIER (``want_pixels=False``, r11): the walk never attempts the JPEG
    entropy decode — a metadata scan over billions of objects must not pay
    a guaranteed-to-fail per-object decode (the r10 4.6x regression).
    MP4 *sample* decode still needs a real codec library.

    Reference parity: the reference stores scraped image URLs as opaque
    strings (scraper/main.py:150-164) and never decodes media; this engine
    makes the binary column a first-class citizen."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    arm = F.col("doc_id") % 2
    w_j = F.col("n_chars") % 4000 + 8
    h_j = (F.col("doc_id") * 13) % 4000 + 8
    jpeg_hex = F.concat(
        F.lit("FFD8"),                      # SOI
        F.lit("FFE00010"),                  # APP0, len 16
        F.lit("4A46494600"),                # 'JFIF\\0'
        F.lit("0101"),                      # version 1.1
        F.lit("00"), F.lit("00480048"),     # units + 72dpi density
        F.lit("0000"),                      # no thumbnail
        F.lit("FFFE0006"),                  # COM, len 6 — must be skipped
        F.lit("44415441"),                  # 'DATA'
        F.lit("FFC00011"),                  # SOF0 (baseline), len 17
        F.lit("08"),                        # precision 8
        _be_hex(h_j, 2), _be_hex(w_j, 2),
        F.lit("03"),                        # 3 components
        F.lit("012200"), F.lit("021101"), F.lit("031101"),
        F.lit("FFD9"),                      # EOI
    )
    ts_scale = (F.col("doc_id") % 3 + 1) * 1000
    dur_units = (F.col("n_chars") * 977) % 90000 + 1000
    w_m = F.col("n_chars") % 1280 + 16
    h_m = (F.col("doc_id") * 11) % 720 + 16
    matrix_hex = (
        "000100000000000000000000"
        "000000000001000000000000"
        "000000000000000040000000"
    )
    tkhd_hex = F.concat(
        _be_hex(F.lit(92), 4), F.lit("746B6864"),   # tkhd box
        F.lit("00000007"),                          # v0, flags: enabled
        F.lit("00000000"), F.lit("00000000"),       # ctime/mtime
        _be_hex(F.lit(1), 4),                       # track id
        F.lit("00000000"),                          # reserved
        _be_hex(dur_units, 4),                      # duration
        F.lit("0000000000000000"),                  # reserved
        F.lit("000000000000"),                      # layer/altgroup/volume
        F.lit("0000"),                              # reserved
        F.lit(matrix_hex),
        _be_hex(w_m * 65536, 4),                    # 16.16 fixed width
        _be_hex(h_m * 65536, 4),                    # 16.16 fixed height
    )
    mvhd_hex = F.concat(
        _be_hex(F.lit(108), 4), F.lit("6D766864"),  # mvhd box
        F.lit("00000000"),                          # v0 + flags
        F.lit("00000000"), F.lit("00000000"),       # ctime/mtime
        _be_hex(ts_scale, 4),                       # timescale
        _be_hex(dur_units, 4),                      # duration
        F.lit("00010000"), F.lit("0100"),           # rate 1.0, volume 1.0
        F.lit("0000"), F.lit("0000000000000000"),   # reserved
        F.lit(matrix_hex),
        F.lit("0" * 48),                            # pre_defined[6]
        _be_hex(F.lit(2), 4),                       # next track id
    )
    mp4_hex = F.concat(
        _be_hex(F.lit(16), 4), F.lit("66747970"),   # ftyp box
        F.lit("69736F6D"), F.lit("00000000"),       # major isom, minor 0
        _be_hex(F.lit(16), 4), F.lit("66726565"),   # free box — skipped
        F.lit("0" * 16),
        _be_hex(F.lit(216), 4), F.lit("6D6F6F76"),  # moov box
        mvhd_hex,
        _be_hex(F.lit(100), 4), F.lit("7472616B"),  # trak box
        tkhd_hex,
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(arm == 0, F.lit("image")).otherwise(F.lit("video")).alias(
            "kind"
        ),
        F.unhex(F.when(arm == 0, jpeg_hex).otherwise(mp4_hex)).alias(
            "payload"
        ),
    )
    return extract_features(media, want_pixels=False).select(
        "media_id", "mime", "n_bytes", "width", "height", "duration_ms",
        "bit_depth",
    )


@query(
    "q_media_resize",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id,
               CAST(n_chars % 1920 + 32 AS INT) AS width,
               CAST((doc_id * 7) % 1080 + 32 AS INT) AS height
        FROM documents
    )
    SELECT media_id, width, height,
           CAST(CEIL(width * LEAST(1.0, 256.0 / GREATEST(width, height)))
                AS INT) AS target_width,
           CAST(CEIL(height * LEAST(1.0, 256.0 / GREATEST(width, height)))
                AS INT) AS target_height
    FROM media
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over typed media metadata: aspect-preserving clamp to
    a 256-px long edge, computed ENTIRELY from the metadata struct — the
    payload column is never read (parquet pruning), and the pixel work is
    deferred to the decode tier on the already-planned dimensions. Synthetic
    width/height derive from document columns so the oracle is exact."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 1920 + 32).cast("int").alias("width"),
        ((F.col("doc_id") * 7) % 1080 + 32).cast("int").alias("height"),
    )
    return resize_plan(media, max_px=256).select(
        "media_id", "width", "height", "target_width", "target_height"
    )


@query(
    "q_media_frame_sample",
    oracle="""
    WITH media AS (
        SELECT doc_id AS media_id, n_chars * 13 AS duration_ms
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT media_id,
           COUNT(*) AS n_frames,
           CAST(MAX(s) AS BIGINT) AS last_ms
    FROM media, UNNEST(generate_series(0, GREATEST(duration_ms - 1, 0), 250))
         AS t(s)
    GROUP BY media_id
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: the per-media timestamp grid is JVM
    generated (sequence + explode over duration metadata) so the expensive
    per-frame decode — stubbed here — runs only on the sampled subset. The
    query returns the sampling plan's shape (frames per video, last sample
    offset), which the oracle reproduces with generate_series."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        (F.col("n_chars") * 13).alias("duration_ms"),
    )
    frames = frame_sample(media, every_ms=250)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("sample_ms").cast("long").alias("last_ms"),
    )
