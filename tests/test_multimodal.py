"""Multimodal plumbing: Arrow round-trip, schema stability, deterministic
stub features, JVM-side frame sampling and resize planning."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from projet_data_engineering_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    N_FEATURES,
    extract_features,
    frame_sample,
    resize_plan,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        Row(media_id=1, kind="image", payload=b"\x89PNG fake bytes", mime="image/png",
            width=640, height=480, duration_ms=None),
        Row(media_id=2, kind="image", payload=b"\xff\xd8 jpeg-ish", mime="image/jpeg",
            width=4000, height=1000, duration_ms=None),
        Row(media_id=3, kind="video", payload=b"\x00\x00ftyp", mime="video/mp4",
            width=1920, height=1080, duration_ms=3500),
        Row(media_id=4, kind="audio", payload=None, mime="audio/wav",
            width=None, height=None, duration_ms=2000),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_schema_and_determinism(media):
    out = extract_features(media)
    assert out.schema == FEATURE_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[1]["n_bytes"] == 15
    assert len(rows[1]["features"]) == N_FEATURES
    assert rows[4]["features"] == [0.0] * N_FEATURES  # null payload path
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[1]["features"] == again[1]["features"]


def test_frame_sample_grid(media):
    out = frame_sample(media, every_ms=1000)
    samples = sorted(r["sample_ms"] for r in out.collect())
    assert samples == [0, 1000, 2000, 3000]  # 3500ms video, 1s grid


def test_resize_plan_clamps_long_side(media):
    dims = {
        r["media_id"]: (r["target_width"], r["target_height"])
        for r in resize_plan(media, max_px=256).filter("width is not null").collect()
    }
    assert dims[1] == (256, 192)
    assert dims[2] == (256, 64)
    assert max(dims[3]) == 256


def _bmp(width: int, height: int) -> bytes:
    """Hand-build a BMP with struct — the INDEPENDENT byte-builder the
    decoder is checked against (the query builds its fixtures JVM-side)."""
    import struct

    return (
        b"BM"
        + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, 0,
                      2835, 2835, 0, 0)
    )


def _wav(channels: int, rate: int, data_size: int, junk_chunk: bool = False) -> bytes:
    import struct

    byte_rate = rate * channels * 2
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate,
                                channels * 2, 16)
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO" if junk_chunk else b""
    data = b"data" + struct.pack("<I", data_size)
    body = b"WAVE" + fmt + junk + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_media_bmp_dimensions():
    from projet_data_engineering_spark.operators.multimodal import decode_media

    meta = decode_media(_bmp(640, 480))
    assert meta == {"mime": "image/bmp", "width": 640, "height": 480,
                    "duration_ms": None, "bit_depth": 24, "px_sum": None}
    # negative height = top-down row order; pixel height is the magnitude
    assert decode_media(_bmp(1920, -1080))["height"] == 1080


def test_decode_media_wav_duration_walks_chunks():
    from projet_data_engineering_spark.operators.multimodal import decode_media

    # 2ch 16-bit 8kHz -> 32000 B/s; 48000 B of samples = 1500 ms
    meta = decode_media(_wav(2, 8000, 48000))
    assert meta["mime"] == "audio/wav"
    assert meta["duration_ms"] == 1500
    # an extra LIST chunk between fmt and data must not derail the walk
    assert decode_media(_wav(1, 16000, 16000, junk_chunk=True))[
        "duration_ms"
    ] == 500


def _png(width: int, height: int, channels: int = 1,
         filters: list[int] | None = None) -> tuple[bytes, int]:
    """Hand-build a REAL spec-compliant PNG — genuine zlib deflate (not
    stored blocks), real chunk CRCs, chosen per-row filter types — the
    INDEPENDENT byte-builder the decoder is checked against. Returns
    (png_bytes, expected_pixel_byte_sum)."""
    import struct
    import zlib

    bpp = channels
    stride = width * channels
    raw_rows = [
        bytes(
            (r * 7 + c * 13 + ch * 31) % 256
            for c in range(width)
            for ch in range(channels)
        )
        for r in range(height)
    ]
    filters = filters or [r % 5 for r in range(height)]
    stream = bytearray()
    prev = bytes(stride)
    for r, line in enumerate(raw_rows):
        f = filters[r]
        stream.append(f)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            stream.append((line[i] - pred) & 0xFF)
        prev = line

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(stream), 6))
        + chunk(b"IEND", b"")
    )
    return png, sum(sum(line) for line in raw_rows)


def test_decode_media_png_full_pixel_roundtrip():
    """Real deflate + all five filter types + real CRCs, grayscale and RGB:
    the decoder must inflate AND unfilter correctly to reproduce px_sum."""
    from projet_data_engineering_spark.operators.multimodal import decode_media

    png, want_sum = _png(11, 7, channels=1)  # filters cycle 0..4
    meta = decode_media(png)
    assert meta["mime"] == "image/png"
    assert (meta["width"], meta["height"], meta["bit_depth"]) == (11, 7, 8)
    assert meta["px_sum"] == want_sum

    rgb, want_rgb = _png(5, 9, channels=3, filters=[4] * 9)  # all-Paeth
    meta = decode_media(rgb)
    assert (meta["width"], meta["height"]) == (5, 9)
    assert meta["px_sum"] == want_rgb

    rgba, want_rgba = _png(3, 4, channels=4, filters=[3, 1, 2, 0])
    assert decode_media(rgba)["px_sum"] == want_rgba


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def _png_full(width, height, depth=8, ctype=0, interlace=0, plte=None,
              pixel=None):
    """Full-featured test-side PNG builder (r10): any legal depth/color-
    type combination, optional palette, optional Adam7 interlace (the
    builder interlaces the passes itself, filtering each sub-image with
    cycling filter types). ``pixel(x, y, ch)`` -> sample value. Returns
    (png_bytes, expected px_sum under decode_media's documented
    semantics: mapped-RGB bytes for palette, raw sample values else)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    maxval = (1 << depth) - 1
    pixel = pixel or (lambda x, y, ch: (x * 7 + y * 13 + ch * 31) % (maxval + 1))

    def pack_row(xs, y):
        """Samples of one sub-image row -> packed scanline bytes."""
        vals = [pixel(x, y, ch) for x in xs for ch in range(channels)]
        if depth == 8:
            return bytes(vals)
        if depth == 16:
            return b"".join(struct.pack(">H", v) for v in vals)
        out = bytearray()
        acc = nbits = 0
        for v in vals:
            acc = (acc << depth) | v
            nbits += depth
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    bpp = max(1, channels * depth // 8)

    def filter_sub(rows):
        stream = bytearray()
        prev = bytes(len(rows[0])) if rows else b""
        for r, line in enumerate(rows):
            f = r % 5
            stream.append(f)
            for i in range(len(line)):
                a = line[i - bpp] if i >= bpp else 0
                b_ = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b_
                elif f == 3:
                    pred = (a + b_) >> 1
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = (a if pa <= pb and pa <= pc
                            else (b_ if pb <= pc else c))
                stream.append((line[i] - pred) & 0xFF)
            prev = line
        return stream

    stream = bytearray()
    if interlace == 0:
        rows = [pack_row(range(width), y) for y in range(height)]
        stream += filter_sub(rows)
    else:
        passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        for x0, y0, dx, dy in passes:
            xs = list(range(x0, width, dx))
            ys = list(range(y0, height, dy))
            if not xs or not ys:
                continue
            stream += filter_sub([pack_row(xs, y) for y in ys])

    ihdr = struct.pack(">IIBBBBB", width, height, depth, ctype, 0, 0,
                       interlace)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if ctype == 3:
        png += _png_chunk(b"PLTE", bytes(plte))
    png += _png_chunk(b"IDAT", zlib.compress(bytes(stream), 6))
    png += _png_chunk(b"IEND", b"")

    if ctype == 3:
        want = sum(
            plte[3 * pixel(x, y, 0) + c]
            for y in range(height) for x in range(width) for c in range(3)
        )
    else:
        want = sum(
            pixel(x, y, ch)
            for y in range(height) for x in range(width)
            for ch in range(channels)
        )
    return png, want


def test_decode_media_png_palette_16bit_and_adam7():
    """r10: the former PNG boundaries — palette indices (with sub-byte
    depths), 16-bit samples, and Adam7 interlace — now genuinely decode;
    px_sum is defined over mapped-RGB bytes for palette and raw sample
    values otherwise."""
    from projet_data_engineering_spark.operators.multimodal import decode_media

    # 16-bit grayscale and 16-bit RGB
    for ctype in (0, 2):
        png, want = _png_full(9, 5, depth=16, ctype=ctype)
        meta = decode_media(png)
        assert meta["px_sum"] == want and meta["bit_depth"] == 16
    # palette at 8/4/2/1-bit index depths
    plte = [(i * 37) % 256 for i in range(48)]  # 16 RGB entries
    for depth in (8, 4, 2, 1):
        n = min(16, 1 << depth)
        png, want = _png_full(
            11, 6, depth=depth, ctype=3, plte=plte,
            pixel=lambda x, y, ch, n=n: (x + y * 3) % n,
        )
        meta = decode_media(png)
        assert meta["px_sum"] == want, depth
    # sub-byte grayscale
    for depth in (1, 2, 4):
        png, want = _png_full(13, 4, depth=depth, ctype=0)
        assert decode_media(png)["px_sum"] == want, depth
    # Adam7 across shapes and color types (incl. dims smaller than a pass)
    for w, h, d, ct in [(11, 7, 8, 0), (16, 16, 8, 6), (3, 2, 8, 2),
                        (9, 5, 16, 0), (10, 9, 4, 0)]:
        png, want = _png_full(w, h, depth=d, ctype=ct, interlace=1)
        meta = decode_media(png)
        assert meta["px_sum"] == want, (w, h, d, ct)
        assert (meta["width"], meta["height"]) == (w, h)


def test_decode_media_png_still_rejects_garbage_headers():
    import struct

    import pytest as _pytest

    from projet_data_engineering_spark.operators.multimodal import decode_media

    for ihdr in [
        struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0),   # 16-bit palette
        struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0),    # depth 3
        struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0),    # color type 5
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2),    # interlace 2
        struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0),    # palette, no PLTE
    ]:
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        with _pytest.raises(NotImplementedError):
            decode_media(png)


def test_decode_media_unknown_format_raises():
    import pytest as _pytest

    from projet_data_engineering_spark.operators.multimodal import decode_media

    for payload in [b"\x89PNG fake", b"\xff\xd8 jpeg-ish", None,
                    b"RIFF\x00\x00\x00\x00AVI "]:
        with _pytest.raises(NotImplementedError):
            decode_media(payload)


def test_extract_features_surfaces_decoded_header_meta(spark):
    rows = [
        Row(media_id=10, kind="image", payload=_bmp(320, 200), mime=None,
            width=None, height=None, duration_ms=None),
        Row(media_id=11, kind="audio", payload=_wav(1, 8000, 4000), mime=None,
            width=None, height=None, duration_ms=None),
        Row(media_id=12, kind="image", payload=b"\x89PNG needs-a-codec",
            mime=None, width=None, height=None, duration_ms=None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (got[10]["mime"], got[10]["width"], got[10]["height"]) == (
        "image/bmp", 320, 200)
    assert (got[11]["mime"], got[11]["duration_ms"]) == ("audio/wav", 250)
    # codec-needing formats still flow through with digest features, meta NULL
    assert got[12]["mime"] is None
    assert len(got[12]["features"]) == N_FEATURES


def _jpeg(width: int, height: int, progressive: bool = False) -> bytes:
    """Independent struct-built JPEG marker stream (APP0 + COM + SOFn)."""
    import struct

    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 72, 72) + b"\x00\x00"
        + b"\xff\xfe" + struct.pack(">H", 8) + b"noise!"
        + sof + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )


def _mp4(timescale: int, duration: int, width: int, height: int,
         v1: bool = False) -> bytes:
    """Independent struct-built ISO-BMFF tree (ftyp + free + moov)."""
    import struct

    def be(v, n):
        return int(v).to_bytes(n, "big")

    matrix = (be(0x10000, 4) + bytes(12) + be(0x10000, 4) + bytes(12)
              + be(0x40000000, 4))
    if v1:
        tkhd_body = (b"tkhd\x01\x00\x00\x07" + bytes(16) + be(1, 4)
                     + bytes(4) + be(duration, 8) + bytes(16) + matrix
                     + be(width << 16, 4) + be(height << 16, 4))
        mvhd_body = (b"mvhd\x01\x00\x00\x00" + bytes(16) + be(timescale, 4)
                     + be(duration, 8) + be(0x10000, 4) + be(0x100, 2)
                     + bytes(10) + matrix + bytes(24) + be(2, 4))
    else:
        tkhd_body = (b"tkhd\x00\x00\x00\x07" + bytes(8) + be(1, 4)
                     + bytes(4) + be(duration, 4) + bytes(16) + matrix
                     + be(width << 16, 4) + be(height << 16, 4))
        mvhd_body = (b"mvhd\x00\x00\x00\x00" + bytes(8) + be(timescale, 4)
                     + be(duration, 4) + be(0x10000, 4) + be(0x100, 2)
                     + bytes(10) + matrix + bytes(24) + be(2, 4))
    tkhd = be(len(tkhd_body) + 4, 4) + tkhd_body
    trak = be(len(tkhd) + 8, 4) + b"trak" + tkhd
    mvhd = be(len(mvhd_body) + 4, 4) + mvhd_body
    moov = be(len(mvhd) + len(trak) + 8, 4) + b"moov" + mvhd + trak
    return (be(16, 4) + b"ftyp" + b"isom" + bytes(4)
            + be(16, 4) + b"free" + bytes(8) + moov)


def test_decode_media_jpeg_marker_walk():
    from projet_data_engineering_spark.operators.multimodal import decode_media

    meta = decode_media(_jpeg(1024, 768))
    assert meta == {"mime": "image/jpeg", "width": 1024, "height": 768,
                    "duration_ms": None, "bit_depth": 8, "px_sum": None}
    # progressive SOF2 carries the same frame-header layout
    assert decode_media(_jpeg(33, 7, progressive=True))["width"] == 33
    # truncation before any SOF raises (entropy decode needs a codec)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff\xda\x00\x02")


def test_decode_media_mp4_box_walk_v0_and_v1():
    from projet_data_engineering_spark.operators.multimodal import decode_media

    meta = decode_media(_mp4(2000, 45321, 640, 360))
    assert meta == {"mime": "video/mp4", "width": 640, "height": 360,
                    "duration_ms": 22660, "bit_depth": None, "px_sum": None}
    # version-1 (64-bit times) layouts shift every offset
    meta = decode_media(_mp4(1000, 98765, 1920, 1080, v1=True))
    assert (meta["duration_ms"], meta["width"], meta["height"]) == (
        98765, 1920, 1080)
    # moov-less file raises rather than fabricating metadata
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_media(bytes.fromhex("00000010") + b"ftypisom" + bytes(4))


def test_decode_media_never_raises_raw_parser_errors():
    """A corrupt payload anywhere in a 100 TB corpus must surface as the
    recorded-undecodable row, not a struct/zlib error that kills the Arrow
    batch: decode_media's contract is dict-or-NotImplementedError, nothing
    else. Fuzz with truncations of every valid fixture (worst case for
    offset math) plus hypothesis-random bytes behind magic prefixes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from projet_data_engineering_spark.operators.multimodal import decode_media

    fixtures = [
        _bmp(640, 480), _wav(2, 8000, 48000), _jpeg(100, 50),
        _mp4(1000, 5000, 320, 240),
    ]
    for fx in fixtures:
        for cut in range(len(fx)):
            try:
                decode_media(fx[:cut])
            except NotImplementedError:
                pass  # the only legal exception

    magics = [b"", b"BM", b"RIFF", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
              b"\x00\x00\x00\x10ftyp"]

    @settings(max_examples=200, deadline=None)
    @given(st.sampled_from(magics), st.binary(max_size=64))
    def fuzz(prefix, tail):
        try:
            decode_media(prefix + tail)
        except NotImplementedError:
            pass

    fuzz()


def test_bound_arrow_batches_for_payloads_caps_batch_rows(spark):
    """The payload-size batching knob must actually bound what one Arrow
    batch carries: with the cap at 2 records, a 10-payload decode pass sees
    batches of at most 2 rows (observed from inside mapInPandas)."""
    from pyspark.sql import functions as F

    from projet_data_engineering_spark.operators.multimodal import (
        bound_arrow_batches_for_payloads,
        extract_features,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # 32 MB payloads, 64 MB target -> cap of 2 records per batch
        cap = bound_arrow_batches_for_payloads(32.0, 64.0)
        assert cap == 2
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", cap)
        media = spark.createDataFrame(
            [(i, "image", bytearray(_bmp(4, 4))) for i in range(10)],
            "media_id bigint, kind string, payload binary",
        ).coalesce(1)  # one partition -> batching is the only row splitter
        sizes = (
            extract_features(media)
            .groupBy()
            .agg(F.count("*"))
            .collect()
        )
        assert sizes[0][0] == 10
        # observe per-batch row counts via a probe mapInPandas
        def probe(it):
            import pandas as pd

            for pdf in it:
                yield pd.DataFrame({"n": [len(pdf)]})

        counts = [
            r["n"]
            for r in media.mapInPandas(probe, "n long").collect()
        ]
        assert sum(counts) == 10
        assert max(counts) <= 2, counts
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


# ---------------------------------------------------------------------------
# Baseline-JPEG pixel decode (r10: closes the declared codec stub)
# ---------------------------------------------------------------------------
# Test-side encoder + independent reference decoder. The encoder uses its
# OWN huffman layout (everything at code length 8, canonical), so a decoder
# that only handles the fixture tables used elsewhere would fail here.

_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, k):
        for i in range(k - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def align(self):
        while self.n:
            self.put(1, 1)  # pad with 1-bits (spec convention)


def _cat(v):
    return 0 if v == 0 else (v if v > 0 else -v).bit_length()


_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_DCTAB = {s: (8, i) for i, s in enumerate(_DC_SYMS)}
_ACTAB = {s: (8, i) for i, s in enumerate(_AC_SYMS)}


def _encode_jpeg(w, h, comps, qts, coef_fn, ri=0):
    """Baseline JPEG encoder: comps = [(cid, hf, vf, tq)], qts = {tq:
    64 zigzag ints}, coef_fn(ci, brow, bcol) -> 64 zigzag coefficients
    (DC absolute; the encoder differences it)."""
    import struct

    out = bytearray(b"\xff\xd8")
    for tq, q in qts.items():
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(q)
    out += b"\xff\xc0" + struct.pack(">H", 8 + 3 * len(comps)) + b"\x08"
    out += struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hf, vf, tq in comps:
        out += bytes([cid, (hf << 4) | vf, tq])

    def dht(tc, syms):
        bits = [0] * 16
        bits[7] = len(syms)
        return (
            b"\xff\xc4"
            + struct.pack(">H", 19 + len(syms))
            + bytes([tc << 4])
            + bytes(bits)
            + bytes(syms)
        )

    out += dht(0, _DC_SYMS) + dht(1, _AC_SYMS)
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(comps))
    out += bytes([len(comps)])
    for cid, *_ in comps:
        out += bytes([cid, 0x00])
    out += b"\x00\x3f\x00"
    maxh = max(c[1] for c in comps)
    maxv = max(c[2] for c in comps)
    mcx, mcy = -(-w // (8 * maxh)), -(-h // (8 * maxv))
    bw = _BitW()
    preds = [0] * len(comps)
    rst = 0
    for my in range(mcy):
        for mx in range(mcx):
            idx = my * mcx + mx
            if ri and idx and idx % ri == 0:
                bw.align()
                out += bw.out
                bw = _BitW()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * len(comps)
            for ci, (cid, hf, vf, tq) in enumerate(comps):
                for by in range(vf):
                    for bx in range(hf):
                        z = coef_fn(ci, my * vf + by, mx * hf + bx)
                        diff = z[0] - preds[ci]
                        preds[ci] = z[0]
                        s = _cat(diff)
                        ln, c = _DCTAB[s]
                        bw.put(c, ln)
                        if s:
                            bw.put(
                                diff if diff >= 0 else diff + (1 << s) - 1, s
                            )
                        k = 1
                        while k < 64:
                            run = 0
                            while k < 64 and z[k] == 0:
                                k += 1
                                run += 1
                            if k == 64:
                                ln, c = _ACTAB[0x00]
                                bw.put(c, ln)  # EOB
                                break
                            while run >= 16:
                                ln, c = _ACTAB[0xF0]
                                bw.put(c, ln)  # ZRL
                                run -= 16
                            s = _cat(z[k])
                            ln, c = _ACTAB[(run << 4) | s]
                            bw.put(c, ln)
                            v = z[k]
                            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
                            k += 1
    bw.align()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def _ref_decode_jpeg(w, h, comps, qts, coef_fn):
    """Independent reference: direct four-loop IDCT from the spec formula
    (no matrix factorization), replication upsampling, BT.601 YCbCr."""
    import math

    import numpy as np

    maxh = max(c[1] for c in comps)
    maxv = max(c[2] for c in comps)
    mcx, mcy = -(-w // (8 * maxh)), -(-h // (8 * maxv))
    planes = []
    for ci, (cid, hf, vf, tq) in enumerate(comps):
        P = np.zeros((mcy * vf * 8, mcx * hf * 8))
        for brow in range(mcy * vf):
            for bcol in range(mcx * hf):
                z = [
                    a * b
                    for a, b in zip(coef_fn(ci, brow, bcol), qts[tq])
                ]
                M = [[0.0] * 8 for _ in range(8)]
                for i, nat in enumerate(_ZZ):
                    M[nat // 8][nat % 8] = float(z[i])
                for x in range(8):
                    for y in range(8):
                        acc = 0.0
                        for u in range(8):
                            cu = 1 / math.sqrt(2) if u == 0 else 1.0
                            for v in range(8):
                                cv = 1 / math.sqrt(2) if v == 0 else 1.0
                                acc += (
                                    cu * cv * M[u][v]
                                    * math.cos((2 * x + 1) * u * math.pi / 16)
                                    * math.cos((2 * y + 1) * v * math.pi / 16)
                                )
                        P[brow * 8 + x, bcol * 8 + y] = acc / 4 + 128
        P = np.repeat(
            np.repeat(P, maxv // vf, axis=0), maxh // hf, axis=1
        )[:h, :w]
        planes.append(P)
    if len(planes) == 3:
        y, cb, cr = planes
        rgb = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=-1,
        )
        return np.clip(np.round(rgb), 0, 255).astype("uint8")
    return np.clip(np.round(planes[0]), 0, 255).astype("uint8")[..., None]


def _coefs(ci, brow, bcol):
    """Deterministic sparse pseudo-random zigzag coefficients."""
    z = [0] * 64
    seed = ci * 7919 + brow * 131 + bcol * 17
    z[0] = (seed * 29) % 400 - 200
    for k in range(1, 64):
        v = (seed * 1103515245 + k * 12345) % 97
        if v < 18:  # sparse ACs, values in [-30, 30] minus 0
            z[k] = (v * 7) % 61 - 30 or 5
    return z


def _q64(mult):
    return [((i * 7) % 13 + 1) * mult for i in range(64)]


def test_jpeg_baseline_gray_roundtrip_with_acs():
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
        decode_media,
    )

    w, h = 20, 13  # crops: 3x2 blocks padded to 24x16
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}
    b = _encode_jpeg(w, h, comps, qts, _coefs)
    hh, ww, nc, px = _jpeg_decode_pixels(b)
    assert (hh, ww, nc) == (h, w, 1)
    want = _ref_decode_jpeg(w, h, comps, qts, _coefs)
    assert (px == want).all()
    meta = decode_media(b)
    assert meta["px_sum"] == int(want.astype("int64").sum())
    assert (meta["width"], meta["height"], meta["bit_depth"]) == (w, h, 8)


def test_jpeg_baseline_color_420_roundtrip():
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
    )

    w, h = 20, 13  # MCU 16x16 -> 2x1 MCUs, crops both axes
    comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    qts = {0: _q64(1), 1: _q64(2)}
    b = _encode_jpeg(w, h, comps, qts, _coefs)
    hh, ww, nc, px = _jpeg_decode_pixels(b)
    assert (hh, ww, nc) == (h, w, 3)
    want = _ref_decode_jpeg(w, h, comps, qts, _coefs)
    assert (px == want).all()


def test_jpeg_restart_markers_and_byte_stuffing():
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
    )

    w, h = 48, 16  # 6x2 = 12 MCUs, restart every 2
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}

    def coefs(ci, brow, bcol):
        z = _coefs(ci, brow, bcol)
        if (brow, bcol) == (0, 0):
            # DC 255 -> category 8, magnitude bits 0xFF right after the
            # byte-aligned 8-bit huffman code: forces a stuffed FF00
            z[0] = 255
        return z

    b = _encode_jpeg(w, h, comps, qts, coefs, ri=2)
    # the stream must actually exercise both decoder paths
    assert b"\xff\x00" in b.split(b"\xff\xda")[1], "no stuffed byte emitted"
    assert any(
        bytes([0xFF, 0xD0 + i]) in b for i in range(8)
    ), "no restart marker emitted"
    hh, ww, nc, px = _jpeg_decode_pixels(b)
    want = _ref_decode_jpeg(w, h, comps, qts, coefs)
    assert (px == want).all()


def test_jpeg_nonbaseline_and_scanless_keep_metadata_only():
    from projet_data_engineering_spark.operators.multimodal import decode_media

    # scanless progressive header (no DQT/DHT/SOS): dimensions decode,
    # px_sum honestly None (r10: progressive WITH a scan pixel-decodes —
    # see the _ProgEncoder round-trip tests)
    meta = decode_media(_jpeg(33, 7, progressive=True))
    assert meta["width"] == 33 and meta["px_sum"] is None
    # header-only baseline fixture: same metadata-only contract
    meta = decode_media(_jpeg(1024, 768))
    assert meta["px_sum"] is None and meta["width"] == 1024
    # arithmetic-coded frames (SOF9) are a real codec boundary: the
    # pixel path refuses, the marker walk still yields dimensions
    b = bytearray(_jpeg(12, 9))
    i = b.find(bytes.fromhex("FFC0"))
    b[i + 1] = 0xC9
    meta = decode_media(bytes(b))
    assert meta["px_sum"] is None and meta["width"] == 12
    # a corrupt entropy-adjacent payload still never raises raw errors
    b = bytearray(_encode_jpeg(8, 8, [(1, 1, 1, 0)], {0: _q64(1)}, _coefs))
    truncated = bytes(b[: len(b) // 2])
    try:
        decode_media(truncated)
    except NotImplementedError:
        pass  # acceptable: malformed


# --- progressive JPEG (r10): test-side multi-scan encoder -------------------

def _p_sign_trunc(c, al):
    t = (c if c >= 0 else -c) >> al
    return t if c >= 0 else -t


class _ProgEncoder:
    """Baseline-table progressive encoder: DC first + successive DC
    refinements, per-component spectral-band AC first passes + successive
    AC refinements (the libjpeg-style scan script), per-block EOB runs of
    1, optional restart intervals."""

    def __init__(self, w, h, comps, qts, coef_fn, dc_al=1, ac_al=1,
                 bands=((1, 5), (6, 63)), ri=0):
        self.w, self.h, self.comps, self.qts = w, h, comps, qts
        self.coef_fn, self.dc_al, self.ac_al = coef_fn, dc_al, ac_al
        self.bands, self.ri = bands, ri
        self.maxh = max(c[1] for c in comps)
        self.maxv = max(c[2] for c in comps)
        self.mcx = -(-w // (8 * self.maxh))
        self.mcy = -(-h // (8 * self.maxv))

    def _sos(self, scomps, ss, se, ah, al):
        import struct

        out = bytearray(b"\xff\xda")
        out += struct.pack(">H", 6 + 2 * len(scomps))
        out += bytes([len(scomps)])
        for cid in scomps:
            out += bytes([cid, 0x00])
        out += bytes([ss, se, (ah << 4) | al])
        return out

    def _comp_grid(self, ci):
        _cid, hf, vf, _tq = self.comps[ci]
        return (-(-(-(-(self.w * hf) // self.maxh)) // 8),
                -(-(-(-(self.h * vf) // self.maxv)) // 8))

    def _scan_dc_first(self, out):
        import struct

        out += self._sos([c[0] for c in self.comps], 0, 0, 0, self.dc_al)
        bw_ = _BitW()
        preds = [0] * len(self.comps)
        rst = 0
        for my in range(self.mcy):
            for mx in range(self.mcx):
                idx = my * self.mcx + mx
                if self.ri and idx and idx % self.ri == 0:
                    bw_.align(); out += bw_.out; bw_ = _BitW()
                    out += bytes([0xFF, 0xD0 + (rst % 8)]); rst += 1
                    preds = [0] * len(self.comps)
                for ci, (cid, hf, vf, tq) in enumerate(self.comps):
                    for by in range(vf):
                        for bx in range(hf):
                            z = self.coef_fn(ci, my * vf + by, mx * hf + bx)
                            dc = z[0] >> self.dc_al
                            diff = dc - preds[ci]
                            preds[ci] = dc
                            s = _cat(diff)
                            ln, c = _DCTAB[s]
                            bw_.put(c, ln)
                            if s:
                                bw_.put(
                                    diff if diff >= 0
                                    else diff + (1 << s) - 1, s)
        bw_.align(); out += bw_.out

    def _scan_dc_refine(self, out, al):
        out += self._sos([c[0] for c in self.comps], 0, 0, al + 1, al)
        bw_ = _BitW()
        rst = 0
        for my in range(self.mcy):
            for mx in range(self.mcx):
                idx = my * self.mcx + mx
                if self.ri and idx and idx % self.ri == 0:
                    bw_.align(); out += bw_.out; bw_ = _BitW()
                    out += bytes([0xFF, 0xD0 + (rst % 8)]); rst += 1
                for ci, (cid, hf, vf, tq) in enumerate(self.comps):
                    for by in range(vf):
                        for bx in range(hf):
                            z = self.coef_fn(ci, my * vf + by, mx * hf + bx)
                            bw_.put((z[0] >> al) & 1, 1)
        bw_.align(); out += bw_.out

    def _scan_ac_first(self, out, ci, ss, se):
        out += self._sos([self.comps[ci][0]], ss, se, 0, self.ac_al)
        bw_ = _BitW()
        gw, gh = self._comp_grid(ci)
        rst = 0
        for row in range(gh):
            for col in range(gw):
                idx = row * gw + col
                if self.ri and idx and idx % self.ri == 0:
                    bw_.align(); out += bw_.out; bw_ = _BitW()
                    out += bytes([0xFF, 0xD0 + (rst % 8)]); rst += 1
                z = self.coef_fn(ci, row, col)
                vals = [_p_sign_trunc(z[k], self.ac_al) for k in range(64)]
                k, r = ss, 0
                while k <= se:
                    v = vals[k]
                    if v == 0:
                        r += 1; k += 1; continue
                    while r > 15:
                        ln, c = _ACTAB[0xF0]; bw_.put(c, ln); r -= 16
                    s = _cat(v)
                    ln, c = _ACTAB[(r << 4) | s]; bw_.put(c, ln)
                    bw_.put(v if v >= 0 else v + (1 << s) - 1, s)
                    r = 0; k += 1
                if r > 0:
                    ln, c = _ACTAB[0x00]; bw_.put(c, ln)  # EOB run of 1
        bw_.align(); out += bw_.out

    def _scan_ac_refine(self, out, ci, ss, se, al):
        out += self._sos([self.comps[ci][0]], ss, se, al + 1, al)
        bw_ = _BitW()
        gw, gh = self._comp_grid(ci)
        rst = 0
        for row in range(gh):
            for col in range(gw):
                idx = row * gw + col
                if self.ri and idx and idx % self.ri == 0:
                    bw_.align(); out += bw_.out; bw_ = _BitW()
                    out += bytes([0xFF, 0xD0 + (rst % 8)]); rst += 1
                z = self.coef_fn(ci, row, col)
                absv = [(z[k] if z[k] >= 0 else -z[k]) >> al
                        for k in range(64)]
                eobpos = ss - 1
                for k in range(ss, se + 1):
                    if absv[k] == 1:
                        eobpos = k
                r, br = 0, []
                for k in range(ss, se + 1):
                    t = absv[k]
                    if t == 0:
                        r += 1; continue
                    while r > 15 and k <= eobpos:
                        ln, c = _ACTAB[0xF0]; bw_.put(c, ln); r -= 16
                        for bit in br:
                            bw_.put(bit, 1)
                        br = []
                    if t > 1:  # history-nonzero: buffer a correction bit
                        br.append(t & 1); continue
                    ln, c = _ACTAB[(r << 4) | 1]; bw_.put(c, ln)
                    bw_.put(1 if z[k] > 0 else 0, 1)  # sign of new coef
                    for bit in br:
                        bw_.put(bit, 1)
                    br, r = [], 0
                if r > 0 or br:
                    ln, c = _ACTAB[0x00]; bw_.put(c, ln)  # EOB run of 1
                    for bit in br:
                        bw_.put(bit, 1)
        bw_.align(); out += bw_.out

    def encode(self):
        import struct

        out = bytearray(b"\xff\xd8")
        for tq, q in self.qts.items():
            out += (b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
                    + bytes(q))
        out += b"\xff\xc2" + struct.pack(">H", 8 + 3 * len(self.comps))
        out += b"\x08" + struct.pack(">HH", self.h, self.w)
        out += bytes([len(self.comps)])
        for cid, hf, vf, tq in self.comps:
            out += bytes([cid, (hf << 4) | vf, tq])

        def dht(tc, syms):
            bits = [0] * 16
            bits[7] = len(syms)
            return (b"\xff\xc4" + struct.pack(">H", 19 + len(syms))
                    + bytes([tc << 4]) + bytes(bits) + bytes(syms))

        out += dht(0, _DC_SYMS) + dht(1, _AC_SYMS)
        if self.ri:
            out += b"\xff\xdd" + struct.pack(">HH", 4, self.ri)
        self._scan_dc_first(out)
        for al in range(self.dc_al - 1, -1, -1):
            self._scan_dc_refine(out, al)
        for ci in range(len(self.comps)):
            for ss, se in self.bands:
                self._scan_ac_first(out, ci, ss, se)
        for al in range(self.ac_al - 1, -1, -1):
            for ci in range(len(self.comps)):
                for ss, se in self.bands:
                    self._scan_ac_refine(out, ci, ss, se, al)
        out += b"\xff\xd9"
        return bytes(out)


def test_jpeg_progressive_gray_equals_baseline():
    """Full progressive decode (spectral selection + successive
    approximation): the same coefficients encoded as SOF2 multi-scan
    (DC first Al=2 + two refinements; two AC bands, first pass Al=1 +
    refinement) must decode to EXACTLY the pixels of the baseline
    encoding — the baseline path is pinned against the reference IDCT,
    so progressive is verified transitively."""
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
        decode_media,
    )

    w, h = 20, 13
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}
    base = _encode_jpeg(w, h, comps, qts, _coefs)
    prog = _ProgEncoder(
        w, h, comps, qts, _coefs, dc_al=2, ac_al=1
    ).encode()
    hb, wb, nb, pxb = _jpeg_decode_pixels(base)
    hp, wp, np_, pxp = _jpeg_decode_pixels(prog)
    assert (hp, wp, np_) == (hb, wb, nb) == (h, w, 1)
    assert (pxp == pxb).all()
    meta = decode_media(prog)
    assert meta["px_sum"] == int(pxb.astype("int64").sum())


def test_jpeg_progressive_color_420_equals_baseline():
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
    )

    w, h = 20, 13
    comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    qts = {0: _q64(1), 1: _q64(2)}

    def coefs(ci, brow, bcol):
        # zero the padding blocks outside each component's own grid so the
        # baseline (which encodes the full MCU-padded grid) and progressive
        # (whose AC scans cover only the real grid) agree bit-for-bit even
        # in the cropped-away margin
        maxh = max(c[1] for c in comps)
        maxv = max(c[2] for c in comps)
        _cid, hf, vf, _tq = comps[ci]
        gw = -(-(-(-(w * hf) // maxh)) // 8)
        gh = -(-(-(-(h * vf) // maxv)) // 8)
        if brow >= gh or bcol >= gw:
            return [0] * 64
        return _coefs(ci, brow, bcol)

    base = _encode_jpeg(w, h, comps, qts, coefs)
    prog = _ProgEncoder(w, h, comps, qts, coefs, dc_al=1, ac_al=1).encode()
    _, _, _, pxb = _jpeg_decode_pixels(base)
    _, _, _, pxp = _jpeg_decode_pixels(prog)
    assert (pxp == pxb).all()


def test_jpeg_progressive_restart_intervals():
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
    )

    w, h = 48, 16
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}
    base = _encode_jpeg(w, h, comps, qts, _coefs)
    prog = _ProgEncoder(
        w, h, comps, qts, _coefs, dc_al=1, ac_al=1, ri=3
    ).encode()
    assert any(bytes([0xFF, 0xD0 + i]) in prog for i in range(8))
    _, _, _, pxb = _jpeg_decode_pixels(base)
    _, _, _, pxp = _jpeg_decode_pixels(prog)
    assert (pxp == pxb).all()


def test_decode_media_wav_pcm_sample_sum():
    """r10: when the data chunk's payload is actually present, decode_media
    sums the decoded signed 16-bit samples (LE, two's complement) — the
    uncompressed-audio analogue of the pixel sums. Header-only fixtures
    (declared size, no payload) and non-PCM16 formats stay None."""
    import struct

    from projet_data_engineering_spark.operators.multimodal import decode_media

    samples = [0, 1, -1, 32767, -32768, 1234, -4321]
    payload = b"".join(struct.pack("<h", s) for s in samples)
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    data = b"data" + struct.pack("<I", len(payload)) + payload
    body = b"WAVE" + fmt + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    meta = decode_media(wav)
    assert meta["sample_sum"] == sum(samples)
    assert meta["duration_ms"] == len(payload) * 1000 // 16000
    # header-only (size declared, samples absent): honest None
    assert decode_media(_wav(2, 8000, 48000))["sample_sum"] is None
    # 8-bit PCM is outside the PCM-16 decode path: None, not garbage
    fmt8 = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
    data8 = b"data" + struct.pack("<I", 4) + bytes([1, 2, 3, 4])
    body8 = b"WAVE" + fmt8 + data8
    assert decode_media(
        b"RIFF" + struct.pack("<I", len(body8)) + body8
    )["sample_sum"] is None


def test_jpeg_progressive_scan_script_sweep():
    """Sweep the progressive scan-script space (DC/AC successive-
    approximation depths, band splits, restart intervals): every variant
    must decode pixel-identical to the baseline encoding of the same
    coefficients."""
    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
    )

    w, h = 24, 11
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}
    _, _, _, pxb = _jpeg_decode_pixels(_encode_jpeg(w, h, comps, qts, _coefs))
    scripts = [
        dict(dc_al=0, ac_al=0, bands=((1, 63),)),           # pure spectral
        dict(dc_al=1, ac_al=0, bands=((1, 63),)),           # DC SA only
        dict(dc_al=0, ac_al=2, bands=((1, 63),)),           # deep AC SA
        dict(dc_al=3, ac_al=1, bands=((1, 2), (3, 9), (10, 63))),
        dict(dc_al=1, ac_al=1, bands=((1, 63),), ri=2),     # restarts
        dict(dc_al=2, ac_al=2, bands=((1, 5), (6, 63)), ri=5),
    ]
    for script in scripts:
        prog = _ProgEncoder(w, h, comps, qts, _coefs, **script).encode()
        _, _, _, pxp = _jpeg_decode_pixels(prog)
        assert (pxp == pxb).all(), script


def test_jpeg_corrupt_scan_falls_back_to_metadata():
    """Review r10: pixel decode is opportunistic — a corrupt scan
    (truncated DHT, short DQT, 2-component frame, non-integer sampling
    ratios, refinement scan naming an undefined DC table) must fall back
    to the marker-walk metadata, never destroy it with a raw error."""
    import struct

    from projet_data_engineering_spark.operators.multimodal import decode_media

    # (a) truncated DHT: bits counts exceed the symbol bytes present
    b = bytearray(_encode_jpeg(8, 8, [(1, 1, 1, 0)], {0: _q64(1)}, _coefs))
    i = b.find(b"\xff\xc4")
    seglen = struct.unpack_from(">H", b, i + 2)[0]
    mutated = bytes(b[: i + 4]) + bytes([0] * 7 + [99] + [0] * 8) + bytes(
        b[i + 20 : ]
    )
    meta = decode_media(mutated)
    assert meta["width"] == 8 and meta["px_sum"] is None

    # (b) 2-component frame: would silently sum one plane — metadata only
    two = _encode_jpeg(8, 8, [(1, 1, 1, 0), (2, 1, 1, 0)], {0: _q64(1)},
                       lambda ci, r, c: [0] * 64)
    meta = decode_media(two)
    assert meta["width"] == 8 and meta["px_sum"] is None

    # (c) non-integer sampling ratio (3x1 luma over 2x1 chroma)
    odd = _encode_jpeg(24, 8, [(1, 3, 1, 0), (2, 2, 1, 0), (3, 1, 1, 0)],
                       {0: _q64(1)}, lambda ci, r, c: [0] * 64)
    meta = decode_media(odd)
    assert meta["width"] == 24 and meta["px_sum"] is None


def test_jpeg_dc_refinement_ignores_dc_table_selector():
    """T.81 ignores the DC table selector in refinement passes; a scan
    header carrying an undefined Td there must still decode (review r10:
    the table lookup was unconditional and raised KeyError)."""
    import struct

    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
        decode_media,
    )

    w, h = 16, 8
    comps = [(1, 1, 1, 0)]
    qts = {0: _q64(1)}
    prog = bytearray(
        _ProgEncoder(w, h, comps, qts, _coefs, dc_al=1, ac_al=0,
                     bands=((1, 63),)).encode()
    )
    # find the SECOND SOS (the DC refinement scan) and point Td at table 9
    first = prog.find(b"\xff\xda")
    second = prog.find(b"\xff\xda", first + 2)
    assert second > 0
    # SOS layout: FFDA len(2) ns cid tdta ...: tdta at second+6
    assert prog[second + 5] == 1  # component id
    prog[second + 6] = 0x90       # Td=9 (undefined), Ta=0
    _, _, _, pxp = _jpeg_decode_pixels(bytes(prog))
    _, _, _, pxb = _jpeg_decode_pixels(
        _encode_jpeg(w, h, comps, qts, _coefs)
    )
    assert (pxp == pxb).all()
    assert decode_media(bytes(prog))["px_sum"] == int(
        pxb.astype("int64").sum()
    )


def test_metadata_tier_skips_content_decode(monkeypatch):
    """r11 (the r10 weak item): want_pixels=False is the METADATA tier —
    container headers are walked but the expensive content decode (JPEG
    entropy decode, PNG inflate+unfilter, WAV PCM sum) is NEVER attempted.
    Pinned with counting hooks, not timing: a metadata scan over billions
    of objects must not pay a guaranteed-to-fail decode per payload."""
    from projet_data_engineering_spark.operators import multimodal as mm

    calls = {"jpeg": 0, "png": 0}
    real_jpeg = mm._jpeg_decode_pixels
    real_unfilter = mm._png_unfilter

    def count_jpeg(b):
        calls["jpeg"] += 1
        return real_jpeg(b)

    def count_unfilter(*a, **kw):
        calls["png"] += 1
        return real_unfilter(*a, **kw)

    monkeypatch.setattr(mm, "_jpeg_decode_pixels", count_jpeg)
    monkeypatch.setattr(mm, "_png_unfilter", count_unfilter)

    jpeg = _encode_jpeg(12, 9, [(1, 1, 1, 0)], {0: _q64(1)}, _coefs)
    meta = mm.decode_media(jpeg, want_pixels=False)
    assert (meta["width"], meta["height"], meta["bit_depth"]) == (12, 9, 8)
    assert meta["px_sum"] is None
    assert calls["jpeg"] == 0

    png, want_sum = _png(6, 5, channels=1)
    meta = mm.decode_media(png, want_pixels=False)
    assert (meta["width"], meta["height"]) == (6, 5)
    assert meta["px_sum"] is None
    assert calls["png"] == 0

    import struct

    samples = b"".join(struct.pack("<h", s) for s in (7, -9, 100))
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    data = b"data" + struct.pack("<I", len(samples)) + samples
    body = b"WAVE" + fmt + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    meta = mm.decode_media(wav, want_pixels=False)
    assert meta["sample_sum"] is None
    assert meta["duration_ms"] == len(samples) * 1000 // 16000

    # the default tier still decodes everything, through the same hooks
    assert mm.decode_media(jpeg)["px_sum"] is not None
    assert mm.decode_media(png)["px_sum"] == want_sum
    assert mm.decode_media(wav)["sample_sum"] == 98
    assert calls == {"jpeg": 1, "png": 1}


def test_jpeg_huge_header_caps_allocation():
    """r11 advice: a corrupt/adversarial SOF declaring 65500x65500 must
    raise at the header — BEFORE any coefficient allocation — not attempt
    a multi-GB alloc that OOMs the executor. The metadata walk still
    decodes the declared dims via the opportunistic fallback."""
    import pytest

    from projet_data_engineering_spark.operators.multimodal import (
        _jpeg_decode_pixels,
        decode_media,
    )

    b = _jpeg(65500, 65500)  # SOF-only marker stream, huge declared dims
    with pytest.raises(NotImplementedError, match="larger than"):
        _jpeg_decode_pixels(b)
    meta = decode_media(b)  # pixel attempt falls back to metadata
    assert (meta["width"], meta["height"]) == (65500, 65500)
    assert meta["px_sum"] is None
