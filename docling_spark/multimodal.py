"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct.
The Spark-side plumbing (schemas, batch shape, partition safety) is real
and tested. REAL decoders (pure stdlib + numpy, no codec libraries):

- PNG full pixel decode (:func:`decode_png_pixels` - zlib inflate +
  unfilter; all color types, bit depths 1-16) feeding a real
  mean-luminance feature;
- JPEG full pixel decode, baseline-sequential AND progressive
  (:func:`decode_jpeg_pixels` - Huffman entropy decode + numpy
  dequant/IDCT/upsample/YCbCr; SOF0/SOF1/SOF2 with spectral selection
  + successive approximation, 4:4:4/4:2:2/4:2:0, restart markers)
  plus a matching minimal baseline encoder
  (:func:`encode_jpeg_baseline`);
- image dimensions for PNG/GIF/BMP/JPEG/TIFF/WebP headers
  (:func:`decode_image_header`);
- WAV duration/sample-rate (:func:`decode_wav_header`).

BMP truecolor/paletted and baseline TIFF (none/LZW/PackBits, gray/
RGB/palette/bilevel) pixels decode too (:func:`decode_bmp_pixels`,
:func:`decode_tiff_pixels`); ``_fake_decode`` remains only for WebP
pixel decode and raw a/v sample decode - those codec libs are absent from this container; swap
in PIL/av in production, the dataflow is unchanged.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),      # image | audio | video
    StructField("payload", BinaryType(), True),
    StructField("mime", StringType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("byte_len", LongType(), False),
    StructField("sha256", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_s", DoubleType(), True),
    StructField("feature_v0", DoubleType(), True),
])

HAVE_PIL = False
try:  # decode libs are optional; plumbing works without them
    import PIL  # noqa: F401
    HAVE_PIL = True
except ImportError:
    pass


def decode_image_header(payload: bytes):
    """Real (width, height, format) from image container headers.

    Pure stdlib byte parsing - PNG IHDR, GIF logical screen descriptor,
    BMP BITMAPINFOHEADER, JPEG SOFn frame header. Returns None for
    anything unrecognized/truncated (caller falls back to the stub).
    """
    import struct
    if len(payload) < 12:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) >= 24 and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            return (w, h, "png")
        return None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h, "gif")
    if payload[:2] == b"BM" and len(payload) >= 26:
        hdr_size = struct.unpack("<I", payload[14:18])[0]
        if hdr_size >= 40:  # BITMAPINFOHEADER and later
            w, h = struct.unpack("<ii", payload[18:26])
            return (w, abs(h), "bmp")
        if hdr_size == 12 and len(payload) >= 22:  # BITMAPCOREHEADER
            w, h = struct.unpack("<HH", payload[18:22])
            return (w, h, "bmp")
        return None
    if payload[:2] == b"\xff\xd8":  # JPEG: scan markers for SOFn
        i = 2
        n = len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker in (0xD9, 0xDA, 0x00):
                # EOI / SOS / byte-stuffed 0xFF00: past the marker segments.
                # A well-formed frame places SOFn before SOS, so if we got
                # here without one the dimensions are unknowable — walking
                # into entropy-coded data would read bogus segment lengths.
                return None
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            if (0xC0 <= marker <= 0xCF
                    and marker not in (0xC4, 0xC8, 0xCC)):
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                return (w, h, "jpeg")
            i += 2 + seg_len
        return None
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_dims(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        fourcc = payload[12:16]
        if fourcc == b"VP8 " and len(payload) >= 30:
            if payload[23:26] == b"\x9d\x01\x2a":
                w = struct.unpack("<H", payload[26:28])[0] & 0x3FFF
                h = struct.unpack("<H", payload[28:30])[0] & 0x3FFF
                return (w, h, "webp")
            return None
        if fourcc == b"VP8L" and len(payload) >= 25:
            if payload[20] != 0x2F:
                return None
            bits = struct.unpack("<I", payload[21:25])[0]
            return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "webp")
        if fourcc == b"VP8X" and len(payload) >= 30:
            w = int.from_bytes(payload[24:27], "little") + 1
            h = int.from_bytes(payload[27:30], "little") + 1
            return (w, h, "webp")
        return None
    return None


def _tiff_dims(payload: bytes):
    """TIFF IFD0 ImageWidth(256)/ImageLength(257) - stdlib byte walk."""
    import struct
    le = payload[:2] == b"II"
    fmt = "<" if le else ">"
    try:
        ifd_off = struct.unpack(fmt + "I", payload[4:8])[0]
        n = struct.unpack(fmt + "H", payload[ifd_off:ifd_off + 2])[0]
        w = h = None
        for i in range(min(n, 512)):
            e = payload[ifd_off + 2 + 12 * i: ifd_off + 14 + 12 * i]
            tag, typ = struct.unpack(fmt + "HH", e[:4])
            if typ == 3:    # SHORT
                val = struct.unpack(fmt + "H", e[8:10])[0]
            elif typ == 4:  # LONG
                val = struct.unpack(fmt + "I", e[8:12])[0]
            else:
                continue
            if tag == 256:
                w = val
            elif tag == 257:
                h = val
        if w and h:
            return (w, h, "tiff")
    except (struct.error, IndexError):
        pass
    return None


def decode_png_pixels(payload: bytes):
    """REAL PNG pixel decode: stdlib zlib inflate + numpy unfilter.

    Returns (height, width, channels) uint8 numpy array, or None when the
    frame is unsupported (Adam7 interlace) or damaged - the caller falls
    back to header-only features. Handles bit depths 1/2/4/8/16 and color
    types 0 (gray), 2 (rgb), 3 (palette), 4 (gray+alpha), 6 (rgba).
    """
    import struct
    import zlib

    import numpy as np
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    idat = []
    ihdr = None
    plte = None
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        chunk = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk[:13])
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"PLTE":
            plte = np.frombuffer(chunk, dtype=np.uint8)
            plte = plte[:3 * (len(plte) // 3)].reshape(-1, 3)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        return None
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if interlace != 0 or width == 0 or height == 0:
        return None
    if width * height > 64_000_000:
        return None  # decompression-bomb guard
    nchan = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if nchan is None or depth not in (1, 2, 4, 8, 16):
        return None
    try:
        rawdat = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = max(1, (nchan * depth) // 8)
    stride = (width * nchan * depth + 7) // 8
    if len(rawdat) < height * (stride + 1):
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    raw = np.frombuffer(rawdat[:height * (stride + 1)],
                        dtype=np.uint8).reshape(height, stride + 1)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = raw[y, 0]
        row = raw[y, 1:].astype(np.int32)
        if ft == 0:
            rec = row
        elif ft == 2:  # Up
            rec = (row + prev) & 0xFF
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int32)
            pr = prev.astype(np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                if ft == 1:
                    rec[x] = (row[x] + a) & 0xFF
                elif ft == 3:
                    rec[x] = (row[x] + ((a + pr[x]) >> 1)) & 0xFF
                else:
                    c = pr[x - bpp] if x >= bpp else 0
                    pp = a + pr[x] - c
                    pa, pb, pc = abs(pp - a), abs(pp - pr[x]), abs(pp - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        pr[x] if pb <= pc else c)
                    rec[x] = (row[x] + pred) & 0xFF
        else:
            return None
        out[y] = rec.astype(np.uint8)
        prev = out[y]
    # unpack bit depths to per-channel uint8
    if depth == 8:
        px = out[:, :width * nchan].reshape(height, width, nchan)
    elif depth == 16:
        px = out.reshape(height, -1)[:, :width * nchan * 2]
        px = px.reshape(height, width * nchan, 2)[:, :, 0]  # high byte
        px = px.reshape(height, width, nchan)
    else:
        bits = np.unpackbits(out, axis=1)
        vals = bits.reshape(height, -1, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
        arr = (vals * weights).sum(axis=2)[:, :width * nchan]
        scale = 255 // ((1 << depth) - 1) if color != 3 else 1
        px = (arr * scale).astype(np.uint8).reshape(height, width, nchan)
    if color == 3:
        if plte is None:
            return None
        idx = np.clip(px[:, :, 0], 0, len(plte) - 1)
        px = plte[idx]
    return px


# ---------------------------------------------------- baseline JPEG codec
# REAL baseline-sequential JPEG (ITU-T T.81) decode from scratch:
# stdlib marker walk + pure-Python Huffman entropy decode + numpy
# dequant/IDCT/upsample/YCbCr. The reference consumes image pixels via
# PIL throughout (docling/backend/*, PIL.Image.open); this is the
# no-external-codec equivalent for the dominant crawl image format.
# Progressive (SOF2), arithmetic coding, 12-bit precision, and lossless
# modes return None and fall back to header-only features.

def _zigzag_order():
    """Natural (row-major) index for each zigzag scan position,
    generated by the diagonal walk rather than transcribed."""
    order = []
    for s in range(15):
        rs = range(max(0, s - 7), min(s, 7) + 1)       # ascending r
        if s % 2 == 0:
            rs = reversed(rs)                          # descending r
        order.extend(r * 8 + (s - r) for r in rs)
    return order


_ZZ = _zigzag_order()

_IDCT_C = None


def _dct_matrix():
    """Orthonormal 8x8 DCT-II basis C: spatial = C.T @ coef @ C."""
    global _IDCT_C
    if _IDCT_C is None:
        import numpy as np
        x = np.arange(8)
        c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
        c *= np.sqrt(2.0 / 8.0)
        c[0] /= np.sqrt(2.0)
        _IDCT_C = c
    return _IDCT_C


class _JpegError(Exception):
    pass


def _build_huff(counts, symbols):
    """DHT (counts per length 1..16, symbol list) -> (lut, codes):
    ``lut`` resolves any code of length <= 8 from the next 8 bits in
    one list index (the overwhelmingly common case - one lookup per
    symbol instead of a per-bit walk); ``codes`` is the {(len, code):
    sym} dict for the 9..16-bit tail."""
    codes = {}
    code = 0
    k = 0
    lut = [None] * 256
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            codes[(ln, code)] = symbols[k]
            if ln <= 8:
                base = code << (8 - ln)
                for b in range(base, base + (1 << (8 - ln))):
                    lut[b] = (symbols[k], ln)
            code += 1
            k += 1
        code <<= 1
    return lut, codes


class _BitReader:
    """MSB-first bit reader over an UNSTUFFED entropy segment, with a
    byte-fed accumulator: symbols resolve via one 8-bit LUT index and
    value bits via one shift+mask (the entropy loop is the decoder's
    single Python-side hot loop)."""

    __slots__ = ("d", "n", "pos", "acc", "bits")

    def __init__(self, data: bytes):
        self.d = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.bits = 0

    def _fill(self):
        d, pos, n = self.d, self.pos, self.n
        acc, bits = self.acc, self.bits
        while bits <= 16 and pos < n:
            acc = (acc << 8) | d[pos]
            pos += 1
            bits += 8
        self.acc, self.bits, self.pos = acc, bits, pos

    def receive(self, t: int) -> int:
        if t == 0:
            return 0
        if self.bits < t:
            self._fill()
            if self.bits < t:
                raise _JpegError("bitstream exhausted")
        self.bits -= t
        v = (self.acc >> self.bits) & ((1 << t) - 1)
        self.acc &= (1 << self.bits) - 1
        return v

    def huff(self, table) -> int:
        if self.bits < 16:
            self._fill()
        avail = self.bits
        if avail == 0:
            raise _JpegError("bitstream exhausted")
        lut, codes = table
        if avail >= 8:
            hit = lut[(self.acc >> (avail - 8)) & 0xFF]
        else:
            hit = lut[(self.acc << (8 - avail)) & 0xFF]
        if hit is not None:
            sym, ln = hit
            if ln <= avail:
                self.bits = avail - ln
                self.acc &= (1 << self.bits) - 1
                return sym
        for ln in range(9, 17):
            if ln > avail:
                break
            sym = codes.get((ln, self.acc >> (avail - ln)))
            if sym is not None:
                self.bits = avail - ln
                self.acc &= (1 << self.bits) - 1
                return sym
        raise _JpegError("invalid huffman code")


def decode_jpeg_pixels(payload: bytes):
    """JPEG -> (height, width, channels) uint8 numpy array (channels
    3 = RGB via JFIF YCbCr, 1 = grayscale), or None when the frame is
    out of the huffman envelope (arithmetic coding, 12-bit, lossless,
    hierarchical) or damaged.

    Baseline/extended sequential (SOF0/SOF1) AND progressive (SOF2:
    spectral selection + successive approximation, DC and AC first +
    refinement scans, EOB runs) are fully decoded. Supports arbitrary
    h/v sampling factors with integer upsample ratios (4:4:4, 4:2:2,
    4:2:0, 4:1:1), restart intervals, per-scan huffman table
    redefinition, and 16-bit quantizer precision. The entropy loop is
    pure Python (the one hot loop); dequant, IDCT (batched BLAS
    matmuls), upsampling, and color conversion are vectorized numpy -
    at crawl scale this runs Arrow-batched inside ``mapInPandas`` like
    every other media decoder here.
    """
    import struct

    import numpy as np
    if payload[:2] != b"\xff\xd8":
        return None
    try:
        qt: dict = {}
        huff_dc: dict = {}
        huff_ac: dict = {}
        frame = None
        progressive = False
        dri = 0
        pos = 2
        n = len(payload)
        scans = []
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                return None
            m = payload[pos + 1]
            if m == 0xD9:  # EOI
                break
            if m == 0x01 or 0xD0 <= m <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            seg = payload[pos + 4:pos + 2 + seglen]
            if m == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    i += 1
                    if pq:
                        vals = struct.unpack(f">64H", seg[i:i + 128])
                        i += 128
                    else:
                        vals = seg[i:i + 64]
                        i += 64
                    tab = np.zeros(64, dtype=np.int32)
                    for z, v in enumerate(vals):
                        tab[_ZZ[z]] = v
                    qt[tq] = tab
            elif m == 0xC4:  # DHT (tables may be redefined between scans)
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    counts = seg[i + 1:i + 17]
                    nsym = sum(counts)
                    syms = seg[i + 17:i + 17 + nsym]
                    (huff_dc if tc == 0 else huff_ac)[th] = _build_huff(
                        counts, syms)
                    i += 17 + nsym
            elif m in (0xC0, 0xC1, 0xC2):  # huffman sequential/progressive
                prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
                if prec != 8 or fw == 0 or fh == 0 or nc not in (1, 3):
                    return None
                if fw * fh > 64_000_000:
                    return None  # decompression-bomb guard
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                    comps.append([cid, hv >> 4, hv & 15, tq])
                frame = (fw, fh, comps)
                progressive = m == 0xC2
            elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                       0xCD, 0xCE, 0xCF):
                return None  # arithmetic/lossless/hierarchical
            elif m == 0xDD:  # DRI
                (dri,) = struct.unpack(">H", seg[:2])
            elif m == 0xDA:  # SOS
                ns = seg[0]
                sel = []
                for c in range(ns):
                    cs, tt = seg[1 + 2 * c:3 + 2 * c]
                    sel.append((cs, tt >> 4, tt & 15))
                ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
                # entropy data runs to the next real marker
                data_at = pos + 2 + seglen
                end = data_at
                while end + 1 < n:
                    if payload[end] == 0xFF and payload[end + 1] != 0x00 \
                            and not (0xD0 <= payload[end + 1] <= 0xD7):
                        break
                    end += 1
                # per-scan snapshots: tables/DRI can change between scans
                scans.append((sel, payload[data_at:end], ss, se,
                              ahal >> 4, ahal & 15, dict(huff_dc),
                              dict(huff_ac), dri))
                pos = end
                continue
            pos += 2 + seglen
        if frame is None or not scans:
            return None
        if progressive:
            return _jpeg_progressive(frame, scans, qt)
        sel, data, _, _, _, _, hdc, hac, sdri = scans[0]
        return _jpeg_reconstruct(frame, (sel, data), qt, hdc, hac, sdri)
    except (_JpegError, IndexError, ValueError, KeyError,
            struct.error):
        return None


def _jpeg_reconstruct(frame, scan, qt, huff_dc, huff_ac, dri):
    import numpy as np
    fw, fh, comps = frame
    sel, data = scan
    if len(sel) != len(comps):
        return None  # multi-scan sequential not supported
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        return None
    for c in comps:
        if c[1] == 0 or c[2] == 0 or hmax % c[1] or vmax % c[2]:
            return None
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    order = []
    for cs, td, ta in sel:
        c = by_id.get(cs)
        if c is None or td not in huff_dc or ta not in huff_ac \
                or c[3] not in qt:
            return None
        order.append((c, huff_dc[td], huff_ac[ta], qt[c[3]]))
    interleaved = len(sel) > 1
    # coefficient stores: one flat Python list per component (RAW
    # values - dequant is one vectorized multiply later; list setitem
    # is ~10x cheaper than numpy scalar setitem in the entropy loop)
    store = {}
    n_blocks = {}
    for c in comps:
        if interleaved:
            bw, bh = mcux * c[1], mcuy * c[2]
        else:
            bw, bh = -(-fw // 8), -(-fh // 8)
        n_blocks[c[0]] = bh * bw
        store[c[0]] = [0] * (bh * bw * 64)
    # restart segments: unstuff each independently, reset DC preds
    if dri:
        segs = []
        s = 0
        i = 0
        nd = len(data)
        while i + 1 < nd:
            if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
                segs.append(data[s:i])
                s = i + 2
                i += 2
            else:
                i += 1
        segs.append(data[s:])
    else:
        segs = [data]
    n_mcu = (mcux * mcuy if interleaved else n_blocks[sel[0][0]])
    mcu = 0
    decoded_any = False
    # a damaged/truncated entropy stream renders the MCUs decoded so
    # far (libjpeg-style partial decode) - crawl payloads are often
    # cut mid-transfer and the intact top of the image is still signal
    try:
        for seg in segs:
            rd = _BitReader(seg.replace(b"\xff\x00", b"\xff"))
            preds = {c[0]: 0 for c in comps}
            limit = min(n_mcu, mcu + dri) if dri else n_mcu
            while mcu < limit:
                if interleaved:
                    my, mx = divmod(mcu, mcux)
                    for c, tdc, tac, _q in order:
                        cid, ch, cv, _ = c
                        out = store[cid]
                        for v in range(cv):
                            for hh in range(ch):
                                bi = ((my * cv + v) * (mcux * ch)
                                      + mx * ch + hh)
                                preds[cid] = _decode_block(
                                    rd, out, bi * 64, tdc, tac,
                                    preds[cid])
                else:
                    c, tdc, tac, _q = order[0]
                    preds[c[0]] = _decode_block(
                        rd, store[c[0]], mcu * 64, tdc, tac,
                        preds[c[0]])
                mcu += 1
                decoded_any = True
            if mcu >= n_mcu:
                break
    except _JpegError:
        if not decoded_any:
            return None
    dims = {}
    for c in comps:
        if interleaved:
            dims[c[0]] = (mcux * c[1], mcuy * c[2])
        else:
            dims[c[0]] = (-(-fw // 8), -(-fh // 8))
    return _jpeg_finish(frame, store, dims, qt, hmax, vmax)


def _jpeg_finish(frame, store, dims, qt, hmax, vmax):
    """Coefficient stores -> pixels: vectorized dequant, batched-matmul
    IDCT, plane assembly, chroma upsample, YCbCr->RGB."""
    import numpy as np
    fw, fh, comps = frame
    C = _dct_matrix()
    planes = {}
    qn = {c[0]: qt[c[3]].astype(np.float64) for c in comps}
    for c in comps:
        cid, ch, cv, _ = c
        coefs = (np.asarray(store[cid], dtype=np.float64)
                 .reshape(-1, 64) * qn[cid][None, :]).reshape(-1, 8, 8)
        # separable IDCT as two big BLAS matmuls: S = C.T @ X @ C
        nb = coefs.shape[0]
        y = (coefs.reshape(-1, 8) @ C).reshape(nb, 8, 8)
        y = (y.transpose(0, 2, 1).reshape(-1, 8) @ C).reshape(nb, 8, 8)
        spatial = y.transpose(0, 2, 1)
        px = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
        bw, bh = dims[cid]
        plane = (px.reshape(bh, bw, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
        cw, chh = -(-fw * ch // hmax), -(-fh * cv // vmax)
        plane = plane[:chh, :cw]
        plane = np.repeat(np.repeat(plane, vmax // cv, axis=0),
                          hmax // ch, axis=1)
        planes[cid] = plane[:fh, :fw]
    if len(comps) == 1:
        return planes[comps[0][0]][:, :, None]
    y = planes[comps[0][0]].astype(np.float64)
    cb = planes[comps[1][0]].astype(np.float64) - 128.0
    cr = planes[comps[2][0]].astype(np.float64) - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _split_restarts(data: bytes, dri: int):
    """Entropy data -> restart segments (one when dri == 0)."""
    if not dri:
        return [data]
    segs = []
    s = 0
    i = 0
    nd = len(data)
    while i + 1 < nd:
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
            segs.append(data[s:i])
            s = i + 2
            i += 2
        else:
            i += 1
    segs.append(data[s:])
    return segs


def _jpeg_progressive(frame, scans, qt):
    """Progressive (SOF2) reconstruction: every scan deposits spectral
    bands / precision bits into shared per-component coefficient
    stores (T.81 G.1.2 semantics: DC first/refine, AC first with EOB
    runs, AC refine with correction bits), then one shared finish.
    Stores are MCU-padded so interleaved DC scans and non-interleaved
    AC scans (component raster order over ceil(comp/8) dims, stride =
    padded width) address the same blocks."""
    fw, fh, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        return None
    for c in comps:
        if c[1] == 0 or c[2] == 0 or hmax % c[1] or vmax % c[2]:
            return None
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    one = len(comps) == 1
    store = {}
    dims = {}
    for c in comps:
        bw, bh = ((-(-fw // 8), -(-fh // 8)) if one
                  else (mcux * c[1], mcuy * c[2]))
        dims[c[0]] = (bw, bh)
        store[c[0]] = [0] * (bw * bh * 64)
    first_scan = True
    for sel, data, ss, se, ah, al, hdc, hac, dri in scans:
        if not sel:
            return None
        is_dc = ss == 0
        if is_dc and se != 0:
            return None  # DC scans carry only coefficient 0
        if not is_dc and len(sel) != 1:
            return None  # spec: AC scans are single-component
        segs = _split_restarts(data, dri)
        try:
            _jpeg_progressive_scan(
                frame, store, dims, by_id, one, mcux, mcuy, hmax, vmax,
                sel, segs, ss, se, ah, al, hdc, hac, dri)
        except _JpegError:
            # a damaged/truncated scan renders what earlier scans
            # deposited (progressive streams degrade gracefully);
            # nothing decoded at all -> undecodable
            if first_scan:
                return None
            break
        except _JpegBadScan:
            return None
        first_scan = False
    return _jpeg_finish(frame, store, dims, qt, hmax, vmax)


class _JpegBadScan(Exception):
    pass


def _jpeg_progressive_scan(frame, store, dims, by_id, one, mcux, mcuy,
                           hmax, vmax, sel, segs, ss, se, ah, al,
                           hdc, hac, dri):
    fw, fh, comps = frame
    is_dc = ss == 0
    if is_dc and len(sel) > 1:
        # interleaved DC scan over MCUs
        order = []
        for cs, td, _ta in sel:
            c = by_id.get(cs)
            if c is None or (ah == 0 and td not in hdc):
                raise _JpegBadScan()
            order.append((c, hdc.get(td)))
        n_mcu = mcux * mcuy
        mcu = 0
        for seg in segs:
            rd = _BitReader(seg.replace(b"\xff\x00", b"\xff"))
            preds = {c[0]: 0 for c in comps}
            limit = min(n_mcu, mcu + dri) if dri else n_mcu
            while mcu < limit:
                my, mx = divmod(mcu, mcux)
                for c, tdc in order:
                    cid, ch, cv, _ = c
                    out = store[cid]
                    stride = dims[cid][0]
                    for v in range(cv):
                        for hh in range(ch):
                            bi = ((my * cv + v) * stride
                                  + mx * ch + hh)
                            preds[cid] = _dc_scan_block(
                                rd, out, bi * 64, tdc, ah, al,
                                preds[cid])
                mcu += 1
            if mcu >= n_mcu:
                break
        return
    # single-component scan (DC or AC), component raster order
    cs, td, ta = sel[0]
    c = by_id.get(cs)
    if c is None:
        raise _JpegBadScan()
    cid, ch, cv, _ = c
    stride = dims[cid][0]
    cw = -(-fw * ch // hmax)   # component samples
    chh = -(-fh * cv // vmax)
    cbw, cbh = -(-cw // 8), -(-chh // 8)  # non-interleaved blocks
    if one:
        cbw, cbh = dims[cid]
    n_units = cbw * cbh
    tdc = hdc.get(td)
    tac = hac.get(ta)
    if is_dc and ah == 0 and tdc is None:
        raise _JpegBadScan()
    if not is_dc and tac is None:
        raise _JpegBadScan()
    out = store[cid]
    unit = 0
    eobrun = 0
    for seg in segs:
        rd = _BitReader(seg.replace(b"\xff\x00", b"\xff"))
        pred = 0
        eobrun = 0
        limit = min(n_units, unit + dri) if dri else n_units
        while unit < limit:
            by, bx = divmod(unit, cbw)
            base = (by * stride + bx) * 64
            if is_dc:
                pred = _dc_scan_block(rd, out, base, tdc, ah, al,
                                      pred)
            elif ah == 0:
                eobrun = _ac_first_block(rd, out, base, tac, ss,
                                         se, al, eobrun)
            else:
                eobrun = _ac_refine_block(rd, out, base, tac, ss,
                                          se, al, eobrun)
            unit += 1
        if unit >= n_units:
            break


def _dc_scan_block(rd, out, base, tdc, ah, al, pred):
    """DC coefficient for one block: first scan (ah==0) decodes the
    diff at reduced precision (<< al); refinement appends one bit
    (arithmetic-shift residuals are non-negative, so OR-ing is
    adding)."""
    if ah == 0:
        t = rd.huff(tdc)
        if t:
            v = rd.receive(t)
            pred += v - (1 << t) + 1 if v < (1 << (t - 1)) else v
        out[base] = pred << al
        return pred
    if rd.receive(1):
        out[base] |= 1 << al
    return pred


def _ac_first_block(rd, out, base, tac, ss, se, al, eobrun):
    """AC band, first scan (T.81 G.1.2.2): run-length values at
    reduced precision plus EOBn run codes spanning whole blocks."""
    if eobrun > 0:
        return eobrun - 1
    zz = _ZZ
    k = ss
    while k <= se:
        rs = rd.huff(tac)
        s = rs & 15
        r = rs >> 4
        if s == 0:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += rd.receive(r)
                return eobrun - 1
            k += 16
            continue
        k += r
        if k > se:
            raise _JpegError("AC index overflow")
        v = rd.receive(s)
        out[base + zz[k]] = (v - (1 << s) + 1
                             if v < (1 << (s - 1)) else v) << al
        k += 1
    return 0


def _ac_refine_block(rd, out, base, tac, ss, se, al, eobrun):
    """AC band refinement (T.81 G.1.2.3 / the libjpeg-documented
    algorithm): already-nonzero coefficients receive correction bits;
    new coefficients arrive as +-1<<al; EOB runs sweep correction bits
    across the remaining band."""
    zz = _ZZ
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.huff(tac)
            s = rs & 15
            r = rs >> 4
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.receive(r)
                    break
                # r == 15: pass 16 zero-history coefficients
            else:
                val = p1 if rd.receive(1) else m1
            while k <= se:
                cur = out[base + zz[k]]
                if cur != 0:
                    if rd.receive(1) and not (cur & p1):
                        out[base + zz[k]] = cur + (p1 if cur >= 0
                                                   else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                out[base + zz[k]] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            cur = out[base + zz[k]]
            if cur != 0:
                if rd.receive(1) and not (cur & p1):
                    out[base + zz[k]] = cur + (p1 if cur >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_block(rd, out, base, tdc, tac, pred):
    """One 8x8 block: DC diff + AC run-length into natural order at
    ``out[base:base+64]`` (raw, pre-dequant). Returns the new DC
    predictor. EXTEND is inlined - this is the decoder's hot loop."""
    t = rd.huff(tdc)
    if t:
        v = rd.receive(t)
        pred += v - (1 << t) + 1 if v < (1 << (t - 1)) else v
    out[base] = pred
    k = 1
    zz = _ZZ
    while k < 64:
        rs = rd.huff(tac)
        s = rs & 15
        if s == 0:
            if rs != 0xF0:
                break
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise _JpegError("AC index overflow")
        v = rd.receive(s)
        out[base + zz[k]] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
        k += 1
    return pred


def _rgb_to_ycbcr_int(r, g, b):
    """JFIF forward color transform on ONE pixel, with the same
    rounding the encoder applies - shared with the oracle builder so
    expected fixture features are derived analytically."""
    y = round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    clip = lambda v: max(0, min(255, v))
    return clip(y), clip(cb), clip(cr)


def _ycbcr_to_rgb_int(y, cb, cr):
    """JFIF inverse transform on ONE pixel with the decoder's rounding."""
    r = round(y + 1.402 * (cr - 128))
    g = round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    b = round(y + 1.772 * (cb - 128))
    clip = lambda v: max(0, min(255, v))
    return clip(r), clip(g), clip(b)


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def pad(self):
        while self.nbits:
            self.write(1, 1)


def encode_jpeg_baseline(px, subsampling: str = "444",
                         quant=None, restart_interval: int = 0) -> bytes:
    """Minimal baseline JPEG ENCODER (test-fixture + sink utility).

    ``px``: (h, w) or (h, w, 1) grayscale, or (h, w, 3) RGB uint8.
    ``subsampling``: "444" or "420". ``quant``: 64 ints in natural
    order for BOTH tables (default all-ones - near-lossless, and
    EXACTLY lossless for per-8x8-flat content, which is what makes the
    media-fixture oracle analytic). Huffman tables are canonical
    two-pass tables built from the actual symbol census (valid DHT;
    the decoder reads whatever DHT declares, so Annex-K defaults are
    unnecessary). ``restart_interval`` emits DRI + RSTn markers.
    """
    import struct

    import numpy as np
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    if nch not in (1, 3):
        raise ValueError("grayscale or RGB input only")
    q = np.ones(64, dtype=np.int32) if quant is None else \
        np.asarray(quant, dtype=np.int32).reshape(64)
    if nch == 3:
        fr = px.astype(np.float64)
        y = np.round(0.299 * fr[:, :, 0] + 0.587 * fr[:, :, 1]
                     + 0.114 * fr[:, :, 2])
        cb = np.round(128 - 0.168736 * fr[:, :, 0]
                      - 0.331264 * fr[:, :, 1] + 0.5 * fr[:, :, 2])
        cr = np.round(128 + 0.5 * fr[:, :, 0] - 0.418688 * fr[:, :, 1]
                      - 0.081312 * fr[:, :, 2])
        planes = [np.clip(p, 0, 255) for p in (y, cb, cr)]
        if subsampling == "420":
            sampling = [(2, 2), (1, 1), (1, 1)]
            for i in (1, 2):
                p = planes[i]
                # pad odd edges by replication before the 2x2 box mean
                if p.shape[0] % 2:
                    p = np.vstack([p, p[-1:]])
                if p.shape[1] % 2:
                    p = np.hstack([p, p[:, -1:]])
                planes[i] = np.round(
                    (p[0::2, 0::2] + p[0::2, 1::2]
                     + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0)
        elif subsampling == "444":
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError("subsampling must be 444 or 420")
    else:
        planes = [px[:, :, 0].astype(np.float64)]
        sampling = [(1, 1)]
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    C = _dct_matrix()
    comp_blocks = []
    for p, (sh, sv) in zip(planes, sampling):
        bw, bh = mcux * sh, mcuy * sv
        full = np.empty((bh * 8, bw * 8), dtype=np.float64)
        ph, pw = p.shape
        full[:ph, :pw] = p
        full[ph:, :pw] = p[-1:, :]            # edge-replicate pad
        full[:, pw:] = full[:, pw - 1:pw]
        blocks = (full.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8) - 128.0)
        coefs = np.einsum("ij,njk,kl->nil", C, blocks, C.T)
        qz = np.round(coefs.reshape(-1, 64) / q[None, :]
                      .astype(np.float64)).astype(np.int32)
        comp_blocks.append((qz, sh, sv, bw))

    def mag(v):
        t = 0
        a = abs(v)
        while a:
            t += 1
            a >>= 1
        return t

    # pass 1: census of DC/AC symbols; pass 2: emit
    zz = _ZZ

    def block_symbols(blk, pred, dc_syms, ac_syms, emit=None):
        diff = int(blk[0]) - pred
        t = mag(diff)
        dc_syms[t] = dc_syms.get(t, 0) + 1
        if emit:
            wtr, dct, act = emit
            code, ln = dct[t]
            wtr.write(code, ln)
            if t:
                wtr.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        run = 0
        last = 0
        for k in range(63, 0, -1):
            if blk[zz[k]]:
                last = k
                break
        for k in range(1, last + 1):
            v = int(blk[zz[k]])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms[0xF0] = ac_syms.get(0xF0, 0) + 1
                if emit:
                    code, ln = emit[2][0xF0]
                    emit[0].write(code, ln)
                run -= 16
            s = mag(v)
            sym = (run << 4) | s
            ac_syms[sym] = ac_syms.get(sym, 0) + 1
            if emit:
                code, ln = emit[2][sym]
                emit[0].write(code, ln)
                emit[0].write(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            ac_syms[0] = ac_syms.get(0, 0) + 1
            if emit:
                code, ln = emit[2][0]
                emit[0].write(code, ln)
        return int(blk[0])

    n_comp = len(comp_blocks)
    tbl_of = [0] + [1] * (n_comp - 1)   # 0 = luma, 1 = chroma tables
    dc_census = [{}, {}]
    ac_census = [{}, {}]

    def walk(emit_tables=None, wtr=None):
        preds = [0] * n_comp
        n_mcu = mcux * mcuy
        since_rst = 0
        rst = 0
        for m in range(n_mcu):
            if restart_interval and m and since_rst == restart_interval:
                if wtr is not None:
                    wtr.pad()
                    wtr.out.extend(b"\xff" + bytes([0xD0 + (rst & 7)]))
                rst += 1
                since_rst = 0
                preds = [0] * n_comp
            my, mx = divmod(m, mcux)
            for ci, (qz, sh, sv, bw8) in enumerate(comp_blocks):
                ti = tbl_of[ci]
                for v in range(sv):
                    for hh in range(sh):
                        bi = (my * sv + v) * (mcux * sh) + mx * sh + hh
                        emit = None
                        if emit_tables is not None:
                            emit = (wtr, emit_tables[0][ti],
                                    emit_tables[1][ti])
                        preds[ci] = block_symbols(
                            qz[bi], preds[ci], dc_census[ti],
                            ac_census[ti], emit)
            since_rst += 1

    walk()

    def canonical(census):
        """census -> (counts[16], symbols, {sym: (code, len)}): all
        codes get one length L = ceil(log2(n+1)) (the +1 keeps the
        all-ones code unused, as T.81 tables conventionally do)."""
        syms = sorted(census)
        if not syms:
            syms = [0]
        L = max(1, (len(syms)).bit_length())
        counts = [0] * 16
        counts[L - 1] = len(syms)
        codes = {s: (i, L) for i, s in enumerate(syms)}
        return counts, syms, codes

    dc_tabs, ac_tabs, dc_codes, ac_codes = [], [], [], []
    for ti in range(2 if n_comp > 1 else 1):
        c, s, k = canonical(dc_census[ti])
        dc_tabs.append((c, s))
        dc_codes.append(k)
        c, s, k = canonical(ac_census[ti])
        ac_tabs.append((c, s))
        ac_codes.append(k)
    # reset census (walk() fills it again during emit; values unused)
    dc_census = [{}, {}]
    ac_census = [{}, {}]
    wtr = _BitWriter()
    walk(emit_tables=(dc_codes, ac_codes), wtr=wtr)
    wtr.pad()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    zzq = bytes(int(q[zz[i]]) for i in range(64))
    for tq in range(2 if n_comp > 1 else 1):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zzq
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w,
                                     n_comp)
    for ci, (_, sh, sv, _) in enumerate(comp_blocks):
        out += bytes([ci + 1, (sh << 4) | sv, tbl_of[ci]])
    for ti in range(2 if n_comp > 1 else 1):
        for tc, (counts, syms) in ((0, dc_tabs[ti]), (1, ac_tabs[ti])):
            out += b"\xff\xc4" + struct.pack(
                ">H", 19 + len(syms)) + bytes([(tc << 4) | ti]) \
                + bytes(counts) + bytes(syms)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * n_comp, n_comp)
    for ci in range(n_comp):
        ti = tbl_of[ci]
        out += bytes([ci + 1, (ti << 4) | ti])
    out += b"\x00\x3f\x00"
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)




# ------------------------------------------------ compressed a/v probing
# Deterministic stdlib byte parses (no codec libs): mp4 mvhd duration +
# tkhd track dimensions, mp3 frame-header walk, Matroska/WebM EBML
# Duration. The reference treats audio/video as NoOp passthrough
# (ASR/video models out of scope); these probes exist so the media
# inventory carries REAL durations at crawl scale.

def probe_mp4(payload: bytes):
    """(duration_s, width, height) from an ISO-BMFF moov, or None."""
    if len(payload) < 16 or payload[4:8] not in (b"ftyp", b"moov", b"styp"):
        # also accept files whose first box isn't ftyp but contain moov
        if b"moov" not in payload[:64]:
            return None

    def boxes(buf, start, end):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos:pos + 4], "big")
            typ = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    return
                size = int.from_bytes(buf[pos + 8:pos + 16], "big")
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr:
                return
            yield typ, pos + hdr, min(pos + size, end)
            pos += size

    dur = width = height = None
    for typ, a, b in boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, a2, b2 in boxes(payload, a, b):
            if t2 == b"mvhd" and b2 - a2 >= 20:
                ver = payload[a2]
                if ver == 1 and b2 - a2 >= 28:
                    scale = int.from_bytes(payload[a2 + 20:a2 + 24], "big")
                    d = int.from_bytes(payload[a2 + 24:a2 + 32], "big")
                else:
                    scale = int.from_bytes(payload[a2 + 12:a2 + 16], "big")
                    d = int.from_bytes(payload[a2 + 16:a2 + 20], "big")
                if scale:
                    dur = d / scale
            elif t2 == b"trak":
                for t3, a3, b3 in boxes(payload, a2, b2):
                    if t3 == b"tkhd" and b3 - a3 >= 84:
                        w = int.from_bytes(payload[b3 - 8:b3 - 4],
                                           "big") / 65536.0
                        h = int.from_bytes(payload[b3 - 4:b3], "big") / 65536.0
                        if w and h:
                            width, height = int(w), int(h)
    if dur is None:
        return None
    return dur, width, height


_MP3_BITRATES = {  # kbps, MPEG1 Layer III / MPEG2(.5) Layer III columns
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320, 0),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160, 0),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def probe_mp3(payload: bytes, max_frames: int = 4096):
    """Total seconds from an MPEG audio frame walk, or None.

    Walks up to ``max_frames`` headers and extrapolates from the mean
    frame duration/size for longer payloads (bounded work per row)."""
    pos = 0
    n = len(payload)
    if payload[:3] == b"ID3" and n >= 10:
        sz = 0
        for byte in payload[6:10]:
            sz = (sz << 7) | (byte & 0x7F)
        pos = 10 + sz
    frames = 0
    seconds = 0.0
    bytes_walked_from = pos
    while pos + 4 <= n and frames < max_frames:
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xE0) != 0xE0:
            pos += 1
            continue
        b1, b2 = payload[pos + 1], payload[pos + 2]
        ver_id = (b1 >> 3) & 3        # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 3         # 3=Layer I ... 1=Layer III
        if ver_id == 1 or layer == 0:
            pos += 1
            continue
        bri = (b2 >> 4) & 0xF
        sri = (b2 >> 2) & 3
        if bri in (0, 0xF) or sri == 3:
            pos += 1
            continue
        mpeg1 = ver_id == 3
        table = _MP3_BITRATES[(1, 3) if mpeg1 else (2, 3)]
        bitrate = table[bri] * 1000
        rate = _MP3_RATES[ver_id][sri]
        pad = (b2 >> 1) & 1
        spf = 1152 if mpeg1 else 576
        flen = spf // 8 * bitrate // rate + pad
        if flen <= 4:
            pos += 1
            continue
        seconds += spf / rate
        frames += 1
        pos += flen
    if frames == 0:
        return None
    if frames >= max_frames and pos < n:
        # extrapolate the unwalked tail at the observed mean rate
        walked = pos - bytes_walked_from
        if walked > 0:
            seconds *= 1 + (n - pos) / walked
    return seconds


def _ebml_vint(buf, pos, keep_marker=True):
    """(value, next_pos) for an EBML variable-length integer."""
    if pos >= len(buf):
        return None
    first = buf[pos]
    if first == 0:
        return None
    length = 8 - first.bit_length()
    length += 1
    if pos + length > len(buf):
        return None
    val = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    return val, pos + length


def probe_mkv(payload: bytes):
    """Duration seconds from a Matroska/WebM Segment Info, or None."""
    import struct as _struct
    if payload[:4] != b"\x1aE\xdf\xa3":
        return None

    def walk(start, end, want_ids, depth=0):
        pos = start
        found = {}
        while pos < end and depth < 8:
            got = _ebml_vint(payload, pos)
            if got is None:
                return found
            eid, pos = got
            got = _ebml_vint(payload, pos, keep_marker=False)
            if got is None:
                return found
            size, pos = got
            nxt = min(pos + size, end)
            if eid in want_ids:
                found[eid] = (pos, nxt)
            if eid in (0x18538067, 0x1549A966):  # Segment, Info: descend
                found.update(walk(pos, nxt, want_ids, depth + 1))
            pos = nxt
        return found

    found = walk(0, len(payload), {0x2AD7B1, 0x4489})
    scale = 1_000_000  # default TimestampScale: 1 ms in ns
    if 0x2AD7B1 in found:
        a, b = found[0x2AD7B1]
        scale = int.from_bytes(payload[a:b], "big") or scale
    if 0x4489 not in found:
        return None
    a, b = found[0x4489]
    raw = payload[a:b]
    if len(raw) == 4:
        dur_ticks = _struct.unpack(">f", raw)[0]
    elif len(raw) == 8:
        dur_ticks = _struct.unpack(">d", raw)[0]
    else:
        return None
    return dur_ticks * scale / 1e9


def decode_wav_header(payload: bytes):
    """(duration_s, sample_rate, channels) from a RIFF/WAVE header."""
    import struct
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = bits = None
    data_len = None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        if cid == b"fmt " and length >= 16:
            _fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8:pos + 24])
        elif cid == b"data":
            data_len = length
        pos += 8 + length + (length & 1)
    if rate and channels and bits and data_len is not None:
        bytes_per_s = rate * channels * (bits // 8)
        if bytes_per_s:
            return (data_len / bytes_per_s, rate, channels)
    return None


def _fake_decode(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for decode/feature-extract.

    Derives pseudo width/height/duration from the payload hash so tests are
    stable; replace with PIL/librosa/av decode in production.
    """
    if not payload:
        return {"width": None, "height": None, "duration_s": None,
                "feature_v0": 0.0}
    h = hashlib.sha256(payload).digest()
    if kind == "image":
        return {
            "width": 64 + h[0] % 192,
            "height": 64 + h[1] % 192,
            "duration_s": None,
            "feature_v0": int.from_bytes(h[2:6], "big") / 2**32,
        }
    if kind in ("audio", "video"):
        return {
            "width": None if kind == "audio" else 320 + h[0] % 320,
            "height": None if kind == "audio" else 240 + h[1] % 240,
            "duration_s": 1.0 + (int.from_bytes(h[2:4], "big") % 600),
            "feature_v0": int.from_bytes(h[4:8], "big") / 2**32,
        }
    raise NotImplementedError(f"unknown media kind: {kind}")


def _feature_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {f.name: [] for f in FEATURE_SCHEMA.fields}
        for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                      pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            feats = None
            if kind == "image":
                if raw[:4] == b"\x89PNG":
                    px = decode_png_pixels(raw)
                elif raw[:2] == b"\xff\xd8":
                    px = decode_jpeg_pixels(raw)
                elif raw[:6] in (b"GIF87a", b"GIF89a"):
                    px = decode_gif_pixels(raw)
                elif raw[:2] == b"BM":
                    px = decode_bmp_pixels(raw)
                elif raw[:4] in (b"II*\x00", b"MM\x00*"):
                    px = decode_tiff_pixels(raw)
                else:
                    px = None
                if px is not None:
                    # REAL pixel feature: mean luminance, normalized
                    lum = px[:, :, :3].mean() if px.shape[2] >= 3 \
                        else px.mean()
                    feats = {"width": int(px.shape[1]),
                             "height": int(px.shape[0]),
                             "duration_s": None,
                             "feature_v0": float(lum) / 255.0}
                else:
                    hdr = decode_image_header(raw)
                    if hdr is not None:
                        w, h, _fmt = hdr
                        feats = {"width": w, "height": h,
                                 "duration_s": None,
                                 "feature_v0": (w * h) / 2**24}
            elif kind == "audio":
                af = audio_features(raw)
                wav = decode_wav_header(raw)
                if af is not None:
                    # REAL sample-level feature: RMS level (the audio
                    # analog of the image mean-luminance feature)
                    feats = {"width": None, "height": None,
                             "duration_s": af["duration_s"],
                             "feature_v0": af["rms"]}
                elif wav is not None:
                    feats = {"width": None, "height": None,
                             "duration_s": round(wav[0], 6),
                             "feature_v0": wav[1] / 96000.0}
                else:
                    dur = probe_mp3(raw)
                    if dur is None:
                        mkv = probe_mkv(raw)
                        dur = mkv if mkv is not None else None
                    if dur is not None:
                        feats = {"width": None, "height": None,
                                 "duration_s": round(dur, 6),
                                 "feature_v0": 0.0}
            elif kind == "video":
                mp4 = probe_mp4(raw)
                if mp4 is not None:
                    d, w, h = mp4
                    feats = {"width": w, "height": h,
                             "duration_s": round(d, 6),
                             "feature_v0": 0.0}
                else:
                    mkv = probe_mkv(raw)
                    if mkv is not None:
                        feats = {"width": None, "height": None,
                                 "duration_s": round(mkv, 6),
                                 "feature_v0": 0.0}
            if feats is None:
                feats = _fake_decode(raw, kind)
            out["media_id"].append(mid)
            out["kind"].append(kind)
            out["byte_len"].append(len(raw))
            out["sha256"].append(hashlib.sha256(raw).hexdigest())
            out["width"].append(feats["width"])
            out["height"].append(feats["height"])
            out["duration_s"].append(feats["duration_s"])
            out["feature_v0"].append(feats["feature_v0"])
        yield pd.DataFrame(out)


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over opaque media payloads.

    Arrow batches bound by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
    pair with ``engine.partition_pages``-style skew split when payloads are
    multi-MB.
    """
    return media.select("media_id", "kind", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA)


# --------------------------------------------------- perceptual image hash

def dhash_pixels(px, hash_size: int = 8):
    """Difference hash (dHash) of a decoded pixel array: box-mean
    downscale to (hash_size, hash_size+1) luminance grid, one bit per
    horizontal gradient, packed row-major MSB-first into a SIGNED
    64-bit int (Spark LongType). None when the image is smaller than
    the grid. Deterministic: integer box boundaries ``i*dim//n`` and
    float64 means - the standard near-dup hash for crawl images
    (robust to re-encode/resize, unlike the payload sha256).
    """
    import numpy as np
    h, w = px.shape[0], px.shape[1]
    rows, cols = hash_size, hash_size + 1
    if h < rows or w < cols:
        return None
    if px.shape[2] >= 3:
        f = px.astype(np.float64)
        g = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    else:
        g = px[:, :, 0].astype(np.float64)
    ys = [y * h // rows for y in range(rows + 1)]
    xs = [x * w // cols for x in range(cols + 1)]
    grid = np.empty((rows, cols))
    for r in range(rows):
        for c in range(cols):
            grid[r, c] = g[ys[r]:ys[r + 1], xs[c]:xs[c + 1]].mean()
    v = 0
    for r in range(rows):
        for c in range(cols - 1):
            v = (v << 1) | int(grid[r, c + 1] > grid[r, c])
    return v - (1 << 64) if v >= (1 << 63) else v


DHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("dhash", LongType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
])


def _dhash_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"media_id": [], "dhash": [], "width": [], "height": []}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            if raw[:4] == b"\x89PNG":
                px = decode_png_pixels(raw)
            elif raw[:2] == b"\xff\xd8":
                px = decode_jpeg_pixels(raw)
            elif raw[:6] in (b"GIF87a", b"GIF89a"):
                px = decode_gif_pixels(raw)
            elif raw[:2] == b"BM":
                px = decode_bmp_pixels(raw)
            elif raw[:4] in (b"II*\x00", b"MM\x00*"):
                px = decode_tiff_pixels(raw)
            else:
                px = None
            if px is None:
                out["media_id"].append(mid)
                out["dhash"].append(None)
                out["width"].append(None)
                out["height"].append(None)
                continue
            out["media_id"].append(mid)
            out["dhash"].append(dhash_pixels(px))
            out["width"].append(int(px.shape[1]))
            out["height"].append(int(px.shape[0]))
        # nullable-Int64 column, NOT the default float64 a None forces:
        # float64 has a 53-bit mantissa and silently rounds 64-bit
        # hashes (578721382704613384 -> ...376)
        yield pd.DataFrame({
            "media_id": out["media_id"],
            "dhash": pd.Series(out["dhash"], dtype="Int64"),
            "width": pd.Series(out["width"], dtype="Int32"),
            "height": pd.Series(out["height"], dtype="Int32"),
        })


def image_dhash(media: DataFrame) -> DataFrame:
    """(media_id, payload) -> (media_id, dhash, width, height) via the
    real PNG/JPEG decoders; undecodable payloads yield a NULL hash.
    Arrow-batched mapInPandas like every media stage here."""
    return media.select("media_id", "payload").mapInPandas(
        _dhash_batches, schema=DHASH_SCHEMA)


def image_near_dups(hashes: DataFrame, max_hamming: int = 4,
                    max_bucket_size: int = 1000) -> DataFrame:
    """Near-duplicate image pairs from dHashes: block on 4 x 16-bit
    sub-bands of the hash (a pair within Hamming distance <= 3 is
    GUARANTEED to agree on at least one band by pigeonhole; at 4 the
    probability of missing is small and acceptable for dedup), cap hot
    buckets (flat/logo boilerplate images pile up on few hashes), then
    verify with bit_count on the XOR - the simhash recipe
    (dedup.simhash_near_duplicates) applied to the image modality.
    """
    from pyspark.sql import functions as F

    from .dedup import _cap_hot_buckets
    h = hashes.where(F.col("dhash").isNotNull()).select(
        "media_id", "dhash")
    banded = h.select(
        "media_id", "dhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned("dhash", 16 * b)
                     .bitwiseAND(F.lit(0xFFFF)).alias("band_val"))
            for b in range(4)])).alias("bv")) \
        .select("media_id", "dhash", "bv.band", "bv.band_val")
    banded = _cap_hot_buckets(banded, ["band", "band_val"],
                              max_bucket_size)
    l = banded.alias("l")
    r = banded.alias("r")
    pairs = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.band_val") == F.col("r.band_val"))
               & (F.col("l.media_id") < F.col("r.media_id")))
        .select(F.col("l.media_id").alias("media_a"),
                F.col("r.media_id").alias("media_b"),
                F.col("l.dhash").alias("ha"),
                F.col("r.dhash").alias("hb"))
        .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("media_a", "media_b", "hamming"))


# -------------------------------------------------------------- GIF codec

def decode_gif_pixels(payload: bytes):
    """GIF87a/89a first frame -> (height, width, 3) uint8 RGB numpy
    array (logical-screen sized, frame composed at its offset over the
    background color), or None when damaged. From-scratch LZW with
    variable code width (LSB-first packing), local/global color
    tables, and interlace reordering - the third major crawl image
    codec next to PNG and JPEG."""
    import numpy as np
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        if w == 0 or h == 0 or w * h > 64_000_000:
            return None
        flags = payload[10]
        bg_index = payload[11]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(payload[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(-1, 3)
            pos += 3 * n
        while pos < len(payload):
            b = payload[pos]
            if b == 0x3B:  # trailer
                return None
            if b == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(payload) and payload[pos]:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b != 0x2C:
                return None
            fl = int.from_bytes(payload[pos + 1:pos + 3], "little")
            ft = int.from_bytes(payload[pos + 3:pos + 5], "little")
            fw = int.from_bytes(payload[pos + 5:pos + 7], "little")
            fh = int.from_bytes(payload[pos + 7:pos + 9], "little")
            iflags = payload[pos + 9]
            pos += 10
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                table = np.frombuffer(payload[pos:pos + 3 * n],
                                      dtype=np.uint8).reshape(-1, 3)
                pos += 3 * n
            if table is None or fw == 0 or fh == 0:
                return None
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            indices = _gif_lzw(bytes(data), min_code, fw * fh)
            if indices is None:
                return None
            idx = np.array(indices[:fw * fh], dtype=np.int32)
            if len(idx) < fw * fh:
                idx = np.pad(idx, (0, fw * fh - len(idx)))
            frame = idx.reshape(fh, fw)
            if iflags & 0x40:  # interlace: rows in 8/8/4/2 passes
                order = (list(range(0, fh, 8)) + list(range(4, fh, 8))
                         + list(range(2, fh, 4)) + list(range(1, fh, 2)))
                de = np.empty_like(frame)
                de[order] = frame
                frame = de
            np.clip(frame, 0, len(table) - 1, out=frame)
            rgb = table[frame]
            canvas = np.empty((h, w, 3), dtype=np.uint8)
            bg = table[bg_index] if gct is not None \
                and bg_index < len(gct) else np.zeros(3, np.uint8)
            canvas[:, :] = bg
            y1 = min(h, ft + fh)
            x1 = min(w, fl + fw)
            canvas[ft:y1, fl:x1] = rgb[:y1 - ft, :x1 - fl]
            return canvas
        return None
    except (IndexError, ValueError):
        return None


def _gif_lzw(data: bytes, min_code: int, max_out: int):
    """GIF LZW decode (LSB-first variable-width codes) -> index list,
    None on a broken stream."""
    if not 2 <= min_code <= 11:
        return None
    clear = 1 << min_code
    eoi = clear + 1
    out: list = []
    bitpos = 0
    nbits = len(data) * 8
    width = min_code + 1
    dict_base = [(i,) for i in range(clear)] + [None, None]
    table = list(dict_base)
    prev = None
    while bitpos + width <= nbits:
        byte = bitpos >> 3
        chunk = int.from_bytes(data[byte:byte + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(dict_base)
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)
        else:
            return None
        out.extend(entry)
        if len(out) >= max_out:
            return out
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def encode_gif(px, palette=None) -> bytes:
    """Minimal single-frame GIF89a encoder (test-fixture utility):
    palette-quantization-free - the input must use <= 256 distinct
    colors. LZW emits a clear code before every literal (valid per
    spec, constant code width, no dictionary growth)."""
    import numpy as np
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=2)
    h, w = px.shape[:2]
    flat = px.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs <=256 distinct colors")
    bits = max(2, int(len(colors) - 1).bit_length())
    n_table = 1 << bits
    table = np.zeros((n_table, 3), np.uint8)
    table[:len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += table.tobytes()
    out += b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little") \
        + h.to_bytes(2, "little") + b"\x00"
    min_code = bits
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    acc = 0
    nacc = 0
    stream = bytearray()

    def put(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    put(clear)
    for v in inverse:
        put(int(v))
        put(clear)  # reset: dictionary never grows, width constant
    put(eoi)
    if nacc:
        stream.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        block = stream[i:i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


# -------------------------------------------------------------- BMP decode

def decode_bmp_pixels(payload: bytes):
    """Uncompressed BMP (BITMAPINFOHEADER+, 24/32-bit truecolor or
    1/4/8-bit paletted) -> (height, width, 3) uint8 RGB, or None.
    Bottom-up and top-down row orders, 4-byte row padding."""
    import struct

    import numpy as np
    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    try:
        data_at = struct.unpack("<I", payload[10:14])[0]
        hdr = struct.unpack("<I", payload[14:18])[0]
        if hdr < 40:
            return None
        w, h = struct.unpack("<ii", payload[18:26])
        planes, bpp = struct.unpack("<HH", payload[26:30])
        comp = struct.unpack("<I", payload[30:34])[0]
        topdown = h < 0
        h = abs(h)
        if w <= 0 or h == 0 or w * h > 64_000_000:
            return None
        if comp not in (0, 3) or bpp not in (1, 4, 8, 24, 32):
            return None
        palette = None
        if bpp <= 8:
            n_colors = struct.unpack("<I", payload[46:50])[0] \
                or (1 << bpp)
            pal_at = 14 + hdr
            pal = np.frombuffer(
                payload[pal_at:pal_at + 4 * n_colors], dtype=np.uint8)
            if len(pal) < 4 * n_colors:
                return None
            palette = pal.reshape(-1, 4)[:, [2, 1, 0]]  # BGRA -> RGB
        stride = (w * bpp + 31) // 32 * 4
        need = stride * h
        raw = payload[data_at:data_at + need]
        if len(raw) < need:
            return None
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        if bpp == 24:
            px = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]
        elif bpp == 32:
            px = rows[:, :w * 4].reshape(h, w, 4)[:, :, [2, 1, 0]]
        else:
            bits = np.unpackbits(rows, axis=1)
            vals = bits.reshape(h, -1, bpp)
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint16)
            idx = (vals * weights).sum(axis=2)[:, :w]
            idx = np.clip(idx, 0, len(palette) - 1)
            px = palette[idx]
        if not topdown:
            px = px[::-1]
        return np.ascontiguousarray(px.astype(np.uint8))
    except (struct.error, ValueError, IndexError):
        return None


# ------------------------------------------------------------- TIFF decode

def decode_tiff_pixels(payload: bytes):
    """Baseline TIFF (IFD0) -> (height, width, channels) uint8, or
    None. Scope: 8-bit samples (gray / RGB / palette) and 1-bit
    bilevel, strip-based, chunky planar config; compressions none (1),
    LZW (5, MSB-first with early change + horizontal predictor), and
    PackBits (32773). Both byte orders."""
    import struct

    import numpy as np
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    fmt = "<" if payload[:2] == b"II" else ">"
    try:
        ifd = struct.unpack(fmt + "I", payload[4:8])[0]
        n = struct.unpack(fmt + "H", payload[ifd:ifd + 2])[0]
        tags: dict = {}
        for i in range(min(n, 512)):
            e = payload[ifd + 2 + 12 * i: ifd + 14 + 12 * i]
            tag, typ = struct.unpack(fmt + "HH", e[:4])
            cnt = struct.unpack(fmt + "I", e[4:8])[0]
            size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue
            total = size * cnt
            if total <= 4:
                buf = e[8:8 + total]
            else:
                off = struct.unpack(fmt + "I", e[8:12])[0]
                buf = payload[off:off + total]
                if len(buf) < total:
                    return None
            ch = {1: "B", 3: "H", 4: "I"}.get(typ, "B")
            vals = struct.unpack(f"{fmt}{cnt}{ch}", buf) \
                if typ != 2 else (buf,)
            tags[tag] = vals
        w = tags.get(256, (0,))[0]
        h = tags.get(257, (0,))[0]
        if not w or not h or w * h > 64_000_000:
            return None
        bps = tags.get(258, (1,))
        comp = tags.get(259, (1,))[0]
        photo = tags.get(262, (1,))[0]
        offsets = tags.get(273)
        spp = tags.get(277, (1,))[0]
        rps = tags.get(278, (h,))[0] or h
        counts = tags.get(279)
        predictor = tags.get(317, (1,))[0]
        if offsets is None or counts is None:
            return None
        if tags.get(284, (1,))[0] != 1:
            return None  # planar config 2 out of scope
        if spp not in (1, 3) or len(set(bps)) != 1:
            return None
        depth = bps[0]
        if depth not in (1, 8) or (depth == 1 and spp != 1):
            return None
        if comp not in (1, 5, 32773):
            return None
        row_bytes = (w * spp * depth + 7) // 8
        out = bytearray()
        for off, cnt in zip(offsets, counts):
            strip = payload[off:off + cnt]
            if len(strip) < cnt:
                return None
            if comp == 5:
                strip = _tiff_lzw(strip)
            elif comp == 32773:
                strip = _packbits(strip)
            if strip is None:
                return None
            out += strip
        need = row_bytes * h
        if len(out) < need:
            return None
        rows = np.frombuffer(bytes(out[:need]),
                             dtype=np.uint8).reshape(h, row_bytes)
        if depth == 1:
            bits = np.unpackbits(rows, axis=1)[:, :w]
            px = (bits * 255).astype(np.uint8)
            if photo == 0:
                px = 255 - px
            return px[:, :, None]
        arr = rows[:, :w * spp].reshape(h, w, spp).astype(np.uint8)
        if predictor == 2:
            arr = np.cumsum(arr.astype(np.uint32), axis=1).astype(
                np.uint8)
        if photo == 3:  # palette: ColorMap is 16-bit per channel
            cmap = tags.get(320)
            if cmap is None:
                return None
            third = len(cmap) // 3
            table = (np.array(cmap, dtype=np.uint32)
                     .reshape(3, third).T // 257).astype(np.uint8)
            idx = np.clip(arr[:, :, 0], 0, third - 1)
            return table[idx]
        if photo == 0 and spp == 1:
            arr = 255 - arr
        return arr
    except (struct.error, ValueError, IndexError):
        return None


def _tiff_lzw(data: bytes):
    """TIFF LZW (MSB-first, early change): strip bytes -> decoded."""
    out = bytearray()
    table: list = []
    width = 9
    prev = None
    bitpos = 0
    nbits = len(data) * 8

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [None, None]
        width = 9
        prev = None

    reset()
    while bitpos + width <= nbits:
        byte = bitpos >> 3
        chunk = int.from_bytes(data[byte:byte + 4], "big")
        code = (chunk >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == 256:
            reset()
            continue
        if code == 257:
            break
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        # early change: width bumps one code EARLIER than GIF
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def _packbits(data: bytes):
    """PackBits RLE: strip bytes -> decoded."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def decode_wav_samples(payload: bytes):
    """RIFF/WAVE PCM samples -> (samples float64 in [-1, 1] shaped
    (n, channels), sample_rate), or None. Integer PCM 8/16/24/32-bit
    and IEEE float32 - pure stdlib + numpy, no audio libs."""
    import struct

    import numpy as np
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = bits = audio_fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        if cid == b"fmt " and length >= 16:
            audio_fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8:pos + 24])
        elif cid == b"data":
            data = payload[pos + 8:pos + 8 + length]
        pos += 8 + length + (length & 1)
    if not (rate and channels and bits and data is not None):
        return None
    if len(data) * 8 > 512_000_000:
        return None  # bomb guard
    if audio_fmt == 3 and bits == 32:       # IEEE float
        x = np.frombuffer(data[:len(data) // 4 * 4], dtype="<f4") \
            .astype(np.float64)
    elif audio_fmt == 1 and bits == 8:      # unsigned 8-bit
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data[:len(data) // 2 * 2], dtype="<i2") \
            .astype(np.float64) / 32768.0
    elif audio_fmt == 1 and bits == 24:
        b = np.frombuffer(data[:len(data) // 3 * 3], dtype=np.uint8) \
            .reshape(-1, 3).astype(np.uint32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        x = v.astype(np.int32)
        x = np.where(x >= 1 << 23, x - (1 << 24), x).astype(np.float64) \
            / float(1 << 23)
    elif audio_fmt == 1 and bits == 32:
        x = np.frombuffer(data[:len(data) // 4 * 4], dtype="<i4") \
            .astype(np.float64) / float(1 << 31)
    else:
        return None
    frames = len(x) // channels
    if frames == 0:
        return None
    return x[:frames * channels].reshape(frames, channels), rate


def audio_features(payload: bytes):
    """REAL audio features from a PCM WAV: duration, RMS level, peak,
    zero-crossing rate (per second, channel-averaged), clipping ratio.
    None for non-PCM/undecodable payloads (caller falls back)."""
    import numpy as np
    dec = decode_wav_samples(payload)
    if dec is None:
        return None
    x, rate = dec
    mono = x.mean(axis=1)
    rms = float(np.sqrt((x * x).mean()))
    peak = float(np.abs(x).max())
    zc = float((np.signbit(mono[1:]) != np.signbit(mono[:-1])).sum())
    dur = x.shape[0] / rate
    return {
        "duration_s": round(dur, 6),
        "rms": round(rms, 6),
        "peak": round(peak, 6),
        "zcr_per_s": round(zc / dur, 4) if dur > 0 else 0.0,
        "clip_ratio": round(float((np.abs(x) >= 0.999).mean()), 6),
    }
