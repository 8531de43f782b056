"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Real pure-python decoders, no codec library needed: binary PPM (P6) and
24-bit BI_RGB BMP images, non-interlaced 8-bit PNG (stdlib zlib inflate +
numpy scanline unfilter, all five color types), baseline sequential JPEG
(SOF0: canonical Huffman entropy decode, dequantize, float IDCT, chroma
upsample, YCbCr->RGB), PCM-16 WAV audio. Remaining formats (progressive
JPEG, MP3) need PIL/torchaudio, so unknown payloads HARD-ERROR by
default (`on_undecodable="error"`); callers opt
into NULL features + a decode_ok=false flag ("null") or, for synthetic
fixtures/oracles only, a clearly-marked deterministic fake ("fake").
Everything Spark-side — schema, batch shape, Arrow transfer,
partitioning — is real and tested under every policy.

Design rules for 100 TB media:
* media stays an opaque `binary` column with typed metadata alongside
  (media_type, width, height, duration_s, sample_rate) — decode late,
  decode once, never collect;
* per-batch processing via mapInPandas so one Arrow batch = one python
  call (batch size bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  to cap executor memory per media batch);
* derived features (embeddings, thumbnails, frames) are new columns /
  exploded rows, not driver-side objects.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

# undecodable-payload policy for image_features (fail-loud by default):
#   "error" — raise NotImplementedError (a codec gap at 100 TB must be a
#             loud failure, never silently-wrong features);
#   "null"  — feature NULL + decode_ok false (rows are range-checkable
#             downstream, the metadata_check idiom);
#   "fake"  — deterministic arithmetic pixel field + decode_ok false
#             (synthetic fixtures / oracle replay ONLY — opt-in).
_UNDECODABLE_POLICIES = ("error", "null", "fake")


def decode_ppm(payload: bytes) -> np.ndarray | None:
    """Real decoder for binary PPM (P6, maxval 255): pure numpy, no codec.
    Returns (h, w, 3) uint8 or None if the payload is not a valid P6."""
    if payload[:2] != b"P6":
        return None
    # header = three whitespace-separated tokens (w h maxval) after the
    # magic; '#' comments run to end of line (Netpbm spec)
    i, tokens = 2, []
    while len(tokens) < 3 and i < len(payload):
        ch = payload[i : i + 1]
        if ch == b"#":
            nl = payload.find(b"\n", i)
            if nl < 0:
                return None
            i = nl + 1
        elif ch.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3 or i >= len(payload):
        return None
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    i += 1  # exactly one whitespace byte separates header from raster
    raster = payload[i : i + w * h * 3]
    if len(raster) != w * h * 3:
        return None
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3).copy()


def decode_bmp(payload: bytes) -> np.ndarray | None:
    """Real decoder for uncompressed 24-bit BMP (BI_RGB, BITMAPINFOHEADER):
    bottom-up BGR rows padded to 4 bytes. Returns (h, w, 3) uint8 RGB or
    None if the payload is not such a BMP."""
    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        return None
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    flip = h > 0  # positive height = bottom-up
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raster = payload[off : off + stride * h]
    if len(raster) != stride * h:
        return None
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return (img[::-1] if flip else img).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray | None:
    """Undo PNG per-scanline filters (0 none / 1 sub / 2 up / 3 average /
    4 paeth). `raw` is h rows of (1 filter byte + stride data bytes).
    Up is vectorized across the row; Sub/Average/Paeth carry a per-pixel
    recurrence, so those rows run a byte loop — exact, and cheap at the
    thumbnail sizes a QC pipeline decodes (a production deployment slots
    a codec library in above this fallback)."""
    rows = raw.reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint16)  # u16: sums before & 0xFF
    prev = np.zeros(stride, dtype=np.uint16)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.uint16)
        if ftype == 0:
            line = cur
        elif ftype == 2:  # up
            line = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0  # left
                b = prev[x]  # up
                if ftype == 1:
                    line[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    line[x] = (line[x] + ((int(a) + int(b)) >> 1)) & 0xFF
                else:  # paeth
                    c = prev[x - bpp] if x >= bpp else 0  # up-left
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (line[x] + pred) & 0xFF
        else:
            return None  # invalid filter type: fail the whole decode
        out[y] = line
        prev = line
    return out.astype(np.uint8)


# dimension-bomb ceiling for the compressed-raster decoders (PNG/JPEG):
# header dimensions are attacker-controlled and are read before any
# raster data is validated; a ~100-byte payload declaring 65535x65535
# would otherwise demand ~34GB per plane (ADVICE r05). 40 MPix covers
# any realistic web asset; oversized claims take the documented
# None / decode_ok=false path.
_MAX_DECODE_PIXELS = 40_000_000


def decode_png(payload: bytes) -> np.ndarray | None:
    """Real decoder for non-interlaced 8-bit-depth PNG (gray, gray+alpha,
    RGB, RGBA, and palette color types): stdlib zlib inflate + numpy
    per-scanline unfilter — no codec library. Returns (h, w, 3) uint8 RGB
    (alpha dropped, gray broadcast, palette looked up) or None if the
    payload is not such a PNG (bad signature/CRC-length structure,
    interlaced, 16-bit, truncated or corrupt raster)."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    pos = len(_PNG_SIG)
    w = h = None
    depth = ctype = interlace = None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(payload):
        clen = int.from_bytes(payload[pos : pos + 4], "big")
        cid = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            return None  # truncated chunk
        if cid == b"IHDR":
            if clen != 13:
                return None
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, ctype = body[8], body[9]
            interlace = body[12]
        elif cid == b"PLTE":
            if clen % 3:
                return None
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif cid == b"IDAT":
            idat += body
        elif cid == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if not w or not h or depth != 8 or interlace != 0 or not idat:
        return None
    if ctype not in _PNG_CHANNELS or (ctype == 3 and palette is None):
        return None
    # dimension bomb guard (ADVICE r05): IHDR w/h are attacker-controlled
    # and were trusted before any raster byte existed — a ~100-byte
    # payload declaring 2^31 pixels would demand GBs per plane. Web-QC
    # thumbnails sit far below this cap; oversized claims degrade to the
    # documented None / decode_ok=false path
    ch = _PNG_CHANNELS[ctype]
    if w * h > _MAX_DECODE_PIXELS:
        return None
    stride = w * ch
    try:
        # inflate with an output cap tied to the declared raster size
        # (decompression-bomb guard, ADVICE r05): a stream longer than
        # h*(1+stride) is invalid anyway, so max_length changes no
        # decodable payload's result. Outcome parity with the old
        # whole-buffer zlib.decompress (A/B'd): valid -> eof at exact
        # size; truncated -> eof False (was Error -5); trailing garbage
        # after stream end -> eof True, same accept; bomb -> size mismatch
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), h * (1 + stride) + 1)
    except zlib.error:
        return None
    if len(raw) != h * (1 + stride) or not d.eof:
        return None
    img = _png_unfilter(np.frombuffer(raw, dtype=np.uint8), h, stride, ch)
    if img is None:
        return None
    img = img.reshape(h, w, ch)
    if ctype == 0:  # gray
        return np.repeat(img, 3, axis=2).copy()
    if ctype == 2:  # rgb
        return img.copy()
    if ctype == 3:  # palette
        if int(img[:, :, 0].max()) >= len(palette):
            # corrupt/hostile payload: indices past the PLTE must degrade
            # to the documented None / decode_ok=false path, not crash the
            # job with an IndexError (ADVICE r05)
            return None
        return palette[img[:, :, 0]].copy()
    if ctype == 4:  # gray + alpha
        return np.repeat(img[:, :, :1], 3, axis=2).copy()
    return img[:, :, :3].copy()  # rgba -> rgb


# JPEG zigzag scan order: zigzag index -> linear index into the 8x8 block
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8x8 DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16); the inverse
# transform of a coefficient block F is A.T @ F @ A
_JPEG_IDCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


_JPEG_LUT_CACHE: dict[tuple[bytes, bytes], tuple[list, list]] = {}


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> tuple[list, list]:
    """Canonical JPEG Huffman table as a full 16-bit-prefix LUT:
    (symbol[65536], code_length[65536]); length 0 marks an invalid prefix.
    Cached on the raw DHT bytes — batches of images from one encoder reuse
    the same tables."""
    key = (bytes(counts), bytes(symbols))
    cached = _JPEG_LUT_CACHE.get(key)
    if cached is not None:
        return cached
    sym_lut = [0] * 65536
    len_lut = [0] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            s = symbols[k]
            k += 1
            base = code << (16 - length)
            span = 1 << (16 - length)
            sym_lut[base : base + span] = [s] * span
            len_lut[base : base + span] = [length] * span
            code += 1
        code <<= 1
    if len(_JPEG_LUT_CACHE) >= 64:
        _JPEG_LUT_CACHE.clear()
    table = (sym_lut, len_lut)
    _JPEG_LUT_CACHE[key] = table
    return table


def decode_jpeg(payload: bytes) -> np.ndarray | None:
    """Real decoder for baseline sequential JPEG (SOF0, 8-bit, Huffman):
    pure python/numpy — marker walk, canonical Huffman entropy decode,
    dequantize, zigzag, float IDCT (8x8 DCT basis matmul), nearest
    chroma upsample, JFIF YCbCr->RGB. Supports 1- and 3-component scans,
    sampling factors 1-2 per axis, restart intervals. Returns (h, w, 3)
    uint8 RGB or None for anything else (progressive SOF2, arithmetic
    coding, 12-bit, truncated or corrupt streams).

    Bit-level work is a per-symbol python loop — sized for QC-scale
    thumbnails; a production deployment slots PIL/libjpeg above this
    fallback. (No reference analogue — multimodal brief.)"""
    try:
        return _decode_jpeg_inner(payload)
    except (EOFError, ValueError, KeyError, IndexError, ZeroDivisionError):
        return None


def _jpeg_parse(payload: bytes):
    """Marker walk + entropy-segment de-stuffing, shared by the serial
    decoder and the batch entropy decoder. Returns
    (qt, huff, comps, w, h, restart_interval, scan_tabs, intervals)
    or None for anything not baseline-decodable."""
    if payload[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    comps = None  # list of (cid, h, v, tq)
    w = h = None
    restart_interval = 0
    pos = 2
    scan = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        if marker == 0xDB:  # DQT (tables concatenated)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    return None  # 8-bit tables only
                qt[tq] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.float64)
                i += 65
        elif marker == 0xC4:  # DHT (tables concatenated)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                counts = body[i + 1 : i + 17]
                n = sum(counts)
                huff[(tc, th)] = _jpeg_huff_table(
                    counts, body[i + 17 : i + 17 + n]
                )
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if body[0] != 8:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline frame types
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS: header then entropy data to EOI
            ns = body[0]
            scan_tabs = {}
            for c in range(ns):
                cs, t = body[1 + 2 * c], body[2 + 2 * c]
                scan_tabs[cs] = (t >> 4, t & 0xF)
            data_start = pos + 2 + seglen
            scan = (scan_tabs, payload[data_start:])
            break
        pos += 2 + seglen
    if scan is None or comps is None or not w or not h:
        return None
    if w * h > _MAX_DECODE_PIXELS:  # dimension bomb (ADVICE r05)
        return None
    scan_tabs, raw = scan
    intervals = _jpeg_destuff(raw)
    return qt, huff, comps, w, h, restart_interval, scan_tabs, intervals


def _jpeg_destuff(raw: bytes) -> list[bytes]:

    # de-stuff and split on restart markers; stop at EOI/any other marker.
    # Jump marker-to-marker with bytes.find instead of walking per byte:
    # 0xFF occurs ~1/256 bytes, so this copies long clean runs in C
    nraw = len(raw)
    intervals: list[bytes] = []
    cur = bytearray()
    i = 0
    while i < nraw:
        j = raw.find(b"\xff", i)
        if j == -1:
            cur += raw[i:]
            break
        cur += raw[i:j]
        nxt = raw[j + 1] if j + 1 < nraw else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
            continue
        if 0xD0 <= nxt <= 0xD7:
            intervals.append(bytes(cur))
            cur = bytearray()
            i = j + 2
            continue
        break  # EOI or next segment
    intervals.append(bytes(cur))
    return intervals


def _decode_jpeg_inner(payload: bytes) -> np.ndarray | None:
    parsed = _jpeg_parse(payload)
    if parsed is None:
        return None
    qt, huff, comps, w, h, restart_interval, scan_tabs, intervals = parsed

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros((mcus_y * cv * 8, mcus_x * ch * 8))

    # per-component tables hoisted out of the MCU loop (the lazy per-MCU
    # dict lookups only ever failed on the first MCU anyway)
    comp_tabs = []
    for cid, ch, cv, tq in comps:
        dc_tab = huff.get((0, scan_tabs.get(cid, (None, None))[0]))
        ac_tab = huff.get((1, scan_tabs.get(cid, (None, None))[1]))
        q = qt.get(tq)
        if dc_tab is None or ac_tab is None or q is None:
            return None
        comp_tabs.append((cid, ch, cv, dc_tab[0], dc_tab[1], ac_tab[0], ac_tab[1], q))

    # Entropy decode with the bit cursor and 32-bit window inlined as
    # locals (r06): the per-symbol reader method calls (read_huff +
    # read_bits + extend, ~1.0s of a 1.9s profile at 200 images) become
    # straight-line int ops; EOF / invalid-code aborts raise the same
    # exception set the reader raised, caught by decode_jpeg -> None.
    # Coefficients collect into plain python lists; dequantize + zigzag +
    # IDCT run ONCE over all blocks afterwards (batched (N,8,8) matmul —
    # the same A.T @ C @ A per slice, verified byte-identical on the
    # decode bench) instead of ~12us of small-ndarray overhead per block.
    blocks_meta: list[tuple[int, int, int]] = []  # (cid, y0, x0)
    blocks_vals: list[list] = []  # zigzag-order coefficient rows
    blocks_qref: list[np.ndarray] = []
    pred = {cid: 0 for cid, *_ in comps}
    interval_idx = 0
    data = intervals[0] + b"\x00\x00\x00"  # zero pad for 32-bit windows
    nbits = (len(data) - 3) * 8
    p = 0
    from_bytes = int.from_bytes
    zigzag = _JPEG_ZIGZAG
    idct_at, idct_a = _JPEG_IDCT_A.T, _JPEG_IDCT_A
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                interval_idx += 1
                if interval_idx >= len(intervals):
                    return None
                data = intervals[interval_idx] + b"\x00\x00\x00"
                nbits = (len(data) - 3) * 8
                p = 0
                pred = {cid: 0 for cid, *_ in comps}
            for cid, ch, cv, dc_sym, dc_len, ac_sym, ac_len, q in comp_tabs:
                for by in range(cv):
                    for bx in range(ch):
                        zz = [0.0] * 64
                        # DC: huffman size class, then magnitude bits
                        chunk = from_bytes(data[p >> 3 : (p >> 3) + 4], "big")
                        v = (chunk >> (16 - (p & 7))) & 0xFFFF
                        ln = dc_len[v]
                        if ln == 0:
                            raise ValueError("invalid huffman code")
                        if p + ln > nbits:
                            raise EOFError
                        s = dc_sym[v]
                        p += ln
                        if s:
                            if p + s > nbits:
                                raise EOFError
                            chunk = from_bytes(
                                data[p >> 3 : (p >> 3) + 4], "big"
                            )
                            diff = (chunk >> (32 - (p & 7) - s)) & ((1 << s) - 1)
                            p += s
                            if diff < (1 << (s - 1)):  # T.81 EXTEND
                                diff += 1 - (1 << s)
                            pred[cid] += diff
                        zz[0] = pred[cid]
                        k = 1
                        while k < 64:
                            chunk = from_bytes(
                                data[p >> 3 : (p >> 3) + 4], "big"
                            )
                            v = (chunk >> (16 - (p & 7))) & 0xFFFF
                            ln = ac_len[v]
                            if ln == 0:
                                raise ValueError("invalid huffman code")
                            if p + ln > nbits:
                                raise EOFError
                            rs = ac_sym[v]
                            p += ln
                            size = rs & 0xF
                            if size == 0:
                                if rs >> 4 == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                return None
                            if p + size > nbits:
                                raise EOFError
                            chunk = from_bytes(
                                data[p >> 3 : (p >> 3) + 4], "big"
                            )
                            val = (chunk >> (32 - (p & 7) - size)) & (
                                (1 << size) - 1
                            )
                            p += size
                            if val < (1 << (size - 1)):  # T.81 EXTEND
                                val += 1 - (1 << size)
                            zz[k] = val
                            k += 1
                        blocks_meta.append(
                            (cid, (my * cv + by) * 8, (mx * ch + bx) * 8)
                        )
                        blocks_vals.append(zz)
                        blocks_qref.append(q)
            mcu += 1

    # pass 2: dequantize + zigzag + IDCT for every block at once, then
    # scatter into the component planes (disjoint 8x8 slices)
    if blocks_vals:
        deq = np.array(blocks_vals) * np.array(blocks_qref)
        coefm = np.zeros_like(deq)
        coefm[:, zigzag] = deq
        blocksm = (idct_at @ coefm.reshape(-1, 8, 8) @ idct_a) + 128.0
        for i, (cid, y0, x0) in enumerate(blocks_meta):
            planes[cid][y0 : y0 + 8, x0 : x0 + 8] = blocksm[i]

    # upsample to full MCU grid resolution, crop to (h, w)
    full = {}
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        full[cid] = p[:h, :w]
    if len(comps) == 1:
        g = np.clip(np.rint(full[comps[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = (full[c[0]] for c in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


class _JpegLayout:
    """Decode-order block layout of one parsed baseline JPEG, for the
    batch entropy decoder: per block its component SLOT (index into
    comps), plane coordinates, and restart-interval index; per slot the
    LUT tables and quant vector. None-returning construction failures
    mirror _decode_jpeg_inner's early exits exactly."""

    __slots__ = (
        "comps", "w", "h", "hmax", "vmax", "mcus_x", "mcus_y",
        "slot_of_block", "iv_of_block", "y0", "x0", "n_blocks",
        "dc_tabs", "ac_tabs", "qs", "n_ivs",
    )

    @staticmethod
    def build(parsed):
        qt, huff, comps, w, h, restart_interval, scan_tabs, intervals = parsed
        self = _JpegLayout()
        self.comps, self.w, self.h = comps, w, h
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if not (1 <= hmax <= 2 and 1 <= vmax <= 2):
            return None
        self.hmax, self.vmax = hmax, vmax
        self.mcus_x = -(-w // (8 * hmax))
        self.mcus_y = -(-h // (8 * vmax))
        self.dc_tabs, self.ac_tabs, self.qs = [], [], []
        for cid, ch, cv, tq in comps:
            st = scan_tabs.get(cid, (None, None))
            dc = huff.get((0, st[0]))
            ac = huff.get((1, st[1]))
            q = qt.get(tq)
            if dc is None or ac is None or q is None:
                return None
            self.dc_tabs.append(dc)
            self.ac_tabs.append(ac)
            self.qs.append(q)
        slot_of_block, iv_of_block, y0s, x0s = [], [], [], []
        mcu = 0
        for my in range(self.mcus_y):
            for mx in range(self.mcus_x):
                iv = mcu // restart_interval if restart_interval else 0
                for slot, (cid, ch, cv, _tq) in enumerate(comps):
                    for by in range(cv):
                        for bx in range(ch):
                            slot_of_block.append(slot)
                            iv_of_block.append(iv)
                            y0s.append((my * cv + by) * 8)
                            x0s.append((mx * ch + bx) * 8)
                mcu += 1
        self.slot_of_block = slot_of_block
        self.iv_of_block = iv_of_block
        self.y0, self.x0 = y0s, x0s
        self.n_blocks = len(slot_of_block)
        self.n_ivs = len(intervals)
        return self


def _jpeg_assemble(layout: _JpegLayout, blocksm: np.ndarray) -> np.ndarray:
    """Tail of the serial decoder over ready pixel blocks (n_blocks, 8, 8):
    plane scatter, upsample, color transform — the identical numpy
    expressions in the identical order, so pixels match the serial path
    byte for byte (asserted by scripts/jpeg_decode_bench.py --batch and
    tests/test_jpeg.py::test_jpeg_batch_matches_serial)."""
    comps, h, w = layout.comps, layout.h, layout.w
    planes = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros(
            (layout.mcus_y * cv * 8, layout.mcus_x * ch * 8)
        )
    cid_of_slot = [c[0] for c in comps]
    for i in range(layout.n_blocks):
        cid = cid_of_slot[layout.slot_of_block[i]]
        y0, x0 = layout.y0[i], layout.x0[i]
        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = blocksm[i]
    full = {}
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        p = np.repeat(
            np.repeat(p, layout.vmax // cv, axis=0), layout.hmax // ch, axis=1
        )
        full[cid] = p[:h, :w]
    if len(comps) == 1:
        g = np.clip(np.rint(full[comps[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = (full[c[0]] for c in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def decode_jpeg_batch(payloads) -> list:
    """Batch twin of :func:`decode_jpeg`: decodes MANY baseline JPEGs with
    the entropy state machine vectorized ACROSS images (r06, VERDICT item
    2). Each numpy step decodes one Huffman symbol (code gather through
    stacked 16-bit LUTs + magnitude bits + EXTEND + coefficient scatter)
    for EVERY still-active image, so the per-symbol python overhead — the
    serial decoder's floor — is amortized over the batch width. Integer
    state (cursors, predictors, coefficients) is int64 throughout and the
    reconstruction reuses the serial pass-2 expressions, so outputs are
    byte-identical to decode_jpeg per image (None for anything the serial
    decoder rejects: same parse gates, same EOF/invalid-code/overrun
    aborts). Degenerate batches (one image) just run a narrow machine.
    """
    results: list = [None] * len(payloads)
    metas = []
    for idx, p in enumerate(payloads):
        if not isinstance(p, (bytes, bytearray)):
            continue
        try:
            parsed = _jpeg_parse(bytes(p))
            layout = _JpegLayout.build(parsed) if parsed is not None else None
        except (EOFError, ValueError, KeyError, IndexError, ZeroDivisionError):
            layout = None
        if layout is None:
            continue
        metas.append((idx, parsed, layout))
    if not metas:
        return results

    B = len(metas)
    max_ivs = max(m[2].n_ivs for m in metas)
    maxblk = max(m[2].n_blocks for m in metas)
    iv_start = np.zeros((B, max_ivs), dtype=np.int64)
    iv_end = np.zeros((B, max_ivs), dtype=np.int64)
    n_ivs = np.zeros(B, dtype=np.int64)
    n_blocks = np.zeros(B, dtype=np.int64)
    slot_of_block = np.zeros((B, maxblk), dtype=np.int64)
    iv_of_block = np.zeros((B, maxblk), dtype=np.int64)
    dc_tab_of_slot = np.zeros((B, 4), dtype=np.int64)
    ac_tab_of_slot = np.zeros((B, 4), dtype=np.int64)
    base = np.zeros(B, dtype=np.int64)

    lut_ids: dict[int, int] = {}
    lut_packed = []  # length << 16 | symbol, one int64 row per table

    def lut_index(tab) -> int:
        i = lut_ids.get(id(tab))
        if i is None:
            i = len(lut_packed)
            lut_ids[id(tab)] = i
            lut_packed.append(
                (np.asarray(tab[1], dtype=np.int64) << 16)
                | np.asarray(tab[0], dtype=np.int64)
            )
        return i

    segs: list[bytes] = []
    offset = 0
    total_blocks = 0
    for bi, (idx, parsed, layout) in enumerate(metas):
        intervals = parsed[7]
        for iv, data in enumerate(intervals):
            iv_start[bi, iv] = offset * 8
            iv_end[bi, iv] = (offset + len(data)) * 8
            segs.append(data)
            offset += len(data)
        segs.append(b"\x00\x00\x00\x00")  # window pad + image separator
        offset += 4
        n_ivs[bi] = layout.n_ivs
        n_blocks[bi] = layout.n_blocks
        slot_of_block[bi, : layout.n_blocks] = layout.slot_of_block
        iv_of_block[bi, : layout.n_blocks] = layout.iv_of_block
        for s in range(len(layout.comps)):
            dc_tab_of_slot[bi, s] = lut_index(layout.dc_tabs[s])
            ac_tab_of_slot[bi, s] = lut_index(layout.ac_tabs[s])
        base[bi] = total_blocks
        total_blocks += layout.n_blocks
    big = np.frombuffer(b"".join(segs), dtype=np.uint8).astype(np.int64)
    # 32-bit big-endian word at every BYTE offset: one gather per bit-window
    # read in the step loop instead of four gathers + shifts
    W = (big << 24)
    W[:-1] |= big[1:] << 16
    W[:-2] |= big[2:] << 8
    W[:-3] |= big[3:]
    LP = np.stack(lut_packed)
    # (image, slot, dc/ac) -> stacked LUT row, one 3-d gather per step
    tab_of = np.stack([dc_tab_of_slot, ac_tab_of_slot], axis=2)
    C = np.zeros((total_blocks, 64))

    pos = iv_start[:, 0].copy()
    cur_iv = np.zeros(B, dtype=np.int64)
    cur_end = iv_end[:, 0].copy()
    pred = np.zeros((B, 4), dtype=np.int64)
    state = np.zeros(B, dtype=np.int64)  # 0 = DC, 1 = AC
    k = np.zeros(B, dtype=np.int64)
    blk = np.zeros(B, dtype=np.int64)
    failed = np.zeros(B, dtype=bool)
    done = np.zeros(B, dtype=bool)

    while True:
        act = ~(done | failed)
        if not act.any():
            break
        a = np.flatnonzero(act)
        pa = pos[a]
        chunk = W[pa >> 3]
        v16 = (chunk >> (16 - (pa & 7))) & 0xFFFF
        st = state[a]
        sl = slot_of_block[a, blk[a]]
        packed = LP[tab_of[a, sl, st], v16]
        ln = packed >> 16
        sym = packed & 0xFFFF
        end_a = cur_end[a]
        bad = (ln == 0) | (pa + ln > end_a)
        p2 = pa + ln
        size = np.where(st == 0, sym, sym & 15)
        run = np.where(st == 0, 0, sym >> 4)
        eobm = (st == 1) & (sym == 0)
        zrlm = (st == 1) & (sym == 0xF0)
        # a (corrupt-DHT) DC size class > 25 would need a wider window
        # than 32 bits: punt that image to the serial-twin fallback below
        bad |= size > 25
        k_new = np.where(st == 1, k[a] + run, 0)
        bad |= (st == 1) & (size > 0) & (k_new > 63)
        hasmag = (size > 0) & ~bad
        bad |= hasmag & (p2 + size > end_a)
        hasmag &= ~bad
        chunk2 = W[p2 >> 3]
        s1 = np.minimum(np.maximum(size, 1), 25)
        val = (chunk2 >> (32 - (p2 & 7) - s1)) & ((1 << s1) - 1)
        ext = np.where(val < (1 << (s1 - 1)), val + 1 - (1 << s1), val)
        ext = np.where(hasmag, ext, 0)  # T.81 EXTEND of the magnitude bits
        row = base[a] + blk[a]
        dcm = (st == 0) & ~bad
        pred[a[dcm], sl[dcm]] += ext[dcm]
        C[row[dcm], 0] = pred[a[dcm], sl[dcm]]
        acs = (st == 1) & (size > 0) & ~bad
        C[row[acs], k_new[acs]] = ext[acs]
        consumed = ln + np.where(hasmag, size, 0)
        k_after = np.where(
            st == 0,
            1,
            np.where(zrlm, k[a] + 16, np.where(eobm, 64, k_new + 1)),
        )
        blk_end = (st == 1) & (eobm | (k_after >= 64)) & ~bad
        blk_next = blk[a] + blk_end
        done_now = blk_end & (blk_next >= n_blocks[a])
        switching = blk_end & ~done_now
        niv = iv_of_block[a, np.minimum(blk_next, maxblk - 1)]
        ivchange = switching & (niv != cur_iv[a])
        bad |= ivchange & (niv >= n_ivs[a])
        ivok = ivchange & ~bad
        pos_final = np.where(
            ivok, iv_start[a, np.where(ivok, niv, 0)], pa + consumed
        )
        pred[a[ivok], :] = 0
        cur_iv[a] = np.where(ivok, niv, cur_iv[a])
        cur_end[a] = np.where(ivok, iv_end[a, np.where(ivok, niv, 0)], end_a)
        pos[a] = pos_final
        state[a] = np.where(st == 0, 1, np.where(blk_end, 0, 1))
        k[a] = np.where(blk_end, 0, k_after)
        blk[a] = np.where(done_now, blk[a], blk_next)
        failed[a] |= bad
        done[a] |= done_now & ~bad

    for bi, (idx, parsed, layout) in enumerate(metas):
        if failed[bi] or not done[bi]:
            # machine abort (EOF / invalid code / exotic stream): let the
            # serial twin settle it — usually None, and guaranteed
            # identical where the machine punted on a decodable stream
            results[idx] = decode_jpeg(bytes(payloads[idx]))
            continue
        # pass 2 per image (A/B'd against one global batched pass — the
        # big gather/temporary churn lost): dequantize, zigzag, batched
        # IDCT — the serial decoder's expressions over the same float64
        zz = C[base[bi] : base[bi] + layout.n_blocks]
        deq = zz * np.stack([layout.qs[s] for s in layout.slot_of_block])
        coefm = np.zeros_like(deq)
        coefm[:, _JPEG_ZIGZAG] = deq
        blocksm = (
            _JPEG_IDCT_A.T @ coefm.reshape(-1, 8, 8) @ _JPEG_IDCT_A
        ) + 128.0
        results[idx] = _jpeg_assemble(layout, blocksm)
    return results


def decode_wav(payload: bytes) -> tuple[int, np.ndarray] | None:
    """Real decoder for PCM WAV (16-bit LE, any channel count): RIFF chunk
    walk, pure numpy. Returns (sample_rate, samples[int16, frames x ch])
    or None if not such a WAV."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, rate, n_ch, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = int.from_bytes(body[0:2], "little")
            n_ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt != 1:  # PCM only
                return None
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or data is None or bits != 16 or not n_ch:
        return None
    frames = len(data) // (2 * n_ch)
    samples = np.frombuffer(data[: frames * 2 * n_ch], dtype="<i2")
    return rate, samples.reshape(frames, n_ch).copy()


def _decode_image_kernel(
    payload: bytes, width: int, height: int, on_undecodable: str = "error"
) -> tuple[np.ndarray | None, bool]:
    """Image decode: REAL pure-numpy decoders — binary PPM/P6 and 24-bit
    BI_RGB BMP (uncompressed containers) plus non-interlaced 8-bit PNG
    (zlib inflate + scanline unfilter; gray/GA/RGB/RGBA/palette).
    Returns (pixels, decode_ok). Payloads no real decoder claims follow
    ``on_undecodable``: "error" raises (default — a codec gap must fail
    loud), "null" returns (None, False), "fake" returns the deterministic
    arithmetic pixel field with decode_ok=False (fixtures/oracles only;
    the fake derives from payload length and dimensions so the whole
    decode->pool path keeps an exact SQL twin: the `multimodal_features`
    DuckDB oracle replays pixel = (seed + 31r + 7c + 13ch) mod 256 and
    the band means). Remaining compressed formats (JPEG/MP3) would slot
    in here via PIL/torchaudio and return decode_ok=True."""
    img = decode_ppm(payload)
    if img is None:
        img = decode_bmp(payload)
    if img is None:
        img = decode_png(payload)
    if img is None:
        img = decode_jpeg(payload)
    if img is not None:
        return img, True
    if on_undecodable == "error":
        raise NotImplementedError(
            "undecodable image payload (progressive JPEG or other exotic "
            "container? install PIL here); pass on_undecodable='null' to "
            "emit NULL features with decode_ok=false instead"
        )
    if on_undecodable == "null":
        return None, False
    h, w = (height or 4), (width or 4)
    seed = (len(payload) * 2654435761 + w * 97 + h * 31) % 2147483647
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(3)[None, None, :]
    return ((seed + 31 * r + 7 * c + 13 * ch) % 256).astype(np.uint8), False


def image_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_dim: int = 8,
    on_undecodable: str = "error",
) -> DataFrame:
    """Decode -> pooled feature vector, batched via mapInPandas.

    Output schema: input columns (minus payload, which is pruned as early
    as possible) + feature array<float> + decode_ok boolean (true = a real
    decoder produced the pixels; false = fallback per ``on_undecodable``;
    NULL = NULL payload). ``on_undecodable`` (see _UNDECODABLE_POLICIES)
    defaults to "error": an undecodable payload fails the job rather than
    silently producing wrong features."""
    if on_undecodable not in _UNDECODABLE_POLICIES:
        raise ValueError(f"on_undecodable must be one of {_UNDECODABLE_POLICIES}")
    out_fields = [f for f in df.schema.fields if f.name != payload_col]
    schema = T.StructType(
        out_fields
        + [
            T.StructField("feature", T.ArrayType(T.FloatType())),
            T.StructField("decode_ok", T.BooleanType()),
        ]
    )
    names = [f.name for f in out_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                bytes(p) if p is not None else None for p in pdf[payload_col]
            ]
            # SOI-signature payloads can only ever decode as JPEG (the
            # other containers' magics differ): run them through ONE
            # vectorized batch entropy decode; a None falls through to the
            # kernel cascade, whose serial JPEG re-try also yields None
            jpeg_rows = [
                i for i, p in enumerate(payloads)
                if p is not None and p[:2] == b"\xff\xd8"
            ]
            decoded = (
                dict(
                    zip(
                        jpeg_rows,
                        decode_jpeg_batch([payloads[i] for i in jpeg_rows]),
                    )
                )
                if jpeg_rows
                else {}
            )
            feats, oks = [], []
            for i, (payload, w, h) in enumerate(
                zip(payloads, pdf.get("width"), pdf.get("height"))
            ):
                if payload is None:
                    feats.append(None)
                    oks.append(None)
                    continue
                img = decoded.get(i)
                if img is not None:
                    ok = True
                else:
                    img, ok = _decode_image_kernel(
                        payload, int(w or 0), int(h or 0), on_undecodable
                    )
                oks.append(ok)
                if img is None:  # "null" policy fallback
                    feats.append(None)
                    continue
                # mean-pool rows into out_dim horizontal bands (stand-in for
                # a real embedding model; deterministic). Integer sums are
                # exact in float64 regardless of summation order, so the
                # band mean is bit-identical to the SQL oracle's
                # sum/count/255 before the float32 narrowing.
                bands = np.array_split(img, out_dim, axis=0)
                feats.append(
                    np.array(
                        [float(b.mean(dtype=np.float64)) / 255.0 for b in bands],
                        dtype=np.float32,
                    )
                )
            out = pdf[names].copy()
            out["feature"] = feats
            out["decode_ok"] = pd.array(oks, dtype="boolean")
            yield out

    return df.mapInPandas(gen, schema=schema)


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
) -> DataFrame:
    """PCM-WAV decode -> (decoded_rate, n_frames, rms, zero_cross_rate),
    batched via mapInPandas. Payloads that aren't PCM WAV yield NULLs —
    a compressed-audio decoder (torchaudio/ffmpeg) would slot into
    decode_wav the way PIL slots into the image kernel."""
    out_fields = [f for f in df.schema.fields if f.name != payload_col]
    schema = T.StructType(
        out_fields
        + [
            T.StructField("decoded_rate", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_cross_rate", T.DoubleType()),
        ]
    )
    names = [f.name for f in out_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, frames, rmss, zcrs = [], [], [], []
            for payload in pdf[payload_col]:
                decoded = decode_wav(bytes(payload)) if payload is not None else None
                if decoded is None:
                    rates.append(None), frames.append(None)
                    rmss.append(None), zcrs.append(None)
                    continue
                rate, samples = decoded
                mono = samples.mean(axis=1)
                n = len(mono)
                rates.append(rate)
                frames.append(n)
                rmss.append(float(np.sqrt(np.mean(mono**2))) if n else None)
                zcrs.append(
                    float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    if n > 1
                    else None
                )
            out = pdf[names].copy()
            out["decoded_rate"] = pd.array(rates, dtype="Int32")
            out["n_frames"] = pd.array(frames, dtype="Int64")
            out["rms"] = pd.array(rmss, dtype="Float64")
            out["zero_cross_rate"] = pd.array(zcrs, dtype="Float64")
            yield out

    return df.mapInPandas(gen, schema=schema)


def frame_sample(
    df: DataFrame,
    every_s: float = 1.0,
    payload_col: str = "payload",
    duration_col: str = "duration_s",
) -> DataFrame:
    """Video -> one row per sampled frame timestamp (explode is JVM-side;
    actual frame decode is the stubbed kernel's job downstream)."""
    n_frames = F.greatest(
        (F.col(duration_col) / F.lit(float(every_s))).cast("int"), F.lit(1)
    )
    ts = F.transform(
        F.sequence(F.lit(0), n_frames - 1), lambda i: i * F.lit(float(every_s))
    )
    return df.withColumn("frame_ts", F.explode(ts))


def resize_spec(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Compute target (width, height) preserving aspect ratio — pure expr;
    the actual resample happens in the decode kernel."""
    scale = F.lit(float(max_side)) / F.greatest(F.col("width"), F.col("height"))
    clamped = F.least(scale, F.lit(1.0))
    return df.withColumn(
        "target_width", F.ceil(F.col("width") * clamped).cast("int")
    ).withColumn("target_height", F.ceil(F.col("height") * clamped).cast("int"))


def synthetic_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests/bench."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                rng = np.random.default_rng(seed * 1_000_003 + int(i))
                mt = ("image", "audio", "video")[int(i) % 3]
                rows.append(
                    {
                        "media_id": int(i),
                        "media_type": mt,
                        "payload": rng.bytes(64),
                        "width": int(rng.integers(16, 64)) if mt != "audio" else None,
                        "height": int(rng.integers(16, 64)) if mt != "audio" else None,
                        "duration_s": float(rng.uniform(1, 10)) if mt != "image" else None,
                        "sample_rate": 16000 if mt == "audio" else None,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=max(4, n // 10_000)).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )
