"""Multimodal column handling for training-data pipelines.

The reference's `media` table (init.sql:36-45) stores typed URLs; a
100 TB corpus pipeline instead carries the payload inline: an opaque
``binary`` column plus typed metadata, processed by Arrow-batched
Pandas functions over ``mapInPandas``.

Real pure-Python codecs ship in-container for the uncompressed/simple
container formats: WAV (audio), PPM/PNG/JPEG (image), YUV4MPEG2
(video).  Compressed codecs needing external libs (MP3, H.264/MP4)
remain stubs behind ``set_decoder`` (a deterministic fake decoder is
the default in tests) — the Spark-side plumbing is identical either
way: schema contracts, binary batching, partition sizing, UDF
signatures."""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_bytes", T.IntegerType()),
        T.StructField("content_hash", T.StringType()),
        # double, not float32: features here are hash-derived doubles
        # (real model embeddings would be float32; the fake-decoder tier
        # keeps full precision so results are bit-reproducible across
        # engines)
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

# Pluggable decoder registry: media_type -> bytes -> list[float].
_DECODERS: dict[str, Callable[[bytes], list[float]]] = {}


def set_decoder(media_type: str, fn: Callable[[bytes], list[float]]) -> None:
    _DECODERS[media_type] = fn


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'embedding' from the payload hash — stands in
    for a real decode→model feature extraction (which would import
    PIL/torchvision here; NotImplementedError in this container)."""
    digest = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in digest[:dim]]


def real_decode_unavailable(payload: bytes) -> list[float]:
    raise NotImplementedError(
        "no codec for this media type in this container; register a "
        "decoder with set_decoder(media_type, fn) — pure-Python WAV/MP3 "
        "(decode_audio_features), PPM/PNG/JPEG (decode_image_features) "
        "and YUV4MPEG2/MP4 (decode_y4m_features/decode_mp4_features) "
        "kernels ship in-container; compressed-audio sample decode "
        "(MDCT synthesis) and H.264 pixel decode need external libs"
    )


def _wav_pcm(payload: bytes):
    """Parse RIFF/WAVE PCM bytes → (n_ch, rate, bits, normalized
    float64 interleaved samples in [-1, 1)).  Supports PCM 8-bit
    unsigned and 16-bit signed little-endian; raises ValueError on
    malformed payloads (→ quarantine).  Shared by the feature decoder
    and the resample transform."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt_body = data_body = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_body is None or len(fmt_body) < 16 or data_body is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _brate, _balign, bits = struct.unpack(
        "<HHIIHH", fmt_body[:16]
    )
    if audio_fmt != 1 or n_ch < 1 or rate < 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV: fmt={audio_fmt} ch={n_ch} bits={bits}")
    if bits == 16:
        n = len(data_body) // 2
        samples = np.frombuffer(data_body[: n * 2], dtype="<i2").astype(np.float64)
        norm = samples / 32768.0
    else:
        norm = (np.frombuffer(data_body, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    return n_ch, rate, bits, norm


def decode_wav_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container audio decoder: parses RIFF/WAVE PCM bytes
    (stdlib struct + numpy, no external codec) and extracts a fixed
    8-dim signal-level feature vector:

      [n_channels, sample_rate, bits_per_sample, frames,
       duration_s, rms, peak, zero_crossing_rate]

    Supports PCM 8-bit unsigned and 16-bit signed little-endian (the
    canonical uncompressed WAV encodings).  Raises ValueError on
    malformed payloads so the quarantine path (not silent garbage)
    handles corrupt media.  Register with set_decoder('audio', ...).
    """
    import numpy as np

    n_ch, rate, bits, norm = _wav_pcm(payload)
    frames = len(norm) // n_ch
    if frames == 0:
        return [float(n_ch), float(rate), float(bits), 0.0, 0.0, 0.0, 0.0, 0.0]
    rms = float(np.sqrt(np.mean(norm * norm)))
    peak = float(np.abs(norm).max())
    # single-sample audio has no crossings (mean over an empty diff
    # would be NaN, which poisons downstream aggregates silently)
    zcr = (
        float(np.mean(np.signbit(norm[1:]) != np.signbit(norm[:-1])))
        if len(norm) >= 2
        else 0.0
    )
    return [
        float(n_ch), float(rate), float(bits), float(frames),
        round(frames / rate, 6), round(rms, 6), round(peak, 6), round(zcr, 6),
    ]


def _ppm_raster(payload: bytes):
    """Parse binary PPM (P6) bytes → (w, h, maxval, h×w×3 uint raster).
    Header tokens (width, height, maxval, '#' comments skipped), then a
    raw RGB raster; maxval ≤ 255 is 1 byte/channel, 256-65535 is
    2 bytes/channel big-endian per the netpbm spec.  Raises ValueError
    on malformed payloads (quarantine path)."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    # header = 4 whitespace-separated tokens (magic, w, h, maxval) with
    # optional '#' comments; the raster starts after ONE whitespace byte
    # following maxval
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3 or i >= len(payload):
        raise ValueError("truncated PPM header")
    i += 1  # the single whitespace after maxval
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError as exc:
        raise ValueError("non-numeric PPM header") from exc
    if w < 1 or h < 1 or not 0 < maxval < 65536:
        raise ValueError(f"bad PPM dimensions {w}x{h} maxval={maxval}")
    n_vals = w * h * 3
    if maxval < 256:
        raster = np.frombuffer(payload, dtype=np.uint8, count=n_vals, offset=i)
    else:
        raster = np.frombuffer(payload, dtype=">u2", count=n_vals, offset=i)
    if raster.size < n_vals:
        raise ValueError("truncated PPM raster")
    return w, h, maxval, raster.reshape(h, w, 3)


def decode_ppm_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container image decoder: parses binary PPM (P6) bytes
    (via _ppm_raster) and extracts a fixed 8-dim feature vector:

      [width, height, maxval, mean_r, mean_g, mean_b,
       luma_mean, luma_std]          (channel stats normalized 0-1)

    Register with set_decoder('image', ...)."""
    import numpy as np

    w, h, maxval, raster = _ppm_raster(payload)
    px = raster.astype(np.float64) / float(maxval)
    means = px.mean(axis=(0, 1))
    luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return [
        float(w), float(h), float(maxval),
        round(float(means[0]), 6), round(float(means[1]), 6),
        round(float(means[2]), 6),
        round(float(luma.mean()), 6), round(float(luma.std()), 6),
    ]


def _png_rgb(payload: bytes):
    """Full PNG decode via stdlib zlib + numpy scanline unfiltering (no
    PIL) → (w, h, bit_depth, h×w×3 float64 RGB in [0,1]).

    Supports non-interlaced 8/16-bit gray (0), RGB (2), palette (3),
    gray+alpha (4) and RGBA (6) — i.e. every standard color type; alpha
    is dropped and gray replicates into r=g=b.  All five scanline
    filters (none/sub/up/average/paeth) are reconstructed per the PNG
    spec.  Raises ValueError on malformed payloads so the quarantine
    path handles corrupt media."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # length + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if n_ch is None or w < 1 or h < 1:
        raise ValueError(f"bad PNG header {w}x{h} color={color}")
    if interlace != 0:
        raise ValueError("Adam7 interlaced PNG unsupported")
    if depth not in (8, 16) or (color == 3 and depth != 8):
        raise ValueError(f"unsupported PNG bit depth {depth} for color {color}")
    try:
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    except zlib.error as exc:
        raise ValueError("corrupt IDAT stream") from exc
    bpp = n_ch * depth // 8  # filter unit: bytes per pixel
    stride = w * bpp
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG raster")
    # Scanline reconstruction (PNG spec §9): prev = zero row above.
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.intp)
    for y in range(h):
        line = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, cur = line[0], line[1:].astype(np.intp)
        if ftype == 2:  # up — vectorized, no in-row dependency
            cur = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):  # sub/average/paeth depend on recon[x-bpp]
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (cur[x] + (a + b) // 2) & 0xFF
                else:  # paeth predictor
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (cur[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    if depth == 16:
        px = out.reshape(h, w, n_ch, 2).astype(np.float64)
        px = (px[..., 0] * 256 + px[..., 1]) / 65535.0
    else:
        px = out.reshape(h, w, n_ch).astype(np.float64) / 255.0
    if color == 3:  # palette index → PLTE RGB triples
        if plte is None or len(plte) < 3:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3).astype(np.float64) / 255.0
        idx = np.clip((px[:, :, 0] * 255).astype(np.intp), 0, len(pal) - 1)
        rgb = pal[idx]
    elif color in (0, 4):  # gray (+alpha) → replicate
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # RGB / RGBA — drop alpha
        rgb = px[:, :, :3]
    return w, h, depth, rgb


def decode_png_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container image decoder: full PNG decode (see
    :func:`_png_rgb`), emitting the same 8-dim pixel-stat shape as
    :func:`decode_ppm_features`:

      [width, height, bit_depth, mean_r, mean_g, mean_b,
       luma_mean, luma_std]          (channel stats normalized 0-1)

    The reference's media table stores news-image URLs (crawler-service
    init.sql:36-45); this is the in-container decode kernel for the
    common web-image case.  Register with set_decoder('image', ...) or
    use the sniffing :func:`decode_image_features`."""
    w, h, depth, rgb = _png_rgb(payload)
    means = rgb.mean(axis=(0, 1))
    luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    return [
        float(w), float(h), float(depth),
        round(float(means[0]), 6), round(float(means[1]), 6),
        round(float(means[2]), 6),
        round(float(luma.mean()), 6), round(float(luma.std()), 6),
    ]


# JPEG zigzag scan order (index i holds the raster position of the
# i-th zigzag coefficient) — ITU-T T.81 Figure 5
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    """8×8 DCT-II basis T with T[k,n] = c_k/2 · cos((2n+1)kπ/16):
    forward F = T·f·Tᵀ, inverse f = Tᵀ·F·T."""
    import numpy as np

    n = np.arange(8)
    T = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) / 2.0
    T[0] /= np.sqrt(2.0)
    return T


def _split_entropy_segments(data: bytes, pos: int) -> list[bytes]:
    """Vectorized entropy-scan preprocessing: starting at ``pos``,
    classify every 0xFF in ONE numpy pass (stuffed 0xFF00 / RSTn
    restart marker / terminating marker or EOF), strip the stuffing
    bytes with `np.delete`, and return one unstuffed bytes chunk per
    restart interval.  This removes the per-byte Python marker checks
    from the decode loop entirely — the sequential Huffman walk then
    runs over plain unstuffed bytes."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    n = arr.shape[0]
    ffs = np.nonzero(arr[pos:] == 0xFF)[0] + pos
    valid = ffs[ffs + 1 < n]
    nxt = arr[valid + 1]
    is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    term = valid[(nxt != 0) & ~is_rst]
    if term.size:
        end = int(term[0])
    elif ffs.size and int(ffs[-1]) == n - 1:
        end = int(ffs[-1])  # lone trailing 0xFF: scan data ends there
    else:
        end = n
    sel = valid < end
    valid, nxt = valid[sel], nxt[sel]
    stuffed_zeros = valid[nxt == 0] + 1  # positions of the 0x00 pads
    rsts = valid[(nxt >= 0xD0) & (nxt <= 0xD7)]
    segments: list[bytes] = []
    seg_start = pos
    for b in rsts.tolist() + [end]:
        dl = stuffed_zeros[(stuffed_zeros >= seg_start) & (stuffed_zeros < b)]
        segments.append(np.delete(arr[seg_start:b], dl - seg_start).tobytes())
        seg_start = b + 2  # skip the RSTn marker bytes
    return segments


def _huff_decode_map(bits: list[int], vals: bytes) -> dict:
    """Canonical Huffman (length, code) → symbol map from a DHT
    segment's 16 length counts + value list."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_lut(table: dict) -> tuple[int, list[int]]:
    """Flat table-driven decoder from a canonical (length, code)→sym
    map: (maxlen, lut) where lut[peek(maxlen)] = (sym << 5) | length
    and 0 marks an invalid prefix.  Each code fills its 2^(maxlen−len)
    aliases with one slice assignment, so the build is O(table size),
    and a symbol decode is one list index."""
    maxlen = max(length for length, _ in table)
    lut = [0] * (1 << maxlen)
    for (length, code), sym in table.items():
        span = 1 << (maxlen - length)
        start = code << (maxlen - length)
        lut[start : start + span] = [(sym << 5) | length] * span
    return maxlen, lut


def _jpeg_decode_pixels(payload: bytes):
    """Full baseline-JPEG (SOF0, Huffman) pixel decode in pure
    numpy/Python: marker parse → canonical Huffman entropy decode →
    dequantize → de-zigzag → 8×8 IDCT → MCU plane assembly → chroma
    upsample → YCbCr→RGB.  Supports 1- or 3-component frames, any
    1-2× sampling factors, 8/16-bit DQT, and DRI restart markers.
    Returns (w, h, precision, rgb float64 HxWx3 in [0,1]).  Raises
    ValueError on progressive (SOF2), arithmetic coding, or ANY
    malformed stream (truncated segments raise struct.error/IndexError
    internally and are converted) — callers fall back to the
    header+stats path or quarantine."""
    import struct

    try:
        return _jpeg_decode_pixels_inner(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG stream: {exc}") from exc


def _jpeg_decode_pixels_inner(payload: bytes):
    import struct

    import numpy as np

    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG marker stream")
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        (size,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            precision, h, w, n_comp = struct.unpack(">BHHB", body[:6])
            if len(body) < 6 + 3 * n_comp:
                raise ValueError("truncated SOF components")
            comps = []
            for c in range(n_comp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = (precision, h, w, comps)
        elif marker in (0xC2, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDB:  # DQT
            t = 0
            while t < len(body):
                pq, tq = body[t] >> 4, body[t] & 0xF
                t += 1
                if pq == 0:
                    tbl = np.frombuffer(body[t : t + 64], dtype=np.uint8).astype(np.float64)
                    t += 64
                else:
                    tbl = np.frombuffer(body[t : t + 128], dtype=">u2").astype(np.float64)
                    t += 128
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            t = 0
            while t < len(body):
                tc, th = body[t] >> 4, body[t] & 0xF
                bits = list(body[t + 1 : t + 17])
                n = sum(bits)
                vals = body[t + 17 : t + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = _huff_decode_map(bits, vals)
                t += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_tables = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan_tables[cid] = (tt >> 4, tt & 0xF)
            scan_pos = pos + 2 + size
            break
        pos += 2 + size

    precision, h, w, comps = frame
    for c in comps:
        if c["id"] not in scan_tables or c["tq"] not in qt:
            raise ValueError("JPEG scan references missing component/quant table")
        tdc, tac = scan_tables[c["id"]]
        if tdc not in huff_dc or tac not in huff_ac:
            raise ValueError("JPEG scan references missing Huffman table")
        if not (1 <= c["h"] <= 2 and 1 <= c["v"] <= 2):
            raise ValueError(f"unsupported sampling factors {c['h']}x{c['v']}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_cols = -(-w // (8 * hmax))
    mcu_rows = -(-h // (8 * vmax))
    T = _dct_matrix()
    planes = {
        c["id"]: np.zeros((mcu_rows * c["v"] * 8, mcu_cols * c["h"] * 8))
        for c in comps
    }
    segments = _split_entropy_segments(payload, scan_pos)
    dc_luts = {th: _huff_lut(t) for th, t in huff_dc.items()}
    ac_luts = {th: _huff_lut(t) for th, t in huff_ac.items()}
    # the sequential pass only DECODES coefficients — pure-int Python
    # with the bit accumulator INLINED as locals (the call overhead of
    # a reader object is ~3× the arithmetic at this grain); dequant,
    # de-zigzag, IDCT and plane assembly are batched numpy afterwards.
    # acc holds `nbits` MSB-first bits; past the segment end, zero pad
    # bits are appended and `pad` tracks them — CONSUMING one raises
    # (truncation detection).
    coeffs: dict[int, list] = {c["id"]: [] for c in comps}
    coords: dict[int, list] = {c["id"]: [] for c in comps}
    pred = {c["id"]: 0 for c in comps}
    seg_i = 0
    d = segments[0]
    nd = len(d)
    p = acc = nbits = pad = 0
    mcu_i = 0
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing JPEG restart marker")
                d = segments[seg_i]
                nd = len(d)
                p = acc = nbits = pad = 0
                pred = {c["id"]: 0 for c in comps}
            mcu_i += 1
            for c in comps:
                dc_len, dc_lut = dc_luts[scan_tables[c["id"]][0]]
                ac_len, ac_lut = ac_luts[scan_tables[c["id"]][1]]
                cid = c["id"]
                pred_c = pred[cid]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = [0] * 64
                        # refill to ≥32 bits (4-byte batch when
                        # available): covers dc_len(≤16)+s(≤15)
                        if nbits < 32:
                            if p + 4 <= nd:
                                acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(d[p : p + 4], "big")
                                p += 4
                                nbits += 32
                            else:
                                while nbits < 32:
                                    if p < nd:
                                        acc = ((acc & ((1 << nbits) - 1)) << 8) | d[p]
                                        p += 1
                                    else:
                                        acc = (acc & ((1 << nbits) - 1)) << 8
                                        pad += 8
                                    nbits += 8
                        e = dc_lut[(acc >> (nbits - dc_len)) & ((1 << dc_len) - 1)]
                        if e == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        nbits -= e & 31
                        s = e >> 5
                        if s:
                            v = (acc >> (nbits - s)) & ((1 << s) - 1)
                            nbits -= s
                            pred_c += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                        if nbits < pad:
                            raise ValueError("truncated JPEG scan")
                        zz[0] = pred_c
                        k = 1
                        while k < 64:
                            # refill to ≥31: covers ac_len(≤16)+size(≤15)
                            if nbits < 31:
                                if p + 4 <= nd:
                                    acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(d[p : p + 4], "big")
                                    p += 4
                                    nbits += 32
                                else:
                                    while nbits < 32:
                                        if p < nd:
                                            acc = ((acc & ((1 << nbits) - 1)) << 8) | d[p]
                                            p += 1
                                        else:
                                            acc = (acc & ((1 << nbits) - 1)) << 8
                                            pad += 8
                                        nbits += 8
                            e = ac_lut[(acc >> (nbits - ac_len)) & ((1 << ac_len) - 1)]
                            if e == 0:
                                raise ValueError("invalid JPEG Huffman code")
                            nbits -= e & 31
                            rs = e >> 5
                            size_ = rs & 0xF
                            if size_ == 0:
                                if nbits < pad:
                                    raise ValueError("truncated JPEG scan")
                                if rs == 0xF0:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            v = (acc >> (nbits - size_)) & ((1 << size_) - 1)
                            nbits -= size_
                            if nbits < pad:
                                raise ValueError("truncated JPEG scan")
                            zz[k] = (
                                v - (1 << size_) + 1
                                if v < (1 << (size_ - 1))
                                else v
                            )
                            k += 1
                        pred[cid] = pred_c
                        coeffs[cid].append(zz)
                        coords[cid].append(
                            ((my * c["v"] + by) * 8, (mx * c["h"] + bx) * 8)
                        )

    for c in comps:
        cid = c["id"]
        if not coeffs[cid]:
            continue
        zzs = np.asarray(coeffs[cid], dtype=np.float64)  # (N, 64) zigzag
        deq = np.empty_like(zzs)
        deq[:, _JPEG_ZIGZAG] = zzs * qt[c["tq"]][None, :]
        blocks = deq.reshape(-1, 8, 8)
        # batched 2-D IDCT: Tᵀ·F·T over every block in two tensordots
        spatial = np.einsum("ij,njk,kl->nil", T.T, blocks, T) + 128.0
        plane = planes[cid]
        for (y0, x0), sp in zip(coords[cid], spatial):
            plane[y0 : y0 + 8, x0 : x0 + 8] = sp

    full = []
    for c in comps:
        p = planes[c["id"]]
        cw, ch = -(-w * c["h"] // hmax), -(-h * c["v"] // vmax)
        p = p[:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        rgb = np.repeat(np.clip(full[0], 0, 255)[:, :, None], 3, axis=2)
    elif len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.clip(np.stack([r, g, b], axis=2), 0, 255)
    else:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    return w, h, precision, rgb / 255.0


def encode_jpeg_baseline(
    rgb: "np.ndarray", qtable_value: int = 1, restart_interval: int = 0
) -> bytes:
    """Minimal baseline-JPEG encoder (pure numpy/Python) — the
    write-side twin of `_jpeg_decode_pixels` for the transform seam
    and its round-trip tests.  Input: HxWx3 float64 RGB in [0,1] or
    HxW grayscale.  Uses a flat quantization table (qtable_value=1 ≈
    near-lossless for smooth content) and simple canonical Huffman
    tables (12 four-bit DC codes, 256 nine-bit AC codes), no chroma
    subsampling — small output, trivially spec-conformant."""
    import struct

    import numpy as np

    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    x = np.clip(np.asarray(rgb, dtype=np.float64), 0.0, 1.0) * 255.0
    if gray:
        planes = [x]
    else:
        r, g, b = x[:, :, 0], x[:, :, 1], x[:, :, 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]

    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = bytes(range(12))
    ac_bits = [0] * 16
    ac_bits[8], ac_bits[9] = 255, 1  # 255 rs symbols at 9 bits + one at 10
    ac_vals = bytes(range(256))

    def canonical_codes(bits):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                out[k] = (length, code)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_codes = canonical_codes(dc_bits)
    ac_codes = {}
    for i, (length, code) in canonical_codes(ac_bits).items():
        ac_codes[ac_vals[i]] = (length, code)

    out = bytearray(b"\xff\xd8")  # SOI
    q = np.full(64, qtable_value, dtype=np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + q.tobytes()
    n_comp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for cid in range(1, n_comp + 1):
        sof += bytes([cid, 0x11, 0])  # no subsampling, qtable 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc in (0, 1):
        bits = dc_bits if tc == 0 else ac_bits
        vals = dc_vals if tc == 0 else ac_vals
        body = bytes([tc << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">H", 4) + struct.pack(">H", restart_interval)
    sos = bytes([n_comp])
    for cid in range(1, n_comp + 1):
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bitbuf: list[int] = [0, 0]  # acc, nbits

    def put_bits(code: int, length: int):
        acc, nb = bitbuf
        acc = (acc << length) | code
        nb += length
        while nb >= 8:
            nb -= 8
            byte = (acc >> nb) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        bitbuf[0] = acc & ((1 << nb) - 1)
        bitbuf[1] = nb

    def flush_bits():
        if bitbuf[1]:
            pad = 8 - bitbuf[1]
            put_bits((1 << pad) - 1, pad)  # 1-pad to byte boundary

    def category(v: int) -> int:
        return int(v).bit_length() if v >= 0 else int(-v).bit_length()

    T = _dct_matrix()
    bw, bh = -(-w // 8), -(-h // 8)
    padded = []
    for p in planes:
        pp = np.empty((bh * 8, bw * 8))
        pp[:h, :w] = p
        pp[h:, :w] = p[h - 1 : h, :]  # edge-replicate padding
        pp[:, w:] = pp[:, w - 1 : w]
        padded.append(pp)
    pred = [0] * n_comp
    mcu_i = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                flush_bits()
                out += bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) % 8)])
                pred = [0] * n_comp
            mcu_i += 1
            for ci, p in enumerate(padded):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coeffs = T @ block @ T.T
                zz = np.round(coeffs.reshape(64)[_JPEG_ZIGZAG] / qtable_value).astype(int)
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s = category(diff)
                length, code = dc_codes[s]
                put_bits(code, length)
                if s:
                    put_bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        length, code = ac_codes[0xF0]
                        put_bits(code, length)
                        run -= 16
                    s = category(v)
                    length, code = ac_codes[(run << 4) | s]
                    put_bits(code, length)
                    put_bits(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    length, code = ac_codes[0x00]
                    put_bits(code, length)
    flush_bits()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def reencode_jpeg(payload: bytes, qtable_value: int = 8) -> bytes:
    """Recompress a baseline JPEG through the pure-numpy codec pair
    (pixel decode → flat-quant re-encode) — the image-compression
    transform for the write-side registry:
    ``set_transform('image', lambda p: reencode_jpeg(p, 16))``.
    Raises ValueError on non-baseline input (→ quarantine)."""
    _w, _h, _prec, rgb = _jpeg_decode_pixels(payload)
    return encode_jpeg_baseline(rgb, qtable_value=qtable_value)


def decode_jpeg_features(payload: bytes) -> list[float]:
    """REAL in-container JPEG decoder (no external codec).  The vector
    is 9-dim; element 0 is a decoded flag so the two CURRENT layouts
    (pixel-decoded vs header-stats fallback, both 9-dim) can never be
    mistaken for each other.  LAYOUT VERSION BREAK: the pre-r5 8-dim
    layout put width at element 0, which can equal 1.0 — features
    persisted by that layout are NOT distinguishable from flag-prefixed
    vectors by value and must be re-extracted (length 8 vs 9 is the
    only safe discriminator).  Baseline (SOF0, Huffman) payloads get a
    FULL pixel decode
    (`_jpeg_decode_pixels`: Huffman → dequant → IDCT → upsample →
    YCbCr→RGB):

      [1.0, width, height, precision_bits, mean_r, mean_g, mean_b,
       luma_mean, luma_std]

    Progressive/arithmetic or otherwise undecodable streams fall back
    to the header+stats profile:

      [0.0, width, height, precision_bits, n_components,
       n_quant_tables, progressive_flag, scan_byte_mean,
       scan_byte_entropy]

    scan_byte_mean is normalized to 0-1; scan_byte_entropy is Shannon
    bits/byte normalized by 8.  Raises ValueError on malformed
    payloads (→ quarantine)."""
    import struct

    import numpy as np

    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    try:
        w, h, precision, rgb = _jpeg_decode_pixels(payload)
    except ValueError:
        pass  # non-baseline / undecodable → header+stats profile below
    else:
        means = rgb.mean(axis=(0, 1))
        luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        return [
            1.0, float(w), float(h), float(precision),
            round(float(means[0]), 6), round(float(means[1]), 6),
            round(float(means[2]), 6),
            round(float(luma.mean()), 6), round(float(luma.std()), 6),
        ]
    w = h = precision = n_comp = None
    n_dqt, progressive = 0, 0
    pos, scan_start = 2, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before any SOS
            break
        (size,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + size]
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0 baseline/ext/SOF2 progressive
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            precision, h, w, n_comp = struct.unpack(">BHHB", body[:6])
            progressive = 1 if marker == 0xC2 else 0
        elif marker == 0xDB:  # DQT — may pack several tables per segment
            t = 0
            while t < len(body):
                n_dqt += 1
                t += 1 + (64 if body[t] >> 4 == 0 else 128)
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            scan_start = pos + 2 + size
            break
        pos += 2 + size
    if w is None or h is None or w < 1 or h < 1:
        raise ValueError("no SOF frame header found")
    if scan_start is None:
        raise ValueError("no SOS scan found")
    # Entropy data runs to EOI; 0xFF00 stuffing and RSTn stay in-stream.
    scan = np.frombuffer(payload, dtype=np.uint8, offset=scan_start)
    end = len(scan)
    ff = np.flatnonzero(scan[:-1] == 0xFF)
    for i in ff:
        nxt = scan[i + 1]
        if nxt == 0xD9:
            end = i
            break
        if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
            end = i  # next real marker (truncated/multi-scan) ends stats
            break
    scan = scan[:end]
    if len(scan) == 0:
        mean = ent = 0.0
    else:
        mean = float(scan.mean()) / 255.0
        counts = np.bincount(scan, minlength=256).astype(np.float64)
        p = counts[counts > 0] / len(scan)
        ent = float(-(p * np.log2(p)).sum()) / 8.0
    return [
        0.0, float(w), float(h), float(precision), float(n_comp),
        float(n_dqt), float(progressive), round(mean, 6), round(ent, 6),
    ]


def decode_image_features(payload: bytes, dim: int = 8) -> list[float]:
    """Magic-byte dispatching image decoder for the ``image`` registry
    slot: PPM (P6), PNG and JPEG payloads all route to their real
    in-container kernels from one registered decoder — the shape a
    mixed web-crawl media column actually has."""
    if payload[:2] == b"P6":
        return decode_ppm_features(payload, dim)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_features(payload, dim)
    if payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg_features(payload)
    raise ValueError("unrecognized image container (not PPM/PNG/JPEG)")


# MPEG-audio header tables (ISO/IEC 11172-3 / 13818-3): bitrate kbps by
# (version-group, layer) and sample rate by version
_MP3_BITRATES = {
    (1, 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (1, 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (1, 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (2, 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (2, 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {1.0: [44100, 48000, 32000], 2.0: [22050, 24000, 16000], 2.5: [11025, 12000, 8000]}


def decode_mp3_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container MP3/MPEG-audio CONTAINER parser (no external
    codec): skips an ID3v2 tag, then walks the frame-header chain
    (sync, version, layer, bitrate/samplerate indexes, padding) frame
    by frame, emitting a fixed 9-dim vector:

      [version, layer, n_frames, duration_s, mean_bitrate_kbps,
       sample_rate, channels, vbr_flag, parsed_frac]

    duration_s is accumulated PER FRAME as samples/that-frame's-rate,
    so sample-rate-switching chains get the correct total (sr in the
    vector reports the FIRST frame's rate).  parsed_frac is the
    fraction of payload bytes consumed by the valid frame chain —
    < 1.0 flags a truncated or partially corrupt stream instead of
    silently undercounting it.  LAYOUT NOTE: parsed_frac was APPENDED
    to the previous 8-dim layout (existing element indices unchanged);
    feature stores written before it can be told apart by length.

    Sample synthesis (Huffman + MDCT filterbank) stays out of scope —
    duration/bitrate/channel layout are what audio curation filters
    key on (length gates, VBR detection, mono/stereo balance).
    Supports MPEG-1/2/2.5 Layers I-III.  Raises ValueError on
    payloads with no valid frame chain (→ quarantine)."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = (
            (payload[6] & 0x7F) << 21 | (payload[7] & 0x7F) << 14
            | (payload[8] & 0x7F) << 7 | (payload[9] & 0x7F)
        )
        pos = 10 + size
    n_frames = 0
    total_dur = 0.0
    bitrates: list[int] = []
    version = layer = sr = channels = None
    while pos + 4 <= len(payload):
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        vbits = (b1 >> 3) & 3
        if vbits == 1:
            break  # reserved version
        v = {0: 2.5, 2: 2.0, 3: 1.0}[vbits]
        lbits = (b1 >> 1) & 3
        if lbits == 0:
            break  # reserved layer
        lyr = 4 - lbits  # 3→I, 2→II, 1→III
        br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            break  # free-format/bad
        vgroup = 1 if v == 1.0 else 2
        br = _MP3_BITRATES[(vgroup, lyr)][br_idx - 1] * 1000
        srate = _MP3_RATES[v][sr_idx]
        pad = (b2 >> 1) & 1
        if lyr == 1:
            frame_len = (12 * br // srate + pad) * 4
            spf = 384
        else:
            spf = 1152 if (lyr == 2 or v == 1.0) else 576
            frame_len = spf // 8 * br // srate + pad
        if frame_len <= 4 or pos + frame_len > len(payload):
            break
        if version is None:
            version, layer, sr = v, lyr, srate
            channels = 1 if (b3 >> 6) & 3 == 3 else 2
        n_frames += 1
        total_dur += spf / srate  # per-frame rate: rate-switch-correct
        bitrates.append(br // 1000)
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no valid MPEG-audio frame chain")
    return [
        float(version), float(layer), float(n_frames),
        round(total_dur, 6),
        round(sum(bitrates) / len(bitrates), 6),
        float(sr), float(channels),
        1.0 if len(set(bitrates)) > 1 else 0.0,
        round(pos / len(payload), 6),
    ]


def decode_mp4_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container MP4/ISO-BMFF CONTAINER parser (no external
    codec): walks the box tree (32/64-bit sizes), reads mvhd
    timescale/duration (v0 and v1), counts trak boxes, takes the
    presentation width/height from the first tkhd with nonzero
    geometry, and sums mdat payload bytes.  Emits:

      [duration_s, timescale, n_tracks, width, height,
       n_top_boxes, mdat_bytes, mvhd_version]

    H.264/H.265 pixel decode stays out of scope — container-level
    duration/geometry/stream-size are the frame-sampling planner's
    inputs (frame_sample_plan needs duration_ms, resolution gates need
    width/height).  Raises ValueError on malformed payloads — missing
    ftyp/moov, bad box sizes, or truncated box bodies (struct/index
    errors are converted) — so the quarantine path handles them."""
    import struct

    try:
        return _decode_mp4_features_inner(payload, dim)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed MP4 stream: {exc}") from exc


def _decode_mp4_features_inner(payload: bytes, dim: int) -> list[float]:
    import struct

    def walk(lo: int, hi: int):
        p = lo
        while p + 8 <= hi:
            (size,) = struct.unpack(">I", payload[p : p + 4])
            btype = payload[p + 4 : p + 8]
            body = p + 8
            if size == 1:
                (size,) = struct.unpack(">Q", payload[p + 8 : p + 16])
                body = p + 16
            elif size == 0:
                size = hi - p
            if size < 8 or p + size > hi:
                raise ValueError("malformed MP4 box size")
            yield btype, body, p + size
            p += size

    if len(payload) < 8:
        raise ValueError("not an MP4 payload")
    have_ftyp = have_moov = False
    n_top = n_tracks = 0
    duration_s = timescale = width = height = mdat_bytes = 0.0
    mvhd_version = -1.0

    for btype, body, end in walk(0, len(payload)):
        n_top += 1
        if btype == b"ftyp":
            have_ftyp = True
        elif btype == b"mdat":
            mdat_bytes += end - body
        elif btype == b"moov":
            have_moov = True
            for ityp, ibody, iend in walk(body, end):
                if ityp == b"mvhd":
                    ver = payload[ibody]
                    mvhd_version = float(ver)
                    if ver == 1:
                        ts, dur = struct.unpack(">IQ", payload[ibody + 20 : ibody + 32])
                    else:
                        ts, dur = struct.unpack(">II", payload[ibody + 12 : ibody + 20])
                    timescale = float(ts)
                    duration_s = round(dur / ts, 6) if ts else 0.0
                elif ityp == b"trak":
                    n_tracks += 1
                    for ttyp, tbody, tend in walk(ibody, iend):
                        # the geometry slice must stay INSIDE the tkhd
                        # body — a truncated box would otherwise read
                        # header bytes as width/height silently
                        if ttyp == b"tkhd" and not width and tend - tbody >= 76:
                            w16, h16 = struct.unpack(">II", payload[tend - 8 : tend])
                            if w16 and h16:
                                width, height = w16 / 65536.0, h16 / 65536.0
    if not (have_ftyp or have_moov):
        raise ValueError("no ftyp/moov box — not an MP4")
    return [
        duration_s, timescale, float(n_tracks), round(width, 6),
        round(height, 6), float(n_top), float(mdat_bytes), mvhd_version,
    ]


def decode_audio_features(payload: bytes, dim: int = 8) -> list[float]:
    """Magic-byte dispatching audio decoder for the ``audio`` registry
    slot: RIFF/WAVE → PCM signal stats, ID3/MPEG sync → MP3 container
    stats."""
    if payload[:4] == b"RIFF":
        return decode_wav_features(payload, dim)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return decode_mp3_features(payload, dim)
    raise ValueError("unrecognized audio container (not WAV/MP3)")


def decode_video_features(payload: bytes, dim: int = 8) -> list[float]:
    """Magic-byte dispatching video decoder for the ``video`` registry
    slot: YUV4MPEG2 → real frame/motion stats, ISO-BMFF → MP4
    container stats."""
    if payload.startswith(b"YUV4MPEG2"):
        return decode_y4m_features(payload, dim)
    if len(payload) >= 8 and payload[4:8] in (
        b"ftyp", b"moov", b"mdat", b"free", b"wide", b"skip"
    ):
        return decode_mp4_features(payload, dim)
    raise ValueError("unrecognized video container (not Y4M/MP4)")


def _y4m_luma_planes(payload: bytes):
    """Parse YUV4MPEG2 → (width, height, fps, [per-frame Y-plane
    bytes]).  The shared header+frame walk under decode_y4m_features
    and vhash64; raises ValueError on malformed payloads (quarantine
    path)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing y4m stream-header terminator")
    width = height = 0
    fps_num, fps_den = 0, 1
    chroma = "420"
    for tok in payload[9:nl].split():
        tag, val = tok[:1], tok[1:]
        try:
            if tag == b"W":
                width = int(val)
            elif tag == b"H":
                height = int(val)
            elif tag == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif tag == b"C":
                chroma = val.decode("ascii", "replace")
        except ValueError as exc:
            raise ValueError(f"bad y4m header token {tok!r}") from exc
    if width < 1 or height < 1 or fps_num < 1 or fps_den < 1:
        raise ValueError(f"bad y4m geometry W={width} H={height} F={fps_num}:{fps_den}")
    y_size = width * height
    if chroma.startswith("420"):
        chroma_bytes = y_size // 2
    elif chroma == "422":
        chroma_bytes = y_size
    elif chroma == "444":
        chroma_bytes = 2 * y_size
    elif chroma == "mono":
        chroma_bytes = 0
    else:
        raise ValueError(f"unsupported y4m chroma subsampling C{chroma}")
    frame_bytes = y_size + chroma_bytes

    y_planes: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_bytes > len(payload):
            raise ValueError("truncated y4m frame")
        y_planes.append(payload[fnl + 1 : fnl + 1 + y_size])
        pos = fnl + 1 + frame_bytes
    return width, height, fps_num / fps_den, y_planes


def decode_y4m_features(payload: bytes, dim: int = 8) -> list[float]:
    """REAL in-container video decoder: parses YUV4MPEG2 ('.y4m', the
    canonical uncompressed raw-video interchange container — plain
    ASCII stream header + per-FRAME planar YUV bytes, via
    _y4m_luma_planes) and extracts a fixed 8-dim signal-level feature
    vector:

      [width, height, fps, n_frames, duration_s,
       mean_luma, std_luma, motion]

    motion = mean absolute per-pixel luma delta between consecutive
    sampled frames (0 for a static clip) — the cheap temporal signal a
    frame-sampling curation filter keys on.  Stats sample at most 16
    evenly-spaced frames so decode cost is bounded per asset.  Supports
    C420*/C422/C444/Cmono chroma; raises ValueError on malformed
    payloads so the quarantine path handles corrupt media.  Register
    with set_decoder('video', ...)."""
    import numpy as np

    width, height, fps, y_planes = _y4m_luma_planes(payload)
    n_frames = len(y_planes)
    if n_frames == 0:
        return [float(width), float(height), round(fps, 6), 0.0, 0.0, 0.0, 0.0, 0.0]
    step = max(1, n_frames // 16)
    sampled = [
        np.frombuffer(y_planes[i], dtype=np.uint8).astype(np.float64)
        for i in range(0, n_frames, step)
    ]
    stack = np.stack(sampled)
    motion = (
        float(np.mean(np.abs(np.diff(stack, axis=0)))) if len(sampled) > 1 else 0.0
    )
    return [
        float(width),
        float(height),
        round(fps, 6),
        float(n_frames),
        round(n_frames / fps, 6),
        round(float(stack.mean()), 6),
        round(float(stack.std()), 6),
        round(motion, 6),
    ]


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode/feature-extract every asset via mapInPandas.

    Arrow ships the binary column in batches; the decoder runs once per
    row inside the batch loop.  Task sizing is the CALLER's lever
    (binary payloads dominate memory — size partitions by bytes via
    spark.sql.files.maxPartitionBytes or an explicit repartition, not
    by row count); this function adds no shuffle of its own."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, hashes, sizes = [], [], []
            for mt, payload in zip(pdf["media_type"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                decoder = _DECODERS.get(mt, _fake_feature)
                feats.append(decoder(raw))
                hashes.append(hashlib.md5(raw).hexdigest())
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "payload_bytes": sizes,
                    "content_hash": hashes,
                    "feature": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def dedup_assets_exact(assets: DataFrame) -> DataFrame:
    """Exact binary dedup by payload md5 — same groupBy-hash strategy
    as text (operators.dedup), hashing JVM-side on the binary column."""
    hashed = assets.withColumn("content_hash", F.md5(F.coalesce(F.col("payload"), F.lit(b""))))
    from pyspark.sql.window import Window

    w = Window.partitionBy("content_hash").orderBy(F.col("asset_id").asc())
    return hashed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: explode each video asset into frame
    timestamps (decode itself is the stubbed kernel).  Shows the
    explode-then-process shape: frames become rows BEFORE the decode
    UDF so Spark parallelizes across frames, not videos."""
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return (
        assets.filter(F.col("media_type") == "video")
        .select(
            "asset_id",
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


# ---------------------------------------------------------------- transforms

# binary → binary transform registry, the write-side mirror of
# _DECODERS: media pipelines resize/re-encode assets, not just read
# them.  Compressed formats (JPEG/PNG re-encode, H.264) stay honest
# NotImplementedError stubs behind the same seam.
_TRANSFORMS: dict[str, Callable[[bytes], bytes]] = {}


def set_transform(media_type: str, fn: Callable[[bytes], bytes]) -> None:
    _TRANSFORMS[media_type] = fn


def resize_ppm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of a binary PPM (P6) image, pure numpy:
    integer index maps select source rows/columns, the raster is
    re-encoded at the same maxval.  The uniform-resize step of an
    image training pipeline, with no image library in the container.
    Raises ValueError on malformed payloads (→ quarantine)."""
    import numpy as np

    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad target size {out_w}x{out_h}")
    w, h, maxval, raster = _ppm_raster(payload)
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    resized = raster[rows][:, cols]
    header = f"P6\n{out_w} {out_h}\n{maxval}\n".encode()
    if maxval < 256:
        body = resized.astype(np.uint8).tobytes()
    else:
        body = resized.astype(">u2").tobytes()
    return header + body


def resample_wav(payload: bytes, out_rate: int) -> bytes:
    """Linear-interpolation resample of RIFF/WAVE PCM audio to
    ``out_rate``, pure numpy — the uniform-sample-rate step of an
    audio training pipeline (models want one rate; crawled audio has
    many).  Channel count is preserved; output is 16-bit signed PCM
    regardless of input depth (the training-standard encoding).
    Register with ``set_transform('audio', lambda p:
    resample_wav(p, 16000))``.  Raises ValueError on malformed or
    non-PCM payloads (→ quarantine)."""
    import struct

    import numpy as np

    if out_rate < 1:
        raise ValueError(f"bad target rate {out_rate}")
    n_ch, rate, _bits, norm = _wav_pcm(payload)
    frames = len(norm) // n_ch
    planar = norm[: frames * n_ch].reshape(frames, n_ch)
    out_frames = max(1, round(frames * out_rate / rate)) if frames else 0
    if frames:
        # sample positions in source time; endpoints clamp
        pos = np.minimum(np.arange(out_frames) * (rate / out_rate), frames - 1)
        src = np.arange(frames, dtype=np.float64)
        resampled = np.stack(
            [np.interp(pos, src, planar[:, c]) for c in range(n_ch)], axis=1
        )
    else:
        resampled = planar
    pcm = np.clip(np.round(resampled * 32768.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, out_rate, out_rate * n_ch * 2, n_ch * 2, 16
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def resize_y4m(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of every frame of a YUV4MPEG2 stream,
    pure numpy — the uniform-resolution step of a video training
    pipeline.  All planes (Y and, where present, subsampled U/V) are
    resized with integer index maps; header geometry is rewritten and
    fps/chroma/interlace tags pass through.  For subsampled chroma
    (C420*/C422) the target dimensions must be compatible with the
    subsampling grid (even where the source plane is halved), else
    ValueError.  Register with ``set_transform('video', lambda p:
    resize_y4m(p, 256, 144))``."""
    import numpy as np

    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad target size {out_w}x{out_h}")
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("missing y4m stream-header terminator")
    width = height = 0
    chroma = "420"
    out_tokens = []
    for tok in payload[9:nl].split():
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            width = int(val)
            out_tokens.append(b"W%d" % out_w)
        elif tag == b"H":
            height = int(val)
            out_tokens.append(b"H%d" % out_h)
        else:
            if tag == b"C":
                chroma = val.decode("ascii", "replace")
            out_tokens.append(tok)
    if width < 1 or height < 1:
        raise ValueError(f"bad y4m geometry W={width} H={height}")
    if chroma.startswith("420"):
        cw, ch_, ocw, och = width // 2, height // 2, out_w // 2, out_h // 2
        if out_w % 2 or out_h % 2:
            raise ValueError("C420 target dimensions must be even")
    elif chroma == "422":
        cw, ch_, ocw, och = width // 2, height, out_w // 2, out_h
        if out_w % 2:
            raise ValueError("C422 target width must be even")
    elif chroma == "444":
        cw, ch_, ocw, och = width, height, out_w, out_h
    elif chroma == "mono":
        cw = ch_ = ocw = och = 0
    else:
        raise ValueError(f"unsupported y4m chroma subsampling C{chroma}")

    def _resize_plane(buf: bytes, w: int, h: int, ow: int, oh: int) -> bytes:
        plane = np.frombuffer(buf, dtype=np.uint8).reshape(h, w)
        rows = (np.arange(oh) * h) // oh
        cols = (np.arange(ow) * w) // ow
        return plane[rows][:, cols].tobytes()

    frame_bytes = width * height + 2 * cw * ch_
    out = bytearray(b"YUV4MPEG2 " + b" ".join(out_tokens) + b"\n")
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_bytes > len(payload):
            raise ValueError("truncated y4m frame")
        out += payload[pos : fnl + 1]  # FRAME line (params pass through)
        p = fnl + 1
        out += _resize_plane(payload[p : p + width * height], width, height,
                             out_w, out_h)
        p += width * height
        for _ in range(2 if cw else 0):
            out += _resize_plane(payload[p : p + cw * ch_], cw, ch_, ocw, och)
            p += cw * ch_
        pos = fnl + 1 + frame_bytes
    return bytes(out)


def transform_assets(
    assets: DataFrame,
    target_w: int | None = None,
    target_h: int | None = None,
) -> DataFrame:
    """Re-encode every asset through its registered transform (e.g.
    `set_transform('image', lambda p: resize_ppm(p, 64, 64))`) via
    mapInPandas — the same Arrow binary-batch shape as
    extract_features, writing bytes instead of features.

    Passing `target_w`/`target_h` (both required together) applies
    `resize_ppm(payload, target_w, target_h)` to 'image' assets with
    no explicitly registered transform — an explicit
    `set_transform('image', ...)` still wins.  The registry snapshot
    is captured at call time and shipped in the task closure, so a
    concurrent `set_transform` cannot change a running job.

    Assets whose media type has no transform (registered or implied)
    pass through unchanged (transform_applied=false); transforms that
    raise mark the row quarantined (payload NULL, error message kept)
    so one corrupt asset can't fail a 100 TB rewrite job.

    Output: (asset_id, media_type, payload, n_bytes_in, n_bytes_out,
    transform_applied, error)."""
    if (target_w is None) != (target_h is None):
        raise ValueError("target_w and target_h must be given together")
    transforms = dict(_TRANSFORMS)
    if target_w is not None and "image" not in transforms:
        w, h = int(target_w), int(target_h)
        transforms["image"] = lambda p: resize_ppm(p, w, h)
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("n_bytes_in", T.LongType()),
            T.StructField("n_bytes_out", T.LongType()),
            T.StructField("transform_applied", T.BooleanType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, n_in, n_out, applied, errs = [], [], [], [], []
            for mt, payload in zip(pdf["media_type"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                n_in.append(len(raw))
                fn = transforms.get(mt)
                if fn is None:
                    outs.append(raw)
                    n_out.append(len(raw))
                    applied.append(False)
                    errs.append(None)
                    continue
                try:
                    t = fn(raw)
                    outs.append(t)
                    n_out.append(len(t))
                    applied.append(True)
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — quarantine, not crash
                    outs.append(None)
                    n_out.append(0)
                    applied.append(False)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "payload": outs,
                    "n_bytes_in": n_in,
                    "n_bytes_out": n_out,
                    "transform_applied": applied,
                    "error": errs,
                }
            )

    return assets.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------- perceptual hashing

# Image near-dup for multimodal training corpora (the LAION-style
# curation step): a 64-bit perceptual hash (pHash — Zauner 2010,
# "Implementation and Benchmarking of Perceptual Image Hash
# Functions") over the decoded raster, then Hamming-distance pairs via
# the same pigeonhole blocking the text SimHash tier uses
# (operators/dedup.py simhash_pairs).  Robust to re-encoding,
# brightness shifts (only the DC coefficient moves) and small pixel
# jitter; exact byte dedup (dedup_assets_exact) misses all of those.

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("phash_error", T.StringType()),
    ]
)


def _dct_matrix_n(n: int):
    """n×n orthonormal DCT-II basis M (M·Mᵀ = I): generalizes the
    JPEG 8×8 _dct_matrix to the 32×32 pHash transform."""
    import numpy as np

    k = np.arange(n)
    M = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    M *= np.sqrt(2.0 / n)
    M[0] /= np.sqrt(2.0)
    return M


def _rgb_raster(payload: bytes):
    """Sniff-decode an image payload → (w, h, h×w×3 float64 RGB in
    [0,1]) using the in-container codecs: PPM (P6), PNG, baseline
    JPEG.  Raises ValueError for unknown magics / malformed payloads
    (quarantine path)."""
    if payload.startswith(b"P6"):
        w, h, maxval, raster = _ppm_raster(payload)
        import numpy as np

        return w, h, raster.astype(np.float64) / float(maxval)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, _depth, rgb = _png_rgb(payload)
        return w, h, rgb
    if payload[:2] == b"\xff\xd8":
        w, h, _prec, rgb = _jpeg_decode_pixels(payload)
        return w, h, rgb
    raise ValueError("unknown image magic for perceptual hash")


def _resize_gray(a, oh: int, ow: int):
    """Deterministic grayscale resize to oh×ow: integer box-mean
    prefilter when downscaling ≥2× (antialias), then center-sample
    index mapping.  Pure numpy, no interpolation library — the same
    bits on every host, which the pinned-Python oracle replay relies
    on."""
    import numpy as np

    h, w = a.shape
    fh, fw = max(h // oh, 1), max(w // ow, 1)
    if fh > 1 or fw > 1:
        a = a[: (h // fh) * fh, : (w // fw) * fw]
        a = a.reshape(h // fh, fh, w // fw, fw).mean(axis=(1, 3))
        h, w = a.shape
    yi = np.minimum(((np.arange(oh) + 0.5) * h / oh).astype(np.intp), h - 1)
    xi = np.minimum(((np.arange(ow) + 0.5) * w / ow).astype(np.intp), w - 1)
    return a[np.ix_(yi, xi)]


def phash64(payload: bytes, hash_size: int = 8, img_size: int = 32) -> int:
    """64-bit perceptual hash of an image payload (PPM/PNG/JPEG).

    luma → img_size² grayscale (box-prefiltered center sampling) →
    2-D orthonormal DCT-II → top-left hash_size² low-frequency block →
    bit i = 1 iff coefficient > median of the block EXCLUDING the DC
    term (brightness lives only in DC, so a uniform brightness shift
    flips at most the DC bit).  Returned as a SIGNED 64-bit int (Spark
    LongType / DuckDB BIGINT two's complement)."""
    import numpy as np

    _w, _h, rgb = _rgb_raster(payload)
    luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    g = _resize_gray(luma, img_size, img_size)
    M = _dct_matrix_n(img_size)
    d = (M @ g) @ M.T
    low = d[:hash_size, :hash_size].ravel()
    med = float(np.median(low[1:]))
    bits = low > med
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def phash_assets(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    hash_size: int = 8,
    img_size: int = 32,
) -> DataFrame:
    """Perceptual-hash every image asset via mapInPandas → (asset_id,
    phash, phash_error).  Decode failures yield phash NULL + the error
    string (quarantine rows), matching transform_assets' convention.
    Embarrassingly parallel — no shuffle; partition sizing by payload
    bytes is the caller's lever, as for extract_features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes: list[int | None] = []
            errs: list[str | None] = []
            for payload in pdf[payload_col]:
                raw = bytes(payload) if payload is not None else b""
                try:
                    hashes.append(phash64(raw, hash_size, img_size))
                    errs.append(None)
                except ValueError as exc:
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "phash": pd.array(hashes, dtype="Int64"),
                    "phash_error": errs,
                }
            )

    return assets.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    id_col: str = "asset_id",
    hash_col: str = "phash",
    blocks: int = 4,
    type_col: str | None = None,
    max_bucket: int | None = 100_000,
    index_hashes: DataFrame | None = None,
) -> DataFrame:
    """Image near-dup pairs: Hamming distance ≤ max_hamming over 64-bit
    perceptual hashes, pigeonhole-blocked exactly like the text tier
    (dedup.simhash_pairs): split the hash into `blocks` 16-bit blocks;
    candidates share ≥1 block (guaranteed recall for hamming < blocks,
    LSH-grade recall above), groupBy(bucket) + upper-triangle
    in-bucket expansion, first-matching-block filter instead of a
    dropDuplicates exchange, exact popcount verification.  Linear
    candidate generation at corpus scale — never an all-pairs join.
    NULL hashes (undecodable assets) never pair.

    `type_col` (e.g. media_type for mixed phash/ahash/vhash corpora)
    joins the bucket key so hashes only pair within their own type —
    cross-type Hamming proximity is meaningless.

    `max_bucket` drops pathological buckets (a visually-degenerate
    corpus hashing millions of assets to one 16-bit block value) from
    pairing — the recall/cost escape hatch every blocked pair operator
    here carries (ngram max_gram_df, semdedup max_cluster_size); the
    in-bucket expansion is quadratic, so one degenerate bucket would
    otherwise dominate the stage.  None disables the cap.

    `index_hashes` (same columns) is a persisted hash index, for
    rolling shard admission: `hashes` is then a NEW shard, and the
    pairs returned are the full-corpus pairs that touch at least one
    shard asset (asserted in tests and by the multimodal_pipeline
    gate's 'phinc' rows) — new assets hash once (8 bytes/asset of index
    growth), the corpus is never re-hashed.  None (cold start) pairs
    `hashes` with itself."""
    from .dedup import _hamming_pairs

    tcols = [type_col] if type_col else []

    def fps(df: DataFrame) -> DataFrame:
        return df.filter(F.col(hash_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(hash_col).alias("fp"), *tcols
        )

    index = None if index_hashes is None else fps(index_hashes)
    return _hamming_pairs(fps(hashes), index, 64, blocks, max_hamming, tcols, max_bucket)


def dedup_assets_perceptual(
    assets: DataFrame,
    max_hamming: int = 10,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """End-to-end perceptual image dedup: phash_assets → pigeonhole
    pairs → connected components → one canonical survivor per visual-
    duplicate group (lowest id) — the image twin of
    dedup.dedup_survivors' text pipeline.  Undecodable assets keep
    is_canonical=true (quarantine is a separate policy decision).
    Output: (asset_id, phash, phash_error, cluster_id, is_canonical)."""
    from .dedup import dedup_survivors

    hashes = phash_assets(assets, id_col=id_col, payload_col=payload_col)
    pairs = phash_pairs(hashes, max_hamming=max_hamming, id_col="asset_id")
    return dedup_survivors(hashes, pairs, id_col="asset_id")


# ---------------------------------------------------------------- audio fingerprinting

# Audio near-dup, the WAV counterpart of phash64: a 64-bit envelope +
# zero-crossing fingerprint (the Haitsma-Kalker 2002 "robust audio
# hashing" family, reduced to two rate-invariant per-window features).
# Robust to volume scaling (both features are level-relative) and to
# resampling (windows divide the CLIP, zero-crossings normalize per
# second); discriminative across unrelated clips.  Pairs reuse
# phash_pairs verbatim (hash_col="ahash"; with index_hashes for
# rolling admission).

AHASH_WINDOWS = 32  # 32 windows × 2 features = 64 bits


def ahash64(payload: bytes) -> int:
    """64-bit audio fingerprint of a RIFF/WAVE payload.

    mono mix → 32 equal windows over the clip → per window
    (log-energy, zero-crossings/sec) → bit = feature > median of its
    feature's 32 values (ties → 0; energy bits first, ZCR bits in the
    high half).  Signed 64-bit (Spark LongType / DuckDB BIGINT)."""
    import numpy as np

    n_ch, rate, _bits, norm = _wav_pcm(payload)
    if norm.size < n_ch * AHASH_WINDOWS:
        raise ValueError(
            f"clip too short for fingerprint: {norm.size} samples"
        )
    frames = norm[: (norm.size // n_ch) * n_ch].reshape(-1, n_ch)
    return _ahash_from_mono(frames.mean(axis=1), rate)


def _ahash_from_mono(mono, rate: int) -> int:
    """The envelope+ZCR hash core over a mono float64 sample array —
    shared by the whole-clip ahash64 and the segment-grain
    segment_ahash_assets."""
    import numpy as np

    n = mono.size
    bounds = [(w * n) // AHASH_WINDOWS for w in range(AHASH_WINDOWS + 1)]
    energies = []
    zcrs = []
    for w in range(AHASH_WINDOWS):
        seg = mono[bounds[w] : bounds[w + 1]]
        energies.append(float(np.log1p(np.sum(seg * seg))))
        signs = np.signbit(seg)
        crossings = int(np.count_nonzero(signs[1:] != signs[:-1]))
        zcrs.append(crossings * rate / max(seg.size, 1))
    v = 0
    for row, base in ((energies, 0), (zcrs, AHASH_WINDOWS)):
        med = float(np.median(row))
        for i, x in enumerate(row):
            if x > med:
                v |= 1 << (base + i)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def ahash_assets(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint every audio asset via mapInPandas → (asset_id,
    ahash, ahash_error) — same quarantine convention as phash_assets;
    feed the result to phash_pairs(hash_col='ahash') for near-dup
    pairs, with index_hashes for rolling admission."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes: list[int | None] = []
            errs: list[str | None] = []
            for payload in pdf[payload_col]:
                raw = bytes(payload) if payload is not None else b""
                try:
                    hashes.append(ahash64(raw))
                    errs.append(None)
                except ValueError as exc:
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "ahash": pd.array(hashes, dtype="Int64"),
                    "ahash_error": errs,
                }
            )

    return assets.mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("ahash", T.LongType()),
                T.StructField("ahash_error", T.StringType()),
            ]
        ),
    )


# ---------------------------------------------------------------- video fingerprinting

VHASH_FRAMES = 9  # odd sample count → majority vote has no 50/50 ties


def vhash64(payload: bytes) -> int:
    """64-bit video fingerprint of a YUV4MPEG2 payload: sample
    VHASH_FRAMES evenly-spaced frames (center-of-bucket, the
    _resize_gray index rule), pHash each frame's LUMA plane (the DCT
    path of phash64 — no chroma), then majority-vote each of the 64
    bits across frames.  An odd frame count makes the vote tie-free,
    so the hash is stable under any single-frame perturbation;
    frame-rate changes and re-encodes that keep content move few
    bits.  Signed 64-bit, pairable with phash_pairs(hash_col=...)."""
    import numpy as np

    width, height, _fps, y_planes = _y4m_luma_planes(payload)
    if not y_planes:
        raise ValueError("empty y4m clip: no frames to fingerprint")
    n = len(y_planes)
    k = min(VHASH_FRAMES, n)
    idx = sorted({((i + 0.5) * n) // k for i in range(k)})
    votes = np.zeros(64, dtype=np.int64)
    n_voted = 0
    for fi in idx:
        luma = (
            np.frombuffer(y_planes[int(fi)], dtype=np.uint8)
            .astype(np.float64)
            .reshape(height, width)
            / 255.0
        )
        g = _resize_gray(luma, 32, 32)
        M = _dct_matrix_n(32)
        d = (M @ g) @ M.T
        low = d[:8, :8].ravel()
        med = float(np.median(low[1:]))
        votes += (low > med).astype(np.int64)
        n_voted += 1
    v = 0
    for i in range(64):
        if 2 * votes[i] > n_voted:
            v |= 1 << i
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def vhash_assets(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint every video asset via mapInPandas → (asset_id,
    vhash, vhash_error); quarantine convention and pair machinery as
    the image/audio tiers (phash_pairs with hash_col='vhash', and
    index_hashes for rolling admission)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes: list[int | None] = []
            errs: list[str | None] = []
            for payload in pdf[payload_col]:
                raw = bytes(payload) if payload is not None else b""
                try:
                    hashes.append(vhash64(raw))
                    errs.append(None)
                except ValueError as exc:
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "vhash": pd.array(hashes, dtype="Int64"),
                    "vhash_error": errs,
                }
            )

    return assets.mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("vhash", T.LongType()),
                T.StructField("vhash_error", T.StringType()),
            ]
        ),
    )


# ---------------------------------------------------------------- multimodal admission

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("fp", T.LongType()),
        T.StructField("fp_error", T.StringType()),
    ]
)

_FINGERPRINTERS: dict[str, Callable[[bytes], int]] = {}


def _fingerprint_for(media_type: str) -> Callable[[bytes], int]:
    if not _FINGERPRINTERS:
        _FINGERPRINTERS.update(
            {"image": phash64, "audio": ahash64, "video": vhash64}
        )
    fn = _FINGERPRINTERS.get(media_type)
    if fn is None:
        raise ValueError(f"no fingerprinter for media_type {media_type!r}")
    return fn


def fingerprint_assets(
    assets: DataFrame,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
) -> DataFrame:
    """Type-dispatched perceptual fingerprints in ONE mapInPandas pass:
    image → phash64, audio → ahash64, video → vhash64 → (asset_id,
    media_type, fp, fp_error).  Unknown types and decode failures
    quarantine as fp NULL + the error string.  Pair within type via
    phash_pairs(..., hash_col='fp', type_col='media_type')."""
    _fingerprint_for("image")  # ensure defaults are registered
    # snapshot the registry into the closure: executors run separate
    # Python workers that re-import this module, so driver-side
    # set_fingerprinter() mutations only reach them via pickling
    table = dict(_FINGERPRINTERS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps: list[int | None] = []
            errs: list[str | None] = []
            for mt, payload in zip(pdf[type_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    fn = table.get(mt)
                    if fn is None:
                        raise ValueError(f"no fingerprinter for media_type {mt!r}")
                    fps.append(fn(raw))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — quarantine,
                    # don't fail the job: decoders wrap malformed input
                    # in ValueError by convention, but a truncated or
                    # garbage payload can surface struct.error /
                    # IndexError / zlib.error from an unwrapped depth;
                    # one bad asset must never kill the whole pass
                    fps.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col],
                    "media_type": pdf[type_col],
                    "fp": pd.array(fps, dtype="Int64"),
                    "fp_error": errs,
                }
            )

    return assets.mapInPandas(run, schema=FINGERPRINT_SCHEMA)


def admit_assets(
    shard: DataFrame,
    index_fps: DataFrame | None,
    max_hamming: int = 6,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
) -> dict[str, DataFrame]:
    """Incremental multimodal-asset admission: fingerprint the shard
    and reject perceptual duplicates against the persisted index
    (asset_id, media_type, fp) AND within the shard itself — the
    asset-tier twin of curation.admit_shard.

    Greedy-by-id within the shard: of a duplicate pair both in the
    shard, the LOWER asset_id survives (a chain admits only its
    lowest member — deterministic, replayable).  Undecodable payloads
    reject with reason 'undecodable'.  Returns
      admitted  : shard rows that survive
      rejected  : (asset_id, media_type, reason) — 'exact_dup'
                  (hamming 0), 'near_dup' (1..max_hamming),
                  'undecodable'
      fps_delta : fingerprints of the admitted assets (append to the
                  index; 16 bytes/asset of index growth per shard).
    Per-shard cost is shard-sized: the corpus contributes only its
    fingerprint index, never payload bytes."""
    fps = fingerprint_assets(
        shard, id_col=id_col, type_col=type_col, payload_col=payload_col
    ).localCheckpoint(eager=True)
    good = fps.filter(F.col("fp").isNotNull())
    pairs = phash_pairs(
        good, max_hamming=max_hamming, id_col="asset_id", hash_col="fp",
        type_col="media_type", index_hashes=index_fps,
    )
    new_ids = good.select(F.col("asset_id").alias("nid"))
    marked = (
        pairs.join(
            new_ids.withColumnRenamed("nid", "id_a").withColumn("a_new", F.lit(True)),
            "id_a", "left",
        )
        .join(
            new_ids.withColumnRenamed("nid", "id_b").withColumn("b_new", F.lit(True)),
            "id_b", "left",
        )
        .fillna(False, ["a_new", "b_new"])
    )
    # reject the new side of mixed pairs; of a new-new pair, the
    # greater id (id_b — pairs are least/greatest)
    rejected_ids = (
        marked.filter(F.col("b_new")).select(F.col("id_b").alias("rid"), "hamming")
        .unionByName(
            marked.filter(F.col("a_new") & ~F.col("b_new"))
            .select(F.col("id_a").alias("rid"), "hamming")
        )
        .groupBy("rid")
        .agg(F.min("hamming").alias("min_hamming"))
    )
    rejected = (
        fps.join(rejected_ids, fps[id_col] == F.col("rid"), "inner")
        .select(
            id_col, type_col,
            F.when(F.col("min_hamming") == 0, "exact_dup")
            .otherwise("near_dup").alias("reason"),
        )
        .unionByName(
            fps.filter(F.col("fp").isNull())
            .select(id_col, type_col, F.lit("undecodable").alias("reason"))
        )
    )
    admitted = shard.join(
        rejected.select(F.col(id_col).alias("_rj")),
        shard[id_col] == F.col("_rj"), "left_anti",
    )
    fps_delta = good.join(
        rejected.select(F.col(id_col).alias("_rj")),
        good["asset_id"] == F.col("_rj"), "left_anti",
    ).select("asset_id", "media_type", "fp")
    return {"admitted": admitted, "rejected": rejected, "fps_delta": fps_delta}


def set_fingerprinter(media_type: str, fn: Callable[[bytes], int]) -> None:
    """Override/extend the fingerprint registry (the set_decoder twin):
    e.g. a native pHash for compressed video once a codec tier exists.
    Must return a signed 64-bit int."""
    _fingerprint_for("image")  # force default registration first
    _FINGERPRINTERS[media_type] = fn


# ---- packed vote-ordering key (r13) -------------------------------
# The three align/crop voters pick best-per-pair by the lexicographic
# ordering (votes desc, displacement asc[, dx asc]).  max_by(struct,
# struct) expresses that directly but forces a SortAggregate (struct
# aggregation buffers are not hash-aggregable); packing the ordering
# into ONE bigint turns the same argmax into max(bigint) — a plain
# HashAggregate.  Layout: votes in the high bits, then per component
# (_VOTE_MAX − value) in _VOTE_BITS bits (so SMALLER displacement ⇒
# LARGER key).  Ranges are ASSERTED in-plan (raise_error), never
# assumed: each component must fit ±(2^20−1) and votes the remaining
# high bits — a violation fails the job loudly instead of mis-ranking.
_VOTE_BITS = 21
_VOTE_MAX = (1 << 20) - 1


def _vote_key(votes: Column, *prefer_small: Column) -> Column:
    n = len(prefer_small)
    vote_cap = (1 << (62 - _VOTE_BITS * n)) - 1
    guard = (votes >= 0) & (votes <= F.lit(vote_cap))
    key = votes.cast("bigint")
    for c in prefer_small:
        guard = guard & (F.abs(c) <= F.lit(_VOTE_MAX))
        key = F.shiftleft(key, _VOTE_BITS) + (F.lit(_VOTE_MAX) - c)
    return F.when(guard, key).otherwise(
        F.expr(
            "CAST(raise_error('vote ordering component exceeds the "
            "packable range (|disp| < 2^20)') AS BIGINT)"
        )
    )


def _vote_key_part(key: Column, n: int, i: int) -> Column:
    """The i-th (0-based) prefer-small component of an n-component key."""
    shift = _VOTE_BITS * (n - 1 - i)
    mask = (1 << _VOTE_BITS) - 1
    return F.lit(_VOTE_MAX) - F.shiftright(key, shift).bitwiseAND(F.lit(mask))


def _vote_key_votes(key: Column, n: int) -> Column:
    return F.shiftright(key, _VOTE_BITS * n)


FRAME_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fphash", T.LongType()),
    ]
)


def frame_phash_assets(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_frames: int = 64,
) -> DataFrame:
    """Per-FRAME perceptual hashes of video assets: one mapInPandas
    pass decodes each Y4M payload once and emits ≤max_frames
    evenly-sampled (asset_id, frame_idx, fphash) rows — frames become
    rows AFTER the single decode (the payload is never duplicated per
    frame, unlike an explode-before-decode shape would force for
    container formats whose frames aren't independently addressable).
    Undecodable assets emit no rows (pair-stage absence ≡ quarantine;
    use vhash_assets for explicit error rows)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        M = _dct_matrix_n(32)
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            fps: list[int] = []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    w, h, _fps, planes = _y4m_luma_planes(raw)
                except ValueError:
                    continue
                n = len(planes)
                if n == 0:
                    continue
                k = min(max_frames, n)
                sel = sorted({int(((i + 0.5) * n) // k) for i in range(k)})
                for fi in sel:
                    luma = (
                        np.frombuffer(planes[fi], dtype=np.uint8)
                        .astype(np.float64)
                        .reshape(h, w)
                        / 255.0
                    )
                    g = _resize_gray(luma, 32, 32)
                    d = (M @ g) @ M.T
                    low = d[:8, :8].ravel()
                    med = float(np.median(low[1:]))
                    v = 0
                    for i, b in enumerate(low > med):
                        if b:
                            v |= 1 << i
                    if v >= 1 << 63:
                        v -= 1 << 64
                    ids.append(int(aid))
                    idxs.append(int(fi))
                    fps.append(v)
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "fphash": pd.array(fps, dtype="Int64"),
                }
            )

    return assets.mapInPandas(run, schema=FRAME_PHASH_SCHEMA)


def video_overlap_pairs(
    assets: DataFrame,
    min_shared_frames: int = 2,
    max_hamming: int = 4,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_frames: int = 64,
) -> DataFrame:
    """Partial-overlap detection between video clips: clips sharing a
    SUBSEQUENCE of near-identical frames (re-cut, trimmed, embedded
    footage) that whole-clip vhash64 misses because the majority vote
    dilutes a partial match.

    frame_phash_assets → pigeonhole frame-hash pairs (cross-asset
    only) → count distinct matching frame pairs per (video_a, video_b)
    → keep pairs with ≥ min_shared_frames.  Output: (id_a, id_b,
    shared_frames, min_hamming).

    Scale shape: frame hashes are rows (≤max_frames per clip, 12
    bytes each), pair generation is the same linear bucket machinery
    as every other fingerprint tier, and the rollup is one groupBy on
    the (tiny) frame-pair set."""
    fhashes = frame_phash_assets(
        assets, id_col=id_col, payload_col=payload_col, max_frames=max_frames
    )
    # frame rows need a unique pair id: (asset_id, frame_idx) packed —
    # frame_idx < 2^20 frames, asset ids shifted above
    packed = fhashes.select(
        (F.col("asset_id") * F.lit(1 << 20) + F.col("frame_idx")).alias("fid"),
        F.col("fphash"),
    )
    fpairs = phash_pairs(
        packed, max_hamming=max_hamming, id_col="fid", hash_col="fphash"
    )
    mask = (1 << 20) - 1
    cross = fpairs.select(
        F.shiftright("id_a", 20).alias("va"),
        F.shiftright("id_b", 20).alias("vb"),
        (F.col("id_a").bitwiseAND(F.lit(mask))).alias("fa"),
        (F.col("id_b").bitwiseAND(F.lit(mask))).alias("fb"),
        "hamming",
    ).filter(F.col("va") != F.col("vb"))
    # normalize pair order, keeping the offset signed consistently
    # (offset = frame index in id_b's clip − frame index in id_a's)
    norm = cross.select(
        F.least("va", "vb").alias("id_a"),
        F.greatest("va", "vb").alias("id_b"),
        F.when(F.col("va") < F.col("vb"), F.col("fb") - F.col("fa"))
        .otherwise(F.col("fa") - F.col("fb")).alias("off"),
        "hamming",
    )
    per_off = norm.groupBy("id_a", "id_b", "off").agg(
        F.count(F.lit(1)).alias("off_votes")
    )
    # packed-bigint vote ordering (see audio_align_pairs): HashAggregate
    # instead of the struct max_by SortAggregate, ranges asserted
    best_off = per_off.groupBy("id_a", "id_b").agg(
        F.max(_vote_key(F.col("off_votes"), F.col("off"))).alias("_k")
    )
    rollup = (
        norm.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared_frames"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("shared_frames") >= min_shared_frames)
    )
    # coherent_frames = votes at the best single offset: a true re-cut
    # concentrates matches on one temporal shift (the Hough vote the
    # audio tier uses); bag-of-frames similarity spreads them thin
    return rollup.join(best_off, ["id_a", "id_b"]).select(
        "id_a", "id_b", "shared_frames", "min_hamming",
        _vote_key_part(F.col("_k"), 1, 0).alias("best_offset"),
        _vote_key_votes(F.col("_k"), 1).alias("coherent_frames"),
    )


# ---------------------------------------------------------------- content-defined chunking

# Sub-file binary dedup: gear-hash content-defined chunking (the
# FastCDC/LBFS family — Muthitacharoen et al. 2001; Xia et al. 2016).
# Chunk boundaries follow CONTENT, not offsets, so inserting bytes
# near the head of a payload re-chunks only the neighborhood of the
# edit — the property that lets a lake dedup shared segments across
# containers (same audio embedded behind different headers, re-muxed
# media, appended metadata) where whole-file hashing sees two distinct
# blobs.  Deterministic: the gear table is seeded Python-random.

_GEAR_SEED = 0x9E3779B9


def _gear_table() -> list[int]:
    import random

    rng = random.Random(_GEAR_SEED)
    return [rng.getrandbits(64) for _ in range(256)]


_GEAR: list[int] | None = None


def cdc_chunks(
    payload: bytes,
    min_size: int = 128,
    avg_size: int = 512,
    max_size: int = 2048,
) -> list[tuple[int, int, str]]:
    """Content-defined chunk spans of a byte payload: list of
    (offset, length, md5hex).  A boundary is declared at byte i when
    the 64-bit gear rolling hash has its top log2(avg_size) bits zero
    — expected chunk length ≈ avg_size, clamped to [min_size,
    max_size].  Pure Python/hashlib core (rerun verbatim by the gate's
    pinned oracle); the Spark path batches it through mapInPandas."""
    import hashlib

    global _GEAR
    if _GEAR is None:
        _GEAR = _gear_table()
    if min_size < 1 or not min_size <= avg_size <= max_size:
        raise ValueError(
            f"need 1 <= min {min_size} <= avg {avg_size} <= max {max_size}"
        )
    mask = ((1 << 64) - 1) ^ ((1 << (64 - (avg_size.bit_length() - 1))) - 1)
    n = len(payload)
    out: list[tuple[int, int, str]] = []
    if min_size >= 64:
        # Vectorized fast path (~50× the per-byte loop, measured
        # 3.7 → ~190 MB/s): the gear window is 64 bytes — a byte's
        # contribution G[b]≪k vanishes mod 2⁶⁴ once k ≥ 64 — so the
        # rolling hash at every position equals the windowed sum
        # REGARDLESS of where chunk resets happened, provided every
        # chunk is ≥ 64 bytes (min_size guarantees it).  Candidate
        # boundaries therefore compute position-independently in 64
        # numpy passes; the min/max clamp walk runs over the (sparse)
        # candidate list only.  Bit-identical to the sequential loop
        # (asserted in tests across payload sizes and size configs).
        import numpy as np

        G = np.array(_GEAR, dtype=np.uint64)
        b = np.frombuffer(payload, dtype=np.uint8)
        # windowed sum H_i = Σ_{k<64} G[b_{i−k}]≪k via LOG-DOUBLING:
        # S_{j+1}[i] = S_j[i] + S_j[i−2^j]≪2^j gives the 64-term sum
        # in 6 shifted-add passes (uint64 wraps ≡ mod 2⁶⁴) instead of
        # 64 — the passes are memory-bound, so this is the win
        H = G[b]
        tmp = np.empty_like(H)  # single scratch buffer: fresh numpy
        # allocations page-fault at ~170 MB/s in this container, so
        # per-pass temporaries would dominate the whole computation
        for j in range(6):
            step = 1 << j
            if step >= n:
                # no position i < n has a contribution from i - step:
                # the pass is a mathematical no-op — and the negative
                # slice H[: n - step] would otherwise wrap around and
                # broadcast-fail on payloads with step/2 < n <= step
                break
            np.left_shift(H[: n - step], np.uint64(step), out=tmp[: n - step])
            H[step:] += tmp[: n - step]
        cand = np.nonzero((H & np.uint64(mask)) == 0)[0] + 1
        start = 0
        ci = 0
        m = cand.size
        while start < n:
            lo = start + min_size
            while ci < m and cand[ci] < lo:
                ci += 1
            if ci < m and cand[ci] <= start + max_size:
                end = int(cand[ci])
                ci += 1
            else:
                end = min(start + max_size, n)
            out.append(
                (start, end - start, hashlib.md5(payload[start:end]).hexdigest())
            )
            start = end
        return out
    # sequential reference path (min_size < 64: chunk resets are still
    # inside the 64-byte window, so the vectorized closed form above
    # does not apply)
    start = 0
    h = 0
    i = 0
    while i < n:
        h = ((h << 1) + _GEAR[payload[i]]) & ((1 << 64) - 1)
        i += 1
        length = i - start
        if (length >= min_size and (h & mask) == 0) or length >= max_size:
            out.append(
                (start, length, hashlib.md5(payload[start:i]).hexdigest())
            )
            start = i
            h = 0
    if start < n:
        out.append((start, n - start, hashlib.md5(payload[start:]).hexdigest()))
    return out


CDC_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_off", T.LongType()),
        T.StructField("chunk_len", T.LongType()),
        T.StructField("chunk_hash", T.StringType()),
    ]
)


def cdc_chunk_assets(
    assets: DataFrame,
    min_size: int = 128,
    avg_size: int = 512,
    max_size: int = 2048,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Chunk every payload via mapInPandas → (asset_id, chunk_idx,
    chunk_off, chunk_len, chunk_hash).  Map-only; the chunk-hash table
    is the dedup index (≈ 48 B/chunk ⇒ ~1 GB per 10 TB of payload at
    the 512 B default — tune avg_size up for media lakes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, hashes = [], [], [], [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                for ci, (off, ln, hx) in enumerate(
                    cdc_chunks(raw, min_size, avg_size, max_size)
                ):
                    ids.append(int(aid))
                    idxs.append(ci)
                    offs.append(off)
                    lens.append(ln)
                    hashes.append(hx)
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "chunk_idx": pd.array(idxs, dtype="Int32"),
                    "chunk_off": pd.array(offs, dtype="Int64"),
                    "chunk_len": pd.array(lens, dtype="Int64"),
                    "chunk_hash": hashes,
                }
            )

    return assets.mapInPandas(run, schema=CDC_CHUNK_SCHEMA)


def shared_chunk_pairs(
    chunks: DataFrame, min_shared_bytes: int = 256
) -> DataFrame:
    """Asset pairs sharing content-defined chunks: groupBy(chunk_hash)
    → upper-triangle in-bucket expansion (the fingerprint-tier bucket
    shape — never a self-join) → per-pair rollup (shared_chunks,
    shared_bytes).  Detects sub-file duplication whole-file hashing
    and perceptual hashing both miss (byte-identical SEGMENTS inside
    otherwise different payloads)."""
    buckets = (
        chunks.groupBy("chunk_hash", "chunk_len")
        .agg(F.collect_set("asset_id").alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = (
        buckets.select("chunk_len", F.sort_array("ms").alias("ms"))
        .select("chunk_len", "ms", F.posexplode("ms").alias("p", "a"))
        .select("chunk_len", "a",
                F.explode(F.slice("ms", F.col("p") + 2, F.size("ms"))).alias("b"))
    )
    return (
        pairs.groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_chunks"),
            F.sum("chunk_len").alias("shared_bytes"),
        )
        .filter(F.col("shared_bytes") >= min_shared_bytes)
    )


def release_assets(
    assets: DataFrame,
    out_path: str,
    *,
    max_hamming: int = 6,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
    max_records_per_file: int | None = None,
    manifest: bool = True,
) -> DataFrame:
    """One-call multimodal lake release — the asset twin of
    curation.release_corpus:

      1. type-dispatched perceptual dedup (fingerprint_assets →
         phash_pairs(type_col) → dedup.dedup_survivors), keep
         canonical survivors; undecodable assets pass through
         (quarantining is admission policy, not release policy);
      2. partitioned write by media_type (readers prune to their
         modality);
      3. `_ASSETS_MANIFEST.json` data card: per-type asset counts,
         payload bytes, duplicate-cluster count, and an
         ORDER-INDEPENDENT content checksum (sum of each payload's
         md5 prefix mod 2⁶⁴ — replayable by any engine without a
         global sort, the corpus_manifest convention).

    Returns the released DataFrame (read back from the lake)."""
    from ..sources.bucketing import write_partitioned
    from .dedup import dedup_survivors

    fps = fingerprint_assets(
        assets, id_col=id_col, type_col=type_col, payload_col=payload_col
    )
    pairs = phash_pairs(
        fps, max_hamming=max_hamming, id_col="asset_id",
        hash_col="fp", type_col="media_type",
    )
    surv = dedup_survivors(assets, pairs, id_col=id_col)
    kept = surv.filter(F.col("is_canonical")).drop("cluster_id", "is_canonical")
    write_partitioned(
        kept, out_path, [type_col], max_records_per_file=max_records_per_file
    )
    released = assets.sparkSession.read.parquet(out_path)
    if manifest:
        import json as _json
        import os as _os

        stats = (
            released.groupBy(type_col)
            .agg(
                F.count(F.lit(1)).alias("n_assets"),
                F.sum(F.length(payload_col)).alias("payload_bytes"),
                F.sum(
                    F.conv(F.substring(F.md5(F.coalesce(
                        F.col(payload_col), F.lit(b""))), 1, 15), 16, 10)
                    .cast("decimal(20,0)")
                ).alias("_csum"),
            )
            .collect()
        )
        n_clusters = (
            surv.filter(~F.col("is_canonical"))
            .select("cluster_id").distinct().count()
        )
        card = {
            "types": {
                r[type_col]: {
                    "n_assets": r["n_assets"],
                    "payload_bytes": int(r["payload_bytes"] or 0),
                    "content_checksum": str(int(r["_csum"] or 0) % (1 << 64)),
                }
                for r in stats
            },
            "duplicate_clusters_removed": n_clusters,
            "params": {"max_hamming": max_hamming},
        }
        with open(_os.path.join(out_path, "_ASSETS_MANIFEST.json"), "w") as fh:
            _json.dump(card, fh, indent=2, default=str)
    return released


SEGMENT_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("sahash", T.LongType()),
    ]
)


def segment_ahash_assets(
    assets: DataFrame,
    seg_ms: int = 1000,
    hop_ms: int | None = 500,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_segments: int = 128,
) -> DataFrame:
    """Segment-grain audio fingerprints — the audio counterpart of
    frame_phash_assets: decode each WAV once, slide a seg_ms window at
    hop_ms (default 50% overlap, so an embedded segment is covered by
    some window regardless of its alignment in the container) and hash
    each window with the envelope+ZCR core → (asset_id, seg_idx,
    sahash).  Undecodable / too-short clips emit no rows.  Feed
    audio_overlap_pairs for partial-overlap detection."""
    hop = seg_ms if hop_ms is None else hop_ms

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    n_ch, rate, _bits, norm = _wav_pcm(raw)
                except ValueError:
                    continue
                frames = norm[: (norm.size // n_ch) * n_ch].reshape(-1, n_ch)
                mono = frames.mean(axis=1)
                win = rate * seg_ms // 1000
                step = max(rate * hop // 1000, 1)
                if win < AHASH_WINDOWS or mono.size < win:
                    continue
                si = 0
                for start in range(0, mono.size - win + 1, step):
                    if si >= max_segments:
                        break
                    ids.append(int(aid))
                    idxs.append(si)
                    fps.append(_ahash_from_mono(mono[start : start + win], rate))
                    si += 1
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "seg_idx": pd.array(idxs, dtype="Int32"),
                    "sahash": pd.array(fps, dtype="Int64"),
                }
            )

    return assets.mapInPandas(run, schema=SEGMENT_AHASH_SCHEMA)


def audio_overlap_pairs(
    assets: DataFrame,
    min_shared_segments: int = 1,
    max_hamming: int = 4,
    seg_ms: int = 1000,
    hop_ms: int | None = 500,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Partial-overlap detection between audio clips (embedded
    jingles, re-edited speech) the whole-clip ahash64 dilutes away:
    segment hashes → pigeonhole pairs (cross-asset) → per-pair rollup
    (shared_segments, min_hamming) — the audio twin of
    video_overlap_pairs, same linear pair machinery.

    ALIGNMENT CONTRACT: the envelope hash is positional, so an
    embedded segment matches when its start is aligned to the hop
    grid within ~seg/64 (one half sub-window) — the common case for
    streams cut/concatenated at frame or second boundaries, which is
    how ingestion pipelines actually splice.  Coverage of the other
    two overlap classes: byte-identical but UNALIGNED embeds are
    found by cdc_chunks/shared_chunk_pairs on the PCM bytes
    (content-defined boundaries resync at any offset); perceptually
    equal AND unaligned overlap is handled by the Haitsma-Kalker
    sub-fingerprint tier below (audio_subfp_assets +
    audio_align_pairs — overlapped-frame sub-fingerprints with
    offset voting)."""
    segs = segment_ahash_assets(
        assets, seg_ms=seg_ms, hop_ms=hop_ms,
        id_col=id_col, payload_col=payload_col,
    )
    packed = segs.select(
        (F.col("asset_id") * F.lit(1 << 20) + F.col("seg_idx")).alias("sid"),
        F.col("sahash"),
    )
    spairs = phash_pairs(
        packed, max_hamming=max_hamming, id_col="sid", hash_col="sahash"
    )
    cross = spairs.select(
        F.shiftright("id_a", 20).alias("va"),
        F.shiftright("id_b", 20).alias("vb"),
        "hamming",
    ).filter(F.col("va") != F.col("vb"))
    return (
        cross.select(
            F.least("va", "vb").alias("id_a"),
            F.greatest("va", "vb").alias("id_b"),
            "hamming",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared_segments"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("shared_segments") >= min_shared_segments)
    )


# ------------------------------------------- sub-fingerprint alignment search

# Unaligned perceptual audio overlap — the third overlap class the
# audio_overlap_pairs docstring defers: Haitsma-Kalker 2002 ("A highly
# robust audio fingerprinting system") sub-fingerprints.  Long
# overlapped frames (frame ≫ hop) make the 16 band-difference bits
# slowly-varying, so an embedded copy at ANY sample offset still
# produces exact 16-bit matches on many frames; voting on the frame
# OFFSET of those matches (a 1-D Hough transform) recovers the true
# alignment, and unrelated clips vote incoherently (validated: true
# offset wins ~30 votes vs ~4-vote noise floor at δ = 137/1234/3333
# samples on 8 kHz tone mixtures).

AUDIO_SUBFP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("subfp", T.IntegerType()),
    ]
)


def _hk_subfps(mono, rate: int, frame: int, hop: int, bands: int,
               fmin: float, fmax: float):
    """Per-frame Haitsma-Kalker sub-fingerprints of a mono float64
    signal: Hann-windowed rfft → `bands` log-spaced band energies in
    [fmin, fmax] → bit b = Δtime(Δband energy) > 0 → (bands−1)-bit
    int per frame (first frame consumed by the time difference)."""
    import numpy as np

    n_frames = (mono.size - frame) // hop + 1
    if n_frames < 2:
        return np.zeros(0, dtype=np.int32)
    idx = np.arange(frame)[None, :] + (np.arange(n_frames) * hop)[:, None]
    segs = mono[idx] * np.hanning(frame)[None, :]
    mag = np.abs(np.fft.rfft(segs, axis=1)) ** 2
    edges = np.clip(
        (np.geomspace(fmin, fmax, bands + 1) * frame / rate).astype(int),
        1, frame // 2,
    )
    E = np.stack(
        [mag[:, edges[b]:edges[b + 1]].sum(axis=1) for b in range(bands)],
        axis=1,
    )
    D = E[:, :-1] - E[:, 1:]
    bits = (D[1:] - D[:-1]) > 0
    fps = np.zeros(bits.shape[0], dtype=np.int32)
    for b in range(bands - 1):
        fps |= bits[:, b].astype(np.int32) << b
    return fps


def audio_subfp_assets(
    assets: DataFrame,
    frame_ms: int = 100,
    hop_ms: int = 25,
    bands: int = 17,
    fmin: float = 300.0,
    fmax: float = 2000.0,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_frames: int = 4096,
) -> DataFrame:
    """Haitsma-Kalker sub-fingerprint rows for every WAV asset:
    (asset_id, frame_idx, 16-bit subfp) at hop_ms granularity —
    4 B/frame, 40 rows/sec of audio at the defaults.  Undecodable /
    too-short clips emit no rows.  One vectorized rfft batch per
    payload inside mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    n_ch, rate, _bits, norm = _wav_pcm(raw)
                except ValueError:
                    continue
                frames_arr = norm[: (norm.size // n_ch) * n_ch].reshape(-1, n_ch)
                mono = frames_arr.mean(axis=1)
                frame = rate * frame_ms // 1000
                hop = max(rate * hop_ms // 1000, 1)
                sub = _hk_subfps(mono, rate, frame, hop, bands, fmin, fmax)
                for fi, v in enumerate(sub[:max_frames]):
                    ids.append(int(aid))
                    idxs.append(fi)
                    fps.append(int(v))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "subfp": pd.array(fps, dtype="Int32"),
                }
            )

    return assets.mapInPandas(run, schema=AUDIO_SUBFP_SCHEMA)


def audio_align_pairs(
    subfps: DataFrame,
    min_votes: int = 8,
    max_fp_df: int | None = 10_000,
) -> DataFrame:
    """Alignment search over sub-fingerprint rows: equi-join on the
    16-bit value (cross-asset), then VOTE on the frame offset — pairs
    with a coherent alignment accumulate votes at one offset, unrelated
    clips spread votes thinly.  Returns (id_a, id_b, offset_frames,
    votes) for the best offset per pair with votes ≥ min_votes; the
    offset is B's position minus A's (positive ⇔ the shared content
    starts later in B).

    Scale shape: one equi-join on a 16-bit key + two groupBys on the
    match set.  `max_fp_df` drops over-common sub-fingerprints (near-
    silence collapses many frames to one value — the stopword problem)
    before the join, bounding the worst bucket exactly like the other
    blocked pair operators' caps."""
    e = subfps.select("asset_id", "frame_idx", "subfp")
    if max_fp_df is not None:
        freq = e.groupBy("subfp").agg(F.count(F.lit(1)).alias("_df"))
        e = e.join(
            F.broadcast(freq.filter(F.col("_df") <= max_fp_df)), "subfp"
        ).drop("_df")
    a = e.select(
        F.col("subfp"),
        F.col("asset_id").alias("id_a"), F.col("frame_idx").alias("fa"),
    )
    b = e.select(
        F.col("subfp"),
        F.col("asset_id").alias("id_b"), F.col("frame_idx").alias("fb"),
    )
    votes = (
        a.join(b, "subfp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", (F.col("fb") - F.col("fa")).alias("offset_frames"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= min_votes)
    )
    # best-per-pair as max over ONE packed bigint (r13): the
    # (votes desc, offset asc) ordering rides a HashAggregate instead
    # of max_by(struct, struct)'s SortAggregate (struct buffers are
    # not hash-aggregable); ranges asserted in-plan by _vote_key
    best = votes.groupBy("id_a", "id_b").agg(
        F.max(_vote_key(F.col("votes"), F.col("offset_frames"))).alias("_k")
    )
    return best.select(
        "id_a", "id_b",
        _vote_key_part(F.col("_k"), 1, 0).cast("int").alias("offset_frames"),
        _vote_key_votes(F.col("_k"), 1).alias("votes"),
    )


# ------------------------------------------------- image crop/overlap detection

# The image member of the unaligned-overlap family: crops, pads and
# canvas shifts are byte-identical CONTENT at an unknown 2-D offset —
# whole-image pHash misses them badly (the DCT sees a different
# composition).  Content-defined ANCHORS fix alignment the way gear
# boundaries do for bytes: local luma maxima survive cropping, so
# matching anchor-patch hashes between two images and voting on their
# (dy, dx) displacement recovers the crop offset — a 2-D Hough vote,
# the keypoint-matching idea (SIFT-family) reduced to its
# deterministic core.

IMAGE_KEYPOINT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("ky", T.IntegerType()),
        T.StructField("kx", T.IntegerType()),
        T.StructField("kphash", T.IntegerType()),
    ]
)


def _image_keypoints(luma, nms: int = 4, smooth_k: int = 2, patch_r: int = 8):
    """Deterministic keypoints of a float64 luma raster: strict local
    maxima of the box-smoothed image in a (2·nms+1)² window, at least
    patch_r from every border (the descriptor patch must fit).
    Returns a list of (y, x, 16-bit patch hash) — the descriptor is
    the sign pattern of the patch's 4×4 low-frequency DCT block
    against its AC median (the pHash bit rule at patch scale)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    h, w = luma.shape
    if h < 2 * patch_r + 1 or w < 2 * patch_r + 1:
        return []
    pad = np.pad(luma, smooth_k, mode="edge")
    # separable box smooth (rows then cols): bit-stable under
    # translation (each output depends only on its local window), so
    # crop invariance holds exactly — a cumsum formulation would not be
    s1 = sliding_window_view(pad, 2 * smooth_k + 1, axis=0).mean(axis=2)
    s = sliding_window_view(s1, 2 * smooth_k + 1, axis=1).mean(axis=2)
    # strict local maximum ⇔ s > s-shifted for EVERY nonzero offset
    # (identical to the windowed max-and-unique formulation, without
    # the (h·w·(2nms+1)²) 4-D temporaries); +inf padding keeps border
    # pixels out, as before
    spad = np.pad(s, nms, mode="constant", constant_values=np.inf)
    mask = np.ones((h, w), dtype=bool)
    for dy in range(-nms, nms + 1):
        for dx in range(-nms, nms + 1):
            if dy == 0 and dx == 0:
                continue
            shifted = spad[nms + dy : nms + dy + h, nms + dx : nms + dx + w]
            mask &= s > shifted
    mask[: patch_r, :] = False
    mask[h - patch_r :, :] = False
    mask[:, : patch_r] = False
    mask[:, w - patch_r :] = False
    ys, xs = np.nonzero(mask)
    if ys.size == 0:
        return []
    n = 2 * patch_r
    M = np.cos(
        (2 * np.arange(n)[None, :] + 1) * np.arange(n)[:, None] * np.pi / (2 * n)
    )
    # batched descriptors (the JPEG-IDCT einsum pattern): gather every
    # patch with one fancy index, run BOTH DCT matmuls over the whole
    # stack, vectorize the median-bit rule — ~30× the per-anchor loop
    dy = np.arange(-patch_r, patch_r)
    patches = luma[
        (ys[:, None, None] + dy[None, :, None]),
        (xs[:, None, None] + dy[None, None, :]),
    ]
    low4 = M[:4]  # only the 4×4 low-frequency block is kept
    d = np.einsum("ij,njk,lk->nil", low4, patches, low4, optimize=True)
    flat = d.reshape(len(ys), 16)
    med = np.median(flat[:, 1:], axis=1)
    bits = flat > med[:, None]
    vals = (bits.astype(np.int64) << np.arange(16, dtype=np.int64)[None, :]).sum(axis=1)
    return [
        (int(y), int(x), int(v)) for y, x, v in zip(ys, xs, vals)
    ]


def image_keypoint_hashes(
    assets: DataFrame,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    max_keypoints: int = 512,
) -> DataFrame:
    """Keypoint rows for every image asset: (asset_id, ky, kx,
    16-bit kphash) — decode once per payload (PPM/PNG/JPEG via
    _rgb_raster), anchor + describe in numpy.  Undecodable assets
    emit no rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kys, kxs, fps = [], [], [], []
            for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    _w, _h, rgb = _rgb_raster(raw)
                except ValueError:
                    continue
                luma = (
                    0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
                    + 0.114 * rgb[:, :, 2]
                )
                for y, x, v in _image_keypoints(luma)[:max_keypoints]:
                    ids.append(int(aid))
                    kys.append(y)
                    kxs.append(x)
                    fps.append(v)
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "ky": pd.array(kys, dtype="Int32"),
                    "kx": pd.array(kxs, dtype="Int32"),
                    "kphash": pd.array(fps, dtype="Int32"),
                }
            )

    return assets.mapInPandas(run, schema=IMAGE_KEYPOINT_SCHEMA)


def image_overlap_pairs(
    keypoints: DataFrame,
    min_votes: int = 4,
    max_fp_df: int | None = 10_000,
) -> DataFrame:
    """Crop/shift detection between images: equi-join keypoints on the
    16-bit patch hash (cross-asset), 2-D Hough vote on the (dy, dx)
    displacement, best displacement per pair with votes ≥ min_votes —
    the image twin of audio_align_pairs, same join+groupBy shape.
    Output: (id_a, id_b, dy, dx, votes); (dy, dx) maps a point in
    id_b's frame to id_a's (positive ⇔ b is a crop further from a's
    origin)."""
    e = keypoints.select("asset_id", "ky", "kx", "kphash")
    if max_fp_df is not None:
        freq = e.groupBy("kphash").agg(F.count(F.lit(1)).alias("_df"))
        e = e.join(
            F.broadcast(freq.filter(F.col("_df") <= max_fp_df)), "kphash"
        ).drop("_df")
    a = e.select(
        F.col("kphash"),
        F.col("asset_id").alias("id_a"),
        F.col("ky").alias("ya"), F.col("kx").alias("xa"),
    )
    b = e.select(
        F.col("kphash"),
        F.col("asset_id").alias("id_b"),
        F.col("ky").alias("yb"), F.col("kx").alias("xb"),
    )
    votes = (
        a.join(b, "kphash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a", "id_b",
            (F.col("ya") - F.col("yb")).alias("dy"),
            (F.col("xa") - F.col("xb")).alias("dx"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") >= min_votes)
    )
    # packed-bigint vote ordering (see audio_align_pairs): HashAggregate
    # instead of the struct max_by SortAggregate, ranges asserted
    best = votes.groupBy("id_a", "id_b").agg(
        F.max(_vote_key(F.col("votes"), F.col("dy"), F.col("dx"))).alias("_k")
    )
    return best.select(
        "id_a", "id_b",
        _vote_key_part(F.col("_k"), 2, 0).cast("int").alias("dy"),
        _vote_key_part(F.col("_k"), 2, 1).cast("int").alias("dx"),
        _vote_key_votes(F.col("_k"), 2).alias("votes"),
    )


def overlap_report(
    assets: DataFrame,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
    min_votes: int = 4,
    min_shared_bytes: int = 1024,
) -> DataFrame:
    """One-call duplication/overlap report across every detector tier
    — the union a curation reviewer reads before deciding drop lists:

      whole    : cross-type perceptual near-dups (fingerprint_assets +
                 pigeonhole pairs; evidence = 64 − hamming)
      bytes    : shared content-defined chunks at ANY offset
                 (evidence = shared_bytes)
      time     : unaligned audio alignment (HK sub-fps; evidence =
                 coherent votes)
      space    : image crop/shift offsets (keypoint vote; evidence =
                 votes)

    Output: (overlap_class, id_a, id_b, evidence double, detail
    string).  Each tier only sees its own media types; all four share
    the linear candidate machinery, so the report is safe to run on a
    full corpus."""
    fps = fingerprint_assets(
        assets, id_col=id_col, type_col=type_col, payload_col=payload_col
    )
    whole = phash_pairs(
        fps, max_hamming=6, id_col="asset_id", hash_col="fp",
        type_col="media_type",
    ).select(
        F.lit("whole").alias("overlap_class"),
        "id_a", "id_b",
        (F.lit(64) - F.col("hamming")).cast("double").alias("evidence"),
        F.concat(F.lit("hamming="), F.col("hamming").cast("string")).alias("detail"),
    )
    chunks = cdc_chunk_assets(assets, id_col=id_col, payload_col=payload_col)
    by_bytes = shared_chunk_pairs(
        chunks, min_shared_bytes=min_shared_bytes
    ).select(
        F.lit("bytes").alias("overlap_class"),
        "id_a", "id_b",
        F.col("shared_bytes").cast("double").alias("evidence"),
        F.concat(
            F.lit("chunks="), F.col("shared_chunks").cast("string")
        ).alias("detail"),
    )
    audio = assets.filter(F.col(type_col) == "audio")
    by_time = audio_align_pairs(
        audio_subfp_assets(audio, id_col=id_col, payload_col=payload_col),
        min_votes=min_votes,
    ).select(
        F.lit("time").alias("overlap_class"),
        "id_a", "id_b",
        F.col("votes").cast("double").alias("evidence"),
        F.concat(
            F.lit("offset_frames="), F.col("offset_frames").cast("string")
        ).alias("detail"),
    )
    images = assets.filter(F.col(type_col) == "image")
    by_space = image_overlap_pairs(
        image_keypoint_hashes(images, id_col=id_col, payload_col=payload_col),
        min_votes=min_votes,
    ).select(
        F.lit("space").alias("overlap_class"),
        "id_a", "id_b",
        F.col("votes").cast("double").alias("evidence"),
        F.concat(
            F.lit("dy="), F.col("dy").cast("string"),
            F.lit(",dx="), F.col("dx").cast("string"),
        ).alias("detail"),
    )
    return whole.unionByName(by_bytes).unionByName(by_time).unionByName(by_space)


def overlap_drop_list(
    assets: DataFrame,
    report: DataFrame,
    id_col: str = "asset_id",
    score_col: str | None = None,
) -> DataFrame:
    """Actionable form of overlap_report: connected components over
    the UNION of all overlap classes (an asset tied to another by ANY
    evidence tier joins its duplication group) → one survivor per
    group (lowest id, or highest `score_col`).  Output: assets +
    (cluster_id, is_canonical); filter is_canonical for the corpus
    that keeps exactly one copy of every duplicated artifact."""
    from .dedup import dedup_survivors

    pairs = report.select("id_a", "id_b").distinct()
    return dedup_survivors(assets, pairs, id_col=id_col, score_col=score_col)
