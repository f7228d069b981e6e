"""Pure-stdlib media codecs for the multimodal column path.

The container ships no media libraries (PIL / av / soundfile), but two
formats are fully decodable with the standard library alone, so the
multimodal decode tier can be REAL rather than stubbed:

- **PNG** (RFC 2083 / W3C PNG spec): chunk parsing + zlib inflate +
  per-row unfiltering (all five filter types) in numpy. Supports 8-bit
  greyscale, grey+alpha, RGB and RGBA, non-interlaced — the shapes a
  training-data pipeline generates for itself. The matching encoder
  exists so tests can round-trip arbitrary arrays through real bytes.
- **WAV** (RIFF PCM): stdlib ``wave`` handles the container; samples
  decode to int16 numpy arrays. **G.711 mu-law/A-law** (fmt tags 7/6,
  ITU-T G.711 — the classic compressed telephony formats, round 5)
  decode through a manual RIFF walk + vectorized expansion (``wave``
  refuses non-PCM); the matching compressor is the exact
  nearest-decode-level quantizer, so companding is idempotent on all
  256 codes and round-trip SNR hits the textbook ~39 dB.
- **AVI** (RIFF 'AVI ' form, Microsoft AVI RIFF File Reference —
  public): chunk walker + MainAVIHeader/BITMAPINFOHEADER parsing +
  uncompressed 24-bit DIB frame decode ('00db' chunks, BGR rows
  stored bottom-up, 4-byte row padding). Compressed streams raise
  ValueError so callers fall through to the stub tier — honest about
  what a stdlib-only decoder can do.
- **JPEG** (ITU-T T.81 baseline sequential, round 5): the first
  COMPRESSED codec in the tier — marker parsing, canonical Huffman
  entropy coding, zigzag/quantization, 8x8 DCT/IDCT as orthonormal
  numpy matrix products, JFIF YCbCr. Decoder covers grayscale +
  3-component scans with sampling factors to 2x2 (4:4:4/4:2:2/4:2:0)
  and restart markers; progressive/arithmetic/12-bit raise
  ValueError. Matching encoder (4:4:4 or 4:2:0, flat quant tables,
  fixed-length canonical Huffman — deliberately simple, fully
  conformant) exists so tests round-trip real compressed bytes.

These run inside Arrow ``mapInPandas`` batches (operators/multimodal.py).
They are the *fallback* tier: when native codec libs are present they
win (C-speed), but the pipeline no longer degrades to a fake decode
without them. Per-row Python unfiltering is O(bytes) with numpy
vectorization for filters 0/2; acceptable for thumbnail-scale assets,
and the tier tag lets downstream audit which decoder produced a row.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from functools import lru_cache

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# colour type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized over a pixel's bytes."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(raw: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to a uint8 array.

    Returns shape (H, W) for greyscale, else (H, W, channels).
    Raises ValueError on non-PNG bytes or unsupported variants
    (palette, 16-bit, interlaced) so callers can fall through to the
    next decoder tier.
    """
    if raw[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    bit_depth = colour = interlace = None
    idat = bytearray()
    while pos + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, colour, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("no IHDR chunk")
    if bit_depth != 8 or colour not in _CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant: depth={bit_depth} colour={colour} "
            f"interlace={interlace}"
        )
    channels = _CHANNELS[colour]
    stride = width * channels
    decomp = zlib.decompress(bytes(idat))
    expected = height * (stride + 1)
    if len(decomp) < expected:
        raise ValueError("truncated IDAT stream")

    rows = np.frombuffer(decomp[:expected], dtype=np.uint8).reshape(
        height, stride + 1
    )
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    for y in range(height):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].copy()
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:  # None
            out[y] = cur
        elif ftype == 1:  # Sub — sequential in x, vectorize across bytes of a pixel
            for x in range(stride):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (int(cur[x]) + int(left)) & 0xFF
        elif ftype == 2:  # Up — fully vectorized
            out[y] = cur + prev  # uint8 wraps mod 256, per spec
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(out[y, x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                out[y, x] = (
                    int(cur[x])
                    + int(_paeth(np.uint8(a), np.uint8(b), np.uint8(c)))
                ) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
    img = out.reshape(height, width, channels)
    return img[:, :, 0] if channels == 1 else img


def _apply_filter(
    ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Forward filter (encoder side), inverse of the unfilter above."""
    stride = cur.shape[0]
    cur32 = cur.astype(np.int32)
    if ftype == 0:
        return cur.copy()
    if ftype == 2:
        return (cur32 - prev.astype(np.int32)).astype(np.uint8)
    left = np.zeros(stride, dtype=np.int32)
    left[bpp:] = cur32[:stride - bpp]
    if ftype == 1:
        return (cur32 - left).astype(np.uint8)
    prev32 = prev.astype(np.int32)
    if ftype == 3:
        return (cur32 - ((left + prev32) >> 1)).astype(np.uint8)
    if ftype == 4:
        upleft = np.zeros(stride, dtype=np.int32)
        upleft[bpp:] = prev32[:stride - bpp]
        pred = _paeth(
            left.astype(np.uint8), prev.astype(np.uint8), upleft.astype(np.uint8)
        )
        return (cur32 - pred.astype(np.int32)).astype(np.uint8)
    raise ValueError(f"bad filter type {ftype}")


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode a uint8 array as a real PNG.

    (H, W) → greyscale; (H, W, 2|3|4) → grey+alpha / RGB / RGBA.
    ``filter_type`` picks the per-row filter (0-4) so tests can exercise
    every unfilter branch of :func:`decode_png`.
    """
    arr = np.ascontiguousarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    height, width, channels = arr.shape
    colour = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    flat = arr.reshape(height, stride)
    lines = bytearray()
    for y in range(height):
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        lines.append(filter_type)
        lines.extend(_apply_filter(filter_type, flat[y], prev, channels).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, colour, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + chunk(b"IEND", b"")
    )


# --- G.711 companding (ITU-T G.711, public) --------------------------------
#
# mu-law/A-law are the classic COMPRESSED telephony WAV formats (fmt
# tags 7 / 6). The stdlib `wave` module refuses non-PCM, so compressed
# WAVs get a manual RIFF walk + the G.711 expansion formulas — pure
# integer math, vectorized.


def _mulaw_decode(u8: np.ndarray) -> np.ndarray:
    u = (~u8.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = ((mant << 3) + 0x84 << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _alaw_decode(a8: np.ndarray) -> np.ndarray:
    a = a8.astype(np.int64) ^ 0x55
    sign = a & 0x80  # A-law: sign bit SET means positive (G.711 Table 2)
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (exp - 1))
    return np.where(sign, mag, -mag).astype(np.int16)


def _nearest_level_encoder(decode_fn):
    """Exact compander inversion: the encoder maps a sample to the
    code whose DECODE level is nearest — built from the decode table
    itself, so encode(decode(c)) == c for all 256 codes by
    construction (no re-derived segment formulas to get wrong)."""
    levels = decode_fn(np.arange(256, dtype=np.uint8)).astype(np.int64)
    order = np.argsort(levels, kind="stable")
    sorted_levels = levels[order]
    cuts = (sorted_levels[1:] + sorted_levels[:-1]) // 2

    def encode(x: np.ndarray) -> np.ndarray:
        idx = np.searchsorted(cuts, x.astype(np.int64), side="right")
        return order[idx].astype(np.uint8)

    return encode


_mulaw_encode = _nearest_level_encoder(_mulaw_decode)
_alaw_encode = _nearest_level_encoder(_alaw_decode)


def _walk_wav_chunks(raw: bytes):
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        yield cid, raw[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)


def decode_wav(raw: bytes) -> tuple[int, np.ndarray]:
    """Decode WAV bytes → (sample_rate, int16 array (n, channels)).

    PCM (fmt 1) goes through the stdlib ``wave`` reader; G.711
    mu-law/A-law (fmt 7/6 — compressed telephony audio) take the
    manual RIFF walk + vectorized expansion, since ``wave`` refuses
    non-PCM compression types.
    """
    try:
        with wave.open(io.BytesIO(raw), "rb") as w:
            if w.getsampwidth() != 2:
                raise ValueError(
                    f"only 16-bit PCM supported, got {w.getsampwidth()*8}-bit"
                )
            rate = w.getframerate()
            n = w.getnframes()
            data = np.frombuffer(w.readframes(n), dtype="<i2")
            return rate, data.reshape(-1, w.getnchannels())
    except wave.Error:
        pass  # non-PCM: walk the RIFF ourselves
    fmt = None
    payload = None
    for cid, body in _walk_wav_chunks(raw):
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            payload = body
    if fmt is None or payload is None:
        raise ValueError("WAV missing fmt/data chunks")
    tag, channels, rate = fmt[0], fmt[1], fmt[2]
    u8 = np.frombuffer(payload, dtype=np.uint8)
    if tag == 7:  # G.711 mu-law
        pcm = _mulaw_decode(u8)
    elif tag == 6:  # G.711 A-law
        pcm = _alaw_decode(u8)
    else:
        raise ValueError(f"unsupported WAV format tag {tag}")
    return rate, pcm.reshape(-1, max(channels, 1))


def wav_format_tag(raw: bytes) -> int | None:
    """The fmt-chunk format tag (1=PCM, 6=A-law, 7=mu-law), or None."""
    try:
        for cid, body in _walk_wav_chunks(raw):
            if cid == b"fmt ":
                return struct.unpack("<H", body[:2])[0]
    except ValueError:
        pass
    return None


def encode_wav_g711(
    samples: np.ndarray, sample_rate: int = 8000, law: str = "mu"
) -> bytes:
    """Encode int16 samples as a compressed G.711 WAV (fmt tag 7/6)."""
    arr = np.ascontiguousarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    comp = _mulaw_encode(arr.reshape(-1)) if law == "mu" else _alaw_encode(arr.reshape(-1))
    tag = 7 if law == "mu" else 6
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sample_rate, sample_rate * channels, channels, 8
    )
    data = comp.tobytes()

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    body = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode an int16 array (n,) or (n, channels) as real WAV bytes."""
    arr = np.ascontiguousarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


# --- AVI (RIFF video container) -------------------------------------------

RIFF_SIGNATURE = b"RIFF"
# 'MJPG' as the little-endian biCompression u32
MJPG_FOURCC_U32 = struct.unpack("<I", b"MJPG")[0]


def _walk_riff(raw: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, data_start, data_len) for each
    chunk in [pos, end); RIFF chunks are word-aligned (odd lengths get
    one pad byte)."""
    while pos + 8 <= end:
        fourcc = raw[pos : pos + 4]
        (length,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        data_start = pos + 8
        if data_start + length > len(raw):
            raise ValueError("truncated RIFF chunk")
        if fourcc in (b"LIST", b"RIFF"):
            yield fourcc, raw[data_start : data_start + 4], data_start + 4, length - 4
        else:
            yield fourcc, None, data_start, length
        pos = data_start + length + (length & 1)


def decode_avi(raw: bytes) -> tuple[float, np.ndarray]:
    """Decode an uncompressed-DIB AVI to (fps, frames).

    ``frames`` is uint8 of shape (n_frames, H, W, 3) in RGB order.
    Raises ValueError on non-AVI bytes, compressed video streams, or
    bit depths other than 24 — callers fall through to the next
    decoder tier, exactly like :func:`decode_png`.
    """
    if raw[:4] != RIFF_SIGNATURE or raw[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF signature/form")
    width = height = None
    usec_per_frame = 0
    bit_count = compression = None
    frames_raw: list[bytes] = []

    def _scan(pos: int, end: int) -> None:
        nonlocal width, height, usec_per_frame, bit_count, compression
        for fourcc, ltype, dstart, dlen in _walk_riff(raw, pos, end):
            if fourcc == b"LIST":
                _scan(dstart, dstart + dlen)
            elif fourcc == b"avih" and dlen >= 40:
                vals = struct.unpack("<10I", raw[dstart : dstart + 40])
                usec_per_frame = vals[0]
                width, height = vals[8], vals[9]
            elif fourcc == b"strf" and dlen >= 20:
                # BITMAPINFOHEADER: biSize, biWidth, biHeight, planes/
                # bitcount (u16 x2), biCompression
                _, _bw, _bh, _pl, bc, comp = struct.unpack(
                    "<iiiHHI", raw[dstart : dstart + 20]
                )
                bit_count, compression = bc, comp
            elif len(fourcc) == 4 and fourcc[2:4] in (b"db", b"dc"):
                frames_raw.append(raw[dstart : dstart + dlen])

    _scan(12, len(raw))
    if width is None or not frames_raw:
        raise ValueError("no avih header / no frame chunks")
    fps = 1e6 / usec_per_frame if usec_per_frame else 0.0
    if compression == MJPG_FOURCC_U32:
        # Motion JPEG (round 5): every '00dc' chunk is a standalone
        # baseline JPEG — decoded by the from-scratch T.81 codec. The
        # first COMPRESSED video stream the tier decodes for real.
        decoded = [decode_jpeg(fb) for fb in frames_raw]
        frames = np.stack(
            [f if f.ndim == 3 else np.repeat(f[..., None], 3, axis=2) for f in decoded]
        )
        if frames.shape[1] != height or frames.shape[2] != width:
            raise ValueError("MJPEG frame size disagrees with AVI header")
        return fps, frames
    if compression not in (0, None):
        raise ValueError(f"compressed AVI stream (biCompression={compression})")
    if bit_count not in (24, None):
        raise ValueError(f"unsupported bit depth {bit_count}")
    stride = (width * 3 + 3) & ~3  # DIB rows pad to 4 bytes
    frames = np.empty((len(frames_raw), height, width, 3), dtype=np.uint8)
    for i, fb in enumerate(frames_raw):
        if len(fb) < stride * height:
            raise ValueError("truncated frame chunk")
        rows = np.frombuffer(fb[: stride * height], dtype=np.uint8).reshape(
            height, stride
        )
        bgr = rows[:, : width * 3].reshape(height, width, 3)
        frames[i] = bgr[::-1, :, ::-1]  # bottom-up rows, BGR -> RGB
    return fps, frames


def avi_compression(raw: bytes) -> int | None:
    """The video stream's biCompression u32 (0=BI_RGB, 'MJPG'=Motion
    JPEG), or None when the bytes aren't a parseable AVI."""
    try:
        if raw[:4] != RIFF_SIGNATURE or raw[8:12] != b"AVI ":
            return None
        result = None

        def _scan(pos: int, end: int) -> None:
            nonlocal result
            for fourcc, _lt, dstart, dlen in _walk_riff(raw, pos, end):
                if fourcc == b"LIST":
                    _scan(dstart, dstart + dlen)
                elif fourcc == b"strf" and dlen >= 20:
                    result = struct.unpack("<I", raw[dstart + 16 : dstart + 20])[0]

        _scan(12, len(raw))
        return result
    except (ValueError, struct.error):
        return None


def encode_avi(
    frames: np.ndarray, fps: float = 8.0, codec: str = "DIB", quant: int = 4
) -> bytes:
    """Encode uint8 RGB frames (n, H, W, 3) as a real AVI.

    ``codec="DIB"`` (default): uncompressed 24-bit BI_RGB, bottom-up
    BGR rows, 4-byte row padding. ``codec="MJPG"`` (round 5): Motion
    JPEG — every frame a standalone baseline JPEG from the from-scratch
    T.81 encoder ('00dc' chunks, biCompression='MJPG'), i.e. a REAL
    compressed video stream; ``quant`` is the per-frame quantization
    step."""
    arr = np.ascontiguousarray(frames, dtype=np.uint8)
    n, height, width, _ = arr.shape
    stride = (width * 3 + 3) & ~3
    usec = int(round(1e6 / fps))

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def list_chunk(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    frame_bytes = []
    if codec == "MJPG":
        for f in arr:
            frame_bytes.append(encode_jpeg(f, quant=quant))
        frame_size = max(len(fb) for fb in frame_bytes)
        frame_id, fourcc_s, compression, bitcount = b"00dc", b"MJPG", MJPG_FOURCC_U32, 24
    else:
        for f in arr:
            bgr_bottom_up = f[::-1, :, ::-1]
            rows = np.zeros((height, stride), dtype=np.uint8)
            rows[:, : width * 3] = bgr_bottom_up.reshape(height, width * 3)
            frame_bytes.append(rows.tobytes())
        frame_size = stride * height
        frame_id, fourcc_s, compression, bitcount = b"00db", b"DIB ", 0, 24

    avih = struct.pack(
        "<10I16x",
        usec, frame_size * int(fps), 0, 0x10, n, 0, 1, frame_size, width, height,
    )
    strh = (
        b"vids" + fourcc_s + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, int(fps), 0, n, frame_size, -1, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<iiiHHIIiiII", 40, width, height, 1, bitcount, compression, frame_size, 0, 0, 0, 0
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = list_chunk(b"movi", b"".join(chunk(frame_id, fb) for fb in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --- JPEG (baseline sequential DCT, ITU-T T.81) ----------------------------
#
# From-scratch baseline JPEG codec per the public ITU-T T.81 spec: marker
# parsing, canonical Huffman coding, zigzag + quantization, 8x8 DCT-II /
# IDCT as orthonormal numpy matrix products, JFIF YCbCr color math.
# Decoder handles grayscale and 3-component images with sampling factors
# up to 2x2 (4:4:4 / 4:2:2 / 4:2:0) plus restart markers; progressive,
# arithmetic-coded, and 12-bit modes raise ValueError (stub tier).
# The encoder emits 4:4:4 (or single-component) baseline streams with
# fixed-length canonical Huffman tables — deliberately simple, but fully
# spec-valid: any conformant decoder reads them, and the quantization
# step is the only loss.

JPEG_SOI = b"\xff\xd8"


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag index sequence, generated (not recited):
    walk anti-diagonals, alternating direction (T.81 Figure 5)."""
    idx = []
    for s in range(15):
        d = [(i, s - i) for i in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            d = d[::-1]  # even diagonals run bottom-left -> top-right
        idx.extend(r * 8 + c for r, c in d)
    return np.array(idx, dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)

# orthonormal 8-point DCT-II matrix: C[k, n] = a(k) cos((2n+1)k pi / 16)
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _idct2(block: np.ndarray) -> np.ndarray:
    return _C.T @ block @ _C


class _HuffDecoder:
    """Canonical Huffman decode table from DHT BITS/HUFFVAL.

    Decoding peeks 16 bits at once instead of pulling the stream one
    bit at a time (the pure-Python per-bit loop dominated the whole
    decode profile): codes up to 8 bits — essentially every symbol in
    practice — resolve through a 256-entry first-level table in one
    indexed load, longer codes fall back to a (length, code) dict walk
    over lengths 9..16. Prefix-freeness makes the zero-padded peek at
    stream end safe: a real code that fits the remaining bits is the
    unique prefix match, and a padded phantom longer than the
    remaining bits fails in advance() exactly where the old per-bit
    reader raised."""

    def __init__(self, bits: list[int], vals: bytes):
        self.map: dict[tuple[int, int], int] = {}
        self.tab8: list[tuple[int, int] | None] = [None] * 256
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                v = vals[k]
                self.map[(length, code)] = v
                if length <= 8:
                    lo = code << (8 - length)
                    for i in range(1 << (8 - length)):
                        self.tab8[lo + i] = (v, length)
                code += 1
                k += 1
            code <<= 1

    def decode(self, reader: "_BitReader") -> int:
        p = reader.peek16()
        e = self.tab8[p >> 8]
        if e is not None:
            reader.advance(e[1])
            return e[0]
        for length in range(9, 17):
            v = self.map.get((length, p >> (16 - length)))
            if v is not None:
                reader.advance(length)
                return v
        raise ValueError("invalid JPEG huffman code")


@lru_cache(maxsize=128)
def _huff_decoder(bits: tuple[int, ...], vals: bytes) -> _HuffDecoder:
    """Table construction is per-DHT work that repeats identically
    across images sharing tables (every encoder that emits the
    standard/fixed tables, including ours) — cache by content."""
    return _HuffDecoder(list(bits), vals)


class _BitReader:
    """MSB-first bit reader over an already-unstuffed ECS segment.

    A small integer accumulator refills a byte at a time; reads are
    shift/mask extractions, so ``receive_extend`` costs one extraction
    however many bits it needs (the old reader paid a Python call per
    bit)."""

    __slots__ = ("data", "n", "pos", "acc", "bits")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.bits = 0

    def _fill(self, need: int) -> None:
        while self.bits < need and self.pos < self.n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.bits += 8

    def read_bits(self, nb: int) -> int:
        if self.bits < nb:
            self._fill(nb)
            if self.bits < nb:
                raise ValueError("truncated JPEG entropy data")
        self.bits -= nb
        v = (self.acc >> self.bits) & ((1 << nb) - 1)
        self.acc &= (1 << self.bits) - 1
        return v

    def read_bit(self) -> int:
        return self.read_bits(1)

    def peek16(self) -> int:
        """Next 16 bits without consuming, zero-padded past the end."""
        if self.bits < 16:
            self._fill(16)
        if self.bits >= 16:
            return (self.acc >> (self.bits - 16)) & 0xFFFF
        return (self.acc << (16 - self.bits)) & 0xFFFF

    def advance(self, nb: int) -> None:
        if self.bits < nb:
            self._fill(nb)
            if self.bits < nb:
                raise ValueError("truncated JPEG entropy data")
        self.bits -= nb
        self.acc &= (1 << self.bits) - 1

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.read_bits(s)
        if v < (1 << (s - 1)):  # negative branch (T.81 F.2.2.1 EXTEND)
            v += (-1 << s) + 1
        return v


def _split_ecs(raw: bytes, pos: int) -> tuple[list[bytes], int]:
    """Collect entropy-coded segments from ``pos``: unstuff 0xFF00,
    split on restart markers, stop at any other marker. Returns
    (segments, position of the terminating marker's 0xFF)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = raw[i + 1]
        if m == 0x00:  # stuffed data byte
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, i


def decode_jpeg(raw: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG to uint8 (H, W) or (H, W, 3)."""
    if raw[:2] != JPEG_SOI:
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    comps: list[dict] = []
    H = W = 0
    restart_interval = 0
    i = 2
    n = len(raw)
    while i < n:
        if raw[i] != 0xFF:
            raise ValueError("marker expected in JPEG header")
        marker = raw[i + 1]
        i += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before scan
            raise ValueError("JPEG has no scan data")
        (seg_len,) = struct.unpack(">H", raw[i : i + 2])
        seg = raw[i + 2 : i + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(
                        np.int32
                    )
                    p += 64
                else:
                    tbl = np.frombuffer(
                        seg[p : p + 128], dtype=">u2"
                    ).astype(np.int32)
                    p += 128
                qt[tq] = tbl
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (both Huffman sequential)
            precision = seg[0]
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            H, W = struct.unpack(">HH", seg[1:5])
            nf = seg[5]
            comps = []
            for c in range(nf):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG mode (progressive/arithmetic)")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                vals = seg[p + 17 : p + 17 + cnt]
                huff[(tc, th)] = _huff_decoder(tuple(bits), bytes(vals))
                p += 17 + cnt
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c : 3 + 2 * c]
                comp = next(x for x in comps if x["id"] == cs)
                scan.append((comp, tda >> 4, tda & 15))
            i += seg_len
            return _decode_scan(
                raw, i, H, W, comps, scan, qt, huff, restart_interval
            )
        # APPn / COM / others: skip
        i += seg_len
    raise ValueError("JPEG ended before SOS")


def _decode_scan(raw, pos, H, W, comps, scan, qt, huff, restart_interval):
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("sampling factors > 2 unsupported")
    mcux = -(-W // (8 * hmax))
    mcuy = -(-H // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c in comps
    }
    segs, _ = _split_ecs(raw, pos)
    seg_idx = 0
    reader = _BitReader(segs[0])
    pred = {c["id"]: 0 for c in comps}
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("missing JPEG restart segment")
            reader = _BitReader(segs[seg_idx])
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(m, mcux)
        for comp, td, ta in scan:
            dc_t, ac_t = huff[(0, td)], huff[(1, ta)]
            q = qt[comp["tq"]]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    zz = np.zeros(64, dtype=np.int32)
                    s = dc_t.decode(reader)
                    pred[comp["id"]] += reader.receive_extend(s)
                    zz[0] = pred[comp["id"]]
                    k = 1
                    while k < 64:
                        rs = ac_t.decode(reader)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC index out of range")
                        zz[k] = reader.receive_extend(s)
                        k += 1
                    block = (zz * q)[_UNZZ].reshape(8, 8).astype(np.float64)
                    px = _idct2(block) + 128.0
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[comp["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(p[:H, :W])
    if len(out_planes) == 1:
        return np.clip(out_planes[0] + 0.5, 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(rgb + 0.5, 0, 255).astype(np.uint8)


# ---- encoder ----


class _HuffEncoder:
    def __init__(self, bits: list[int], vals: bytes):
        self.bits = bits
        self.vals = vals
        self.codes: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.codes[vals[k]] = (length, code)
                code += 1
                k += 1
            code <<= 1


def _fixed_len_table(symbols: list[int], length: int) -> _HuffEncoder:
    """All-symbols-same-length canonical table: valid whenever
    len(symbols) < 2^length (the all-ones code stays unused, as T.81's
    BITS generation guarantees). Suboptimal compression, fully
    conformant streams."""
    assert len(symbols) < (1 << length)
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return _HuffEncoder(bits, bytes(symbols))


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, length: int, code: int) -> None:
        # whole-code append (one shift/mask per CODE, not per bit),
        # draining complete bytes with T.81 0xFF00 stuffing
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _quantize_blocks(blocks: np.ndarray, quant: int) -> np.ndarray:
    """Batched DCT + symmetric (round-half-away) quantization for a
    (n, 8, 8) stack of level-shifted blocks -> (n, 64) zigzag-ordered
    int64 coefficients. One numpy pass for the whole image — the
    per-block small-array overhead dominated the encode profile."""
    coef = np.round(_C @ blocks @ _C.T).astype(np.int64)
    zz = coef.reshape(len(blocks), 64)[:, _ZZ]
    q = np.int64(quant)
    return np.sign(zz) * ((np.abs(zz) + q // 2) // q)


def _encode_block(wtr, zzq, pred, ci, dc_enc, ac_enc):
    """Entropy-code one quantized zigzag block (a plain Python list —
    int iteration is several times faster than numpy scalar reads)."""
    dc = zzq[0]
    diff = dc - pred[ci]
    pred[ci] = dc
    s = _category(diff)
    ln, code = dc_enc.codes[s]
    wtr.write(ln, code)
    if s:
        wtr.write(s, diff if diff >= 0 else diff + (1 << s) - 1)
    last_nz = 0
    for k in range(63, 0, -1):
        if zzq[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        v = zzq[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_enc.codes[0xF0]
            wtr.write(ln, code)
            run -= 16
        s = _category(v)
        ln, code = ac_enc.codes[(run << 4) | s]
        wtr.write(ln, code)
        wtr.write(s, v if v >= 0 else v + (1 << s) - 1)
        run = 0
    if last_nz < 63:
        ln, code = ac_enc.codes[0x00]  # EOB
        wtr.write(ln, code)


def encode_jpeg(
    img: np.ndarray, quant: int = 8, subsample_420: bool = False
) -> bytes:
    """Encode uint8 (H, W) or (H, W, 3) as a baseline JPEG.

    ``quant`` is the flat quantization step for every coefficient —
    small values keep round-trips tight (the tests' lever), larger
    values compress harder. Flat tables are spec-valid; Annex K's
    psychovisual tables are an optimization, not a requirement.
    ``subsample_420`` switches color images to 2x2-sampled luma with
    box-mean-downsampled chroma (the web's dominant layout) —
    exercising the decoder's interleaved multi-block MCU path.
    """
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    H, W = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    # per-component sampling factors (h, v)
    if gray or not subsample_420:
        samps = [(1, 1)] * len(planes)
    else:
        samps = [(2, 2), (1, 1), (1, 1)]
    hmax = max(h for h, _ in samps)
    vmax = max(v for _, v in samps)
    dc_enc = _fixed_len_table(list(range(12)), 4)
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_enc = _fixed_len_table(ac_syms, 8)

    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcux, mcuy = -(-W // mcu_w), -(-H // mcu_h)
    comp_planes = []
    for (h, v), p in zip(samps, planes):
        if (h, v) != (hmax, vmax):
            # box-mean downsample by the sampling ratio
            fy, fx = vmax // v, hmax // h
            ph, pw = -(-p.shape[0] // fy) * fy, -(-p.shape[1] // fx) * fx
            p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
            p = p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * v * 8, mcux * h * 8
        p = np.pad(
            p,
            ((0, th - p.shape[0]), (0, tw - p.shape[1])),
            mode="edge",
        )
        comp_planes.append(p)

    # gather blocks in entropy-stream emission order, batch the
    # DCT+quantization in one numpy pass, then entropy-code from plain
    # Python lists (the per-block small-numpy overhead dominated)
    blocks = []
    comp_of = []
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, ((h, v), p) in enumerate(zip(samps, comp_planes)):
                for by in range(v):
                    for bx in range(h):
                        y0 = (my * v + by) * 8
                        x0 = (mx * h + bx) * 8
                        blocks.append(p[y0 : y0 + 8, x0 : x0 + 8])
                        comp_of.append(ci)
    zzq_all = _quantize_blocks(np.stack(blocks) - 128.0, quant).tolist()
    wtr = _BitWriter()
    pred = [0] * len(planes)
    for ci, zzq in zip(comp_of, zzq_all):
        _encode_block(wtr, zzq, pred, ci, dc_enc, ac_enc)
    ecs = wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    ncomp = len(planes)
    dqt = seg(0xDB, bytes([0x00]) + bytes([quant] * 64))  # flat table, zigzag-invariant
    sof_comps = b"".join(
        bytes([cid + 1, (samps[cid][0] << 4) | samps[cid][1], 0x00])
        for cid in range(ncomp)
    )
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", H, W) + bytes([ncomp]) + sof_comps)
    dht_dc = seg(
        0xC4, bytes([0x00]) + bytes(dc_enc.bits) + dc_enc.vals
    )
    dht_ac = seg(
        0xC4, bytes([0x10]) + bytes(ac_enc.bits) + ac_enc.vals
    )
    sos_comps = b"".join(bytes([cid + 1, 0x00]) for cid in range(ncomp))
    sos = seg(0xDA, bytes([ncomp]) + sos_comps + bytes([0, 63, 0]))
    return (
        JPEG_SOI + dqt + sof + dht_dc + dht_ac + sos + ecs + b"\xff\xd9"
    )
