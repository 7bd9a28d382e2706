"""Multimodal column support: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with
a typed metadata struct — the lakehouse-standard layout (content
column + sidecar metadata), so Spark never interprets the bytes until
an explicit decode step. The decode itself is a `mapInPandas` stage:
Arrow-batched, schema-stable, partition-parallel. SIX real codecs
are built in with no external dependencies beyond the stdlib: binary
PPM (P6), binary PGM (P5 grayscale, replicated to the shared RGB
tuple), uncompressed 24-bit BMP (BI_RGB), GIF87a/89a (full LZW
decode — variable code widths, CLEAR/EOI, 12-bit cap — plus
extensions, local color tables and interlacing), and 8-bit PNG
(chunk walk with CRC checks, stdlib-zlib inflate, all five scanline
filters, gray/RGB/palette/alpha color types) images parse and
feature-extract through pure python/numpy (`_parse_image` dispatch),
and RIFF/WAVE + AIFF PCM audio parse and feature-extract
(`_parse_wav` / `_parse_aiff`, both endiannesses incl. the 80-bit
extended-float AIFF sample rate) — the reference implementations
proving the seam end to end on genuine pixels and samples. The BMP,
GIF and PNG encoders are the inverses the decoder round-trip tests
build their payloads with. Richer codec libraries
(PIL / torchaudio / av) are NOT present in this environment, so for
every other format the codec call is isolated behind `decode_media`,
where a deterministic fake decoder (md5-seeded) stands in so the
Spark-side plumbing — schema, batching, UDF signature, partitioning —
is real and tested end to end.

Scale notes: payload bytes never shuffle (decode happens where the
row lives, mapInPandas preserves partitioning); feature extraction
emits fixed-width float vectors so downstream similarity ops (see
operators/llm_pipeline.py) apply unchanged; Arrow batch size bounds
executor memory per batch regardless of payload size distribution.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary,"
    " meta struct<width:int, height:int, format:string>"
)

FEATURE_DIM = 8
FEATURES_SCHEMA = f"media_id long, n_bytes int, features array<float>"

def _pnm_header(payload: bytes, magic: bytes):
    """Shared binary-PNM header walk: magic, then three whitespace-
    separated integers with '#' comments allowed, then ONE whitespace
    byte before the raw sample data.  Returns (w, h, maxval,
    data_offset) or None on any malformation."""
    if not payload or not payload.startswith(magic):
        return None
    i, vals = len(magic), []
    try:
        while len(vals) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                i = payload.index(b"\n", i) + 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            vals.append(int(payload[i:j]))
            i = j
        i += 1  # the single whitespace byte after maxval
        w, h, maxval = vals
        if w <= 0 or h <= 0 or not 0 < maxval < 256:
            return None
        return w, h, maxval, i
    except (ValueError, IndexError):
        return None  # malformed header → not decodable


def _parse_ppm(payload: bytes):
    """Parse a binary PPM (P6): returns (width, height, maxval,
    H×W×3 uint8 ndarray) or None when the payload is not P6.
    Pure numpy — no codec library."""
    import numpy as np

    hdr = _pnm_header(payload, b"P6")
    if hdr is None:
        return None
    w, h, maxval, i = hdr
    try:
        data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    except ValueError:
        return None  # short pixel data → not decodable
    return w, h, maxval, data.reshape(h, w, 3)


def _parse_pgm(payload: bytes):
    """Parse a binary PGM (P5, grayscale): same header grammar as P6,
    one byte per pixel.  Returns the SAME (width, height, maxval,
    H×W×3 ndarray) tuple as the color codecs — the gray plane
    replicated across channels — so features apply
    unchanged (all three channel means equal the gray mean)."""
    import numpy as np

    hdr = _pnm_header(payload, b"P5")
    if hdr is None:
        return None
    w, h, maxval, i = hdr
    try:
        data = np.frombuffer(payload, dtype=np.uint8, count=w * h, offset=i)
    except ValueError:
        return None  # short pixel data → not decodable
    return w, h, maxval, np.repeat(data.reshape(h, w, 1), 3, axis=2)


def _ppm_features(img) -> list[float]:
    """FEATURE_DIM floats from real pixels: per-channel means, gray
    mean/std/min/max, aspect ratio — deterministic numpy float64."""
    w, h, maxval, px = img
    f = px.astype("float64") / float(maxval)
    gray = f.mean(axis=2)
    return [
        float(f[..., 0].mean()),
        float(f[..., 1].mean()),
        float(f[..., 2].mean()),
        float(gray.mean()),
        float(gray.std()),
        float(gray.min()),
        float(gray.max()),
        float(w) / float(h),
    ]


def _parse_bmp(payload: bytes):
    """Parse an uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB):
    returns the same (width, height, 255, H×W×3 uint8 RGB ndarray)
    tuple as `_parse_ppm`, or None when the payload is not such a
    BMP.  Handles the format's real quirks — rows padded to 4-byte
    boundaries, bottom-up row order (positive height) vs top-down
    (negative), BGR channel order — so feature code never
    sees them.  Pure numpy — no codec library."""
    import numpy as np

    if not payload or len(payload) < 54 or payload[:2] != b"BM":
        return None
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    planes = int.from_bytes(payload[26:28], "little")
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if (
        hdr_size < 40
        or planes != 1
        or bpp != 24
        or compression != 0  # BI_RGB only
        or w <= 0
        or h == 0
        or off < 54
    ):
        return None
    top_down = h < 0
    h_abs = -h if top_down else h
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(payload) < off + row_bytes * h_abs:
        return None  # truncated pixel data → not decodable
    data = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h_abs, offset=off
    )
    px = data.reshape(h_abs, row_bytes)[:, : w * 3].reshape(h_abs, w, 3)
    if not top_down:
        px = px[::-1]  # bottom-up storage → natural top-down order
    return w, h_abs, 255, px[..., ::-1]  # BGR → RGB


def _encode_bmp(img) -> bytes:
    """Re-encode a parsed image tuple as a bottom-up 24-bit BI_RGB
    BMP — the inverse of `_parse_bmp` (parse∘encode is identity on
    the pixel array)."""
    import numpy as np

    w, h, _maxval, px = img
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = body.tobytes()
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    header = (
        b"BM"
        + (54 + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
    )
    return header + info + data


def _gif_subblocks(payload: bytes, i: int):
    """Concatenate a GIF sub-block chain starting at offset ``i``:
    returns (bytes, offset_after_terminator) or None if truncated."""
    parts = []
    while True:
        if i >= len(payload):
            return None
        n = payload[i]
        i += 1
        if n == 0:
            return b"".join(parts), i
        if i + n > len(payload):
            return None
        parts.append(payload[i : i + n])
        i += n


def _lzw_decode(data: bytes, min_code: int, n_pixels: int):
    """GIF-variant LZW decode (LSB-first bit packing, CLEAR/EOI
    codes, 12-bit cap).  Returns exactly ``n_pixels`` indices or None
    on any malformation."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table: list[bytes] = [bytes([c]) for c in range(clear)] + [b"", b""]
    width = min_code + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                return None  # ran out of codes before n_pixels
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([c]) for c in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            return None  # EOI before the pixel count filled
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # code beyond the table → corrupt stream
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return list(out[:n_pixels])


# Interlaced GIF row passes: (start, step) in output row order.
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _parse_gif_indexed(payload: bytes):
    """Parse a GIF87a/89a's FIRST image frame in its native indexed
    form: returns (width, height, palette bytes, H×W uint8 index
    ndarray) or None.  Walks extensions, honors a local color table
    override, de-interlaces.  Pure python/numpy — no codec library."""
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    i = 13
    gct = None
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = payload[i : i + n]
        if len(gct) < n:
            return None
        i += n
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension: label byte + sub-block chain
            sb = _gif_subblocks(payload, i + 2)
            if sb is None:
                return None
            i = sb[1]
        elif b == 0x2C:  # image descriptor
            if i + 10 > len(payload):
                return None
            w = int.from_bytes(payload[i + 5 : i + 7], "little")
            h = int.from_bytes(payload[i + 7 : i + 9], "little")
            ipacked = payload[i + 9]
            i += 10
            ct = gct
            if ipacked & 0x80:  # local color table overrides
                n = 3 * (2 << (ipacked & 0x07))
                ct = payload[i : i + n]
                if len(ct) < n:
                    return None
                i += n
            if w <= 0 or h <= 0 or ct is None or i >= len(payload):
                return None
            min_code = payload[i]
            if not 2 <= min_code <= 11:
                return None  # widths would exceed the 12-bit cap
            sb = _gif_subblocks(payload, i + 1)
            if sb is None:
                return None
            idx = _lzw_decode(sb[0], min_code, w * h)
            if idx is None or max(idx) * 3 >= len(ct):
                return None
            arr = np.asarray(idx, dtype=np.uint8).reshape(h, w)
            if ipacked & 0x40:  # interlaced: reorder the 4 passes
                order = [
                    r
                    for start, step in _GIF_INTERLACE
                    for r in range(start, h, step)
                ]
                fixed = np.empty_like(arr)
                fixed[order] = arr
                arr = fixed
            return w, h, ct, arr
        elif b == 0x3B:
            return None  # trailer before any image frame
        else:
            return None  # unknown block type → corrupt
    return None


def _parse_gif(payload: bytes):
    """GIF → the shared (width, height, 255, H×W×3 RGB uint8) image
    tuple: first frame's indices looked up through its color table."""
    import numpy as np

    g = _parse_gif_indexed(payload)
    if g is None:
        return None
    w, h, ct, idx = g
    pal = np.frombuffer(ct, dtype=np.uint8)
    pal = pal[: 3 * (len(pal) // 3)].reshape(-1, 3)
    return w, h, 255, pal[idx]


def _encode_gif(palette: bytes, idx) -> bytes:
    """Encode an indexed image as a single-frame GIF87a with a global
    color table and REAL LZW compression — the inverse of
    `_parse_gif_indexed` (parse∘encode is identity on palette-padded
    indices).  Pure python."""
    import numpy as np

    h, w = idx.shape
    # GCT size must be a power of two ≥ palette entries (min 2 bits
    # so min_code ≥ 2, the LZW floor)
    n_entries = max(4, len(palette) // 3)
    bits = max(2, (n_entries - 1).bit_length())
    ct = palette.ljust(3 * (1 << bits), b"\x00")[: 3 * (1 << bits)]
    min_code = bits
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    # LZW encode (dict on byte strings, 12-bit cap, CLEAR on overflow)
    codes = [clear]
    table = {bytes([c]): c for c in range(clear)}
    next_code = eoi + 1
    run = b""
    for px in np.asarray(idx, dtype=np.uint8).ravel().tobytes():
        cand = run + bytes([px])
        if cand in table:
            run = cand
            continue
        codes.append(table[run])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        else:
            codes.append(clear)
            table = {bytes([c]): c for c in range(clear)}
            next_code = eoi + 1
        run = bytes([px])
    if run:
        codes.append(table[run])
    codes.append(eoi)
    # pack codes LSB-first, widening exactly when the DECODER widens:
    # after it has added entry (1 << width) - 1
    out = bytearray()
    acc = nbits = 0
    width = min_code + 1
    decoder_table = clear + 2
    first_after_clear = True  # decoder adds NO entry for that code
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            width = min_code + 1
            decoder_table = clear + 2
            first_after_clear = True
        elif code != eoi:
            if first_after_clear:
                first_after_clear = False
            elif decoder_table < 4096:
                decoder_table += 1
                if decoder_table == (1 << width) and width < 12:
                    width += 1
    if nbits:
        out.append(acc & 0xFF)
    blocks = bytearray()
    for j in range(0, len(out), 255):
        chunk = out[j : j + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    header = (
        b"GIF87a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | (bits - 1), 0, 0])
        + ct
        + b"\x2c"
        + (0).to_bytes(2, "little") * 2
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00"
        + bytes([min_code])
    )
    return bytes(header) + bytes(blocks) + b"\x3b"


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit depths only)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, w: int, h: int, ch: int):
    """Undo the five PNG scanline filters (None/Sub/Up/Average/Paeth)
    — inherently sequential per row, done in pure python over
    bytearrays.  Returns an H×W×ch uint8 ndarray or None."""
    import numpy as np

    stride = w * ch
    if len(raw) < h * (stride + 1):
        return None
    out = bytearray(h * stride)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for x in range(ch, stride):
                row[x] = (row[x] + row[x - ch]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[x] = (row[x] + pr) & 0xFF
        elif ft != 0:
            return None  # unknown filter type
        out[y * stride : (y + 1) * stride] = row
        prev = row
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, ch)


def _parse_png(payload: bytes):
    """Parse an 8-bit non-interlaced PNG (gray / RGB / palette /
    gray+alpha / RGBA) through stdlib zlib: chunk walk with CRC
    verification, inflate, scanline unfilter, then normalize to the
    shared (width, height, 255, H×W×3 RGB uint8) tuple (gray
    replicates, alpha drops — features describe the color planes).
    Returns None for anything else (16-bit, Adam7) — the md5
    stand-in, not a wrong decode.  Pure python + stdlib zlib."""
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        return None
    i = len(_PNG_SIG)
    w = h = None
    ctype = None
    plte = b""
    idat = []
    try:
        while i + 8 <= len(payload):
            n = int.from_bytes(payload[i : i + 4], "big")
            typ = payload[i + 4 : i + 8]
            data = payload[i + 8 : i + 8 + n]
            if len(data) < n or i + 12 + n > len(payload):
                return None  # truncated chunk
            crc = int.from_bytes(payload[i + 8 + n : i + 12 + n], "big")
            if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                return None  # corrupt chunk
            i += 12 + n
            if typ == b"IHDR":
                if n != 13:
                    return None
                w = int.from_bytes(data[0:4], "big")
                h = int.from_bytes(data[4:8], "big")
                depth, ctype, comp, filt, interlace = data[8:13]
                if (
                    depth != 8
                    or ctype not in _PNG_CHANNELS
                    or comp != 0
                    or filt != 0
                    or interlace != 0  # Adam7 → stand-in, not wrong pixels
                    or w <= 0
                    or h <= 0
                ):
                    return None
            elif typ == b"PLTE":
                plte = data
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
        if w is None or not idat:
            return None
        raw = zlib.decompress(b"".join(idat))
    except (zlib.error, ValueError):
        return None
    ch = _PNG_CHANNELS[ctype]
    px = _png_unfilter(raw, w, h, ch)
    if px is None:
        return None
    if ctype == 2:
        rgb = px
    elif ctype == 6:
        rgb = px[..., :3]  # drop alpha
    elif ctype == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif ctype == 4:
        rgb = np.repeat(px[..., :1], 3, axis=2)
    else:  # palette
        if not plte or int(px.max()) * 3 >= len(plte):
            return None
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: 3 * (len(pal) // 3)].reshape(-1, 3)
        rgb = pal[px[..., 0]]
    return w, h, 255, rgb


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _encode_png(img) -> bytes:
    """Re-encode a parsed image tuple as an 8-bit RGB PNG (filter 0
    scanlines, one zlib-deflated IDAT) — the inverse of `_parse_png`
    on the pixel array.  Pure python + stdlib zlib."""
    import zlib

    import numpy as np

    w, h, _maxval, px = img
    body = np.asarray(px, dtype=np.uint8)
    raw = b"".join(
        b"\x00" + body[y].tobytes() for y in range(h)
    )
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _parse_image(payload: bytes):
    """Dispatch across the built-in image codecs: the parsed image or
    None. New image codecs plug in here only."""
    if not payload:
        # null/empty payloads are in-contract (extract_features counts
        # them as 0 bytes); the GIF/PNG probes below assume len()/
        # startswith work, so short-circuit before dispatch
        return None
    for parse in (_parse_ppm, _parse_pgm, _parse_bmp, _parse_gif, _parse_png):
        img = parse(payload)
        if img is not None:
            return img
    return None


def _parse_wav(payload: bytes):
    """Minimal RIFF/WAVE parser: uncompressed PCM (format tag 1),
    8- or 16-bit, any channel count (downmixed to mono by mean).
    Walks the chunk list (word-aligned), so extra chunks (LIST, fact)
    are tolerated.  Returns (sample_rate, n_channels, float64 mono
    samples in [-1, 1]) or None when the payload is not such a WAV.
    Pure numpy — no codec library."""
    import numpy as np

    if (
        not payload
        or len(payload) < 44
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    i, fmt, data = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if n_ch < 1 or rate <= 0:
        return None
    if audio_format == 1 and bits == 16:
        s = (
            np.frombuffer(data, dtype="<i2", count=len(data) // 2).astype(
                "float64"
            )
            / 32768.0
        )
    elif audio_format == 1 and bits == 8:
        s = (np.frombuffer(data, dtype=np.uint8).astype("float64") - 128.0) / 128.0
    elif audio_format == 1 and bits == 24:
        # 3-byte little-endian signed: widen to int32 via zero-padded
        # low byte, then shift out — vectorized, no per-sample loop
        n = len(data) // 3
        b = np.frombuffer(data, dtype=np.uint8, count=n * 3).reshape(n, 3)
        wide = np.zeros((n, 4), dtype=np.uint8)
        wide[:, 1:] = b
        s = (wide.view("<i4").ravel() >> 8).astype("float64") / 8388608.0
    elif audio_format == 3 and bits == 32:  # IEEE float PCM
        s = np.frombuffer(data, dtype="<f4", count=len(data) // 4).astype(
            "float64"
        )
    else:
        return None
    if n_ch > 1:
        s = s[: (len(s) // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
    if len(s) == 0:
        return None
    return rate, n_ch, s


def _parse_aiff(payload: bytes):
    """Minimal AIFF parser — the big-endian IFF sibling of RIFF/WAVE:
    FORM/AIFF container, COMM (channels, frames, bits, 80-bit
    extended-float sample rate) + SSND chunks, 8- or 16-bit PCM, any
    channel count (downmixed to mono by mean).  Returns the same
    (sample_rate, n_channels, float64 mono samples) tuple as
    `_parse_wav` so the feature path is shared.  Pure numpy."""
    import numpy as np

    if (
        not payload
        or len(payload) < 12
        or payload[:4] != b"FORM"
        or payload[8:12] != b"AIFF"
    ):
        return None
    i, comm, ssnd = 12, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "big")
        body = payload[i + 8 : i + 8 + size]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        return None
    n_ch = int.from_bytes(comm[0:2], "big", signed=True)
    bits = int.from_bytes(comm[6:8], "big", signed=True)
    # 80-bit extended float: 1 sign + 15 exponent bits, 64-bit mantissa
    exp = int.from_bytes(comm[8:10], "big") & 0x7FFF
    mant = int.from_bytes(comm[10:18], "big")
    if exp == 0 or mant == 0:
        return None
    rate = int(round(mant * 2.0 ** (exp - 16383 - 63)))
    if n_ch < 1 or rate <= 0 or bits not in (8, 16):
        return None
    offset = int.from_bytes(ssnd[0:4], "big")
    data = ssnd[8 + offset :]
    if bits == 16:
        s = (
            np.frombuffer(data, dtype=">i2", count=len(data) // 2).astype(
                "float64"
            )
            / 32768.0
        )
    else:  # AIFF 8-bit is SIGNED (unlike WAV's unsigned)
        s = np.frombuffer(data, dtype=np.int8).astype("float64") / 128.0
    if n_ch > 1:
        s = s[: (len(s) // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
    if len(s) == 0:
        return None
    return rate, n_ch, s


def _wav_features(aud) -> list[float]:
    """FEATURE_DIM floats from real samples: duration, RMS, mean,
    peak, zero-crossing rate, normalized sample rate, channel count,
    std — deterministic numpy float64."""
    import numpy as np

    rate, n_ch, s = aud
    zc = float(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1])))
    return [
        float(len(s)) / float(rate),
        float(np.sqrt((s * s).mean())),
        float(s.mean()),
        float(np.abs(s).max()),
        zc / float(len(s)),
        float(rate) / 48000.0,
        float(n_ch),
        float(s.std()),
    ]


def decode_media(payload: bytes, kind: str) -> list[float]:
    """Decode one payload into a fixed-width feature vector.

    Image payloads in binary PPM (P6), binary PGM (P5), uncompressed
    24-bit BMP, GIF or 8-bit PNG and audio payloads in uncompressed
    RIFF/WAVE PCM decode for REAL — header parse (LZW decompression
    for GIF, zlib inflate + scanline unfiltering for PNG), pixel or
    sample statistics — through the pure-python codecs above.
    Other formats would dispatch on `kind` to PIL (image), soundfile
    (audio), or av (video frame sampling); those libraries are
    unavailable here, so the deterministic fake derives features from
    the md5 digest — stable across runs and engines, preserving
    testability of everything around the codec."""
    if kind == "image":
        img = _parse_image(payload)
        if img is not None:
            return _ppm_features(img)
    if kind == "audio":
        aud = _parse_wav(payload)
        if aud is None:
            aud = _parse_aiff(payload)
        if aud is not None:
            return _wav_features(aud)
    digest = hashlib.md5(payload or b"").digest()
    return [digest[i] / 255.0 for i in range(FEATURE_DIM)]


def documents_as_media(docs: DataFrame) -> DataFrame:
    """View the documents table through the media layout: UTF-8 bytes
    as the payload, metadata derived from document properties. This is
    the ingestion shape a real image/audio table would have."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("n_chars").cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit("utf-8").alias("format"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature-extraction stage: (media_id, kind, payload)
    → (media_id, n_bytes, features[FEATURE_DIM]). Arrow-batched; one
    python process per partition, no shuffle."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode_media(p, k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _batches, schema=FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling stub for video payloads: emits one row per
    sampled "frame" offset (1→N fan-out via posexplode over an offset
    sequence — pure column ops; the per-frame decode would plug into
    decode_media). Demonstrates the explode-shaped multimodal op."""
    n = F.length(F.col("payload"))
    offsets = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes)
    )
    return media.select(
        "media_id",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )
