"""Sinks: PNG/PPM debug writers (S4) and the production tile writer (S6).

The reference's tests write warped tiles as PNGs for visual inspection
(writePNGSync, test.js:23-26, gated by WRITE env).  No PIL exists in
this container, so ``write_png`` is a minimal self-contained PNG encoder
(stdlib zlib, 8-bit RGB/RGBA/gray) — enough for debug output.  The
production sink is ``save_tiles`` -> parquet/snapshot store
(plans.lineage), the Iceberg-append analog.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def write_png_bytes(block):
    """(B,H,W) uint8 block (B in {1,3,4}) -> PNG bytes."""
    block = np.asarray(block)
    if block.dtype != np.uint8:
        block = np.clip(np.nan_to_num(block.astype(np.float64)), 0, 255).astype(np.uint8)
    b, h, w = block.shape
    color_type = {1: 0, 3: 2, 4: 6}[b]
    raw = np.transpose(block, (1, 2, 0))  # H, W, B
    scanlines = b"".join(b"\x00" + raw[r].tobytes() for r in range(h))

    def chunk(tag, data):
        c = struct.pack(">I", len(data)) + tag + data
        return c + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scanlines, 6)) + chunk(b"IEND", b""))


def write_png(path, block):
    """(B,H,W) uint8 block (B in {1,3,4}) -> PNG file."""
    with open(path, "wb") as f:
        f.write(write_png_bytes(block))
    return path


def decode_png(buf):
    """Minimal stdlib PNG decoder — the inverse of ``write_png`` (8-bit
    gray/RGB/RGBA, non-interlaced, all five PNG filter types per the spec).
    Verifies chunk CRCs and inflates IDAT with zlib.  Returns a (B,H,W)
    uint8 block.

    This is a REAL decode (magic check, chunk walk, CRC verify, inflate,
    un-filter); our own encoder emits filter type 0 so the vectorized
    fast path covers the pipeline's hot loop, while filters 1-4 take the
    per-byte reference path (decode of foreign PNGs is inherently
    sequential per scanline)."""
    buf = bytes(buf)
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w = 8, b"", None
    while pos + 12 <= len(buf):
        (length,) = struct.unpack(">I", buf[pos:pos + 4])
        tag = buf[pos + 4:pos + 8]
        data = buf[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", buf[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            w, h, bit, color, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
            if bit != 8 or interlace != 0 or color not in (0, 2, 6):
                raise ValueError("unsupported PNG variant")
            nch = {0: 1, 2: 3, 6: 4}[color]
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w * nch + 1)
    ftypes = raw[:, 0]
    lines = raw[:, 1:]
    out = np.zeros((h, w * nch), np.uint8)
    prev = np.zeros(w * nch, np.int32)
    for r in range(h):
        ft = int(ftypes[r])
        line = lines[r].astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up — vectorized
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the left neighbor sequentially
            cur = np.zeros(w * nch, np.int32)
            for c in range(w * nch):
                a = int(cur[c - nch]) if c >= nch else 0
                b = int(prev[c])
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                elif ft == 4:
                    pc = int(prev[c - nch]) if c >= nch else 0
                    p = a + b - pc
                    pa, pb, pcv = abs(p - a), abs(p - b), abs(p - pc)
                    pred = a if (pa <= pb and pa <= pcv) else (b if pb <= pcv else pc)
                else:
                    raise ValueError(f"bad filter {ft}")
                cur[c] = (int(line[c]) + pred) & 0xFF
        out[r] = cur.astype(np.uint8)
        prev = cur
    return np.ascontiguousarray(out.reshape(h, w, nch).transpose(2, 0, 1))


def write_ppm(path, block):
    """(3,H,W) uint8 -> binary PPM (no deps at all)."""
    block = np.asarray(block, dtype=np.uint8)
    _, h, w = block.shape
    with open(path, "wb") as f:
        f.write(f"P6 {w} {h} 255\n".encode())
        f.write(np.transpose(block, (1, 2, 0)).tobytes())
    return path
