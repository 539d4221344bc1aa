"""Byte pins for the TIFF and JPEG codecs in ``geowarp_spark.sources``.

The round-trip tests in test_tiff.py prove that what the writer emits the
reader reads back; they do not notice a change in the bytes themselves
(segment order, padding, tag layout, entropy coding) or in the exact
pixels a lossy JPEG decode returns.  These tests pin both with CRC32s:

- ``write_tiff`` output across layout x compression x predictor, each
  CRC chained over the four ``big`` x ``overviews=[2]`` variants, and
  the ``read_tiff`` pixels of every level (equal to the input for the
  lossless codecs, pinned for JPEG);
- ``encode_jpeg`` streams and the ``decode_jpeg`` arrays of gray, 4:4:4,
  4:2:2 and 4:2:0 images with restart intervals 0/1/2/7 and abbreviated
  (JPEGTables-style) streams.

The rasters are built here from a seeded PCG64 stream, not from
``sources.fixtures``, so a fixture change does not move the pins."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from geowarp_spark.sources.jpeg import (decode_jpeg, encode_jpeg,
                                        jpeg_tables_stream, parse_tables)
from geowarp_spark.sources.tiff import read_tiff, write_tiff

H, W = 75, 101          # neither a multiple of the strip height nor the tile


def _raster(kind: str) -> dict:
    rng = np.random.default_rng([23, len(kind)])
    gy, gx = np.mgrid[0:H, 0:W]
    smooth = (gx * 2 + gy) % 256
    noise = rng.integers(0, 256, size=(H, W))
    base = np.where((gx // 20 + gy // 15) % 2 == 0, smooth, noise)
    gt, srs, nd = [30.0, 0.01, 0.0, 60.0, 0.0, -0.01], 4326, 0
    if kind == "u8x1":
        data = base[None].astype(np.uint8)
    elif kind == "u8x3":
        data = np.stack([base, smooth, (base + gy * 3) % 256]).astype(np.uint8)
    elif kind == "u16":
        data = (base * 257 + gx)[None].astype(np.uint16)
        gt, srs = [170000.0, 1.5, 0.4, 8100000.0, 0.3, -1.2], 32760
    else:  # f32
        data = (rng.random((1, H, W)) * 100.0).astype(np.float32)
        data[0, :9, :] = np.nan
        gt, srs, nd = [-1e6, 2e4, 0.0, 1e6, 0.0, -2e4], 3031, float("nan")
    return {"raster_id": kind, "srs": srs, "bbox": None, "geotransform": gt,
            "width": W, "height": H, "bands": int(data.shape[0]),
            "dtype": str(data.dtype), "no_data": nd, "data": data}


def _tiff_cases():
    for kind in ("u8x1", "u8x3", "u16", "f32"):
        comps = ["none", "lzw", "deflate", "packbits"]
        if kind.startswith("u8"):
            comps.append("jpeg")
        for layout in ("strips", "tiles"):
            for comp in comps:
                preds = [False] if comp == "jpeg" else \
                    [False, 3 if kind == "f32" else 2]
                for pred in preds:
                    yield f"{kind}/{layout}/{comp}/p{int(pred)}", kind, \
                        layout, comp, pred


WRITER_CRCS = {
    "u8x1/strips/none/p0": "35381bd7",
    "u8x1/strips/none/p2": "d8fd37b3",
    "u8x1/strips/lzw/p0": "c2215f00",
    "u8x1/strips/lzw/p2": "a4fdeb94",
    "u8x1/strips/deflate/p0": "66c566a9",
    "u8x1/strips/deflate/p2": "d14f6a52",
    "u8x1/strips/packbits/p0": "c1b29212",
    "u8x1/strips/packbits/p2": "d267ee19",
    "u8x1/strips/jpeg/p0": "9f945852",
    "u8x1/tiles/none/p0": "2acf935a",
    "u8x1/tiles/none/p2": "5c5ed848",
    "u8x1/tiles/lzw/p0": "72c1eed8",
    "u8x1/tiles/lzw/p2": "e3d4158c",
    "u8x1/tiles/deflate/p0": "b12cc32d",
    "u8x1/tiles/deflate/p2": "e59e7d1c",
    "u8x1/tiles/packbits/p0": "eb109235",
    "u8x1/tiles/packbits/p2": "78c68d32",
    "u8x1/tiles/jpeg/p0": "414b942e",
    "u8x3/strips/none/p0": "a01bdc3e",
    "u8x3/strips/none/p2": "c444c7cb",
    "u8x3/strips/lzw/p0": "b4a14726",
    "u8x3/strips/lzw/p2": "74689ce7",
    "u8x3/strips/deflate/p0": "f3cb8573",
    "u8x3/strips/deflate/p2": "a7d9bb00",
    "u8x3/strips/packbits/p0": "54ba7d2d",
    "u8x3/strips/packbits/p2": "f833a910",
    "u8x3/strips/jpeg/p0": "6a6c5247",
    "u8x3/tiles/none/p0": "e9826323",
    "u8x3/tiles/none/p2": "51bc46da",
    "u8x3/tiles/lzw/p0": "bae065d8",
    "u8x3/tiles/lzw/p2": "626ee388",
    "u8x3/tiles/deflate/p0": "42cd7dd7",
    "u8x3/tiles/deflate/p2": "8b1b8177",
    "u8x3/tiles/packbits/p0": "30ef7db4",
    "u8x3/tiles/packbits/p2": "677c2ff3",
    "u8x3/tiles/jpeg/p0": "7d803319",
    "u16/strips/none/p0": "971c2a87",
    "u16/strips/none/p2": "93de1166",
    "u16/strips/lzw/p0": "9e2a65f4",
    "u16/strips/lzw/p2": "8118e42d",
    "u16/strips/deflate/p0": "1d3ab853",
    "u16/strips/deflate/p2": "9c167a36",
    "u16/strips/packbits/p0": "2a287913",
    "u16/strips/packbits/p2": "29d8cc84",
    "u16/tiles/none/p0": "826cbcdf",
    "u16/tiles/none/p2": "5ecfce39",
    "u16/tiles/lzw/p0": "0a7faa68",
    "u16/tiles/lzw/p2": "9706a0f6",
    "u16/tiles/deflate/p0": "13fbbbde",
    "u16/tiles/deflate/p2": "0c7b774f",
    "u16/tiles/packbits/p0": "de64f074",
    "u16/tiles/packbits/p2": "c61e380f",
    "f32/strips/none/p0": "fdc29cbb",
    "f32/strips/none/p3": "3d8e041e",
    "f32/strips/lzw/p0": "e1e1f51c",
    "f32/strips/lzw/p3": "ca170c5c",
    "f32/strips/deflate/p0": "33d5f48d",
    "f32/strips/deflate/p3": "b67d5690",
    "f32/strips/packbits/p0": "3083d010",
    "f32/strips/packbits/p3": "4c21a5e1",
    "f32/tiles/none/p0": "9ac17e43",
    "f32/tiles/none/p3": "e38cbbd0",
    "f32/tiles/lzw/p0": "52fad669",
    "f32/tiles/lzw/p3": "d8c43f7e",
    "f32/tiles/deflate/p0": "d0c6e3b7",
    "f32/tiles/deflate/p3": "72d3cc33",
    "f32/tiles/packbits/p0": "3c777ab3",
    "f32/tiles/packbits/p3": "aae9dc7f",
}

# read_tiff pixels of level 0 then level 1 of the big, overviews=[2] file,
# chained, for the lossy codec
JPEG_READ_CRCS = {
    "u8x1/strips/jpeg/p0": "cee0308d",
    "u8x1/tiles/jpeg/p0": "4dca9e84",
    "u8x3/strips/jpeg/p0": "686c7cea",
    "u8x3/tiles/jpeg/p0": "d1f74f48",
}


def _tiff_digest(kind, layout, comp, pred):
    fx = _raster(kind)
    crc, read_crc = 0, 0
    for big in (False, True):
        for ov in (None, [2]):
            buf = write_tiff(fx, compression=comp, layout=layout,
                             rows_per_strip=16, tile_size=32,
                             predictor=pred, big=big, overviews=ov)
            crc = zlib.crc32(buf, crc)
            for level, step in enumerate([1] + (ov or [])):
                got = read_tiff(buf, level=level)["data"]
                want = fx["data"][:, ::step, ::step]
                assert got.shape == want.shape and got.dtype == want.dtype
                if comp != "jpeg":
                    np.testing.assert_array_equal(got, want)
                elif big and ov:
                    read_crc = zlib.crc32(got.tobytes(), read_crc)
    return f"{crc:08x}", f"{read_crc:08x}"


@pytest.mark.parametrize("name,kind,layout,comp,pred", list(_tiff_cases()))
def test_write_tiff_bytes_pinned(name, kind, layout, comp, pred):
    crc, read_crc = _tiff_digest(kind, layout, comp, pred)
    assert crc == WRITER_CRCS[name], name
    if comp == "jpeg":
        assert read_crc == JPEG_READ_CRCS[name], name


def _jpeg_image(kind: str, h: int, w: int) -> np.ndarray:
    rng = np.random.default_rng([29, h, w])
    gy, gx = np.mgrid[0:h, 0:w]
    smooth = np.stack([(gx * 3) % 256, (gy * 5) % 256, (gx + 2 * gy) % 256],
                      axis=-1)
    noise = rng.integers(0, 256, size=(h, w, 3))
    img = np.where(((gx // 12 + gy // 9) % 2 == 0)[..., None], smooth, noise)
    img = img.astype(np.uint8)
    return img[..., 0] if kind == "gray" else img


# name -> (image kind, height, width, quality, subsampling, restart,
#          abbreviated, to_rgb)
JPEG_CASES = {
    "gray_q90": ("gray", 37, 53, 90, (1, 1), 0, False, True),
    "gray_q100_rst1": ("gray", 19, 29, 100, (1, 1), 1, False, True),
    "gray_q50_rst7": ("gray", 41, 66, 50, (1, 1), 7, False, True),
    "gray_q75_abbr": ("gray", 24, 40, 75, (1, 1), 0, True, True),
    "444_q90": ("rgb", 37, 53, 90, (1, 1), 0, False, True),
    "444_q100_rst2": ("rgb", 33, 40, 100, (1, 1), 2, False, True),
    "444_q85_abbr_rst7": ("rgb", 40, 72, 85, (1, 1), 7, True, True),
    "444_q90_raw": ("rgb", 16, 24, 90, (1, 1), 0, False, False),
    "422_q90": ("rgb", 37, 53, 90, (2, 1), 0, False, True),
    "422_q60_rst1": ("rgb", 30, 50, 60, (2, 1), 1, False, True),
    "420_q90": ("rgb", 37, 53, 90, (2, 2), 0, False, True),
    "420_q95_rst2": ("rgb", 48, 80, 95, (2, 2), 2, False, True),
    "420_q70_abbr_rst7": ("rgb", 41, 59, 70, (2, 2), 7, True, True),
}

# name -> (encoded stream CRC, decoded array CRC)
JPEG_CRCS = {
    "gray_q90": ("b541e4ef", "00fccce3"),
    "gray_q100_rst1": ("1c91c5d9", "3031300b"),
    "gray_q50_rst7": ("2495ca63", "915fa2a6"),
    "gray_q75_abbr": ("ce8c9b6f", "2e62f881"),
    "444_q90": ("ad846f4b", "696940d6"),
    "444_q100_rst2": ("6a83d82d", "49c26ab7"),
    "444_q85_abbr_rst7": ("625e073a", "ebfe01ff"),
    "444_q90_raw": ("0e3a5669", "d3046e14"),
    "422_q90": ("50d218c1", "1836ed10"),
    "422_q60_rst1": ("f704bf5d", "cba97996"),
    "420_q90": ("98b5e257", "13403e0b"),
    "420_q95_rst2": ("51bb4cf9", "df69b76b"),
    "420_q70_abbr_rst7": ("0008fc36", "6fced54e"),
}


def _jpeg_digest(kind, h, w, q, sub, rst, abbr, to_rgb):
    img = _jpeg_image(kind, h, w)
    buf = encode_jpeg(img, quality=q, subsampling=sub, restart_interval=rst,
                      omit_tables=abbr)
    tables = parse_tables(jpeg_tables_stream(q, color=kind == "rgb")) \
        if abbr else None
    out = decode_jpeg(buf, tables=tables, to_rgb=to_rgb)
    assert out.shape == (h, w, 1 if kind == "gray" else 3)
    return f"{zlib.crc32(buf):08x}", f"{zlib.crc32(out.tobytes()):08x}"


@pytest.mark.parametrize("name", list(JPEG_CASES))
def test_jpeg_codec_pinned(name):
    assert _jpeg_digest(*JPEG_CASES[name]) == JPEG_CRCS[name], name
