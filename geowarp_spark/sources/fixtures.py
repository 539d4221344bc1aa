"""Deterministic synthetic raster fixtures (FIXTURES.md §1).

The reference's fixtures are network-downloaded GeoTIFFs
(/root/reference/test-data/setup.sh); this sandbox is offline, so each
fixture below reproduces the *property* its reference counterpart tests
(multi-band RGBA, repeated-pixel regions for stable mode, palette,
skewed geotransform, NaN regions, whole-globe extent).  seed=42.
"""

from __future__ import annotations

import numpy as np

from ..kernels.proj import WEB_MERCATOR_EXTENT

_E = WEB_MERCATOR_EXTENT


def _rng():
    return np.random.default_rng(42)


def _blocky(rng, h, w, block=32, levels=(20, 60, 120, 200, 240)):
    """Blocky regions of repeated values — stable mode/median oracles."""
    bh = (h + block - 1) // block
    bw = (w + block - 1) // block
    coarse = rng.choice(levels, size=(bh, bw))
    return np.repeat(np.repeat(coarse, block, 0), block, 1)[:h, :w]


def build_fixture(raster_id):
    """-> dict(raster_id, srs, bbox, geotransform|None, width, height,
    bands, dtype, no_data|None, data:(B,H,W) ndarray)."""
    rng = _rng()
    if raster_id == "rgba_webmerc":
        h = w = 512
        gx, gy = np.meshgrid(np.arange(w), np.arange(h))
        data = np.stack([
            (gx * 255 // w),
            (gy * 255 // h),
            _blocky(rng, h, w),
            np.full((h, w), 255),
        ]).astype(np.uint8)
        return _fx(raster_id, 3857, [-1e6, -1e6, 1e6, 1e6], data, no_data=None)
    if raster_id == "rgb_smallscale":
        h, w = 250, 387
        base = _blocky(rng, h, w, block=16)
        data = np.stack([base, base // 2, base // 3]).astype(np.uint8)
        return _fx(raster_id, 4326, [79.5, 5.8, 82.0, 9.9], data, no_data=0)
    if raster_id == "sat_utm":
        h = w = 1024
        noise = rng.integers(0, 255, size=(3, h, w))
        return _fx(raster_id, 32615, [400000, 4000000, 500000, 4100000],
                   noise.astype(np.uint8), no_data=None)
    if raster_id == "palette_utm":
        h = w = 100
        classes = rng.integers(0, 16, size=(1, h, w)).astype(np.uint8)
        return _fx(raster_id, 32617, [500000, 4400000, 510000, 4410000],
                   classes, no_data=None)
    if raster_id == "skewed_sar":
        h, w = 300, 400
        data = _blocky(rng, h, w, block=25, levels=(100, 900, 3000, 9000))[None].astype(np.uint16)
        gt = [170000.0, 1.5, 0.4, 8100000.0, 0.3, -1.2]  # nonzero skew terms
        return _fx(raster_id, 32760, _gt_bbox(gt, w, h), data, no_data=0,
                   geotransform=gt)
    if raster_id == "nan_polar":
        h = w = 256
        data = rng.random((1, h, w)).astype(np.float32) * 100.0
        data[0, :64, :] = np.nan
        data[0, :, :40] = np.nan
        return _fx(raster_id, 3031, [-1e6, -1e6, 1e6, 1e6], data, no_data=None)
    if raster_id == "globe_3857":
        h = w = 256
        gx, gy = np.meshgrid(np.arange(w), np.arange(h))
        data = np.stack([gx % 256, gy % 256, (gx + gy) % 256]).astype(np.uint8)
        return _fx(raster_id, 3857, [-_E, -_E, _E, _E], data, no_data=None)
    if raster_id == "tiny_4326":
        h = w = 64
        data = np.stack([_blocky(rng, h, w, block=8)] * 3).astype(np.uint8)
        return _fx(raster_id, 4326, [10.0, 45.0, 11.0, 46.0], data, no_data=None)
    raise KeyError(raster_id)


FIXTURE_IDS = [
    "rgba_webmerc", "rgb_smallscale", "sat_utm", "palette_utm",
    "skewed_sar", "nan_polar", "globe_3857", "tiny_4326",
]


def demo_cutline():
    """Deterministic GeoJSON triangle (EPSG:3857) inside rgba_webmerc's
    bbox — shared by the pinned cutline oracle (tools/pin_expected.py)
    and the driver query so both warp the exact same mask."""
    return {"type": "Polygon", "coordinates": [[
        [-900000.0, -900000.0], [900000.0, -800000.0],
        [0.0, 900000.0], [-900000.0, -900000.0]]]}


def strip_cutline():
    """Comb of vertical strips (EPSG:3857 MultiPolygon) crossing every z9
    tile of the reference-options grid, so BOTH cutline strategies leave
    every tile partially inside and partially outside — the reference
    returns `data: undefined` for zero-insert tiles (out allocation is
    deferred to the first inserted pixel, geowarp.js:477), which this
    geometry makes unreachable.  Shared by tools/pin_reference.py and
    __spark_entry__.q_warp_reference_options."""
    polys = []
    x = -230000.0
    while x < 0.0:
        polys.append([[[x, -230000.0], [x + 20000.0, -230000.0],
                       [x + 20000.0, 0.0], [x, 0.0], [x, -230000.0]]])
        x += 40000.0
    return {"type": "MultiPolygon", "coordinates": polys}


def _gt_bbox(gt, w, h):
    from ..kernels.affine import Geotransform

    g = Geotransform(gt)
    cs = np.array([0.0, w, 0.0, w])
    rs = np.array([0.0, 0.0, h, h])
    xs, ys = g.forward(cs, rs)
    return [xs.min(), ys.min(), xs.max(), ys.max()]


def _fx(rid, srs, bbox, data, no_data=None, geotransform=None):
    b, h, w = data.shape
    return {
        "raster_id": rid,
        "srs": srs,
        "bbox": [float(v) for v in bbox],
        "geotransform": geotransform,
        "width": w,
        "height": h,
        "bands": b,
        "dtype": str(data.dtype),
        "no_data": no_data,
        "data": data,
    }

