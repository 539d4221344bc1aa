"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``: the same seed gives
byte-identical inputs, another seed gives different values with the
same size and shape (row counts, cluster share, raster dimensions).  Nothing here touches Spark; the workloads hand the
generated tables and files to the engine.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# pages_join: share of points inside the dense geotag cluster box (the
# lon[-10, 10) x lat[30, 50) shape of sources/pages.py)
CLUSTER_SHARE = 0.7
CLUSTER_BOX = (-10.0, 30.0, 10.0, 50.0)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def pages_points(seed: int, n: int) -> pa.Table:
    """(doc_id, lon, lat): exactly round(CLUSTER_SHARE * n) points
    uniform in the cluster box, the rest uniform over the globe."""
    rng = _rng(seed, 1)
    n_dense = int(round(CLUSTER_SHARE * n))
    dense = np.zeros(n, dtype=bool)
    dense[rng.permutation(n)[:n_dense]] = True
    x0, y0, x1, y1 = CLUSTER_BOX
    lon = np.where(dense, rng.uniform(x0, x1, n), rng.uniform(-180.0, 180.0, n))
    lat = np.where(dense, rng.uniform(y0, y1, n), rng.uniform(-90.0, 90.0, n))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })


def knn_queries(seed: int, n_dense: int = 6) -> pa.Table:
    """kNN query points: ``n_dense`` inside the cluster, one in the
    sparse rest of the world and one fixed polar query, whose first cell
    disk holds fewer than k points so the ring-widening passes run."""
    rng = _rng(seed, 2)
    x0, y0, x1, y1 = CLUSTER_BOX
    qlon = list(rng.uniform(x0 + 1, x1 - 1, n_dense)) + [float(rng.uniform(60, 170)), -150.0]
    qlat = list(rng.uniform(y0 + 1, y1 - 1, n_dense)) + [float(rng.uniform(-60, -20)), -80.0]
    return pa.table({
        "query_id": pa.array(np.arange(1, len(qlon) + 1, dtype=np.int64)),
        "qlon": pa.array(np.asarray(qlon, dtype=np.float64)),
        "qlat": pa.array(np.asarray(qlat, dtype=np.float64)),
    })


# pip boxes: four 2.5-degree boxes inside the cluster and two large
# boxes in the sparse world, so the Hilbert-range scan prune skips most
# row groups while the exact join still sees both densities
PIP_BOXES = [
    (1, -7.5, 32.5, -5.0, 35.0),
    (2, -2.5, 37.5, 0.0, 40.0),
    (3, 2.5, 42.5, 5.0, 45.0),
    (4, 5.0, 45.0, 7.5, 47.5),
    (5, 100.0, -40.0, 120.0, -20.0),
    (6, -80.0, 10.0, -60.0, 30.0),
]


def pip_boxes() -> pa.Table:
    cols = list(zip(*PIP_BOXES))
    return pa.table({
        "tile_id": pa.array(cols[0], pa.int64()),
        "xmin": pa.array(cols[1], pa.float64()),
        "ymin": pa.array(cols[2], pa.float64()),
        "xmax": pa.array(cols[3], pa.float64()),
        "ymax": pa.array(cols[4], pa.float64()),
    })


def raster(seed: int, height: int, width: int, bands: int = 3,
           block: int = 24) -> np.ndarray:
    """uint8 (bands, height, width) in [20, 240]: seeded blocky fields
    (repeated values, so median/mode windows are non-trivial) plus a
    smooth gradient and small per-pixel noise."""
    rng = _rng(seed, 5)
    bh, bw = -(-height // block), -(-width // block)
    out = np.empty((bands, height, width), dtype=np.uint8)
    gy = (np.arange(height, dtype=np.int32) * 60 // max(height, 1))[:, None]
    gx = (np.arange(width, dtype=np.int32) * 60 // max(width, 1))[None, :]
    for b in range(bands):
        coarse = rng.integers(20, 100, size=(bh, bw), dtype=np.int32)
        field = np.repeat(np.repeat(coarse, block, 0), block, 1)[:height, :width]
        noise = rng.integers(0, 20, size=(height, width), dtype=np.int32)
        out[b] = field + gy + gx + noise
    return out


def fixture(raster_id: str, srs: int, bbox, data: np.ndarray, no_data=None) -> dict:
    """The engine's in-memory raster dict (sources.fixtures layout)."""
    b, h, w = data.shape
    return {
        "raster_id": raster_id, "srs": int(srs),
        "bbox": [float(v) for v in bbox], "geotransform": None,
        "width": int(w), "height": int(h), "bands": int(b),
        "dtype": str(data.dtype), "no_data": no_data, "data": data,
    }


def column_slice(fx: dict, raster_id: str, c0: int, c1: int) -> dict:
    """Columns [c0, c1) of a north-up raster as its own raster, with the
    geotransform shifted by whole pixels (a mosaic strip)."""
    from geowarp_spark.kernels.affine import Geotransform

    g = Geotransform.from_bbox(fx["bbox"], fx["width"], fx["height"]).gt
    d = np.ascontiguousarray(fx["data"][:, :, c0:c1])
    gt = [g[0] + c0 * g[1], g[1], g[2], g[3] + c0 * g[4], g[4], g[5]]
    h, w = int(d.shape[1]), int(d.shape[2])
    xs = [gt[0], gt[0] + w * gt[1]]
    ys = [gt[3], gt[3] + h * gt[5]]
    return dict(fx, raster_id=raster_id, data=d, width=w, height=h,
                geotransform=gt, bbox=[min(xs), min(ys), max(xs), max(ys)])
