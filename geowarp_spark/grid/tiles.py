"""XYZ slippy-map tile math + integer cell ids (the H3/S2 stand-in).

The reference's dominant usage unit is the XYZ tile: its tests warp
GeoTIFF windows onto ``tilebelt.tileToBBOX`` tiles (test.js:176-177).
No native H3/S2 library exists in this environment, so the north rule's
"H3/S2 spatial index" is realized as a hierarchical XYZ cell grid with
packed int64 ids — the same join/aggregation algebra (cell encode,
parent rollup, k-ring disk) with pure integer math that Catalyst can
evaluate JVM-side and DuckDB can reproduce for oracle checks.

Cell id layout: ``(z << 58) | (x << 29) | y`` with z <= 28, x,y < 2^29.

Two encodings:
- ``mercator``: true slippy-map tiles (Web-Mercator), numpy-side;
- ``equirect``: linear lon/lat grid — chosen for SQL-checked joins
  because it needs no transcendental functions (ln/tan differ in the
  last ulp between JVM and DuckDB libm, which could flip floor() at
  tile boundaries and break the oracle hash).
"""

from __future__ import annotations

import numpy as np

from ..kernels.proj import WEB_MERCATOR_EXTENT
from .hilbert import _grid_xy, pack_hilbert, xy_to_d

Z_BITS = 58
X_BITS = 29


# ------------------------------------------------------------- tile math


def tile_to_bbox_4326(x, y, z):
    """tilebelt.tileToBBOX semantics: [w, s, e, n] in lon/lat."""
    n = 2.0**z
    w = x / n * 360.0 - 180.0
    e = (x + 1) / n * 360.0 - 180.0
    north = float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n)))))
    south = float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n)))))
    return [float(w), south, float(e), north]


def tile_to_bbox_3857(x, y, z):
    """Tile bbox directly in web-mercator meters (exact linear math)."""
    n = 2.0**z
    size = 2.0 * WEB_MERCATOR_EXTENT / n
    xmin = -WEB_MERCATOR_EXTENT + x * size
    ymax = WEB_MERCATOR_EXTENT - y * size
    return [xmin, ymax - size, xmin + size, ymax]


def point_to_tile(lon, lat, z):
    """lon/lat -> mercator tile (x, y) at zoom z, vectorized."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = 2.0**z
    xt = np.floor((lon + 180.0) / 360.0 * n)
    latr = np.radians(np.clip(lat, -85.051128779806604, 85.051128779806604))
    yt = np.floor((1.0 - np.log(np.tan(latr) + 1.0 / np.cos(latr)) / np.pi) / 2.0 * n)
    xt = np.clip(xt, 0, n - 1).astype(np.int64)
    yt = np.clip(yt, 0, n - 1).astype(np.int64)
    return xt, yt


# ------------------------------------------------------------- cell ids


def pack_cell(z, x, y):
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (z << Z_BITS) | (x << X_BITS) | y


def unpack_cell(cell):
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> Z_BITS
    x = (cell >> X_BITS) & ((1 << X_BITS) - 1)
    y = cell & ((1 << X_BITS) - 1)
    return z, x, y


def latlng_to_cell(lat, lon, z, scheme="equirect"):
    """Point -> cell id (vectorized). scheme: 'equirect' | 'mercator'."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = 1 << z
    if scheme == "mercator":
        xt, yt = point_to_tile(lon, lat, z)
    else:
        xt = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
        yt = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1).astype(np.int64)
    return pack_cell(z, xt, yt)


def cell_parent(cell, steps=1):
    z, x, y = unpack_cell(cell)
    return pack_cell(z - steps, x >> steps, y >> steps)


def disk_cells(lon, lat, z, rings, scheme="equirect"):
    """The kNN cell disk (SURVEY J5): every cell within Chebyshev
    distance ``rings[i]`` of query i's equirect cell at zoom ``z``, as
    (query row index, cell id) arrays.  Columns wrap around the
    antimeridian, rows clamp at the poles, and each query lists each
    cell once: min(2R+1, 2^z) distinct columns times the clamped row
    span.  ``scheme`` packs the ids: 'equirect' (pack_cell) or 'hilbert'
    (pack_hilbert of the curve distance)."""
    n = 1 << z
    qx, qy = _grid_xy(lon, lat, z)
    r = np.asarray(rings, dtype=np.int64)
    nx = np.minimum(2 * r + 1, n)
    x0 = np.where(2 * r + 1 >= n, 0, qx - r)
    y0 = np.maximum(qy - r, 0)
    size = nx * (np.minimum(qy + r, n - 1) - y0 + 1)
    q = np.repeat(np.arange(len(r)), size)
    j = np.arange(size.sum()) - np.repeat(np.cumsum(size) - size, size)
    xs = (x0[q] + j % nx[q]) % n
    ys = y0[q] + j // nx[q]
    if scheme == "hilbert":
        return q, pack_hilbert(z, xy_to_d(z, xs, ys))
    return q, pack_cell(z, xs, ys)


# ------------------------------------------------------------- Spark exprs


def cell_sql_expr(lon_sql, lat_sql, z, dialect="spark"):
    """Cell encoding as a SQL expression string (equirect scheme — pure
    arithmetic so Spark and DuckDB agree bit-for-bit).  Usable in both
    engines; the oracle queries rely on this symmetry.
    """
    n = 1 << z
    zpart = z << Z_BITS
    x = (
        f"CAST(least(greatest(floor(({lon_sql} + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )
    y = (
        f"CAST(least(greatest(floor((90.0 - {lat_sql}) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )
    return f"(CAST({zpart} AS BIGINT) + {x} * {1 << X_BITS} + {y})"
