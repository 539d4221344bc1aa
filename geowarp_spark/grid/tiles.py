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


def grid_disk(cell, k):
    """k-ring of cells (Chebyshev disk, x wraps around the antimeridian,
    y clamps at the poles) — the candidate-expansion primitive for the
    kNN join (SURVEY J5)."""
    z, x, y = unpack_cell(np.atleast_1d(cell))
    n = np.int64(1) << z
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    dx = dx.reshape(-1)
    dy = dy.reshape(-1)
    xs = (x[:, None] + dx[None, :]) % n[:, None]
    ys = y[:, None] + dy[None, :]
    valid = (ys >= 0) & (ys < n[:, None])
    cells = pack_cell(np.broadcast_to(z[:, None], xs.shape), xs, np.clip(ys, 0, None))
    return np.where(valid, cells, -1)


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
