"""S2-style Hilbert-curve cell ids (VERDICT r4 next #7).

The default grid (grid/tiles.py) packs (z, x, y) directly; real S2 ids
instead place cells on a space-filling Hilbert curve so that NUMERIC
RANGES of ids are spatially contiguous — range scans and parent rollups
become id-interval operations, the property S2 sharding exploits at
scale.  This module provides that as an alternative encoder behind the
same grid abstraction, with pure-integer public math (the classic
bit-twiddle xy<->d walk, e.g. Wikipedia "Hilbert curve"; no S2 library
lineage):

- ``xy_to_d`` / ``d_to_xy``: vectorized numpy transforms at zoom z
  (grid n = 2^z per side);
- ``pack_hilbert`` / ``unpack_hilbert``: cell id = (z << 58) | d with
  d < 4^z  (z <= 28 fits: 4^28 = 2^56 < 2^58);
- ``hilbert_nested_sql``: an UNROLLED, engine-portable nested-subquery
  SQL generator (plain CASE + & + arithmetic — runs identically on
  Spark SQL and DuckDB), so driver oracles can replay the encoding
  bit-for-bit.  The per-level state (hx, hy, hd) is threaded through
  named subquery columns: expression size is LINEAR in z (each level
  references the previous level's aliases, never its expansion).

Equirect axis mapping matches grid/tiles.py cell_sql_expr: x from lon
(wraps), y from 90-lat (clamps) — so the two encoders index the same
cells and differ only in how (x, y) packs into the id.
"""

from __future__ import annotations

import numpy as np

Z_BITS = 58


def _rot(n, x, y, rx, ry):
    """Quadrant rotate/flip (vectorized): the rot() of the classic
    algorithm, applied where ry == 0."""
    flip = (ry == 0) & (rx == 1)
    x = np.where(flip, n - 1 - x, x)
    y = np.where(flip, n - 1 - y, y)
    swap = ry == 0
    nx = np.where(swap, y, x)
    ny = np.where(swap, x, y)
    return nx, ny


def xy_to_d(z: int, x, y):
    """(x, y) -> Hilbert distance d on the 2^z x 2^z grid (vectorized)."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    n = np.int64(1) << z
    d = np.zeros_like(x)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rot(n, x, y, rx, ry)
        s >>= 1
    return d


def d_to_xy(z: int, d):
    """Hilbert distance -> (x, y) on the 2^z x 2^z grid (vectorized)."""
    t = np.asarray(d, dtype=np.int64).copy()
    n = np.int64(1) << z
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    while s < n:
        rx = 1 & (t >> 1)
        ry = 1 & (t ^ rx)
        x, y = _rot(s, x, y, rx, ry)
        x += s * rx
        y += s * ry
        t >>= 2
        s <<= 1
    return x, y


def pack_hilbert(z: int, d):
    return (np.int64(z) << Z_BITS) | np.asarray(d, dtype=np.int64)


def unpack_hilbert(cell):
    cell = np.asarray(cell, dtype=np.int64)
    return cell >> Z_BITS, cell & ((np.int64(1) << Z_BITS) - 1)


def _grid_xy(lon, lat, z: int):
    """Equirect (x, y) cells of lon/lat points at zoom z, clipped to the
    grid (the formulas of hilbert_xy_sql and tiles.cell_sql_expr)."""
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def latlng_to_hilbert(lat, lon, z: int):
    """Point -> Hilbert cell id (equirect axis mapping, as tiles.py)."""
    return pack_hilbert(z, xy_to_d(z, *_grid_xy(lon, lat, z)))


# ----------------------------------------------------------- SQL chain


def hilbert_xy_sql(lon_sql: str, lat_sql: str, z: int):
    """(x, y) grid coordinates as portable SQL (identical formulas to
    tiles.cell_sql_expr's x/y)."""
    n = 1 << z
    x = (f"CAST(least(greatest(floor(({lon_sql} + 180.0) / 360.0 * {n}), 0), "
         f"{n - 1}) AS BIGINT)")
    y = (f"CAST(least(greatest(floor((90.0 - {lat_sql}) / 180.0 * {n}), 0), "
         f"{n - 1}) AS BIGINT)")
    return x, y


def hilbert_level_exprs(z: int, x_in: str, y_in: str, d_in: str):
    """One level of the unrolled xy->d walk (list over s = 2^(z-1)..1).

    Returns (s, hd_expr, hx_expr, hy_expr) tuples whose expressions
    reference the PREVIOUS level's column names as given — the caller
    threads level-suffixed names so no SELECT ever reuses a name it also
    defines (lateral-alias resolution rules differ between engines).
    The quadrant value (3*rx) XOR ry is expanded as a CASE (the ^
    operator is not portable to DuckDB) and rot()'s flip+swap folds into
    one CASE per axis."""
    n = 1 << z
    out = []
    s = n >> 1
    i = 0
    while s > 0:
        x, y, d = f"{x_in}{i}", f"{y_in}{i}", f"{d_in}{i}"
        bx = f"({x} & {s}) > 0"
        by = f"({y} & {s}) > 0"
        quad = (f"CASE WHEN {bx} AND {by} THEN 2 WHEN {bx} THEN 3 "
                f"WHEN {by} THEN 1 ELSE 0 END")
        hd = f"{d} + {s * s} * ({quad})"
        hx = f"CASE WHEN {by} THEN {x} WHEN {bx} THEN {n - 1} - {y} ELSE {y} END"
        hy = f"CASE WHEN {by} THEN {y} WHEN {bx} THEN {n - 1} - {x} ELSE {x} END"
        out.append((s, hd, hx, hy))
        s >>= 1
        i += 1
    return out


def hilbert_nested_sql(inner_sql: str, lon_col: str, lat_col: str, z: int,
                       keep_cols: list[str], out_name: str = "hcell") -> str:
    """Wrap ``inner_sql`` (a SELECT producing ``lon_col``/``lat_col`` and
    ``keep_cols``) in the unrolled Hilbert walk; the outermost SELECT
    yields keep_cols + ``out_name`` = (z << 58) + d.  Portable across
    Spark SQL and DuckDB (nested subqueries, CASE, &, arithmetic only);
    text size is linear in z."""
    keep = ", ".join(keep_cols)
    x0, y0 = hilbert_xy_sql(lon_col, lat_col, z)
    sql = (f"SELECT {keep}, {x0} AS hx0, {y0} AS hy0, CAST(0 AS BIGINT) AS hd0 "
           f"FROM ({inner_sql}) h_base")
    levels = hilbert_level_exprs(z, "hx", "hy", "hd")
    for i, (_s, hd, hx, hy) in enumerate(levels):
        j = i + 1
        sql = (f"SELECT {keep}, {hx} AS hx{j}, {hy} AS hy{j}, {hd} AS hd{j} "
               f"FROM ({sql}) h_lv{i}")
    last = len(levels)
    return (f"SELECT {keep}, CAST({z << Z_BITS} AS BIGINT) + hd{last} AS {out_name} "
            f"FROM ({sql}) h_fin")


def with_hilbert_cell(df, z: int, lon: str = "lon", lat: str = "lat",
                      out: str = "cell"):
    """DataFrame form of the same walk: one withColumns per level — all
    pure JVM codegen (no UDF), Catalyst folds the CASE pipeline.  The
    ``out`` column is stamped ``{"hilbert_zoom": z}`` (hilbert_walk)."""
    from pyspark.sql import functions as F

    x0, y0 = hilbert_xy_sql(lon, lat, z)
    return hilbert_walk(df.withColumns({"hx0": F.expr(x0), "hy0": F.expr(y0)}),
                        z, out)


def hilbert_walk(df, z: int, out: str):
    """Grid columns ``hx0``/``hy0`` (consumed) -> Hilbert id column
    ``out`` stamped with metadata ``{"hilbert_zoom": z}``.  The stamp
    survives parquet, filter and select; operators.spatial._prune_scan
    checks its pruning zoom against it (else against a probed id)."""
    from pyspark.sql import functions as F

    cur = df.withColumn("hd0", F.lit(0).cast("bigint"))
    levels = hilbert_level_exprs(z, "hx", "hy", "hd")
    for i, (_s, hd, hx, hy) in enumerate(levels):
        j = i + 1
        cur = (cur.withColumns({f"hd{j}": F.expr(hd), f"hx{j}": F.expr(hx),
                                f"hy{j}": F.expr(hy)})
               .drop(f"hx{i}", f"hy{i}", f"hd{i}"))
    last = len(levels)
    cell = F.lit(z << Z_BITS).cast("bigint") + F.col(f"hd{last}")
    return (cur.withColumn(out, cell.alias(out, metadata={"hilbert_zoom": z}))
            .drop(f"hx{last}", f"hy{last}", f"hd{last}"))

# ------------------------------------------------------- range pruning


def _bbox_spans(bboxes, z: int):
    """Inclusive (x0, x1, y0, y1) z-cell spans of lon/lat rectangles
    ``(xmin, ymin, xmax, ymax)``, clipped to the grid."""
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    x0, y1 = _grid_xy(b[:, 0], b[:, 1], z)
    x1, y0 = _grid_xy(b[:, 2], b[:, 3], z)
    return [tuple(map(int, s)) for s in zip(x0, x1, y0, y1)]


def bbox_cover_cell_ids(bboxes, z: int):
    """Hilbert ids of every z-cell intersecting any of the lon/lat
    rectangles ``(xmin, ymin, xmax, ymax)`` — the tile-cover analog of
    the kNN disk (tiles.disk_cells) for PIP/rasterize-shaped scans
    (round 7, VERDICT r6 next #5).  Driver-side by nature (the ids become a literal scan
    predicate); callers guard the cell count before enumerating.
    Boundary cells are included, so the id set is a SUPERSET of the
    cells any half-open bbox predicate can match."""
    parts = [np.empty(0, np.int64)]
    for x0, x1, y0, y1 in _bbox_spans(bboxes, z):
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1, dtype=np.int64),
                             np.arange(y0, y1 + 1, dtype=np.int64))
        parts.append(pack_hilbert(z, xy_to_d(z, xs.ravel(), ys.ravel())))
    return np.unique(np.concatenate(parts))


def bbox_cover_cell_count(bboxes, z: int) -> int:
    """Cheap upper bound on ``bbox_cover_cell_ids`` output size (no
    enumeration) — the guard callers check before materializing ids."""
    return sum((x1 - x0 + 1) * (y1 - y0 + 1)
               for x0, x1, y0, y1 in _bbox_spans(bboxes, z))


def coalesce_ranges(ids, max_ranges: int | None = None):
    """Sorted unique cell ids -> closed [lo, hi] intervals of consecutive
    runs (this is WHY the ids are Hilbert: a spatial disk maps to few
    numeric runs, so the intervals make a small scan predicate that
    parquet/Iceberg min-max stats can prune row groups with).

    ``max_ranges``: if the run count exceeds it, merge across the
    SMALLEST gaps first until it fits — the result is a superset of the
    ids (safe: callers re-filter exactly via the cell equi-join), with
    predicate size bounded at max_ranges BETWEENs.
    """
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    if ids.size == 0:
        return []
    gaps = np.diff(ids)
    brk = np.nonzero(gaps > 1)[0]            # run boundary after index brk
    if max_ranges is not None and brk.size + 1 > max_ranges:
        # keep only the (max_ranges - 1) LARGEST gaps as separators;
        # max_ranges=1 keeps NONE (slice [-0:] would keep all — r6 ADVICE)
        if max_ranges > 1:
            keep = brk[np.argsort(gaps[brk])[-(max_ranges - 1):]]
        else:
            keep = np.array([], dtype=brk.dtype)
        brk = np.sort(keep)
    starts = np.concatenate([[0], brk + 1])
    ends = np.concatenate([brk, [ids.size - 1]])
    return [(int(ids[a]), int(ids[b])) for a, b in zip(starts, ends)]
