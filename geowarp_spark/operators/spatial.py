"""Spatial joins over the pages/points tables: PIP, kNN, rollups.

North-rule operators (BASELINE.json): geotagged pages are cell-encoded in
batched JVM expressions (no UDF at all for the equirect scheme), spatially
joined (point-in-polygon J1, kNN J5) against tile polygons, and rolled up
the cell pyramid.  Plans are pure DataFrame ops so Catalyst broadcasts
the (small) polygon/query side and pushes filters into the parquet scan.

Every per-cell count is one cell_rollup aggregate.  Skew: dense page
clusters make a few cells huge; a count is decomposable, so map-side
partial aggregation caps a hot cell at one row per map task (SURVEY §4
R-skew); AQE skew-join is the backstop for joins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..grid.hilbert import (Z_BITS, bbox_cover_cell_count,
                            bbox_cover_cell_ids, coalesce_ranges,
                            with_hilbert_cell)
from ..grid.tiles import X_BITS, cell_sql_expr, disk_cells

# Driver-side guard for _prune_scan's cover enumeration: at most ~4M
# ids (~32 MB of int64).  A larger cover spans most of the grid anyway,
# so its scan predicate would prune almost nothing.
COVER_GUARD_CELLS = 4_000_000

# Most id ranges one pruned scan may test (the JIT budget): a guarded
# range costs ~60 bytes of the scan stage's generated method, and
# HotSpot runs any method over 8,000 bytes interpreted, ~2x slower.
# 96 ranges (~6 KB) leave room for the operators fused into the stage.
PRUNE_MAX_RANGES = 96


def cell_range_predicate(ranges, cell_col: str = "hcell"):
    """OR-of-closed-intervals predicate over a cell id column, parsed
    from ONE SQL string ``(<col BETWEEN lo AND hi> OR ...) AND col IS
    NOT NULL`` (building it Column by Column costs two py4j round trips
    per bound).  On a parquet/Iceberg-backed table the bounds reach the
    scan as PushedFilters, so row groups whose min-max stats miss every
    interval are skipped without decoding — the property Hilbert ids
    were built for (a spatial disk is a handful of numeric runs).

    The null guard changes no row (a NULL id fails every BETWEEN), but
    FilterExec hoists it and compiles each comparison as non-nullable,
    halving the bytecode per range (64 ranges: ~10 KB -> ~4.5 KB), so
    the stage stays JIT-sized (PRUNE_MAX_RANGES).  It comes last, so
    PushedFilters still starts with ``Or(``."""
    terms = " OR ".join(f"(`{cell_col}` BETWEEN {int(lo)}L AND {int(hi)}L)"
                        for lo, hi in ranges)
    return F.expr(f"({terms}) AND `{cell_col}` IS NOT NULL" if terms else "false")


def _stored_zoom(points: DataFrame, col: str):
    """(zoom, source) of a stored Hilbert column: its ``hilbert_zoom``
    stamp (with_hilbert_cell), else the high bits of one stored id from
    a limit-1 probe job; zoom is None for an empty unstamped table."""
    z = points.schema[col].metadata.get("hilbert_zoom")
    if z is not None:
        return int(z), "stamp"
    probe = points.select(F.col(col).alias("_c")).limit(1).collect()
    return (int(probe[0]["_c"]) >> Z_BITS if probe else None), "probe"


def _prune_scan(points: DataFrame, col: str, z: int | None, cover_ids,
                cover_size, max_ranges: int = 64) -> DataFrame:
    """The one Hilbert scan-pruning step (pip_join_bbox, knn_join_cells,
    pages_pipeline.pixel_counts): filter ``points`` to the coalesced id
    ranges (<= min(``max_ranges``, PRUNE_MAX_RANGES), a superset) of a
    cover at zoom ``z``, through cell_range_predicate's null-guarded
    form; the clamp keeps the scan stage's generated method JIT-sized.
    ``cover_ids``/``cover_size`` are zero-argument callables giving the
    sorted cover ids and a cheap upper bound on their count; past
    COVER_GUARD_CELLS ``points`` is returned unpruned.  Ids carry their
    zoom in the high bits, so a ``z`` other than _stored_zoom's would
    silently filter every row: that raises ValueError instead."""
    if z is None:
        raise ValueError("prune_col requires prune_z (the zoom the "
                         "stored Hilbert column was written at)")
    stored_z, source = _stored_zoom(points, col)
    if stored_z is not None and stored_z != int(z):
        raise ValueError(
            f"prune_z={z} does not match the zoom the stored column "
            f"{col!r} was written at ({stored_z}, from the {source}); "
            "pruning with it would silently filter all rows")
    if cover_size() > COVER_GUARD_CELLS:
        return points
    ranges = coalesce_ranges(cover_ids(),
                             max_ranges=min(max_ranges, PRUNE_MAX_RANGES))
    return points.filter(cell_range_predicate(ranges, col))


def write_hilbert_sorted(df: DataFrame, path: str, z: int, lon="lon",
                         lat="lat", cell_col: str = "hcell",
                         num_files: int = 16,
                         row_group_bytes: int = 1 << 20) -> None:
    """Materialize a table CELL-SORTED for range pruning: adds the
    Hilbert cell id at zoom ``z`` (pure JVM codegen), range-partitions by
    it (files hold disjoint id ranges) and sorts within files (row-group
    min-max stats become tight intervals).  Small row groups by default
    so pruning granularity is fine; at scale Iceberg's sort-order spec
    plays the same role.  The column keeps with_hilbert_cell's
    ``hilbert_zoom`` stamp, so pruned reads check their zoom for free."""
    (with_hilbert_cell(df, z, lon=lon, lat=lat, out=cell_col)
     .repartitionByRange(num_files, cell_col)
     .sortWithinPartitions(cell_col)
     .write.mode("overwrite")
     .option("parquet.block.size", int(row_group_bytes))
     .parquet(path))


def pip_join_bbox(points: DataFrame, boxes: DataFrame, lon="lon", lat="lat",
                  prune_col: str | None = None, prune_z: int | None = None,
                  prune_max_ranges: int = 64) -> DataFrame:
    """Point-in-rectangle join (tile polygons are axis-aligned bboxes —
    the J4 tile-assignment join).  ``boxes`` needs columns
    (tile_id, xmin, ymin, xmax, ymax); broadcast (the tile-polygon index
    is small relative to pages — north rule 'broadcast of the
    tile-polygon index').

    ``prune_col``/``prune_z``: when the points table is CELL-SORTED on a
    stored Hilbert column at zoom ``prune_z`` (write_hilbert_sorted),
    _prune_scan turns the boxes' tile cover into a scan predicate, so
    parquet min-max stats skip row groups outside every box before the
    exact join condition runs; the cover is a superset, so results are
    identical.  ``prune_max_ranges`` is clamped to PRUNE_MAX_RANGES (the
    JIT budget); fewer ranges stay a superset, so results cannot change.
    The stored zoom comes from the column's ``hilbert_zoom`` stamp, else
    a probe job; a different ``prune_z`` raises ValueError."""
    if prune_col is not None:
        bbs = [(r["xmin"], r["ymin"], r["xmax"], r["ymax"])
               for r in boxes.select("xmin", "ymin", "xmax", "ymax")
               .collect()]
        points = _prune_scan(points, prune_col, prune_z,
                             lambda: bbox_cover_cell_ids(bbs, prune_z),
                             lambda: bbox_cover_cell_count(bbs, prune_z),
                             prune_max_ranges)
    cond = (
        (F.col(lon) >= F.col("xmin")) & (F.col(lon) < F.col("xmax"))
        & (F.col(lat) >= F.col("ymin")) & (F.col(lat) < F.col("ymax"))
    )
    return points.join(F.broadcast(boxes), cond)


def pip_join_polygon(points: DataFrame, polys: DataFrame, lon="lon", lat="lat") -> DataFrame:
    """Point-in-convex-polygon via half-plane sign tests, fully JVM-side.

    ``polys``: (poly_id, xs:array<double>, ys:array<double>) with vertices
    in counter-clockwise order (closed implicitly).  The point is inside
    iff it is left-of-or-on every edge — expressed with aggregate() over
    the vertex arrays, so Catalyst evaluates it without Python.  For
    concave/multi-ring geometry use the numpy scanline kernel
    (kernels.scanline) inside applyInPandas instead.
    """
    inside = F.expr(
        "aggregate(sequence(0, size(xs) - 1), true, (acc, i) -> acc AND ("
        " (xs[(i + 1) % size(xs)] - xs[i]) * ({lat} - ys[i])"
        " - (ys[(i + 1) % size(ys)] - ys[i]) * ({lon} - xs[i]) >= 0))".format(lon=lon, lat=lat)
    )
    # coarse bbox prefilter (computed from the arrays) keeps the cross
    # join cheap; broadcast the polygon side
    pre = (
        (F.col(lon) >= F.expr("array_min(xs)")) & (F.col(lon) <= F.expr("array_max(xs)"))
        & (F.col(lat) >= F.expr("array_min(ys)")) & (F.col(lat) <= F.expr("array_max(ys)"))
    )
    return points.join(F.broadcast(polys), pre & inside)


def _topk_two_phase(cand: DataFrame, k: int, query_id: str, point_id: str) -> DataFrame:
    """Scalable top-k per query, memory-bounded.

    Phase 1 (no shuffle): Tungsten external sort within each existing
    partition on (query, dist2, id), then an Arrow mapInPandas pass that
    keeps only the first k rows per query per partition — vectorized
    cumcount, O(queries x k) state, streams batches.  Phase 2: a rank
    window over only (partitions x k) survivors per query.

    Why not a single rank window: it shuffles EVERY candidate into one
    partition per query (serial sort of millions of rows).  Why not
    collect_list + slice: it materializes every candidate of a partition
    in one aggregation buffer (measured GC storms / 5x wall variance at
    5M candidates).  Sorting spills; state never grows with candidates.
    """
    import pandas as pd

    cand = cand.select(query_id, point_id, "dist2")
    qt = dict(cand.dtypes)[query_id]
    pt = dict(cand.dtypes)[point_id]
    out_schema = f"{query_id} {qt}, {point_id} {pt}, dist2 double"
    sorted_parts = cand.sortWithinPartitions(query_id, "dist2", point_id)

    def topk_gen(batches):
        seen: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = pdf[query_id].map(seen).fillna(0).to_numpy()
            within = pdf.groupby(query_id, sort=False).cumcount().to_numpy()
            rank = base + within
            for q, cnt in pdf.groupby(query_id, sort=False).size().items():
                seen[q] = seen.get(q, 0) + int(cnt)
            keep = rank < k
            if keep.any():
                yield pdf.loc[keep]

    partial = sorted_parts.mapInPandas(topk_gen, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("dist2").asc(), F.col(point_id).asc())
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             lon="lon", lat="lat", qlon="qlon", qlat="qlat",
             point_id="doc_id", query_id="query_id") -> DataFrame:
    """kNN join (J5): for each query point, the k nearest data points by
    squared euclidean degree distance; deterministic tie-break on
    (dist, point_id).  Queries are broadcast (small side); ranking is
    the two-phase top-k (no full-candidate shuffle)."""
    d2 = (
        (F.col(lon) - F.col(qlon)) * (F.col(lon) - F.col(qlon))
        + (F.col(lat) - F.col(qlat)) * (F.col(lat) - F.col(qlat))
    ).alias("dist2")
    cand = points.crossJoin(F.broadcast(queries)).select(query_id, point_id, d2)
    return _topk_two_phase(cand, k, query_id, point_id)


def _encode_cells(points, z, lon, lat, scheme):
    """Point -> cell id column per grid scheme (both pure JVM exprs)."""
    if scheme == "hilbert":
        return with_hilbert_cell(points, z, lon, lat, out="cell")
    return points.withColumn("cell", F.expr(cell_sql_expr(lon, lat, z)))


def _knn_candidates(points, queries, z, lon, lat, qlon, qlat, point_id,
                    query_id, scheme="equirect"):
    """(query, point, dist2) for every point in its query's cell disk:
    ``queries`` holds one row per (query, disk cell) in its ``cell``
    column (disk_cells), broadcast and equi-joined to the points on cell
    id.  A point lives in exactly one cell and each query lists its disk
    cells once, so each (query, point) pair appears at most once."""
    d2 = (
        (F.col(lon) - F.col(qlon)) * (F.col(lon) - F.col(qlon))
        + (F.col(lat) - F.col(qlat)) * (F.col(lat) - F.col(qlat))
    ).alias("dist2")
    return (_encode_cells(points, z, lon, lat, scheme)
            .join(F.broadcast(queries), "cell").select(query_id, point_id, d2))


def _count_grid(points, z, lon, lat):
    """Dense [y, x] point-count grid of the equirect cells at zoom ``z``
    from one cell_rollup aggregate (its map-side combine caps hot
    cells).  Only points inside [-180, 180] x [-90, 90] are counted, so
    every counted point lies within its cell's extent."""
    n, mask = 1 << z, (1 << X_BITS) - 1
    pdf = cell_rollup(
        points.where(f"{lon} BETWEEN -180 AND 180 AND {lat} BETWEEN -90 AND 90"),
        [z], lon, lat).toPandas()
    cell = pdf["cell"].to_numpy(np.int64)
    grid = np.zeros((n, n), np.int64)
    grid[cell & mask, (cell >> X_BITS) & mask] = pdf["n"].to_numpy(np.int64)
    return grid


def _certified_rings(grid, qlon, qlat, k, z, ring):
    """Per-query candidate ring R at zoom ``z`` from the count grid (see
    knn_join_cells for the proof).  r* comes from a binary search over
    summed-area disk counts; B from sorting disk(r*)'s cells by their
    farthest-corner distance, in query chunks of at most 4M cells,
    which bounds the driver's working set."""
    nz, n = 1 << z, grid.shape[0]
    if grid.sum() < k:
        return np.full(len(qlon), nz - 1, np.int32)
    w, h = 360.0 / n, 180.0 / n
    qx = np.clip(np.floor((qlon + 180.0) / w), 0, n - 1).astype(np.int64)
    qy = np.clip(np.floor((90.0 - qlat) / h), 0, n - 1).astype(np.int64)
    sat = np.zeros((n + 1, n + 1), np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)

    def disk_count(r):
        # rows clamp, columns wrap: count columns [qx - r, qx + r] of the
        # row band through its periodic column prefix sum
        y0, y1 = np.maximum(qy - r, 0), np.minimum(qy + r, n - 1) + 1
        total = sat[y1, n] - sat[y0, n]

        def prefix(x):
            return x // n * total + sat[y1, x % n] - sat[y0, x % n]
        return np.where(2 * r + 1 >= n, total, prefix(qx + r + 1) - prefix(qx - r))

    lo, hi = np.zeros_like(qx), np.full_like(qx, n - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = disk_count(mid) >= k
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    b2 = np.empty(len(qx))
    for r in np.unique(lo):
        off = np.arange(-r, r + 1)
        idx = np.flatnonzero(lo == r)
        nx = n if 2 * r + 1 >= n else len(off)
        step = max(1, (1 << 22) // (nx * len(off)))
        for s in range(0, len(idx), step):
            sel = idx[s:s + step]
            xs = (np.broadcast_to(np.arange(n), (len(sel), n)) if nx == n
                  else (qx[sel, None] + off) % n)
            ys = qy[sel, None] + off
            inside = (ys >= 0) & (ys < n)
            ys = np.clip(ys, 0, n - 1)
            # farthest corner from the query under the unwrapped metric:
            # centre distance plus half the cell size, per axis
            dlon = np.abs(qlon[sel, None] - (-180.0 + (xs + 0.5) * w)) + w / 2
            dlat = np.abs(qlat[sel, None] - (90.0 - (ys + 0.5) * h)) + h / 2
            d2 = (dlat[:, :, None] ** 2 + dlon[:, None, :] ** 2).reshape(len(sel), -1)
            cnt = (grid[ys[:, :, None], xs[:, None, :]]
                   * inside[:, :, None]).reshape(len(sel), -1)
            order = np.argsort(d2, axis=1)
            kth = (np.take_along_axis(cnt, order, 1).cumsum(1) >= k).argmax(1)
            b2[sel] = np.take_along_axis(d2, order, 1)[np.arange(len(sel)), kth]
    # the relative 1e-9 absorbs float rounding in the cell assignment and
    # corner distances, keeping the margin R * 180 / 2^z > B strict
    b = np.sqrt(b2) * (1.0 + 1e-9)
    return np.minimum(nz - 1, np.maximum(ring, np.floor(b * nz / 180.0) + 1)).astype(np.int32)


def _arrow_rdd_frame(spark, pdf, schema) -> DataFrame:
    """``spark.createDataFrame(pdf, schema)`` on Arrow's RDD path.  Below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark
    builds a LocalRelation instead, and broadcasting one ships every row
    inside the task closures by Java serialization.  A 1.55M-row table
    (10k queries' disks, local[4], 4 GB driver heap): createDataFrame
    4.3 s and a broadcast join 8.3 s, with the second broadcast out of
    driver memory; on the RDD path 0.3 s and 1.3-1.8 s.  The threshold
    is a session conf, so it is lowered for this one call and restored."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        return spark.createDataFrame(pdf, schema)
    finally:
        spark.conf.set(key, old)


def knn_join_cells(points: DataFrame, queries: DataFrame, k: int, z: int = 7,
                   ring: int = 1, lon="lon", lat="lat", qlon="qlon", qlat="qlat",
                   point_id="doc_id", query_id="query_id",
                   scheme: str = "equirect", prune_col: str | None = None,
                   prune_max_ranges: int = 64) -> DataFrame:
    """Exact kNN join in one certified pass: each query gathers the
    points of ONE cell disk whose radius is certified from a point-count
    table, and one exact rank (_topk_two_phase) follows.  This is the H3
    grid_disk pattern (SURVEY J5) with the pre-aggregated cell counts of
    GeoBlocks (EDBT 2021) and the count-bounded candidate radius of
    Distributed Stream KNN Join (SIGMOD 2021): candidates shuffle on cell
    id, never a full cross join, and the job count does not depend on
    how sparse the data around a query is.

    Driver-side state: the count grid — one ``groupBy(cell).count()`` of
    the equirect cells at zoom zc = min(z, 10), dense at most 1024^2
    int64 (8 MB) — the query rows (the contractually small query side,
    collected once) and their cell disks.  Per query, in numpy:

    - r*, the smallest ring from 0 whose zc disk holds >= k points;
    - B: walk disk(r*)'s cells in order of their farthest-corner distance
      to the query, measured on each cell's true, unwrapped lon/lat
      extent (a column wrapped across the antimeridian lies ~360 degrees
      away; pole-clamped rows are enumerated once); B is that distance
      at the cell where the cumulative count reaches k;
    - R = min(2^z - 1, max(ring, floor(B * 2^z / 180) + 1)), or full
      cover R = 2^z - 1 when the table counts fewer than k points.

    The candidates are then disk(R) at zoom z, listed once on the
    driver by grid.tiles.disk_cells: one (query, cell) row per disk
    cell is the broadcast side of the gather's cell equi-join, and the
    same ids are the Hilbert prune cover.

    Exactness.  (1) The cells walked to reach B hold >= k points, each
    inside its cell's extent (only points within [-180, 180] x [-90, 90]
    are counted) and so within B of the query: the k-th nearest distance
    d_k <= B.  (2) The metric is the UNWRAPPED euclidean degree
    distance, so a point p with |p - q| <= B has |dlat|, |dlon| <= B
    < R * 180 / 2^z, strictly because R > B * 2^z / 180.  Rows are
    180 / 2^z tall and columns twice as wide, so p's row and column
    differ from q's by at most R.  Clamping a coordinate onto the grid
    (polar rows, lon = 180) only shrinks that difference; the disk
    clamps its rows and wraps its columns, so it holds every cell
    within Chebyshev distance R, and wrapping only adds candidates.
    Full cover R = 2^z - 1 reaches the opposite polar row and every
    column.  (3) Hence every point at distance <= d_k, ties included,
    is a candidate, and ranking on (dist2, point_id) returns the
    brute-force answer (``knn_join``).  B is raised by a relative 1e-9
    so float rounding in the cell assignment cannot close the margin.

    ``ring`` is the minimum candidate ring: a floor on R that only adds
    candidates.

    ``scheme``: 'equirect' (packed XYZ ids) or 'hilbert' (S2-style
    space-filling-curve ids, grid/hilbert.py).  Both index the SAME grid
    squares, so the count grid is always equirect and the proof is
    encoding-independent; only disk_cells' id packing differs.

    ``prune_col`` (hilbert scheme only): a STORED Hilbert cell column
    at zoom ``z`` (write_hilbert_sorted).  _prune_scan pre-filters the
    points scan to the id intervals of the gather's disk cells, so
    parquet min-max stats skip row groups; the equi-join still keys
    EXACT cell ids, so results never change.  ``prune_max_ranges`` is
    clamped to PRUNE_MAX_RANGES (the JIT budget; still a superset).  The
    stored zoom comes from the column's ``hilbert_zoom`` stamp, else a
    probe job; a different ``z`` raises ValueError.

    The result is a plain lazy plan (no checkpoint): every action on it
    recomputes the same rows.
    """
    if prune_col is not None and scheme != "hilbert":
        raise ValueError("prune_col requires scheme='hilbert' (interval "
                         "pruning relies on Hilbert id locality)")
    qcols = queries.select(query_id, qlon, qlat)
    qpdf = qcols.toPandas()
    qlons, qlats = (np.nan_to_num(qpdf[c].to_numpy(np.float64))
                    for c in (qlon, qlat))
    rings = _certified_rings(_count_grid(points, min(z, 10), lon, lat),
                             qlons, qlats, k, z, ring)
    row, cells = disk_cells(qlons, qlats, z, rings, scheme)
    q = _arrow_rdd_frame(queries.sparkSession,
                         qpdf.take(row).assign(cell=cells),
                         qcols.schema.add("cell", "long"))
    if prune_col is not None:
        points = _prune_scan(points, prune_col, z, lambda: np.unique(cells),
                             lambda: len(cells), prune_max_ranges)
    cand = _knn_candidates(points, q, z, lon, lat, qlon, qlat, point_id,
                           query_id, scheme)
    return _topk_two_phase(cand, k, query_id, point_id)


def coarsen_sql(col: str, z0: int, z: int, scheme: str = "equirect") -> str:
    """SQL id of the zoom-``z`` ancestor of the zoom-``z0`` cell id in
    ``col`` (z <= z0), by integer arithmetic alone.  Equirect: shift x
    and y.  Hilbert: mask the zoom bits and ``>> 2d`` (no coordinate
    unpack, which is why S2-style ids shard pyramids well)."""
    d = z0 - z
    if scheme == "hilbert":
        return f"{z << Z_BITS}L + (({col} & {(1 << Z_BITS) - 1}L) >> {2 * d})"
    m = (1 << X_BITS) - 1
    return (f"{z << Z_BITS}L + (((({col} >> {X_BITS}) & {m}L) >> {d}) "
            f"<< {X_BITS}) + (({col} & {m}L) >> {d})")


def cell_rollup(points: DataFrame, z_levels, lon="lon", lat="lat",
                value_col=None, scheme: str = "equirect") -> DataFrame:
    """The one per-cell aggregate (GeoBlocks, EDBT 2021: every level is
    one aggregate read at a different zoom): count, plus ``val_sum`` of
    ``value_col``, per cell at each zoom of ``z_levels`` (each distinct
    zoom once).  One projection encodes the cell at max(z_levels); each
    coarser level's id is coarsen_sql on it; with several levels the ids
    explode into ONE ``groupBy("cell")``, whose shuffle is the only one,
    and a single level groups the encoded id directly (no Generate).
    ``z`` is cell >> 58.  Columns: (cell, n[, val_sum], z).  The float
    addition order of ``val_sum`` is not fixed."""
    zs = sorted(set(z_levels), reverse=True)
    cell = (F.col("cell") if len(zs) == 1 else F.explode(F.array(
        *(F.expr(coarsen_sql("cell", zs[0], z, scheme)) for z in zs))))
    aggs = [F.count(F.lit(1)).alias("n")] + (
        [F.sum(value_col).alias("val_sum")] if value_col else [])
    return (_encode_cells(points, zs[0], lon, lat, scheme)
            .select(cell.alias("cell"), *([value_col] if value_col else []))
            .groupBy("cell").agg(*aggs)
            .withColumn("z", F.shiftright("cell", Z_BITS).cast("int")))


def salted_cell_counts(points: DataFrame, z: int, lon="lon", lat="lat") -> DataFrame:
    """Per-cell point count ``(cell, n)`` at zoom ``z``: cell_rollup at one
    level.  Unsalted: map-side partial aggregation already caps a hot
    cell at one row per map task, and a salt would only add a shuffle."""
    return cell_rollup(points, [z], lon, lat).select("cell", "n")
