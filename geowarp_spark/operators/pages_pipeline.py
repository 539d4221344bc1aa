"""The north-star pipeline (BASELINE.json): pages -> geotag -> cell
encode -> tile assignment -> rasterized tile pyramid, checkpointed with
lineage.

This is the raster<->vector bridge: web pages are POINTS, tiles are
RASTERS; each tile's pixel grid accumulates per-pixel page counts (and
mean quality), i.e. the box-statistic aggregation of a point source
(SURVEY §2 A1-A10 with count/mean reducers).  Pixel indexing uses the
same equirect cell math as the join layer, so a tile's raster is exactly
the z+log2(px) cell grid — rollups and rasters agree by construction.

Plan shape (scale posture):
  pages ──JVM exprs──> (lon, lat, cell@z+px_bits)  no UDF, no shuffle
        ──groupBy(cell@z+px_bits).count()          one shuffle, partial aggs
                                                   (spatial.cell_rollup)
        ──(cell@z, px, py) from id arithmetic      no shuffle
        ──stream_groups(cell): repartition(n_cores, second shuffle on tile id
          cell).sortWithinPartitions(cell)         (small: one row per
                                                    nonzero pixel)
          .mapInPandas(paint)                      streamed: every tile of
                                                   an Arrow batch in one
                                                   numpy pass
  -> tile rows (binary uint32 count grids) -> CheckpointStore.commit
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid.hilbert import bbox_cover_cell_count, bbox_cover_cell_ids
from ..grid.tiles import X_BITS
from ..sources.pages import LAT_SQL, LON_SQL
from .groups import stream_groups
from .spatial import _prune_scan, cell_rollup, coarsen_sql

RASTER_TILE_SCHEMA = (
    "cell bigint, z int, px_size int, n_pages bigint, data binary"
)


def pixel_counts(points: DataFrame, z: int, px_bits: int = 6,
                 lon="lon", lat="lat", bbox=None,
                 prune_col: str | None = None, prune_z: int | None = None,
                 prune_max_ranges: int = 64) -> DataFrame:
    """Per-(tile, pixel) page counts, all JVM-side.

    The pixel grid inside a z-tile is the (z + px_bits) cell grid, so
    points are counted once per fine cell (cell_rollup: one shuffle,
    map-side partial aggregation); tile and pixel are integer math on
    each aggregated fine id: cell = coarsen_sql(fine), px/py = the low
    px_bits of its x/y.  Exact: scaling by 2^px_bits is exact in float,
    and both zooms clamp and map NaN alike.

    ``bbox``: optional region of interest ``(xmin, ymin, xmax, ymax)``
    in lon/lat — rasterize only pages inside it (half-open, same
    predicate as pip_join_bbox).  With ``prune_col``/``prune_z`` on a
    cell-sorted pages table (write_hilbert_sorted), _prune_scan also
    pushes the bbox's Hilbert cover to the parquet scan; the exact bbox
    filter still runs, so results never change.  ``prune_max_ranges``
    is clamped to spatial.PRUNE_MAX_RANGES (the JIT budget); fewer
    ranges stay a superset of the cover.  The stored zoom comes from the
    column's ``hilbert_zoom`` stamp, else a probe job; a different
    ``prune_z`` raises ValueError.
    """
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        if prune_col is not None:
            points = _prune_scan(
                points, prune_col, prune_z,
                lambda: bbox_cover_cell_ids([bbox], prune_z),
                lambda: bbox_cover_cell_count([bbox], prune_z),
                prune_max_ranges)
        points = points.filter(
            (F.col(lon) >= xmin) & (F.col(lon) < xmax)
            & (F.col(lat) >= ymin) & (F.col(lat) < ymax))
    fine, m = F.col("fine"), (1 << px_bits) - 1
    return (cell_rollup(points, [z + px_bits], lon, lat)
            .select(F.col("cell").alias("fine"), "n")
            .select(F.expr(coarsen_sql("fine", z + px_bits, z)).alias("cell"),
                    F.shiftright(fine, X_BITS).bitwiseAND(m).cast("int").alias("px"),
                    fine.bitwiseAND(m).cast("int").alias("py"), "n"))


# upper bound on the uint32 grid block behind one yielded paint frame
_PAINT_FRAME_BYTES = 64 << 20


def rasterize_tiles(points: DataFrame, z: int, px_bits: int = 6,
                    lon="lon", lat="lat") -> DataFrame:
    """Paint per-pixel counts into dense uint32 tile rasters.

    Input to the pandas stage is already aggregated (one row per nonzero
    pixel), so the Arrow exchange carries counts, not points — the heavy
    reduction happened JVM-side with partial aggregation.

    The paint is one streamed pass, not a Python call per tile:
    groups.stream_groups hash-partitions the counts on ``cell``, sorts
    them and hands whole tiles to one mapInPandas, which paints every
    tile of an Arrow batch at once — tile runs from ``np.unique`` on the
    sorted cells, one fancy-index assignment into an
    ``(n_tiles, size * size)`` block (exact: ``(cell, px, py)`` is
    unique, one row per fine cell) and ``n_pages`` from one segmented
    sum.

    Memory: at most one tile's rows (``size**2``) carry across a batch
    boundary, and each yielded frame holds at most
    ``_PAINT_FRAME_BYTES`` (64 MB) of grids — or one tile when a single
    grid is larger.
    """
    size = 1 << px_bits
    npix = size * size
    per_frame = max(1, _PAINT_FRAME_BYTES // (4 * npix))

    def tiles(pdf):
        # rows of whole tiles, sorted by cell -> frames of <= per_frame tiles
        cell, px, py, n = (pdf[c].to_numpy() for c in ("cell", "px", "py", "n"))
        ids, start, inv = np.unique(cell, return_index=True, return_inverse=True)
        bounds = np.r_[start, len(cell)]
        for a in range(0, len(ids), per_frame):
            b = min(a + per_frame, len(ids))
            lo, hi = bounds[a], bounds[b]
            grid = np.zeros((b - a, npix), dtype=np.uint32)
            grid[inv[lo:hi] - a, py[lo:hi] * size + px[lo:hi]] = n[lo:hi]
            yield pd.DataFrame({
                "cell": ids[a:b],
                "z": np.full(b - a, z, dtype=np.int32),
                "px_size": np.full(b - a, size, dtype=np.int32),
                "n_pages": np.add.reduceat(n[lo:hi], start[a:b] - lo),
                "data": [g.tobytes() for g in grid],
            })

    return stream_groups(pixel_counts(points, z, px_bits, lon, lat),
                         ["cell"], [], tiles, RASTER_TILE_SCHEMA)


def pages_tile_pyramid(spark: SparkSession, sf_dir: str, z: int = 6,
                       px_bits: int = 6, checkpoint_root: str | None = None):
    """End-to-end: documents -> pages geotag -> rasterized tile pyramid,
    optionally committed as a snapshot with lineage rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        "doc_id",
        F.expr(LON_SQL).alias("lon"),
        F.expr(LAT_SQL).alias("lat"),
    )
    tiles = rasterize_tiles(pts, z=z, px_bits=px_bits)
    if checkpoint_root:
        from ..plans.lineage import CheckpointStore

        store = CheckpointStore(spark, checkpoint_root)
        # adapt to the tile-store schema: use z/x/y unpacked from cell
        mask = F.lit((1 << X_BITS) - 1).cast("bigint")
        enriched = tiles.withColumn(
            "x", F.shiftright(F.col("cell"), X_BITS).bitwiseAND(mask)
        ).withColumn("y", F.col("cell").bitwiseAND(mask)).withColumn(
            "n_chunks", F.lit(1)
        )
        snap = store.commit_tiles(enriched, stage=f"pyramid-z{z}")
        store.write_lineage(store.read_snapshot(snap), snap, stage=f"pyramid-z{z}")
        return store.read_snapshot(snap)
    return tiles
