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
  pages ──JVM exprs──> (lon, lat, cell@z)          no UDF, no shuffle
        ──groupBy(cell, px, py).count()            one shuffle, partial aggs
        ──groupBy(cell).applyInPandas(paint)       second shuffle on tile id
                                                   (small: one row per
                                                    nonzero pixel)
  -> tile rows (binary uint32 count grids) -> CheckpointStore.commit
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid.hilbert import bbox_cover_cell_count, bbox_cover_cell_ids
from ..grid.tiles import cell_sql_expr
from ..sources.pages import LAT_SQL, LON_SQL
from .spatial import _prune_scan

RASTER_TILE_SCHEMA = (
    "cell bigint, z int, px_size int, n_pages bigint, data binary"
)


def pixel_counts(points: DataFrame, z: int, px_bits: int = 6,
                 lon="lon", lat="lat", bbox=None,
                 prune_col: str | None = None, prune_z: int | None = None,
                 prune_max_ranges: int = 64) -> DataFrame:
    """Per-(tile, pixel) page counts, all JVM-side.

    The pixel grid inside a z-tile is the (z + px_bits) cell grid, so
    pixel coords are pure integer math on the finer cell id:
    px = fine_x - (tile_x << px_bits), py likewise.  One shuffle
    (groupBy) with map-side partial aggregation.

    ``bbox``: optional region of interest ``(xmin, ymin, xmax, ymax)``
    in lon/lat — rasterize only pages inside it (half-open, same
    predicate as pip_join_bbox).  With ``prune_col``/``prune_z`` on a
    cell-sorted pages table (write_hilbert_sorted), _prune_scan also
    pushes the bbox's Hilbert cover to the parquet scan; the exact bbox
    filter still runs, so results never change.  The stored zoom comes
    from the column's ``hilbert_zoom`` stamp, else a probe job; a
    different ``prune_z`` raises ValueError.
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
    fine = cell_sql_expr(lon, lat, z + px_bits)
    coarse = cell_sql_expr(lon, lat, z)
    d = points.withColumn("fine", F.expr(fine)).withColumn("cell", F.expr(coarse))
    mask = F.lit((1 << 29) - 1).cast("bigint")
    fx = F.shiftright(F.col("fine"), 29).bitwiseAND(mask)
    fy = F.col("fine").bitwiseAND(mask)
    cx = F.shiftright(F.col("cell"), 29).bitwiseAND(mask)
    cy = F.col("cell").bitwiseAND(mask)
    return (
        d.withColumn("px", (fx - (cx * F.lit(1 << px_bits))).cast("int"))
        .withColumn("py", (fy - (cy * F.lit(1 << px_bits))).cast("int"))
        .groupBy("cell", "px", "py")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rasterize_tiles(points: DataFrame, z: int, px_bits: int = 6,
                    lon="lon", lat="lat") -> DataFrame:
    """Paint per-pixel counts into dense uint32 tile rasters.

    Input to the pandas stage is already aggregated (one row per nonzero
    pixel), so the Arrow exchange carries counts, not points — the heavy
    reduction happened JVM-side with partial aggregation.
    """
    size = 1 << px_bits
    counts = pixel_counts(points, z, px_bits, lon, lat)

    def paint(pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.zeros((size, size), dtype=np.uint32)
        grid[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = pdf["n"].to_numpy()
        return pd.DataFrame([{
            "cell": int(pdf["cell"].iloc[0]),
            "z": z,
            "px_size": size,
            "n_pages": int(pdf["n"].sum()),
            "data": grid.tobytes(),
        }])

    return counts.groupBy("cell").applyInPandas(paint, schema=RASTER_TILE_SCHEMA)


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
        mask = F.lit((1 << 29) - 1).cast("bigint")
        enriched = tiles.withColumn(
            "x", F.shiftright(F.col("cell"), 29).bitwiseAND(mask)
        ).withColumn("y", F.col("cell").bitwiseAND(mask)).withColumn(
            "n_chunks", F.lit(1)
        )
        snap = store.commit_tiles(enriched, stage=f"pyramid-z{z}")
        store.write_lineage(store.read_snapshot(snap), snap, stage=f"pyramid-z{z}")
        return store.read_snapshot(snap)
    return tiles
