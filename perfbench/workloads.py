"""The benchmark workloads.  Each one generates its inputs from the seed,
precomputes its oracles, and exposes its ops as (public call, action,
check) triples.  Names are fixed: later changes cite them.

pages_join    north-rule spatial join over a cell-sorted pages table:
              JVM shuffles, skewed cell keys and parquet scan pruning,
              no warp kernel.
tiff_mosaic   GeoTIFF decode, mosaic compositing through the chunk-anchored
              warp plan, overview ingest and checkpoint writes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import zlib

import numpy as np
import pyarrow.parquet as pq

import gen
import oracles
from harness import Op, Tracer
from oracles import expect_equal, expect_rows


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes() if isinstance(a, np.ndarray) else repr(a).encode())
    return h.hexdigest()


class Workload:
    name = ""
    item = ""          # what items_per_s counts

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark = spark
        self.seed = int(seed)
        self.work = os.path.join(work, self.name)
        self.tracer = tracer
        self.items = 0
        os.makedirs(self.work, exist_ok=True)

    def setup(self) -> str:
        """Generate inputs and oracles; returns a digest of the generated
        inputs (equal across repeated setups of one seed)."""
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError


# ----------------------------------------------------------- pages_join


class PagesJoin(Workload):
    name = "pages_join"
    item = "input points"
    OP_NAMES = ("salted_counts", "pip", "knn", "rollup", "rasterize")
    N_POINTS = 100_000
    HZ = 10                     # stored Hilbert column zoom (pip scan pruning)
    ROLLUP_ZS = (12, 10, 8)
    # z7 cells, k=20: the dense queries settle in the first pass; the two
    # sparse ones expect ~3 points inside the ring-1 radius, ~12 inside
    # ring 2 and ~46 inside ring 4, so they settle on the third pass
    KNN_K, KNN_Z = 20, 7
    RASTER_Z, PX_BITS = 4, 6    # 256 tiles: one pandas group per tile

    def setup(self) -> str:
        from geowarp_spark.operators.spatial import write_hilbert_sorted

        sp = self.spark
        pts = gen.pages_points(self.seed, self.N_POINTS)
        queries, boxes = gen.knn_queries(self.seed), gen.pip_boxes()
        raw = os.path.join(self.work, "points_raw.parquet")
        pq.write_table(pts, raw)
        path = os.path.join(self.work, "points_sorted")
        with self.tracer.span("spatial.write_hilbert_sorted", "operators"):
            write_hilbert_sorted(sp.read.parquet(raw), path, z=self.HZ)
        self.points = sp.read.parquet(path)
        self.queries = sp.createDataFrame(queries.to_pandas())
        self.boxes = sp.createDataFrame(boxes.to_pandas())
        self.expect = oracles.pages_oracles(
            pts, queries, boxes, salted_z=12, rollup_zs=self.ROLLUP_ZS,
            knn_k=self.KNN_K, raster_z=self.RASTER_Z, px_bits=self.PX_BITS)
        self.items = self.N_POINTS
        return _digest(pts.column("lon").to_numpy(), pts.column("lat").to_numpy(),
                       queries.column("qlon").to_numpy())

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from geowarp_spark.operators import pages_pipeline, spatial

        P = oracles.P
        ex = self.expect

        def salted_action(df):
            r = df.agg(F.count(F.lit(1)), F.sum("n"), F.sum((F.col("cell") % P) * F.col("n")),
                       F.sum(F.col("n") * F.col("n"))).collect()[0]
            return tuple(int(v) for v in r)

        def pip_action(df):
            return [tuple(int(v) for v in r) for r in df.groupBy("tile_id").agg(
                F.count(F.lit(1)), F.sum("doc_id")).collect()]

        def knn_action(df):
            return [(int(a), int(b), int(c)) for a, b, c in
                    df.select("query_id", "doc_id", "rank").collect()]

        def rollup_action(df):
            return [tuple(int(v) for v in r) for r in df.groupBy("z").agg(
                F.count(F.lit(1)), F.sum("n"), F.sum((F.col("cell") % P) * F.col("n"))).collect()]

        def raster_action(df):
            return [(int(a), int(b), int(c)) for a, b, c in
                    df.select("cell", "n_pages", F.crc32("data")).collect()]

        return [
            Op("salted_counts", "operators", "spatial.salted_cell_counts",
               lambda ctx: spatial.salted_cell_counts(self.points, z=12),
               salted_action, lambda v: expect_equal("salted_counts digest", v, ex["salted_counts"])),
            Op("pip", "operators", "spatial.pip_join_bbox",
               lambda ctx: spatial.pip_join_bbox(self.points, self.boxes, prune_col="hcell",
                                                 prune_z=self.HZ),
               pip_action, lambda v: expect_rows("pip per-box count/id sum", v, ex["pip"])),
            Op("knn", "operators", "spatial.knn_join_cells",
               lambda ctx: spatial.knn_join_cells(self.points, self.queries, k=self.KNN_K,
                                                  z=self.KNN_Z, ring=1),
               knn_action, lambda v: expect_rows("knn (query, doc, rank)", v, ex["knn"])),
            Op("rollup", "operators", "spatial.cell_rollup",
               lambda ctx: spatial.cell_rollup(self.points, list(self.ROLLUP_ZS)),
               rollup_action, lambda v: expect_rows("rollup per-level digest", v, ex["rollup"])),
            Op("rasterize", "operators", "pages_pipeline.rasterize_tiles",
               lambda ctx: pages_pipeline.rasterize_tiles(self.points, z=self.RASTER_Z,
                                                          px_bits=self.PX_BITS),
               raster_action, lambda v: expect_rows("rasterize (cell, n, crc)", v,
                                                    ex["rasterize"])),
        ]


# ---------------------------------------------------------- tiff_mosaic


TIFF_BBOX = [5.0, 40.0, 12.5, 45.0]          # EPSG:4326, ~102 px per degree
TIFF_SHAPE = (512, 768)
STRIPS = (("strip_a", 0, 280), ("strip_b", 250, 525), ("strip_c", 500, 768))


def tiff_corpus(seed: int, out_dir: str, tracer: Tracer) -> dict:
    """Write the seeded GeoTIFF corpus: overlapping deflate strips (column
    slices with unaligned overlaps) under strips/, and the whole raster as
    JPEG tiles with one 1/2 overview under jpeg/.  Returns the in-memory
    rasters, the encoded files and the encode time."""
    from geowarp_spark.sources.tiff import write_tiff

    data = gen.raster(seed, *TIFF_SHAPE)
    whole = gen.fixture("whole", 4326, TIFF_BBOX, data, no_data=0)
    strips = [gen.column_slice(whole, rid, c0, c1) for rid, c0, c1 in STRIPS]
    files = {}
    t0 = time.perf_counter()
    with tracer.span("tiff.write_tiff", "sources"):
        for fx in strips:
            files[f"strips/{fx['raster_id']}.tif"] = write_tiff(
                fx, compression="deflate", layout="tiles")
        files["jpeg/whole.tif"] = write_tiff(whole, compression="jpeg", layout="tiles",
                                             overviews=[2])
    encode_s = time.perf_counter() - t0
    for rel, buf in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(buf)
    return {"whole": whole, "strips": strips, "files": files, "encode_s": encode_s}


class TiffMosaic(Workload):
    name = "tiff_mosaic"
    item = "output tiles"
    OP_NAMES = ("ingest", "mosaic", "overview", "commit")
    ZOOMS = (7, 8)
    OV_ZOOMS = (7,)
    OUT_SIZE = 128
    CHUNK, HALO = 256, 8
    N_SAMPLE = 6

    def setup(self) -> str:
        from geowarp_spark.operators.warp_tiles import fixture_chunk_records
        from geowarp_spark.sources.tiff import read_tiff

        c = tiff_corpus(self.seed, self.work, self.tracer)
        self.strips_dir = os.path.join(self.work, "strips")
        self.jpeg_dir = os.path.join(self.work, "jpeg")
        self.meta = [{"raster_id": s["raster_id"], "srs": int(s["srs"]),
                      "geotransform": [float(v) for v in s["geotransform"]],
                      "bands": int(s["bands"]), "dtype": s["dtype"],
                      "no_data": float(s["no_data"]), "raster_height": int(s["height"]),
                      "raster_width": int(s["width"])} for s in c["strips"]]
        self.expect = {"ingest": [
            (r["raster_id"], r["row_off"], r["col_off"], r["height"], r["width"],
             zlib.crc32(r["data"]))
            for s in c["strips"] for r in fixture_chunk_records(s, self.CHUNK, self.HALO)]}
        with self.tracer.span("oracle.serial_warp", "kernels"):
            self.mosaic_oracle = oracles.WarpOracle(c["whole"], self.ZOOMS, self.CHUNK, self.HALO)
            self.expect["mosaic"] = self.mosaic_oracle.expected(
                self.mosaic_oracle.sample(self.seed, self.N_SAMPLE), "near", self.OUT_SIZE)
            # serial decode of the overview IFD, then a serial warp
            with self.tracer.span("tiff.read_tiff", "sources"):
                ov = read_tiff(c["files"]["jpeg/whole.tif"], raster_id="whole", level=1)
            self.ov_oracle = oracles.WarpOracle(ov, self.OV_ZOOMS, self.CHUNK, self.HALO)
            self.expect["overview"] = self.ov_oracle.expected(
                self.ov_oracle.sample(self.seed, self.N_SAMPLE), "near", self.OUT_SIZE)
        self.items = len(self.mosaic_oracle.tiles) + len(self.ov_oracle.tiles)
        self.n_commits = 0
        self.commit_bytes = 0
        return _digest(*[c["files"][k] for k in sorted(c["files"])])

    # -- ops

    def _mosaic_plan(self, ctx):
        from geowarp_spark.operators.warp_tiles import (mosaic_chunks, mosaic_meta_df,
                                                        tiles_df, warp_tiles)
        from geowarp_spark.sources.tiff import tiff_chunks_df

        t, sp = self.tracer, self.spark
        with t.span("tiff.tiff_chunks_df", "sources"):
            chunks = tiff_chunks_df(sp, self.strips_dir, chunk=self.CHUNK, halo=self.HALO)
        with t.span("warp_tiles.mosaic_chunks", "operators"):
            comp = mosaic_chunks(chunks, chunk=self.CHUNK, halo=self.HALO, meta=self.meta)
            comp_meta = mosaic_meta_df(sp, self.meta, chunk=self.CHUNK, halo=self.HALO)
        with t.span("warp_tiles.tiles_df", "grid"):
            tiles = tiles_df(sp, list(self.ZOOMS), bbox_4326=TIFF_BBOX, rows_per_partition=65536)
        with t.span("warp_tiles.warp_tiles", "operators"):
            return warp_tiles(tiles, comp, method="near", out_size=self.OUT_SIZE,
                              join_strategy="chunks", chunk=self.CHUNK, halo=self.HALO,
                              chunks_meta=comp_meta)

    def _overview_plan(self, ctx):
        from geowarp_spark.operators.warp_tiles import tiles_df, warp_tiles
        from geowarp_spark.sources.tiff import tiff_chunks_df

        t, sp = self.tracer, self.spark
        with t.span("tiff.tiff_chunks_df", "sources"):
            chunks = tiff_chunks_df(sp, self.jpeg_dir, chunk=self.CHUNK, halo=self.HALO, scale=2.0)
        with t.span("warp_tiles.tiles_df", "grid"):
            tiles = tiles_df(sp, list(self.OV_ZOOMS), bbox_4326=TIFF_BBOX,
                             rows_per_partition=65536)
        with t.span("warp_tiles.warp_tiles", "operators"):
            return warp_tiles(tiles, chunks, method="near", out_size=self.OUT_SIZE,
                              join_strategy="chunks", chunk=self.CHUNK, halo=self.HALO)

    def _commit_plan(self, ctx):
        from geowarp_spark.operators.warp_tiles import TILE_OUT_SCHEMA
        from geowarp_spark.plans.lineage import CheckpointStore

        if "mosaic" not in ctx:
            raise RuntimeError("commit needs the mosaic op's tiles")
        self.n_commits += 1
        root = os.path.join(self.work, "store", str(self.n_commits))
        store = CheckpointStore(self.spark, root)
        return store, self.spark.createDataFrame(ctx["mosaic"], schema=TILE_OUT_SCHEMA)

    def _commit_action(self, handle):
        store, df = handle
        snap = store.commit_tiles(df, stage="mosaic")
        store.write_lineage(store.read_snapshot(snap), snap, stage="mosaic")
        return store, snap

    def _check_commit(self, handle):
        from pyspark.sql import functions as F

        store, snap = handle
        mosaic = self._last_mosaic
        back = sorted(tuple(int(v) for v in r) for r in store.read_snapshot(snap).select(
            "z", "x", "y", F.crc32("data")).collect())
        expect_rows("committed snapshot (z, x, y, crc)", back, mosaic)
        lin = store.read_lineage().agg(F.sum("tiles_emitted")).collect()[0][0]
        expect_equal("lineage tiles_emitted", int(lin), len(mosaic))
        self.commit_bytes = sum(os.path.getsize(os.path.join(d, f))
                                for d, _, fs in os.walk(store.root) for f in fs)
        self.commit_payload = sum(len(b) for b in self._last_payload)
        shutil.rmtree(store.root, ignore_errors=True)

    def _check_mosaic(self, pdf):
        self.partials_per_tile = pdf["n_chunks"].sum() / max(len(pdf), 1)
        rows = [(int(z), int(x), int(y), zlib.crc32(d))
                for z, x, y, d in zip(pdf["z"], pdf["x"], pdf["y"], pdf["data"])]
        self._last_mosaic = sorted(rows)
        self._last_payload = list(pdf["data"])
        oracles.check_tiles("mosaic", rows, self.mosaic_oracle.tiles, self.expect["mosaic"])

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        def ingest_action(df):
            return [(r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]), int(r[5])) for r in df.select(
                "raster_id", "row_off", "col_off", "height", "width", F.crc32("data")).collect()]

        def crc_action(df):
            return [tuple(int(v) for v in r) for r in
                    df.select("z", "x", "y", F.crc32("data")).collect()]

        from geowarp_spark.sources.tiff import tiff_chunks_df

        return [
            Op("ingest", "sources", "tiff.tiff_chunks_df",
               lambda ctx: tiff_chunks_df(self.spark, self.strips_dir, chunk=self.CHUNK,
                                          halo=self.HALO),
               ingest_action, lambda v: expect_rows("ingested chunks", v, self.expect["ingest"])),
            Op("mosaic", "operators", "mosaic+warp", self._mosaic_plan,
               lambda df: df.toPandas(), self._check_mosaic),
            Op("overview", "operators", "overview+warp", self._overview_plan, crc_action,
               lambda v: oracles.check_tiles("overview", v, self.ov_oracle.tiles,
                                             self.expect["overview"])),
            Op("commit", "plans", "lineage.CheckpointStore", self._commit_plan,
               self._commit_action, self._check_commit),
        ]


WORKLOADS = {w.name: w for w in (PagesJoin, TiffMosaic)}
