"""Single-layer probes for the traced run: kernel, source, grid and plan
timings taken in the driver on one thread, each with its own span, so
every layer shows up in every workload's trace and its cost can be set
against the op times (e.g. n_tiles x warp_ms / (nproc x exec_s) is the
kernel's share of a warp op; the rest is Spark and Arrow overhead)."""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import numpy as np

import gen
from harness import Tracer
from workloads import tiff_corpus

# kernel probe source: float64 3-band UTM 33N raster, 440 m pixels, warped
# to 64-px 8-bit z7-z8 web-mercator tiles from 512-px chunk windows
PROBE_SIZE = 512
PROBE_SRS = 32633
PROBE_PX_M = 440.0
PROBE_ORIGIN = (126_000.0, 5_412_000.0)   # (xmin, ymax)
ZOOMS = (7, 8)
METHODS = ("near", "bilinear", "median")
OUT_SIZE, OUT_DTYPE, CHUNK = 64, "uint8", 512
PROJ_POINTS = 500_000
REPEAT = 5
PIP_BBOXES = [b[1:] for b in gen.PIP_BOXES]


def _timed(fn, reps=REPEAT):
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def run_probes(spark, seed: int, work: str, tracer: Tracer) -> dict:
    """-> {metric name: value} for the kernels, sources, grid layers,
    plus the plans probe span (its metrics come from tiff_mosaic's
    commit op)."""
    import oracles
    from geowarp_spark.grid.hilbert import bbox_cover_cell_ids, coalesce_ranges
    from geowarp_spark.kernels.proj import transformer
    from geowarp_spark.operators.warp_tiles import TILE_OUT_SCHEMA, tiles_df
    from geowarp_spark.plans.lineage import CheckpointStore
    from geowarp_spark.sources.tiff import read_tiff

    out = {}
    x0, y1 = PROBE_ORIGIN
    span = PROBE_SIZE * PROBE_PX_M
    fx = gen.fixture("probe", PROBE_SRS, [x0, y1 - span, x0 + span, y1],
                     gen.raster(seed, PROBE_SIZE, PROBE_SIZE).astype(np.float64))
    oracle = oracles.WarpOracle(fx, ZOOMS, CHUNK, out_dtype=OUT_DTYPE)
    keys = oracle.sample(seed, 4)
    tiles = []
    for m in METHODS:
        with tracer.span(f"warp.warp[{m}]", "kernels"):
            ts = []
            for k in keys:
                t0 = time.perf_counter()
                block = oracle.warp_tile(k, m, OUT_SIZE)
                ts.append(time.perf_counter() - t0)
                tiles.append((k, m, block))
        out[f"kernels.warp_ms.{m}"] = 1e3 * median(ts)
    rng = np.random.default_rng([seed, 7])
    xmin, ymin, xmax, ymax = fx["bbox"]
    xs = rng.uniform(xmin, xmax, PROJ_POINTS)
    ys = rng.uniform(ymin, ymax, PROJ_POINTS)
    tr = transformer(fx["srs"], 3857)
    with tracer.span("proj.transform", "kernels"):
        out["kernels.proj_mpts_s"] = PROJ_POINTS / 1e6 / _timed(lambda: tr.transform(xs, ys), 3)

    corpus_dir = os.path.join(work, "probe_corpus")
    c = tiff_corpus(seed, corpus_dir, tracer)
    out["sources.tiff_encode_s"] = c["encode_s"]
    for key, metric, rels in (("tiff", "sources.tiff_decode_mb_s",
                               [r for r in c["files"] if r.startswith("strips/")]),
                              ("jpeg", "sources.jpeg_decode_mb_s", ["jpeg/whole.tif"])):
        with tracer.span(f"tiff.read_tiff[{key}]", "sources"):
            t0 = time.perf_counter()
            nbytes = sum(read_tiff(c["files"][r])["data"].nbytes for r in rels)
            out[metric] = nbytes / 1e6 / (time.perf_counter() - t0)
    shutil.rmtree(corpus_dir, ignore_errors=True)

    with tracer.span("warp_tiles.tiles_df", "grid"):
        out["grid.tiles_df_s"] = _timed(
            lambda: tiles_df(spark, list(ZOOMS), bbox_4326=oracle_bbox(fx)))
    with tracer.span("hilbert.cover_ranges", "grid"):
        out["grid.cover_ranges_s"] = _timed(
            lambda: coalesce_ranges(bbox_cover_cell_ids(PIP_BBOXES, 12), max_ranges=64))

    with tracer.span("lineage.commit_tiles", "plans"):
        rows = [{"raster_id": "probe", "z": k[0], "x": k[1], "y": k[2], "method": m,
                 "bands": 3, "height": OUT_SIZE, "width": OUT_SIZE,
                 "dtype": OUT_DTYPE, "data": b, "n_chunks": 1, "valid_px": 0}
                for k, m, b in tiles]
        root = os.path.join(work, "probe_store")
        store = CheckpointStore(spark, root)
        df = spark.createDataFrame(rows, schema=TILE_OUT_SCHEMA)
        snap = store.commit_tiles(df, stage="probe")
        store.write_lineage(store.read_snapshot(snap), snap, stage="probe")
        shutil.rmtree(root, ignore_errors=True)
    return out


def oracle_bbox(fx):
    from geowarp_spark.kernels.bbox import reproject_bbox
    from geowarp_spark.kernels.proj import transformer

    return reproject_bbox(fx["bbox"], transformer(fx["srs"], 4326).transform,
                          density=16, nan_strategy="skip")
