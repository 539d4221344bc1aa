"""Physical-plan audit: capture .explain('formatted') evidence for the
headline queries and extract the scale-relevant properties — column
pruning (ReadSchema), filter pushdown (PushedFilters), exchange count,
broadcast usage, whole-stage codegen coverage and the JIT report: the
largest generated method of each plan, flagged when it is over the
8,000 bytes HotSpot will compile (such a method runs interpreted).

Writes BENCH/PLANS_r{N}.md.  Usage: python tools/audit_plans.py [out_md]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def _jit(df):
    """(largest generated-method bytes of ``df``'s final plan, flag):
    runs the plan once so AQE's query stages exist, then compiles
    every whole-stage-codegen class; a flagged stage runs interpreted."""
    from geowarp_spark.session import (HUGE_METHOD_BYTES,
                                       max_codegen_method_bytes)

    df._jdf.queryExecution().executedPlan().execute().count()
    size = max_codegen_method_bytes(df)
    return size, ("OVER 8,000 B: interpreted" if size > HUGE_METHOD_BYTES
                  else "JIT-sized")

# query -> what the plan must show to be the plan you'd want at 100 TB
AUDITS = {
    "token_stats": "column pruning: ReadSchema on documents.parquet limited "
                   "to (lang, text); one partial+final agg exchange",
    "quality": "shuffle-free narrow projection (0 exchanges before collect)",
    "simhash_full": "shuffle-free fingerprint: row-local aggregate() HOF, "
                    "0 exchanges",
    "minhash_pairs_full": "exchanges only on short keys (band bucket / pair "
                          "ids), never on text payload",
    "similarity_lsh": "bucket equi-join with the query side explicitly "
                      "BROADCAST (F.broadcast hint); starved-query "
                      "fallback in the same DAG",
    "skip_nodata": "predicate pushed to the parquet scan (PushedFilters)",
    "salted_cells": "cell_rollup at one zoom: one partial+final agg on "
                    "cell, no salt, no Generate",
    "dedup_exact": "md5 groupBy with partial aggregation (combiner) before "
                   "the exchange",
    "cell_encode": "one scan of documents; BOTH cell encoders (packed XYZ "
                   "+ the 12-level unrolled Hilbert walk) evaluate as "
                   "codegen projections — no UDF, no extra exchange beyond "
                   "the single partial+final agg",
}


def _audit_hilbert_pruning(spark):
    """Round-6 custom audit: the Hilbert range-pruning path is not a
    driver query (it needs a cell-sorted STORED table), so build the
    same shape test_hilbert_range_pruning_pushdown_and_knn uses and
    capture (a) the BETWEEN bounds reaching the scan as PushedFilters
    and (b) the measured row-group pruning from the executed plan's own
    scan metrics, plus (c) where the pruning operators read the stored
    zoom from: the column's hilbert_zoom stamp, or a probe job."""
    import numpy as np
    from pyspark.sql import functions as F

    from geowarp_spark.grid.hilbert import coalesce_ranges
    from geowarp_spark.grid.tiles import disk_cells
    from geowarp_spark.operators.spatial import (_stored_zoom,
                                                 cell_range_predicate,
                                                 write_hilbert_sorted)

    z = 7
    pts = spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 7919, F.lit(360_000)) / 1000.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 104729, F.lit(170_000)) / 1000.0 - 85.0).alias("lat"))
    path = "/tmp/plans_audit_pts_sorted.parquet"
    write_hilbert_sorted(pts, path, z, num_files=8, row_group_bytes=1 << 17)
    stored = spark.read.parquet(path)
    zoom, source = _stored_zoom(stored, "hcell")
    print(f"hilbert audit: stored zoom z{zoom} read from the {source}")
    _, ids = disk_cells(np.array([10.0, -70.0, 140.0]),
                        np.array([10.0, 40.0, -30.0]), z, np.full(3, 2),
                        "hilbert")
    ranges = coalesce_ranges(ids, max_ranges=32)
    flt = stored.filter(cell_range_predicate(ranges, "hcell"))

    def scan_rows(df):
        ep = df._jdf.queryExecution().executedPlan()
        ep.execute().count()
        scan = ep.collectLeaves().apply(0)
        return (int(scan.metrics().apply("numOutputRows").value()),
                scan.toString())

    n_full, _ = scan_rows(stored)
    n_pruned, scan_str = scan_rows(flt)
    buf = io.StringIO()
    with redirect_stdout(buf):
        flt.explain("formatted")
    det = [
        "## hilbert range-pruned scan (round 6)",
        "",
        "**Expectation:** a spatial disk around 3 query points becomes "
        f"{len(ranges)} Hilbert id intervals; the BETWEEN bounds reach the "
        "parquet scan as PushedFilters, and row-group min-max stats on the "
        "cell-sorted table skip most of the file without decoding.",
        "",
        f"Measured (executed-plan scan metrics, 128 KiB row groups): "
        f"**{n_pruned:,} of {n_full:,} rows decoded "
        f"({100.0 * n_pruned / n_full:.1f}%)** — granularity-bound by the "
        "row-group size, exactness preserved by the downstream cell "
        "equi-join (the intervals are a superset).",
        "",
        f"Stored zoom: z{zoom}, read from the {source} (`stamp`: the "
        "column's `hilbert_zoom` metadata, free; `probe`: one limit-1 "
        "job per pruned call).",
        "",
        "```",
        buf.getvalue().strip()[:3000],
        "```", "",
    ]
    return det


def _broadcast_side_nodes(df):
    """Node names under the BroadcastExchange nodes of df's physical plan
    (AQE's initial plan when adaptive execution is on)."""
    def names(node, under=False):
        ch = node.children()
        here = [node.nodeName()] if under else []
        under = under or node.nodeName() == "BroadcastExchange"
        return here + [n for i in range(ch.size())
                       for n in names(ch.apply(i), under)]

    ep = df._jdf.queryExecution().executedPlan()
    return names(ep.executedPlan() if ep.nodeName() == "AdaptiveSparkPlan"
                 else ep)


def _audit_knn_certified(spark):
    """knn_join_cells is one certified pass: the driver lists each
    query's disk cells (grid.tiles.disk_cells) as the broadcast query
    side, so the plan carries NO literal IN-list over query ids and no
    Generate or Exchange under the broadcast, and one call costs a fixed
    number of Spark jobs (the count table and the query collect) however
    far the queries must reach."""
    from pyspark.sql import functions as F

    from geowarp_spark.operators.spatial import knn_join_cells

    pts = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 7919, F.lit(360_000)) / 1000.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 104729, F.lit(170_000)) / 1000.0 - 85.0).alias("lat"))
    q = spark.createDataFrame(
        [(i, float(i % 37) * 3 - 50.0, float(i % 17) * 4 - 30.0)
         for i in range(200)],
        "query_id long, qlon double, qlat double")
    sc = spark.sparkContext
    sc.setJobGroup("audit.knn_join_cells", "knn_join_cells call")
    try:
        out = knn_join_cells(pts, q, k=3, z=6, ring=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("audit.knn_join_cells"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_in = plan.count(" IN (") + plan.upper().count("INSET")
    side = {}
    for scheme in ("equirect", "hilbert"):
        nodes = _broadcast_side_nodes(
            knn_join_cells(pts, q, k=3, z=6, ring=1, scheme=scheme))
        side[scheme] = (sum("Generate" in n for n in nodes),
                        sum("Exchange" in n for n in nodes))
        print(f"knn audit: {scheme} broadcast query side: "
              f"{side[scheme][0]} Generate, {side[scheme][1]} Exchange")
    det = [
        "## knn_join_cells certified single pass",
        "",
        "**Expectation:** the driver lists each query's disk cells as the "
        "broadcast query side, so the plan carries NO literal IN-list over "
        "query ids and no Generate or Exchange under the broadcast "
        "(test_knn_cells_broadcast_side_is_driver_listed) "
        "(10k-query bound pinned in test_knn_cells_many_queries_bounded_plan), "
        "and the call runs a fixed number of Spark jobs (pinned in "
        "test_knn_round_trips_independent_of_ring).",
        "",
        f"Measured on a 200-query run: **{n_in} IN-list predicates over "
        f"query_id** (must be 0); **{n_jobs} Spark jobs** inside the call "
        "(count table + query collect; the action runs the rest).",
        "",
        "Broadcast query side, (Generate, Exchange) nodes per scheme "
        "(must be 0: the disk is listed on the driver): "
        + ", ".join(f"{k} {v}" for k, v in side.items()) + ".",
        "",
        "```",
        plan.strip()[:3000],
        "```", "",
    ]
    assert n_in == 0, "IN-list leaked back into the kNN plan"
    assert all(v == (0, 0) for v in side.values()), side
    return det


def _audit_streams(spark):
    """Every per-key pandas stage is one groups.stream_groups pass: an
    explicit-width repartition on the group keys, a sort within
    partitions and ONE mapInPandas that serves every group of an Arrow
    batch, never a grouped pandas UDF (one Python call per group).
    Covers the rasterize paint, the mosaic_chunks composite and the
    warp_tiles merge."""
    import numpy as np
    from pyspark.sql import functions as F

    from geowarp_spark.kernels.affine import Geotransform
    from geowarp_spark.kernels.bbox import reproject_bbox
    from geowarp_spark.kernels.proj import transformer
    from geowarp_spark.operators.pages_pipeline import rasterize_tiles
    from geowarp_spark.operators.warp_tiles import (
        chunks_to_df, mosaic_chunks, tiles_df, warp_tiles)
    from geowarp_spark.sources.fixtures import build_fixture

    fx = build_fixture("rgb_smallscale")
    g = fx["geotransform"] or Geotransform.from_bbox(
        fx["bbox"], fx["width"], fx["height"]).gt

    def half(rid, c0, c1):
        d = np.ascontiguousarray(fx["data"][:, :, c0:c1])
        return dict(fx, raster_id=rid, data=d, width=c1 - c0,
                    geotransform=[g[0] + c0 * g[1], g[1], g[2],
                                  g[3] + c0 * g[4], g[4], g[5]])

    ch = chunks_to_df(spark, half("a_left", 0, 165), chunk=128, halo=8) \
        .unionByName(chunks_to_df(
            spark, half("b_right", 165, fx["width"]), chunk=128, halo=8))
    bb = reproject_bbox(fx["bbox"], transformer(fx["srs"], 4326).transform,
                        density=16, nan_strategy="skip")
    tiles = tiles_df(spark, [9], bbox_4326=bb)
    kw = dict(out_size=64, join_strategy="chunks", chunk=128, halo=8)
    pts = spark.range(10_000).select(
        (F.rand(0) * 360.0 - 180.0).alias("lon"),
        (F.rand(1) * 180.0 - 90.0).alias("lat"))
    stages = {
        "rasterize_tiles paint": rasterize_tiles(pts, z=4, px_bits=6),
        "mosaic_chunks composite": mosaic_chunks(ch, chunk=128, halo=8),
        "warp_tiles merge": warp_tiles(tiles, ch, **kw),
    }
    det = [
        "## grouped stages: one stream_groups pass each",
        "",
        "**Expectation:** each per-key pandas stage is one mapInPandas over "
        "a stream repartitioned on its group keys to defaultParallelism "
        "and sorted within partitions (keys, then the precedence order); "
        "the plan holds no grouped pandas UDF.",
        "",
        "| stage | Exchange | MapInPandas | FlatMapGroupsInPandas (must be 0) |",
        "|---|---|---|---|",
    ]
    plans = []
    for name, df in stages.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_map = len(re.findall(r"\(\d+\) MapInPandas\b", plan))
        n_grouped = len(re.findall(r"\(\d+\) FlatMapGroupsInPandas\b", plan))
        print(f"{name}: {n_exchange} Exchange, {n_map} MapInPandas, "
              f"{n_grouped} FlatMapGroupsInPandas")
        det.append(f"| {name} | {n_exchange} | {n_map} | {n_grouped} |")
        plans += [f"### {name}", "", "```", plan.strip()[:3000], "```", ""]
        assert n_grouped == 0, f"{name} fell back to a grouped pandas UDF"
    return det + [""] + plans


def _audit_pip_jit(spark):
    """The pruned pip scan (pip_join_bbox with prune_col) stays JIT-sized:
    cell_range_predicate's null guard halves the bytecode per range and
    _prune_scan clamps the range count to PRUNE_MAX_RANGES, so the scan
    stage's largest method is under 8,000 bytes at the default 64
    ranges and at the clamp."""
    import numpy as np
    from pyspark.sql import functions as F

    from geowarp_spark.operators.spatial import (PRUNE_MAX_RANGES,
                                                 pip_join_bbox,
                                                 write_hilbert_sorted)

    z = 10
    pts = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 7919, F.lit(360_000)) / 1000.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 104729, F.lit(170_000)) / 1000.0 - 85.0).alias("lat"))
    path = "/tmp/plans_audit_pip_jit.parquet"
    write_hilbert_sorted(pts, path, z, num_files=4)
    stored = spark.read.parquet(path)
    rng = np.random.default_rng(0)
    boxes = spark.createDataFrame(
        [(i, float(x), float(y), float(x) + 3.0, float(y) + 3.0)
         for i, (x, y) in enumerate(zip(rng.uniform(-170, 160, 40),
                                        rng.uniform(-80, 70, 40)))],
        "tile_id long, xmin double, ymin double, xmax double, ymax double")
    rows = []
    for max_ranges in (64, 10_000):
        size, flag = _jit(pip_join_bbox(stored, boxes, prune_col="hcell",
                                        prune_z=z, prune_max_ranges=max_ranges))
        used = min(max_ranges, PRUNE_MAX_RANGES)
        print(f"pip jit audit: {used} ranges -> largest method {size} B ({flag})")
        rows.append(f"| {max_ranges} | {used} | {size:,} | {flag} |")
    return [
        "## pruned pip scan JIT budget",
        "",
        "**Expectation:** the Hilbert prune predicate ends in `AND hcell IS "
        "NOT NULL`, so FilterExec compiles each BETWEEN as non-nullable, and "
        f"`_prune_scan` clamps the ranges to PRUNE_MAX_RANGES = "
        f"{PRUNE_MAX_RANGES}: the scan stage's largest generated method stays "
        "under the 8,000 bytes HotSpot compiles (pinned in "
        "test_pruned_pip_scan_fits_jit_budget).",
        "",
        "| prune_max_ranges | ranges used | largest method (bytes) | |",
        "|---|---|---|---|",
        *rows, "",
    ]


def _audit_count_core(spark):
    """Every per-cell count is cell_rollup's one aggregate: the encoded
    cell (or, for a multi-level rollup, its exploded coarsened ids)
    feeds a single groupBy(cell).  Each caller's plan must show exactly
    one exchange, and only the multi-level rollup a Generate."""
    from pyspark.sql import functions as F

    from geowarp_spark.operators import spatial
    from geowarp_spark.operators.pages_pipeline import pixel_counts

    pts = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        (F.rand(0) * 360.0 - 180.0).alias("lon"),
        (F.rand(1) * 180.0 - 90.0).alias("lat"))
    calls, cell_rollup = [], spatial.cell_rollup

    def count_grid():
        # rebuild the aggregate _count_grid collects from its one call
        # (a collected plan would print AQE's final and initial plans)
        spatial.cell_rollup = lambda *a, **kw: (calls.append((a, kw))
                                                or cell_rollup(*a, **kw))
        try:
            spatial._count_grid(pts, 10, "lon", "lat")
        finally:
            spatial.cell_rollup = cell_rollup
        (args, kwargs), = calls
        return cell_rollup(*args, **kwargs)

    # caller -> (plan builder, whether it explodes several levels)
    callers = {
        "salted_cell_counts(z12)":
            (lambda: spatial.salted_cell_counts(pts, 12), False),
        "cell_rollup([12, 10, 8])":
            (lambda: cell_rollup(pts, [12, 10, 8]), True),
        "cell_rollup([12, 10, 8], hilbert)":
            (lambda: cell_rollup(pts, [12, 10, 8], scheme="hilbert"), True),
        "cell_rollup([12])": (lambda: cell_rollup(pts, [12]), False),
        "pixel_counts(z4, px_bits 6)": (lambda: pixel_counts(pts, 4, 6), False),
        "_count_grid(z10)": (count_grid, False),
    }
    det = ["## cell-count core", "",
           "**Expectation:** `salted_cell_counts`, `cell_rollup` (both "
           "schemes), `pixel_counts` and kNN's `_count_grid` all run "
           "cell_rollup's one aggregate: 1 Exchange (hashpartitioning on "
           "cell) each, a Generate only in the multi-level rollup.", "",
           "| caller | exchanges | Generate | largest method (B) |",
           "|---|---|---|---|"]
    for name, (build, multi) in callers.items():
        df = build()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_generate = len(re.findall(r"\(\d+\) Generate\b", plan))
        size, flag = _jit(df)
        print(f"count core audit ({name}): {n_exchange} Exchange, "
              f"{n_generate} Generate, largest method {size} B ({flag})")
        det.append(f"| `{name}` | {n_exchange} | {n_generate} | "
                   f"{size:,} ({flag}) |")
        assert n_exchange == 1, f"{name}: {n_exchange} exchanges"
        assert (n_generate > 0) == multi, f"{name}: {n_generate} Generate"
    return det + [""]


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH/PLANS_r6.md"
    import __spark_entry__ as em
    from geowarp_spark.session import get_spark

    # disable SIZE-based broadcasts: at sf0.01 every table is tiny, so
    # Catalyst would broadcast joins that must shuffle at corpus scale —
    # with the threshold off, a BroadcastExchange in these plans means an
    # EXPLICIT F.broadcast() hint, i.e. broadcast-by-design
    spark = get_spark(master="local[8]", extra_conf={
        "spark.sql.autoBroadcastJoinThreshold": "-1"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()

    out = [
        f"# {os.path.splitext(os.path.basename(out_path))[0]} — physical-plan audit of headline queries",
        "",
        "Captured with `.explain('formatted')` at sf0.01 (plans are",
        "size-independent modulo AQE runtime re-planning; broadcast",
        "decisions asserted here come from explicit `F.broadcast` hints,",
        "not size estimates).  Generated by `tools/audit_plans.py`.",
        "",
    ]
    summary = []
    details = []
    for name, want in AUDITS.items():
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        n_codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
        pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
        pushed = [p for p in pushed if p.strip()]
        schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        size, flag = _jit(df)
        print(f"{name}: largest generated method {size} B ({flag})")
        summary.append(
            f"| `{name}` | {n_exchange} | {n_bcast} | {n_codegen} | "
            f"{'yes' if pushed else '-'} | {size:,} ({flag}) | {want} |")
        det = [f"## {name}", "", f"**Expectation:** {want}", ""]
        if schemas:
            det.append("ReadSchema (column pruning at the scan):")
            det += [f"- `{s[:160]}`" for s in sorted(set(schemas))]
        if pushed:
            det.append("")
            det.append("PushedFilters:")
            det += [f"- `{p[:160]}`" for p in pushed]
        det += ["", "```", plan.strip()[:4000], "```", ""]
        details += det

    out.append("| query | shuffle exchanges | broadcast exchanges | "
               "codegen spans | pushdown | largest method (B) | expectation |")
    out.append("|---|---|---|---|---|---|---|")
    out += summary
    out.append("")
    out += details
    # plan shapes that live outside queries() (stored-table pruning, the
    # certified kNN pass, the grouped pandas stages, the pruned pip
    # scan's JIT budget, the cell-count core)
    out += _audit_hilbert_pruning(spark)
    out += _audit_knn_certified(spark)
    out += _audit_streams(spark)
    out += _audit_pip_jit(spark)
    out += _audit_count_core(spark)
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {out_path} ({len(AUDITS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
