"""Distributed warp: raster chunks x tile pyramid -> warped tile rows.

This is the Spark lift of the reference's per-tile usage pattern
(test.js:172-196: XYZ tile -> tileToBBOX -> windowed GeoTIFF read ->
geowarp(...)): the windowed read becomes an assignment of raster chunks
to tiles, and the warp call becomes the numpy kernel run once per
(tile, source window).  Chunks are grid-aligned sub-windows of one
raster with halo rows duplicated at ingest, so box-stat windows never
cross owners.  Two plans assign chunks to tiles:

- ``warp_tiles_broadcast`` — a small source is broadcast to every
  executor once; a mapInPandas over the tile table hit-tests each tile
  against the chunk boxes, stitches the matches into one window and
  warps it.  No pixel payload is shuffled.
- ``warp_tiles`` — the chunk-anchored plan for sources too large to
  broadcast: payload-free pair discovery on a cover-cell EQUI-join (no
  O(tiles x chunks) theta join), each chunk warps its matched tiles from
  its own window and keeps the pixels it owns, and an output-sized
  shuffle merges the owned rects.  The payload crosses one exchange.

``warp_fixture_to_tiles(join_strategy='auto')`` picks between them by
measured source bytes (``AUTO_BROADCAST_BYTES``); both give the same
bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..grid.tiles import point_to_tile, tile_to_bbox_3857, tile_to_bbox_4326
from ..kernels.affine import Geotransform
from ..kernels.bbox import reproject_bbox
from ..kernels.proj import WEB_MERCATOR_EXTENT, transformer
from ..kernels.warp import _cast_band, _sample_map, _scale_integer, warp
from .groups import frames, stream_groups

CHUNK_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("srs", IntegerType()),
    StructField("geotransform", ArrayType(DoubleType())),  # full-raster gt
    StructField("row_off", IntegerType()),
    StructField("col_off", IntegerType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("bands", IntegerType()),
    StructField("dtype", StringType()),
    StructField("no_data", DoubleType()),
    StructField("bbox_4326", ArrayType(DoubleType())),
    StructField("raster_height", IntegerType()),  # full-raster dims: edge
    StructField("raster_width", IntegerType()),   # chunks own the outside
    StructField("data", BinaryType()),
])

TILE_OUT_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("z", IntegerType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("method", StringType()),
    StructField("bands", IntegerType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("dtype", StringType()),
    StructField("data", BinaryType()),
    StructField("n_chunks", IntegerType()),
    StructField("valid_px", LongType()),
])


class _Lattice:
    """The chunk lattice every chunk table is cut on (SURVEY §7 hard-part
    2: overlap-duplicate halos at ingest, tag owner).  On an n-px axis
    chunk k owns the core [k*chunk, (k+1)*chunk) and carries the haloed
    window [max(0, k*chunk - halo), min(n, (k+1)*chunk + halo)).  Ingest,
    the mosaic composite, its analytic metadata and the partials' owner
    recovery all read windows, cores and bboxes from here.  ``halo`` must
    lie in [0, chunk): a wider halo gives two chunks the same offset, so
    an offset would no longer name one core."""

    def __init__(self, chunk, halo):
        if not 0 <= halo < chunk:
            raise ValueError(
                f"chunk lattice needs 0 <= halo < chunk; got chunk={chunk}, "
                f"halo={halo}")
        self.chunk, self.halo = chunk, halo

    def window(self, k, n):
        """Haloed window [w0, w1) of chunk k on an n-px axis."""
        return (max(0, k * self.chunk - self.halo),
                min(n, (k + 1) * self.chunk + self.halo))

    def windows(self, n, lo=0, hi=None):
        """(k, a, b) for every chunk whose window meets [lo, hi) (default:
        the whole axis) on an n-px axis; [a, b) is the overlap."""
        c, h = self.chunk, self.halo
        hi = n if hi is None else hi
        for k in range(max(0, (lo - h) // c),
                       min((n + c - 1) // c, (hi + h + c - 1) // c)):
            w0, w1 = self.window(k, n)
            if max(w0, lo) < min(w1, hi):
                yield k, max(w0, lo), min(w1, hi)

    def core(self, off, size, n):
        """Owned core of the chunk whose window is [off, off + size) on an
        n-px axis; the first and last cores reach out to -inf and +inf
        (box windows of out pixels centred just past the raster edge still
        clip into it, geowarp.js:929, and that value needs one owner).
        Raises when that window is not one of this lattice's."""
        c = self.chunk
        k = 0 if off == 0 else (off + self.halo) // c
        w0, w1 = self.window(k, n)
        if (w0, w1) != (off, off + size):
            raise ValueError(
                f"chunk table window [{off}, {off + size}) of a {n}-px axis "
                f"is off the chunk={c}, halo={self.halo} lattice (its chunk "
                f"{k} window is [{w0}, {w1})): cut the chunk table with the "
                "chunk= and halo= given to warp_tiles")
        return (-np.inf if k == 0 else k * c,
                np.inf if (k + 1) * c >= n else (k + 1) * c)

    @staticmethod
    def bbox_4326(g, to4326, r0, r1, c0, c1):
        """EPSG:4326 bbox of the window rows [r0, r1) x cols [c0, c1) of a
        raster with Geotransform ``g``."""
        xs, ys = g.forward([c0, c1, c0, c1], [r0, r0, r1, r1])
        bb = reproject_bbox(
            [float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())],
            to4326.transform, density=8, nan_strategy="skip")
        return [float(v) for v in bb]


def fixture_chunk_records(fixture, chunk=256, halo=8):
    """Fixture dict -> list of chunk record dicts (CHUNK_SCHEMA fields,
    data as raw bytes).  Halo rows/cols are duplicated at ingest (SURVEY
    §7 hard-part 2) so any window reaching <= halo px past a chunk edge
    sees true values."""
    lat = _Lattice(chunk, halo)
    data = fixture["data"]
    b, h, w = data.shape
    full_gt = [float(v) for v in fixture["geotransform"]
               or Geotransform.from_bbox(fixture["bbox"], w, h).gt]
    g = Geotransform(full_gt)
    to4326 = transformer(fixture["srs"], 4326)
    nd = fixture["no_data"]
    return [{
        "raster_id": fixture["raster_id"],
        "srs": int(fixture["srs"]),
        "geotransform": list(full_gt),
        "row_off": r0,
        "col_off": c0,
        "height": r1 - r0,
        "width": c1 - c0,
        "bands": b,
        "dtype": fixture["dtype"],
        "no_data": None if nd is None else float(nd),
        "bbox_4326": lat.bbox_4326(g, to4326, r0, r1, c0, c1),
        "raster_height": h,
        "raster_width": w,
        # tobytes() of a strided crop is ~6x slower than of a C-order copy
        "data": np.ascontiguousarray(data[:, r0:r1, c0:c1]).tobytes(),
    } for _, r0, r1 in lat.windows(h) for _, c0, c1 in lat.windows(w)]


def chunks_to_df(spark: SparkSession, fixture, chunk=256, halo=8) -> DataFrame:
    """Fixture dict -> chunk DataFrame (CHUNK_SCHEMA)."""
    rows = fixture_chunk_records(fixture, chunk=chunk, halo=halo)
    return spark.createDataFrame(pd.DataFrame(rows), schema=CHUNK_SCHEMA)


PIECE_SCHEMA = StructType([
    StructField("vkr", IntegerType()),   # virtual chunk lattice index
    StructField("vkc", IntegerType()),
    StructField("raster_id", StringType()),
    StructField("pr0", IntegerType()),   # piece offset in VIRTUAL raster coords
    StructField("pc0", IntegerType()),
    StructField("ph", IntegerType()),
    StructField("pw", IntegerType()),
    StructField("no_data", DoubleType()),
    StructField("data", BinaryType()),
])


def _mosaic_frame(meta, hole_no_data):
    """The virtual raster a mosaic composites onto, shared by
    mosaic_chunks (the composite) and mosaic_meta_df (the analytic
    pair-discovery metadata) so the two can never drift: validates the
    per-raster metadata and returns the virtual extent, geotransform and
    hole fill."""
    if len({m["srs"] for m in meta}) != 1 \
            or len({m["bands"] for m in meta}) != 1 \
            or len({m["dtype"] for m in meta}) != 1:
        raise ValueError(
            "mosaic_chunks requires uniform srs/bands/dtype across rasters; "
            f"got srs={sorted({m['srs'] for m in meta})} "
            f"bands={sorted({m['bands'] for m in meta})} "
            f"dtypes={sorted({m['dtype'] for m in meta})}")
    srs = int(meta[0]["srs"])
    bands = int(meta[0]["bands"])
    dt = np.dtype(meta[0]["dtype"])
    gt0 = [float(v) for v in meta[0]["geotransform"]]
    g0 = Geotransform(gt0)
    offs = {}
    for m in meta:
        gt = [float(v) for v in m["geotransform"]]
        for i in (1, 2, 4, 5):
            if abs(gt[i] - gt0[i]) > 1e-9 * max(1.0, abs(gt0[i])):
                raise ValueError(
                    "mosaic_chunks requires a shared grid: raster "
                    f"{m['raster_id']!r} geotransform linear part {gt} "
                    f"differs from {gt0}")
        c, r = g0.inverse(gt[0], gt[3])
        if abs(c - round(c)) > 1e-6 or abs(r - round(r)) > 1e-6:
            raise ValueError(
                f"mosaic_chunks: raster {m['raster_id']!r} origin is not an "
                f"integer pixel offset from the shared grid ({c}, {r})")
        offs[m["raster_id"]] = (int(round(r)), int(round(c)))
    r_min = min(v[0] for v in offs.values())
    c_min = min(v[1] for v in offs.values())
    doffs = {k: (v[0] - r_min, v[1] - c_min) for k, v in offs.items()}
    vh = max(doffs[m["raster_id"]][0] + int(m["raster_height"]) for m in meta)
    vw = max(doffs[m["raster_id"]][1] + int(m["raster_width"]) for m in meta)
    vx0, vy0 = g0.forward(float(c_min), float(r_min))
    vgt = [float(vx0), gt0[1], gt0[2], float(vy0), gt0[4], gt0[5]]

    nds = {m["raster_id"]:
           None if m["no_data"] is None or pd.isna(m["no_data"])
           else float(m["no_data"]) for m in meta}
    nd_set = set(nds.values())
    if len(nd_set) == 1 and None not in nd_set:
        hole_fill = out_nd = nd_set.pop()          # common sentinel
    elif np.issubdtype(dt, np.floating):
        hole_fill, out_nd = np.nan, None           # NaN is the sentinel
    elif hole_no_data is not None:
        hole_fill = out_nd = float(hole_no_data)
    else:
        raise ValueError(
            "mosaic_chunks: integer rasters without a common no_data "
            "sentinel need hole_no_data= to fill uncovered pixels")

    return {"srs": srs, "bands": bands, "dt": dt, "doffs": doffs,
            "vh": vh, "vw": vw, "vgt": vgt,
            "hole_fill": hole_fill, "out_nd": out_nd}


def mosaic_meta_df(spark: SparkSession, meta, *, chunk=256, halo=8,
                   raster_id="mosaic", hole_no_data=None) -> DataFrame:
    """Analytic pair-discovery metadata for a ``mosaic_chunks`` composite
    (r8): one row per virtual-lattice chunk position carrying exactly the
    (raster_id, row_off, col_off, bbox_4326) the composite's rows would
    carry — computed from the lattice geometry alone, WITHOUT executing
    the composite.  Pass as ``warp_tiles(..., chunks_meta=...)`` so the
    composite has exactly ONE consumer (the payload join): without it
    the composite runs twice per action (metadata + payload), and
    checkpoint-based fixes either force a build-time job (AQE
    materializes the piece shuffle when the RDD is taken) or cache
    payload.

    The row set is a SUPERSET of the composite's (positions no piece
    covers emit a meta row but no composite row): superset pairs are
    dropped by the payload inner join, so the matched set — and the
    result — is identical.  Driver-side enumeration of nkr x nkc
    positions: use when the lattice is driver-small (the composite of a
    bench fixture, a few thousand chunks); at corpus scale derive the
    metadata distributed or let the operator read it from the composite.
    """
    lat = _Lattice(chunk, halo)
    fr = _mosaic_frame(meta, hole_no_data)
    g, to4326 = Geotransform(fr["vgt"]), transformer(fr["srs"], 4326)
    rows = [{"raster_id": raster_id, "row_off": r0, "col_off": c0,
             "bbox_4326": lat.bbox_4326(g, to4326, r0, r1, c0, c1)}
            for _, r0, r1 in lat.windows(fr["vh"])
            for _, c0, c1 in lat.windows(fr["vw"])]
    return spark.createDataFrame(
        pd.DataFrame(rows),
        schema="raster_id string, row_off int, col_off int, "
               "bbox_4326 array<double>")


def mosaic_chunks(chunks: DataFrame, *, chunk=256, halo=8,
                  raster_id="mosaic", hole_no_data=None,
                  meta=None) -> DataFrame:
    """Distributed pixel-level composite of grid-aligned rasters onto one
    virtual raster lattice -> a standard single-raster chunk table.

    This is the one way several rasters merge: composite on the shared
    source grid, then ``warp_tiles`` the result.  The GDAL mosaic rule
    decides each pixel: valid pixels win over fill, ties go to the
    highest raster_id (pieces applied in ascending raster_id order).
    The downstream chunks plan sees ONE raster, so every resampling
    method treats source seams exactly like chunk seams (halos are
    rebuilt on the virtual lattice).  mosaic-of-halves == whole-raster
    is bit-exact for near, bilinear AND median
    (test_warp_mosaic_composite_all_methods); reference seam semantics:
    bilinear edge tree geowarp.js:793-833, box windows
    geowarp.js:893-950.

    Requirements (asserted from per-raster metadata — #rasters rows, no
    pixel data on the driver): all rasters share srs, bands, dtype, and
    the linear part of the geotransform, with origins an integer number
    of pixels apart.  Holes (virtual-extent pixels no raster covers, and
    every raster's own nodata pixels) need a representable fill: the
    rasters' common no_data sentinel if they have one, else NaN for
    float dtypes, else ``hole_no_data`` (required for integer dtypes
    without a common sentinel).  Virtual chunks nothing covers emit no
    row — tiles over pure holes warp from no chunks, same as outside the
    extent.

    Scale: piece emission is a narrow mapInPandas (each input chunk
    crops to the few virtual chunks its haloed windows intersect); the
    composite is a groups.stream_groups pass keyed on the virtual chunk,
    the plan's one payload shuffle, proportional to mosaic area like any
    regrid.  Precedence needs no global sort: the stream's within-
    partition sort orders each virtual chunk's pieces by
    (raster_id, pr0, pc0).

    ``meta`` (r8): optional pre-known per-raster metadata — a list of
    dicts/Rows with keys (raster_id, srs, geotransform, bands, dtype,
    no_data, raster_height, raster_width), one per raster.  Callers that
    BUILT the chunk table (and therefore already hold the metadata) pass
    it to skip the driver-side distinct().collect() job the operator
    otherwise runs at plan-construction time (~0.2 s per call at bench
    scale; at 100 TB it is a full metadata scan of the chunk table).
    Values must match what the collect would return — the same
    validation runs either way.

    A downstream ``warp_tiles`` consumes the composite twice per action
    (pair discovery + payload join) unless it is given
    ``chunks_meta=mosaic_meta_df(...)``, which leaves the composite one
    consumer and keeps it fully lazy.
    """
    lat = _Lattice(chunk, halo)
    spark = chunks.sparkSession
    if meta is None:
        meta = chunks.select(
            "raster_id", "srs", "geotransform", "bands", "dtype", "no_data",
            "raster_height", "raster_width").distinct().collect()
    fr = _mosaic_frame(meta, hole_no_data)
    srs, bands, dt = fr["srs"], fr["bands"], fr["dt"]
    doffs, vh, vw, vgt = fr["doffs"], fr["vh"], fr["vw"], fr["vgt"]
    hole_fill, out_nd = fr["hole_fill"], fr["out_nd"]
    doffs_b = spark.sparkContext.broadcast(doffs)

    def gen_pieces(batches):
        dd = doffs_b.value
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                dr, dc = dd[rec["raster_id"]]
                arr = np.frombuffer(
                    rec["data"], dtype=np.dtype(rec["dtype"])).reshape(
                    int(rec["bands"]), int(rec["height"]), int(rec["width"]))
                vr0 = int(rec["row_off"]) + dr
                vc0 = int(rec["col_off"]) + dc
                vr1, vc1 = vr0 + arr.shape[1], vc0 + arr.shape[2]
                for kr, ir0, ir1 in lat.windows(vh, vr0, vr1):
                    for kc, ic0, ic1 in lat.windows(vw, vc0, vc1):
                        piece = np.ascontiguousarray(
                            arr[:, ir0 - vr0:ir1 - vr0, ic0 - vc0:ic1 - vc0])
                        rows.append({
                            "vkr": kr, "vkc": kc,
                            "raster_id": rec["raster_id"],
                            "pr0": ir0, "pc0": ic0,
                            "ph": ir1 - ir0, "pw": ic1 - ic0,
                            "no_data": rec["no_data"],
                            "data": piece.tobytes(),
                        })
            if rows:
                yield pd.DataFrame(rows)

    g, to4326 = Geotransform(vgt), transformer(srs, 4326)

    def composite(pdf, bounds):
        vkr, vkc, pr0, pc0, ph, pw, pnd, pdata = (pdf[c].to_numpy() for c in (
            "vkr", "vkc", "pr0", "pc0", "ph", "pw", "no_data", "data"))
        wins = [(lat.window(int(kr), vh), lat.window(int(kc), vw))
                for kr, kc in zip(vkr[bounds[:-1]], vkc[bounds[:-1]])]
        nbytes = [bands * dt.itemsize * (r1 - r0) * (c1 - c0)
                  for (r0, r1), (c0, c1) in wins]
        for a, b in frames(bounds, nbytes):
            rows = []
            for i in range(a, b):
                (wr0, wr1), (wc0, wc1) = wins[i]
                canvas = np.full((bands, wr1 - wr0, wc1 - wc0), np.nan)
                # pieces arrive in ascending raster_id: later ones overwrite
                # where valid; overlapping halo pieces of one raster hold
                # identical pixels, so tie order is value-neutral
                for j in range(bounds[i], bounds[i + 1]):
                    h, w = int(ph[j]), int(pw[j])
                    block = np.frombuffer(pdata[j], dtype=dt).reshape(
                        bands, h, w).astype(np.float64)
                    # != NaN holds everywhere: a piece without no_data
                    valid = np.isfinite(block) & (block != pnd[j])
                    r0, c0 = int(pr0[j]) - wr0, int(pc0[j]) - wc0
                    view = canvas[:, r0:r0 + h, c0:c0 + w]
                    view[...] = np.where(valid, block, view)
                data = np.where(np.isnan(canvas), hole_fill, canvas).astype(dt)
                rows.append(dict(
                    raster_id=raster_id, srs=srs, geotransform=vgt,
                    row_off=wr0, col_off=wc0, height=wr1 - wr0, width=wc1 - wc0,
                    bands=bands, dtype=str(dt), no_data=out_nd,
                    bbox_4326=lat.bbox_4326(g, to4326, wr0, wr1, wc0, wc1),
                    raster_height=vh, raster_width=vw, data=data.tobytes()))
            yield pd.DataFrame(rows)

    return stream_groups(
        chunks.mapInPandas(gen_pieces, schema=PIECE_SCHEMA), ["vkr", "vkc"],
        ["raster_id", "pr0", "pc0"], composite, CHUNK_SCHEMA)


def tiles_df(spark: SparkSession, zooms, bbox_4326=None,
             rows_per_partition: int | None = None) -> DataFrame:
    """Tile pyramid table (FIXTURES.md §3), generated DISTRIBUTED: the
    (x, y) grid per zoom comes from spark.range cross products and the
    bboxes from JVM math expressions (tilebelt formulas: linear in 3857,
    inverse-gudermannian for 4326 lat edges).  No driver-side loop — at
    z=15 the table is a billion rows and must never materialize on the
    driver."""
    E = WEB_MERCATOR_EXTENT
    per_zoom = []
    for z in zooms:
        n = 1 << z
        if bbox_4326 is None:
            x0, x1, y0, y1 = 0, n - 1, 0, n - 1
        else:
            w, s, e, nn = bbox_4326
            xa, ya = point_to_tile(np.array([w]), np.array([nn]), z)
            xb, yb = point_to_tile(np.array([e]), np.array([s]), z)
            x0, x1, y0, y1 = int(xa[0]), int(xb[0]), int(ya[0]), int(yb[0])
        nx = x1 - x0 + 1
        ny = y1 - y0 + 1
        size = 2.0 * E / n
        # scale-adaptive range width (r8, guide §2): spark.range defaults
        # to defaultParallelism partitions regardless of row count, so a
        # 245-row bench cover ran 64 near-empty tasks per pair-discovery
        # stage while a z15 cover still gets full parallelism.
        # ``rows_per_partition`` is for consumers whose per-ROW cost is
        # trivial (metadata joins: pass ~65536); the default keeps the
        # old full width because the broadcast-warp path computes a FULL
        # TILE WARP per row and needs every core even for small covers.
        if rows_per_partition:
            n_ptns = int(max(1, min(spark.sparkContext.defaultParallelism,
                                    (nx * ny + rows_per_partition - 1)
                                    // rows_per_partition)))
        else:
            n_ptns = spark.sparkContext.defaultParallelism
        # SQL-string expressions instead of Column-object composition
        # (r8): each pyspark Column operation is a py4j round trip, and
        # this function builds ~30 of them per zoom — 0.24 s per call at
        # 2 zooms, paid at every query construction.  The strings parse
        # in ONE round trip per select and produce the IDENTICAL
        # expression tree: double literals use repr() (shortest
        # round-trip form) with the D suffix, operator order is kept,
        # and the output was verified bit-identical to the Column form
        # over full tile tables at z4-z14 (0.056 s per call after).
        # DOUBLE, not INT: 2^z overflows INT at z >= 31, and the literal
        # only feeds `/`, which returns double either way
        nD = f"CAST({n} AS DOUBLE)"
        t = (
            spark.range(0, nx * ny, numPartitions=n_ptns)
            .selectExpr(
                f"CAST({z} AS INT) AS z",
                f"{x0} + CAST(id / {ny} AS BIGINT) AS x",
                f"{y0} + id % {ny} AS y")
            .selectExpr(
                "z", "x", "y",
                f"array({-E!r}D + x * {size!r}D, "
                f"({E!r}D - y * {size!r}D) - {size!r}D, "
                f"({-E!r}D + x * {size!r}D) + {size!r}D, "
                f"{E!r}D - y * {size!r}D) AS bbox_3857",
                f"array(x / {nD} * 360.0D - 180.0D, "
                f"degrees(atan(sinh({np.pi!r}D * (1 - 2 * (y + 1) / {nD})))), "
                f"(x + 1) / {nD} * 360.0D - 180.0D, "
                f"degrees(atan(sinh({np.pi!r}D * (1 - 2 * y / {nD}))))) "
                "AS bbox_4326")
        )
        per_zoom.append(t)
    out = per_zoom[0]
    for t in per_zoom[1:]:
        out = out.unionByName(t)
    return out


def _cover_cells_sql(bbox_col, z):
    """Cells (equirect z-grid) covered by a lon/lat bbox, as a Spark SQL
    array expression — JVM-side, no UDF."""
    n = 1 << z
    zp = z << 58
    x0 = f"CAST(least(greatest(floor(({bbox_col}[0] + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    x1 = f"CAST(least(greatest(floor(({bbox_col}[2] + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    y0 = f"CAST(least(greatest(floor((90.0 - {bbox_col}[3]) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    y1 = f"CAST(least(greatest(floor((90.0 - {bbox_col}[1]) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    return (
        f"flatten(transform(sequence({x0}, {x1}), cx -> "
        f"transform(sequence({y0}, {y1}), cy -> {zp}L + cx * {1 << 29}L + cy)))"
    )


def _stitch_and_warp(recs, z, x, y, method, out_size, out_srs, out_dtype,
                     turbo, warp_kwargs):
    """Stitch chunk records into one grid-aligned source window, run the
    numpy kernel once and return its (B, out_size, out_size) block.  Both
    plans warp through here: the broadcast plan passes every chunk a tile
    overlaps, the chunk-anchored plan one chunk at a time (then keeps
    only the pixels that chunk owns)."""
    first = recs[0]
    srs = int(first["srs"])
    full_gt = list(first["geotransform"])
    g = Geotransform(full_gt)
    bands = int(first["bands"])
    dt = np.dtype(first["dtype"])
    r0 = min(int(r["row_off"]) for r in recs)
    c0 = min(int(r["col_off"]) for r in recs)
    r1 = max(int(r["row_off"]) + int(r["height"]) for r in recs)
    c1 = max(int(r["col_off"]) + int(r["width"]) for r in recs)
    mosaic = np.full((bands, r1 - r0, c1 - c0), np.nan)
    for rec in recs:
        block = np.frombuffer(rec["data"], dtype=dt).reshape(
            bands, int(rec["height"]), int(rec["width"])
        )
        rr = int(rec["row_off"]) - r0
        cc = int(rec["col_off"]) - c0
        mosaic[:, rr : rr + block.shape[1], cc : cc + block.shape[2]] = block

    sub_x0, sub_y0 = g.forward(float(c0), float(r0))
    sub_gt = [float(sub_x0), full_gt[1], full_gt[2], float(sub_y0), full_gt[4], full_gt[5]]
    cs = np.array([0.0, c1 - c0, 0.0, c1 - c0])
    rs = np.array([0.0, 0.0, r1 - r0, r1 - r0])
    gx, gy = Geotransform(sub_gt).forward(cs, rs)
    in_bbox = [gx.min(), gy.min(), gx.max(), gy.max()]

    out_bbox = tile_to_bbox_3857(x, y, z) if out_srs == 3857 else tile_to_bbox_4326(x, y, z)
    no_data = first["no_data"]
    # an explicit in_no_data kwarg (e.g. a reference-parity config)
    # overrides the chunk table's per-raster sentinel
    warp_kwargs = dict(warp_kwargs)
    in_no_data = warp_kwargs.pop(
        "in_no_data",
        None if no_data is None or pd.isna(no_data) else float(no_data))
    res = warp(
        in_data=mosaic,
        in_bbox=in_bbox,
        in_geotransform=sub_gt,
        in_srs=srs,
        in_height=r1 - r0,
        in_width=c1 - c0,
        in_no_data=in_no_data,
        out_bbox=out_bbox,
        out_srs=out_srs,
        out_width=out_size,
        out_height=out_size,
        method=method,
        out_dtype=out_dtype or str(dt),
        turbo=turbo,
        **warp_kwargs,
    )
    return res["block"]


def _tile_row(raster_id, z, x, y, method_name, block, n_chunks):
    """The TILE_OUT_SCHEMA row of one warped (B, H, W) tile block."""
    return {
        "raster_id": raster_id,
        "z": int(z), "x": int(x), "y": int(y),
        "method": method_name,
        "bands": int(block.shape[0]),
        "height": int(block.shape[1]),
        "width": int(block.shape[2]),
        "dtype": str(block.dtype),
        "data": block.tobytes(),
        "n_chunks": int(n_chunks),
        "valid_px": int(np.isfinite(block.astype(np.float64)).sum()),
    }


# equirect zoom of the cover cells pair discovery equi-joins tiles and
# chunks on
BIN_Z = 6

PARTIAL_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("z", IntegerType()),
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("bands", IntegerType()),
    StructField("dtype", StringType()),
    StructField("r0", IntegerType()),   # owned-rect offset within the tile
    StructField("c0", IntegerType()),
    StructField("rh", IntegerType()),   # owned-rect height / width
    StructField("rw", IntegerType()),
    StructField("data", BinaryType()),  # cropped (B, rh, rw) payload
    StructField("mask", BinaryType()),  # packbits of the (rh, rw) owned mask
])


def warp_tiles(tiles: DataFrame, chunks: DataFrame, *, method="near",
               out_size=256, out_srs=3857, join_strategy="chunks",
               out_dtype=None, turbo=False, chunk=256, halo=8,
               out_no_data=None, chunks_meta: DataFrame | None = None,
               **warp_kwargs) -> DataFrame:
    """tiles x chunks -> warped tile rows (TILE_OUT_SCHEMA) through the
    chunk-anchored plan, the one that is safe at ANY source size: the
    pixel payload crosses exactly ONE exchange instead of being
    duplicated per matched tile (VERDICT r1 'What's wrong' #3).  Sources
    known to be small are cheaper through ``warp_tiles_broadcast``;
    ``warp_fixture_to_tiles(join_strategy='auto')`` picks by size.
    ``join_strategy`` must be 'chunks', the only plan this takes.

    Plan:
      1. payload-free pair discovery — tile METADATA x chunk METADATA via
         the cover-cell equi-join + exact bbox-overlap filter (the same
         matched set as the broadcast plan's hit test);
      2. the tile keys are grouped per chunk (collect_list of (z,x,y) —
         a few bytes per tile) and joined back to the full chunk rows:
         this is the single shuffle the payload crosses;
      3. each chunk warps each matched tile FROM ITS OWN WINDOW ONLY and
         emits the owned sub-rectangle: the out pixels whose
         inverse-projected source centers land in the chunk's halo-free
         core.  Cores partition the raster, so every out pixel has at
         most one owner; halo rows duplicated at ingest guarantee the
         owner's window sees every sample a gather needs (requires the
         resampling footprint <= halo, which holds for near/bilinear
         always and for box-stats when in-pixels-per-out-sample <= halo);
      4. a second, OUTPUT-sized shuffle merges owned rects per tile
         (cropping keeps this exchange proportional to the pyramid size,
         not tiles x chunks).

    cutline / row_start / row_end compose freely: they mask out pixels in
    OUT space, deterministically per tile, so every chunk's partial holds
    the same fill there and ownership is unaffected.  out_resolution
    changes the grid ownership runs on: samples are computed on the
    scaled (hs, ws) grid and replicated to out_size (geowarp.js:506-521),
    so a replicated block must have ONE owner — ownership is derived at
    the SAMPLE centers and expanded with the same sample map
    _materialize uses (see _chunk_partials).

    Each raster_id warps to its own tiles.  Several rasters merge into
    one pyramid through ``mosaic_chunks`` first, which composites them
    on the shared source grid.

    Proven bit-identical to the broadcast plan by
    test_warp_tiles_all_strategies_identical and
    test_warp_chunks_cutline_resolution_rowrange."""
    if join_strategy != "chunks":
        raise ValueError(
            f"warp_tiles: unknown join_strategy {join_strategy!r}; the only "
            "plan is 'chunks' (use warp_tiles_broadcast for small sources)")
    lat = _Lattice(chunk, halo)
    # ``chunks_meta`` (r8): an alternative source for the pair-discovery
    # columns, e.g. mosaic_meta_df's analytic lattice rows.  Must hold a
    # SUPERSET of the chunk table's (raster_id, row_off, col_off) keys
    # with the same bbox_4326 values (_chunk_partials raises when a
    # matched key's bbox differs: metadata cut on another lattice).
    # Superset pairs drop out of the payload inner join below, so
    # results are identical, and the chunk table itself gains a single
    # consumer (one execution per action even for computed chunk
    # sources like mosaic_chunks composites).
    # Discovery is built as batched selectExpr/expr strings (r8): the
    # Column-by-Column form cost ~10 py4j round trips per plan, and the
    # frozen bench constructs these plans per mode per trial.
    t = tiles.selectExpr(
        "z", "x", "y", "bbox_4326",
        f"explode({_cover_cells_sql('bbox_4326', BIN_Z)}) AS cell")
    c = (chunks_meta if chunks_meta is not None else chunks).selectExpr(
        "raster_id", "row_off", "col_off",
        "bbox_4326 AS chunk_bbox_4326",
        f"explode({_cover_cells_sql('bbox_4326', BIN_Z)}) AS cell")
    overlap = F.expr(
        "bbox_4326[0] <= chunk_bbox_4326[2] AND "
        "bbox_4326[2] >= chunk_bbox_4326[0] AND "
        "bbox_4326[1] <= chunk_bbox_4326[3] AND "
        "bbox_4326[3] >= chunk_bbox_4326[1]")
    pairs = (
        t.join(c, "cell").filter(overlap)
        .select("raster_id", "row_off", "col_off", "z", "x", "y",
                "chunk_bbox_4326")
    )
    # collect_SET dedupes the pairs that shared several cover cells AND
    # groups them in the SAME shuffle — the old distinct() + groupBy +
    # collect_list chain paid two metadata exchanges for one (round-6
    # fixed-cost profile: each extra tiny-stage shuffle costs ~0.2-0.5 s
    # of pure scheduling at 32 cores).  Key-set order is nondeterministic
    # but output-neutral: owned rects are disjoint per tile.
    #
    # EXPLICIT fixed-width exchange for the METADATA side (r8: the r6
    # round-robin repartition AFTER the aggregate paid a second exchange;
    # a hash repartition on the GROUP KEYS placed BEFORE the aggregate
    # satisfies the groupBy's clustered distribution, so the agg runs
    # in-place and one exchange does both jobs).  Rationale unchanged
    # from r6: the tile-key lists are a few KB, so AQE would coalesce
    # their exchange to ~1 partition and the whole per-chunk warp stage
    # would run in ONE task at any core count (measured: 2->8 cores gave
    # 1.04x before the explicit width; the r3 scaling gate catches
    # regressions).  repartition(n, cols) is user-specified — AQE never
    # coalesces it — and it moves only metadata, never pixel payload;
    # when the chunk side is too big to broadcast, the join re-exchanges
    # both sides on the join keys as before (the plan's single payload
    # crossing), so the scale path is unchanged.
    spark = chunks.sparkSession
    # width = CORE count, not spark.sql.shuffle.partitions: the partials
    # and merge stages are python-runner stages whose per-task cost is an
    # Arrow round-trip + numpy batch, so 3x-cores oversharding (the right
    # default for skewed JVM aggs, session.py) only multiplies scheduling
    # and worker round-trips (r3 leg: 96 vs 32 partitions = 122.9 s vs
    # 33.5 s; r6 fixed-cost profile: ~0.5 s on an empty-ish plan).
    n_parts = spark.sparkContext.defaultParallelism
    grouped = pairs.repartition(n_parts, "raster_id", "row_off", "col_off") \
        .groupBy("raster_id", "row_off", "col_off").agg(
            F.collect_set(F.struct("z", "x", "y")).alias("tile_keys"),
            F.collect_set("chunk_bbox_4326").alias("meta_bboxes"))
    withtiles = chunks.join(grouped, ["raster_id", "row_off", "col_off"])

    method_name = method if isinstance(method, str) else "custom"

    def gen_partials(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                rows.extend(_chunk_partials(
                    rec, method, out_size, out_srs, out_dtype, turbo,
                    lat, out_no_data, warp_kwargs))
            if rows:
                yield pd.DataFrame(rows)

    partials = withtiles.mapInPandas(gen_partials, schema=PARTIAL_SCHEMA)

    fill_out = np.nan if out_no_data is None else float(out_no_data)

    def merge(pdf, bounds):
        rid, z, x, y, nb, pdt, r0, c0, rh, rw, pdata, pmask = (
            pdf[c].to_numpy() for c in PARTIAL_SCHEMA.fieldNames())
        nb, dts = nb[bounds[:-1]], [np.dtype(d) for d in pdt[bounds[:-1]]]
        nbytes = [out_size * out_size * int(n) * dt.itemsize for n, dt in zip(nb, dts)]
        for a, b in frames(bounds, nbytes):
            rows = []
            for i in range(a, b):
                lo, hi, dt, bands = bounds[i], bounds[i + 1], dts[i], int(nb[i])
                canvas = np.full((bands, out_size, out_size), fill_out)
                for j in range(lo, hi):
                    h, w, rj, cj = int(rh[j]), int(rw[j]), int(r0[j]), int(c0[j])
                    mask = np.unpackbits(np.frombuffer(pmask[j], np.uint8),
                                         count=h * w).astype(bool).reshape(h, w)
                    block = np.frombuffer(pdata[j], dtype=dt).reshape(bands, h, w)
                    view = canvas[:, rj:rj + h, cj:cj + w]
                    view[:, mask] = block[:, mask].astype(np.float64)
                # the dtype materialization kernels.warp._materialize uses
                rows.append(_tile_row(rid[lo], z[lo], x[lo], y[lo], method_name,
                                      _cast_band(canvas, dt), hi - lo))
            yield pd.DataFrame(rows)

    # one payload exchange; owned rects are disjoint per tile, so the
    # sort's rect order only fixes the merge's input order
    return stream_groups(partials, ["raster_id", "z", "x", "y"],
                         ["raster_id", "r0", "c0"], merge, TILE_OUT_SCHEMA)


def _chunk_partials(rec, method, out_size, out_srs, out_dtype, turbo,
                    lat, out_no_data, warp_kwargs):
    """Warp every matched tile from ONE chunk's window; emit owned rects.

    Ownership: out SAMPLE centers (the scaled out_resolution grid the
    kernel actually computes on, then replicates — geowarp.js:506-521)
    are inverse-projected to global source image coords with the
    full-raster geotransform; the chunk owns samples landing in its
    halo-free core [k*chunk, (k+1)*chunk), which ``lat`` (the _Lattice
    warp_tiles was given) recovers from row_off/col_off: it enforces
    halo < chunk, so each offset names one k, and raises when the
    record's window is not on that lattice.  A ``chunks_meta`` bbox
    matched to the record (``meta_bboxes``) that differs from its own
    raises too: that metadata was cut on another lattice.  The
    sample-grid owned mask is expanded to the full out_size grid with
    the SAME kernels.warp._sample_map _materialize uses, so every pixel of a
    replicated sample block has exactly one owner.  cutline / row-range
    masking needs no ownership handling: masked pixels hold the fill
    value in every partial, owner included, which equals the
    full-raster path's fill."""
    bbox = list(rec["bbox_4326"])
    for meta in rec["meta_bboxes"]:
        if list(meta) != bbox:
            raise ValueError(
                f"chunks_meta bbox {list(meta)} of chunk (raster "
                f"{rec['raster_id']!r}, row_off {rec['row_off']}, col_off "
                f"{rec['col_off']}) differs from the chunk table's {bbox}: "
                "cut chunks_meta on the chunk table's chunk=/halo= lattice")
    own_r0, own_r1 = lat.core(int(rec["row_off"]), int(rec["height"]),
                              int(rec["raster_height"]))
    own_c0, own_c1 = lat.core(int(rec["col_off"]), int(rec["width"]),
                              int(rec["raster_width"]))

    g = Geotransform(list(rec["geotransform"]))
    srs = int(rec["srs"])
    inv = None if out_srs == srs else transformer(out_srs, srs)

    # the kernel's actual sample grid under out_resolution (identity when
    # out_resolution is the default (1, 1))
    xr, yr = warp_kwargs.get("out_resolution", (1.0, 1.0))
    ws_s, _, x_scale = _scale_integer(out_size, xr)
    hs_s, _, y_scale = _scale_integer(out_size, yr)
    # the sample each out pixel replicates, as _materialize maps it
    col_map = _sample_map(out_size, ws_s, x_scale)
    row_map = _sample_map(out_size, hs_s, y_scale)

    out = []
    for tk in rec["tile_keys"]:
        z, x, y = int(tk["z"]), int(tk["x"]), int(tk["y"])
        tb = tile_to_bbox_3857(x, y, z) if out_srs == 3857 else tile_to_bbox_4326(x, y, z)
        sw = (tb[2] - tb[0]) / out_size * x_scale
        sh = (tb[3] - tb[1]) / out_size * y_scale
        xs = tb[0] + (np.arange(ws_s) + 0.5) * sw
        ys = tb[3] - (np.arange(hs_s) + 0.5) * sh
        gx, gy = np.meshgrid(xs, ys)
        if inv is not None:
            px, py = inv.transform(gx.reshape(-1), gy.reshape(-1))
        else:
            px, py = gx.reshape(-1), gy.reshape(-1)
        cx, cy = g.inverse(np.asarray(px, dtype=np.float64),
                           np.asarray(py, dtype=np.float64))
        with np.errstate(invalid="ignore"):
            owned_s = (np.isfinite(cx) & np.isfinite(cy)
                       & (cx >= own_c0) & (cx < own_c1)
                       & (cy >= own_r0) & (cy < own_r1)).reshape(hs_s, ws_s)
        owned = owned_s[row_map][:, col_map]
        if not owned.any():
            continue
        # restrict the kernel to the owned SAMPLE-row range: rows outside
        # row_start/row_end are fill in EVERY plan (the kernel masks them
        # before any gather), so intersecting the caller's row range with
        # the owned rows is bit-identical and skips the per-pair kernel
        # work a straddling tile would otherwise duplicate per chunk —
        # a tile spanning k chunk-rows costs ~1x instead of ~k x.
        # (gather kernels only window-gather kept rows; vectorize ignores
        # the row hint and keeps its own pruning, still correct.)
        srows = np.nonzero(owned_s.any(axis=1))[0]
        eff_start = max(int(warp_kwargs.get("row_start", 0) or 0), int(srows.min()))
        caller_end = warp_kwargs.get("row_end")
        eff_end = min(hs_s if caller_end is None else int(caller_end),
                      int(srows.max()) + 1)
        # column restriction (r5): same argument as rows — owned samples
        # are a rectangle-bounded set, samples outside it are discarded
        # by the owned-mask crop, so a column-straddling chunk skips the
        # other columns' box gathers too (col range is engine-internal;
        # no caller-facing col option exists in the reference)
        scols = np.nonzero(owned_s.any(axis=0))[0]
        pair_kwargs = dict(warp_kwargs, out_no_data=out_no_data,
                           row_start=eff_start, row_end=eff_end,
                           col_start=int(scols.min()),
                           col_end=int(scols.max()) + 1)
        if method in ("vectorize", "near-vectorize", "nearest-vectorize"):
            pair_kwargs = dict(warp_kwargs, out_no_data=out_no_data)
        block = _stitch_and_warp([rec], z, x, y, method, out_size, out_srs,
                                 out_dtype, turbo, pair_kwargs)
        rr, cc = np.nonzero(owned)
        r0, r1 = int(rr.min()), int(rr.max()) + 1
        c0, c1 = int(cc.min()), int(cc.max()) + 1
        sub_mask = owned[r0:r1, c0:c1]
        out.append({
            "raster_id": rec["raster_id"],
            "z": z, "x": x, "y": y,
            "bands": int(block.shape[0]),
            "dtype": str(block.dtype),
            "r0": r0, "c0": c0, "rh": r1 - r0, "rw": c1 - c0,
            "data": np.ascontiguousarray(block[:, r0:r1, c0:c1]).tobytes(),
            "mask": np.packbits(sub_mask).tobytes(),
        })
    return out


TILE_OUT_CONFIG_SCHEMA = StructType(
    list(TILE_OUT_SCHEMA.fields) + [StructField("config", StringType())])


def warp_tiles_broadcast(tiles: DataFrame, chunk_records, variants=None, *,
                         method="near", methods=None, out_size=256,
                         out_srs=3857, out_dtype=None, turbo=False,
                         **warp_kwargs) -> DataFrame:
    """Broadcast plan: ship the (small) chunk set to every executor ONCE
    and mapInPandas over the tile table — zero shuffle of pixel payloads.
    ``chunk_records``: list of dicts with CHUNK_SCHEMA fields (data=bytes).

    Every matched tile is warped once per variant inside the same pass —
    one broadcast, one scan of the tile table, one stitch per (tile,
    variant) — instead of unioning per-variant jobs that each
    re-broadcast the same records (VERDICT r3 'wrong' #4):
      ``variants``  — (config_tag, method, warp_kwargs) triples, e.g. the
                      reference option sweep (a variant's kwargs may set
                      ``turbo``); emits TILE_OUT_SCHEMA plus a ``config``
                      tag column;
      otherwise     — one variant per entry of ``methods`` (default
                      ``[method]``), all sharing ``warp_kwargs``; emits
                      TILE_OUT_SCHEMA.
    """
    spark = tiles.sparkSession
    bc = spark.sparkContext.broadcast(chunk_records)
    tagged = variants is not None
    if not tagged:
        variants = [(None, m, warp_kwargs)
                    for m in (methods if methods is not None else [method])]
    vs = []
    for tag, m, kw in variants:
        kw = dict(kw)
        vs.append((tag, m, m if isinstance(m, str) else "custom",
                   kw.pop("turbo", turbo), kw))

    def gen(batches):
        recs = bc.value
        boxes = np.array([r["bbox_4326"] for r in recs], dtype=np.float64)
        for pdf in batches:
            rows = []
            for z, x, y, tb in zip(pdf["z"], pdf["x"], pdf["y"], pdf["bbox_4326"]):
                tb = np.asarray(tb, dtype=np.float64)
                hit = (
                    (boxes[:, 0] <= tb[2]) & (boxes[:, 2] >= tb[0])
                    & (boxes[:, 1] <= tb[3]) & (boxes[:, 3] >= tb[1])
                )
                idx = np.flatnonzero(hit)
                if idx.size == 0:
                    continue
                matched = [recs[i] for i in idx]
                for tag, m, mname, tb_v, kw in vs:
                    block = _stitch_and_warp(
                        matched, int(z), int(x), int(y), m, out_size,
                        out_srs, out_dtype, tb_v, kw)
                    row = _tile_row(matched[0]["raster_id"], z, x, y, mname,
                                    block, len(matched))
                    if tagged:
                        row["config"] = tag
                    rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        gen, schema=TILE_OUT_CONFIG_SCHEMA if tagged else TILE_OUT_SCHEMA)


# broadcast the source when it fits comfortably in an executor broadcast;
# larger sources take the chunk-anchored plan (payload moves once).
# MEASURED (BENCH/crossover_r4.json, min-of-3 interleaved, 676-tile z9
# cover, 0.8-48 MB sources): broadcast wall ~= 0.37 s + 0.054 s/MB,
# chunks ~= 2.3 s + 0.125 s/MB — no wall-clock crossover below the
# memory bound on a single JVM (broadcast "shipping" there is just
# serialization), and the chunks penalty shrinks 5.8x -> 2.8x as the
# source grows.  The cap is therefore an executor-MEMORY budget, not a
# speed crossover: past ~64 MB the broadcast plan starts costing real
# executor heap x N_executors network copies on a cluster, while the
# chunks plan's constant factor is already within 3x and falling.
AUTO_BROADCAST_BYTES = 64 << 20


def warp_fixture_to_tiles(spark, fixture, zooms, method="near", out_size=256,
                          chunk=256, halo=8, join_strategy="auto", **kw) -> DataFrame:
    """Convenience: fixture -> chunks -> covering tiles -> warp.

    join_strategy:
      'auto'          — broadcast-map when the source fits
                        AUTO_BROADCAST_BYTES, else the chunk-anchored plan
                        (ADVICE r1: pick the plan automatically)
      'broadcast_map' — zero-payload-shuffle path (source broadcast to
                        executors, mapInPandas over tiles)
      'chunks'        — chunk-anchored two-phase plan (large sources)
    """
    if join_strategy == "auto":
        join_strategy = ("broadcast_map"
                         if fixture["data"].nbytes <= AUTO_BROADCAST_BYTES
                         else "chunks")
    if join_strategy not in ("broadcast_map", "chunks"):
        raise ValueError(
            f"warp_fixture_to_tiles: unknown join_strategy {join_strategy!r}; "
            "expected 'auto', 'broadcast_map' or 'chunks'")
    inv = transformer(fixture["srs"], 4326)
    bb4326 = reproject_bbox(fixture["bbox"], inv.transform, density=16, nan_strategy="skip")
    # the chunk-anchored plan consumes the tile table only for metadata
    # pair discovery (per-row cost trivial) — size its partitions by rows;
    # the broadcast plan warps per tile row and keeps the full width
    rpp = 65536 if join_strategy == "chunks" else None
    tiles = tiles_df(spark, zooms, bbox_4326=bb4326, rows_per_partition=rpp)
    if join_strategy == "broadcast_map":
        recs = fixture_chunk_records(fixture, chunk=chunk, halo=halo)
        return warp_tiles_broadcast(tiles, recs, method=method,
                                    out_size=out_size, **kw)
    chunks = chunks_to_df(spark, fixture, chunk=chunk, halo=halo)
    return warp_tiles(tiles, chunks, method=method, out_size=out_size,
                      chunk=chunk, halo=halo, **kw)
