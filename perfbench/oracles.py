"""Oracles for the workload outputs, computed without Spark.

- pages_join: DuckDB over the same seeded points (the cell math is
  portable integer SQL, the same text the engine's oracles use); kNN is a
  DuckDB brute-force rank; rasterized tiles are painted with numpy from
  DuckDB pixel counts.
- tiff_mosaic: a serial ``kernels.warp.warp`` of a window sliced from the
  undivided (or serially decoded) raster, compared by payload CRC-32.

Every comparison raises ``CheckFailed`` on the first difference.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from harness import CheckFailed

# digest modulus: sum((cell % P) * n) catches a moved or recounted cell
P = 1_000_003


def duck(**tables: pa.Table):
    import duckdb

    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def expect_equal(what: str, actual, expected) -> None:
    if actual != expected:
        a, e = _short(actual), _short(expected)
        raise CheckFailed(f"{what}: got {a}, expected {e}")


def _short(v, n=240):
    s = repr(v)
    return s if len(s) <= n else s[:n] + "..."


def expect_rows(what: str, actual: list[tuple], expected: list[tuple]) -> None:
    """Order-insensitive row-set equality with a one-row diff message."""
    a, e = sorted(actual), sorted(expected)
    if a == e:
        return
    missing = [r for r in e if r not in set(a)][:1]
    extra = [r for r in a if r not in set(e)][:1]
    raise CheckFailed(f"{what}: {len(a)} rows vs {len(e)} expected; "
                      f"missing {missing} extra {extra}")


# ------------------------------------------------------------ pages_join


def _cell(z: int) -> str:
    from geowarp_spark.grid.tiles import cell_sql_expr

    return cell_sql_expr("lon", "lat", z)


def pages_oracles(points: pa.Table, queries: pa.Table, boxes: pa.Table,
                  *, salted_z: int, rollup_zs, knn_k: int, raster_z: int,
                  px_bits: int) -> dict:
    con = duck(pts=points, q=queries, boxes=boxes)
    out = {}
    out["salted_counts"] = tuple(int(v) for v in con.execute(f"""
        WITH c AS (SELECT {_cell(salted_z)} AS cell, count(*) AS n
                   FROM pts GROUP BY 1)
        SELECT count(*), sum(n), sum((cell % {P}) * n), sum(n * n) FROM c
    """).fetchone())
    out["pip"] = [tuple(int(v) for v in r) for r in con.execute("""
        SELECT tile_id, count(*), sum(doc_id) FROM pts JOIN boxes
          ON lon >= xmin AND lon < xmax AND lat >= ymin AND lat < ymax
        GROUP BY tile_id
    """).fetchall()]
    out["knn"] = [tuple(int(v) for v in r) for r in con.execute(f"""
        SELECT query_id, doc_id, rn FROM (
          SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY (lon - qlon) * (lon - qlon)
                            + (lat - qlat) * (lat - qlat), doc_id) AS rn
          FROM pts CROSS JOIN q) t
        WHERE rn <= {knn_k}
    """).fetchall()]
    z0 = max(rollup_zs)
    levels = []
    for z in sorted(rollup_zs, reverse=True):
        d = z0 - z
        parent = (f"(CAST({z << 58} AS BIGINT) + (((cell >> 29) & 536870911) >> {d}) "
                  f"* 536870912 + ((cell & 536870911) >> {d}))")
        levels.append(f"""SELECT {z} AS z, {parent} AS pcell, sum(n) AS n
                          FROM base GROUP BY 2""")
    out["rollup"] = [tuple(int(v) for v in r) for r in con.execute(f"""
        WITH base AS (SELECT {_cell(z0)} AS cell, count(*) AS n FROM pts GROUP BY 1),
        lv AS ({" UNION ALL ".join(levels)})
        SELECT z, count(*), sum(n), sum((pcell % {P}) * n) FROM lv GROUP BY z
    """).fetchall()]
    px = con.execute(f"""
        WITH d AS (SELECT {_cell(raster_z + px_bits)} AS fine,
                          {_cell(raster_z)} AS cell FROM pts)
        SELECT cell,
               CAST(((fine >> 29) & 536870911) - ((cell >> 29) & 536870911) * {1 << px_bits} AS INT) AS px,
               CAST((fine & 536870911) - (cell & 536870911) * {1 << px_bits} AS INT) AS py,
               count(*) AS n
        FROM d GROUP BY 1, 2, 3 ORDER BY 1
    """).fetchnumpy()
    out["rasterize"] = paint_tiles(px["cell"], px["px"], px["py"], px["n"], px_bits)
    con.close()
    return out


def paint_tiles(cell, px, py, n, px_bits: int) -> list[tuple]:
    """(cell, n_pages, crc32 of the dense uint32 count grid) per tile,
    from per-pixel counts sorted by cell."""
    size = 1 << px_bits
    cell = np.asarray(cell, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, cell[1:] != cell[:-1]])
    ends = np.r_[starts[1:], len(cell)]
    out = []
    for a, b in zip(starts, ends):
        grid = np.zeros((size, size), dtype=np.uint32)
        grid[np.asarray(py[a:b]), np.asarray(px[a:b])] = np.asarray(n[a:b])
        out.append((int(cell[a]), int(np.asarray(n[a:b]).sum()),
                    zlib.crc32(grid.tobytes())))
    return out


# --------------------------------------------------------------- rasters


def _tile_bbox_4326(x, y, z):
    """tiles_df's JVM tile-bbox formula in float64 numpy (vectorized)."""
    n = 1 << z
    return (x / n * 360.0 - 180.0,
            np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n)))),
            (x + 1) / n * 360.0 - 180.0,
            np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n)))))


class WarpOracle:
    """Expected tile set and serial per-tile payload CRCs for one raster.

    The tile set follows the engine's rule (tiles of the raster's 4326
    bbox cover whose bbox overlaps a chunk's bbox); each sampled tile is
    warped from ONE window sliced out of the undivided raster, covering
    every chunk the tile overlaps — no chunking, halos or partial merge."""

    def __init__(self, fx: dict, zooms, chunk: int = 256, halo: int = 8,
                 out_dtype: str | None = None):
        from geowarp_spark.grid.tiles import point_to_tile
        from geowarp_spark.kernels.bbox import reproject_bbox
        from geowarp_spark.kernels.proj import transformer
        from geowarp_spark.operators.warp_tiles import fixture_chunk_records

        self.fx = fx
        self.out_dtype = out_dtype or fx["dtype"]
        inv = transformer(fx["srs"], 4326)
        bb = reproject_bbox(fx["bbox"], inv.transform, density=16, nan_strategy="skip")
        recs = fixture_chunk_records(fx, chunk=chunk, halo=halo)
        self.windows = np.array([(r["row_off"], r["row_off"] + r["height"],
                                  r["col_off"], r["col_off"] + r["width"])
                                 for r in recs], dtype=np.int64)
        boxes = np.array([r["bbox_4326"] for r in recs], dtype=np.float64)
        del recs
        self.hits: dict[tuple, np.ndarray] = {}
        for z in zooms:
            xa, ya = point_to_tile(np.array([bb[0]]), np.array([bb[3]]), z)
            xb, yb = point_to_tile(np.array([bb[2]]), np.array([bb[1]]), z)
            xs, ys = np.meshgrid(np.arange(int(xa[0]), int(xb[0]) + 1),
                                 np.arange(int(ya[0]), int(yb[0]) + 1), indexing="ij")
            xs, ys = xs.ravel(), ys.ravel()
            w, s, e, n = _tile_bbox_4326(xs.astype(np.float64), ys.astype(np.float64), z)
            hit = ((boxes[None, :, 0] <= e[:, None]) & (boxes[None, :, 2] >= w[:, None])
                   & (boxes[None, :, 1] <= n[:, None]) & (boxes[None, :, 3] >= s[:, None]))
            for i in np.flatnonzero(hit.any(axis=1)):
                self.hits[(z, int(xs[i]), int(ys[i]))] = np.flatnonzero(hit[i])

    @property
    def tiles(self) -> set:
        return set(self.hits)

    def sample(self, seed: int, k: int) -> list[tuple]:
        keys = sorted(self.hits)
        rng = np.random.default_rng([int(seed), 6, len(keys)])
        return [keys[i] for i in sorted(rng.choice(len(keys), min(k, len(keys)), replace=False))]

    def warp_tile(self, key, method: str, out_size: int) -> bytes:
        from geowarp_spark.grid.tiles import tile_to_bbox_3857
        from geowarp_spark.kernels.affine import Geotransform
        from geowarp_spark.kernels.warp import warp

        fx = self.fx
        win = self.windows[self.hits[key]]
        r0, r1 = int(win[:, 0].min()), int(win[:, 1].max())
        c0, c1 = int(win[:, 2].min()), int(win[:, 3].max())
        g = Geotransform(fx["geotransform"] or Geotransform.from_bbox(
            fx["bbox"], fx["width"], fx["height"]).gt)
        x0, y0 = g.forward(float(c0), float(r0))
        sub_gt = [float(x0), g.gt[1], g.gt[2], float(y0), g.gt[4], g.gt[5]]
        gx, gy = Geotransform(sub_gt).forward(np.array([0.0, c1 - c0, 0.0, c1 - c0]),
                                              np.array([0.0, 0.0, r1 - r0, r1 - r0]))
        z, x, y = key
        res = warp(in_data=fx["data"][:, r0:r1, c0:c1].astype(np.float64),
                   in_bbox=[gx.min(), gy.min(), gx.max(), gy.max()],
                   in_geotransform=sub_gt, in_srs=fx["srs"],
                   in_height=r1 - r0, in_width=c1 - c0, in_no_data=fx["no_data"],
                   out_bbox=tile_to_bbox_3857(x, y, z), out_srs=3857,
                   out_width=out_size, out_height=out_size, method=method,
                   out_dtype=self.out_dtype)
        return res["block"].tobytes()

    def expected(self, keys, method: str, out_size: int) -> dict[tuple, int]:
        return {k: zlib.crc32(self.warp_tile(k, method, out_size)) for k in keys}


def check_tiles(what: str, rows: list[tuple], tiles: set, sample_crc: dict) -> None:
    """rows: (z, x, y, crc32) per output tile.  The tile set must equal
    the expected cover and every sampled tile's CRC its serial warp's."""
    got = {(int(z), int(x), int(y)): int(c) for z, x, y, c in rows}
    expect_equal(f"{what} tile count", len(rows), len(tiles))
    if set(got) != tiles:
        diff = sorted(set(got) ^ tiles)[:3]
        raise CheckFailed(f"{what}: tile set differs, e.g. {diff}")
    for k, crc in sample_crc.items():
        expect_equal(f"{what} tile {k} payload crc32", got[k], crc)
