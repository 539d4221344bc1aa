"""Oracle self-checks: every workload check accepts the oracle's own
answer and rejects it after one row or one tile byte is changed, so no
comparison is vacuous; and a failing op is counted without stopping the
ops after it.  No Spark session is needed: the checks are the workloads'
own, fed with values shaped like their actions' results."""

import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import gen
import oracles
from harness import CheckFailed, Op, Tracer, run_ops
from workloads import PagesJoin, TiffMosaic


def _checks(wl):
    return {op.name: op.check for op in wl.ops()}


def _bump(rows, col=-1):
    """Same rows with one value of the first row changed by one."""
    rows = sorted(rows)
    r = list(rows[0])
    r[col] += 1
    rows[0] = tuple(r)
    return rows


def _pages(tmp_path):
    wl = PagesJoin(None, 1, str(tmp_path), Tracer(False))
    pts = gen.pages_points(1, 4000)
    wl.expect = oracles.pages_oracles(
        pts, gen.knn_queries(1), gen.pip_boxes(), salted_z=12, rollup_zs=wl.ROLLUP_ZS,
        knn_k=wl.KNN_K, raster_z=wl.RASTER_Z, px_bits=wl.PX_BITS)
    return wl, pts


def test_pages_join_checks_reject_one_changed_row(tmp_path):
    wl, _ = _pages(tmp_path)
    checks, ex = _checks(wl), wl.expect
    for name in ("salted_counts", "pip", "knn", "rollup", "rasterize"):
        good = ex[name]
        checks[name](good)
        bad = good[:-1] + (good[-1] + 1,) if isinstance(good, tuple) else _bump(good)
        with pytest.raises(CheckFailed):
            checks[name](bad)
    with pytest.raises(CheckFailed):
        checks["knn"](ex["knn"][1:])           # one neighbour missing


def test_pages_join_oracle_sees_one_moved_point(tmp_path):
    wl, pts = _pages(tmp_path)
    lon = pts.column("lon").to_numpy().copy()
    lon[123] = (lon[123] + 7.0) % 180.0
    moved = pts.set_column(1, "lon", pa.array(lon))
    ex2 = oracles.pages_oracles(
        moved, gen.knn_queries(1), gen.pip_boxes(), salted_z=12, rollup_zs=wl.ROLLUP_ZS,
        knn_k=wl.KNN_K, raster_z=wl.RASTER_Z, px_bits=wl.PX_BITS)
    for name in ("salted_counts", "rollup", "rasterize"):
        assert ex2[name] != wl.expect[name], name


def test_tiff_checks_reject_one_changed_row_or_byte(tmp_path):
    from geowarp_spark.operators.warp_tiles import fixture_chunk_records

    wl = TiffMosaic(None, 1, str(tmp_path), Tracer(False))
    whole = gen.fixture("whole", 4326, [5.0, 40.0, 8.0, 42.0], gen.raster(1, 256, 384), no_data=0)
    wl.expect = {"ingest": [(r["raster_id"], r["row_off"], r["col_off"], r["height"],
                             r["width"], zlib.crc32(r["data"]))
                            for r in fixture_chunk_records(whole, 128, 8)]}
    wl.mosaic_oracle = wl.ov_oracle = oracles.WarpOracle(whole, (8,), 128, 8)
    keys = wl.mosaic_oracle.sample(1, 2)
    wl.expect["mosaic"] = wl.expect["overview"] = wl.mosaic_oracle.expected(keys, "near", 32)
    checks = _checks(wl)
    checks["ingest"](wl.expect["ingest"])
    with pytest.raises(CheckFailed):
        checks["ingest"](_bump(wl.expect["ingest"]))

    tiles = sorted(wl.mosaic_oracle.tiles)
    data = [wl.mosaic_oracle.warp_tile(k, "near", 32) if k in keys else b"\0"
            for k in tiles]
    pdf = pd.DataFrame({"z": [k[0] for k in tiles], "x": [k[1] for k in tiles],
                        "y": [k[2] for k in tiles], "data": data, "n_chunks": 1})
    checks["mosaic"](pdf)
    i = tiles.index(keys[0])
    flipped = bytearray(data[i])
    flipped[0] ^= 0x80
    pdf.at[i, "data"] = bytes(flipped)
    with pytest.raises(CheckFailed):
        checks["mosaic"](pdf)


class _StubContext:
    def setJobGroup(self, *a, **k):
        pass

    def cancelJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def test_failed_ops_are_counted_and_later_ops_still_run():
    def boom(ctx):
        raise RuntimeError("plan failed")

    def wrong(v):
        raise CheckFailed("mismatch")

    ran = []
    ops = [Op("raises", "operators", "x", boom, lambda h: h, lambda v: None),
           Op("mismatch", "operators", "x", lambda ctx: 1, lambda h: h, wrong),
           Op("fine", "operators", "x", lambda ctx: ran.append(1) or 2, lambda h: h,
              lambda v: None)]
    wall, res = run_ops(_StubSpark(), ops, Tracer(True), "t", {})
    assert [r.ok for r in res] == [False, False, True]
    assert "plan failed" in res[0].error and res[1].error.startswith("check:")
    assert ran == [1] and wall >= 0


def test_span_self_times_partition_the_run():
    tr = Tracer(True)
    with tr.span("run", "bench") as root:
        with tr.span("op", "operators"):
            with tr.span("call", "grid"):
                sum(range(20000))
            sum(range(20000))
    st = tr.self_times(root.id)
    assert set(st) == {"bench", "operators", "grid"}
    assert sum(st.values()) == pytest.approx(root.dur)
    assert np.all(np.array(list(st.values())) >= 0)
