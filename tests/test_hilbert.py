"""S2-style Hilbert cell encoder (VERDICT r4 next #7): a second
pure-integer grid-id scheme behind the grid abstraction, equality-tested
against brute force through the existing J5 battery and against DuckDB
through the portable unrolled SQL."""

from __future__ import annotations

import numpy as np
import pytest

from geowarp_spark.grid.hilbert import (d_to_xy, hilbert_nested_sql,
                                        latlng_to_hilbert, pack_hilbert,
                                        unpack_hilbert, xy_to_d)


def test_hilbert_roundtrip_and_adjacency():
    for z in (1, 2, 3, 5, 8, 12):
        n = 1 << z
        d = np.arange(min(n * n, 1 << 16))
        x, y = d_to_xy(z, d)
        np.testing.assert_array_equal(xy_to_d(z, x, y), d)
        # the defining Hilbert property: consecutive d are 4-neighbors
        steps = np.abs(np.diff(x)) + np.abs(np.diff(y))
        assert (steps == 1).all()
    # canonical z=1 U-shape
    assert list(zip(*d_to_xy(1, np.arange(4)))) == [(0, 0), (0, 1), (1, 1), (1, 0)]


def test_hilbert_parent_is_id_shift():
    """The scale property real S2 exploits: the z-1 parent's curve
    position is d >> 2 — pyramid rollups become pure id arithmetic (no
    coordinate unpack/repack)."""
    rng = np.random.default_rng(9)
    for z in (2, 4, 8, 14):
        n = 1 << z
        x = rng.integers(0, n, 3000)
        y = rng.integers(0, n, 3000)
        d = xy_to_d(z, x, y)
        np.testing.assert_array_equal(xy_to_d(z - 1, x >> 1, y >> 1), d >> 2)


def test_hilbert_pack_unpack():
    rng = np.random.default_rng(4)
    d = rng.integers(0, 1 << 24, 1000)
    z, back = unpack_hilbert(pack_hilbert(12, d))
    assert (z == 12).all()
    np.testing.assert_array_equal(back, d)


def test_hilbert_sql_matches_numpy_duckdb():
    """The engine-portable unrolled SQL equals the numpy kernel when run
    by DuckDB — the same text the driver oracle uses."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-90, 90, 4000)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"i": np.arange(4000), "lon": lon, "lat": lat}))
    for z in (3, 8, 12):
        sql = hilbert_nested_sql("SELECT i, lon, lat FROM pts", "lon", "lat",
                                 z, ["i", "lon", "lat"])
        got = con.execute(f"SELECT hcell FROM ({sql}) q ORDER BY i").df()[
            "hcell"].to_numpy()
        np.testing.assert_array_equal(got, latlng_to_hilbert(lat, lon, z))


def test_hilbert_spark_chain_matches_numpy(spark):
    """with_hilbert_cell (the withColumns codegen chain) == numpy."""
    from geowarp_spark.grid.hilbert import with_hilbert_cell

    rng = np.random.default_rng(6)
    rows = [(int(i), float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500)))]
    df = spark.createDataFrame(rows, "i long, lon double, lat double")
    got = {r["i"]: r["cell"] for r in
           with_hilbert_cell(df, 12).select("i", "cell").collect()}
    lon = np.array([r[1] for r in rows])
    lat = np.array([r[2] for r in rows])
    want = latlng_to_hilbert(lat, lon, 12)
    assert [got[i] for i in range(500)] == want.tolist()


def test_knn_cells_hilbert_equals_brute(spark):
    """J5 battery under the new scheme: cells path == brute force,
    including a sparse-region query that needs a wide certified ring and
    the polar-clamp regression case."""
    from geowarp_spark.operators.spatial import knn_join, knn_join_cells

    rng = np.random.default_rng(13)
    pts = [(int(i), float(lo), float(la)) for i, (lo, la) in enumerate(zip(
        np.concatenate([rng.uniform(-10, 10, 400),      # dense cluster
                        rng.uniform(-180, 180, 40)]),   # sparse tail
        np.concatenate([rng.uniform(30, 50, 400),
                        rng.uniform(-90, 90, 40)])))]
    points = spark.createDataFrame(pts, "doc_id long, lon double, lat double")
    qs = spark.createDataFrame(
        [(1, 0.0, 40.0), (2, -5.0, 35.0), (3, 120.0, -45.0), (4, 179.0, 89.0)],
        "query_id long, qlon double, qlat double")
    brute = {tuple(r) for r in knn_join(points, qs, k=5).collect()}
    hil = {tuple(r) for r in
           knn_join_cells(points, qs, k=5, z=6, ring=1, scheme="hilbert").collect()}
    assert hil == brute and len(brute) == 20
    # equirect agrees too (same grid, different ids)
    eq = {tuple(r) for r in
          knn_join_cells(points, qs, k=5, z=6, ring=1, scheme="equirect").collect()}
    assert eq == brute


def test_knn_cells_hilbert_polar_opposite_latitude(spark):
    from geowarp_spark.operators.spatial import knn_join, knn_join_cells

    pts = spark.createDataFrame(
        [(i, 10.0 + i, 85.0) for i in range(3)],
        "doc_id long, lon double, lat double")
    q = spark.createDataFrame([(0, 10.0, -85.0)],
                              "query_id long, qlon double, qlat double")
    brute = {tuple(r) for r in knn_join(pts, q, k=3).collect()}
    cells = {tuple(r) for r in
             knn_join_cells(pts, q, k=3, z=4, ring=1, scheme="hilbert").collect()}
    assert len(brute) == 3 and cells == brute

def test_cell_rollup_hilbert_equals_equirect_counts(spark):
    """cell_rollup(scheme='hilbert') aggregates the SAME grid squares as
    the equirect scheme — per-level count multisets match exactly, and
    every hilbert parent id equals pack(z, xy_to_d(z, x>>d, y>>d)) of
    its equirect twin."""
    from collections import Counter

    from geowarp_spark.grid.hilbert import pack_hilbert, xy_to_d
    from geowarp_spark.grid.tiles import unpack_cell
    from geowarp_spark.operators.spatial import cell_rollup

    rng = np.random.default_rng(21)
    pts = [(int(i), float(lo), float(la)) for i, (lo, la) in enumerate(zip(
        rng.uniform(-30, 30, 600), rng.uniform(10, 60, 600)))]
    df = spark.createDataFrame(pts, "doc_id long, lon double, lat double")
    eq = cell_rollup(df, [12, 10, 8]).collect()
    hi = cell_rollup(df, [12, 10, 8], scheme="hilbert").collect()
    for z in (12, 10, 8):
        eqz = [r for r in eq if r["z"] == z]
        hiz = {r["cell"]: r["n"] for r in hi if r["z"] == z}
        assert Counter(r["n"] for r in eqz) == Counter(hiz.values())
        # exact id correspondence
        for r in eqz:
            zz, x, y = unpack_cell(np.array([r["cell"]]))
            want = int(pack_hilbert(z, xy_to_d(z, x, y))[0])
            assert hiz[want] == r["n"]


def test_coalesce_ranges_max_ranges_one():
    """max_ranges=1 must collapse to ONE covering range (r6 ADVICE: the
    [-0:] slice used to keep every separator, violating the cap)."""
    from geowarp_spark.grid.hilbert import coalesce_ranges

    ids = np.array([1, 2, 3, 10, 11, 40, 41, 42, 100], dtype=np.int64)
    r1 = coalesce_ranges(ids, max_ranges=1)
    assert r1 == [(1, 100)]
    for cap in (2, 3, 4):
        r = coalesce_ranges(ids, max_ranges=cap)
        assert len(r) <= cap
        covered = set()
        for lo, hi in r:
            covered.update(range(lo, hi + 1))
        assert set(ids.tolist()) <= covered
