"""Seeded generators: one seed gives byte-identical inputs; another seed
gives different values with the same size and shape."""

import numpy as np
import pytest

import gen
from harness import Tracer
from workloads import tiff_corpus


def _tables_equal(a, b):
    return a.schema == b.schema and a.equals(b)


@pytest.mark.parametrize("make", [
    lambda s: gen.pages_points(s, 5000),
    lambda s: gen.knn_queries(s),
])
def test_tables_same_seed_identical_other_seed_differs(make):
    a, b, c = make(7), make(7), make(8)
    assert _tables_equal(a, b)
    assert a.schema == c.schema and a.num_rows == c.num_rows
    assert not _tables_equal(a, c)


def test_pages_cluster_share_is_fixed():
    x0, y0, x1, y1 = gen.CLUSTER_BOX
    for seed in (1, 2, 3):
        t = gen.pages_points(seed, 10_000)
        lon, lat = t.column("lon").to_numpy(), t.column("lat").to_numpy()
        inside = (lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)
        # the dense share exactly, plus the few sparse points that land in the box
        assert 7000 <= inside.sum() <= 7000 + 0.3 * 10_000 * 400 / 64800 * 3


def test_raster_same_seed_identical_other_seed_differs():
    a, b, c = gen.raster(3, 300, 200), gen.raster(3, 300, 200), gen.raster(4, 300, 200)
    assert a.shape == c.shape == (3, 300, 200) and a.dtype == c.dtype == np.uint8
    assert np.array_equal(a, b) and not np.array_equal(a, c)
    assert a.min() >= 20 and a.max() <= 240


def test_tiff_corpus_bytes_depend_only_on_seed(tmp_path):
    a = tiff_corpus(5, str(tmp_path / "a"), Tracer(False))["files"]
    b = tiff_corpus(5, str(tmp_path / "b"), Tracer(False))["files"]
    c = tiff_corpus(6, str(tmp_path / "c"), Tracer(False))["files"]
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k] == b[k] for k in a)
    assert any(a[k] != c[k] for k in a)
    assert (tmp_path / "a" / "jpeg" / "whole.tif").read_bytes() == a["jpeg/whole.tif"]
