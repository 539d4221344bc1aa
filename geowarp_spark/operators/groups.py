"""One sorted-stream group step for every per-key pandas stage."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# upper bound on the payload behind one yielded output frame
_FRAME_BYTES = 64 << 20


def run_bounds(pdf: pd.DataFrame, keys) -> np.ndarray:
    """Start row of each ``keys`` run of the key-sorted ``pdf``, then
    ``len(pdf)``: run i is rows ``bounds[i]:bounds[i + 1]``.  NULL keys
    form one run (``dropna=False``); an empty frame gives ``[0]``."""
    g = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
    return np.r_[np.flatnonzero(np.diff(g, prepend=-1)), len(g)]


def frames(bounds, nbytes):
    """Yield ``(a, b)``: groups ``a:b`` of ``bounds`` make one output
    frame of at most ``_FRAME_BYTES``, given each group's output bytes
    ``nbytes`` (scalar or per group); a larger group goes out alone."""
    end = np.cumsum(np.r_[0, np.broadcast_to(nbytes, len(bounds) - 1)])
    a = 0
    while a + 1 < len(end):
        b = max(a + 1, int(np.searchsorted(end, end[a] + _FRAME_BYTES, "right")) - 1)
        yield a, b
        a = b


def stream_groups(df: DataFrame, keys, order, fn, schema) -> DataFrame:
    """Run ``fn`` over whole ``keys`` groups of ``df`` in one streamed pass.

    Rows are hash-partitioned on ``keys`` to ``defaultParallelism``
    partitions (an explicit width, which AQE keeps; its advisory size
    would coalesce small per-group rows to a few tasks), sorted within
    each partition on ``keys`` then ``order``, and fed to one
    mapInPandas.  ``fn(pdf, bounds)`` gets frames that hold only whole
    groups, rows in sort order, with their ``run_bounds``, and yields
    frames of ``schema`` cut by ``frames``: one Python call serves every
    group of an Arrow batch, and no consumer splits groups again.  The
    group still open at the end of a batch carries into the next and
    goes to ``fn`` with the batch that closes it.

    Memory: a task holds one input batch (capped by the session's
    ``arrow.maxRecordsPerBatch`` and ``arrow.maxBytesPerBatch``) plus one
    carried group, and one output frame: ``_FRAME_BYTES`` (64 MB), or
    one group that alone is larger.
    """
    n = df.sparkSession.sparkContext.defaultParallelism

    def run(batches):
        held = None   # rows of the group the last batch left open
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            bounds = run_bounds(pdf, keys)
            cut = int(bounds[-2])
            if cut:
                yield from fn(pdf.iloc[:cut], bounds[:-1])
            held = pdf.iloc[cut:]
        if held is not None:
            yield from fn(held, np.array([0, len(held)]))

    return (df.repartition(n, *keys).sortWithinPartitions(*keys, *order)
            .mapInPandas(run, schema=schema))
