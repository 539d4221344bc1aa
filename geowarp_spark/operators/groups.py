"""One sorted-stream group step for every per-key pandas stage."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def stream_groups(df: DataFrame, keys, order, fn, schema) -> DataFrame:
    """Run ``fn`` over whole ``keys`` groups of ``df`` in one streamed pass.

    Rows are hash-partitioned on ``keys`` to ``defaultParallelism``
    partitions (an explicit width, which AQE keeps; its advisory size
    would coalesce small per-group rows to a few tasks), sorted within
    each partition on ``keys`` then ``order``, and fed to one
    mapInPandas.  ``fn(pdf)`` gets frames that hold only whole groups,
    rows in sort order, and yields frames of ``schema``: one Python call
    serves every group of an Arrow batch, not one call per group.  The
    group still open at the end of a batch carries into the next and
    goes to ``fn`` with the batch that closes it.

    Memory: a task holds one input batch (capped by the session's
    ``arrow.maxRecordsPerBatch`` and ``arrow.maxBytesPerBatch``) plus one
    carried group, and whatever ``fn`` yields at a time.
    """
    n = df.sparkSession.sparkContext.defaultParallelism

    def run(batches):
        held = None   # rows of the group the last batch left open
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            g = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
            cut = int(np.argmax(g == g[-1]))
            if cut:
                yield from fn(pdf.iloc[:cut])
            held = pdf.iloc[cut:]
        if held is not None:
            yield from fn(held)

    return (df.repartition(n, *keys).sortWithinPartitions(*keys, *order)
            .mapInPandas(run, schema=schema))
