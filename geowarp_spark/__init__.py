"""geowarp_spark — a PySpark-native distributed raster<->vector warp + tiling engine.

From-scratch re-creation of the query/data-processing capabilities of
DanielJDufour/geowarp (reference at /root/reference, geowarp.js) as an
idiomatic Spark engine:

- pure-numpy warp kernels (near / bilinear / box-statistics / vectorize)
  with bit-parity semantics pinned to the reference (half-up rounding,
  mode-tie-smallest, bilinear invalid-corner fallbacks, degenerate-window
  expansion) — see ``geowarp_spark.kernels.warp``;
- a relational shell: tile pyramid + raster-chunk DataFrames, broadcast
  overlap joins, chunk-anchored warps whose per-tile merge is one sorted
  ``mapInPandas`` stream (``operators.groups.stream_groups``) — see
  ``geowarp_spark.operators.warp_tiles``;
- web-scale graft: Common-Crawl-style pages table, H3/S2-style cell
  encoding (pure-integer XYZ quadkey cells — no native deps), PIP + kNN
  spatial joins, dedup / text-quality / similarity operators — see
  ``geowarp_spark.operators``.

All hot loops are vectorized numpy inside Arrow-batched pandas UDFs; no
per-row Python anywhere (BASELINE.json input_hint).
"""

__version__ = "0.1.0"
