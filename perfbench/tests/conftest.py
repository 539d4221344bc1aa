"""Benchmark self-tests: python -m pytest perfbench/tests -q (from the
checkout root).  test_stages starts a local Spark session; the others
need no Spark."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # geowarp_spark
