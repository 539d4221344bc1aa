"""SparkSession builder tuned for the warp+tile workload.

Scale posture (SURVEY §4 "Our physical design"): AQE on with skew-join
handling (skewed join partitions re-split at runtime), Arrow
enabled for every pandas UDF hop, shuffle partitions sized to cores for
local runs (a 1000-executor cluster would set this to 2-3x total cores
via spark-submit conf, not code).

Python workers fork from ``geowarp_spark.pyworker`` instead of
``pyspark.daemon``.  Every task's ``pyspark.worker.main`` calls
``importlib.invalidate_caches()``, which on CPython 3.10-3.12 makes each
of the worker's 16 zipimporters re-read its archive's central directory:
the spark-core jar (twice, 40 + 36 ms) and ``pyspark.zip`` (6-9 ms per
sub-package prefix).  The daemon installs a wrapper that re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` stamp moved and
reads each archive once before it forks, so every worker has it from its
first task on, also for UDFs that never import this package.  Measured
on a shared 4-core host at local[4], one-partition RDD task, 8 repeats:
submit to UDF entry 70-95 ms, against 265-357 ms with the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "geowarp-spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None,
              pretouch: bool | None = None) -> SparkSession:
    """``pretouch``: pre-size and pre-touch the driver heap
    (-Xms + -XX:+AlwaysPreTouch).  Root-caused in round 5
    (BENCH/BASELINE.md): with the default tiny -Xms, the FIRST
    full-scale JVM-side stage forces the kernel to commit+zero ~14 GB
    mid-query — 20-80 s of wall landing in whatever stage runs first,
    worse at higher thread counts (the r4 "8->32 anti-scaling" was
    exactly this).  Pre-touching moves that cost to JVM startup and
    also stabilizes steady-state (no G1 region growth mid-job).  Costs
    ~10 s startup + pins the heap, so it defaults ON for bench/scaling
    entry points (SPARK_GRAFT_PRETOUCH=1) and OFF for tests.  The heap
    is -Xmx16g -Xms14g, each capped at a quarter of physical memory;
    SPARK_GRAFT_DRIVER_MEM / SPARK_GRAFT_XMS override both."""
    # set in the driver env too: in local mode python workers fork from
    # the driver-launched JVM and inherit this environment
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 3x cores, for JVM shuffles (aggregates, joins) over skewed
        # keys: over-partitioning lets the scheduler load-balance the
        # tail.  Python stages do not take this width: each repartitions
        # to defaultParallelism itself (groups.stream_groups, the warp
        # pair discovery).
        try:
            n = int(master.split("[")[1].rstrip("]")) if "[" in master else int(cpus)
        except ValueError:
            n = 32
        shuffle_partitions = max(8, 3 * n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # one BLAS/OMP thread per python worker: N workers x M-thread
        # OpenBLAS pools thrash the CPU (measured 2.5x slowdown at
        # local[32]); parallelism comes from Spark tasks, not BLAS
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    if pretouch is None:
        pretouch = os.environ.get("SPARK_GRAFT_PRETOUCH", "0") == "1"
    if pretouch:
        # UseParallelGC: G1's FIRST full-heap cycle (triggered by the
        # first full-scale shuffle's allocation burst) costs 20-35 s of
        # GC at 32 threads even on a pre-touched heap (round-5
        # A/B profile, gc_ms deltas: 34.6 s / 20.2 s in two
        # interleaved G1 legs vs 1.7 s / 4.8 s under ParallelGC, equal
        # or better steady state).  The throughput collector is the
        # right default for batch analytics; a latency-sensitive
        # deployment can override via extra_conf.
        # default heap: 16g max / 14g pre-touched, capped at a quarter
        # of physical memory so a small host is not driven out of memory
        quarter_mb = (os.sysconf("SC_PHYS_PAGES")
                      * os.sysconf("SC_PAGE_SIZE")) >> 22
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                             f"{min(16 << 10, quarter_mb)}m")
        xms = os.environ.get("SPARK_GRAFT_XMS", f"{min(14 << 10, quarter_mb)}m")
        b = (b.config("spark.driver.memory", mem)
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{xms} -XX:+AlwaysPreTouch -XX:+UseParallelGC"))
    # workers fork from geowarp_spark.pyworker (module docstring), so
    # the package root must be on their path
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    b = (b.config("spark.python.daemon.module", "geowarp_spark.pyworker")
         .config("spark.executorEnv.PYTHONPATH", path))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# HotSpot never JIT-compiles a method whose bytecode is over this many
# bytes (DontCompileHugeMethods, on by default): it runs interpreted.
HUGE_METHOD_BYTES = 8000


def max_codegen_method_bytes(df) -> int:
    """Largest bytecode method of the whole-stage-codegen classes in
    ``df``'s executed plan, AQE query stages included (run an action on
    ``df`` first, so the walk sees AQE's final plan); 0 if nothing is
    code-generated.  A stage whose largest method exceeds
    HUGE_METHOD_BYTES runs that method interpreted."""
    cg = df.sparkSession._jvm.org.apache.spark.sql.catalyst.expressions \
        .codegen.CodeGenerator
    todo, best = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        p = todo.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif name == "ReusedExchangeExec":
            todo.append(p.child())
        elif name == "WholeStageCodegenExec":
            stats = cg.compile(p.doCodeGen()._2())._2()
            best = max(best, int(stats.maxMethodCodeSize()))
        children = p.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return best
