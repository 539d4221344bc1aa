"""Status-store reader: per-job-group stage deltas on a toy job with a
known stage count, non-zero shuffle bytes and one forced task failure."""

import pytest

from harness import StageReader, stop_session


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from geowarp_spark.session import get_spark

    # local[2, 2]: two task threads, and a failed task is retried once
    # (plain local[n] never retries), so the job still succeeds
    s = get_spark(app_name="perfbench-stages-test", master="local[2,2]", pretouch=False,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": str(tmp_path_factory.mktemp("spark"))})
    yield s
    stop_session(s)


def _toy_job(spark, group, fail):
    # nested, so the workers receive it by value instead of importing this module
    def fail_first_attempt_of_partition_0(it):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            raise RuntimeError("forced task failure")
        return it

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    rdd = sc.parallelize(range(1000), 4)
    if fail:
        rdd = rdd.mapPartitions(fail_first_attempt_of_partition_0)
    out = rdd.map(lambda x: (x % 7, 1)).reduceByKey(lambda a, b: a + b).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return dict(out)


def test_group_stats_counts_stages_shuffle_and_failed_tasks(spark):
    assert _toy_job(spark, "toy-fail", fail=True) == {k: len(range(k, 1000, 7)) for k in range(7)}
    _toy_job(spark, "toy-clean", fail=False)
    reader = StageReader(spark)
    bad, clean = reader.group_stats("toy-fail"), reader.group_stats("toy-clean")
    for st in (bad, clean):
        assert st["jobs"] == 1
        assert st["stages"] == 2                 # map side + reduce side
        assert st["shuffle_bytes"] > 0 and st["shuffle_write_records"] > 0
        assert st["busy_s"] > 0
    assert bad["failed_tasks"] == 1
    assert clean["failed_tasks"] == 0
    assert reader.group_stats("no-such-group")["stages"] == 0
