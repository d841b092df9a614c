"""The event-log folder on a tiny ``groupBy`` with a pinned plan.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
from recorder import Recorder  # noqa: E402


def test_groupby_job_count_and_shuffle(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    builder = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
    )
    for k, v in eventlog.event_log_conf(str(log_dir)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        rec = Recorder(spark.sparkContext)
        df = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7)
        with rec.call(0, "groupby"):
            with rec.fn("plans.test.tiny"):
                rows = df.groupBy("k").count().collect()
        assert len(rows) == 7
    finally:
        spark.stop()

    jobs = [j for j in eventlog.read_jobs(eventlog.find_log(str(log_dir)))
            if j.span == "0:groupby"]
    # non-adaptive hash aggregate + collect: exactly one job, two stages
    assert len(jobs) == 1
    assert jobs[0].fn == "plans.test.tiny"
    m = eventlog.fold(jobs, wall_s=1.0, cores=2)
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 4 + 2
    assert m["spark.shuffle_write_bytes"] > 0
    assert m["spark.shuffle_read_bytes"] == m["spark.shuffle_write_bytes"]


def test_covered_seconds_merges_overlaps():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (10.0, 20.0)]
    assert eventlog.covered_seconds(spans, 0.0, 12.0) == 3.0 + 1.0 + 2.0
    assert eventlog.covered_seconds([], 0.0, 1.0) == 0.0
