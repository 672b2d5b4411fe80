from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import eventlog


def test_parser_returns_jobs_and_stages_of_a_tiny_run(spark_with_log):
    spark, events = spark_with_log
    sc = spark.sparkContext
    spans = {}
    sc.setJobGroup("g/agg", "g/agg")
    t0 = time.time()
    # one shuffle: a map stage and a result stage in one job
    rows = (
        spark.range(0, 1000, 1, 4)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .collect()
    )
    spans["g/agg"] = (t0, time.time())
    sc.setJobGroup("g/count", "g/count")
    t0 = time.time()
    assert spark.range(0, 100, 1, 2).count() == 100
    spans["g/count"] = (t0, time.time())
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10
    spark.stop()

    (path,) = [os.path.join(events, n) for n in os.listdir(events)]
    log = eventlog.parse(path)
    agg_jobs = log.jobs_in("g/agg")
    assert agg_jobs and all(j.succeeded for j in agg_jobs)
    agg_stages = [s for j in agg_jobs for s in log.stages_of(j)]
    assert len(agg_stages) >= 2
    assert sum(s.metrics.get("shuffle_write_bytes", 0) for s in agg_stages) > 0
    assert all(s.complete_ms >= s.submit_ms > 0 for s in agg_stages)
    count_jobs = log.jobs_in("g/count")
    assert len(count_jobs) >= 1
    assert sum(s.tasks for j in count_jobs for s in log.stages_of(j)) >= 2
    # the SQL metrics of the group's executions are readable
    assert log.sql_metric("g/agg", "HashAggregate", "number of output rows") >= 10
    # spans, jobs and stages line up: the aggregate's stages fall inside it
    start, end = spans["g/agg"]
    assert all(start * 1000 - 5 <= s.submit_ms <= end * 1000 + 5 for s in agg_stages)
    assert eventlog.union_ms([(0, 2), (1, 3), (5, 6)]) == 4
