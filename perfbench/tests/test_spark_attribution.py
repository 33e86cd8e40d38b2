"""Job groups and attribution against a real Spark event log."""

from __future__ import annotations

import os

from perfbench.trace import Tracer, attribute_jobs, parse_job_group, phase_group, read_event_log


def test_each_job_lands_in_its_own_step_and_phase(tmp_path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-attribution")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(tmp_path))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        tracer = Tracer()
        tracer.pass_no = 0
        for step in ("q1", "q2"):
            tracer.step = step
            with tracer.span(step):
                with phase_group(sc, tracer, "build"):
                    spark.range(10).count()
                with phase_group(sc, tracer, "exec"):
                    spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
                        "noop"
                    ).mode("overwrite").save()
        spark.range(5).count()  # after every phase: must carry no group
        app_id = sc.applicationId
    finally:
        spark.stop()
    jobs = read_event_log(os.path.join(tmp_path, app_id))
    owner = attribute_jobs(tracer.spans, jobs)
    spans = {s.id: s for s in tracer.spans}
    tagged = [j for j in jobs if j.group]
    assert {parse_job_group(j.group)[1:] for j in tagged} == {
        ("q1", "build"), ("q1", "exec"), ("q2", "build"), ("q2", "exec")
    }
    for job in tagged:
        _, step, phase = parse_job_group(job.group)
        span = spans[owner[job.id]]
        assert (span.step, span.name) == (step, phase)
    assert jobs[-1].group is None and owner[jobs[-1].id] is None
