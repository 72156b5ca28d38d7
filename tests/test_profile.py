"""profile.measure: one record per run, read from the status store with the
Spark UI off. Counters a neighbour cannot move must repeat across reps of a
deterministic query, warm reps compile no generated class, and the caller's
job group must survive the run."""

from __future__ import annotations

import pytest

from limeqo_spark.profile import measure
from limeqo_spark.workloads import steering_workload

FIELDS = {
    "build_s", "plan_s", "exec_s", "wall_s", "rows", "jobs", "stages", "tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_write_records", "spill_bytes", "task_p50_s", "task_max_s", "codegen_compiles",
}
COUNTERS = (
    "rows", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "shuffle_write_records",
)


def test_counters_repeat_across_reps_without_the_ui(spark, sf_dir):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    build = steering_workload(spark, sf_dir)["star_5way"]
    measure(spark, build)  # cold rep: schema reads and the io plan cache
    first, second = measure(spark, build), measure(spark, build)
    for rec in (first, second):
        assert set(rec) == FIELDS
        assert all(rec[k] is not None for k in FIELDS)
        assert rec["rows"] == 5  # one row per region
        assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= rec["stages"]
        assert rec["shuffle_write_bytes"] > 0
        assert rec["codegen_compiles"] == 0  # the cold rep compiled the classes
        assert rec["executor_cpu_s"] > 0 and 0 < rec["task_p50_s"] <= rec["task_max_s"]
        assert rec["wall_s"] >= rec["exec_s"] > 0
    assert {k: first[k] for k in COUNTERS} == {k: second[k] for k in COUNTERS}
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None


def test_caller_job_group_is_restored_also_when_the_build_raises(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("outer", "caller's group", True)
    try:
        measure(spark, lambda: spark.range(10))
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"

        def broken():
            raise ValueError("no frame")

        with pytest.raises(ValueError, match="no frame"):
            measure(spark, broken)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
        assert sc.getLocalProperty("spark.job.description") == "caller's group"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
