"""`plans.iterate` lineage control: a loop whose round count is a multiple
of the checkpoint cadence returns a checkpoint, so the caller may run any
number of actions on the result without re-running a round."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark.plans.iterate import iterate


def test_iterate_returns_checkpoint_and_rounds_run_once(spark):
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(v):
        calls.add(1)
        return v + 1

    state = spark.range(4).toDF("v")
    out = iterate(
        state, lambda s, i: s.select(bump("v").alias("v")), max_iter=2,
        checkpoint_every=2,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString().strip()
    assert plan.startswith("LogicalRDD") and "\n" not in plan, plan
    ran = calls.value
    assert ran == 8  # 2 rounds × 4 rows, inside the eager checkpoint
    assert out.count() == 4
    assert sorted(r.v for r in out.collect()) == [2, 3, 4, 5]
    assert calls.value == ran  # neither action re-ran a round
