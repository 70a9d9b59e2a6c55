"""When ``staging.stage`` submits Spark jobs."""

from __future__ import annotations

from db2pq_spark.staging import stage


def _jobs_at_call(spark, df) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    stage(df)
    return dag.nextJobId() - before


class TestLazyStage:
    def test_narrow_input_submits_no_job(self, spark):
        df = spark.range(100).selectExpr("id", "id % 7 AS k")
        assert _jobs_at_call(spark, df) == 0

    def test_exchange_input_runs_its_stage_at_the_call(self, spark):
        # under AQE the shuffle map below the checkpoint runs at the
        # call, not in the first consumer's job
        df = spark.range(100).selectExpr("id", "id % 7 AS k")
        assert _jobs_at_call(spark, df.repartition(4)) == 1
