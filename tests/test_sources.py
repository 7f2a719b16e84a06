"""Source-catalog contracts: fixture loading must be environment-
independent — in particular, events timestamps are UTC instants no
matter what spark.sql.session.timeZone a consumer session runs — and
a table's footer schema is read once per file version, not per query.
Driver-side frames are Arrow-built local relations."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from causality_between_elements_based_on_time_series_data_spark.ml.amtl import AMTLTrainer
from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
    load_table,
    local_frame,
)


def _instant_range(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    r = df.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
        F.count("*").alias("n"),
    ).collect()[0]
    return r.mn, r.mx, r.n


def test_events_ts_instants_are_session_timezone_independent(spark, sf_dir):
    """The NTZ->TIMESTAMP bridge in load_table must preserve instants
    under a foreign session timezone (a plain cast would shift every
    event by the tz offset; round 5 shipped exactly that assumption,
    gated only by a comment)."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    utc = _instant_range(spark, sf_dir)
    try:
        for tz in ("America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert _instant_range(spark, sf_dir) == utc, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def _jobs_started(spark, group, fn):
    """Spark job ids that ``fn()`` started, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_load_table_starts_no_job(spark, sf_dir, tmp_path):
    """Only the first read of a file version infers its footer schema in
    a Spark job; every later read of the table is job-free."""
    src = spark.range(3).selectExpr("CAST(id AS INT) AS r_regionkey", "'r' AS r_name")
    src.write.parquet(str(tmp_path / "region.parquet"))
    fresh = _jobs_started(spark, "load_table_first", lambda: load_table(spark, str(tmp_path), "region"))
    assert fresh, "a first read infers the footer schema in a job"
    for name in ("orders", "events"):
        load_table(spark, sf_dir, name)
    again = _jobs_started(
        spark,
        "load_table_again",
        lambda: [load_table(spark, d, n) for d, n in ((str(tmp_path), "region"), (sf_dir, "orders"), (sf_dir, "events"))],
    )
    assert again == []


def test_rewritten_table_shows_its_new_schema(spark, tmp_path):
    """A path overwritten in the same session is a new file version: its
    new column must be visible, not masked by the first read's schema."""
    path = str(tmp_path / "region.parquet")
    base = spark.range(3).selectExpr("CAST(id AS INT) AS r_regionkey", "'r' AS r_name")
    base.write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    base.withColumn("r_comment", F.lit("c")).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert {r.r_comment for r in df.collect()} == {"c"}


def test_b_matrix_is_a_local_table_scan(spark):
    """The B matrix is built from driver rows without a Python RDD."""
    trainer = AMTLTrainer()
    trainer.tasks = ["a", "b", "c"]
    trainer.B = np.arange(9, dtype=np.float64).reshape(3, 3) / 7
    df = trainer.b_matrix_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        (s, d, round(float(trainer.B[i, j]), 6))
        for i, s in enumerate(trainer.tasks)
        for j, d in enumerate(trainer.tasks)
        if i != j
    )


def test_local_frame_round_trips_nulls_arrays_and_no_rows(spark):
    ddl = "task string, w double, v array<double>"
    rows = [("a", None, [1.0, 2.5]), ("b", 0.5, None), ("c", 1.5, [])]
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.orderBy("task").collect()] == rows
    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.collect() == []
