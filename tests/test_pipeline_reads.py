"""The pipelines' parquet reads: what migrate's verification reads at
the destination, and what a many-partition table's listing costs."""

from __future__ import annotations

from hadoop_trans_spark.pipelines import MigrateJob, migrate


def test_verify_ignores_untouched_destination_partitions(spark, tmp_path):
    """The destination already holds a partition with an added column.
    Verification used to read the whole destination table, so the union
    schema failed every copied key with a schema mismatch; it now reads
    only the copied partitions."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.createDataFrame(
        [(1, 1.0, "01"), (2, 2.0, "01"), (3, 3.0, "02")],
        "id long, v double, par_dt string",
    ).write.partitionBy("par_dt").parquet(f"{src}/t")
    spark.createDataFrame(
        [(9, 9.0, "kept", "09")], "id long, v double, note string, par_dt string"
    ).write.partitionBy("par_dt").parquet(f"{dst}/t")

    report = migrate(spark, MigrateJob(src_root=src, dst_root=dst, table="t"))

    assert report.copied == ["01", "02"]
    assert report.ok and set(report.verify) == {"01", "02"}
    assert not any(a.kind == "verify_mismatch" for a in report.alerts)


def test_listing_a_forty_dir_table_runs_at_most_one_task_per_core(spark, tmp_path):
    """Past 32 partition dirs Spark lists a table with a Spark job, by
    default one task per dir; the session bounds it to one per core."""
    import uuid

    table = str(tmp_path / "t")
    spark.range(40).selectExpr("id", "cast(id as string) as k").write.partitionBy(
        "k"
    ).parquet(table)

    sc = spark.sparkContext
    group = f"listing_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "forty-dir listing")
    try:
        assert len(spark.read.parquet(table).columns) == 2  # lists, reads no rows
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    tasks = [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks
