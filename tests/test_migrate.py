"""Migrate pipeline tests — each named reference semantic (SURVEY §2A)
gets a dedicated test. Fixture warehouse: lineitem partitioned by
par_dt=yyyyMM of l_shipdate (FIXTURES.md layout), built once per session.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_trans_spark.catalog import table
from hadoop_trans_spark.pipelines import MigrateJob, migrate
from hadoop_trans_spark.pipelines.migrate import (
    discover_partitions,
    enumerate_partition_keys,
)
from hadoop_trans_spark.pipelines.verify import verify


@pytest.fixture(scope="module")
def src_warehouse(spark, smoke_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("src_wh"))
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.write.partitionBy("par_dt").parquet(f"{root}/lineitem")
    return root


def test_semantic1_inclusive_date_range(spark):
    """Both endpoints included (`CommonUtils.java:157` i <= days)."""
    keys = enumerate_partition_keys(spark, "1996-01-31", "1996-03-01", "yyyyMM")
    assert keys == ["199601", "199602", "199603"]
    days = enumerate_partition_keys(spark, "1996-02-27", "1996-03-02", "yyyyMMdd")
    assert days == ["19960227", "19960228", "19960229", "19960301", "19960302"]


def test_semantic2_keys_deduped_sorted(spark):
    """Coarse pattern over a long range dedups + sorts (TreeSet,
    `CommonUtils.java:152`)."""
    keys = enumerate_partition_keys(spark, "1996-12-01", "1996-12-31", "yyyyMM")
    assert keys == ["199612"]
    keys = enumerate_partition_keys(spark, "1997-03-15", "1996-11-02", "yyyyMM")
    assert keys == []  # empty range → no work, no error


def test_migrate_copies_range_and_verifies(spark, src_warehouse, tmp_path):
    dst = str(tmp_path / "dst_wh")
    job = MigrateJob(
        src_root=src_warehouse, dst_root=dst, table="lineitem",
        start="1996-01-01", end="1996-12-31",
    )
    report = migrate(spark, job)
    assert report.copied == [f"1996{m:02d}" for m in range(1, 13)]
    assert report.ok and all(v.equal for v in report.verify.values())
    # Partition layout on disk mirrors the reference's pn=value dirs.
    assert discover_partitions(spark, f"{dst}/lineitem", "par_dt") == report.copied
    # Row counts match source for the migrated range.
    src_n = (
        spark.read.parquet(f"{src_warehouse}/lineitem")
        .where(F.col("par_dt").between("199601", "199612"))
        .count()
    )
    assert spark.read.parquet(f"{dst}/lineitem").count() == src_n


def test_semantic3_conflict_skips_and_continues(spark, src_warehouse, tmp_path):
    """Dest conflict → skip that partition, alert, continue with the rest
    (`TransTablePartition.java:126-131`)."""
    dst = str(tmp_path / "dst_wh")
    job1 = MigrateJob(src_warehouse, dst, "lineitem", start="1996-03-01", end="1996-03-31")
    assert migrate(spark, job1).copied == ["199603"]

    job2 = MigrateJob(src_warehouse, dst, "lineitem", start="1996-02-01", end="1996-04-30")
    report = migrate(spark, job2)
    assert report.conflicts == ["199603"]
    assert report.copied == ["199602", "199604"]
    assert any(a.kind == "conflict" and a.partition == "199603" for a in report.alerts)
    # No duplication of the conflicting partition.
    n_03 = spark.read.parquet(f"{dst}/lineitem").where(F.col("par_dt") == "199603").count()
    src_03 = spark.read.parquet(f"{src_warehouse}/lineitem").where(F.col("par_dt") == "199603").count()
    assert n_03 == src_03


def test_conflict_mode_fail_raises(spark, src_warehouse, tmp_path):
    dst = str(tmp_path / "dst_wh")
    migrate(spark, MigrateJob(src_warehouse, dst, "lineitem", start="1996-05-01", end="1996-05-31"))
    with pytest.raises(FileExistsError):
        migrate(
            spark,
            MigrateJob(src_warehouse, dst, "lineitem", start="1996-05-01", end="1996-05-31", mode="fail"),
        )


def test_conflict_mode_overwrite_replaces(spark, src_warehouse, tmp_path):
    dst = str(tmp_path / "dst_wh")
    migrate(spark, MigrateJob(src_warehouse, dst, "lineitem", start="1996-06-01", end="1996-06-30"))
    report = migrate(
        spark,
        MigrateJob(src_warehouse, dst, "lineitem", start="1996-06-01", end="1996-06-30", mode="overwrite"),
    )
    assert report.copied == ["199606"]
    assert report.ok  # overwrite left exactly one copy, verified


def test_missing_source_partition_skipped(spark, src_warehouse, tmp_path):
    """R8: requested-but-absent source partitions are skipped with an alert
    (`TransTablePartition.java:119`), not errors."""
    dst = str(tmp_path / "dst_wh")
    report = migrate(
        spark,
        MigrateJob(src_warehouse, dst, "lineitem", start="2030-01-01", end="2030-02-28"),
    )
    assert report.copied == []
    assert report.skipped_missing == ["203001", "203002"]
    assert all(a.kind == "missing_source" for a in report.alerts)


def test_whole_table_migration(spark, src_warehouse, tmp_path):
    """TransWholeTablePartition: no range → discover + copy everything."""
    dst = str(tmp_path / "dst_wh")
    report = migrate(spark, MigrateJob(src_warehouse, dst, "lineitem"))
    assert report.copied == discover_partitions(spark, f"{src_warehouse}/lineitem", "par_dt")
    assert report.ok


def test_semantic4_verify_symmetric(spark, smoke_dir):
    """Verification detects src-only AND dst-only rows (the reference only
    caught src-side, SURVEY §2A note 4)."""
    li = table(spark, smoke_dir, "lineitem").limit(100).cache()
    dst_missing = li.where(F.col("l_linenumber") != 1)  # dst lost rows
    rep = verify(li, dst_missing)
    assert not rep.equal and rep.src_only > 0 and rep.dst_only == 0

    dst_extra = li.unionAll(li.limit(3))  # dst gained rows
    rep = verify(li, dst_extra)
    assert not rep.equal and rep.dst_only == 3

    rep = verify(li, li)
    assert rep.equal


def test_zero_padded_partition_values_round_trip_exactly(spark, tmp_path):
    """Partition values are identity, not numbers (r12 hostile-layout
    probe find): with default type inference, par_dt=01/02 were
    silently RENAMED to par_dt=1/2 at the destination and a colliding
    par_dt=1 was MERGED into the same output dir — and the per-key
    verification, grouping both sides by the same inferred int, stayed
    green through it. migrate now reads partitioned layouts with
    inference off (raw_partition_values); the destination layout must
    be byte-identical and every source key individually verified."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(1, "01"), (2, "02"), (3, "1")], "id long, par_dt string"
    )
    df.write.partitionBy("par_dt").parquet(f"{src}/t")

    rep = migrate(
        spark, MigrateJob(src_root=src, dst_root=dst, table="t", partition_name="par_dt")
    )
    assert rep.ok
    assert rep.copied == ["01", "02", "1"]
    assert sorted(
        d for d in os.listdir(f"{dst}/t") if d.startswith("par_dt=")
    ) == ["par_dt=01", "par_dt=02", "par_dt=1"]
    assert set(rep.verify) == {"01", "02", "1"}
    assert all(v.equal for v in rep.verify.values())
    # The session conf is restored after the pipeline run.
    assert (
        spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
        == "true"
    )


def test_null_partition_rows_survive_migration(spark, tmp_path):
    """Hive's NULL partition (__HIVE_DEFAULT_PARTITION__) reads back
    with a NULL key, never the sentinel string — so the copy filter's
    isin matched nothing: migrate REPORTED the partition copied, moved
    zero rows, and verification (keyed the same way) stayed green
    through the loss (r12 hostile-layout probe find). The copy
    predicate now carries an explicit isNull branch and verification
    canonicalizes NULL keys onto the sentinel."""
    import os

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(1, "01"), (2, None), (3, "")], "id long, par_dt string"
    )
    df.write.partitionBy("par_dt").parquet(f"{src}/t")

    rep = migrate(
        spark, MigrateJob(src_root=src, dst_root=dst, table="t", partition_name="par_dt")
    )
    assert rep.ok
    assert rep.copied == ["01", "__HIVE_DEFAULT_PARTITION__"]
    assert sorted(
        d for d in os.listdir(f"{dst}/t") if d.startswith("par_dt=")
    ) == ["par_dt=01", "par_dt=__HIVE_DEFAULT_PARTITION__"]
    assert set(rep.verify) == {"01", "__HIVE_DEFAULT_PARTITION__"}
    assert all(v.equal for v in rep.verify.values())
    # All three rows arrived ('' collapses into the NULL partition at
    # WRITE time on the source side — a property of the Hive layout
    # itself, not of the migration).
    back = spark.read.parquet(f"{dst}/t")
    assert back.count() == 3


def test_schema_evolved_partition_columns_survive_migration(spark, tmp_path):
    """A partition that GAINED a column (schema evolution — the normal
    life of a long-lived warehouse table) had that column silently
    dropped by the sampled-file schema on the copy read, and
    verification, reading the source the same way, stayed green
    through the loss (r12 probe find, the third verification-blind
    loss class). migrate now reads with mergeSchema: the destination
    carries the superset schema, older partitions hold NULLs for the
    newer columns, and the evolved column's data arrives intact."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    a = spark.createDataFrame([(1, 10.0, "01")], "id long, v double, par_dt string")
    b = spark.createDataFrame(
        [(2, 20.0, "extra", "02")], "id long, v double, note string, par_dt string"
    )
    a.write.partitionBy("par_dt").parquet(f"{src}/t")
    b.write.mode("append").partitionBy("par_dt").parquet(f"{src}/t")

    rep = migrate(
        spark, MigrateJob(src_root=src, dst_root=dst, table="t", partition_name="par_dt")
    )
    assert rep.ok and rep.copied == ["01", "02"]
    back = spark.read.option("mergeSchema", "true").parquet(f"{dst}/t")
    assert "note" in back.columns
    rows = {r.id: r.note for r in back.collect()}
    assert rows == {1: None, 2: "extra"}


def _corrupt_one_file(path_dir, mode="truncate"):
    """Corrupt one parquet data file inside a partition dir; returns its
    path. truncate cuts the footer off; garbage flips the magic."""
    import os

    files = sorted(
        f
        for f in os.listdir(path_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    target = os.path.join(path_dir, files[0])
    data = open(target, "rb").read()
    if mode == "truncate":
        open(target, "wb").write(data[: max(4, len(data) // 2)])
    else:
        open(target, "wb").write(data[:-4] + b"JUNK")
    return target


def test_corrupt_footer_quarantines_file_not_job(spark, smoke_dir, tmp_path):
    """r13 footer probe (VERDICT r12 item 5): a parquet file with a
    truncated/garbage footer inside a migrated partition must cost ONE
    quarantined file — excluded from the copy, named in the report,
    alerted — not the whole distributed copy job, and not a silent
    skip. Verification reads the source through the same healthy file
    list, so it proves the copy moved everything it was allowed to
    read (green) while the quarantine entries carry the loss."""
    src = str(tmp_path / "src_wh")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    # two files per partition so the healthy sibling must survive
    li.repartition(2).write.partitionBy("par_dt").parquet(f"{src}/lineitem")
    bad = _corrupt_one_file(f"{src}/lineitem/par_dt=199603", "truncate")
    bad2 = _corrupt_one_file(f"{src}/lineitem/par_dt=199604", "garbage")

    dst = str(tmp_path / "dst_wh")
    job = MigrateJob(
        src_root=src, dst_root=dst, table="lineitem",
        start="1996-01-01", end="1996-12-31",
    )
    report = migrate(spark, job)  # must not raise
    assert report.copied == [f"1996{m:02d}" for m in range(1, 13)]
    q_paths = {q["path"].rsplit("/", 1)[-1] for q in report.quarantined}
    assert q_paths == {bad.rsplit("/", 1)[-1], bad2.rsplit("/", 1)[-1]}
    assert all(q["reason"] for q in report.quarantined)
    assert sum(1 for a in report.alerts if a.kind == "corrupt_file") == 2
    # verification: green on the healthy subset (reconciled read)
    assert all(v.equal for v in report.verify.values())
    # the healthy sibling files' rows arrived; only the corrupt files'
    # rows are missing — each corrupted partition was written as 2
    # roughly-equal files, so dst holds a strict non-empty subset of
    # its source rows, and exactly the source count everywhere else
    per_part_src = dict(
        li.groupBy("par_dt").count().collect()
    )
    per_part_dst = dict(
        spark.read.parquet(f"{dst}/lineitem")
        .groupBy(F.col("par_dt").cast("string").alias("par_dt"))
        .count()
        .collect()
    )
    for k, n_src in per_part_src.items():
        if not k.startswith("1996"):
            continue  # outside the migrated range
        if k in ("199603", "199604"):
            assert 0 < per_part_dst.get(k, 0) < n_src
        else:
            assert per_part_dst.get(k) == n_src


def test_quarantine_read_keeps_out_of_window_columns(spark, tmp_path):
    """ADVICE r13: when files are quarantined, the copy reads an
    explicit healthy-file list restricted to the to_copy partitions —
    mergeSchema over only those files would DROP a column that exists
    solely in a partition outside the copy set (the r12
    schema-evolution class, reintroduced by the quarantine path). The
    union schema must come from all healthy files table-wide: copied
    rows carry the out-of-window column as NULLs, exactly like the
    normal whole-directory read."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    a = spark.createDataFrame(
        [(1, 10.0, "199601"), (2, 20.0, "199601")],
        "id long, v double, par_dt string",
    )
    b = spark.createDataFrame(
        [(3, 30.0, "evolved", "199602")],
        "id long, v double, note string, par_dt string",
    )
    # two files in the migrated partition so a healthy sibling survives
    a.repartition(2).write.partitionBy("par_dt").parquet(f"{src}/t")
    b.write.mode("append").partitionBy("par_dt").parquet(f"{src}/t")
    _corrupt_one_file(f"{src}/t/par_dt=199601", "truncate")

    report = migrate(
        spark,
        MigrateJob(
            src_root=src, dst_root=dst, table="t",
            start="1996-01-01", end="1996-01-31",  # 199601 only
        ),
    )
    assert report.copied == ["199601"]
    assert len(report.quarantined) == 1
    assert all(v.equal for v in report.verify.values())
    back = spark.read.option("mergeSchema", "true").parquet(f"{dst}/t")
    # the out-of-window 199602-only column survives as NULLs
    assert "note" in back.columns
    assert [r.note for r in back.collect()] == [None]


def test_clean_source_skips_quarantine_path(spark, src_warehouse, tmp_path):
    """No corrupt files → empty quarantine, no corrupt_file alerts, and
    results identical to a scan-disabled run (the normal whole-dir read)."""
    for flag, sub in ((True, "a"), (False, "b")):
        dst = str(tmp_path / sub)
        report = migrate(
            spark,
            MigrateJob(
                src_root=src_warehouse, dst_root=dst, table="lineitem",
                start="1996-01-01", end="1996-06-30", quarantine_scan=flag,
            ),
        )
        assert report.quarantined == []
        assert not any(a.kind == "corrupt_file" for a in report.alerts)
        assert report.ok and report.copied == [
            f"1996{m:02d}" for m in range(1, 7)
        ]


def test_corrupt_file_outside_range_is_neither_copied_nor_quarantined(
    spark, smoke_dir, tmp_path
):
    """The source read's footer pass covers the WHOLE table (mergeSchema),
    so a truncated file in a partition outside the migrated range used
    to fail the run with a Py4JJavaError: the old candidate-only health
    scan saw nothing wrong. Now the failed read falls back to the
    table-wide scan: the out-of-range file is left out of the read, the
    copy and the quarantine list (the copy never touched it), and the
    range copies and verifies in full."""
    src = str(tmp_path / "src_wh")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.repartition(2).write.partitionBy("par_dt").parquet(f"{src}/lineitem")
    _corrupt_one_file(f"{src}/lineitem/par_dt=199607", "truncate")

    dst = str(tmp_path / "dst_wh")
    report = migrate(
        spark,
        MigrateJob(src, dst, "lineitem", start="1996-01-01", end="1996-03-31"),
    )  # must not raise
    assert report.copied == ["199601", "199602", "199603"]
    assert report.quarantined == []
    assert not any(a.kind == "corrupt_file" for a in report.alerts)
    assert report.ok and set(report.verify) == set(report.copied)
    assert discover_partitions(spark, f"{dst}/lineitem", "par_dt") == report.copied
    n_src = li.where(F.col("par_dt").between("199601", "199603")).count()
    assert spark.read.parquet(f"{dst}/lineitem").count() == n_src


def test_clean_source_never_runs_the_file_scan(
    spark, src_warehouse, tmp_path, monkeypatch
):
    """On a clean source the JVM footer pass of the source read is the
    whole health check: the per-file pyarrow scan (a Python-worker job)
    must not run at all."""
    import importlib

    # the package re-exports the function under the module's name
    migrate_mod = importlib.import_module("hadoop_trans_spark.pipelines.migrate")

    def scan_must_not_run(*_args, **_kwargs):
        raise AssertionError("per-file health scan ran on a clean source")

    monkeypatch.setattr(migrate_mod, "scan_parquet_health", scan_must_not_run)
    report = migrate(
        spark,
        MigrateJob(
            src_warehouse, str(tmp_path / "dst"), "lineitem",
            start="1996-01-01", end="1996-02-29",
        ),
    )
    assert report.ok and report.copied == ["199601", "199602"]
    assert report.quarantined == []


def test_enumerate_partition_keys_runs_one_spark_job(spark):
    """The day range expands, formats, dedups and sorts inside one array
    expression over one row: exactly one Spark job."""
    import uuid

    sc = spark.sparkContext
    group = f"enumerate_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "enumerate_partition_keys")
    try:
        keys = enumerate_partition_keys(spark, "1995-11-15", "1996-02-10", "yyyyMM")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert keys == ["199511", "199512", "199601", "199602"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_corrupt_file_quarantined_when_session_ignores_corrupt_files(
    spark, smoke_dir, tmp_path
):
    """With spark.sql.files.ignoreCorruptFiles=true in the session, Spark
    drops a file it cannot parse from the schema pass and from the scan
    without a word, so the footer pass would not fail and the corrupt
    file would vanish from the copy unreported. migrate's source read
    pins the option off: the file is still quarantined and named.

    The file's .crc sidecar is removed so that Spark reads the bad bytes
    as a corrupt parquet file (a bad upload on a store without client
    checksums), not as a checksum error, which it never ignores."""
    import os

    src = str(tmp_path / "src_wh")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.repartition(2).write.partitionBy("par_dt").parquet(f"{src}/lineitem")
    bad = _corrupt_one_file(f"{src}/lineitem/par_dt=199602", "garbage")
    d, name = os.path.split(bad)
    os.remove(os.path.join(d, f".{name}.crc"))

    key = "spark.sql.files.ignoreCorruptFiles"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        report = migrate(
            spark,
            MigrateJob(
                src, str(tmp_path / "dst_wh"), "lineitem",
                start="1996-01-01", end="1996-03-31",
            ),
        )
    finally:
        spark.conf.set(key, old)
    assert [q["path"].rsplit("/", 1)[-1] for q in report.quarantined] == [name]
    assert [a.partition for a in report.alerts if a.kind == "corrupt_file"] == [
        report.quarantined[0]["path"]
    ]
    assert report.copied == ["199601", "199602", "199603"]
    assert report.ok
