"""End-to-end CLI tests (reference parity: the three hadoop-trans tools).

Drives ``hadoop_trans_spark.__main__.main`` in-process (same code path as
``python -m hadoop_trans_spark``, minus a second JVM spin-up).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hadoop_trans_spark.__main__ import main
from hadoop_trans_spark.catalog import table


@pytest.fixture(scope="module")
def warehouse(spark, smoke_dir, tmp_path_factory):
    """A partitioned lineitem copy to migrate: src warehouse root."""
    base = tmp_path_factory.mktemp("cli_wh")
    src_root = str(base / "src")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.repartition("par_dt").write.mode("overwrite").partitionBy("par_dt").parquet(
        f"{src_root}/lineitem"
    )
    return base, src_root


def test_cli_migrate_range_and_conflict(spark, warehouse, capsys):
    base, src_root = warehouse
    dst_root = str(base / "dst")
    argv = [
        "migrate", "-srcDB", src_root, "-distDB", dst_root,
        "-table", "lineitem", "-pn", "par_dt", "-pp", "yyyyMM",
        "-s", "1996-01-01", "-e", "1996-12-31",
    ]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["verified_ok"] is True
    assert out["copied"] == [f"1996{m:02d}" for m in range(1, 13)]

    # Re-run: every partition now conflicts; skip policy → nothing copied,
    # exit still 0 (reference behavior: skip + continue).
    assert main(argv) == 0
    out2 = json.loads(capsys.readouterr().out)
    assert out2["copied"] == []
    assert out2["conflicts"] == out["copied"]

    # Destination partition dirs exist with the Hive layout.
    dst = spark.read.parquet(f"{dst_root}/lineitem")
    assert sorted(
        str(r["par_dt"]) for r in dst.select("par_dt").distinct().collect()
    ) == [f"1996{m:02d}" for m in range(1, 13)]


def test_cli_whole_table_migrate(spark, warehouse, capsys):
    base, src_root = warehouse
    dst_root = str(base / "dst_whole")
    argv = [
        "migrate", "-srcDB", src_root, "-distDB", dst_root,
        "-table", "lineitem", "--whole-table",
    ]
    assert main(argv) == 0
    out = json.loads(capsys.readouterr().out)
    src_parts = {
        r["par_dt"]
        for r in spark.read.parquet(f"{src_root}/lineitem")
        .select("par_dt").distinct().collect()
    }
    assert set(out["copied"]) == {str(p) for p in src_parts}


def test_cli_migrate_missing_range_args():
    assert main(["migrate", "-srcDB", "/a", "-distDB", "/b", "-table", "t"]) == 2


def test_cli_compact(spark, smoke_dir, tmp_path, capsys):
    path = str(tmp_path / "events")
    ev = table(spark, smoke_dir, "events").withColumn(
        "par_dt", F.date_format("ts", "yyyyMMdd")
    )
    ev.repartition(10).write.mode("overwrite").partitionBy("par_dt").parquet(path)
    # materialize the pre-compaction content (the swap replaces the files,
    # so a lazy pre-swap DataFrame would go stale)
    ids_before = sorted(
        r["event_id"]
        for r in spark.read.parquet(path).select("event_id").collect()
    )

    assert main(["compact", "-path", path]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["compacted"] and not out["failed"]
    ids_after = sorted(
        r["event_id"]
        for r in spark.read.parquet(path).select("event_id").collect()
    )
    assert ids_after == ids_before


def test_cli_verify_match_and_mismatch(spark, smoke_dir, tmp_path, capsys):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    nat = table(spark, smoke_dir, "nation")
    nat.write.parquet(a)
    nat.write.parquet(b)
    assert main(["verify", "-src", a, "-dist", b]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["equal"] is True

    c = str(tmp_path / "c")
    nat.where(F.col("n_nationkey") != 3).write.parquet(c)
    assert main(["verify", "-src", a, "-dist", c]) == 1
    rep = json.loads(capsys.readouterr().out)
    assert rep["equal"] is False and rep["src_only"] == 1


def test_cli_sql(smoke_dir, capsys):
    assert main([
        "sql", "-data", smoke_dir,
        "-q", "SELECT count(*) AS n FROM lineitem",
    ]) == 0
    assert "n" in capsys.readouterr().out


def test_cli_query_list_and_run(smoke_dir, capsys):
    assert main(["query"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "q70_corpus_curation" in out

    assert main(["query", "q01_pricing_summary", "-data", smoke_dir]) == 0
    assert "sum_qty" in capsys.readouterr().out

    assert main(["query", "nope"]) == 2

def test_session_profiles():
    """profile='cluster' is the one-switch 100 TB posture; unknown
    profile names fail fast (conf typos should not silently run local)."""
    import pytest

    from hadoop_trans_spark.session import CLUSTER_PROFILE, get_spark

    with pytest.raises(ValueError):
        get_spark(profile="clutser")
    assert CLUSTER_PROFILE["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert int(CLUSTER_PROFILE["spark.sql.shuffle.partitions"]) >= 1024
    # Partition listing keeps Spark's fan-out on a cluster; the local
    # one-task-per-core bound would list a 10k-dir table with 8 tasks.
    listing = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    assert CLUSTER_PROFILE[listing] == "10000"
