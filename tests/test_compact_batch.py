"""Compaction as one rewrite per table: the qualifying leaf partitions
that need one file each are read once and written once into the hidden
``<table>/_compact`` tree, then swapped in one by one; a leaf that
needs more files, or that the rewrite cannot stage, is rewritten alone.
Also covers the recovery of what an interrupted run leaves in
``_compact`` and the rollback of a failed swap."""

from __future__ import annotations

import os
import shutil

import pytest

from hadoop_trans_spark.pipelines import compact as compact_mod
from hadoop_trans_spark.pipelines import compact_table, fs
from hadoop_trans_spark.pipelines.alerts import AlertSink

TARGET = 64 * 1024 * 1024


def _write_leaf(spark, path, start, n_rows, n_files):
    rows = [(i, float(i) / 7) for i in range(start, start + n_rows)]
    spark.createDataFrame(rows, "id long, v double").repartition(n_files).write.parquet(path)


def _data_files(leaf):
    return sorted(
        f for f in os.listdir(leaf)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _leaves(table):
    out = []
    for d, subs, _ in os.walk(table):
        subs[:] = sorted(s for s in subs if "=" in s)
        if d != table and not subs:
            out.append(os.path.relpath(d, table))
    return sorted(out)


def _leaf_rows(spark, leaf):
    """The leaf's rows, read with the leaf as the root."""
    return sorted(tuple(r) for r in spark.read.parquet(leaf).collect())


def _table_rows(spark, table):
    return sorted(tuple(r) for r in spark.read.parquet(table).collect())


def _count_stage_calls(monkeypatch):
    calls = []
    real = compact_mod._stage

    def counting(spark, base, leaves, out, n=1):
        calls.append(sorted(leaves))
        return real(spark, base, leaves, out, n)

    monkeypatch.setattr(compact_mod, "_stage", counting)
    return calls


def _jobs_run_by(spark, fn):
    """``(fn(), [tasks of each Spark job it ran])``, from the status
    store, so jobs of any driver thread count."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.jobsList(None)
        )
        return {j.jobId(): j.numTasks() for j in listed}

    before = jobs()
    out = fn()
    return out, [t for j, t in sorted(jobs().items()) if j not in before]


def test_hostile_leaves_keep_their_own_rows(spark, tmp_path, monkeypatch):
    """Zero-padded and unpadded twins, the Hive NULL dir and a value
    Spark escapes go through the one rewrite; ``par_dt=`` (unreadable
    under the table), ``a%20b`` (written back as ``a b``) and a leaf
    sized to need 3 files are rewritten alone. Every leaf keeps exactly
    its own rows in at most its own n_target files, and a second run
    compacts nothing."""
    table = str(tmp_path / "t")
    batched = ["par_dt=01", "par_dt=1", "par_dt=__HIVE_DEFAULT_PARTITION__", "par_dt=x%3Ay"]
    alone = ["par_dt=", "par_dt=a%20b", "par_dt=big"]
    for i, rel in enumerate(batched + alone[:-1]):
        _write_leaf(spark, f"{table}/{rel}", 100 * i, 60, 6)
    _write_leaf(spark, f"{table}/par_dt=big", 10_000, 24_000, 12)
    big_bytes = sum(
        os.path.getsize(f"{table}/par_dt=big/{f}") for f in _data_files(f"{table}/par_dt=big")
    )
    target = big_bytes // 3 + 1  # the big leaf needs 3 files, the rest 1
    rels = _leaves(table)
    before = {rel: _leaf_rows(spark, f"{table}/{rel}") for rel in rels}

    calls = _count_stage_calls(monkeypatch)
    report = compact_table(spark, table, target_file_bytes=target)

    assert sorted(report.compacted) == rels and report.failed == []
    assert len(calls) == 1 + len(alone)
    assert calls[0] == sorted(f"{table}/{r}" for r in batched)
    assert _leaves(table) == rels and not os.path.exists(f"{table}/_compact")
    for rel in rels:
        assert _leaf_rows(spark, f"{table}/{rel}") == before[rel], rel
        n_files = len(_data_files(f"{table}/{rel}"))
        assert n_files == report.files_after[rel]
        assert 1 <= n_files <= (3 if rel == "par_dt=big" else 1), rel

    again = compact_table(spark, table, target_file_bytes=target)
    assert again.compacted == [] and again.failed == []
    assert sorted(again.skipped) == rels


def test_map_column_beside_a_leaf_that_needs_three_files(spark, tmp_path):
    """Spark cannot hash a map column; neither rewrite needs to: the
    one-file leaves are repartitioned on their partition column, the
    big leaf is coalesced alone."""
    table = str(tmp_path / "t")

    def write(rel, start, n_rows, n_files):
        spark.range(start, start + n_rows).selectExpr(
            "id", "map('k', id, 'j', id * 2) as m"
        ).repartition(n_files).write.parquet(f"{table}/{rel}")

    write("par_dt=01", 0, 60, 6)
    write("par_dt=02", 100, 60, 6)
    write("par_dt=big", 10_000, 24_000, 12)
    big = f"{table}/par_dt=big"
    target = sum(os.path.getsize(f"{big}/{f}") for f in _data_files(big)) // 3 + 1
    rels = _leaves(table)
    before = {rel: _leaf_rows(spark, f"{table}/{rel}") for rel in rels}

    report = compact_table(spark, table, target_file_bytes=target)

    assert sorted(report.compacted) == rels and report.failed == []
    for rel in rels:
        assert _leaf_rows(spark, f"{table}/{rel}") == before[rel], rel
        assert 1 <= len(_data_files(f"{table}/{rel}")) <= (3 if rel == "par_dt=big" else 1)


def test_two_level_leaves_rewritten_together(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    rels = [f"par_dt={d}/kind={k}" for d in ("01", "02") for k in ("a", "b%3Dc")]
    for i, rel in enumerate(rels):
        _write_leaf(spark, f"{table}/{rel}", 100 * i, 40, 4)
    before = {rel: _leaf_rows(spark, f"{table}/{rel}") for rel in rels}

    calls = _count_stage_calls(monkeypatch)
    report = compact_table(spark, table, target_file_bytes=TARGET)

    assert sorted(report.compacted) == sorted(rels) and len(calls) == 1
    for rel in rels:
        assert _leaf_rows(spark, f"{table}/{rel}") == before[rel]
        assert len(_data_files(f"{table}/{rel}")) == 1
    assert compact_table(spark, table, target_file_bytes=TARGET).compacted == []


def test_compacting_five_leaves_runs_at_most_three_spark_jobs(spark, tmp_path):
    """One footer pass, one shuffle and one write for the whole table —
    not two jobs per leaf."""
    table = str(tmp_path / "t")
    for d in range(5):
        _write_leaf(spark, f"{table}/par_dt=2024010{d}", 100 * d, 80, 8)

    report, jobs = _jobs_run_by(
        spark, lambda: compact_table(spark, table, target_file_bytes=TARGET)
    )
    assert len(report.compacted) == 5
    assert 1 <= len(jobs) <= 3, jobs


def test_corrupt_file_fails_its_partition_when_session_ignores_corrupt_files(
    spark, tmp_path
):
    """With spark.sql.files.ignoreCorruptFiles=true in the session, the
    rewrite used to skip the corrupt file, report the partition
    compacted, and delete the file with the originals. The pipeline read
    pins the option off: the partition fails, alerted, and its files are
    untouched; the other partition compacts. The .crc sidecar is removed
    so Spark sees a corrupt parquet file, not a checksum error, which it
    never ignores."""
    table = str(tmp_path / "t")
    for d in range(2):
        _write_leaf(spark, f"{table}/par_dt=0{d}", 200 * d, 200, 4)
    victim = f"{table}/par_dt=00"
    files = _data_files(victim)
    bad = os.path.join(victim, files[0])
    data = open(bad, "rb").read()
    open(bad, "wb").write(data[:-4] + b"JUNK")  # flip the magic
    os.remove(os.path.join(victim, f".{files[0]}.crc"))
    snapshot = {f: open(os.path.join(victim, f), "rb").read() for f in files}

    key = "spark.sql.files.ignoreCorruptFiles"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    sink = AlertSink()
    try:
        report = compact_table(spark, table, target_file_bytes=TARGET, sink=sink)
    finally:
        spark.conf.set(key, old)
    assert report.failed == ["par_dt=00"]
    assert report.compacted == ["par_dt=01"]
    assert [a.partition for a in sink.alerts if a.kind == "compact_failure"] == ["par_dt=00"]
    assert _data_files(victim) == files
    assert {f: open(os.path.join(victim, f), "rb").read() for f in files} == snapshot


def _three_leaf_table(spark, tmp_path):
    table = str(tmp_path / "t")
    for d in range(3):
        _write_leaf(spark, f"{table}/p={d}", 100 * d, 50, 5)
    return table


def test_run_recovers_leftovers_of_an_interrupted_run(spark, tmp_path):
    """A backup whose leaf is gone is restored, a backup beside its leaf
    is deleted, staged output is deleted: one run leaves no _compact and
    the table reads as before."""
    table = _three_leaf_table(spark, tmp_path)
    rows = _table_rows(spark, table)
    work = f"{table}/_compact"
    os.makedirs(f"{work}/bak")
    shutil.move(f"{table}/p=0", f"{work}/bak/p=0")  # crashed after the backup
    shutil.copytree(f"{table}/p=1", f"{work}/bak/p=1")  # crashed before the delete
    shutil.copytree(f"{table}/p=2", f"{work}/tmp/p=2")  # crashed before any swap
    _write_leaf(spark, f"{work}/tmp/p=9", 5_000, 10, 1)

    report = compact_table(spark, table, target_file_bytes=TARGET)

    assert report.failed == [] and sorted(report.compacted) == ["p=0", "p=1", "p=2"]
    assert not os.path.exists(work)
    assert _table_rows(spark, table) == rows


class _Crash(BaseException):
    """A stop no handler in the pipeline catches, like a killed driver."""


STEPS = {
    # step: (fs function, predicate on its path arguments)
    "backup": ("rename", lambda a: "/_compact/bak/" in a[-1]),
    "swap": ("rename", lambda a: "/_compact/tmp/" in a[0]),
    "delete": ("delete", lambda a: "/_compact/bak/" in a[0]),
}


def _fail_once(monkeypatch, step, exc):
    name, hit = STEPS[step]
    real = getattr(fs, name)
    fired = []

    def failing(spark, *args):
        if not fired and hit(args):
            fired.append(args)
            raise exc
        return real(spark, *args)

    monkeypatch.setattr(fs, name, failing)
    return fired


@pytest.mark.parametrize("step", sorted(STEPS))
def test_failed_swap_step_rolls_back(spark, tmp_path, monkeypatch, step):
    """A raising rename or delete at each swap step: the leaf fails,
    alerted, and the table reads exactly as before the run."""
    table = _three_leaf_table(spark, tmp_path)
    rows = _table_rows(spark, table)
    fired = _fail_once(monkeypatch, step, OSError("injected"))
    sink = AlertSink()

    report = compact_table(spark, table, target_file_bytes=TARGET, sink=sink)

    assert fired and report.failed == ["p=0"]
    assert sorted(report.compacted) == ["p=1", "p=2"]
    assert [a.partition for a in sink.alerts if a.kind == "compact_failure"] == ["p=0"]
    assert not os.path.exists(f"{table}/_compact")
    assert _table_rows(spark, table) == rows


@pytest.mark.parametrize("step", sorted(STEPS))
def test_crash_at_swap_step_is_recovered_by_next_run(
    spark, tmp_path, monkeypatch, step
):
    """A stop nothing catches, at each swap step: the next run restores
    or finishes the swap, leaves no _compact, and the table reads
    exactly as before."""
    table = _three_leaf_table(spark, tmp_path)
    rows = _table_rows(spark, table)
    _fail_once(monkeypatch, step, _Crash())
    with pytest.raises(_Crash):
        compact_table(spark, table, target_file_bytes=TARGET)
    monkeypatch.undo()

    report = compact_table(spark, table, target_file_bytes=TARGET)

    assert report.failed == []
    assert not os.path.exists(f"{table}/_compact")
    assert _leaves(table) == ["p=0", "p=1", "p=2"]
    assert _table_rows(spark, table) == rows
