"""RocksDB state store (the 100 TB streaming-state path, SCALE.md):
the provider swap must be output-invariant — same windowed aggregation,
same final sink rows as the default HDFS-backed provider. This pins the
config actually recommended in the module docstring
(hadoop_trans_spark/streaming/jobs.py) as WORKING, not aspirational."""

from __future__ import annotations

from hadoop_trans_spark.streaming.jobs import (
    read_events_stream,
    run_to_memory,
    tumbling_counts,
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
CONF = "spark.sql.streaming.stateStore.providerClass"


def test_rocksdb_provider_matches_default_provider(spark, smoke_dir):
    default_rows = sorted(
        map(
            tuple,
            run_to_memory(
                tumbling_counts(read_events_stream(spark, smoke_dir)),
                "append",
            ).collect(),
        )
    )
    prev = spark.conf.get(CONF, None)
    try:
        spark.conf.set(CONF, ROCKSDB)
        rocks_rows = sorted(
            map(
                tuple,
                run_to_memory(
                    tumbling_counts(read_events_stream(spark, smoke_dir)),
                    "append",
                ).collect(),
            )
        )
    finally:
        if prev is None:
            spark.conf.unset(CONF)
        else:
            spark.conf.set(CONF, prev)
    assert default_rows, "fixture produced no windows"
    assert rocks_rows == default_rows


def test_pinned_state_partitions_restores_conf(spark):
    """Every streaming start site wraps _pinned_state_partitions (there
    is one, run_stream — tests/test_stream_start_site.py checks it); the
    pin must restore the session's shuffle-partition conf on BOTH the
    normal and the exception path (a leak would silently re-plan every
    later batch query in the shared driver session at the pinned
    count). The session is set off the pinned count first, so a restore
    is visible."""
    import pytest

    from hadoop_trans_spark.streaming.jobs import (
        STATE_PARTITIONS,
        _pinned_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    other = str(STATE_PARTITIONS + 3)
    spark.conf.set(key, other)
    try:
        with _pinned_state_partitions(spark):
            assert spark.conf.get(key) == str(STATE_PARTITIONS)
        assert spark.conf.get(key) == other

        with pytest.raises(RuntimeError):
            with _pinned_state_partitions(spark):
                assert spark.conf.get(key) == str(STATE_PARTITIONS)
                raise RuntimeError("boom")
        assert spark.conf.get(key) == other
    finally:
        spark.conf.set(key, prev)


def test_stream_migrate_timeout_stops_query(spark, smoke_dir, monkeypatch):
    """A stream_migrate run that outlives the timeout must raise and
    leave no query running — never return a half-written dest while the
    query keeps appending to it."""
    import pytest

    from hadoop_trans_spark.streaming import jobs

    monkeypatch.setattr(jobs, "STREAM_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        jobs.stream_migrate(spark, smoke_dir)
    assert spark.streams.active == []


def test_stream_migrate_restart_resumes_from_checkpoint(
    spark, smoke_dir, tmp_path
):
    """The E41 continuous-migrate contract: re-running stream_migrate
    with the SAME dest + checkpoint after new files landed must append
    ONLY the not-yet-committed files (the file-source log is the resume
    identity). Run 1 ingests one file (n rows); a second identical file
    lands; run 2 must bring dest to exactly 2n — 3n would mean the
    restart reprocessed file 1, n would mean it ignored file 2."""
    import shutil

    from hadoop_trans_spark.streaming.jobs import stream_migrate

    src = tmp_path / "landing"
    src.mkdir()
    shutil.copyfile(
        f"{smoke_dir}/events.parquet", src / "events.parquet"
    )
    n = spark.read.parquet(f"{smoke_dir}/events.parquet").count()
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")

    out = stream_migrate(
        spark, str(src), dest=dest, checkpoint=ckpt, glob="events*.parquet"
    )
    assert spark.read.parquet(out).count() == n

    shutil.copyfile(
        f"{smoke_dir}/events.parquet", src / "events_late.parquet"
    )
    out2 = stream_migrate(
        spark, str(src), dest=dest, checkpoint=ckpt, glob="events*.parquet"
    )
    assert out2 == dest
    assert spark.read.parquet(dest).count() == 2 * n


def test_stateful_restart_matches_single_run(spark, smoke_dir):
    """r13 streaming restart contract (VERDICT r12 item 3), pinned for
    the two state shapes with the most machinery behind them: a
    watermarked windowed aggregate (tumbling) and the custom
    applyInPandasWithState operator (streaks). The fixture is staged as
    4 ts-ordered files; a run stopped after 2 files and resumed from
    its checkpoint over the full set must produce exactly the rows of a
    never-stopped run — open-window partials, watermark position, and
    per-key custom state all live in (and must come back from) the
    state store. The full 10-family sweep is tools/stream_probe.py."""
    from hadoop_trans_spark.streaming import (
        read_events_stream,
        restart_harness,
        tumbling_counts,
        user_streaks_updates,
    )

    def es(d):
        return read_events_stream(spark, d, max_files_per_trigger=1)

    def rows(run):
        return [tuple(r) for phase in run.phases for _, b in phase for r in b]

    def canon_rows(rs):
        return sorted(rs, key=lambda t: tuple((v is None, v) for v in t))

    def canon_streaks(rs):
        # update mode re-emits a key per batch; counters are monotone,
        # so the max per key is its final state
        best: dict = {}
        for k, n, streak in rs:
            n0, s0 = best.get(k, (n, streak))
            best[k] = (max(n0, n), max(s0, streak))
        return sorted((k, n, s) for k, (n, s) in best.items())

    for build, mode, canon in [
        (lambda d: tumbling_counts(es(d)), "append", canon_rows),
        (lambda d: user_streaks_updates(es(d)), "update", canon_streaks),
    ]:
        with restart_harness(spark, smoke_dir, 4) as single:
            single.phase(build, mode, 4)
        with restart_harness(spark, smoke_dir, 4) as restart:
            restart.phase(build, mode, 2)
            restart.phase(build, mode, 4)
        a = canon(rows(single))
        b = canon(rows(restart))
        assert a, "single run produced no rows"
        assert a == b
