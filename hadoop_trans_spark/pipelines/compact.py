"""Small-file compaction (reference parity: HDFSMerge,
`/root/reference/src/main/java/cn/dianhun/hadoop/HDFSMerge.java:33-219`).

The reference byte-concatenated each day's files through a 4 KB driver
buffer into one Hive-compatible snappy stream and deleted inputs only on
success. Spark-first version:

  * selection is size-aware (partitions whose average file size is below
    a threshold), generalizing the reference's name-substring filter
    ("snappy" exclusion, `HDFSMerge.java:166`) — and equally idempotent:
    an already-compacted partition no longer qualifies. One recursive
    listing of the table sizes every leaf;
  * a leaf gets n = ceil(bytes / 512 MB) files (the reference's
    one-file-per-day is n=1). The qualifying leaves with n=1 are
    rewritten by ONE read → repartition on the partition columns → ONE
    partitioned snappy write into the hidden ``<table>/_compact/tmp``:
    Spark's fixed costs per table, not per day. Each such leaf carries
    the union schema of the leaves rewritten with it, and the
    repartition shuffles each of their bytes once. A leaf with n > 1
    (at least the target size, so its own job is a small share of its
    cost) is rewritten alone by read → ``coalesce(n)``, with no shuffle;
  * commit is a per-leaf rename swap through ``<table>/_compact/bak``;
    originals are removed only after a successful swap
    (`HDFSMerge.java:144-148` semantics); every run first finishes or
    undoes the swaps an interrupted run left there;
  * multi-level partition trees (the reference's `-sp true`,
    `HDFSMerge.java:90-103`) work unchanged: compaction operates per
    leaf partition directory.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import fs
from .alerts import Alert, AlertSink
from .health import read_parquet


@dataclass
class CompactReport:
    compacted: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)  # already compact
    failed: list[str] = field(default_factory=list)
    files_before: dict[str, int] = field(default_factory=dict)
    files_after: dict[str, int] = field(default_factory=dict)


def _leaves(spark: SparkSession, root: str) -> dict[str, list[int]]:
    """{leaf partition dir under ``root``: sizes of its data files}, from
    one recursive listing. A file belongs to the deepest ``k=v`` dir on
    its path (1- and 2-level layouts alike, like the reference's default
    and ``-sp`` modes); a ``k=v`` dir with ``k=v`` dirs below it is no
    leaf."""
    prefix = fs.qualify(spark, root).rstrip("/") + "/"
    found: dict[tuple[str, ...], list[int]] = {}
    for path, size in fs.data_files(spark, root):
        segs = path[len(prefix) :].split("/")[:-1]
        depth = next((i for i, s in enumerate(segs) if "=" not in s), len(segs))
        if depth:
            found.setdefault(tuple(segs[:depth]), []).append(size)
    inner = {rel[:i] for rel in found for i in range(1, len(rel))}
    return {f"{root}/{'/'.join(rel)}": sizes for rel, sizes in found.items() if rel not in inner}


def _path_names(spark: SparkSession):
    """Spark's own escaping of partition dir names (JVM object)."""
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils


def _spelled_as_written(names, rel: str) -> bool:
    """Whether every key and value of ``rel`` is spelled as Spark writes
    what it reads there (``names``: :func:`_path_names`), so a
    partitioned write puts the leaf's rows, and only them, in a dir of
    this name. Not so for ``par_dt=`` (unreadable under a base path) or
    ``a%20b`` (written back as ``a b``)."""
    parts = [p for seg in rel.split("/") for p in seg.split("=", 1)]
    return all(p and names.escapePathName(names.unescapePathName(p)) == p for p in parts)


def _stage(
    spark: SparkSession, base: str, leaves: list[str], out: str, n: int = 1
) -> dict[str, tuple[str, int]]:
    """Rewrite ``leaves`` (dirs under ``base``) with one read and one
    write into ``out``; returns {leaf: (staged dir, its file count)} for
    each leaf the write staged. Leaves under a table are repartitioned on
    their partition columns, so each lands whole in one task and one
    file; a leaf passed as its own ``base`` is coalesced to ``n`` files."""
    names = _path_names(spark)
    rels = {leaf: leaf[len(base) + 1 :] for leaf in leaves}
    cols = [names.unescapePathName(s.split("=", 1)[0]) for s in rels[leaves[0]].split("/") if s]
    df = read_parquet(spark, base, leaves)
    df = df.repartition(*cols) if cols else df.coalesce(n)
    df.write.mode("overwrite").partitionBy(*cols).option("compression", "snappy").parquet(out)
    listed = _leaves(spark, out) if cols else {out: fs.data_files(spark, out)}
    staged = {leaf: f"{out}/{rel}".rstrip("/") for leaf, rel in rels.items()}
    return {leaf: (d, len(listed[d])) for leaf, d in staged.items() if listed.get(d)}


def _compact_partition(
    spark: SparkSession, table_path: str, part_dir: str, n_target: int,
    staged: tuple[str, int] | None, sink: AlertSink,
) -> int:
    """Swap one leaf for its staged rewrite, ``(dir, file count)``,
    rewriting the leaf alone first when ``staged`` is None: leaf →
    ``_compact/bak/<rel>``, staged dir → leaf, delete the backup. Returns
    the leaf's new file count; 0 after a failure, with the backup moved
    back if the leaf is gone (reference semantic 7)."""
    rel = part_dir[len(table_path) + 1 :]
    bak = f"{table_path}/_compact/bak/{rel}"
    try:
        if staged is None:
            out = f"{table_path}/_compact/leaf"
            staged = _stage(spark, part_dir, [part_dir], out, n_target)[part_dir]
        fs.mkdirs(spark, bak.rsplit("/", 1)[0])
        if not fs.rename(spark, part_dir, bak):
            raise OSError(f"rename to backup failed for {part_dir}")
        if not fs.rename(spark, staged[0], part_dir):
            raise OSError(f"swap failed for {part_dir}")
        fs.delete(spark, bak)
        return staged[1]
    except Exception as exc:  # keep going; sources stay intact
        sink.emit(Alert("error", "compact_failure", table_path, rel, str(exc)))
        if fs.exists(spark, bak) and not fs.exists(spark, part_dir):
            fs.rename(spark, bak, part_dir)  # roll back
        return 0


def _recover(spark: SparkSession, table_path: str) -> None:
    """Finish or undo what a run left in ``<table>/_compact``: a backup
    whose leaf is gone is moved back, a backup beside its leaf (the swap
    had finished) and any staged output are deleted."""
    work = f"{table_path}/_compact"
    if not fs.exists(spark, work):
        return
    for bak in _leaves(spark, f"{work}/bak"):
        leaf = f"{table_path}/{bak[len(work) + 5 :]}"
        if not fs.exists(spark, leaf) and not fs.rename(spark, bak, leaf):
            raise OSError(f"cannot restore {leaf} from {bak}")
    fs.delete(spark, work)


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    min_avg_file_bytes: int | None = None,
    sink: AlertSink | None = None,
) -> CompactReport:
    """Compact every leaf partition of a Hive-layout parquet table whose
    average data-file size is below the threshold (default: half the
    target size). A leaf the one rewrite did not stage (it raised, or
    the leaf needs more than one file, or its dir is not spelled as
    Spark writes it) is rewritten alone, so a bad leaf fails without its
    neighbors."""
    sink = sink or AlertSink()
    report = CompactReport()
    threshold = min_avg_file_bytes or target_file_bytes // 2
    _recover(spark, table_path)
    plans: dict[str, int] = {}  # leaf -> n_target
    for leaf, sizes in _leaves(spark, table_path).items():
        rel = leaf[len(table_path) + 1 :]
        total = sum(sizes)
        n_target = max(1, math.ceil(total / target_file_bytes))
        # Idempotent/incremental selection (reference semantic 5): already
        # compacted partitions don't qualify again.
        if total / len(sizes) >= threshold or len(sizes) <= n_target:
            report.skipped.append(rel)
        else:
            report.files_before[rel] = len(sizes)
            plans[leaf] = n_target
    names = _path_names(spark)
    batch = [
        leaf for leaf, n in plans.items()
        if n == 1 and _spelled_as_written(names, leaf[len(table_path) + 1 :])
    ]
    try:
        staged = _stage(spark, table_path, batch, f"{table_path}/_compact/tmp") if batch else {}
    except Exception:  # each leaf is rewritten alone instead
        staged = {}
    for leaf, n_target in plans.items():
        rel = leaf[len(table_path) + 1 :]
        files = _compact_partition(spark, table_path, leaf, n_target, staged.get(leaf), sink)
        if files:
            report.compacted.append(rel)
            report.files_after[rel] = files
        else:
            report.failed.append(rel)
    _recover(spark, table_path)
    return report
