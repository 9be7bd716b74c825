"""Table maintenance — small-file compaction for parquet directories.

Every long-lived ingest loop accretes small files (each micro-batch, each
retry, each late partition writes a few), and at 100 TB the scan cost is
dominated by file-open overhead and lost min/max pruning long before raw
bytes matter. Compaction rewrites a directory to ~target-sized files,
optionally re-sorting so each output file owns a disjoint key range (the
layout the point-lookup path prunes against, see
pipeline._overwrite_products).

Two forms:

- :func:`compact_published_table` — ONLINE, for the engine's
  version-published tables (products / ledger state / streaming sinks:
  ``<prefix>.v{N}`` dirs behind an atomically-replaced symlink). The
  compacted copy becomes version N+1 published through the same symlink
  swap with two-version retention, so a reader planned against the old
  version keeps scanning it safely — the lakehouse
  OPTIMIZE-under-commit-protocol shape. Readers need no coordination;
  concurrent WRITERS do (hold the table's writer lock — see
  ``ProductWarehouse.compact_products`` — or compact a stream sink while
  its stream is not running).
- :func:`compact_parquet_dir` — OFFLINE, for plain (unversioned) parquet
  dirs: write-new + atomic rename. A crash can never leave a half-written
  table, but the rename swaps the live directory, so run it only without
  concurrent readers (a maintenance window or a snapshot).
"""

from __future__ import annotations

import re
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from ..versioning import FOLDED_MARKER, VersionedTable


@dataclass
class CompactionReport:
    files_before: int
    files_after: int
    bytes_total: int
    rows: int


def _compaction_layout(df, n_out: int, sort_col: str | None, zorder_by):
    """The rewrite's output layout, shared by both compaction forms:
    Z-ORDER (``zorder_by``, 2+ columns) range-partitions + sorts on the
    Morton value of the named columns with EQUI-DEPTH cells from the
    table's own quantiles (operators/layout.auto_zorder_expr — rank
    quantization, not min-max linear, which collapses on heavy-tailed
    columns) — every output file
    owns a hyper-rectangle of the key space, so min/max footer stats
    prune filters on ANY clustered dimension (the OPTIMIZE ZORDER BY
    maintenance shape); SINGLE-KEY (``sort_col``) range-partitions +
    sorts so each file owns a disjoint range of that one column; plain
    (neither) coalesces without a shuffle."""
    if sort_col is not None and zorder_by:
        raise ValueError(
            "pass sort_col OR zorder_by, not both: a z-ordered file's "
            "single-column ranges are deliberately non-disjoint"
        )
    if zorder_by:
        if len(zorder_by) < 2:
            raise ValueError(
                "zorder_by needs >= 2 columns — for one column a plain "
                "sort_col range layout prunes strictly better"
            )
        from .layout import auto_zorder_expr

        z = auto_zorder_expr(df, list(zorder_by))
        return (
            df.withColumn("_z", z)
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    if sort_col is not None:
        return df.repartitionByRange(n_out, sort_col).sortWithinPartitions(sort_col)
    return df.coalesce(n_out)


def compact_parquet_dir(
    spark: SparkSession,
    path: str | Path,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
    zorder_by: list[str] | None = None,
) -> CompactionReport:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(total_bytes / target_file_bytes)`` files (atomic swap).

    With ``sort_col``, output is range-partitioned + sorted on it so every
    file owns a disjoint range (min/max pruning works); without it, a plain
    coalesce-style rewrite (no shuffle — AQE folds the scan into the
    writer's partitioning).

    Crash posture (offline contract): data is never half-written, but the
    swap is two renames, so a crash BETWEEN them leaves no live directory
    at ``path``. A re-run self-heals first: a surviving ``.compact.old``
    with no live dir is rolled back before compacting (nothing is lost —
    the old dir is only removed after the new one is in place).
    """
    path = Path(path)
    old_dir = path.with_name(path.name + ".compact.old")
    if not path.exists() and old_dir.exists():
        old_dir.rename(path)  # finish a crashed swap: roll back
    parts = [p for p in path.rglob("*.parquet") if p.is_file()]
    total = sum(p.stat().st_size for p in parts)
    n_out = max(1, -(-total // target_file_bytes))

    df = spark.read.parquet(str(path))
    out = _compaction_layout(df, n_out, sort_col, zorder_by)

    tmp = path.with_name(path.name + ".compact.tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    out.write.mode("overwrite").parquet(str(tmp))
    rows = spark.read.parquet(str(tmp)).count()

    old = path.with_name(path.name + ".compact.old")
    if old.exists():
        shutil.rmtree(old)
    path.rename(old)
    tmp.rename(path)
    shutil.rmtree(old)

    after = len([p for p in path.rglob("*.parquet") if p.is_file()])
    return CompactionReport(len(parts), after, total, rows)


def compact_published_table(
    spark: SparkSession,
    symlink_path: str | Path,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
    zorder_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> CompactionReport:
    """Online compaction for a version-published table: read the CURRENT
    version behind ``symlink_path`` (e.g. ``<wh>/products`` →
    ``products.v3``, or a stream sink's ``<dir>/current`` → ``data.v5``),
    rewrite it into ~target-sized files as the NEXT version dir, and
    publish via the same atomic symlink replace + two-version retention
    every writer of these tables uses. A reader that resolved the symlink
    before the publish keeps scanning its pinned version (it survives one
    further publish before cleanup); new readers plan against the
    compacted files.

    A partitioned layout is PRESERVED by default: when ``partition_by``
    is None, the current version's single-level ``col=value`` dirs are
    detected and re-applied (the packed table's ``shard=S/`` dirs must
    survive compaction or the incremental packer's touched-shard rewrite
    silently drops untouched shards a batch later). Pass an explicit
    list — or ``[]`` to deliberately flatten — to override. The
    ``_folded_batch`` marker, when the source version carries one
    (stream sinks), is carried forward — a compacted version folds no
    new batch, so the stream's replay-skip must keep answering with the
    last REAL batch id.

    Writer coordination is the CALLER's job: hold the table's writer lock
    (products/ledger), or compact a stream sink only while its stream is
    stopped. Readers need none.
    """
    link = Path(symlink_path)
    cur = VersionedTable(link).read_target() if link.is_symlink() else None
    if cur is None:
        raise ValueError(
            f"{link} is not a published-table symlink; for a plain parquet "
            "dir use compact_parquet_dir (offline)"
        )
    m = re.match(r"^(?P<prefix>.+)\.v(?P<n>\d+)$", cur.name)
    if not m:
        raise ValueError(f"current version {cur.name!r} is not a .v{{N}} dir")
    table = VersionedTable(link, prefix=m.group("prefix"))

    if partition_by is None:
        # Preserve the current version's partition layout unless the
        # caller explicitly overrides (None = auto; [] = flatten).
        detected = {
            p.name.split("=", 1)[0]
            for p in cur.iterdir()
            if p.is_dir() and "=" in p.name and not p.name.startswith("_")
        }
        if len(detected) == 1:
            partition_by = sorted(detected)

    parts = [p for p in cur.rglob("*.parquet") if p.is_file()]
    total = sum(p.stat().st_size for p in parts)
    n_out = max(1, -(-total // target_file_bytes))

    df = spark.read.parquet(str(cur))
    out = _compaction_layout(df, n_out, sort_col, zorder_by)

    def write(tmp: Path) -> None:
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        marker = cur / FOLDED_MARKER
        (tmp / FOLDED_MARKER).write_text(
            marker.read_text() if marker.exists() else m.group("n")
        )

    # The new version's retention keeps {it, cur}: cur is what readers
    # were pinned to before this publish.
    final = table.publish(write)
    rows = spark.read.parquet(str(final)).count()
    after = len([p for p in final.rglob("*.parquet") if p.is_file()])
    return CompactionReport(len(parts), after, total, rows)
