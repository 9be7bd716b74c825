"""Continuous-aggregate maintenance over a streaming events source.

The streaming face of ``operators/rollup.py`` (the hypertable refresh
policy analog): events files arriving in a directory fold into the hourly
rollup table per micro-batch — raw events are read exactly once, and the
rollup stays query-ready at all times. Downstream day/week views
re-aggregate the rollup, never raw history.

Exactly-once without a transactional sink: the rollup publish is
versioned by micro-batch id. Each batch writes ``data.v{batch_id}`` (tmp
dir + atomic rename) and repoints the ``current`` symlink. On restart
after a crash, Spark replays the last uncommitted batch; the sink sees an
existing version dir with ``>= batch_id`` and skips the merge (repairing
the symlink if the crash hit between rename and publish), so a replayed
batch can never double-count into the sums. This is the idempotent-sink
half of the exactly-once contract (the checkpoointed file source is the
other half) — same discipline as sources/ledger.py's state publish.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..catalog import ntz_epoch_us
from ..batchstore import has_rebuilt_marker, run_view, sequential_fold_guard
from ..operators.rollup import hourly_rollup, merge_rollups
from ..versioning import retire_versions, swap_symlink

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _versions(rollup_dir: Path) -> list[tuple[int, Path]]:
    if not rollup_dir.exists():
        return []
    out = []
    for p in rollup_dir.iterdir():
        name = p.name
        if name.startswith("data.v") and name[6:].isdigit():
            out.append((int(name[6:]), p))
    return sorted(out)


def _prev_read_target(table_dir: Path) -> Path | None:
    """What a reader could be pinned to BEFORE the next publish: the
    ``current`` symlink target, or — no symlink (pre-first-publish crash
    window) — the newest version dir the ``current_*()`` fallback ranks
    first. Must be captured BEFORE the new version dir is created, or
    the fallback resolves to the new dir itself and retention
    (``versioning.retire_versions``: keep {new, previously-read}) would
    delete the directory readers are actually scanning. Rank-based
    keep-2 retention is NOT equivalent: a complete-but-unpublished
    remnant of a crashed ``compact_published_table`` outranks the
    published version and would displace it from the window."""
    cur = table_dir / "current"
    if cur.is_symlink():
        target = table_dir / os.readlink(cur)
        if target.exists():
            return target
    versions = _versions(table_dir)
    return versions[-1][1] if versions else None


def _publish(rollup_dir: Path, version_dir: Path) -> None:
    swap_symlink(rollup_dir / "current", version_dir.name)


def _mark_folded(version_dir: Path, batch_id: int) -> None:
    """Record the highest micro-batch id folded into this version. The
    underscore prefix keeps the marker invisible to parquet readers."""
    (version_dir / "_folded_batch").write_text(str(batch_id))


def _last_folded(table_dir: Path) -> int | None:
    """Highest micro-batch id folded into the latest version, or None
    before the first publish — the replay-skip authority. Version NUMBERS
    are only a publish order: online compaction
    (operators/maintenance.compact_published_table) creates new versions
    with no new batch folded, so the skip check must read the marker, not
    the version number, or the first post-compaction batch would be
    swallowed. Dirs written before the marker existed used the batch id AS
    the version number, hence the fallback."""
    versions = _versions(table_dir)
    if not versions:
        return None
    n, p = versions[-1]
    marker = p / "_folded_batch"
    if marker.exists():
        return int(marker.read_text().strip())
    return n


def _next_version(table_dir: Path, batch_id: int) -> int:
    """Version number for the dir folding ``batch_id``: strictly above
    every existing version (compaction may have advanced past the batch
    id), aligned with the batch id when nothing else intervened."""
    versions = _versions(table_dir)
    top = versions[-1][0] + 1 if versions else 0
    return max(top, batch_id)


def current_rollup(spark: SparkSession, rollup_dir: str | Path) -> DataFrame | None:
    """The latest published rollup, or None before the first batch.

    Resolves the ``current`` symlink ONCE at planning time and reads the
    pinned version directory — so the publish is load-bearing, and a
    concurrent batch repointing the symlink can't swap files out from
    under an in-flight scan (the resolved version survives one further
    publish before cleanup touches it). Falls back to the newest version
    dir when the symlink is absent (pre-first-publish crash window).
    Resolution delegates to ``_prev_read_target`` — retention keeps
    exactly what this resolves, so the two rules cannot drift."""
    target = _prev_read_target(Path(rollup_dir))
    if target is None:
        return None
    return spark.read.parquet(str(target))


def start_rollup_stream(
    spark: SparkSession,
    events_dir: str | Path,
    rollup_dir: str | Path,
    checkpoint_dir: str | Path,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream events parquet files into the incrementally-maintained
    hourly rollup. ``available_now=True`` drains what's landed and stops
    (the refresh-job trigger); ``False`` runs continuously."""
    rdir = Path(rollup_dir)
    rdir.mkdir(parents=True, exist_ok=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = _last_folded(rdir)
        if last is not None and last >= batch_id:
            # crash-replay of an already-folded batch: never re-merge;
            # repair the symlink if the crash preceded the publish
            _publish(rdir, _versions(rdir)[-1][1])
            return
        # strict numbering check (r18, family-wide): a gapped id on a
        # rollup with folded history is a stale/foreign checkpoint —
        # each version merges its PREDECESSOR, so a silently folded gap
        # would drop the gap's events from every later version forever
        sequential_fold_guard(
            batch_id,
            last if last is not None else -1,
            rdir,
            rebuilt=has_rebuilt_marker(rdir),
        )
        prev = _prev_read_target(rdir)  # before any new dir exists
        ev = batch_df.withColumn(
            "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
        )
        delta = hourly_rollup(ev)
        base = current_rollup(spark, rdir)
        merged = delta if base is None else merge_rollups(base, delta)

        next_n = _next_version(rdir, batch_id)
        tmp = rdir / f"data.v{next_n}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        merged.write.mode("overwrite").parquet(str(tmp))
        _mark_folded(tmp, batch_id)  # before rename: marker is never absent
        final = rdir / f"data.v{next_n}"
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
        _publish(rdir, final)
        # Retain {new, previously-read} by identity: a reader that
        # resolved the symlink just before this publish may still be
        # scanning it, and a complete-but-unpublished compaction remnant
        # must not displace it (see _prev_read_target).
        retire_versions((p for _, p in _versions(rdir)), keep=(final, prev))

    return run_view(
        spark, events_dir, EVENTS_SCHEMA, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )
