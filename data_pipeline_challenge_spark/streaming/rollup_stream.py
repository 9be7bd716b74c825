"""Continuous-aggregate maintenance over a streaming events source.

The streaming face of ``operators/rollup.py`` (the hypertable refresh
policy analog): events files arriving in a directory fold into the hourly
rollup table per micro-batch — raw events are read exactly once, and the
rollup stays query-ready at all times. Downstream day/week views
re-aggregate the rollup, never raw history.

Exactly-once without a transactional sink: the rollup publish is
versioned by micro-batch id. Each batch writes ``data.v{batch_id}`` (tmp
dir + atomic rename) and repoints the ``current`` symlink. On restart
after a crash, Spark replays the last uncommitted batch; the sink sees a
newest version whose ``_folded_batch`` marker is ``>= batch_id`` and
skips the merge (repairing the symlink if the crash hit between rename
and publish), so a replayed batch can never double-count into the sums.
This is the idempotent-sink half of the exactly-once contract (the
checkpointed file source is the other half); the publish itself is the
one every versioned table uses (``versioning.VersionedTable.publish``).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..catalog import ntz_epoch_us
from ..batchstore import has_rebuilt_marker, run_view, sequential_fold_guard
from ..operators.rollup import hourly_rollup, merge_rollups
from ..versioning import mark_folded, stream_table

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _versions(rollup_dir: Path) -> list[tuple[int, Path]]:
    return [(int(p.name[6:]), p) for p in stream_table(rollup_dir).versions()]


def current_rollup(spark: SparkSession, rollup_dir: str | Path) -> DataFrame | None:
    """The latest published rollup, or None before the first batch.

    Resolves the ``current`` symlink ONCE at planning time and reads the
    pinned version directory — so the publish is load-bearing, and a
    concurrent batch repointing the symlink can't swap files out from
    under an in-flight scan (the resolved version survives one further
    publish before cleanup touches it). Falls back to the newest version
    dir when the symlink is absent (pre-first-publish crash window).
    Resolution is ``versioning.VersionedTable.read_target`` — the rule
    retention keeps, so what readers pin and what survives cannot drift."""
    target = stream_table(rollup_dir).read_target()
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
    table = stream_table(rdir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_folded()
        if last is not None and last >= batch_id:
            # crash-replay of an already-folded batch: never re-merge;
            # repair the symlink if the crash preceded the publish
            table.relink_newest()
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
        ev = batch_df.withColumn(
            "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
        )
        delta = hourly_rollup(ev)
        base = current_rollup(spark, rdir)
        merged = delta if base is None else merge_rollups(base, delta)

        def write(tmp: Path) -> None:
            merged.write.mode("overwrite").parquet(str(tmp))
            mark_folded(tmp, batch_id)

        table.publish(write, floor=batch_id)

    return run_view(
        spark, events_dir, EVENTS_SCHEMA, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )
