"""Incremental ANN index maintenance from a streaming vector source.

The persisted LSH / IVF / PQ indexes (operators/similarity.py) are built
once; without maintenance, serving goes stale the moment the corpus
stream lands new vectors. This stream folds each micro-batch of newly
ingested vectors into every index present under ``index_dir`` —
detected by its parameter sidecar — by encoding the batch with the
index's FROZEN parameters (seeded hyperplanes / persisted centroids /
persisted codebooks; retraining is an offline rebuild, standard ANN
practice) and appending an increment the serving readers union with the
base table (``_with_increments``). The pruning partition column (bucket
/ cluster) is preserved on increments, so indexed probes keep their
planning-time partition pruning over base AND increments.

Exactly-once without a transactional sink, the repo's standard recipe:
each increment is keyed by micro-batch id (``ingest_batch=B``) and
written tmp + atomic rename, so a crash-replay of the same batch
overwrites its own directory (idempotent); a fresh-checkpoint replay of
already-folded files is skipped by the ``last_index_increment`` guard.
Per-batch cost is O(batch) per family — nothing existing is read or
rewritten (contrast: the packed/rollup sinks must merge; an index
increment is pure append).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import (
    append_index_increments,
    index_increment_bounds,
    _index_store_map,
)
from ..batchstore import maybe_consolidate_in_stream, run_view


def start_index_stream(
    spark: SparkSession,
    vectors_dir: str | Path,
    index_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Stream parquet files of new vectors into the increments of every
    persisted index under ``index_dir``. ``consolidate_every=N`` folds
    each family's increment dirs in-stream every N batches (bounded at
    the previous batch, inside the stream's own foreachBatch — no
    stop-the-stream window); ``None`` = offline-only maintenance. ``vectors_dir`` must hold only
    vectors NOT in the base build (the base snapshot and the increment
    feed are disjoint by construction in an ingest pipeline — the base is
    built from a snapshot, the stream consumes arrivals after it).
    ``available_now=True`` drains what's landed and stops."""
    idx = Path(index_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        lo, hi = index_increment_bounds(idx)
        if batch_id <= lo:
            return  # replay of a batch already folded into every family
        # Empty micro-batches (schema-only file, idle trigger) fall
        # through: append_index_increments delegates to the shared
        # increment protocol, which records an empty fold as a
        # dot-prefixed SENTINEL — no data dir is written (a file-less
        # partitioned dir would poison every later base∪increments
        # read), and the per-family id sequence stays gap-free for the
        # replay bounds and the r18 store-invariant sweep (an empty
        # batch skipped outright would read as a gapped id at rest).
        if batch_id < hi:
            # Unreachable under one checkpoint (ids only grow): the
            # increment stores disagree with this stream's numbering —
            # typically a family was (re)built into an index_dir whose
            # other families hold increments, and the checkpoint was
            # reset, renumbering the replay from 0. Folding would
            # duplicate every replayed vector into the already-folded
            # families under new batch ids. Refuse loudly: either
            # restore the original checkpoint (numbering resumes and the
            # new family fills forward from its base snapshot), or
            # rebuild ALL families from one snapshot and start a fresh
            # checkpoint over post-snapshot arrivals only.
            raise RuntimeError(
                f"index increment stores at {idx} disagree with stream "
                f"batch numbering (batch {batch_id}, per-family bounds "
                f"[{lo}, {hi}]): restore the original checkpoint or "
                "rebuild all index families from one snapshot"
            )
        append_index_increments(
            batch_df, idx, batch_id, id_col=id_col, vec_col=vec_col
        )
        maybe_consolidate_in_stream(
            spark, _index_store_map(idx), batch_id, consolidate_every
        )

    return run_view(
        spark, vectors_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )
