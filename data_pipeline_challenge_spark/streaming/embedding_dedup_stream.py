"""Incremental embedding-cosine near-dedup against history — the
EMBEDDING-modality gate, completing the streaming dedup family (exact
fingerprints: ``dedup_stream``; text MinHash: ``near_dedup_stream``;
vectors: here).

A new vector is KEPT iff no already-KEPT vector (nor a smaller-id vector
in the same batch) has cosine similarity ≥ ``min_cos`` with it. The kept
set IS a persisted hyperplane-LSH index (``operators/similarity.py``
layout: ``bucketed/`` base partitioned by bucket + ``bucketed_inc/``
micro-batch increments + the ``lsh_meta.json`` parameter sidecar), so
the maintained store is directly servable by ``lsh_topk_indexed`` —
dedup maintenance and ANN serving share one structure, the production
arrangement.

Candidate generation is the index's own probe geometry: a new vector is
compared only against vectors whose bucket lies within Hamming-1 of its
own (the same multi-probe neighborhood ``ann_topk`` scans — a
same-bucket-only check misses near-dups straddling one hyperplane).
Per-batch cost shape:

- the batch is bucketed once with the index's FROZEN seeded planes
  (one Arrow matmul pass);
- the probe-bucket list is a driver literal (≤ batch × (n_planes+1),
  deduplicated), so the history scan is partition-pruned at planning
  time over base AND increments, and the history side joins against the
  BROADCAST exploded batch — never shuffled;
- per-bucket reference fan-out is capped (``bucket_cap``, smallest ids
  win, deterministic): a deduplicated history cannot crowd a bucket
  with exact copies, but near-threshold families can accrete — the cap
  bounds the verify join at the standard recall trade-off;
- verification is the pure-Catalyst ``cosine`` fold over candidate
  pairs only.

Intra-batch rule, documented honestly: a vector is dropped iff some
SMALLER-ID batch vector (kept or itself dropped) or any historical kept
vector matches it — the deterministic greedy rule (order-free, replay
stable), not a transitive re-clustering; a chain a~b~c with a≁c drops
both b and c even though c only matched the dropped b. The batch
operator family (``cosine_near_pairs`` + connected components) remains
the offline re-clustering path.

Exactly-once: increments are keyed by micro-batch id (tmp + atomic
rename, idempotent overwrite). Bootstrap: the first batch BUILDS the
index base from its kept set, and the ``lsh_meta.json`` sidecar —
written LAST, carrying ``base_batch`` — is the commit point; the replay
guard skips batches at or below ``max(base_batch, last increment)``,
and a crash mid-bootstrap simply rebuilds the identical base. An
externally-built index (``lsh_build_index`` over a snapshot) works too:
its sidecar has no ``base_batch``, so the stream folds every batch as an
increment. A dedicated index dir is required —
mixing this gate with ``index_stream``-maintained IVF/PQ families in one
dir would desynchronize their per-family batch numbering.

Offline maintenance: ``batchstore.compact_view(spark, VIEW,
index_dir)`` on ``bucketed_inc`` (preserving the bucket partition
column), plus the usual rebuild-from-snapshot path for parameter
changes.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    read_store,
    read_table,
    record_table_schema,
)
from ..functions.vectorfn import as_double, cosine
from ..operators.similarity import _LSH_SEED, _with_increments, with_lsh_bucket
from ..session import pinned


def _base_batch(index_dir: Path) -> int:
    """The micro-batch id that bootstrapped the base table, from the meta
    sidecar (-1 when absent or when the base was built externally by
    ``lsh_build_index``). The sidecar is written LAST in the bootstrap —
    its presence commits the base — so a crash mid-bootstrap replays the
    first batch from scratch instead of re-checking it against its own
    half-written base (which would re-append every kept row as an
    increment: base ∪ increment duplicates)."""
    p = index_dir / "lsh_meta.json"
    if not p.exists():
        return -1
    return int(json.loads(p.read_text()).get("base_batch", -1))


def current_kept_vectors(
    spark: SparkSession, index_dir: str | Path
) -> DataFrame | None:
    """The maintained near-duplicate-free vector set (base ∪ increments
    — the same view ``lsh_topk_indexed`` serves), or None before the
    first batch."""
    index_dir = Path(index_dir)
    if not (index_dir / "lsh_meta.json").exists():
        return None
    return _with_increments(
        spark, index_dir / "bucketed", index_dir / "bucketed_inc"
    ).drop("ingest_batch")


def fold_batch(
    spark: SparkSession,
    index_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 12,
    min_cos: float = 0.95,
    bucket_cap: int = 256,
) -> DataFrame | None:
    """Fold ONE micro-batch of vectors through the gate. Returns the
    batch's KEPT rows (bucketed), or None when nothing was kept / the
    batch is empty. Idempotent under replay (see module docstring)."""
    idx = Path(index_dir)
    inc_store = idx / "bucketed_inc"
    meta_p = idx / "lsh_meta.json"
    base_batch = _base_batch(idx)
    if not admit_batch(idx, batch_id, inc_store, floor=base_batch):
        kept = read_store(spark, inc_store, batch_id)
        if kept is None and base_batch == batch_id and (idx / "bucketed").exists():
            kept = read_table(spark, idx / "bucketed")
        return kept

    first = not meta_p.exists()
    if first:
        if dim is None:
            row = batch_df.select(F.size(vec_col).alias("d")).first()
            if row is None:
                return None  # empty first batch: nothing to bootstrap from
            dim = int(row["d"])
        meta = {"dim": dim, "n_planes": n_planes}
    else:
        meta = json.loads(meta_p.read_text())

    with pinned() as pin:
        bucketed = pin(with_lsh_bucket(
            batch_df,
            meta["dim"],
            meta["n_planes"],
            vec_col,
            # honor the index's RECORDED seed (an externally-built or older
            # index may differ from the module constant): bucketing new
            # vectors with different hyperplanes than the base would probe
            # the wrong buckets and append inconsistently-bucketed increments
            seed=meta.get("seed"),
        ))
        if not bucketed.take(1):
            # empty micro-batch: sentinel accounting keeps the id
            # sequence gap-free for the sequential guard (r18)
            account_empty_fold((inc_store,), batch_id)
            return None

        # Probe neighborhood of each new vector: own bucket + Hamming-1.
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(meta["n_planes"])
            ],
        )
        exploded_new = bucketed.select(
            F.col(id_col).alias("new_id"),
            as_double(F.col(vec_col)).alias("new_vec"),
            F.explode(probes).alias("pbucket"),
        )

        # References: history (any id) ∪ smaller-id batch vectors.
        refs = bucketed.select(
            F.col(id_col).alias("ref_id"),
            as_double(F.col(vec_col)).alias("ref_vec"),
            "bucket",
            F.lit(False).alias("is_hist"),
        )
        if not first:
            probe_buckets = sorted(
                {
                    int(r["pbucket"])
                    for r in exploded_new.select("pbucket").distinct().collect()
                }
            )
            hist = (
                _with_increments(
                    spark, idx / "bucketed", inc_store, ("bucket", probe_buckets)
                )
                .select(
                    F.col(id_col).alias("ref_id"),
                    as_double(F.col(vec_col)).alias("ref_vec"),
                    "bucket",
                    F.lit(True).alias("is_hist"),
                )
            )
            # Deterministic per-bucket reference cap (smallest ids win),
            # with per-batch cap-pressure audit — a crowded bucket can
            # push a true near-dup's kept twin past the cap and silently
            # admit the dup; the audit is the operator's signal.
            from ..batchstore import CapAudit, cap_per_bucket

            hist = cap_per_bucket(
                hist, ["bucket"], "ref_id", bucket_cap,
                audit=CapAudit(idx, "bucketed", batch_id),
            )
            refs = refs.unionByName(hist)

        # History refs match on ANY id — including new_id == ref_id: a
        # re-delivered (id, vector) from an at-least-once upstream must
        # compare against its own kept entry and be dropped, not
        # appended a second time. The < constraint (which also excludes
        # self-pairs) applies only to the intra-batch side.
        cand = refs.join(
            F.broadcast(exploded_new),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("is_hist") | (F.col("ref_id") < F.col("new_id"))),
        )
        dropped = (
            cand.filter(cosine(F.col("ref_vec"), F.col("new_vec")) >= min_cos)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        kept = bucketed.join(F.broadcast(dropped), id_col, "left_anti")

        if first:
            # Bootstrap: the kept set becomes the index base. The meta
            # sidecar is written LAST — it is the commit point (see
            # ``_base_batch``); a replay before it lands rebuilds the
            # identical base from scratch.
            kept.repartition(F.col("bucket")).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(str(idx / "bucketed"))
            record_table_schema(kept, idx / "bucketed", "bucket")
            meta_p.write_text(
                json.dumps(
                    {
                        "dim": meta["dim"],
                        "n_planes": meta["n_planes"],
                        "seed": _LSH_SEED,
                        "base_batch": batch_id,
                    }
                )
            )
            return read_table(spark, idx / "bucketed")

        # An all-duplicate batch keeps nothing: append_batch_increment
        # writes no parquet (a file-less partitioned dir would poison
        # every later read of the store AND wedge this very batch's
        # replay on the read-back) but DOES drop an ``.empty.b{B}``
        # sentinel, so the replay guard advances past this empty fold —
        # a re-delivered batch is recognized as already folded rather
        # than recomputed.
        if not append_batch_increment(
            kept, inc_store, batch_id, partition_by="bucket"
        ):
            return None
        return read_store(spark, inc_store, batch_id)


# The increment store keeps its bucket partitioning through consolidation.
VIEW = View(fold=fold_batch, stores={"bucketed_inc": ["bucket"]})
