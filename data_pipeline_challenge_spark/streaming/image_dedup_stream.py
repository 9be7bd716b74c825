"""Image near-dedup gate — perceptual (dHash) screening against history,
as a stream stage.

The multimodal member of the dedup gate family: arriving image rows are
dHashed (``operators/multimodal.image_dhash`` — real pixels on the
dependency-free BMP tier) and screened against every image KEPT so far;
a new image within ``max_hamming`` of any kept image's hash is a
re-encoded/re-stored copy and diverts with the match as evidence. The
text gates catch textual duplication; this catches the same asset
re-uploaded through a different encode.

Semantics are the dedup_stream precedent: first arrival of a perceptual
neighborhood is kept, later arrivals divert, and within one micro-batch
the winner among mutual near-dups is the LOWEST media_id (deterministic,
partitioning-independent); history is the KEPT set only, so a diverted
copy never blocks a future doc that matches nothing kept (transitive
chains collapse to their kept representative, the near_dedup_stream
rule).

Scale shape: the kept-hash store is PARTITIONED by (band, band-hash
bucket) — each arriving hash probes exactly its ``n_bands`` band buckets
(driver-side literals ⇒ planning-time pruning), candidates are COMPLETE
for ``max_hamming <= n_bands - 1`` (pigeonhole, the
``image_near_dups``/simhash contract), and the verify step is one
bit_count per candidate. Per-batch cost is O(batch hashes + matched
buckets), never O(history); the default 4×16-bit bands keep bucket
population shrinking relative to corpus size.

Exactly-once follows the family recipe: ``kept``/``diverted`` increments
first, the banded-hash append LAST (its last batch id is the commit
point); a replayed batch returns its stored increment, a crash between
the writes replays against UNCHANGED history into the same overwritten
dirs.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    read_store,
)
from ..session import pinned

_N_BUCKETS = 64  # per-band hash buckets (partition key: band, bucket)


def _banded(sig: DataFrame, n_bands: int, id_alias: str) -> DataFrame:
    """(id, dhash) -> one row per band: (band, bh, bucket, id, dhash)."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("dhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bh"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sig.select(
            F.col("media_id").alias(id_alias), "dhash",
            F.explode(bands).alias("bb"),
        )
        .select(
            id_alias, "dhash",
            F.col("bb.band").alias("band"),
            F.pmod(F.col("bb.bh"), F.lit(_N_BUCKETS)).cast("int").alias("bucket"),
            F.col("bb.bh").alias("bh"),
        )
    )


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame | None:
    """Screen ONE micro-batch of media rows (``MEDIA_SCHEMA``-shaped:
    at least media_id/kind/payload). Non-image rows pass through KEPT
    untouched (this gate has no opinion on them). Returns the kept rows
    read back from the just-written increment, or None for an empty
    batch. Idempotent via the hash store's last-id guard."""
    from ..operators.multimodal import image_dhash

    n_bands = int(n_bands)
    if 64 % n_bands != 0:
        raise ValueError("n_bands must divide 64")
    if int(max_hamming) > n_bands - 1:
        raise ValueError(
            f"banded candidates are only complete for max_hamming <= "
            f"{n_bands - 1} with {n_bands} bands — raise n_bands instead "
            "of silently losing recall"
        )
    odir = Path(out_dir)
    kept_store = odir / "kept"
    hash_store = odir / "hashes"
    params = {
        "kind": "image_dedup",
        "max_hamming": int(max_hamming),
        "n_bands": n_bands,
        "n_buckets": _N_BUCKETS,
    }
    if not admit_batch(odir, batch_id, hash_store, params=params):
        return read_store(spark, kept_store, batch_id)

    with pinned() as pin:
        batch = pin(batch_df)
        if not batch.take(1):
            # empty micro-batch: sentinel accounting keeps the id
            # sequence gap-free for the sequential guard (r18)
            account_empty_fold((kept_store, hash_store), batch_id)
            return None
        sig = pin(image_dhash(batch))
        banded = pin(_banded(sig, n_bands, "media_id"))
        probes = sorted(
            (int(r["band"]), int(r["bucket"]))
            for r in banded.select("band", "bucket").distinct().collect()
        )
        hist = read_store(spark, hash_store) if probes else None
        if hist is not None:
            cond = None
            for bd, bk in probes:
                c = (F.col("band") == bd) & (F.col("bucket") == bk)
                cond = c if cond is None else (cond | c)
            hist = (
                hist.filter(cond)  # partition-pruned literal union
                .select(
                    "band", "bh",
                    F.col("media_id").alias("_hid"),
                    F.col("dhash").alias("_hh"),
                )
            )
        # candidates vs KEPT history: any shared band
        dup_vs_hist = None
        if hist is not None:
            dup_vs_hist = (
                banded.join(hist, ["band", "bh"])
                .filter(
                    F.bit_count(F.col("dhash").bitwiseXOR(F.col("_hh")))
                    <= int(max_hamming)
                )
                .groupBy("media_id")
                .agg(F.min("_hid").alias("dup_of"))
            )
        # intra-batch competition runs among HISTORY-CLEAN images only
        # (a history-dup must not block a clean image — the kept-set-only
        # rule), and the lowest media_id in a mutual-near clean group wins
        banded_clean = banded
        if dup_vs_hist is not None:
            banded_clean = banded.join(
                dup_vs_hist.select("media_id"), "media_id", "left_anti"
            )
        other = banded_clean.select(
            F.col("media_id").alias("_oid"),
            F.col("dhash").alias("_oh"),
            "band", "bh",
        )
        intra = (
            banded_clean.join(other, ["band", "bh"])
            .filter(
                (F.col("_oid") < F.col("media_id"))
                & (
                    F.bit_count(F.col("dhash").bitwiseXOR(F.col("_oh")))
                    <= int(max_hamming)
                )
            )
            .groupBy("media_id")
            .agg(F.min("_oid").alias("dup_of_intra"))
        )
        verdict = sig.join(intra, "media_id", "left")
        if dup_vs_hist is not None:
            verdict = verdict.join(dup_vs_hist, "media_id", "left")
        else:
            verdict = verdict.withColumn("dup_of", F.lit(None).cast("long"))
        # history outranks intra-batch (the earlier arrival is the
        # canonical copy)
        verdict = pin(verdict.select(
            "media_id", "dhash",
            F.coalesce("dup_of", "dup_of_intra").alias("dup_of"),
        ))
        kept_ids = verdict.filter(F.col("dup_of").isNull())
        diverted = verdict.filter(F.col("dup_of").isNotNull())
        non_image = batch.filter(F.col("kind") != "image")
        kept_rows = batch.join(
            kept_ids.select("media_id"), "media_id", "left_semi"
        ).unionByName(non_image)
        div_rows = batch.join(
            F.broadcast(diverted.select("media_id", "dup_of")), "media_id"
        )
        append_batch_increment(kept_rows, kept_store, batch_id)
        append_batch_increment(div_rows, odir / "diverted", batch_id)
        new_hashes = _banded(
            sig.join(kept_ids.select("media_id"), "media_id", "left_semi"),
            n_bands,
            "media_id",
        ).select("band", "bucket", "bh", "media_id", "dhash")
        append_batch_increment(
            new_hashes, hash_store, batch_id, partition_by=["band", "bucket"]
        )
    return read_store(spark, kept_store, batch_id)


def current_kept_media(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """Media rows the gate kept so far, or None before the first batch."""
    kept = read_store(spark, Path(out_dir) / "kept")
    return None if kept is None else kept.drop("ingest_batch")


def diverted_log(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Diverted rows with their ``dup_of`` evidence (the kept image they
    perceptually duplicate), or None if nothing was ever diverted."""
    diverted = read_store(spark, Path(out_dir) / "diverted")
    return None if diverted is None else diverted.drop("ingest_batch")


# Offline, the row stores are bounded at the hash store's commit frontier
# (the novelty / overlap discipline).
VIEW = View(
    fold=fold_batch,
    stores={"kept": None, "diverted": None, "hashes": ["band", "bucket"]},
    frontier="hashes",
)
