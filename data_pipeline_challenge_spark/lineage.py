"""Training-export lineage manifest — the reproducibility card for
"exactly which data state trained this model".

A training run reads the funnel's kept corpus and/or the maintained
packed table at some instant; months later an eval-contamination
question ("was benchmark X screened? was doc Y revoked before or after
the run?") is unanswerable unless that instant was captured. The
manifest records everything that DEFINES the data state, all from
store metadata plus two count+XOR aggregates:

- the funnel pin (transform/quality/decontam configuration — the
  verdict function) and each stage's replay horizon;
- the eval-generation ledger (base fingerprint + every applied delta)
  and how many docs the revocation stores hold;
- the packed table's published version, its folded-batch marker, and
  its applied revocation fingerprints;
- content fingerprints (row count + XOR of xxhash64 over the defining
  columns) of the corpus view and the packed table, so a trainer can
  verify the data it actually read matches the manifest byte-for-byte
  in expectation — order-insensitive, partitioning-independent, one
  aggregate per table.

Deterministic: no timestamps, no randomness — two calls against the
same warehouse produce the identical dict (callers stamp wall-clock
context themselves). Reference parity: the reference records per-file
ingestion provenance (file_id on every record, models.py:13); this is
the corpus-level composition of the same idea.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _content_fingerprint(df: DataFrame | None, cols: list[str]) -> dict | None:
    if df is None:
        return None
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(*[F.col(c).cast("string") for c in cols])
        ).alias("x"),
    ).first()
    return {
        "rows": int(row["n"]),
        "xor64": 0 if row["x"] is None else int(row["x"]),
        "columns": cols,
    }


def _read_json(p: Path) -> dict | list | None:
    try:
        return json.loads(p.read_text())
    except (OSError, ValueError):
        return None


def training_export_manifest(
    spark: SparkSession,
    funnel_dir: str | Path | None = None,
    packed_dir: str | Path | None = None,
    blocks_dir: str | Path | None = None,
) -> dict:
    """Assemble the manifest for a funnel warehouse, a maintained packed
    table, and/or a maintained group-texts block store (any may be
    omitted). Run while the streams are quiesced, like every other
    cross-store read."""
    from .batchstore import last_batch_id
    from .streaming import corpus_pipeline_stream as cps
    from .streaming.packing_stream import (
        _revocations_ledger,
        current_packed,
        current_revoked_keys,
    )
    from .versioning import stream_table

    out: dict = {"kind": "training_export_manifest", "version": 1}

    if funnel_dir is not None:
        fdir = Path(funnel_dir)
        stages = {}
        for name in ("quality", "decontam", "exact", "novelty", "near"):
            sdir = fdir / name
            if sdir.exists():
                stages[name] = {
                    "params": _read_json(sdir / "_gate_params.json"),
                    "docs_last_batch": last_batch_id(sdir / "docs"),
                }
        corpus = cps.current_corpus(spark, fdir)
        rev_store = fdir / "near" / "revoked"
        out["funnel"] = {
            "pin": _read_json(fdir / "_gate_params.json"),
            "eval_generations": _read_json(
                fdir / "decontam" / "eval_generations.json"
            ),
            "stages": stages,
            # all columns, like the packed table below: an id-only
            # fingerprint would certify membership but not content — two
            # corpora with the same doc_ids and different text (or a
            # changed transform output) must NOT produce equal manifests
            "corpus_fingerprint": _content_fingerprint(
                corpus, corpus.columns if corpus is not None else []
            ),
            "corpus_revocations": (
                last_batch_id(rev_store) + 1 if rev_store.exists() else 0
            ),
            "drift": cps.quality_drift_report(fdir),
        }

    if packed_dir is not None:
        pdir = Path(packed_dir)
        table = stream_table(pdir)
        target = table.read_target()
        packed = current_packed(spark, pdir)
        rev = current_revoked_keys(spark, pdir)
        out["packed"] = {
            "published_version": target.name if target is not None else None,
            "folded_batch": table.last_folded(),
            "revocations_applied": _revocations_ledger(pdir),
            "revoked_keys": 0 if rev is None else rev.distinct().count(),
            "table_fingerprint": _content_fingerprint(
                packed, packed.columns if packed is not None else []
            ),
        }

    if blocks_dir is not None:
        from .streaming.group_texts_stream import current_blocks

        bdir = Path(blocks_dir)
        table = stream_table(bdir)
        target = table.read_target()
        blocks = current_blocks(spark, bdir)
        brev = current_revoked_keys(spark, bdir)
        out["blocks"] = {
            "published_version": target.name if target is not None else None,
            "folded_batch": table.last_folded(),
            "revocations_applied": _revocations_ledger(bdir),
            "revoked_keys": 0 if brev is None else brev.distinct().count(),
            # fingerprints the ASSIGNMENT MAP (shard/block/doc/offsets):
            # any revocation or re-fold that moves a single slice moves
            # the fingerprint, so "was doc Y's text in the training
            # sequences exported at manifest M" is answerable
            "table_fingerprint": _content_fingerprint(
                blocks, blocks.columns if blocks is not None else []
            ),
        }

    return out
