"""The composed training-corpus ingestion pipeline — one stream, four
gates.

A production training-data pipeline runs its screens in sequence on
every arriving batch: a predicate quality gate, benchmark
decontamination, exact dedup against everything ever kept, and
near-dedup (MinHash+LSH) against the kept set. This module chains the
gates' ``fold_batch`` cores inside a SINGLE ``foreachBatch``, so one
checkpointed file source drives the whole funnel:

    corpus files ─▶ transform ─▶ quality ─▶ decontam ─▶ exact dedup ─▶ near dedup
                    (stateless    (predicate, (eval      (novel fps    (no verified
                     normalize/    rejects    overlap     only)         near-dup
                     redact map)   audited)   diverted)                 among kept)

The optional transform stage (``transform_exprs``) is a stateless
Catalyst map applied before any screen — canonical normalization or
PII redaction (``functions.textfn.scrub_pii``) — so every downstream
verdict, fingerprint, near-dup signature, and the stored kept corpus
all see the SAME canonical text: two documents differing only in
redacted spans deduplicate together, and no raw PII ever reaches a
store. Being deterministic and store-free it needs no replay
bookkeeping of its own.

Cheapest screen first: the quality stage is a pure predicate (one map
pass), so the stateful gates never pay their probe/index costs for rows
a Catalyst expression would have dropped.

``out_dir`` layout: ``quality/``, ``decontam/``, ``exact/``, ``near/`` — each stage's
OWN standard store layout (audit log, fingerprint index, band index),
so every stage's readers, consolidation helpers, and cost shapes are
exactly those of its standalone stream. The final corpus is
``near/docs`` (:func:`current_corpus`).

Crash consistency across stages: each stage keys its increments by the
shared micro-batch id and its ``fold_batch`` is idempotent — an
already-folded stage returns its STORED increment instead of
re-folding. A crash mid-pipeline (stage k done, stage k+1 not) replays
the batch: stages ≤ k skip-and-return their stored output, stages > k
fold it — no stage ever sees a different input for the same batch id,
because every stage's verdict is a deterministic function of (its
stores before the batch, the batch). Per-batch cost is the sum of the
stages' costs: O(batch) for the gate, O(batch + touched-prefix index
slices) for the dedups — never O(corpus).

Maintenance: the stream consolidates its own stores in-stream every
``consolidate_every`` batches (bounded at the previous,
checkpoint-committed batch — the current batch's increment dirs, which
the crash-mid-pipeline replay path above reads, always survive a fold).
The offline composition (:func:`compact_pipeline_stores`) remains for
quiesced warehouses; run it only after a clean drain.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from . import (
    components_stream,
    decontam_stream,
    dedup_stream,
    filter_gate_stream,
    near_dedup_stream,
    novelty_stream,
    retrieval_stream,
)
from ..batchstore import (
    canonical_column_str,
    compact_view,
    ensure_store_params,
    maybe_consolidate_in_stream,
    read_store,
    run_view,
    view_stores,
)
from ..session import local_frame

# The funnel's stages in fold order: (subdir, view, the report's counts —
# metric -> reader of the stage dir). One table drives the in-stream
# hook's store union, the offline compaction and the report.
_STAGES = (
    ("quality", filter_gate_stream.VIEW, {
        "admitted": filter_gate_stream.current_admitted_docs,
        "rejected": filter_gate_stream.rejected_log,
    }),
    ("decontam", decontam_stream.VIEW, {
        "clean": decontam_stream.current_clean_docs,
        "contaminated": decontam_stream.contamination_log,
    }),
    ("exact", dedup_stream.VIEW, {"novel": dedup_stream.current_novel_docs}),
    ("novelty", novelty_stream.VIEW, {
        "admitted": novelty_stream.current_admitted_docs,
        "rejected": novelty_stream.rejected_log,
    }),
    ("near", near_dedup_stream.VIEW, {"kept": near_dedup_stream.current_kept_docs}),
    ("clusters", components_stream.VIEW, {
        "labeled_docs": components_stream.current_components,
    }),
)


def current_corpus(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The fully-screened corpus (what survived every gate), or None
    before the first batch."""
    return near_dedup_stream.current_kept_docs(spark, Path(out_dir) / "near")


def current_dup_clusters(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """(vertex=doc id, component=cluster label) over the funnel's live
    verified-pair history — the composed dup-cluster view maintained
    when the funnel runs with ``components=True``. None before the
    first pair (or when the view is disabled).

    Revocation stance (the band-index rule, applied to labels): a
    REVOKED doc's cluster label intentionally remains — like its
    signatures in the band index, the label is how near-duplicates of
    revoked content stay recognized; callers wanting only live docs
    join this view against :func:`current_corpus` (which does apply
    revocations)."""
    return components_stream.current_components(
        spark, Path(out_dir) / "clusters"
    )


def compact_pipeline_stores(spark: SparkSession, out_dir: str | Path) -> dict:
    """OFFLINE: consolidate every stage's per-batch stores. Run only
    after a clean drain (stream stopped, no crash-replay pending)."""
    odir = Path(out_dir)
    return {
        stage: compact_view(spark, view, odir / stage)
        for stage, view, _ in _STAGES
        if (odir / stage).exists()
    }


def _record_retrieval_pointer(funnel_dir: Path, index_dir: Path) -> None:
    """Record (append) a maintained retrieval index's location at the
    funnel root (``_retrieval_index.json``, atomic, idempotent): the
    funnel's revocation machinery must know every derived index so
    eval-generation upgrades can propagate (VERDICT r11 #1) — an index
    nobody remembers would silently keep serving revoked docs. A list,
    not a scalar: switching the stream to a fresh index dir (the
    fell-behind rebuild path) must not orphan the old one mid-life."""
    import json

    p = funnel_dir / "_retrieval_index.json"
    dirs: list[str] = []
    if p.exists():
        try:
            dirs = json.loads(p.read_text()).get("dirs", [])
        except (OSError, ValueError):
            dirs = []
    d = str(Path(index_dir).resolve())
    if d in dirs:
        return
    dirs.append(d)
    tmp = p.parent / f".{p.name}.tmp"
    tmp.write_text(json.dumps({"dirs": dirs}, sort_keys=True))
    os.replace(tmp, p)


def _retrieval_pointer_dirs(funnel_dir: Path) -> list[Path]:
    import json

    p = funnel_dir / "_retrieval_index.json"
    if not p.exists():
        return []
    try:
        return [Path(d) for d in json.loads(p.read_text()).get("dirs", [])]
    except (OSError, ValueError):
        return []


def _sync_index_revocations(
    spark: SparkSession, funnel_dir: Path, id_col: str
) -> None:
    """Propagate the funnel's corpus-level revocations (``near/revoked``)
    into every recorded retrieval index: ``revoke_docs`` is idempotent
    and membership-checked, so syncing the WHOLE store converges after
    any crash (a fresh report would be empty on re-run, because
    ``current_corpus`` already excludes the previous attempt's rows).
    A recorded-but-missing index dir is an error, not a skip: skipping
    an unmounted index would silently recreate the revoked-doc-served
    bug — delete the entry from ``_retrieval_index.json`` if the index
    was deliberately abandoned."""
    revoked = read_store(spark, funnel_dir / "near" / "revoked")
    if revoked is None:
        return
    ids = revoked.select(id_col).distinct()
    for idx_dir in _retrieval_pointer_dirs(funnel_dir):
        if not idx_dir.exists():
            raise RuntimeError(
                f"funnel records a retrieval index at {idx_dir} but the dir "
                "is missing: revocations cannot propagate — remove its entry "
                "from _retrieval_index.json if it was deliberately abandoned"
            )
        retrieval_stream.revoke_docs(spark, idx_dir, ids)


def _last_committed_batch(checkpoint_dir: str | Path) -> int:
    """Newest batch id the streaming checkpoint COMMITTED — one
    definition, shared with the standalone near-dedup stream's
    lateness guard (r18)."""
    return near_dedup_stream.last_committed_batch(checkpoint_dir)


def revoke_corpus_eval_generation(
    spark: SparkSession,
    out_dir: str | Path,
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame | None:
    """Grow a composed funnel's eval set in place (run while the stream
    is STOPPED): the funnel-level form of
    ``decontam_stream.add_eval_generation``. Two screens, mirror first
    so the stage ledger's commit stays the overall commit point
    (at-least-once safe — a crash after the mirror re-runs both, and
    duplicate revocation rows are harmless under the readers'
    anti-joins):

    1. The FINAL corpus (``near/docs`` kept set) is screened against the
       delta and newly-contaminated docs land in ``near/revoked`` —
       ``current_corpus`` excludes them immediately. The band index
       intentionally keeps their signatures: near-duplicates of revoked
       content must still be recognized, and genuinely new arrivals are
       screened against the union by the upgraded decontam stage anyway.
    2. Corpus-level revocations propagate to every maintained retrieval
       index the funnel recorded (``_retrieval_index.json`` →
       ``retrieval_stream.revoke_docs``): a doc gone from
       ``current_corpus`` must also stop being searchable and stop
       counting into idf/avgdl. Whole-store sync, idempotent, so any
       crash re-run converges.
    3. ``add_eval_generation`` on the ``decontam`` stage revokes at that
       stage's own view and upgrades its pin to the union fingerprint,
       so the next ``start_corpus_pipeline_stream`` with the union
       ``eval_df`` is accepted (the funnel root pin records only stage
       PRESENCE, which does not change).

    Returns the corpus-level revocations (empty frame if none), or None
    when the delta was already applied."""
    import json

    from ..batchstore import append_batch_increment, last_batch_id
    from ..operators.decontam import contamination_report

    odir = Path(out_dir)
    stage = odir / "decontam"
    if not (stage / "_gate_params.json").exists():
        raise RuntimeError(
            f"funnel at {odir} has no decontamination stage: eval-set "
            "growth is meaningless without one (start the pipeline with "
            "eval_df to add the stage into a fresh out_dir)"
        )
    params = json.loads((stage / "_gate_params.json").read_text())
    ledger_p = stage / "eval_generations.json"
    applied = (
        json.loads(ledger_p.read_text())["applied"] if ledger_p.exists() else []
    )
    if decontam_stream.eval_fingerprint(delta_df, id_col, text_col) in applied:
        # Already committed: heal the stage pin (and any index that
        # missed the sync) if needed, change nothing else.
        _sync_index_revocations(spark, odir, id_col)
        return decontam_stream.add_eval_generation(
            spark, stage, delta_df, id_col, text_col
        )

    corpus = near_dedup_stream.current_kept_docs(spark, odir / "near")
    out = None
    if corpus is not None:
        rev = contamination_report(
            corpus, delta_df, id_col, text_col, n=int(params["n"])
        ).filter(F.col("n_shared") >= int(params["min_shared"]))
        gen = last_batch_id(odir / "near" / "revoked") + 1
        from ..batchstore import record_anti_join_key

        record_anti_join_key(odir / "near" / "revoked", id_col)
        if append_batch_increment(rev, odir / "near" / "revoked", gen):
            out = read_store(spark, odir / "near" / "revoked", gen)
    # Index propagation BEFORE the stage-ledger commit, so a crash in
    # between re-runs the full path (the fingerprint is not yet in the
    # ledger) and the idempotent whole-store sync converges.
    _sync_index_revocations(spark, odir, id_col)
    stage_out = decontam_stream.add_eval_generation(
        spark, stage, delta_df, id_col, text_col
    )
    return out if out is not None else stage_out


def pipeline_pin(
    transform_exprs: dict[str, Column] | None,
    quality_expr: Column | None,
    decontam: bool,
    novelty: dict | None = None,
) -> dict:
    """The funnel root's pinned configuration dict (see the
    ``ensure_store_params`` call in :func:`start_corpus_pipeline_stream`).
    Expressions are recorded via :func:`~..batchstore.canonical_column_str`
    because raw ``str(Column)`` is NOT construction-stable — Spark
    gensyms lambda variable names in higher-order functions, so an
    identical-config restart would otherwise be refused. Exposed so the
    restart matrix test can exercise every configuration cheaply."""
    pin = {
        "kind": "corpus_pipeline",
        "transform_exprs": (
            {c: canonical_column_str(e) for c, e in sorted(transform_exprs.items())}
            if transform_exprs
            else {}
        ),
        "quality_expr": (
            None if quality_expr is None else canonical_column_str(quality_expr)
        ),
        "decontam": decontam,
    }
    if novelty:
        # key present only when the stage is ON: adding/removing the
        # novelty stage changes the composed verdict function (refused on
        # restart), while warehouses built before the stage existed keep
        # restarting under their original pin
        pin["novelty"] = dict(novelty)
    return pin


def start_corpus_pipeline_stream(
    spark: SparkSession,
    corpus_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    id_col: str,
    text_col: str,
    quality_expr: Column | None = None,
    eval_df: DataFrame | None = None,
    transform_exprs: dict[str, Column] | None = None,
    n: int = 3,
    min_shared: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.8,
    n_prefix: int = 256,
    bucket_cap: int = 64,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
    min_input_partitions: int | None = None,
    drift_score_expr: Column | None = None,
    retrieval_index_dir: str | Path | None = None,
    novelty_max_share: float | None = None,
    novelty_shingle_n: int = 8,
    components: bool = False,
) -> StreamingQuery:
    """Stream corpus parquet files through the full screening funnel.
    ``quality_expr=None`` omits the quality stage (pass e.g.
    ``filter_gate_stream.gopher_keep(text_col)``); ``eval_df=None``
    omits the decontamination stage. ``transform_exprs`` maps column
    name → Catalyst expression, applied to every batch BEFORE any gate
    (``{text_col: textfn.scrub_pii(F.col(text_col))}`` is the canonical
    redaction tier) — deterministic and store-free, so crash replay
    re-derives it identically. ``available_now=True`` drains
    what's landed and stops. ``consolidate_every=N`` folds every stage's
    accumulated batch dirs in-stream each N batches (no stop-the-stream
    window); ``None`` = offline-only maintenance.

    ``min_input_partitions`` guards against the intra-batch starvation
    the funnel throughput measurement surfaced (README: a 25k-doc batch
    landing as ONE parquet file runs the scrub+quality scan
    near-serially, 140s vs 14s at 8 files/batch): when a micro-batch
    arrives with fewer partitions, it is repartitioned up BEFORE the
    transform and gate stages. Every batch's input file count, arriving
    partition count, and post-guard partition count are recorded in the
    ``input_audit`` store and summarized by :func:`pipeline_report`, so
    an operator sees the starvation instead of inferring it from wall
    time. Deterministic per batch (a pure function of the batch's file
    set), so crash replay re-records identically.

    ``drift_score_expr`` (e.g. the ``quality_drift_psi`` score) turns on
    the per-batch DRIFT monitor: each micro-batch's score histogram
    (integer floors of the 4-decimal-rounded score, clamped to [0, 9],
    measured on the POST-transform rows every gate sees) is recorded in
    ``drift_audit/``; :func:`quality_drift_report` computes the PSI of
    the latest batch against the accumulated earlier batches and
    :func:`pipeline_report` surfaces it. Observational only — it is
    deliberately NOT in the funnel pin (changing the monitored score
    can never corrupt stored verdicts), so it can be added to a live
    warehouse.

    ``retrieval_index_dir`` additionally folds each batch's KEPT rows
    into a maintained BM25 index (``retrieval_stream``) — the screened
    corpus is immediately searchable without rescanning text. Like the
    drift monitor it is derived output, NOT part of the funnel pin; but
    unlike drift an index covering only part of the corpus would be
    silently wrong, so enabling it on a warehouse that already folded
    batches is refused — backfill first
    (``retrieval_stream.backfill_retrieval_index``).

    ``novelty_max_share`` adds the NOVELTY stage (``novelty_stream``)
    between exact and near dedup: post-exact-dedup rows are scored
    against the maintained seen-shingle set and template re-flow at or
    above the share is diverted with score evidence. Exact copies are
    the dedup stage's verdict (they never reach this gate); the score
    columns stay in the novelty stage's own stores so downstream
    schemas are unchanged. Stage presence is part of the funnel pin.

    ``components=True`` (r17) additionally maintains the DUP-CLUSTER
    component view under ``out_dir/clusters``: the near-dedup stage
    chains its verified pairs into ``components_stream`` each batch, so
    ``current_dup_clusters`` serves live cluster labels. Derived output
    like the retrieval index, NOT part of the funnel pin — and with the
    same lateness rule: a cluster view covering only part of the pair
    history would be silently wrong, so enabling it on a warehouse that
    already folded batches is refused until
    ``near_dedup_stream.backfill_dup_clusters`` seeds it (stream
    stopped)."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)

    if retrieval_index_dir is not None:
        from ..batchstore import last_batch_id as _last

        # Refuse whenever the index is BEHIND the funnel's kept store
        # (ADVICE r11): a never-folded index on a folded warehouse, AND
        # an index that missed interim batches (funnel ran with the
        # index disabled, then re-enabled — those ids are behind the
        # checkpoint, so no replay will ever fold them). The one
        # tolerated gap: the index sits exactly at the checkpoint's
        # committed frontier and only UNcommitted near increments are
        # ahead of it — that is the mid-batch-crash window, and the
        # stream's replay folds it on restart.
        _, _rtid = retrieval_stream._latest_totals(Path(retrieval_index_dir))
        _near_last = _last(odir / "near" / "docs")
        if _near_last >= 0 and (
            _rtid < 0
            or (_rtid < _near_last and _rtid != _last_committed_batch(checkpoint_dir))
        ):
            raise RuntimeError(
                "retrieval_index_dir is behind the funnel warehouse "
                f"(index totals at batch {_rtid}, kept store at "
                f"{_near_last}): the index would silently miss kept "
                "docs — rebuild it with "
                "retrieval_stream.backfill_retrieval_index into a fresh "
                "dir (stream stopped) first"
            )
        # The pointer is recorded at FOLD time (_run_gates), not here: a
        # stream that starts but never folds a batch must not record an
        # index dir that was never created — the revocation sync treats
        # a recorded-but-missing dir as an error.

    clusters_dir = odir / "clusters" if components else None
    clusters_n_prefix = 256
    if clusters_dir is not None:
        # Same lateness rule as the retrieval index (incl. its
        # unconditional never-folded refusal — code-review r17: a lost
        # checkpoint's commits log also reads -1, and a renumbered
        # replay over a partially-retained source dir would chain only
        # a suffix of the pair history). Shared with the standalone
        # near-dedup stream since r18 (ADVICE r17) — the helper also
        # resolves the chained fold's layout modulus from a
        # backfill-seeded store's pin.
        clusters_n_prefix = near_dedup_stream.ensure_components_coverage(
            odir / "near", clusters_dir, checkpoint_dir,
            default_n_prefix=clusters_n_prefix,
        )

    # Pin the FUNNEL-defining configuration at the pipeline root, same
    # drift-refusal contract as each gate's own params: the transform
    # rewrites what every fingerprint/signature in history was computed
    # FROM, and adding/removing/changing a stage changes the composed
    # verdict function — a restart that disagrees must fail loudly, not
    # silently judge new arrivals against incompatibly-built history.
    # Expressions are pinned via canonical_column_str (see pipeline_pin):
    # raw str(Column) is NOT construction-stable for lambda expressions.
    novelty_cfg = (
        None
        if novelty_max_share is None
        else {
            "shingle_n": int(novelty_shingle_n),
            "max_share": float(novelty_max_share),
        }
    )
    ensure_store_params(
        odir,
        pipeline_pin(
            transform_exprs, quality_expr, eval_df is not None, novelty_cfg
        ),
    )

    ev = None
    if eval_df is not None:
        # Same drift refusal as a standalone decontam gate: the composed
        # pipeline's decontam stage pins its verdict parameters too.
        decontam_stream.pin_decontam_params(
            odir / "decontam", eval_df, id_col, text_col, n, min_shared
        )
        ev = decontam_stream.eval_shingles(eval_df, id_col, text_col, n)

    def _run_gates(batch_df: DataFrame, batch_id: int) -> None:
        # A gate that drops the WHOLE batch must not short-circuit the
        # chain: every downstream store still ACCOUNTS the batch id (an
        # empty fold — sentinels only), so the id sequence every
        # sequential-numbering guard relies on stays gap-free. Before
        # r18 an all-rejected batch returned here and the next batch
        # crashed the components chain's guard with a misleading
        # foreign-checkpoint message (ADVICE r17).
        cur: DataFrame = batch_df
        if transform_exprs:
            cur = cur.withColumns(transform_exprs)
        if drift_score_expr is not None:
            _record_drift_histogram(cur, odir, batch_id, drift_score_expr)
        if quality_expr is not None:
            out = filter_gate_stream.fold_batch(
                spark, odir / "quality", cur, batch_id, quality_expr
            )
            cur = out if out is not None else cur.limit(0)
        if ev is not None:
            out = decontam_stream.fold_batch(
                spark, odir / "decontam", cur, batch_id, ev,
                id_col=id_col, text_col=text_col, n=n, min_shared=min_shared,
            )
            cur = out if out is not None else cur.limit(0)
        out = dedup_stream.fold_batch(
            spark, odir / "exact", cur, batch_id,
            id_col=id_col, text_col=text_col, n_prefix=n_prefix,
        )
        cur = out if out is not None else cur.limit(0)
        if novelty_cfg is not None:
            out = novelty_stream.fold_batch(
                spark, odir / "novelty", cur, batch_id,
                id_col=id_col, text_col=text_col,
                shingle_n=novelty_cfg["shingle_n"],
                max_share=novelty_cfg["max_share"],
            )
            cur = out if out is not None else cur.limit(0)
            # score columns stay in the novelty stores (audit evidence);
            # downstream stages and the kept corpus keep their schemas
            # (drop is a no-op on the empty-continuation frame, which
            # never gained them)
            cur = cur.drop("n_shingles", "n_seen", "novelty_share")
        kept = near_dedup_stream.fold_batch(
            spark, odir / "near", cur, batch_id,
            id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes,
            bands=bands, min_jaccard=min_jaccard, n_prefix=n_prefix,
            bucket_cap=bucket_cap, components_out_dir=clusters_dir,
            components_n_prefix=clusters_n_prefix,
        )
        if retrieval_index_dir is not None:
            # derived index over the batch's KEPT rows; idempotent fold
            # (replay re-reads the near increment and overwrites its own).
            # An all-duplicate batch (kept is None) folds as EMPTY so the
            # index's totals id stays in lockstep with the kept store —
            # otherwise the behind-the-funnel enable guard would refuse a
            # legitimate restart after such a trailing batch.
            # recorded immediately BEFORE the fold that creates the
            # dir: a crash between the two leaves a recorded-but-
            # missing dir, which the revocation sync refuses LOUDLY
            # (and the replayed batch re-creates it) — the reverse
            # order would leave a live index unrecorded, silently
            # skipped by revocations. Still fold-time, not start-time:
            # a stream that never folds must not record a dir that
            # will never exist.
            _record_retrieval_pointer(odir, Path(retrieval_index_dir))
            retrieval_stream.fold_batch(
                spark, retrieval_index_dir,
                kept if kept is not None else cur.limit(0),
                batch_id, id_col, text_col,
            )

    # The in-stream hook's store union: every enabled stage, plus the
    # retrieval index (whose ``revoked`` generations fold unbounded).
    on = {
        "quality": quality_expr is not None,
        "decontam": ev is not None,
        "novelty": novelty_cfg is not None,
        "clusters": clusters_dir is not None,
    }
    placed = [(odir / stage, view) for stage, view, _ in _STAGES if on.get(stage, True)]
    if retrieval_index_dir is not None:
        placed.append((Path(retrieval_index_dir), retrieval_stream.VIEW))
    stores, transforms, unbounded = view_stores(placed)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _audit_input_parallelism(
            batch_df, odir, batch_id, min_input_partitions
        )
        _run_gates(batch_df, batch_id)
        # In-stream consolidation of every stage's stores (bounded at the
        # previous, checkpoint-committed batch) — runs even when a stage
        # filtered the whole batch out, so an all-duplicate stretch of
        # the stream cannot starve maintenance.
        maybe_consolidate_in_stream(
            spark, stores, batch_id, consolidate_every, unbounded, transforms
        )

    return run_view(
        spark, corpus_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )


_INPUT_AUDIT_KEEP = 512


def _audit_input_parallelism(
    batch_df: DataFrame,
    out_dir: Path,
    batch_id: int,
    min_input_partitions: int | None,
) -> DataFrame:
    """Record a micro-batch's input parallelism and apply the
    ``min_input_partitions`` floor (see ``start_corpus_pipeline_stream``).
    One tiny JSON per batch, atomic rename (idempotent under replay —
    the record is a pure function of the batch's file set), last
    ``_INPUT_AUDIT_KEEP`` batches retained so the audit dir stays
    bounded on an always-on stream.

    The file count requires a Spark job (a micro-batch DataFrame reports
    no inputFiles(), so it's a distinct over the input_file_name
    metadata column — it still materializes one value per row), so it
    runs ONLY when the operator opted into the parallelism guard: an
    unconditional extra full-batch scan on every trigger of an always-on
    funnel that nobody reads is pure overhead (ADVICE r10). Without the
    guard, ``input_files`` is recorded as -1 = not measured; the
    partition counts are free and always recorded."""
    import json

    n_files = -1
    if min_input_partitions is not None:
        n_files = (
            batch_df.select(F.input_file_name().alias("f")).distinct().count()
        )
    n_parts = batch_df.rdd.getNumPartitions()
    out_parts = n_parts
    if min_input_partitions is not None and n_parts < min_input_partitions:
        batch_df = batch_df.repartition(min_input_partitions)
        out_parts = batch_df.rdd.getNumPartitions()
    d = out_dir / "input_audit"
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"b{batch_id}.json"
    tmp = d / f".{final.name}.tmp"
    tmp.write_text(
        json.dumps(
            {
                "batch_id": batch_id,
                "input_files": n_files,
                "input_partitions": n_parts,
                "partitions_after_guard": out_parts,
            },
            sort_keys=True,
        )
    )
    os.replace(tmp, final)
    for stale in d.glob("b*.json"):
        sid = stale.name[1:-5]
        if sid.isdigit() and int(sid) < batch_id - _INPUT_AUDIT_KEEP:
            stale.unlink(missing_ok=True)
    return batch_df


_DRIFT_BINS = 10


def _record_drift_histogram(
    batch_df: DataFrame, out_dir: Path, batch_id: int, score_expr: Column
) -> None:
    """One tiny JSON per batch: the micro-batch's score histogram
    (``quality_drift_psi`` binning — floor of the 4-decimal-rounded
    score, clamped to [0, _DRIFT_BINS-1]). ≤10 rows collected per batch
    (bounded driver traffic); atomic rename, idempotent under replay —
    the histogram is a pure function of the batch.

    The score expression is deliberately NOT pinned (it is observational
    — see start_corpus_pipeline_stream), so each record carries its own
    canonical expression string: a restart under a different score must
    not silently mix incomparable histograms into one PSI reference
    window (ADVICE r10) — quality_drift_report excludes (and flags)
    reference batches recorded under a different expression."""
    import json

    from ..batchstore import canonical_column_str

    b = (
        F.least(
            F.greatest(F.floor(F.round(score_expr, 4)), F.lit(0)),
            F.lit(_DRIFT_BINS - 1),
        )
        .cast("int")
        .alias("bin")
    )
    hist = [0] * _DRIFT_BINS
    for r in batch_df.select(b).groupBy("bin").count().collect():
        hist[int(r["bin"])] = int(r["count"])
    d = out_dir / "drift_audit"
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"b{batch_id}.json"
    tmp = d / f".{final.name}.tmp"
    tmp.write_text(
        json.dumps(
            {
                "batch_id": batch_id,
                "hist": hist,
                "expr": canonical_column_str(score_expr),
            },
            sort_keys=True,
        )
    )
    os.replace(tmp, final)


def read_drift_audit(out_dir: str | Path) -> list[dict]:
    """Per-batch score histograms recorded by the drift monitor,
    batch-ordered; empty when the monitor was never configured."""
    import json

    d = Path(out_dir) / "drift_audit"
    if not d.exists():
        return []
    out = []
    for p in d.glob("b*.json"):
        try:
            out.append(json.loads(p.read_text()))
        except (OSError, ValueError):
            continue
    return sorted(out, key=lambda r: r.get("batch_id", -1))


def quality_drift_report(out_dir: str | Path) -> dict | None:
    """PSI of the LATEST batch's score distribution against the
    accumulation of every earlier batch (the reference window) —
    ``quality_drift_psi``'s arithmetic (Laplace-smoothed shares), pure
    driver-side ints. None until two comparable batches have histograms.
    Conventional reading: <0.1 stable, 0.1-0.2 watch, >0.2 re-fit the
    gate thresholds.

    Comparable means recorded under the SAME score expression as the
    latest batch: the monitor is restart-reconfigurable by design, so a
    changed expression would otherwise poison the reference window with
    histograms of a different quantity. Mismatched reference batches are
    excluded from the PSI and listed in ``reference_excluded``."""
    import math

    audit = read_drift_audit(out_dir)
    if len(audit) < 2:
        return None
    latest = audit[-1]
    expr = latest.get("expr")
    comparable = [r for r in audit[:-1] if r.get("expr") == expr]
    excluded = [r["batch_id"] for r in audit[:-1] if r.get("expr") != expr]
    if not comparable:
        return None  # no same-expression history yet: PSI undefined
    ref = [0] * _DRIFT_BINS
    for rec in comparable:
        for i, n in enumerate(rec["hist"]):
            ref[i] += n
    cmp_h = latest["hist"]
    nt_ref = sum(ref) + 0.5 * _DRIFT_BINS
    nt_cmp = sum(cmp_h) + 0.5 * _DRIFT_BINS
    psi = 0.0
    for i in range(_DRIFT_BINS):
        pr = (ref[i] + 0.5) / nt_ref
        pc = (cmp_h[i] + 0.5) / nt_cmp
        psi += (pr - pc) * math.log(pr / pc)
    return {
        "psi": round(psi, 6),
        "latest_batch": latest["batch_id"],
        "reference_batches": [r["batch_id"] for r in comparable],
        "reference_excluded": excluded,
        "reference_hist": ref,
        "latest_hist": cmp_h,
    }


def read_input_audit(out_dir: str | Path) -> list[dict]:
    """Per-micro-batch input-parallelism records (batch-ordered): file
    count, arriving partition count, and the partition count after the
    ``min_input_partitions`` guard. Empty = no batch processed yet (or a
    pre-audit warehouse)."""
    import json

    d = Path(out_dir) / "input_audit"
    if not d.exists():
        return []
    out = []
    for p in d.glob("b*.json"):
        try:
            out.append(json.loads(p.read_text()))
        except (OSError, ValueError):
            continue
    return sorted(out, key=lambda r: r.get("batch_id", -1))


def pipeline_report(spark: SparkSession, out_dir: str | Path) -> DataFrame:
    """One-call operational health view of a composed pipeline's stores:
    per-stage row counts (admitted / diverted), replay horizon, batch-dir
    counts (is consolidation keeping discovery bounded?), and total cap
    pressure (is the candidate cap costing recall?). Everything here is
    store metadata plus one count per populated store — the check an
    operator runs before trusting an always-on pipeline, without reading
    any document payloads.

    Returns rows ``(stage, metric, value)`` (value as long; -1 where a
    stage/store is absent)."""
    from ..batchstore import last_batch_id, read_cap_audit

    odir = Path(out_dir)
    rows: list[tuple[str, str, int]] = []

    def _count(df) -> int:
        return -1 if df is None else df.count()

    # Input parallelism (the starvation signal the r9 throughput
    # measurement surfaced): a single-file batch serializes the
    # scrub+quality scan unless min_input_partitions lifts it.
    audit = read_input_audit(odir)
    if audit:
        last = audit[-1]
        rows.append(("input", "last_batch_files", last["input_files"]))
        rows.append(("input", "last_batch_partitions", last["input_partitions"]))
        rows.append(
            ("input", "last_batch_partitions_after_guard",
             last["partitions_after_guard"])
        )
        rows.append(
            ("input", "min_batch_partitions",
             min(r["input_partitions"] for r in audit))
        )
        rows.append(
            ("input", "single_file_batches",
             # -1 = file count not measured (guard off), not starvation
             sum(1 for r in audit if 0 <= r["input_files"] <= 1))
        )
    drift = quality_drift_report(odir)
    if drift is not None:
        # PSI scaled to integer millionths (report values are longs):
        # >200_000 conventionally means "re-fit the gate thresholds".
        rows.append(("drift", "latest_psi_e6", int(drift["psi"] * 1_000_000)))
        rows.append(("drift", "batches_recorded", len(read_drift_audit(odir))))

    def _store_rows(stage: str, store: Path) -> None:
        n_dirs = (
            sum(1 for p in store.glob("ingest_batch=*") if p.is_dir())
            if store.exists()
            else -1
        )
        rows.append((stage, f"{store.name}_batch_dirs", n_dirs))
        rows.append(
            (stage, f"{store.name}_last_batch", last_batch_id(store))
        )

    for stage, view, counts in _STAGES:
        sdir = odir / stage
        if not sdir.exists():
            continue
        for metric, read in counts.items():
            rows.append((stage, metric, _count(read(spark, sdir))))
        for name in view.stores:
            _store_rows(stage, sdir / name)
        if stage == "near":
            audit = read_cap_audit(sdir)
            rows.append(
                ("near", "cap_rows_dropped",
                 sum(r.get("rows_dropped", 0) for r in audit))
            )
            rows.append(("near", "cap_events", len(audit)))
        if stage == "clusters":
            relabel = components_stream.read_relabel_audit(sdir)
            rows.append(
                ("clusters", "members_relabeled",
                 sum(r.get("members_relabeled", 0) for r in relabel))
            )
            rows.append(("clusters", "relabel_events", len(relabel)))

    # Every recorded maintained retrieval index (the funnel's derived
    # search surface): fold frontier, corpus size, revocation count —
    # the operator's check that search is in lockstep with the kept
    # store and that decontamination revocations reached it.
    idx_dirs = _retrieval_pointer_dirs(odir)
    for i, idx_dir in enumerate(idx_dirs):
        stage = "retrieval" if len(idx_dirs) == 1 else f"retrieval_{i}"
        if not idx_dir.exists():
            rows.append((stage, "missing", 1))
            continue
        totals, tid = retrieval_stream._latest_totals(idx_dir)
        rows.append((stage, "totals_batch", tid))
        rows.append((stage, "n_docs", int(totals.get("n_docs", -1))))
        rev = retrieval_stream._revoked_view(spark, idx_dir)
        rows.append((stage, "revoked", -1 if rev is None else rev.count()))
        for name in retrieval_stream.VIEW.stores:
            _store_rows(stage, idx_dir / name)

    return local_frame(spark, rows, "stage string, metric string, value long")
