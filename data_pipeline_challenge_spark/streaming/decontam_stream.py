"""Streaming decontamination gate — benchmark-overlap filtering at
ingest time.

The batch operator (``operators/decontam.contamination_report``) answers
"which docs in this corpus leak eval n-grams"; a production pipeline
wants that answered BEFORE contaminated docs enter the training corpus.
This stream gates each arriving micro-batch against a fixed evaluation
set: documents sharing at least ``min_shared`` distinct word-``n``-grams
with any eval doc are diverted to a ``contaminated/`` audit store
(with their overlap counts — the evidence, not just the verdict);
everything else flows to ``docs/``.

Per-batch cost is O(batch), full stop — unlike the dedup streams there
is no history probe at all: the eval side is a benchmark (thousands of
docs, not billions), its shingle table is computed ONCE at stream start,
cached, and broadcast into each batch's join, so the arriving corpus is
scanned once per batch and never shuffled (the batch operator's 100 TB
argument, inherited verbatim).

Exactly-once: the ``dedup_stream`` recipe — both stores key increment
dirs by micro-batch id (tmp + atomic rename, idempotent overwrite),
``docs`` before ``contaminated``, replay guard skips only batches folded
into both, the gate verdict is a pure function of (batch, eval set) so a
replay recomputes it identically. Offline consolidation via
``batchstore``.

A changed eval set changes the verdict function: rebuild the gate
(new out_dir + fresh checkpoint) rather than mutating a live one —
already-admitted docs are re-checked by an offline
``contamination_report`` over ``docs/``, the standard re-screen.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    ensure_store_params,
    last_batch_id,
    read_anti_join_key,
    read_store,
    record_anti_join_key,
    start_view,
)
from ..operators.dedup import _shingle_table
from ..session import local_frame, pinned


def _revocation_key(rev: DataFrame, store: Path, docs_cols: list[str]) -> list[str]:
    """The column(s) a ``revoked`` store is anti-joined on: the recorded
    key when present, else the shared columns MINUS the contamination
    report's evidence columns — never bare shared-column intersection,
    which silently widens (and stops excluding) when the doc schema
    itself contains a column named ``n_shared``/``n_eval_docs``
    (ADVICE r9)."""
    recorded = read_anti_join_key(store)
    if recorded is not None:
        return [recorded]
    evidence = {"n_shared", "n_eval_docs"}
    return [c for c in rev.columns if c in set(docs_cols) and c not in evidence]


def eval_fingerprint(eval_df: DataFrame, id_col: str, text_col: str) -> str:
    """Order-insensitive content fingerprint of the eval set: row count +
    XOR of per-row xxhash64 over (id, text). One benchmark-sized
    aggregation at stream start — cheap, deterministic, and enough to
    detect a swapped/edited eval set across restarts."""
    row = eval_df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(F.col(id_col).cast("string"), F.col(text_col))
        ).alias("x"),
    ).first()
    # bit_xor over zero rows is NULL: the empty set's fingerprint is
    # "0:0", never "0:None" — a "0:None" committed to a generation
    # ledger would crash every later _compose_fp and wedge the upgrade
    # path (ADVICE r9).
    return f"{row['n']}:{0 if row['x'] is None else row['x']}"


def pin_decontam_params(
    out_dir: str | Path,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_shared: int,
) -> None:
    """Pin the gate's VERDICT-defining parameters (shingle width ``n``,
    ``min_shared``, and the eval set's content fingerprint) with the same
    ``ensure_store_params`` contract the dedup gates use: a restart that
    disagrees fails loudly instead of silently changing the gate's
    semantics mid-store (ADVICE r7). A changed eval set or width means a
    different verdict function — rebuild into a fresh out_dir and
    re-screen, per the module docstring."""
    ensure_store_params(
        Path(out_dir),
        {
            "kind": "decontam",
            "n": n,
            "min_shared": min_shared,
            "eval_fingerprint": eval_fingerprint(eval_df, id_col, text_col),
        },
    )


def current_clean_docs(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Documents admitted by the gate so far MINUS any retroactive
    eval-generation revocations (see :func:`add_eval_generation`), or
    None before the first batch. The revocation set is
    benchmark-contamination-sized, so the anti-join broadcasts it — the
    kept corpus never shuffles for this read."""
    docs = read_store(spark, Path(out_dir) / "docs")
    if docs is None:
        return None
    docs = docs.drop("ingest_batch")
    rev_store = Path(out_dir) / "revoked"
    rev = read_store(spark, rev_store)
    if rev is not None:
        rev = rev.drop("ingest_batch")
        key = _revocation_key(rev, rev_store, docs.columns)
        docs = docs.join(
            F.broadcast(rev.select(*key).distinct()), on=key, how="left_anti"
        )
    return docs


def revocation_log(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Docs retroactively revoked by eval-generation upgrades, with
    their overlap evidence and the generation that caught them, or None
    if no generation was ever applied."""
    revoked = read_store(spark, Path(out_dir) / "revoked")
    if revoked is None:
        return None
    return revoked.withColumnRenamed("ingest_batch", "eval_generation")


def _compose_fp(a: str, b: str) -> str:
    """Compose two eval fingerprints (``"count:xor"``): counts add, the
    signed-64-bit XORs combine — valid because :func:`eval_fingerprint`
    is an order-insensitive count+XOR, so fp(A ∪ B) = compose(fp(A),
    fp(B)) for DISJOINT A and B."""
    na, xa = a.split(":")
    nb, xb = b.split(":")
    mask = (1 << 64) - 1
    x = (int(xa) & mask) ^ (int(xb) & mask)
    if x >= 1 << 63:
        x -= 1 << 64
    return f"{int(na) + int(nb)}:{x}"


def add_eval_generation(
    spark: SparkSession,
    out_dir: str | Path,
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame | None:
    """Grow the gate's eval set WITHOUT rebuilding the store — the
    operation a real pipeline needs when a new benchmark lands after
    ingestion has been running for months. Run while the gate stream is
    STOPPED. Three effects, in crash-safe order:

    1. Kept history is retro-screened against the DELTA only (broadcast
       delta shingles — O(kept × delta), the corpus never shuffles) and
       newly-contaminated docs land in the append-only ``revoked`` store
       (``current_clean_docs`` anti-joins it; the admitted increments
       are never rewritten).
    2. The generation ledger (``eval_generations.json`` — base
       fingerprint + applied delta fingerprints) records the delta:
       this atomic replace is the COMMIT point, and an already-applied
       delta makes the whole call a no-op (at-least-once safe; a crash
       between revocation write and ledger commit redoes the screen,
       duplicate revocation rows being harmless under the anti-join).
    3. The pin's ``eval_fingerprint`` is rewritten to the COMPOSITION of
       the ledger (count+XOR fingerprints compose for disjoint sets), so
       the next ``start_decontam_stream`` with the UNION eval set is
       accepted — and self-checks the upgrade: a delta that overlapped
       the old eval set composes to a fingerprint the union does NOT
       have, so the restart refuses instead of screening with a wrong
       pin. A crash between ledger and pin heals on the next call.

    Future batches screen against the union the caller passes at the
    next stream start; ``min_shared``/``n`` stay pinned. Composed-funnel
    note: this is a GATE-level operation — the funnel's downstream
    exact/near stores still hold previously-admitted docs, so for a
    composed pipeline rescreen ``current_corpus`` with
    ``operators.decontam.contamination_report`` instead.

    Returns the revocation DataFrame (may be empty), or None when the
    delta was already applied."""
    import json

    from ..operators.decontam import contamination_report

    odir = Path(out_dir)
    marker = odir / "_gate_params.json"
    if not marker.exists():
        raise RuntimeError(
            f"no decontam gate store at {odir}: add_eval_generation "
            "upgrades an existing store; start the gate first"
        )
    params = json.loads(marker.read_text())
    if params.get("kind") != "decontam":
        raise RuntimeError(f"store at {odir} is not a decontam gate: {params}")

    ledger_p = odir / "eval_generations.json"
    ledger = (
        json.loads(ledger_p.read_text())
        if ledger_p.exists()
        else {"base": params["eval_fingerprint"], "applied": []}
    )
    delta_fp = eval_fingerprint(delta_df, id_col, text_col)
    if delta_fp.startswith("0:"):
        # Refuse BEFORE any ledger commit: an empty delta grows nothing
        # (almost certainly a caller bug), and its identity fingerprint
        # would pile up meaningless ledger entries.
        raise ValueError(
            "add_eval_generation: delta_df is empty — an eval "
            "generation must contain at least one document"
        )

    def _composed() -> str:
        fp = ledger["base"]
        for d in ledger["applied"]:
            fp = _compose_fp(fp, d)
        return fp

    def _rewrite_pin() -> None:
        new_params = dict(params, eval_fingerprint=_composed())
        tmp = odir / "_gate_params.json.tmp"
        tmp.write_text(json.dumps(new_params, sort_keys=True))
        os.replace(tmp, marker)

    if delta_fp in ledger["applied"]:
        if params["eval_fingerprint"] != _composed():
            _rewrite_pin()  # heal a crash between ledger commit and pin
        return None

    # 1. Retro-screen kept history against the delta only.
    gen = last_batch_id(odir / "revoked") + 1
    kept = current_clean_docs(spark, odir)
    wrote = False
    revocations = local_frame(
        spark, [], f"{id_col} long, n_shared long, n_eval_docs long"
    )
    if kept is not None:
        revocations = contamination_report(
            kept, delta_df, id_col, text_col, n=int(params["n"])
        ).filter(F.col("n_shared") >= int(params["min_shared"]))
        record_anti_join_key(odir / "revoked", id_col)
        wrote = append_batch_increment(revocations, odir / "revoked", gen)

    # 2. Ledger commit (atomic replace) — the operation's commit point.
    ledger["applied"].append(delta_fp)
    tmp = odir / "eval_generations.json.tmp"
    tmp.write_text(json.dumps(ledger, sort_keys=True))
    os.replace(tmp, ledger_p)

    # 3. Pin rewrite from the ledger composition.
    _rewrite_pin()
    if not wrote:
        return revocations  # nothing revoked (empty frame, evidence schema)
    return read_store(spark, odir / "revoked", gen)


def contamination_log(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Diverted documents with their overlap evidence (n_shared,
    n_eval_docs), or None if nothing was ever diverted."""
    contaminated = read_store(spark, Path(out_dir) / "contaminated")
    return None if contaminated is None else contaminated.drop("ingest_batch")


def eval_shingles(eval_df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """The eval set's shingle table, cached — compute ONCE per stream (or
    per composed pipeline) and pass to every ``fold_batch`` call. The
    one pin in ``streaming/`` that no fold's ``session.pinned``
    scope owns: it lives as long as the stream."""
    return (
        _shingle_table(eval_df, id_col, text_col, n)
        .select(F.col("doc").alias("eval_doc"), "s")
        .cache()
    )


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    ev: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame | None:
    """Gate ONE micro-batch against the eval shingle table ``ev`` (from
    :func:`eval_shingles`) — the per-batch core, exposed so
    ``corpus_pipeline_stream`` can chain the gates inside a single
    ``foreachBatch``. Returns this batch's CLEAN rows read back from the
    just-written increment dir, or None for an empty batch. Idempotent:
    an already-folded batch returns its stored increment without
    re-folding."""
    odir = Path(out_dir)
    docs_store = odir / "docs"
    cont_store = odir / "contaminated"
    if not admit_batch(odir, batch_id, docs_store, cont_store):
        return read_store(spark, docs_store, batch_id)
    with pinned() as pin:
        batch = pin(batch_df)
        if not batch.take(1):
            # empty micro-batch: sentinel accounting keeps the id
            # sequence gap-free for the sequential guard (r18)
            account_empty_fold((docs_store, cont_store), batch_id)
            return None
        tr = _shingle_table(batch, id_col, text_col, n)
        overlap = pin(
            tr.join(F.broadcast(ev), "s")
            .groupBy(F.col("doc").alias(id_col))
            .agg(
                F.count_distinct("s").alias("n_shared"),
                F.count_distinct("eval_doc").alias("n_eval_docs"),
            )
            .filter(F.col("n_shared") >= min_shared)
        )
        # the evidence replaces a doc column of the same name: a
        # duplicate column fails the store write, even a 0-row one
        contaminated = batch.drop("n_shared", "n_eval_docs").join(
            overlap, id_col, "inner"
        )
        clean = batch.join(
            F.broadcast(overlap.select(id_col)), id_col, "left_anti"
        )
        # docs BEFORE contaminated (replay-guard ordering). Either side
        # may be empty on a given batch; an empty increment leaves only
        # its sentinel (see append_batch_increment) — a refold
        # recomputes the same split.
        append_batch_increment(clean, docs_store, batch_id)
        append_batch_increment(contaminated, cont_store, batch_id)
    return read_store(spark, docs_store, batch_id)


VIEW = View(
    fold=fold_batch,
    # ``revoked`` holds retroactive eval-generation revocations (see
    # :func:`add_eval_generation`) — written only while the stream is
    # stopped, read by ``current_clean_docs`` as an anti-join.
    stores={"docs": None, "contaminated": None, "revoked": None},
)


def start_decontam_stream(
    spark: SparkSession,
    corpus_dir: str | Path,
    eval_df: DataFrame,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 1,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Stream corpus parquet files through the decontamination gate
    against ``eval_df`` (a static benchmark table with ``id_col`` /
    ``text_col``). ``available_now=True`` drains what's landed and
    stops. ``consolidate_every=N`` folds the stores' batch dirs
    in-stream every N batches (no stop window); ``None`` =
    offline-only."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    pin_decontam_params(odir, eval_df, id_col, text_col, n, min_shared)

    # Eval shingles once, cached across micro-batches (benchmark-sized).
    ev = eval_shingles(eval_df, id_col, text_col, n)
    return start_view(
        spark, VIEW, corpus_dir, odir, checkpoint_dir, schema,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
        consolidate_every=consolidate_every,
        ev=ev, id_col=id_col, text_col=text_col, n=n, min_shared=min_shared,
    )
