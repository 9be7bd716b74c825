"""Incrementally-maintained group-texts block store over a streaming corpus.

The streaming face of ``operators/packing.group_texts_blocks`` — the
pre-training sibling of ``packing_stream.py`` (VERDICT r12 #7): corpus
increments arriving as parquet files fold into a maintained (shard,
block_id, doc, n_tokens, doc_off, block_off) assignment map per
micro-batch. The group-texts recurrence is prefix-dependent WITHIN a shard
(every doc's offset depends on the md5-ordered docs before it), so a
micro-batch RECOMPUTES exactly the shards it touches over all rows seen so
far for those shards. A doc's shard is a pure function of its id
(``substring(md5(id), 1, shard_hex)``), so shard membership is stable
across micro-batches and after the stream drains the published map equals
the batch ``group_texts_blocks`` over the whole corpus exactly
(``test_group_texts_stream_equals_batch``).

Cost per micro-batch is O(touched shards × shard size), never O(corpus),
with the same two structural halves as the packing stream:

- **Scan side**: the rows store is PARTITIONED BY SHARD and the history
  read filters with a driver-side ``shard IN (touched)`` literal — static
  partition pruning, untouched shards' files are never listed.
- **Write side**: only touched shards are written fresh; every untouched
  shard's files are HARD-LINKED from the previous version (O(#files)
  metadata — packed parquet is immutable here).

Revocation (``revoke_block_docs``) folds a contaminated-doc delta the same
way: record keys in the ``revoked_keys`` store (every later history read
anti-joins them), recompute exactly the shards that held revoked docs, and
publish through the versioned-symlink protocol — so contaminated text
does not survive into the training-sequence artifact after the corpus
view was fixed, mirroring ``packing_stream.revoke_packed_docs``.

Same versioned idempotent sink as ``rollup_stream.py`` (versioned dirs +
atomic symlink publish + two-version retention; replayed batches skip the
fold and repair the symlink, so exactly-once holds without a
transactional sink).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..batchstore import (
    consolidate_stores,
    ensure_store_params,
    maybe_consolidate_in_stream,
    read_batch_store,
    read_store,
    record_store_schema,
    run_view,
)
from ..operators.packing import group_texts_blocks
from ..versioning import stream_table
from .packing_stream import (
    _commit_revocation,
    _publish_shards,
    _revocations_ledger,
    current_revoked_keys,
)


def _write_schemas(out_dir: Path, id_col: str, id_type: str, token_col: str) -> None:
    """Pin the warehouse's READ schemas (``_schema.json``, atomic, once).

    The shard partition key is an md5-HEX STRING: partition-type
    inference over an all-numeric population of dirs (``shard=07``)
    would infer int and corrupt the value to 7, silently breaking every
    later touched-shard filter and the published map's schema stability.
    Every read of the rows store and published versions goes through
    these pinned DDLs instead of inference."""
    p = out_dir / "_schema.json"
    if p.exists():
        return
    schemas = {
        "rows": (
            f"{id_col} {id_type}, {token_col} bigint, "
            "shard string, ingest_batch int"
        ),
        "blocks": (
            f"shard string, block_id bigint, {id_col} {id_type}, "
            "n_tokens bigint, doc_off bigint, block_off bigint"
        ),
    }
    tmp = out_dir / "_schema.json.tmp"
    tmp.write_text(json.dumps(schemas, sort_keys=True))
    os.replace(tmp, p)


def _schemas(out_dir: Path) -> dict | None:
    p = Path(out_dir) / "_schema.json"
    return json.loads(p.read_text()) if p.exists() else None


def current_blocks(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The latest published block-assignment map, or None before the first
    batch (pinned version dir — see rollup_stream.current_rollup)."""
    target = stream_table(out_dir).read_target()
    if target is None:
        return None
    sch = _schemas(Path(out_dir))
    reader = spark.read.schema(sch["blocks"]) if sch else spark.read
    return reader.parquet(str(target))


def touched_doc_history(
    spark: SparkSession, rows_dir: str | Path, touched_shards: list[str]
) -> DataFrame:
    """All (id, tok) rows ever landed for the given md5-hex shards — a
    partition-pruned scan (the string ``isin`` literal lands in
    ``PartitionFilters``; untouched shard dirs are never listed). Revoked
    ids (``revoke_block_docs`` on the sibling warehouse dir) are
    anti-joined OUT here — the one history read every recompute flows
    through — so a later micro-batch touching a revoked doc's shard
    re-excludes it instead of resurrecting it."""
    sch = _schemas(Path(rows_dir).parent)
    hist = (
        read_batch_store(spark, rows_dir, schema=sch["rows"] if sch else None)
        .filter(F.col("shard").isin([str(s) for s in touched_shards]))
        .drop("ingest_batch", "shard")
    )
    revoked = current_revoked_keys(spark, Path(rows_dir).parent)
    if revoked is not None:
        hist = hist.join(F.broadcast(revoked), revoked.columns, "left_anti")
    return hist


def _pin_block_params(
    out_dir: Path, id_col: str, token_col: str, block_len: int, shard_hex: int
) -> None:
    """Layout/recurrence parameters are baked into every stored partition
    and published version; drift between runs silently diverges the
    maintained map from the batch splitter — refuse it (the
    ``ensure_store_params`` contract, as in packing_stream)."""
    ensure_store_params(
        out_dir,
        {
            "kind": "group_texts",
            "id_col": id_col,
            "token_col": token_col,
            "block_len": int(block_len),
            "shard_hex": int(shard_hex),
        },
    )


def _shard_of(id_col: str, shard_hex: int):
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, int(shard_hex))


def revoke_block_docs(
    spark: SparkSession,
    out_dir: str | Path,
    revoked_ids: DataFrame,
    id_col: str,
    token_col: str,
    block_len: int,
    shard_hex: int = 2,
) -> int:
    """Propagate a revocation (e.g. the corpus-level frame returned by
    ``corpus_pipeline_stream.revoke_corpus_eval_generation``) into the
    maintained block store: record the keys, recompute EXACTLY the shards
    that actually hold revoked docs over the post-revocation row set, and
    publish — untouched shards stay hard-linked. Idempotent via the same
    count+xor fingerprint ledger as ``revoke_packed_docs`` (committed
    LAST, so a crash anywhere re-heals on re-application). Run while the
    stream is NOT running. Returns shards recomputed.

    Revoked rows stay physically in the rows store (the anti-join in
    :func:`touched_doc_history` excludes them — same
    benchmark-sized-revocations rationale as the packer); the PUBLISHED
    map, and therefore every training sequence materialized from it,
    never references revoked docs."""
    from ..batchstore import append_batch_increment, last_batch_id

    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    rows_dir = odir / "rows"
    _pin_block_params(odir, id_col, token_col, block_len, shard_hex)
    # NOTE: the read schemas are pinned ONLY by the stream start, which
    # knows the authoritative source DDL — pinning from revoked_ids'
    # dtype here could bake a wrong id type into a fresh warehouse and
    # poison every later history read. A revocation before the first
    # stream start needs no schema anyway: with no published version the
    # fold below records keys and returns without reading any store.
    delta = revoked_ids.select(id_col).distinct()
    stat = delta.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col).cast("string"))).alias("x"),
    ).collect()[0]
    if int(stat["n"]) == 0:
        return 0
    fp = f"{int(stat['n'])}:{int(stat['x'])}"
    if fp in _revocations_ledger(odir):
        return 0

    store = odir / "revoked_keys"
    prior = current_revoked_keys(spark, odir)
    new_keys = (
        delta
        if prior is None
        else delta.join(F.broadcast(prior), [id_col], "left_anti")
    )
    append_batch_increment(new_keys, store, last_batch_id(store) + 1)

    cand = sorted(
        str(r["s"])
        for r in delta.select(
            _shard_of(id_col, shard_hex).alias("s")
        ).distinct().collect()
    )
    table = stream_table(odir)
    present: list[str] = []
    rows = None
    if cand and table.versions():
        sch = _schemas(odir)
        rows = read_store(spark, rows_dir, schema=sch["rows"] if sch else None)
    if rows is not None:
        present = sorted(
            str(r["shard"])
            for r in (
                rows.filter(F.col("shard").isin(cand))
                .join(F.broadcast(delta), [id_col], "left_semi")
                .select("shard")
                .distinct()
                .collect()
            )
        )
    if not present:
        _commit_revocation(odir, fp)
        return 0

    seen = touched_doc_history(spark, rows_dir, present)
    blocks = group_texts_blocks(
        seen, id_col, token_col, block_len, shard_hex=shard_hex
    )
    _publish_shards(table, blocks, present, table.last_folded())
    _commit_revocation(odir, fp)
    return len(present)


def _store_map(odir: Path) -> dict:
    return {odir / "rows": ["shard"]}


def compact_rows_store(spark: SparkSession, out_dir: str | Path) -> int:
    """OFFLINE maintenance: fold the rows store's accumulated per-batch
    dirs into one consolidated partition (crash-safe marker protocol,
    ``batchstore``) so partition DISCOVERY stays O(n_shards), not
    O(#batches ever). Run while the stream is NOT running."""
    return sum(consolidate_stores(spark, _store_map(Path(out_dir))).values())


def start_group_texts_stream(
    spark: SparkSession,
    corpus_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    id_col: str,
    token_col: str,
    block_len: int,
    shard_hex: int = 2,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Stream corpus parquet files into the incrementally-maintained
    group-texts block map. ``available_now=True`` drains what's landed and
    stops. ``consolidate_every=N`` folds the rows store in-stream every N
    batches (inside the same foreachBatch that owns all writes)."""
    from pyspark.sql.types import StructType

    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    _pin_block_params(odir, id_col, token_col, block_len, shard_hex)
    id_type = {
        f.name: f.dataType.simpleString() for f in StructType.fromDDL(schema)
    }[id_col]
    _write_schemas(odir, id_col, id_type, token_col)
    rows_dir = odir / "rows"
    idc, tc = id_col, token_col
    table = stream_table(odir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_folded()
        if last is not None and last >= batch_id:
            # crash-replay of an already-folded batch: skip the fold,
            # repair the symlink if the crash preceded the publish
            table.relink_newest()
            return
        # Zero-token docs contribute to no block (group_texts_blocks
        # excludes them); dropping them HERE keeps shards they alone
        # would touch from recomputing for nothing.
        slim = (
            batch_df.select(idc, F.col(tc).cast("long").alias(tc))
            .filter(F.col(tc) > 0)
            .withColumn("shard", _shard_of(idc, shard_hex))
        )
        if not slim.take(1):
            # Empty micro-batch: a file-less partitioned write would
            # poison later history scans (UNABLE_TO_INFER_SCHEMA); skip —
            # a replayed empty batch re-skips here (see packing_stream).
            return
        slim.write.partitionBy("shard").mode("overwrite").parquet(
            str(rows_dir / f"ingest_batch={batch_id}")
        )
        record_store_schema(
            rows_dir, slim.schema, batch_id, rows_dir / f"ingest_batch={batch_id}", "shard"
        )

        # Driver-side touched-shard literal read off the batch dir just
        # written (its shard= dirs ARE the touched set) — bounded by
        # 16^shard_hex, and static so history pruning is planning-time.
        touched = sorted(
            p.name.split("=", 1)[1]
            for p in (rows_dir / f"ingest_batch={batch_id}").glob("shard=*")
        )
        seen = touched_doc_history(spark, rows_dir, touched)
        blocks = group_texts_blocks(
            seen, idc, tc, block_len, shard_hex=shard_hex
        )

        # Touched shards written fresh (the offset recurrence is
        # prefix-dependent within a shard); everything else hard-linked.
        _publish_shards(table, blocks, touched, batch_id, floor=batch_id)
        maybe_consolidate_in_stream(
            spark, _store_map(odir), batch_id, consolidate_every
        )

    return run_view(
        spark, corpus_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )


def current_block_texts(
    spark: SparkSession,
    out_dir: str | Path,
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
) -> DataFrame | None:
    """Materialized training sequences from the maintained map: the
    published assignment map joined back to the caller's corpus frame
    through ``operators/packing.materialize_block_texts`` — one call
    from "maintained store" to "data a trainer reads". ``docs`` must be
    the same corpus view the map was folded from (e.g. the funnel's
    ``current_corpus`` with a tokens array added); a revoked doc absent
    from the map simply contributes no slice. None before the first
    batch."""
    from ..operators.packing import materialize_block_texts

    blocks = current_blocks(spark, out_dir)
    if blocks is None:
        return None
    return materialize_block_texts(blocks, docs, id_col, tokens_col)
