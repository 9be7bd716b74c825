"""Incremental sequence packing over a streaming corpus source.

The streaming face of ``operators/packing.py``'s sharded packer: corpus
increments arriving as parquet files fold into a maintained packed table
per micro-batch. Greedy packing is prefix-dependent, so a shard's bins
cannot be extended row-by-row without state — instead each micro-batch
REPACKS exactly the shards it touches, over all rows seen so far for
those shards. A row's shard is a pure function of its order key
(``pmod(xxhash64(order_col), n_shards)``), so shard membership is stable
across micro-batches and any new row for a shard re-touches it; therefore
after the stream drains, every shard's bins were last computed over its
full row set and the packed table equals the batch
``pack_sequences_sharded`` over the whole corpus exactly
(``test_packing_stream_equals_batch``).

Cost per micro-batch is O(touched shards × shard size), never O(corpus),
and both halves of that claim are structural:

- **Scan side**: the accumulated rows store is PARTITIONED BY SHARD
  (``rows/ingest_batch=B/shard=S/``) and the history read filters with a
  driver-side ``shard IN (touched)`` literal — a static partition filter,
  so planning-time partition pruning means untouched shards' files are
  never even listed, let alone scanned (pinned by
  ``test_packing_stream_incremental_cost``).
- **Write side**: each published version is laid out ``shard=S/`` and
  only touched shards are written fresh; every untouched shard's files
  are HARD-LINKED from the previous version (an O(#files) metadata op —
  parquet files are immutable here, and two-version retention plus the
  atomic symlink publish keeps pinned readers safe exactly as before).

Same versioned idempotent sink as ``rollup_stream.py`` (versioned dirs +
atomic symlink publish + two-version retention; replayed batches skip the
fold and repair the symlink, so exactly-once holds without a
transactional sink).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..batchstore import (
    append_batch_increment,
    consolidate_stores,
    ensure_store_params,
    last_batch_id,
    maybe_consolidate_in_stream,
    read_batch_store,
    read_store,
    record_store_schema,
    run_view,
)
from ..operators.packing import pack_sequences_sharded
from ..versioning import VersionedTable, mark_folded, stream_table


def current_packed(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The latest published packed table, or None before the first batch.
    Resolves the ``current`` symlink once at planning time (pinned
    version dir — see rollup_stream.current_rollup)."""
    target = stream_table(out_dir).read_target()
    if target is None:
        return None
    return spark.read.parquet(str(target))


def current_revoked_keys(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """Order keys revoked from the packed table (see
    :func:`revoke_packed_docs`), one column named after the packer's
    order key, or None when nothing was ever revoked. Benchmark-sized
    by construction (eval-contamination revocations), so callers
    broadcast it."""
    store = Path(out_dir) / "revoked_keys"
    if last_batch_id(store) < 0:
        return None
    return read_batch_store(spark, store).drop("ingest_batch")


def touched_history(
    spark: SparkSession, rows_dir: str | Path, touched_shards: list[int]
) -> DataFrame:
    """All rows ever landed for the given shards — a partition-pruned scan.

    ``shard`` is a partition column of the rows store and
    ``touched_shards`` is a driver-side literal list, so the ``isin``
    lands in ``PartitionFilters`` and untouched shards' directories are
    pruned at planning time (never listed/scanned). This is what bounds
    the per-batch scan to O(touched shards), not O(corpus). The read
    goes through ``batchstore.read_batch_store`` so a consolidated rows
    store (see :func:`compact_rows_store`) serves the same view.

    Revoked keys (``revoke_packed_docs`` on the sibling warehouse dir)
    are anti-joined OUT here — the one history read every repack flows
    through — so a shard touched by any later micro-batch re-excludes
    revoked docs instead of resurrecting them. The revoked side is
    broadcast (benchmark-sized) and joined on its single recorded key
    column only, never on incidentally-shared names."""
    hist = (
        read_batch_store(spark, rows_dir)
        .filter(F.col("shard").isin([int(s) for s in touched_shards]))
        .drop("ingest_batch", "shard")
    )
    revoked = current_revoked_keys(spark, Path(rows_dir).parent)
    if revoked is not None:
        hist = hist.join(F.broadcast(revoked), revoked.columns, "left_anti")
    return hist


def _revocations_ledger(out_dir: Path) -> list[str]:
    p = out_dir / "revocations.json"
    return json.loads(p.read_text())["applied"] if p.exists() else []


def _commit_revocation(out_dir: Path, fingerprint: str) -> None:
    applied = _revocations_ledger(out_dir)
    tmp = out_dir / ".revocations.json.tmp"
    tmp.write_text(json.dumps({"applied": applied + [fingerprint]}, sort_keys=True))
    os.replace(tmp, out_dir / "revocations.json")


def revoke_packed_docs(
    spark: SparkSession,
    out_dir: str | Path,
    revoked_ids: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    capacity: int,
    n_shards: int = 64,
) -> int:
    """Propagate a revocation (e.g. the corpus-level frame returned by
    ``corpus_pipeline_stream.revoke_corpus_eval_generation``) into the
    maintained packed table, so contaminated docs' text does not survive
    into the training-ready artifact after the corpus view was fixed.

    A row's shard is a pure function of its order key, so the fold is
    O(revoked shards), never O(corpus): record the keys in the
    ``revoked_keys`` store (every later :func:`touched_history` read
    anti-joins them), then repack EXACTLY the shards that actually hold
    revoked rows over the post-revocation row set and publish through
    the existing versioned-symlink protocol — untouched shards stay
    hard-linked from the previous version, and the new version carries
    the previous ``_folded_batch`` forward so the stream's replay guard
    is unaffected. Pass the same packer parameters the stream was
    started with (they are baked into the rows-store layout).

    Idempotent via a count+xor fingerprint ledger (``revocations.json``,
    committed LAST): a crash anywhere re-heals on re-application — keys
    already stored are not re-appended, the repack is deterministic —
    and a committed delta re-applies as a no-op. An empty delta is a
    no-op (never fingerprinted, so it cannot wedge the ledger). Run
    while the packing stream is NOT running, like
    :func:`compact_rows_store`: the fold and a concurrent micro-batch
    would race on the publish symlink. Returns shards repacked.

    Design note: revoked rows stay PHYSICALLY in the rows store (only
    the anti-join excludes them) — revocation sets are
    benchmark-contamination-sized, so the storage/scan cost of the
    residue is negligible while a physical purge would have to rewrite
    immutable batch dirs under the crash-safe consolidation protocol
    for no measurable win. The PUBLISHED packed table — the
    training-ready artifact — never contains revoked text."""
    odir = Path(out_dir)
    rows_dir = odir / "rows"
    _pin_pack_params(odir, group_col, order_col, token_col, capacity, n_shards)
    delta = revoked_ids.select(order_col).distinct()
    stat = delta.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(order_col))).alias("x"),
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
        else delta.join(F.broadcast(prior), [order_col], "left_anti")
    )
    append_batch_increment(new_keys, store, last_batch_id(store) + 1)

    # Shards that actually HOLD revoked rows: hash the delta (bounded,
    # driver-collected shard literals), then one partition-pruned
    # semi-join against only those candidate shard dirs.
    shard_of = F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_shards)).cast("int")
    cand = sorted(
        int(r["s"])
        for r in delta.select(shard_of.alias("s")).distinct().collect()
    )
    table = stream_table(odir)
    present: list[int] = []
    rows = read_store(spark, rows_dir) if cand and table.versions() else None
    if rows is not None:
        present = sorted(
            int(r["shard"])
            for r in (
                rows.filter(F.col("shard").isin(cand))
                .join(F.broadcast(delta), [order_col], "left_semi")
                .select("shard")
                .distinct()
                .collect()
            )
        )
    if not present:
        # Nothing published holds these docs (or nothing published at
        # all — a crashed first batch replays against the now-updated
        # revoked store). Commit so re-application is a no-op.
        _commit_revocation(odir, fp)
        return 0

    seen = touched_history(spark, rows_dir, present)  # post-revocation rows
    repacked = pack_sequences_sharded(
        seen, group_col, order_col, token_col, capacity, n_shards=n_shards
    )
    # no new batch folded: carry the marker forward
    _publish_shards(table, repacked, present, table.last_folded())
    _commit_revocation(odir, fp)
    return len(present)


def _store_map(odir: Path) -> dict:
    return {odir / "rows": ["shard"]}


def compact_rows_store(spark: SparkSession, out_dir: str | Path) -> int:
    """OFFLINE maintenance for the packing stream's rows store: the store
    accretes one ``ingest_batch=B`` directory per micro-batch forever,
    and although partition pruning keeps SCANS bounded, partition
    DISCOVERY must still list every batch dir — O(#batches ever). This
    folds all live batches into one consolidated partition (crash-safe
    marker protocol, ``batchstore``), resetting the directory count to
    O(n_shards) while ``touched_history`` keeps returning the identical
    view. Run while the packing stream is NOT running; the packed table
    itself is compacted separately with
    ``maintenance.compact_published_table``. Returns dirs folded."""
    migrate_legacy_layout(spark, out_dir)  # pre-shard-layout warehouses
    return sum(consolidate_stores(spark, _store_map(Path(out_dir))).values())


def migrate_legacy_layout(spark: SparkSession, out_dir: str | Path) -> dict[str, int]:
    """One-time upgrade of a warehouse written by the pre-shard-layout
    packer (rows batches stored FLAT with ``shard`` as a data column;
    packed versions flat) to the current layout. Without it the first
    post-upgrade batch either wedges (mixed partition depths under
    ``rows/`` make partition discovery throw) or silently DROPS every
    untouched shard (``_link_shard_dirs`` finds no ``shard=`` dirs to link
    in a flat previous version). Runs automatically from
    :func:`start_packing_stream` and :func:`compact_rows_store`; a no-op
    (two cheap globs) on current-layout warehouses. Cost when it does
    fire is one read+rewrite of the store — O(history), once.

    Crash-safe: the rows store is rewritten beside the live one and
    swapped via ``rename(rows → rows.old); rename(rows.migrated → rows)``
    — a crash between the renames is finished at the next entry; the
    packed table is migrated as a NEW version carrying the previous
    ``_folded_batch`` forward, through the normal atomic publish.
    Returns {"rows_batches": migrated, "packed_versions": 0|1}."""
    odir = Path(out_dir)
    rows_dir = odir / "rows"
    migrated_root = odir / "rows.migrated"
    old_root = odir / "rows.old"
    report = {"rows_batches": 0, "packed_versions": 0}

    # Finish a crashed swap: rows was renamed away but the migrated store
    # not yet renamed in (or the retired store not yet deleted).
    if not rows_dir.exists() and migrated_root.exists():
        migrated_root.rename(rows_dir)
    if old_root.exists():
        shutil.rmtree(old_root, ignore_errors=True)

    if rows_dir.exists():
        batch_dirs = sorted(
            p for p in rows_dir.glob("ingest_batch=*") if p.is_dir()
        )
        has_rows = lambda p: any(  # noqa: E731
            f.suffix == ".parquet" for f in p.rglob("*") if f.is_file()
        )
        legacy = [
            p
            for p in batch_dirs
            if not any(p.glob("shard=*")) and has_rows(p)
        ]
        if legacy:
            if migrated_root.exists():
                shutil.rmtree(migrated_root)  # half-written prior attempt
            for p in batch_dirs:
                if not has_rows(p):
                    continue  # an empty batch contributes nothing
                # Per-dir read: legacy dirs carry shard as a data column,
                # current ones as a partition column — either way this
                # yields the same columns without tripping mixed-depth
                # partition discovery over the whole store.
                df = spark.read.parquet(str(p)).withColumn(
                    "shard", F.col("shard").cast("int")
                )
                df.write.partitionBy("shard").mode("overwrite").parquet(
                    str(migrated_root / p.name)
                )
            marker = rows_dir / "_consolidated.json"
            if marker.exists():  # batchstore view filter survives migration
                shutil.copy2(marker, migrated_root / marker.name)
            report["rows_batches"] = len(legacy)
            rows_dir.rename(old_root)
            migrated_root.rename(rows_dir)
            shutil.rmtree(old_root, ignore_errors=True)

    table = stream_table(odir)
    versions = table.versions()
    if versions:
        top = versions[-1]
        flat = not any(top.glob("shard=*")) and any(
            f.suffix == ".parquet" for f in top.iterdir() if f.is_file()
        )
        if flat:
            folded = table.last_folded()

            def write(tmp: Path) -> None:
                df = spark.read.parquet(str(top)).withColumn(
                    "shard", F.col("shard").cast("int")
                )
                df.write.partitionBy("shard").mode("overwrite").parquet(str(tmp))
                mark_folded(tmp, folded)

            table.publish(write)
            report["packed_versions"] = 1
    return report


def _pin_pack_params(
    out_dir: Path,
    group_col: str,
    order_col: str,
    token_col: str,
    capacity: int,
    n_shards: int,
) -> None:
    """Pin the packing warehouse's LAYOUT/VERDICT parameters with the
    standard ``ensure_store_params`` drift-refusal contract. ``n_shards``
    is baked into every rows-store partition and every published
    version's shard dirs — a restart (or a revocation fold) under a
    different modulus computes touched/candidate shards that miss the
    stored ones, silently diverging the maintained table from the batch
    packer; ``capacity`` and the column triple define the bins
    themselves. A legacy warehouse (pre-pin) is adopted on first
    contact: the marker is written, and every later caller must agree."""
    ensure_store_params(
        out_dir,
        {
            "kind": "packing",
            "group_col": group_col,
            "order_col": order_col,
            "token_col": token_col,
            "capacity": int(capacity),
            "n_shards": int(n_shards),
        },
    )


def _anchor_empty_version(tmp: Path, repacked: DataFrame) -> None:
    """A version dir with ZERO parquet files (every row of every shard
    revoked, or a batch whose rows were all already-revoked) would
    poison every later ``current_packed`` read with
    UNABLE_TO_INFER_SCHEMA. Anchor it with one empty, schema-carrying
    part file (flat — the shard column rides as a data column; later
    versions link nothing from it, which is correct: it has no rows)."""
    if not any(tmp.rglob("*.parquet")):
        repacked.limit(0).write.mode("append").parquet(str(tmp))


def _link_shard_dirs(prev_dir: Path, new_dir: Path, skip_shards: set) -> None:
    """Hard-link every ``shard=S`` partition dir of ``prev_dir`` with
    ``S not in skip_shards`` into ``new_dir``. Metadata-only (os.link):
    untouched shards cost O(#files), not O(bytes). Safe because packed
    parquet files are immutable — versions are only ever created whole
    and rmtree'd, never edited in place. (Hard links assume a POSIX
    filesystem — the local/HDFS deployment; on an object store the same
    O(touched) contract comes from a manifest listing per-version file
    sets instead of physical directories, i.e. a table format's commit
    log. The directory layout here is the plain-parquet stand-in.)

    Shard values compare as RAW partition strings (str() of the caller's
    values): the packer's int shards round-trip exactly through Spark's
    unpadded ``shard=5`` dir names, and the group-texts stream's md5-hex
    shards (``shard=1a``) must never be int-parsed — a parse-and-skip
    here would silently DROP an untouched shard from the new version."""
    skip = {str(s) for s in skip_shards}
    for shard_dir in prev_dir.glob("shard=*"):
        if shard_dir.name.split("=", 1)[1] in skip:
            continue
        shutil.copytree(shard_dir, new_dir / shard_dir.name, copy_function=os.link)


def _publish_shards(
    table: VersionedTable,
    df: DataFrame,
    touched: list,
    folded: int,
    floor: int = 1,
) -> None:
    """Publish the next version of a sharded sink: ``df`` holds the
    recomputed ``touched`` shards, written fresh; every other shard is
    hard-linked from the newest version (write cost O(touched shards)).
    Hard links keep their inodes alive when retention retires the link
    SOURCE, so linking from the newest version stays safe."""

    def write(tmp: Path) -> None:
        versions = table.versions()
        df.write.partitionBy("shard").mode("overwrite").parquet(str(tmp))
        if versions:
            _link_shard_dirs(versions[-1], tmp, skip_shards=set(touched))
        _anchor_empty_version(tmp, df)
        mark_folded(tmp, folded)

    table.publish(write, floor=floor)


def start_packing_stream(
    spark: SparkSession,
    corpus_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    group_col: str,
    order_col: str,
    token_col: str,
    capacity: int,
    n_shards: int = 64,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Stream corpus parquet files into the incrementally-maintained packed
    table. ``available_now=True`` drains what's landed and stops.
    ``consolidate_every=N`` folds the rows store's accumulated batch dirs
    in-stream every N batches (bounded at the previous batch, inside the
    same foreachBatch that owns all writes — no stop-the-stream window);
    ``None`` reverts to offline-only ``compact_rows_store``."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    migrate_legacy_layout(spark, odir)  # pre-shard-layout warehouses
    _pin_pack_params(odir, group_col, order_col, token_col, capacity, n_shards)
    rows_dir = odir / "rows"
    gc, oc, tc = group_col, order_col, token_col

    shard_of = F.pmod(F.xxhash64(F.col(oc)), F.lit(n_shards)).cast("int")
    table = stream_table(odir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_folded()
        if last is not None and last >= batch_id:
            # crash-replay of an already-folded batch: skip the fold,
            # repair the symlink if the crash preceded the publish
            table.relink_newest()
            return
        if not batch_df.take(1):
            # Empty micro-batch: a file-less rows/ingest_batch dir from a
            # partitioned empty write would poison every later history
            # scan of the rows store (UNABLE_TO_INFER_SCHEMA — fatal on
            # the very first batch), and a non-first empty batch would
            # publish a full new version of identical content per idle
            # trigger. Skip; the _folded_batch guard staying behind is
            # safe — a replayed empty batch re-skips here.
            return
        slim = batch_df.select(gc, oc, tc).withColumn("shard", shard_of)
        # Accumulate this batch's rows under a per-batch partition dir,
        # sub-partitioned by shard (the pruning key for every later
        # history scan) — overwrite makes a replayed append idempotent.
        slim.write.partitionBy("shard").mode("overwrite").parquet(
            str(rows_dir / f"ingest_batch={batch_id}")
        )
        record_store_schema(
            rows_dir, slim.schema, batch_id, rows_dir / f"ingest_batch={batch_id}", "shard"
        )

        # Driver-side touched-shard list: bounded by n_shards, and a
        # LITERAL, so the history filter below is a static partition
        # filter (planning-time pruning), not a post-scan join. Read it
        # off the batch dir just written — its shard= partition dirs ARE
        # the touched set — instead of a second scan + distinct shuffle
        # of the batch input (the overwrite above replaced the whole
        # dir, so a replayed batch can't see stale shard dirs).
        touched = sorted(
            int(p.name.split("=", 1)[1])
            for p in (rows_dir / f"ingest_batch={batch_id}").glob("shard=*")
        )
        seen = touched_history(spark, rows_dir, touched)
        repacked = pack_sequences_sharded(
            seen, gc, oc, tc, capacity, n_shards=n_shards
        )

        # Touched shards are written fresh (full-shard recompute — greedy
        # bins are prefix-dependent); everything else is hard-linked from
        # the previous version.
        _publish_shards(table, repacked, touched, batch_id, floor=batch_id)
        maybe_consolidate_in_stream(
            spark, _store_map(odir), batch_id, consolidate_every
        )

    return run_view(
        spark, corpus_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )
