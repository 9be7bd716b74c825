"""Batch ingestion pipeline — the whole reference topology as one Spark job.

Reference lifecycle (SURVEY §3.1): upload → ledger insert → queue →
FileSplitter → queue → DataProcessor → Mongo upsert + counters. Here:

    landing dir ──discover (anti-join vs ledger)──▶ bronze parse
        ─▶ valid/invalid split + per-file counts
        ─▶ keyed merge into the products table
        ─▶ ledger status events (processed / processed_with_errors / failed)
        ─▶ GC of fully processed landing files

The job is the unit of completion, so the reference's counter race
(SURVEY §2 op 14) is structurally absent. Re-running over the same files
is a no-op (idempotent merge + ledger anti-join) — the exactly-once
upgrade of at-least-once queue redelivery.

Storage: plain parquet behind a versioned atomic-symlink publish (the
local stand-in for a transactional table format). Writes are
MERGE-ON-READ once a base version is published: each ingest batch lands
as a small ``products.v{N}.d{k}`` delta dir (one batch-merged row per
code) instead of rewriting the table, ``products()`` composes
base ∪ deltas without shuffling the base, and every
``delta_fold_threshold`` deltas the composed view is materialized as the
next base version — the amortized rewrite. On a production lake this
maps to Delta/Iceberg MERGE INTO with deletion-vector/merge-on-read
semantics; the 100 TB argument is the same: a 50k-record weekly file
must cost O(batch), not O(table).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.merge import merge_products
from .schema import (
    PRODUCT_SCHEMA,
    STATUS_FAILED,
    STATUS_PROCESSED,
    STATUS_PROCESSED_WITH_ERRORS,
    STATUS_UPLOADED,
)
from .session import local_frame
from .sources.json_ingest import (
    CHUNK_RECORDS,
    JSONL_PARTITION_BYTES,
    MALFORMED_SEQ,
    SPLIT_THRESHOLD_BYTES,
    read_bronze_splittable,
)
from .sources.landing import discover_new_files, gc_file
from .sources.ledger import LedgerStore
from .versioning import COMPLETE, VersionedTable


@dataclass
class IngestReport:
    files: dict[str, dict] = field(default_factory=dict)  # file_id -> counters/status
    #: file_id -> {"seconds","bytes","mb_per_s"} for array deliveries
    #: that paid the single-core driver array→JSONL conversion pass
    #: (JSONL deliveries never appear here: they scan natively). The
    #: cost is measured so a multi-GB array upload's serial prefix is
    #: visible in the report, not discovered as mystery wall time.
    conversions: dict[str, dict] = field(default_factory=dict)

    @property
    def total_processed(self) -> int:
        return sum(f["records_processed"] for f in self.files.values())


class ProductWarehouse:
    """Products table + ledger under one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse_dir: str | Path):
        self.spark = spark
        self.dir = Path(warehouse_dir)
        self.products_path = self.dir / "products"
        self._table = VersionedTable(self.products_path, COMPLETE)
        self.ledger = LedgerStore(spark, self.dir)
        # Splittable-parse knobs (tests shrink them to exercise chunking).
        self.split_threshold_bytes = SPLIT_THRESHOLD_BYTES
        self.chunk_records = CHUNK_RECORDS
        self.jsonl_partition_bytes = JSONL_PARTITION_BYTES
        self._products_lock_path = self.dir / "products.lock"
        #: Merge-on-read fold cadence: once a published base version has
        #: this many delta dirs, the next ingest folds them into a new
        #: base (the amortized full rewrite). 0/None disables deltas —
        #: every merge rewrites the full table (the pre-delta behavior).
        self.delta_fold_threshold: int | None = 8
        #: How long a reaped orphan stays resurrection-eligible before
        #: the janitor retires it from the checked set (see
        #: reap_orphaned_uploads).
        self.reap_retire_after_seconds: float = 3600.0

    def _products_lock(self):
        """Cross-process mutual exclusion for the products
        read-merge-publish critical section (and compaction): an exclusive
        ``flock`` on ``<warehouse>/products.lock`` (shared implementation:
        ``locking.file_lock``, the ledger.lock discipline). Without it two
        concurrent merges both compute ``products.v{N+1}``: one rmtrees
        the dir the other just published and the last symlink swap
        silently drops the other writer's rows. Since the merge re-reads
        the published table inside the lock, serialized writers fold each
        other's rows correctly."""
        from .locking import file_lock

        return file_lock(self._products_lock_path)

    # -- products table ------------------------------------------------------

    def _product_versions(self) -> list[Path]:
        return self._table.versions()

    def _resolve_products_dir(self) -> Path | None:
        """The directory ``products()`` reads — resolved ONCE so the scan
        is pinned: the symlink target, a legacy real directory
        (pre-versioning warehouse), or the newest COMPLETE version dir
        (crash between write and publish). Completeness = ``_SUCCESS``: a
        version dir that older code wrote in place may be a torn crash
        remnant, and trusting it would propagate a torn table into the
        next merge — better absent (the ledger/event log makes re-ingest
        self-healing)."""
        return self._table.read_target()

    def _delta_dirs(self, base: Path) -> list[Path]:
        """COMMITTED merge-on-read delta dirs of a versioned base, in
        fold order (``products.v{N}.d{k}``, ascending k). Commitment is
        the engine's OWN ``_delta_commit`` marker, written into the tmp
        dir before the atomic rename — deliberately not parquet's
        ``_SUCCESS``, which is a committer artifact a session conf can
        turn off (``mapreduce.fileoutputcommitter.marksuccessfuljobs=
        false``, routine on object stores); a delta invisible for lack
        of ``_SUCCESS`` would be ingested data silently dropped AND
        swept, with the landing file already GC'd. Because the marker
        precedes the rename, every final-named delta dir carries it;
        a dir without one is foreign (partial copy) and is ignored,
        never deleted here."""
        import re

        if not re.match(r"^products\.v\d+$", base.name):
            return []  # legacy real dir: the delta protocol never ran
        pat = re.compile(re.escape(base.name) + r"\.d(\d+)$")
        found = [
            (int(m.group(1)), q)
            for q in self.dir.iterdir()
            if (m := pat.match(q.name)) and (q / "_delta_commit").exists()
        ]
        return [q for _, q in sorted(found)]

    def products(self) -> DataFrame:
        """The current products table.

        Resolves the read target ONCE at planning time (pinned version
        directory + its delta dirs; retention keeps both through one
        further publish, same reader discipline as sources/ledger.py) —
        a concurrent merge publishing a new version or folding deltas
        can't delete files out from under an in-flight scan. With
        merge-on-read deltas present, the returned plan composes
        base ∪ deltas without ever shuffling the base (see
        ``_compose_with_deltas``)."""
        target = self._resolve_products_dir()
        if target is None:
            return local_frame(self.spark, [], PRODUCT_SCHEMA)
        base = self.spark.read.schema(PRODUCT_SCHEMA).parquet(str(target))
        deltas = self._delta_dirs(target)
        if not deltas:
            return base
        return self._compose_with_deltas(base, deltas)

    def _compose_with_deltas(
        self, base: DataFrame, delta_dirs: list[Path]
    ) -> DataFrame:
        """Merge-on-read: the table IS base ∪ deltas folded per code.

        The $set field-survival fold is associative, so folding
        (base row, delta₁ row, … deltaₖ row) per code — each delta
        already one batch-merged row per code — equals the sequential
        full merges it replaced. Shape for 100 TB: the delta code set
        broadcasts into a semi/anti join pair, so the BASE is never
        shuffled (no SortMergeJoin, pinned by
        ``test_products_delta_view_never_shuffles_base``); only the
        matched slice (bounded by delta size) plus the stacked deltas
        enter the ``merge_products`` groupBy. This is the
        Delta-Lake-style merge-on-read read path; ``ingest_paths`` folds
        the deltas into a new base version at
        ``delta_fold_threshold``, amortizing the full rewrite that every
        merge used to pay."""
        stacked = None
        for k, d in enumerate(delta_dirs):
            df = self.spark.read.schema(PRODUCT_SCHEMA).parquet(str(d)).withColumn(
                "__dgen", F.lit(k).cast("long")
            )
            stacked = df if stacked is None else stacked.unionByName(df)
        codes = stacked.select("code").distinct()
        hit = base.join(F.broadcast(codes), "code", "left_semi")
        miss = base.join(F.broadcast(codes), "code", "left_anti")
        folded = merge_products(hit, stacked, seq_col="__dgen")
        return miss.unionByName(folded)

    def _has_products(self) -> bool:
        p = self.products_path
        return p.is_symlink() or self._resolve_products_dir() is not None

    def _table_bytes(self) -> int:
        """Parquet bytes of the published products table + live deltas
        (driver-side stat, no Spark job) — the size estimator for output
        file sizing. Resolves the table exactly as the read path does, so
        a complete but unpublished version (crash between write and
        publish) is counted, not estimated as empty."""
        base = self._resolve_products_dir()
        roots = [base, *self._delta_dirs(base)] if base is not None else []
        return sum(
            f.stat().st_size
            for root in roots
            for f in Path(root).rglob("*.parquet")
            if f.is_file()
        )

    def _overwrite_products(
        self,
        df: DataFrame,
        n_files: int | None = None,
        extra_bytes: int = 0,
    ) -> None:
        """Publish ``df`` as the next products version
        (``VersionedTable.publish``: tmp write, rename, atomic symlink
        swap, {new, previously-read} retention — readers never see a
        half-written table, and a reader mid-scan on the previous version
        survives).

        Layout: range-partitioned + sorted by code, so every parquet file
        owns a disjoint code range — point lookups (op 15) prune to one
        file via min/max stats, and the next merge's shuffle reads
        pre-clustered data. (On a lakehouse table this is bucketBy(code) /
        liquid clustering; range+sort is the plain-parquet equivalent.)

        File count: ``n_files`` when given (compaction passes its own),
        else derived from the published table's bytes plus
        ``extra_bytes`` (the caller's estimate for not-yet-written input,
        e.g. the landing batch) at ~128 MB/file — guide §6 output sizing,
        scale-adaptive instead of a core-count constant (the old
        ``defaultParallelism // 4`` wrote kilobyte files at small scale
        and would cap a 100 TB table at 8 files). A single-file write
        skips the range sampler (and the cache that existed only to keep
        the sampler from computing the merge twice): one action, one
        sorted file — the same disjoint-range layout."""
        nparts = n_files or max(
            1, -(-(self._table_bytes() + extra_bytes) // (128 << 20))
        )

        def write(tmp: Path) -> None:
            if nparts == 1:
                (
                    df.coalesce(1)
                    .sortWithinPartitions("code")
                    .write.mode("overwrite")
                    .parquet(str(tmp))
                )
                return
            # repartitionByRange runs a separate range-sampling job first;
            # cache the merge result so sampling + write don't compute it
            # twice.
            cached = df.cache()
            try:
                (
                    cached.repartitionByRange(nparts, "code")
                    .sortWithinPartitions("code")
                    .write.mode("overwrite")
                    .parquet(str(tmp))
                )
            finally:
                cached.unpersist()

        # Writers hold the products flock, so nothing else is in-flight.
        self._table.publish(write)
        self._sweep_orphan_deltas()

    def _sweep_orphan_deltas(self) -> None:
        """Merge-on-read delta dirs (and their crashed tmps) live and die
        with their base version: a retained base keeps its deltas (a
        pinned reader's composed plan spans both); once the base is
        retired its deltas are unreachable. Run after every retention
        pass — including the no-deltas compaction branch, whose
        ``compact_published_table`` retires bases without knowing the
        delta protocol exists."""
        import re

        live = {v.name for v in self._product_versions()}
        dpat = re.compile(r"^(products\.v\d+)\.d\d+(\.tmp)?$")
        for q in list(self.dir.iterdir()):
            m = dpat.match(q.name)
            if m and m.group(1) not in live:
                shutil.rmtree(q, ignore_errors=True)

    def _append_delta(self, delta: DataFrame, base: Path) -> Path:
        """Publish one batch-merged delta dir beside its base version
        (``{base}.d{k}``, write to tmp + ``_delta_commit`` marker +
        atomic rename; called under the products flock). Tmp dirs of
        crashed appends to THIS base are swept first — safe, nothing
        else can be writing — and the committed k sequence continues
        past them."""
        for q in self.dir.glob(f"{base.name}.d*.tmp"):
            shutil.rmtree(q, ignore_errors=True)
        ks = [int(d.name.rsplit(".d", 1)[1]) for d in self._delta_dirs(base)]
        k = max(ks, default=0) + 1
        tmp = self.dir / f"{base.name}.d{k}.tmp"
        nparts = max(1, self.spark.sparkContext.defaultParallelism // 16)
        (
            delta.coalesce(nparts)
            .sortWithinPartitions("code")
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        # Commit marker BEFORE the rename: a final-named dir is therefore
        # always complete, independent of the parquet committer's
        # _SUCCESS conf (see _delta_dirs).
        (tmp / "_delta_commit").write_text("")
        final = self.dir / f"{base.name}.d{k}"
        tmp.rename(final)
        return final

    def compact_products(self, target_file_bytes: int = 128 << 20):
        """Online small-file compaction of the products table: the
        compacted copy becomes the next ``products.v{N}`` published
        through the same atomic symlink swap as a merge, so concurrent
        readers (pinned to their resolved version, two-version retention)
        are safe; concurrent WRITERS are excluded by the products flock —
        a merge waits for the compaction, then reads the compacted table.
        Keeps the range-partitioned/sorted-by-code layout the point-lookup
        path prunes against. No-op before the first published version."""
        from .operators.maintenance import CompactionReport, compact_published_table

        with self._products_lock():
            if not self.products_path.is_symlink():
                return None
            base_dir = self._resolve_products_dir()
            deltas = self._delta_dirs(base_dir) if base_dir is not None else []
            if deltas:
                # Live merge-on-read deltas: fold AND compact in ONE
                # publish — compact_published_table reads only the
                # symlink target (it would silently drop delta rows),
                # and folding first then compacting would publish twice
                # in a row, evicting the version a reader pinned just
                # before the call (the contract is: a pinned version
                # survives ONE publish). The composed view materializes
                # through the normal versioned publish with compaction's
                # file sizing.
                parts = [
                    f
                    for d in (base_dir, *deltas)
                    for f in Path(d).rglob("*.parquet")
                    if f.is_file()
                ]
                total = sum(f.stat().st_size for f in parts)
                n_out = max(1, -(-total // target_file_bytes))
                self._overwrite_products(self.products(), n_files=n_out)
                new_dir = self._resolve_products_dir()
                after = [f for f in new_dir.rglob("*.parquet") if f.is_file()]
                rows = self.spark.read.parquet(str(new_dir)).count()
                return CompactionReport(len(parts), len(after), total, rows)
            rep = compact_published_table(
                self.spark,
                self.products_path,
                target_file_bytes=target_file_bytes,
                sort_col="code",
            )
            # compact_published_table retires bases without knowing the
            # delta protocol; orphaned delta dirs must not leak.
            self._sweep_orphan_deltas()
            return rep

    def vacuum(
        self,
        landing_dir: str | Path | None = None,
        target_file_bytes: int = 128 << 20,
        compact_min_files: int = 16,
        scratch_min_age_seconds: float = 86_400.0,
    ) -> dict:
        """One-call periodic maintenance — the nightly-job entrypoint
        bundling every upkeep pass a long-lived warehouse needs:

        1. sweep ``jsonl_scratch_*`` dirs orphaned by a killed ingest
           (the in-process ``finally`` cleans them, but ``kill -9``
           between ``mkdtemp`` and that ``finally`` leaks the dir
           forever). Age-gated by ``scratch_min_age_seconds`` (default
           24 h) so a LIVE ingest's scratch is never swept — ingest
           batches complete in minutes; the same in-flight-window
           reasoning as ``reap_orphaned_uploads``'s age guard;
        2. run the upload janitor (when ``landing_dir`` is given) —
           crash-orphaned 'uploaded' events resolve instead of pending
           forever;
        3. fold outstanding merge-on-read deltas and compact the
           products table (``compact_products``) when there is anything
           to fold or the table is fragmented past
           ``compact_min_files`` parquet files. Online-safe for readers
           (versioned publish); concurrent writers serialize on the
           products flock.

        The ledger needs no entry here: its tail self-checkpoints on
        append (``TAIL_MAX_FILES``). Streaming-sink stores
        (packing/index/dedup) are maintained by their own
        ``compact_*``/``consolidate`` calls while their stream is
        stopped — they live outside the warehouse dir and their offline
        contract can't be verified from here.

        Returns ``{"scratch_swept": int, "reaped": [file_id, ...],
        "compaction": CompactionReport | None}``."""
        import time as _time

        report: dict = {"scratch_swept": 0, "reaped": [], "compaction": None}
        now = _time.time()
        for p in self.dir.glob("jsonl_scratch_*"):
            try:
                aged = now - p.stat().st_mtime > scratch_min_age_seconds
            except OSError:
                continue  # concurrently removed by its own ingest
            if aged:
                shutil.rmtree(p, ignore_errors=True)
                report["scratch_swept"] += 1
        if landing_dir is not None:
            report["reaped"] = self.reap_orphaned_uploads(landing_dir)
        if self.products_path.is_symlink():
            base = self._resolve_products_dir()
            deltas = self._delta_dirs(base) if base is not None else []
            n_files = len(
                [
                    f
                    for d in (base, *deltas)
                    if d is not None
                    for f in Path(d).rglob("*.parquet")
                    if f.is_file()
                ]
            )
            if deltas or n_files > compact_min_files:
                report["compaction"] = self.compact_products(target_file_bytes)
        return report

    #: content_type stamped on reaper-authored ``failed`` events, so a
    #: mis-reap (the TOCTOU below) is distinguishable from an ingest
    #: failure — only reaper-failed files are eligible for resurrection.
    REAPED_CONTENT_TYPE = "application/x-reaped-orphan"

    def reap_orphaned_uploads(
        self, landing_dir: str | Path, min_age_seconds: float = 60.0
    ) -> list[str]:
        """Crash janitor for the upload publish window: the HTTP shim
        appends the ``uploaded`` ledger event BEFORE the atomic rename
        that makes the landing file visible (sources/landing.py), so a
        crash (or failed rename) in between leaves an event for a file
        that never landed. Discovery is filesystem-driven — nothing can
        ever resolve that event, and GET /upload/status would report
        pending forever.

        For each ``uploaded``-status file with no landing file:

        - if its ``.tmp`` sibling survives AND the event is older than
          ``min_age_seconds``, FINISH the interrupted rename
          (``before_visible`` runs only after the bytes are durably
          written, so a tmp alongside an appended event is complete) —
          the upload resurrects and processes normally. The age guard
          matters here too: a FRESH tmp belongs to a LIVE upload whose
          own rename is microseconds away — stealing it would make the
          uploader's ``os.replace`` raise and 500 a request that
          actually landed;
        - else, once older than ``min_age_seconds`` (guards the benign
          in-flight window between append and rename), mark it terminally
          ``failed`` — the same contract as an exhausted retry.

        The failed mark has a TOCTOU: an uploader stalled past the age
        guard can complete its rename after this janitor's existence
        check, terminally failing a file that DID land (discovery skips
        terminal statuses — silent drop). Three defenses: the landing
        check is re-run just before the event is queued; the append
        itself is CONDITIONAL (``skip_if_terminal`` — checked inside the
        ledger's write locks, so a concurrent ingest that
        discovered-processed-GC'd the file in the janitor's
        decide-to-append window wins, and the janitor's stale ``failed``
        is dropped rather than overriding ``processed``); and reaper
        events carry ``REAPED_CONTENT_TYPE`` so the NEXT janitor pass
        RESURRECTS any reaper-failed file that is, after all, present in
        landing (appends a fresh ``uploaded`` event; discovery then
        processes it normally). A mis-reap therefore self-heals one pass
        later instead of dropping data; ingest-failed files (normal
        content_type) are never resurrected.

        Eligibility for resurrection is TIME-BOUNDED, not eternal: a
        reaper-failed file still absent ``reap_retire_after_seconds``
        after its reap is re-marked with the normal content_type (same
        ``failed`` status — an audit no-op) and leaves the checked set,
        so per-pass driver traffic stays bounded by pending uploads +
        recent reaps, not every orphan in warehouse history. The TTL
        (not one-pass) eligibility plus a final existence re-check keep
        the permanently-unrecoverable window (a rename that stalls past
        the TTL and then lands inside the append latency) vanishingly
        small; even then the file remains visible in the landing dir.
        Resurrect/retire events are compare-and-append (``expect``):
        they commit only while the file's ledger row still matches this
        pass's snapshot, so a concurrent janitor's resurrection — and
        any ``processed`` that followed it — is never regressed by this
        process's stale event.

        Returns the file_ids marked failed this pass."""
        if not self.ledger.exists():
            return []
        landing = Path(landing_dir)
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        reap_events: list[dict] = []
        other_events: list[dict] = []  # resurrections + retirements

        # Sweep landing files whose ledger status is already
        # processed/processed_with_errors: ingest appends events BEFORE
        # GC (the reverse order loses data — see ingest_paths), so a
        # crash in between leaves fully-merged files in landing that
        # discovery skips forever. 'failed' files are NOT swept (the
        # retained-for-inspection contract). Driver traffic is bounded by
        # the landing listing, mirroring discover_new_files.
        from .sources.landing import gc_file as _gc
        from .sources.landing import list_landed

        landed_now = [Path(p).name for p in list_landed(landing)]
        if landed_now:
            landed_df = local_frame(
                self.spark, [(n,) for n in landed_now], "file_id string"
            )
            done = {
                r["file_id"]
                for r in self.ledger.current()
                .filter(
                    F.col("status").isin(
                        STATUS_PROCESSED, STATUS_PROCESSED_WITH_ERRORS
                    )
                )
                .join(F.broadcast(landed_df), "file_id", "left_semi")
                .select("file_id")
                .collect()
            }
            for n in done:
                _gc(landing / n)

        def event(r, status, content_type):
            return {
                "file_id": r["file_id"],
                "filename": r["filename"],
                "location": r["location"],
                "uploaded_at": r["uploaded_at"] or now,
                "content_type": content_type,
                "status": status,
                "total_records": 0,
                "records_processed": 0,
                "records_failed": 0,
            }

        expect: dict[str, tuple[str, str]] = {}
        rows = (
            self.ledger.current()
            .filter(
                (F.col("status") == STATUS_UPLOADED)
                | (
                    (F.col("status") == STATUS_FAILED)
                    & (F.col("content_type") == self.REAPED_CONTENT_TYPE)
                )
            )
            .select(
                "file_id", "filename", "location", "uploaded_at", "status",
                "event_ts",
            )
            .collect()
        )
        for r in rows:
            fid = r["file_id"]
            if r["status"] == STATUS_FAILED:
                expect[fid] = (STATUS_FAILED, self.REAPED_CONTENT_TYPE)
                if (landing / fid).exists():
                    # A previous pass reaped this file, yet it exists in
                    # the landing dir: the mis-reap race. Resurrect it.
                    other_events.append(
                        event(r, STATUS_UPLOADED, "application/json")
                    )
                    continue
                reap_age = (
                    (now - r["event_ts"]).total_seconds()
                    if r["event_ts"]
                    else None
                )
                if (
                    reap_age is not None
                    and reap_age > self.reap_retire_after_seconds
                    and not (landing / fid).exists()  # final re-check
                ):
                    # Still absent long after the reap: genuinely
                    # orphaned. Re-mark with the normal content_type so
                    # it leaves the resurrection-eligible set — without
                    # this, every orphan ever reaped would be collected
                    # and stat()ed on every future pass, forever.
                    other_events.append(
                        event(r, STATUS_FAILED, "application/json")
                    )
                continue
            if (landing / fid).exists():
                continue  # landed; discovery will resolve it
            age = (now - r["uploaded_at"]).total_seconds() if r["uploaded_at"] else None
            if age is not None and age < min_age_seconds:
                continue  # benign in-flight window (rename or tmp write live)
            tmp = landing / f".{fid}.tmp"
            if tmp.exists():
                try:
                    os.replace(tmp, landing / fid)  # finish the publish
                except FileNotFoundError:
                    pass  # the (slow) uploader's own rename won the race
                continue
            if (landing / fid).exists():
                continue  # rename landed since the first check (TOCTOU)
            reap_events.append(event(r, STATUS_FAILED, self.REAPED_CONTENT_TYPE))
        if other_events:
            # Compare-and-append: resurrect/retire only while the row
            # still matches this pass's snapshot (a concurrent janitor
            # may have resurrected — and a consumer processed — first).
            self.ledger.append(other_events, expect=expect)
        reaped: list[str] = []
        if reap_events:
            # Conditional: dropped inside the ledger locks for any file a
            # concurrent ingest already drove to a terminal status.
            reaped = self.ledger.append(reap_events, skip_if_terminal=True)
        return reaped

    # -- ingestion -----------------------------------------------------------

    def ingest(self, landing_dir: str | Path, delete_processed: bool = True) -> IngestReport:
        """Process every not-yet-ingested file in the landing dir (batch
        mode: ledger anti-join discovery)."""
        new_paths = discover_new_files(
            landing_dir, self.ledger.current() if self.ledger.exists() else None
        )
        return self.ingest_paths(new_paths, delete_processed=delete_processed)

    def ingest_paths(
        self, new_paths: list[str], delete_processed: bool = True
    ) -> IngestReport:
        """Process an explicit list of landed files — the shared core of
        batch ``ingest()`` and the streaming ``foreachBatch`` body."""
        report = IngestReport()
        if not new_paths:
            return report

        # Large array files fan out into JSONL chunks (scratch is derived
        # data, wiped after the batch); conversion failures take the
        # whole-file-failure path below without touching executors.
        import tempfile

        self.dir.mkdir(parents=True, exist_ok=True)
        scratch = Path(tempfile.mkdtemp(prefix="jsonl_scratch_", dir=self.dir))
        bronze, conv_failed = read_bronze_splittable(
            self.spark,
            [str(p) for p in new_paths],
            scratch,
            threshold_bytes=self.split_threshold_bytes,
            chunk_records=self.chunk_records,
            jsonl_partition_bytes=self.jsonl_partition_bytes,
        )
        from .sources.json_ingest import LAST_CONVERSION_STATS

        report.conversions = dict(LAST_CONVERSION_STATS)
        bronze = bronze.cache()
        try:
            # Per-file counters in one aggregation (SURVEY §2 ops 6,13):
            # total counts every array element (valid or not), like the
            # splitter's running counter (file_splitter.py:114-130);
            # malformed sentinel rows count as 0 records.
            stats = {
                r["file_id"]: r.asDict()
                for r in bronze.groupBy("file_id")
                .agg(
                    F.sum(F.when(F.col("seq") >= 0, 1).otherwise(0)).alias("total_records"),
                    F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("records_processed"),
                    F.sum(
                        F.when((~F.col("valid")) & (F.col("seq") >= 0), 1).otherwise(0)
                    ).alias("records_failed"),
                    F.max(F.when(F.col("seq") == MALFORMED_SEQ, 1).otherwise(0)).alias(
                        "malformed"
                    ),
                )
                .collect()
            }
            for fid in conv_failed:
                stats[fid] = {
                    "total_records": 0,
                    "records_processed": 0,
                    "records_failed": 0,
                    "malformed": 1,
                }

            # Merge only records from well-formed files (a malformed file
            # ingests nothing: file_splitter.py:74-81 fails before publish).
            malformed_ids = [fid for fid, s in stats.items() if s["malformed"] == 1]
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            valid = (
                bronze.filter(F.col("valid") & ~F.col("file_id").isin(malformed_ids))
                .withColumn("last_modified_at_company", F.lit(now))
                .select(
                    "code",
                    "product_name",
                    "file_id",
                    "last_modified_at_company",
                    "attrs",
                    "seq",
                )
            )
            # Cross-file ordering: files sorted by landing name (timestamped)
            # — later uploads win, matching queue arrival order. A tiny
            # broadcast-joined (file_id → ord) table keeps the expression
            # tree constant-depth no matter how many files the batch holds.
            file_order = [(Path(p).name, i) for i, p in enumerate(sorted(new_paths))]
            order_df = local_frame(
                self.spark, file_order, "file_id string, __ford long"
            )
            valid = (
                valid.join(F.broadcast(order_df), "file_id", "left")
                .withColumn(
                    "seq",
                    (
                        F.coalesce(F.col("__ford"), F.lit(0)) * F.lit(10_000_000_000)
                        + F.col("seq")
                    ).cast("long"),
                )
                .drop("__ford")
            )

            # A batch with zero valid records has nothing to merge: skip
            # the products write entirely (the old path rewrote the full
            # table for nothing; the delta path would append an empty
            # delta that stacks into every composed plan and advances
            # the fold counter toward a pointless O(table) rewrite).
            # Ledger events and GC below still run.
            has_valid = any(
                s["malformed"] != 1 and s["records_processed"] > 0
                for s in stats.values()
            )
            # The products read-merge-publish is the cross-process critical
            # section: the read resolves the symlink at PLANNING time, so
            # the lock must cover plan + write + publish, or two merges
            # race to the same next version and one silently loses rows.
            if has_valid:
                with self._products_lock():
                    base_dir = (
                        self._resolve_products_dir()
                        if self.products_path.is_symlink()
                        else None
                    )
                    if base_dir is not None and self.delta_fold_threshold:
                        # Merge-on-read: a published base exists, so this
                        # batch lands as a small delta dir instead of a
                        # full table rewrite — at 100 TB a 50k-record
                        # file must not rewrite billions of rows. The
                        # batch is folded to one row per code first
                        # (idempotent under crash-replay: re-appending
                        # the same content is a $set no-op in the
                        # composed view).
                        delta = merge_products(None, valid)
                        self._append_delta(delta, base_dir)
                        if (
                            len(self._delta_dirs(base_dir))
                            >= self.delta_fold_threshold
                        ):
                            # Amortized rewrite: materialize the composed
                            # view as the next base version (readers
                            # pinned to old base + deltas survive one
                            # publish).
                            self._overwrite_products(self.products())
                    else:
                        existing = (
                            self.products() if self._has_products() else None
                        )
                        merged = merge_products(existing, valid)
                        # size the write by published bytes + this batch's
                        # landing bytes (raw JSON ≥ its parquet, so the
                        # estimate errs toward more files, never fewer)
                        batch_bytes = sum(
                            os.path.getsize(p)
                            for p in new_paths
                            if os.path.exists(p)
                        )
                        self._overwrite_products(merged, extra_bytes=batch_bytes)

            # Ledger events + landing GC.
            events = []
            to_gc: list[str] = []
            for path in new_paths:
                fid = Path(path).name
                s = stats.get(
                    fid,
                    {"total_records": 0, "records_processed": 0, "records_failed": 0, "malformed": 0},
                )
                if s["malformed"] == 1:
                    status = STATUS_FAILED  # file retained for inspection
                elif s["records_failed"] > 0:
                    status = STATUS_PROCESSED_WITH_ERRORS
                else:
                    status = STATUS_PROCESSED
                events.append(
                    {
                        "file_id": fid,
                        "filename": fid.split("_", 2)[-1],
                        "location": str(path),
                        "uploaded_at": now,
                        "content_type": "application/json",
                        "status": status,
                        # on parse failure the reference never writes ANY
                        # counter (all stay at the model default 0):
                        # file_splitter.py:72,74-81 — and the whole-file
                        # failure merged nothing, so a nonzero
                        # records_processed would claim records that are
                        # NOT in the products table.
                        "total_records": int(s["total_records"]) if s["malformed"] != 1 else 0,
                        "records_processed": int(s["records_processed"]) if s["malformed"] != 1 else 0,
                        "records_failed": int(s["records_failed"]) if s["malformed"] != 1 else 0,
                    }
                )
                report.files[fid] = {
                    "status": status,
                    "total_records": int(s["total_records"]) if s["malformed"] != 1 else 0,
                    "records_processed": int(s["records_processed"]) if s["malformed"] != 1 else 0,
                    "records_failed": int(s["records_failed"]) if s["malformed"] != 1 else 0,
                }
                if status != STATUS_FAILED and delete_processed:
                    to_gc.append(path)
            # Ledger events BEFORE landing GC: the reverse order turns a
            # crash (or a transient append failure) between the two into
            # files that are merged into products but forever 'uploaded'
            # in the ledger with no landing file left — undiscoverable,
            # and then janitor-reaped to a terminal 'failed' for data
            # that actually ingested. With this order a crash after the
            # append leaves a processed-status file in landing, which
            # discovery skips and the janitor sweeps (reap_orphaned_
            # uploads' terminal-present pass).
            self.ledger.append(events)
            for path in to_gc:
                gc_file(path)
        finally:
            bronze.unpersist()
            shutil.rmtree(scratch, ignore_errors=True)
        return report
