"""Ingestion ledger — the ``uploaded_files`` collection re-expressed.

Reference (/root/reference/app/models.py:35-47): one mutable document per
file with status + counters, updated by atomic ``$inc`` from concurrent
workers (data_processor.py:115-141). Spark design: an **append-only event
table** (LEDGER_SCHEMA) — each status transition appends a row, and the
"current" ledger is the latest event per file_id (row_number window).
Counters are computed by aggregation over the bronze layer, so the
reference's total=0 completion race (file_splitter.py:72 vs
data_processor.py:126-141 — SURVEY §2 op 14) cannot exist here: the batch
job is the unit of completion. Intentional, documented divergence.

Point-status fast path: the reference serves ``GET /upload/status`` with
an O(1) keyed read (``UploadedFile.get``, api/main.py:106-127). Replaying
the whole event log per status call would instead be O(events). So every
``append`` also incrementally compacts a **current-state table**: latest
event per file_id, range-partitioned and sorted by file_id. ``status_of``
is then a single pushed-down point filter over one row per file — min/max
file stats prune to one parquet file, no window, no shuffle. The winner
rule (max by event_ts, then status) is associative, so folding new events
into the previous winners equals recomputing over the full log.

Durability of the state table: data is written to a versioned directory
(``ledger_state.v{N}``) and published by atomically replacing the
``ledger_state`` symlink (``os.replace`` of a sibling symlink — readers
resolve either the old or the new version, never a partial table). If the
state table is ever absent while the event log is not (a legacy warehouse,
or a crash between writing a version and publishing the symlink), both
``current()`` and the next compaction fold seed from the full event log —
the state table is a cache of the log, so losing it is always recoverable.

Concurrent writers: in-process appends serialize on a threading lock; a
CROSS-process writer (a second ApiServer/ProductWarehouse on the same
warehouse dir) serializes on an ``flock`` over ``<warehouse>/ledger.lock``
held across the whole append + read-merge-publish critical section. Each
compaction re-reads the published state inside the lock, so interleaved
writers fold each other's events correctly instead of clobbering the
state symlink.

Event-log growth bound: each append lands one small parquet file in the
``ledger`` tail; once the tail exceeds ``TAIL_MAX_FILES`` files it is
checkpointed — events already reflected in the published state fold into
a compacted ``ledger_hist`` version (symlink-published, two-version
retention) and the tail truncates (``_checkpoint_events``). The log's
file count and every replay fallback are therefore bounded by
O(file_ids + tail), not O(all transitions ever), no matter how old the
warehouse is.

Per-append job budget: an append is the ledger's keyed write (the
reference's one ``insert``/``$inc``), so its fixed Spark cost is kept at
two jobs — the tail write and the state write. The new events are a
``LocalRelation`` (``session.local_frame``), which both writes scan
without a job of their own, and while the state is one file the fold runs
on one partition inside the state write's job, with no shuffle
(``_fold``). A tail checkpoint adds one job, once per
``TAIL_MAX_FILES`` appends; a guarded append (``skip_if_terminal`` /
``expect``) adds the one job of its current-status read.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..session import local_frame
from ..versioning import COMPLETE, VersionedTable
from ..schema import (
    LEDGER_SCHEMA,
    STATUS_FAILED,
    STATUS_PROCESSED,
    STATUS_PROCESSED_WITH_ERRORS,
    STATUS_PROCESSING,
)

_TERMINAL_STATUSES = (STATUS_PROCESSED, STATUS_PROCESSED_WITH_ERRORS, STATUS_FAILED)


class LedgerStore:
    """Parquet-backed append-only ledger under ``<warehouse>/ledger``."""

    #: Append-tail checkpoint threshold: once the tail holds more small
    #: parquet files than this, _checkpoint_events folds superseded
    #: transitions into the compacted history and truncates the tail.
    TAIL_MAX_FILES = 64

    def __init__(self, spark: SparkSession, warehouse_dir: str | Path):
        self.spark = spark
        self.path = str(Path(warehouse_dir) / "ledger")
        self.state_path = str(Path(warehouse_dir) / "ledger_state")
        self.hist_path = str(Path(warehouse_dir) / "ledger_hist")
        # No version fallback for the state: a symlink-less warehouse
        # replays the event log instead.
        self._state = VersionedTable(self.state_path)
        self._hist = VersionedTable(self.hist_path, COMPLETE)
        # In-process append serialization: the API's upload thread and the
        # background processor share one store, and the compaction's
        # read-merge-publish is not safe to interleave. Cross-process
        # writers additionally serialize on the flock in _process_lock().
        self._write_lock = threading.Lock()
        self._lock_path = Path(warehouse_dir) / "ledger.lock"

    def _tail_files(self) -> list[Path]:
        p = Path(self.path)
        if not p.exists():
            return []
        return sorted(f for f in p.iterdir() if f.suffix == ".parquet")

    def _hist_dir(self) -> Path | None:
        """The published compacted-history version dir, if any. The
        no-symlink fallback only trusts a COMPLETE version (``_SUCCESS``
        present): a crash mid-checkpoint-write leaves a torn hist dir,
        and the tail it would have folded is still intact (tail files are
        deleted only after the publish), so ignoring the torn dir loses
        nothing. A complete-but-unpublished hist double-counts its events
        with the still-intact tail — harmless, the winner rule is
        idempotent."""
        return self._hist.read_target()

    def exists(self) -> bool:
        return bool(self._tail_files()) or self._hist_dir() is not None

    def _state_exists(self) -> bool:
        p = Path(self.state_path)
        return p.exists() and any(p.iterdir())

    def read_events(self) -> DataFrame:
        """The queryable event log: compacted history ∪ append tail.

        After a checkpoint the history holds one WINNER row per file (a
        valid event row — superseded transitions are dropped, reference
        parity: the reference keeps one mutable document per file and no
        transition history at all), so this is bounded by O(files +
        tail), never O(all transitions ever). The winner rule is
        idempotent and associative, so every fold/replay over this view
        equals a replay over the full historical log
        (``test_ledger_compaction_equals_full_log_replay``).
        """
        parts = []
        hist = self._hist_dir()
        if hist is not None:
            parts.append(self.spark.read.schema(LEDGER_SCHEMA).parquet(str(hist)))
        if self._tail_files():
            parts.append(self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path))
        if not parts:
            return local_frame(self.spark, [], LEDGER_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def append(
        self,
        rows: list[dict],
        skip_if_terminal: bool = False,
        expect: dict[str, tuple[str, str]] | None = None,
    ) -> list[str]:
        """Append status-event rows; fills event_ts if absent. Returns
        the file_ids actually appended.

        Also folds the new events into the compacted current-state table
        so point-status reads stay keyed lookups (see module docstring),
        and checkpoints the append tail once it exceeds TAIL_MAX_FILES
        small files so a long-lived warehouse's event log stays bounded.

        Two CONDITIONAL forms for writers whose decision was made outside
        the locks (the upload janitor — normal pipeline appends never set
        either; their transitions are the source of truth):

        - ``skip_if_terminal=True`` drops, INSIDE the write locks, any
          row whose file already has a terminal status: a concurrent
          ingest can discover-process-GC a file before the janitor's
          reap batch lands, and an unconditional append would commit a
          later-timestamped ``failed`` over ``processed`` (landing file
          already gone, so resurrection could never fire).
        - ``expect={file_id: (status, content_type)}`` is
          compare-and-append: a row commits only while its file's
          CURRENT (status, content_type) still equals the snapshot the
          decision was based on. The janitor's resurrect/retire events
          use it so a concurrent janitor's resurrection (followed by a
          consumer's ``processed``) is never regressed by this
          process's stale ``uploaded``/``failed``."""
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        full = [{"event_ts": now, **r} for r in rows]
        with self._write_lock, self._process_lock():
            if (skip_if_terminal or expect) and full and self.exists():
                fids = [r["file_id"] for r in full]
                cur = {
                    r["file_id"]: (r["status"], r["content_type"])
                    for r in self.current()
                    .filter(F.col("file_id").isin(fids))
                    .select("file_id", "status", "content_type")
                    .collect()
                }
                if skip_if_terminal:
                    full = [
                        r
                        for r in full
                        if cur.get(r["file_id"], ("", ""))[0]
                        not in _TERMINAL_STATUSES
                    ]
                if expect:
                    full = [
                        r
                        for r in full
                        if r["file_id"] not in expect
                        or cur.get(r["file_id"]) == expect[r["file_id"]]
                    ]
            if not full:
                return []
            # Detect (BEFORE this append's own tail file lands) events a
            # crashed writer left in the tail but never folded into the
            # state: the fold below must then seed from the full log or
            # those events stay invisible and the next checkpoint
            # destroys them (see _unfolded_tail_names).
            seed_from_log = bool(self._unfolded_tail_names())
            df = local_frame(
                self.spark,
                [tuple(r.get(f.name) for f in LEDGER_SCHEMA.fields) for r in full],
                LEDGER_SCHEMA,
            )
            df.write.mode("append").parquet(self.path)
            self._compact(df, seed_from_log=seed_from_log)
            self._checkpoint_events()
            return [r["file_id"] for r in full]

    def _process_lock(self):
        """Cross-process mutual exclusion for the append + compaction
        critical section: an exclusive ``flock`` on
        ``<warehouse>/ledger.lock``, held until the state publish lands
        (shared implementation: ``locking.file_lock``). Since ``_compact``
        re-reads the published state inside the lock, serialized writers
        fold each other's events correctly."""
        from ..locking import file_lock

        return file_lock(self._lock_path)

    @staticmethod
    def _latest_per_file(events: DataFrame) -> DataFrame:
        # Tie-break on equal event_ts ranks lifecycle PROGRESS, not the
        # status string (alphabetically 'uploaded' would beat 'processed'):
        # terminal > processing > uploaded. A same-microsecond
        # uploaded/processed pair must resolve to processed, or the file
        # reads as pending forever. The (event_ts, rank, status) max is
        # associative, so incremental compaction == full-log replay.
        progress = (
            F.when(F.col("status").isin(*_TERMINAL_STATUSES), F.lit(2))
            .when(F.col("status") == STATUS_PROCESSING, F.lit(1))
            .otherwise(F.lit(0))
        )
        w = Window.partitionBy("file_id").orderBy(
            F.col("event_ts").desc(), progress.desc(), F.col("status").desc()
        )
        return (
            events.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def _versions(self, base: str | None = None) -> list[Path]:
        return VersionedTable(base or self.state_path).versions()

    _TAIL_MARKER = "_tail_files.json"

    def _state_target(self) -> Path | None:
        return self._state.read_target()

    def _recorded_tail_names(self) -> set[str] | None:
        """Tail parquet file names the published state reflects (from the
        ``_tail_files.json`` marker written into the state version at
        publish), or None when unknown (legacy/pre-marker state)."""
        target = self._state_target()
        if target is None:
            return None
        marker = target / self._TAIL_MARKER
        if not marker.exists():
            return None
        return set(json.loads(marker.read_text()))

    def _unfolded_tail_names(self) -> set[str]:
        """Live tail files NOT reflected in the published state — nonempty
        exactly when a previous writer crashed between its tail append
        and its state publish (or the state predates the marker). Without
        this check those events would be invisible to every state-served
        read and then destroyed by the next tail checkpoint, silently
        regressing a processed file to 'uploaded' (and, once the janitor
        reaps it, to a terminal 'failed' for data that IS in the products
        table)."""
        if not self._state_exists():
            return set()
        live = {f.name for f in self._tail_files()}
        recorded = self._recorded_tail_names()
        if recorded is None:
            return live  # unknown provenance: treat all as unfolded once
        return live - recorded

    def _checkpoint_events(self) -> None:
        """Bound the event log (called inside the write locks): once the
        append tail exceeds TAIL_MAX_FILES small parquet files, fold it
        into a new compacted-history version and truncate the tail.

        The history content is exactly the published STATE winners — one
        row per file_id, themselves valid LEDGER_SCHEMA events — so every
        event already reflected in the state is folded and superseded
        transitions are dropped (the reference keeps no transition
        history either: one mutable document per file). Cost per
        checkpoint is O(file_ids), never O(all events ever); the log's
        file count is bounded by TAIL_MAX_FILES + the history's few
        files regardless of warehouse age.

        Publish discipline matches the state table: versioned dir +
        atomic symlink replace + two-version retention, so a reader
        mid-scan on the previous history survives. Tail files are listed
        BEFORE the fold and deleted only after the publish; writers are
        flock-serialized, so no concurrent append can land into the
        deleted set."""
        tail = self._tail_files()
        if len(tail) <= self.TAIL_MAX_FILES:
            return
        # The state table was just folded from (prev state ∪ this append)
        # under this same lock, so it already IS the winner set — read it
        # plain (one row per file, no shuffle/window) instead of
        # re-folding hist ∪ tail; the window fold is only the fallback
        # for a state-less warehouse.
        if self._state_exists() and not self._unfolded_tail_names():
            winners = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.state_path)
        else:
            winners = self._latest_per_file(self.read_events())

        def write(tmp: Path) -> None:
            (
                winners.coalesce(1)
                .sortWithinPartitions("file_id")
                .write.mode("overwrite")
                .parquet(str(tmp))
            )

        self._hist.publish(write)
        for f in tail:
            f.unlink(missing_ok=True)

    def _fold_input_bytes(self, from_state: bool) -> int:
        """Parquet bytes the state fold reads (driver-side stat, no Spark
        job): the published state plus the live tail, and the compacted
        history too when the fold seeds from the event log instead of the
        state (no published state, or an unfolded tail). Counting only the
        state there would size a large replayed log as one file and fold
        it on one core."""
        roots = [self._state_target()]
        if not from_state:
            roots.append(self._hist_dir())
        return sum(
            f.stat().st_size
            for root in roots
            if root is not None
            for f in root.rglob("*.parquet")
            if f.is_file()
        ) + sum(f.stat().st_size for f in self._tail_files())

    def _fold(self, new_events: DataFrame, seed_from_log: bool = False) -> DataFrame:
        """The next state table: latest-per-file_id over (previous state ∪
        new events), partitioned for the state write.

        The previous state already holds exactly one winner row per file,
        so the fold touches O(files) rows, never the full event log — but
        when the state table is absent while events exist (legacy
        warehouse, or a crash before the symlink publish), or the tail
        holds unfolded events (``seed_from_log``), the fold seeds from the
        full hist ∪ tail view instead, so no pre-existing file's status is
        lost and the next append self-heals the cache. ``new_events`` was
        already appended to the log before this is called, so the
        log-seeded fold double-counts them harmlessly (the winner rule is
        idempotent and associative, so the log needs no fold of its own).

        One output file per 64 MB of fold input; one winner row per
        file_id keeps the state a single file for most warehouse
        lifetimes. Then the input is coalesced to one partition BEFORE the
        fold: SinglePartition satisfies the window's
        clustering, so fold + sort + write run in the state write's own
        job with no shuffle. A larger state keeps the parallel fold and
        range-partitions its output so every file owns a disjoint file_id
        range; the estimate must therefore never undercount
        (``_fold_input_bytes``)."""
        from_state = self._state_exists() and not seed_from_log
        if from_state:
            base = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.state_path)
        else:
            base = self.read_events()
        events = base.unionByName(new_events)
        nparts = max(1, -(-self._fold_input_bytes(from_state) // (64 << 20)))
        if nparts == 1:
            return self._latest_per_file(events.coalesce(1))
        return self._latest_per_file(events).repartitionByRange(nparts, "file_id")

    def _compact(self, new_events: DataFrame, seed_from_log: bool = False) -> None:
        """Fold the new events into the state table (``_fold``) and publish
        it as the next version by an atomic symlink replace; see the module
        docstring. Costs one Spark job while the state is one file."""
        shaped = self._fold(new_events, seed_from_log)

        def write(tmp: Path) -> None:
            shaped.sortWithinPartitions("file_id").write.mode("overwrite").parquet(
                str(tmp)
            )
            # Record which tail files this state reflects (everything
            # live: either the previous state covered them all —
            # seed_from_log was False — or we just replayed the full log).
            # Written before the rename, so the marker is atomic with the
            # state it describes.
            (tmp / self._TAIL_MARKER).write_text(
                json.dumps(sorted(f.name for f in self._tail_files()))
            )

        self._state.publish(write)

    def current(self) -> DataFrame:
        """Latest event per file_id — the queryable ledger state
        (GET /upload/status equivalent, api/main.py:106-127).

        Served from the compacted state table when present (one row per
        file, no window replay); falls back to replaying the event log
        for warehouses written before compaction existed.
        """
        if self._state_exists() and not self._unfolded_tail_names():
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.state_path)
        # No state, OR the tail holds events a crashed writer never
        # folded (cheap listdir + marker check): serve the replay view —
        # correct in the crash window; the next append heals the state.
        return self._latest_per_file(self.read_events())

    def status_of(self, file_id: str) -> dict | None:
        """Keyed point lookup: pushed-down equality filter over the
        compacted state — the reference's ``UploadedFile.get`` analog.

        Retries once on a torn read: if a concurrent compaction retires
        the state version this reader resolved (possible only when the
        read spans two full compactions), the retry resolves the fresh
        symlink. The terminal fallback replays the event-log view
        (hist ∪ tail) — itself retried, because a concurrent writer's
        tail CHECKPOINT can unlink tail files between this reader's
        planning and execution; a re-plan lists the fresh hist + tail,
        which together always cover every event.
        """
        for _ in range(2):
            try:
                rows = self.current().filter(F.col("file_id") == file_id).collect()
                return rows[0].asDict() if rows else None
            except Exception:  # noqa: BLE001 - state version raced a compaction
                continue
        last_exc = None
        for _ in range(3):
            try:
                rows = (
                    self._latest_per_file(self.read_events())
                    .filter(F.col("file_id") == file_id)
                    .collect()
                )
                return rows[0].asDict() if rows else None
            except Exception as exc:  # noqa: BLE001 - raced a tail checkpoint
                last_exc = exc
        raise last_exc
