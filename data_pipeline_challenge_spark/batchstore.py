"""Append-only micro-batch stores and their consolidation.

Several maintained structures accumulate one ``ingest_batch=B`` partition
directory per micro-batch (the packing stream's rows store, the ANN index
increment stores). Partition PRUNING keeps scans O(touched), but partition
DISCOVERY still lists every batch directory — after a year of
micro-batches the listing itself is the bottleneck. Consolidation folds
all live batches into ONE negative-id partition so the directory count
resets to O(1) while the reader view is unchanged.

Crash-safe without a transactional format, via a marker file:

- the live view is ``(ingest_batch == marker.consolidated) OR
  (ingest_batch > marker.through)`` — both planning-time partition
  filters; with no marker it is ``ingest_batch >= 0`` (so a half-written
  consolidated dir from a crashed fold is invisible);
- a fold writes the new consolidated dir (tmp + atomic rename, id =
  previous consolidated - 1, starting at -1), atomically replaces the
  marker (``os.replace``), then sweeps dirs that have been excluded for a
  FULL fold generation — the dirs this fold just excluded stay on disk
  until the next fold, so a concurrent reader's already-planned scan
  (which pinned the previous marker view's files at planning time) is
  never torn mid-scan (see ``_sweep_stale``). A crash before the marker
  swap leaves the old view fully intact; a crash after it leaves stale
  dirs the reader already excludes and a later fold sweeps;
- batch ids only grow (checkpointed stream), so a post-fold batch is
  always ``> through`` and immediately visible; a FRESH-checkpoint replay
  re-writing an already-folded batch id lands ``<= through`` and stays
  invisible — no duplicates either way.

Every writer records the store's read schema next to its data
(:data:`SCHEMA_FILE`, see :func:`record_store_schema`), and the one
reader (:func:`read_store`) uses it, so building a store's view runs no
parquet schema-inference job.

Writer coordination: run consolidation OFFLINE (owning stream stopped),
or IN-STREAM from the owning stream's own ``foreachBatch``
(:func:`maybe_consolidate_in_stream`) — the stream is the store's only
writer, so its serialized foreachBatch needs no extra coordination.
Readers need no coordination either way: new plans resolve the marker at
planning time, and already-built plans are protected by the sweep's
one-generation grace period.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

_MARKER = "_consolidated.json"
#: The read schema a store's or index table's writer records next to its
#: data (underscore-prefixed, so Spark's file listing skips it).
SCHEMA_FILE = "_schema.json"
_BATCH_RE = re.compile(r"^ingest_batch=(-?\d+)$")
REBUILT_MARKER = "_rebuilt.json"


def has_rebuilt_marker(store_root: str | Path) -> bool:
    """True when ``store_root`` was produced by :func:`rebuild_swap`
    (or a hand-rolled rebuild that wrote the marker): the signal that
    arms :func:`sequential_fold_guard` for an otherwise-empty-looking
    store whose batch numbering restarted at -1."""
    return (Path(store_root) / REBUILT_MARKER).exists()


def sequential_fold_guard(
    batch_id: int,
    committed: int,
    store: str | Path,
    *,
    rebuilt: bool = False,
    strict: bool = True,
) -> bool:
    """Shared admission check for every maintained store's
    ``fold_batch`` (VERDICT r17 #1 — the guard the components store
    proved, hoisted family-wide). Returns False for ``batch_id <=
    committed`` — a replay of work the store already holds (skip);
    True when the fold should run.

    Raises when ``strict`` and the id is GAPPED (``batch_id >
    committed + 1``) on a store with history (``committed >= 0``) or a
    rebuilt store (``rebuilt=True`` arms the check at ``committed ==
    -1``). Under ONE stream checkpoint, foreachBatch ids are gap-free,
    so a gapped id means the checkpoint does not belong to this
    store's history — most importantly a STALE pre-rebuild checkpoint
    resumed against a store a rebuild just swapped in, or a FOREIGN
    checkpoint pointed at the wrong warehouse; silently folding it
    would lose the gap's batches from the store forever (irreversible
    for count/frontier stores: the skipped history can never be
    retrofitted). The one benign ahead case — attaching a fold
    MID-LIFE to an existing stream, so the first fold arrives at a
    high id against a brand-new, never-rebuilt store — stays allowed.

    ``strict=False`` keeps only the replay skip: for folds fed by the
    RESEQUENCER, whose downstream ids (``2B`` per arrival batch,
    ``2B+1`` per flush, absent entirely when a batch releases
    nothing) are monotone but legitimately non-contiguous. Those
    stores are protected transitively by the resequencer's own strict
    guard on its gap-free arrival ids."""
    if batch_id <= committed:
        return False
    if strict and batch_id > committed + 1 and (committed >= 0 or rebuilt):
        raise RuntimeError(
            f"maintained store at {store} disagrees with the stream's "
            f"batch numbering (batch {batch_id}, store committed through "
            f"{committed}): the checkpoint belongs to a different history "
            "— resume this store with its own original checkpoint; after "
            "a rebuild, start a FRESH checkpoint over post-rebuild "
            "arrivals only. If this store was written by a pre-r18 "
            "writer (which skipped empty/all-dropped batches without "
            "sentinels) and the gap ids are KNOWN to be such batches, "
            "record them with batchstore.backfill_empty_sentinels("
            f"{str(store)!r}, {batch_id}) and resume."
        )
    return True


def admit_batch(
    out_dir: str | Path,
    batch_id: int,
    *commit_stores: str | Path,
    params: dict | None = None,
    strict: bool = True,
    floor: int = -1,
) -> bool:
    """The one admission call every maintained view's fold opens with:
    create ``out_dir``, pin its layout ``params``
    (:func:`ensure_store_params`), take the commit id as the MIN
    :func:`last_batch_id` over ``commit_stores`` (min, not max: a crash
    between two store writes leaves the earlier store ahead, and the
    batch must refold into the later one), raised to ``floor`` when the
    view commits some history outside its stores, then run
    :func:`sequential_fold_guard` armed by ``out_dir``'s rebuilt marker.
    True when the fold should run; False for a replay."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    if params is not None:
        ensure_store_params(odir, params)
    committed = max(floor, min(last_batch_id(s) for s in commit_stores))
    return sequential_fold_guard(
        batch_id, committed, odir, rebuilt=has_rebuilt_marker(odir), strict=strict
    )


def backfill_empty_sentinels(store: str | Path, next_batch_id: int) -> list[int]:
    """Migration/repair helper for :func:`sequential_fold_guard`: record
    every missing batch id STRICTLY BELOW ``next_batch_id`` (and above
    the store's consolidation floor / first fold) as an empty-fold
    sentinel, and return the ids written. Pass the batch id the guard
    refused, verbatim from its error message — the helper deliberately
    never writes a sentinel AT or past it (code-review r18: an
    overshot horizon would convert real future batches into
    guard-skipped 'replays', the silent loss the guard exists to
    prevent).

    ``store`` may be the batch store itself or a gate/store ROOT whose
    sub-stores hold the batches (the path the guard message prints) —
    the helper applies itself to every batch store found underneath,
    and REFUSES a root containing a resequencer dir (its buffer/wm
    stores live in the arrival-id space, not the downstream fold-id
    space — target each sub-store explicitly there). Raises when no
    batch store exists at the path at all, rather than silently doing
    nothing. Use ONLY when the gap ids are known to be empty/dropped
    batches (the operator's acknowledgment)."""
    store = Path(store)
    sub = find_batch_stores(store)
    if not sub:
        raise RuntimeError(
            f"no batch store found at {store}: pass the store dir the "
            "guard named (or a root whose sub-dirs hold ingest_batch=N "
            "partitions)"
        )
    if len(sub) > 1 or sub != [store]:
        if any(p.name == "reseq" or "reseq" in p.parts[len(store.parts):] for p in sub):
            raise RuntimeError(
                f"{store} contains a resequencer store, whose "
                "buffer/wm ids live in the ARRIVAL id space while the "
                "sibling stores carry downstream fold ids — backfill "
                "each sub-store explicitly instead of the root"
            )
        out: list[int] = []
        for s in sub:
            out.extend(backfill_empty_sentinels(s, next_batch_id))
        return sorted(set(out))

    present = {n for n, _ in _batch_dirs(store) if n >= 0} | set(
        _empty_sentinel_ids(store)
    )
    marker = _read_marker(store)
    if marker:
        start = int(marker["through"]) + 1
    elif present:
        # never-consolidated store: ids below its first fold belong to
        # the time before a mid-life attach, not to a gap
        start = min(present)
    else:
        return []  # a brand-new store needs no backfill (attach is free)
    written = []
    for n in range(start, next_batch_id):
        if n in present:
            continue
        _write_empty_sentinel(store, n)
        written.append(n)
    return written


def rebuild_swap(out_dir: str | Path, build) -> int:
    """The ONE rebuild-into-fresh-store protocol (VERDICT r17 #3):
    recompute into a sibling temp dir via ``build(tmp_dir)``, stamp a
    generation ``_rebuilt.json`` marker (which arms
    :func:`sequential_fold_guard` against the stale pre-rebuild
    checkpoint), then atomically swap the new store in. Returns the
    new generation number.

    Crash-safety: the rebuild must be a pure function of its inputs,
    built entirely in the temp dir; a crash mid-swap leaves either the
    old store, the old store aside (``.<name>.pre-rebuild``) with the
    complete new one in the temp dir, or the new store — re-running
    the rebuild converges from any of those states. Run while no
    stream is writing the store."""
    odir = Path(out_dir)
    tmp = odir.parent / f".{odir.name}.rebuild.tmp"
    aside = odir.parent / f".{odir.name}.pre-rebuild"
    for stale in (tmp, aside):
        if stale.exists():
            shutil.rmtree(stale)
    tmp.mkdir(parents=True)

    generation = 1
    old_marker = odir / REBUILT_MARKER
    if old_marker.exists():
        try:
            generation = int(json.loads(old_marker.read_text())["generation"]) + 1
        except (OSError, ValueError, KeyError):
            pass

    build(tmp)
    mtmp = tmp / (REBUILT_MARKER + ".tmp")
    mtmp.write_text(json.dumps({"generation": generation}, sort_keys=True))
    os.replace(mtmp, tmp / REBUILT_MARKER)

    if odir.exists():
        odir.rename(aside)
    tmp.rename(odir)
    if aside.exists():
        shutil.rmtree(aside)
    return generation


def prefix_bucket(col, n_buckets: int, *more_cols):
    """The gate stores' shared partition-bucket expression:
    ``pmod(xxhash64(cols...), n) AS int``. One definition — the probe's
    pruning filter and the store's partition layout must compute the
    IDENTICAL bucket, and private copies of this expression in each gate
    had already begun to multiply."""
    return F.pmod(F.xxhash64(col, *more_cols), F.lit(n_buckets)).cast("int")


def prefix_bucket_local(spark, values: "list[str]", n_buckets: int) -> "list[int]":
    """Driver-local evaluation of :func:`prefix_bucket` for a SMALL list
    of literal STRINGS (probe/search inputs, never data): the same
    expression over a ``session.local_frame`` of the values. That plan
    folds to a ``LocalRelation``, so collecting it launches no Spark job
    (a one-row ``SELECT``'s ``first()`` launched one per probe), and the
    distributed expression stays the one definition of the hash. Values
    must be the same TYPE the store's bucket column hashes (xxhash64 of
    a bigint is a different value than of its string); every current
    store buckets strings. Equality with the distributed expression is
    pinned by ``test_prefix_bucket_local_matches_distributed``; a
    non-string value raises ``TypeError`` instead of returning a wrong
    bucket."""
    from .session import local_frame

    bad = [v for v in values if not isinstance(v, str)]
    if bad:
        raise TypeError(f"prefix_bucket_local hashes strings only, got {bad[:3]!r}")
    frame = local_frame(spark, [(v,) for v in values], "v string")
    return [int(r[0]) for r in frame.select(prefix_bucket(F.col("v"), n_buckets)).collect()]


def cap_per_bucket(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    cap: int,
    audit: "CapAudit | None" = None,
) -> DataFrame:
    """Deterministic per-bucket fan-out cap (smallest ``order_col`` wins):
    the standard bound on candidate explosion under bucket crowding,
    shared by the near-dup gates.

    The cap trades recall for a bounded verify join: a true near-dup
    whose kept twin ranks beyond the cap in a crowded bucket is silently
    admitted. Pass ``audit`` to RECORD each batch's cap pressure (buckets
    at the cap, candidate rows dropped) so an operator has a signal when
    the cap starts costing recall (VERDICT r7 missing #3) — the extra
    aggregation runs over the already-pruned candidate slice, one tiny
    driver row per batch."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    ranked = df.withColumn("__rk", F.row_number().over(w))
    if audit is not None:
        over = ranked.filter(F.col("__rk") > cap)
        row = over.agg(
            F.count(F.lit(1)).alias("rows_dropped"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("buckets_at_cap"),
        ).first()
        audit.record(
            cap=cap,
            buckets_at_cap=int(row["buckets_at_cap"]),
            rows_dropped=int(row["rows_dropped"]),
        )
    return ranked.filter(F.col("__rk") <= cap).drop("__rk")


class CapAudit:
    """Per-batch cap-pressure recorder for a gate's candidate cap.

    Writes ``<out_dir>/cap_audit/<family>.b<batch_id>.json`` (atomic
    rename, idempotent under replay — the capped slice is a deterministic
    function of the store and the batch) ONLY when the cap actually
    dropped candidates, so a healthy store accretes no files. Read back
    with :func:`read_cap_audit` to see where and how hard the cap binds.
    """

    def __init__(self, out_dir: str | Path, family: str, batch_id: int) -> None:
        self.dir = Path(out_dir) / "cap_audit"
        self.family = family
        self.batch_id = batch_id

    def record(self, cap: int, buckets_at_cap: int, rows_dropped: int) -> None:
        if rows_dropped <= 0:
            return
        self.dir.mkdir(parents=True, exist_ok=True)
        final = self.dir / f"{self.family}.b{self.batch_id}.json"
        tmp = self.dir / f".{final.name}.tmp"
        tmp.write_text(
            json.dumps(
                {
                    "family": self.family,
                    "batch_id": self.batch_id,
                    "cap": cap,
                    "buckets_at_cap": buckets_at_cap,
                    "rows_dropped": rows_dropped,
                },
                sort_keys=True,
            )
        )
        os.replace(tmp, final)


def read_cap_audit(out_dir: str | Path) -> list[dict]:
    """All recorded cap-pressure events for a gate, batch-ordered. Empty
    = the cap never dropped a candidate (full recall within the probe
    geometry)."""
    d = Path(out_dir) / "cap_audit"
    if not d.exists():
        return []
    out = []
    for p in sorted(d.glob("*.json")):
        try:
            out.append(json.loads(p.read_text()))
        except (OSError, ValueError):
            continue
    return sorted(out, key=lambda r: (r.get("batch_id", -1), r.get("family", "")))


_LAMBDA_TOKEN_RE = re.compile(r"[xyz]_\d+")
_LAMBDA_DECL1_RE = re.compile(r"([xyz]_\d+)\s*->")
_LAMBDA_DECL2_RE = re.compile(r"\(\s*([xyz]_\d+)\s*,\s*([xyz]_\d+)\s*\)\s*->")


def canonical_column_str(col) -> str:
    """``str(Column)`` with higher-order-function lambda variables
    alpha-renamed positionally — the construction-STABLE form a store
    pin must record.

    ``str(Column)`` is not stable across constructions of the same
    expression: Spark gensyms lambda variable names from a
    session-global counter, so ``F.transform(c, lambda x: ...)``
    stringifies as ``x_1 -> …`` on one construction and ``x_7 -> …`` on
    the next (and in a fresh JVM the numbers depend on construction
    order). Only tokens BOUND by a lambda declaration are renamed:
    declarations render as ``x_7 ->`` (one arg) or ``(x_7, y_8) ->``
    (two args, e.g. ``F.aggregate``), and a binding scopes lexically
    over the lambda body — until the ``)`` closing the call whose
    argument the lambda is, or a ``,`` at the declaration's paren
    depth, with inner declarations shadowing outer. A FREE column
    reference that merely looks like a gensym (a data column literally
    named ``x_1``) is left intact, so ``F.col('x_1') > 0`` and
    ``F.col('x_2') > 0`` pin DIFFERENT — a genuinely changed config is
    refused, per the pin contract. Bound variables are renamed to
    ``v_<k>`` in declaration order, deterministic for a fixed
    expression tree, so equal constructions pin equal.

    Known string-rendering limit: Spark's ``str(Column)`` does not
    quote string LITERALS, so a literal whose text itself spells a
    declaration (``F.lit("x_1 -> y")``) is indistinguishable from one
    and gets alpha-renamed — two configs differing only in such
    literals would pin equal. Canonicalization stays construction-
    stable either way (the rendering is identical every time); closing
    the literal ambiguity entirely would require comparing expression
    TREES, which Spark does not expose to Python. No realistic gate
    predicate embeds lambda-shaped literals; recorded for audit."""
    s = str(col)
    out: list[str] = []
    scopes: list[tuple[int, dict[str, str]]] = []  # (decl paren depth, bindings)
    depth = 0
    counter = 0
    i = 0
    n = len(s)

    def _bound(tok: str) -> str | None:
        for _, binds in reversed(scopes):
            if tok in binds:
                return binds[tok]
        return None

    while i < n:
        at_word_boundary = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
        if at_word_boundary:
            m2 = _LAMBDA_DECL2_RE.match(s, i)
            if m2 is not None:
                binds = {m2.group(1): f"v_{counter}", m2.group(2): f"v_{counter + 1}"}
                counter += 2
                scopes.append((depth, binds))
                out.append(f"({binds[m2.group(1)]}, {binds[m2.group(2)]}) ->")
                i = m2.end()
                continue
            m1 = _LAMBDA_DECL1_RE.match(s, i)
            if m1 is not None:
                binds = {m1.group(1): f"v_{counter}"}
                counter += 1
                scopes.append((depth, binds))
                out.append(f"{binds[m1.group(1)]} ->")
                i = m1.end()
                continue
            mt = _LAMBDA_TOKEN_RE.match(s, i)
            if mt is not None and (
                mt.end() == n or not (s[mt.end()].isalnum() or s[mt.end()] == "_")
            ):
                tok = mt.group(0)
                out.append(_bound(tok) or tok)
                i = mt.end()
                continue
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            while scopes and scopes[-1][0] > depth:
                scopes.pop()
        elif ch == ",":
            while scopes and scopes[-1][0] == depth:
                scopes.pop()
        out.append(ch)
        i += 1
    return "".join(out)


def ensure_store_params(out_dir: str | Path, params: dict) -> None:
    """Persist a gate's store-LAYOUT-defining parameters
    (``_gate_params.json``, written once, atomically) and REFUSE a
    restart that disagrees: the partition-bucket moduli and signature
    shapes are baked into every increment ever written — a fold running
    with, say, a different ``n_prefix`` would compute touched-prefix
    lists under the new modulus while history partitions carry the old
    one, silently missing every historical entry and re-admitting
    duplicates forever. Layout changes require a rebuild into a fresh
    store (the embedding gate's ``lsh_meta.json`` is the same contract
    for its index)."""
    marker = Path(out_dir) / "_gate_params.json"
    if marker.exists():
        existing = json.loads(marker.read_text())
        if existing != params:
            raise RuntimeError(
                f"gate store at {out_dir} was built with {existing}, "
                f"restart supplied {params}: layout parameters are baked "
                "into the stored partitions/signatures — rebuild into a "
                "fresh out_dir instead of changing them in place"
            )
        return
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    tmp = Path(out_dir) / "_gate_params.json.tmp"
    tmp.write_text(json.dumps(params, sort_keys=True))
    os.replace(tmp, marker)


def record_anti_join_key(store: str | Path, id_col: str) -> None:
    """Record the ONE column an exclusion store is keyed by
    (``_anti_join_key.json``, atomic, idempotent). Readers that
    anti-join the store against a corpus view must join on this column
    alone: inferring the key as "all shared columns" silently WIDENS
    the join when the doc schema happens to contain a column named like
    an evidence column (``n_shared``…), and widened keys stop excluding
    the revoked rows (ADVICE r9)."""
    store = Path(store)
    store.mkdir(parents=True, exist_ok=True)
    marker = store / "_anti_join_key.json"
    if marker.exists():
        existing = json.loads(marker.read_text())["id_col"]
        if existing != id_col:
            raise RuntimeError(
                f"exclusion store at {store} is keyed by {existing!r}, "
                f"writer supplied {id_col!r}"
            )
        return
    tmp = store / "_anti_join_key.json.tmp"
    tmp.write_text(json.dumps({"id_col": id_col}, sort_keys=True))
    os.replace(tmp, marker)


def read_anti_join_key(store: str | Path) -> str | None:
    """The recorded exclusion-store key column, or None for a store
    written before keys were recorded (readers fall back to shared
    columns minus known evidence columns)."""
    marker = Path(store) / "_anti_join_key.json"
    if not marker.exists():
        return None
    return json.loads(marker.read_text())["id_col"]


def _empty_sentinel_ids(store: Path) -> list[int]:
    if not store.exists():
        return []
    out = []
    for p in store.iterdir():
        m = re.match(r"^\.empty\.b(\d+)$", p.name)
        if m:
            out.append(int(m.group(1)))
    return out


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the form a
    parquet read reports, whatever nullability the writer had."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _partition_type(written: DataType, values: list[str]) -> DataType | None:
    """The type partition discovery gives a column written from
    ``written`` whose directories hold ``values``: int, or bigint once a
    value leaves the int range. A string column keeps its type (what the
    group-texts reader passes explicitly: discovery would turn
    numeric-looking hex shards into ints). None for any other type."""
    if isinstance(written, StringType):
        return StringType()
    if isinstance(written, (ByteType, ShortType, IntegerType)):
        return IntegerType()
    if isinstance(written, LongType):
        ints = [int(v) for v in values if v != "__HIVE_DEFAULT_PARTITION__"]
        return IntegerType() if all(-(2**31) <= v < 2**31 for v in ints) else LongType()
    return None


def _written_schema(
    df_schema: StructType, written: Path, partition_by, batch: bool
) -> StructType | None:
    """The schema Spark infers reading a table written from ``df_schema``
    at ``written``: data columns nullable in frame order, then
    ``ingest_batch int`` for a batch store, then the partition columns.
    None when a partition column's type cannot be told without
    inference."""
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by or ())
    written_types = {f.name: f.dataType for f in df_schema}
    fields = [f for f in _as_nullable(df_schema) if f.name not in parts]
    if batch:
        fields.append(StructField("ingest_batch", IntegerType(), True))
    for level, col in enumerate(parts):
        pattern = "/".join(["*"] * level + [f"{col}=*"])
        values = [p.name.split("=", 1)[1] for p in written.glob(pattern)]
        dt = _partition_type(written_types[col], values)
        if dt is None:
            return None
        fields.append(StructField(col, dt, True))
    return StructType(fields)


def _in_recorded_order(df: DataFrame, recorded: StructType | None) -> DataFrame:
    """``df`` with its columns in the ``recorded`` order when it holds the
    same columns, so every data file of a store lists them alike (a join
    moves its key first) and any footer shows the recorded schema."""
    if recorded is None:
        return df
    order = [f.name for f in recorded if f.name in df.columns]
    return df.select(*order) if sorted(order) == sorted(df.columns) else df


def _fits(schema: StructType, recorded: StructType) -> bool:
    """True when data written as ``schema`` reads correctly with
    ``recorded``: each of its columns is recorded alike, and the
    partition columns (those after ``ingest_batch``, if any) agree."""
    fields = {f.name: f for f in recorded}

    def parts(t: StructType) -> list[str]:
        names = t.fieldNames()
        return names[names.index("ingest_batch") + 1 :] if "ingest_batch" in names else []

    return parts(schema) == parts(recorded) and all(fields.get(f.name) == f for f in schema)


def recorded_schema(root: str | Path) -> StructType | None:
    """The read schema recorded next to the store or table at ``root``
    (:data:`SCHEMA_FILE`), or None for one written without it: such a
    table is read by inference, which costs a Spark job per read."""
    p = Path(root) / SCHEMA_FILE
    try:
        return StructType.fromJson(json.loads(p.read_text()))
    except FileNotFoundError:
        return None


def _write_schema_file(root: Path, schema: StructType) -> None:
    tmp = root / (SCHEMA_FILE + ".tmp")
    tmp.write_text(schema.json())
    os.replace(tmp, root / SCHEMA_FILE)


def record_table_schema(df: DataFrame, root: str | Path, partition_by=None) -> None:
    """Record the read schema of a whole table just written from ``df``
    at ``root`` (an ANN index base), so its readers skip the parquet
    schema-inference job. Call after the write: an overwrite removes the
    directory, file included."""
    root = Path(root)
    schema = _written_schema(df.schema, root, partition_by, batch=False)
    if schema is not None:
        _write_schema_file(root, schema)


def record_store_schema(
    store: str | Path, df_schema: StructType, batch_id: int, written: Path, partition_by=None
) -> None:
    """Record the read schema of a batch store from the frame batch
    ``batch_id`` was written from (``written`` = its partition dirs), or
    check it against the recorded one. A batch may leave out data
    columns (the recorded read gives them as null); one that adds a
    column, types one differently or partitions differently would be
    read wrongly, so that raises ``ValueError`` naming both schemas.
    The file is first written while the store holds no other batch's
    data, so it describes every data dir; a store that predates it
    keeps being read by inference."""
    store = Path(store)
    schema = _written_schema(df_schema, Path(written), partition_by, batch=True)
    if schema is None:
        return
    have = recorded_schema(store)
    if have is not None:
        if not _fits(schema, have):
            raise ValueError(
                f"batch {batch_id} of the store at {store} has schema "
                f"{schema.simpleString()}, the store records "
                f"{have.simpleString()}"
            )
    elif all(n == batch_id for n, _ in _batch_dirs(store)):
        store.mkdir(parents=True, exist_ok=True)
        _write_schema_file(store, schema)


def _write_empty_sentinel(store: Path, batch_id: int) -> None:
    """Record batch ``batch_id`` as an empty fold of ``store``: a
    dot-prefixed FILE (``.empty.b{B}``), invisible to parquet listings
    and the batch-dir regex, that :func:`last_batch_id` counts, so the
    id still advances and a fresh-checkpoint renumbered replay cannot
    pass the guard and OVERWRITE committed increments. No data dir is
    written: a partitioned empty write leaves a file-less dir that
    poisons every later read of the store."""
    store.mkdir(parents=True, exist_ok=True)
    tmp = store / f".empty.b{batch_id}.tmp"
    tmp.write_text("")
    os.replace(tmp, store / f".empty.b{batch_id}")


def _write_counted(df: DataFrame, tmp: Path, partition_by) -> int:
    """Write ``df`` as parquet at ``tmp`` and return its row count, read
    from an ``Observation`` on that write: one evaluation of ``df``, no
    emptiness probe. A 0-row write holds no data (partitioned: only
    ``_SUCCESS``; unpartitioned: one 0-row file), so ``tmp`` is removed.

    With ``partition_by``, rows are hash-clustered onto tasks by the
    partition columns first; otherwise every task writes a sliver into
    every partition value's directory (n_values × tasks small files)."""
    if tmp.exists():
        shutil.rmtree(tmp)
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by or ())
    if cols:
        df = df.repartition(*[F.col(c) for c in cols])
    # Observed right under the write, above the repartition: observed
    # below its shuffle, AQE's empty-relation propagation drops the
    # collector from an empty batch's final plan and no count arrives.
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    writer.partitionBy(*cols).parquet(str(tmp))
    n = obs.get["n"]
    if not n:
        shutil.rmtree(tmp)
    return n


def append_batch_increment(
    df: DataFrame,
    store: str | Path,
    batch_id: int,
    partition_by: str | list[str] | None = None,
) -> bool:
    """Write one micro-batch increment dir (``ingest_batch=B``) into a
    batch store: tmp + atomic rename, so a crash-replay overwrites its
    own directory idempotently. The ONE shared implementation of the
    protocol every streaming gate uses (dedup / near-dedup / decontam /
    filter gates) — the crash-safety-critical write path must not exist
    in per-module copies that drift.

    Returns False when ``df`` has no rows, leaving the empty-fold
    sentinel (:func:`_write_empty_sentinel`) instead of a data dir. The
    write runs once either way (:func:`_write_counted`), so the helper
    neither probes ``df`` nor caches it.

    The increment is written in the store's recorded column order and
    checked against, or recorded as, the store's schema
    (:func:`record_store_schema`) before its rename: a refused batch
    leaves nothing behind."""
    store = Path(store)
    store.mkdir(parents=True, exist_ok=True)
    tmp = store.parent / f".{store.name}.b{batch_id}.tmp"
    out = _in_recorded_order(df, recorded_schema(store))
    if not _write_counted(out, tmp, partition_by):
        _write_empty_sentinel(store, batch_id)
        return False
    try:
        record_store_schema(store, out.schema, batch_id, tmp, partition_by)
    except ValueError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    final = store / f"ingest_batch={batch_id}"
    if final.exists():
        shutil.rmtree(final)
    tmp.rename(final)
    return True


def account_empty_fold(stores, batch_id: int) -> None:
    """Record one EMPTY fold in each store, in the given order — the
    gates' shared empty/all-dropped-batch accounting. Pass the stores in
    the gate's normal write order (commit store LAST): each gets only
    its sentinel, written on the driver (no Spark job), so the
    min-across-stores guard advances and the sequential-numbering
    guard's id sequence stays gap-free."""
    for s in stores:
        _write_empty_sentinel(Path(s), batch_id)


def write_initial_consolidated(
    df: DataFrame, store: str | Path, partition_by: str | None, through: int = -1
) -> None:
    """Write ``df`` as a brand-new store's ONE consolidated partition
    (``ingest_batch=-1`` plus the marker with the given ``through``) —
    the layout :func:`consolidate_batch_store` would produce for a
    history folded through batch ``through``, so ``last_batch_id``
    reports ``through`` and the next fold arrives at ``through + 1``.
    ``through=-1`` seeds a store expecting a FRESH checkpoint's batch 0
    (the retraction-rebuild contract); ``through=N`` seeds one joining
    a CONTINUING checkpoint mid-life (the backfill contract). Lives
    HERE so the marker filename/schema exist in exactly one module
    (code-review r17: a per-store copy of the protocol had appeared).
    Empty frames write only the marker when ``through >= 0`` (the
    seeded horizon must still advance the replay guard) and nothing at
    ``through=-1`` — a file-less partitioned dir would poison every
    later read either way. ``df`` is evaluated once, by its write
    (:func:`_write_counted`)."""
    store = Path(store)
    created = not store.exists()
    store.mkdir(parents=True, exist_ok=True)
    tmp = store / ".consolidate.1.tmp"
    if _write_counted(df, tmp, partition_by):
        record_store_schema(store, df.schema, -1, tmp, partition_by)
        final = store / "ingest_batch=-1"
        if final.exists():
            shutil.rmtree(final)
        tmp.rename(final)
    elif through < 0:
        if created:
            store.rmdir()
        return
    marker = {
        # consolidated stays -1 even with no data dir written: the read
        # view's `ingest_batch == -1` arm then simply matches nothing
        # (int-typed marker fields keep every reader's arithmetic valid)
        "consolidated": -1,
        "through": int(through),
        "prev_consolidated": None,
        "prev_through": -1,
    }
    mtmp = store / (_MARKER + ".tmp")
    mtmp.write_text(json.dumps(marker))
    os.replace(mtmp, store / _MARKER)


def _read_marker(store: Path) -> dict | None:
    p = store / _MARKER
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _batch_dirs(store: Path) -> list[tuple[int, Path]]:
    if not store.exists():
        return []
    return sorted(
        (int(m.group(1)), p)
        for p in store.iterdir()
        if (m := _BATCH_RE.match(p.name))
    )


def last_batch_id(store: str | Path) -> int:
    """Highest micro-batch id ever folded into the store — live dirs,
    consolidated-through, or empty-fold sentinels — or -1. The
    fresh-checkpoint replay guard."""
    store = Path(store)
    top = max((n for n, _ in _batch_dirs(store) if n >= 0), default=-1)
    top = max([top, *_empty_sentinel_ids(store)])
    marker = _read_marker(store)
    if marker:
        top = max(top, int(marker["through"]))
    return top


def read_batch_store(
    spark: SparkSession, store: str | Path, schema: str | None = None
) -> DataFrame:
    """The live view of the store: consolidated partition ∪ batches past
    it. The ``ingest_batch`` filter is a static partition filter, so
    excluded dirs (stale folds, crash leftovers, replayed-but-superseded
    batches) are pruned at planning time. The ``ingest_batch`` column is
    kept; callers drop it.

    ``schema`` (DDL, including partition columns) bypasses partition-type
    INFERENCE — mandatory for stores partitioned by a string key whose
    values can look numeric (the group-texts stream's md5-hex shards:
    an all-numeric population of dirs like ``shard=07`` would otherwise
    infer int and silently corrupt the value to 7). Without it the
    store's recorded schema (:func:`recorded_schema`) is used, so the
    view is built without a Spark job."""
    store = Path(store)
    df = _reader(spark, schema or recorded_schema(store)).parquet(str(store))
    return df.filter(_live_filter(_read_marker(store)))


def _reader(spark: SparkSession, schema):
    return spark.read.schema(schema) if schema else spark.read


def _leaves(dirs: list[Path], partition: tuple[str, list] | None) -> list[Path]:
    """``dirs``, or with ``partition=(column, values)`` their existing
    ``column=value`` leaves."""
    if partition is None:
        return dirs
    col, values = partition
    leaves = [d / f"{col}={v}" for d in dirs for v in sorted(set(values))]
    return [p for p in leaves if p.is_dir()]


def read_table(
    spark: SparkSession, root: str | Path, partition: tuple[str, list] | None = None
) -> DataFrame | None:
    """A whole parquet table (an ANN index base) with its recorded
    schema. ``partition=(column, values)`` hands Spark only those
    ``column=value`` leaves (``basePath`` = the table, so the columns are
    unchanged; None when none exists), as :func:`read_store` does."""
    root = Path(root)
    reader = _reader(spark, recorded_schema(root))
    if partition is None:
        return reader.parquet(str(root))
    paths = _leaves([root], partition)
    if not paths:
        return None
    df = reader.option("basePath", str(root)).parquet(*map(str, paths))
    return df.filter(F.col(partition[0]).isin(list(partition[1])))


def _live_filter(marker: dict | None):
    if marker:
        return (F.col("ingest_batch") == int(marker["consolidated"])) | (
            F.col("ingest_batch") > int(marker["through"])
        )
    return F.col("ingest_batch") >= 0


def _is_live(n: int, marker: dict | None) -> bool:
    """:func:`_live_filter` for one batch id, on the driver."""
    if marker:
        return n == int(marker["consolidated"]) or n > int(marker["through"])
    return n >= 0


def read_store(
    spark: SparkSession,
    store: str | Path,
    batch_id: int | None = None,
    schema: str | None = None,
    *,
    up_to: int | None = None,
    partition: tuple[str, list] | None = None,
) -> DataFrame | None:
    """The one store reader: the store's live view
    (:func:`read_batch_store`, ``ingest_batch`` column kept), or — with
    ``batch_id`` — that batch's own increment dir as written (a fold's
    replay read-back). None when there is no such data dir: a store
    holding only sentinels or nothing at all has no schema to read.

    ``up_to`` narrows the live view to a commit frontier: positive batch
    ids past it are left out (consolidated ids are always covered).
    ``partition=(column, values)`` narrows it to those values of the
    store's first partition column below ``ingest_batch``. Either one
    prunes at LISTING time: the live ``ingest_batch=B`` dirs are picked
    on the driver from the marker, and only their ``column=value``
    leaves that exist go to the reader (``basePath`` = the store, so the
    columns are unchanged). A whole-store read lists every leaf first,
    which above Spark's parallel-discovery threshold (32 paths) is a
    Spark job of its own. The same bounds stay on the frame as
    planning-time partition filters. None when no such leaf exists.

    Without ``schema`` every form reads with the store's recorded schema
    (the increment form without its ``ingest_batch`` column), so no
    parquet schema-inference job runs; a store that predates the file is
    read by inference."""
    store = Path(store)
    if batch_id is not None:
        inc = store / f"ingest_batch={batch_id}"
        if not inc.exists():
            return None
        recorded = recorded_schema(store)
        if recorded is not None:
            recorded = StructType([f for f in recorded if f.name != "ingest_batch"])
        return _reader(spark, recorded).parquet(str(inc))
    schema = schema or recorded_schema(store)
    if up_to is None and partition is None:
        return read_batch_store(spark, store, schema) if has_data(store) else None
    marker = _read_marker(store)
    live = [
        p
        for n, p in _batch_dirs(store)
        if _is_live(n, marker) and (up_to is None or n < 0 or n <= up_to)
    ]
    paths = _leaves(live, partition)
    if not paths:
        return None
    df = _reader(spark, schema).option("basePath", str(store)).parquet(*map(str, paths))
    df = df.filter(_live_filter(marker))
    if up_to is not None:
        df = df.filter((F.col("ingest_batch") <= up_to) | (F.col("ingest_batch") < 0))
    if partition is not None:
        df = df.filter(F.col(partition[0]).isin(list(partition[1])))
    return df


def has_data(store: str | Path) -> bool:
    """True when :func:`read_store` would return a view. For the few
    folds whose read hangs on a further driver-side condition: a store
    without a recorded schema builds its view with a Spark job (parquet
    schema inference), so those test first and read only when the probe
    has something to look up."""
    return any(Path(store).glob("ingest_batch=*"))


def latest_commit_file(
    root: str | Path, default: dict, before: int | None = None
) -> tuple[dict, int]:
    """``(record, N)`` of the newest readable ``root/b{N}.json`` with
    ``N < before`` (or the newest overall), ``(default, -1)`` when none.
    The per-batch JSON commit point of views whose state is a running
    record derived from its predecessor (heavy's ``mg/``, retrieval's
    ``totals/``): an unreadable file (torn by a crash) is skipped."""
    d = Path(root)
    best, best_id = default, -1
    if not d.exists():
        return best, best_id
    for p in d.glob("b*.json"):
        sid = p.name[1:-5]
        if not sid.isdigit():
            continue
        bid = int(sid)
        if before is not None and bid >= before:
            continue
        if bid > best_id:
            try:
                best, best_id = json.loads(p.read_text()), bid
            except (OSError, ValueError):
                continue
    return best, best_id


#: Trailing per-batch commit files :func:`write_commit_file` retains.
COMMIT_FILES_KEPT = 64


def write_commit_file(root: str | Path, batch_id: int, rec: dict) -> None:
    """Commit ``rec`` as ``root/b{batch_id}.json`` (tmp + atomic
    rename; a replay rewrites the identical file), then prune files
    older than the trailing :data:`COMMIT_FILES_KEPT` batches — kept so
    a replayed batch can re-derive from its predecessor."""
    d = Path(root)
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"b{batch_id}.json"
    tmp = d / f".{final.name}.tmp"
    tmp.write_text(json.dumps(rec, sort_keys=True))
    os.replace(tmp, final)
    for stale in d.glob("b*.json"):
        sid = stale.name[1:-5]
        if sid.isdigit() and int(sid) < batch_id - COMMIT_FILES_KEPT:
            stale.unlink(missing_ok=True)


def _sweep_stale(store: Path, marker: dict) -> int:
    """Delete every batch dir that has been excluded from the reader view
    for a FULL fold generation — the post-commit cleanup of a fold, also
    re-runnable standalone to finish a fold that crashed after its marker
    swap. Returns dirs removed.

    One-generation GRACE (the batch-store analog of the versioned
    tables' {new, previously-read} retention): a reader's already-built
    plan pins the concrete files of the marker view it resolved at
    planning time; deleting the dirs a fold *just* excluded would tear
    that plan mid-scan (FileNotFound on an executor) — with in-stream
    consolidation there is no longer a quiesced window to hide behind.
    So a fold sweeps only what the PREVIOUS marker already excluded
    (invisible to every plan younger than one full generation) and
    leaves its own just-folded dirs (positives in
    ``(prev_through, through]`` plus the previous consolidated dir) on
    disk until the NEXT fold. Directory count stays bounded at
    ~2 generations. Legacy markers (no ``prev_*`` fields) sweep with the
    old everything-excluded semantics until their next fold writes the
    current marker shape."""
    cons, through = int(marker["consolidated"]), int(marker["through"])
    prev_cons = marker.get("prev_consolidated", cons)
    prev_through = int(marker.get("prev_through", through))
    keep_neg = {cons} | ({int(prev_cons)} if prev_cons is not None else set())
    swept = 0
    for n, p in _batch_dirs(store):
        if n in keep_neg:
            continue
        if n < 0 or n <= prev_through:
            shutil.rmtree(p, ignore_errors=True)
            swept += 1
    # Empty-fold sentinels past their grace generation are superseded by
    # the marker's `through` (last_batch_id folds both).
    for n in _empty_sentinel_ids(store):
        if n <= prev_through:
            (store / f".empty.b{n}").unlink(missing_ok=True)
    return swept


def consolidate_batch_store(
    spark: SparkSession,
    store: str | Path,
    partition_by: list[str] | None = None,
    up_to: int | None = None,
    transform=None,
) -> int:
    """Fold live batch partitions into one consolidated partition (see
    module docstring for the crash-safety argument). Returns the number
    of directories folded or swept (0 = nothing to do).

    Writer coordination: either run OFFLINE (owning stream stopped — the
    original contract), or IN-STREAM from the owning stream's own
    ``foreachBatch`` (see :func:`maybe_consolidate_in_stream`) — the
    stream is the store's only writer, so its foreachBatch serializes
    folds against appends with no extra coordination. In-stream callers
    MUST pass ``up_to = current_batch_id - 1``: the current batch's own
    increment dir must survive the fold because a crash-replay of that
    (still-uncommitted) batch reads it back (every gate's
    :func:`read_store` read-back, and the composed pipeline feeds it to
    downstream stages); batches before it are checkpoint-committed and
    can never be re-delivered.

    A re-run with no new batches still sweeps directories a crashed
    fold's marker already excludes — otherwise a fold that died between
    its marker swap and its cleanup would leave the stale dirs listed by
    every partition discovery until some future batch triggered another
    productive fold (never, on a quiesced store).

    ``transform`` (optional) rewrites the folded frame before it is
    written — for stores whose read side resolves rows associatively
    (latest-per-key frontiers: collapse to the resolved row; released
    resequencer buffers: drop rows below the release floor), so row
    count — not just directory count — resets at each fold. It MUST be
    read-semantics-preserving: the post-fold view is
    ``transform(folded) ∪ (ingest_batch > through)``, and the read-side
    resolution over that union must equal resolution over the raw rows
    (true exactly when the resolution is associative and the transform
    is the resolution itself, or drops rows no reader can select)."""
    store = Path(store)
    dirs = _batch_dirs(store)
    marker = _read_marker(store)
    live_positive = [n for n, _ in dirs if n >= 0 and _is_live(n, marker)]
    if up_to is not None:
        live_positive = [n for n in live_positive if n <= up_to]
    if len(live_positive) <= 1 and marker is None:
        return 0  # a single batch dir gains nothing
    if not live_positive and marker is not None:
        return _sweep_stale(store, marker)  # crash-leftover cleanup only
    if not live_positive:
        return 0

    through = max(
        live_positive + ([int(marker["through"])] if marker else [])
    )
    new_id = int(marker["consolidated"]) - 1 if marker else -1

    live = read_batch_store(spark, store)
    if up_to is not None:
        # Batches past the fold horizon stay in their own live dirs; the
        # fold must not absorb their rows or the post-fold view
        # (consolidated ∪ ingest_batch > through) would double-count them.
        live = live.filter(F.col("ingest_batch") <= up_to)
    live = live.drop("ingest_batch")
    if transform is not None:
        live = _in_recorded_order(transform(live), recorded_schema(store))
    tmp = store / f".consolidate.{-new_id}.tmp"
    if tmp.exists():
        shutil.rmtree(tmp)
    writer = live.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))
    final = store / f"ingest_batch={new_id}"
    if final.exists():
        shutil.rmtree(final)
    tmp.rename(final)

    new_marker = {
        "consolidated": new_id,
        "through": through,
        # Grace bookkeeping for the reader-safe sweep (see _sweep_stale):
        # what THIS fold just excluded stays on disk until the next fold.
        "prev_consolidated": int(marker["consolidated"]) if marker else None,
        "prev_through": int(marker["through"]) if marker else -1,
    }
    mtmp = store / (_MARKER + ".tmp")
    mtmp.write_text(json.dumps(new_marker))
    os.replace(mtmp, store / _MARKER)  # the commit point

    return len(live_positive) + _sweep_stale(store, new_marker)


_EMPTY_SENTINEL_RE = re.compile(r"^\.empty\.b\d+$")
_REBUILD_LEFTOVER_RE = re.compile(r"^\..+\.(rebuild\.tmp|pre-rebuild)$")

#: A temp dir younger than this is treated as an in-flight write, not a
#: crash leftover: the sweep is documented safe against a LIVE stream,
#: and append/consolidation tmp dirs legitimately exist for the duration
#: of a parquet write (code-review r18).
STALE_TMP_AGE_SECS = 3600.0


def _walk_warehouse(root: Path) -> tuple[list[Path], list[Path], list[Path]]:
    """One pruned walk: (batch stores, JSON sidecars, rebuild
    leftovers). Batch partition dirs, temp dirs, and rebuild
    tmp/aside dirs are not descended into — their contents are parquet
    data or a dead copy of a store tree."""
    stores: set[Path] = set()
    sidecars: list[Path] = []
    leftovers: list[Path] = []
    for dirpath, dirnames, filenames in os.walk(root):
        d = Path(dirpath)
        if (
            any(_BATCH_RE.match(x) for x in dirnames)
            or _MARKER in filenames
            or any(_EMPTY_SENTINEL_RE.match(f) for f in filenames)
        ):
            stores.add(d)
        for f in filenames:
            if f in ("_gate_params.json", REBUILT_MARKER):
                sidecars.append(d / f)
        kept = []
        for x in dirnames:
            if _REBUILD_LEFTOVER_RE.match(x):
                leftovers.append(d / x)
            elif not (_BATCH_RE.match(x) or x.endswith(".tmp")):
                kept.append(x)
        dirnames[:] = kept
    return sorted(stores), sidecars, leftovers


def find_batch_stores(root: str | Path) -> list[Path]:
    """Every batchstore-shaped directory under a warehouse root — a dir
    holding ``ingest_batch=N`` partitions, empty-fold sentinels, or a
    consolidation marker. Read-only. Rebuild tmp/aside trees (a dead
    copy of a store) are excluded."""
    root = Path(root)
    if not root.exists():
        return []
    return _walk_warehouse(root)[0]


def _stale_tmp(p: Path, now: float) -> bool:
    """A temp tree is stale only when NOTHING inside it has been
    touched for :data:`STALE_TMP_AGE_SECS`: the top-level dir's mtime
    freezes at creation while an in-flight write spends hours inside
    subdirectories (code-review r18), so staleness must be judged by
    the NEWEST mtime anywhere in the tree."""
    newest = 0.0
    try:
        newest = p.stat().st_mtime
        if p.is_dir():
            for dirpath, dirnames, filenames in os.walk(p):
                d = Path(dirpath)
                for name in dirnames + filenames:
                    try:
                        newest = max(newest, (d / name).stat().st_mtime)
                    except OSError:
                        continue
                if now - newest <= STALE_TMP_AGE_SECS:
                    return False  # fresh activity found: stop walking
    except OSError:
        return False
    return now - newest > STALE_TMP_AGE_SECS


def audit_batch_store(store: str | Path) -> list[str]:
    """Read-only invariant sweep of ONE batch store (VERDICT r17 #6 —
    the operational complement of the fold-time guards): unreadable
    marker, gapped batch-id sequence (the sequential guard's failure
    mode, visible at rest), and STALE crash-leftover temp dirs (older
    than :data:`STALE_TMP_AGE_SECS` — younger ones are a live stream's
    in-flight writes, not findings). Returns human-readable violations,
    empty when healthy.

    The gap check is skipped for stores fed by a RESEQUENCER (detected
    by a sibling ``reseq/`` dir): their downstream ids (2B / 2B+1,
    absent when a batch releases nothing) are legitimately
    non-contiguous; the resequencer's own ``buffer``/``wm`` stores
    carry the gap-free arrival ids and ARE checked."""
    import time as _time

    store = Path(store)
    problems: list[str] = []

    marker = None
    mp = store / _MARKER
    if mp.exists():
        try:
            marker = json.loads(mp.read_text())
            int(marker["consolidated"])
            int(marker["through"])
        except (OSError, ValueError, KeyError, TypeError):
            problems.append(f"{store}: unreadable or malformed {_MARKER}")
            marker = None

    reseq_fed = store.name not in ("buffer", "wm") and (
        (store.parent / "reseq").exists()
    )
    ids = sorted(
        {n for n, _ in _batch_dirs(store) if n >= 0}
        | set(_empty_sentinel_ids(store))
    )
    floor = int(marker["through"]) if marker else None
    live = [n for n in ids if floor is None or n > floor]
    if live and not reseq_fed:
        lo = floor + 1 if floor is not None else live[0]
        missing = sorted(set(range(lo, live[-1] + 1)) - set(live))
        if missing:
            shown = ", ".join(map(str, missing[:8]))
            more = ", ..." if len(missing) > 8 else ""
            problems.append(
                f"{store}: gapped batch ids ({shown}{more}) between "
                f"{lo} and {live[-1]} — a stale/foreign checkpoint "
                "folded past missing history, increments were deleted "
                "by hand, or a pre-guard writer skipped empty batches "
                "without sentinels; the store's reports silently "
                "exclude the gap (if the gap ids are KNOWN empty "
                "batches, record them with "
                "batchstore.backfill_empty_sentinels)"
            )

    problems.extend(_audit_schema(store))
    now = _time.time()
    for p in store.parent.glob(f".{store.name}.b*.tmp"):
        if _stale_tmp(p, now):
            problems.append(f"{p}: stale increment tmp (crashed append)")
    for p in store.glob(".consolidate.*.tmp"):
        if _stale_tmp(p, now):
            problems.append(f"{p}: stale consolidation tmp (crashed fold)")
    return problems


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _audit_schema(store: Path) -> list[str]:
    """The recorded-schema half of :func:`audit_batch_store`: a store
    holding data without :data:`SCHEMA_FILE` (every read of it runs an
    inference job), an unreadable file, or a file that disagrees with
    the Spark schema in a batch dir's first parquet footer (read with
    pyarrow on the driver: no Spark job) — a footer column it lacks or
    types differently, the appends :func:`record_store_schema`
    refuses."""
    import pyarrow.parquet as pq

    dirs = _batch_dirs(store)
    if not dirs:
        return []
    try:
        recorded = recorded_schema(store)
    except (OSError, ValueError, KeyError, TypeError):
        return [f"{store}: unreadable {SCHEMA_FILE}"]
    if recorded is None:
        return [
            f"{store}: holds data but records no {SCHEMA_FILE} (written "
            "before schemas were recorded): every read infers the schema "
            "with a Spark job until the store is rebuilt"
        ]
    problems = []
    for _, d in dirs:
        footer = min(d.rglob("*.parquet"), default=None)
        meta = pq.read_schema(footer).metadata or {} if footer else {}
        if _SPARK_ROW_METADATA not in meta:
            continue
        written = _as_nullable(StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA])))
        parts = {seg.split("=", 1)[0] for seg in footer.relative_to(store).parts[:-1]}
        data = StructType([f for f in recorded if f.name not in parts])
        if not _fits(written, data):
            problems.append(
                f"{footer}: footer schema {written.simpleString()} disagrees "
                f"with the recorded {data.simpleString()}"
            )
    return problems


def sweep_warehouse(root: str | Path) -> tuple[list[Path], list[str]]:
    """ONE pruned directory walk over a warehouse root, returning
    (batch stores found, violations): every batch store's invariants
    (:func:`audit_batch_store`), the store family's JSON sidecars
    (`_gate_params.json`, `_rebuilt.json`), and rebuild tmp/aside
    leftovers — read-only and safe against a LIVE warehouse (in-flight
    temp trees are age-gated by their newest inner mtime, not
    findings). The doctor's entry point: it needs both the listing and
    the violations, and must not pay the walk twice (code-review
    r18)."""
    import time as _time

    root = Path(root)
    if not root.exists():
        return [], []
    stores, sidecars, leftovers = _walk_warehouse(root)
    problems: list[str] = []
    for store in stores:
        problems.extend(audit_batch_store(store))
    for p in sidecars:
        try:
            json.loads(p.read_text())
        except (OSError, ValueError):
            problems.append(f"{p}: unreadable JSON sidecar")
    now = _time.time()
    for p in leftovers:
        if _stale_tmp(p, now):
            problems.append(
                f"{p}: leftover rebuild dir (crashed rebuild_swap) — "
                "re-run the rebuild to converge, then remove"
            )
    return stores, problems


def audit_warehouse_stores(root: str | Path) -> list[str]:
    """The violations half of :func:`sweep_warehouse` — catch
    checkpoint misuse, hand-edits, and crash leftovers at rest, before
    they surface as fold-time refusals. Empty = healthy."""
    return sweep_warehouse(root)[1]


def consolidate_stores(
    spark: SparkSession,
    stores: dict[str | Path, list[str] | None],
    up_to: int | None = None,
    transforms: dict | None = None,
    unbounded: set | frozenset | None = None,
) -> dict[str, int]:
    """Fold every existing store of a view with
    :func:`consolidate_batch_store` — the one store loop behind both the
    offline :func:`compact_view` and the in-stream hook.

    ``stores`` maps store path -> partition_by columns (or None), a
    :class:`View`'s ``stores`` placed at its dir (:func:`view_stores`).
    ``up_to`` bounds every fold (offline: the view's commit frontier;
    in-stream: the previous batch). ``transforms`` maps store path ->
    fold-time rewrite (see :func:`consolidate_batch_store`'s
    ``transform``). ``unbounded`` names stores whose batch ids live in an
    INDEPENDENT id space (e.g. the retrieval index's ``revoked`` store,
    written on its own generation counter while the stream is stopped,
    or a frontier-defining membership store offline): those fold with
    no ``up_to`` bound, since bounding them at another store's id would
    be comparing unrelated counters (ADVICE r12). Returns
    {store dir name: dirs folded or swept}; stores sharing a dir name
    (a multi-stage map) add into one entry."""
    skip_bound = {Path(p) for p in (unbounded or ())}
    xform = {Path(p): t for p, t in (transforms or {}).items()}
    out: dict[str, int] = {}
    for store, partition_by in stores.items():
        store = Path(store)
        if store.exists():
            out[store.name] = out.get(store.name, 0) + consolidate_batch_store(
                spark,
                store,
                partition_by=partition_by,
                up_to=None if store in skip_bound else up_to,
                transform=xform.get(store),
            )
    return out


def maybe_consolidate_in_stream(
    spark: SparkSession,
    stores: dict[str | Path, list[str] | None],
    batch_id: int,
    every: int | None,
    unbounded: set | frozenset | None = None,
    transforms: dict | None = None,
) -> int:
    """In-stream consolidation hook: called from the owning stream's own
    ``foreachBatch`` AFTER the batch's appends, folds each store's
    batches up to ``batch_id - 1`` (:func:`consolidate_stores`) whenever
    ``batch_id`` is a positive multiple of ``every``. Removes the
    stop-the-stream maintenance window: the stream is the store's only
    writer, so running the fold inside its serialized foreachBatch needs
    no new coordination, and bounding the fold at ``batch_id - 1`` keeps
    the current (uncommitted) batch's increment readable for a
    crash-replay.

    ``every=None`` disables (offline-only maintenance, the pre-r8
    contract). ``stores``, ``transforms`` and ``unbounded`` are
    :func:`consolidate_stores`'s. Idempotent under replay: a
    re-delivered trigger batch re-runs the fold, which either finds
    nothing live below the horizon (already folded — sweep-only) or
    completes a fold that crashed midway. Returns total dirs
    folded/swept."""
    if not every or batch_id <= 0 or batch_id % every != 0:
        return 0
    return sum(
        consolidate_stores(spark, stores, batch_id - 1, transforms, unbounded).values()
    )


def run_view(
    spark: SparkSession,
    source_dir: str | Path,
    schema: str,
    checkpoint_dir: str | Path,
    process_batch,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """The one stream runner behind every maintained parquet view: a
    file source over ``source_dir`` (``schema`` DDL, at most
    ``max_files_per_trigger`` files per micro-batch), each micro-batch
    handed to ``process_batch(batch_df, batch_id)`` under the
    ``checkpoint_dir`` checkpoint — the exactly-once contract every
    view's fold is written against. ``available_now=True`` drains what
    has landed and stops; ``False`` runs continuously. Declared views
    run through :func:`start_view`; the views that consolidate inside
    their own fold call it directly."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    writer = (
        reader.parquet(str(source_dir))
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", str(checkpoint_dir))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass(frozen=True)
class View:
    """One maintained parquet view, declared once: what
    :func:`start_view` streams and what :func:`compact_view` folds.

    - ``fold(spark, out_dir, batch_df, batch_id, **params)`` — the view
      module's ``fold_batch``;
    - ``stores`` — store name -> partition_by columns (or None);
    - ``transforms`` — store name -> ``rewrite_for(out_dir)``, which
      returns the store's fold-time rewrite (see
      :func:`consolidate_batch_store`'s ``transform``; rewrites that
      read the view's pinned params get its dir);
    - ``unbounded`` — stores on an independent id space (the retrieval
      index's ``revoked`` generations): both folds leave them unbounded;
    - ``frontier`` — the offline bound, the view's commit frontier:
      ``None`` (no bound), ``frontier(out_dir) -> int``, or the name of
      the store whose last batch id IS the frontier (that store then
      folds unbounded offline — bounding it by itself says nothing);
    - ``chained`` — (dir, view) pairs of other views this view's fold
      writes into (the near-dedup gate's component view); the in-stream
      hook maintains their stores too.

    In-stream the bound is always the previous batch, ``unbounded``
    exempt (:func:`maybe_consolidate_in_stream`)."""

    fold: Callable
    stores: Mapping[str, list | None]
    transforms: Mapping[str, Callable] = field(default_factory=dict)
    unbounded: frozenset = frozenset()
    frontier: str | Callable[[Path], int] | None = None
    chained: tuple = ()


def view_stores(placed) -> tuple[dict, dict, set]:
    """:func:`consolidate_stores`' ``(stores, transforms, unbounded)``
    for views placed at dirs — ``placed`` is (dir, View) pairs, so one
    call builds a composition's store union (the corpus funnel)."""
    stores: dict = {}
    transforms: dict = {}
    unbounded: set = set()
    for d, view in placed:
        d = Path(d)
        stores.update({d / name: part for name, part in view.stores.items()})
        transforms.update({d / name: t(d) for name, t in view.transforms.items()})
        unbounded.update(d / name for name in view.unbounded)
    return stores, transforms, unbounded


def start_view(
    spark: SparkSession,
    view: View,
    source_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    *,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
    **fold_params,
) -> StreamingQuery:
    """Stream the parquet files under ``source_dir`` (``schema`` DDL)
    into ``view`` at ``out_dir``: each micro-batch runs
    ``view.fold(spark, out_dir, batch_df, batch_id, **fold_params)``,
    then the in-stream hook folds the view's (and its chained views')
    stores up to the previous batch every ``consolidate_every`` batches
    (``None`` = offline-only, :func:`compact_view`).
    ``available_now=True`` drains what has landed and stops."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    stores, transforms, unbounded = view_stores([(odir, view), *view.chained])

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        view.fold(spark, odir, batch_df, batch_id, **fold_params)
        maybe_consolidate_in_stream(
            spark, stores, batch_id, consolidate_every, unbounded, transforms
        )

    return run_view(
        spark, source_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )


def compact_view(
    spark: SparkSession, view: View, out_dir: str | Path
) -> dict[str, int]:
    """OFFLINE: fold every store of ``view`` at ``out_dir`` (run while
    its stream is not), bounded at the view's commit ``frontier`` with
    its ``unbounded`` stores exempt. Returns {store name: dirs folded or
    swept}."""
    odir = Path(out_dir)
    stores, transforms, unbounded = view_stores([(odir, view)])
    up_to = None
    if isinstance(view.frontier, str):
        up_to = last_batch_id(odir / view.frontier)
        unbounded.add(odir / view.frontier)
    elif view.frontier is not None:
        up_to = view.frontier(odir)
    return consolidate_stores(spark, stores, up_to, transforms, unbounded)
