"""Product-JSON parsing + normalization to the bronze layer.

Reference behavior being reproduced (SURVEY §2 ops 4,9,10,11):

- input is a top-level JSON **array** of objects, parsed incrementally
  (file_splitter.py:117-120); malformed JSON fails the whole file and the
  landing file is retained (file_splitter.py:74-81);
- external ``id``/``_id`` keys are dropped (data_processor.py:82-88);
- a record is valid iff ``code`` is present and a JSON string, and
  ``product_name`` is absent/null or a string (pydantic Product,
  data_processor.py:57-73) — note a JSON *number* code is invalid, which is
  why normalization must see raw JSON types, not a Spark-inferred schema
  (inference would silently stringify numeric codes);
- everything beyond the spine is preserved verbatim (models.py:15-16) — we
  keep it as canonical-JSON strings in the ``attrs`` map.

Execution model: ``binaryFiles`` hands each landing file to an executor
(Hadoop FS API → works identically on HDFS/S3); the parse is executor-side
Python over whole files. The parser is built as a **self-contained nested
closure** so cloudpickle ships it by value — executors do not need this
package on their PYTHONPATH (no --py-files requirement). This is the
ingestion edge, not a query path — records are parsed exactly once, then
live in columnar parquet. At 100 TB the landing format should be JSONL so
files split; the parser accepts both (array + JSONL) and the array parse
documents this delta (SURVEY §2 op 4 "JSONL preferred at scale").
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..schema import BRONZE_SCHEMA
from ..session import local_frame

MALFORMED_SEQ = -1  # sentinel bronze row emitted for an unparseable file


def _make_normalizer():
    """Build the record normalizer closure. Fully self-contained (stdlib
    only, no references to this module's globals) so it pickles by value —
    shared by the whole-file parser and the envelope-line parser."""
    import json as _json

    DROPPED = ("id", "_id")

    def canon(value):
        # canonical JSON for attrs values: type-preserving, deterministic
        return _json.dumps(value, sort_keys=True, separators=(",", ":"), ensure_ascii=False)

    def normalize(rec, file_id, seq):
        if not isinstance(rec, dict):
            return (file_id, seq, None, None, None, False, "not_an_object")
        rec = {k: v for k, v in rec.items() if k not in DROPPED}
        code = rec.get("code")
        name = rec.get("product_name")
        if not isinstance(code, str):
            # missing/null/non-string code → reject; log id is code-or-MISSING
            # (data_processor.py:63-68)
            reason = "missing_code" if code is None else "non_string_code"
            return (
                file_id,
                seq,
                None if code is None else canon(code),
                None,
                None,
                False,
                reason,
            )
        if name is not None and not isinstance(name, str):
            return (file_id, seq, code, None, None, False, "non_string_product_name")
        attrs = {k: canon(v) for k, v in rec.items() if k not in ("code", "product_name")}
        return (file_id, seq, code, name, attrs, True, None)

    return normalize


def _make_file_parser():
    """Build the executor-side whole-file parser (ships by value)."""
    import json as _json
    import posixpath as _pp

    normalize = _make_normalizer()

    def parse_file(kv):
        path, payload = kv
        file_id = _pp.basename(path)
        try:
            text = payload.decode("utf-8", errors="strict")
            stripped = text.lstrip()
            if stripped.startswith("["):
                data = _json.loads(text)
                if not isinstance(data, list):
                    raise ValueError("top-level JSON is not an array")
                for seq, rec in enumerate(data):
                    yield normalize(rec, file_id, seq)
            else:
                # JSONL: one object per line (the splittable at-scale format)
                seq = 0
                for line in text.splitlines():
                    if not line.strip():
                        continue
                    yield normalize(_json.loads(line), file_id, seq)
                    seq += 1
        except (ValueError, UnicodeDecodeError) as exc:  # incl. JSONDecodeError
            yield (file_id, MALFORMED_SEQ, None, None, None, False, f"malformed_file:{exc}")

    return parse_file


# Driver-side conveniences (unit tests, tooling) over the same closure.
def parse_bytes(path: str, payload: bytes) -> list[tuple]:
    return list(_make_file_parser()((path, payload)))


def read_bronze(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Parse + normalize landing files into the bronze DataFrame.

    One executor task per file (minPartitions=len(paths)); order within a
    file is preserved in ``seq`` — required by the ordered-upsert semantics
    (data_processor.py:101-113).
    """
    if not paths:
        return local_frame(spark, [], BRONZE_SCHEMA)
    parser = _make_file_parser()
    rdd = spark.sparkContext.binaryFiles(",".join(paths), minPartitions=len(paths))
    rows = rdd.flatMap(parser)
    return spark.createDataFrame(rows, BRONZE_SCHEMA)


# -- splittable parse: array → envelope-JSONL fan-out ------------------------

SPLIT_THRESHOLD_BYTES = 4 << 20  # array files above this are chunked
CHUNK_RECORDS = 100_000  # records per JSONL chunk file (upload granularity)
JSONL_PARTITION_BYTES = 32 << 20  # target split size for big JSONL scans

#: Wall-clock cost of the most recent batch's array→JSONL edge
#: conversions, keyed by landing file basename: {"seconds", "bytes",
#: "mb_per_s"}. The conversion is a SINGLE-CORE driver pass (constant
#: memory, but O(file) wall time before any executor works), so its cost
#: must be measured and visible — IngestReport.conversions and the bench
#: artifact carry it — not discovered in production. JSONL deliveries
#: skip it entirely (native splittable scan); convert arrays at the edge
#: for multi-GB deliveries. Observability only: never read for logic.
LAST_CONVERSION_STATS: dict[str, dict] = {}


def _looks_like_array(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(64).lstrip()[:1] == b"["


def _looks_like_jsonl(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(64).lstrip()[:1] == b"{"


def _make_jsonl_line_parser(file_id: str):
    """Parse one raw JSONL byte-line (paired with its dense line number)
    into a bronze tuple. Self-contained closure: ships by value.

    A line that fails strict UTF-8 decode or JSON parse yields the
    MALFORMED_SEQ sentinel for the file — the same whole-file-failure
    marker the whole-file parser emits — so the pipeline's
    max(seq==MALFORMED_SEQ) check drives the file to status=failed and
    excludes every row it produced from the merge. Unlike the whole-file
    parser (which stops at the first bad line), the distributed parse
    keeps going, so a file with several bad lines yields several
    sentinels; downstream uses presence, not count, so this is benign
    and avoids a second coordination pass over the data."""
    import json as _json

    normalize = _make_normalizer()

    def parse(kv):
        raw, seq = kv
        try:
            rec = _json.loads(raw.decode("utf-8", errors="strict"))
        except (ValueError, UnicodeDecodeError) as exc:
            return (file_id, MALFORMED_SEQ, None, None, None, False, f"malformed_file:{exc}")
        return normalize(rec, file_id, seq)

    return parse


def read_bronze_jsonl_distributed(
    spark: SparkSession,
    path: str,
    partition_bytes: int = JSONL_PARTITION_BYTES,
) -> DataFrame:
    """Parse ONE large JSONL landing file across many executor tasks.

    JSONL is the repo's declared at-scale landing format, but the
    whole-file path hands each file to binaryFiles — one Python task per
    file, the full decoded text in one executor's memory. Here the native
    Hadoop text source splits the file on newline boundaries into
    ~``partition_bytes`` tasks (works identically on HDFS/S3; TextInputFormat
    delivers whole lines, and UTF-8 continuation bytes never contain 0x0A,
    so splitting is encoding-safe).

    ``seq`` must be the dense per-file non-blank-line index — byte offsets
    would break both parity with ``read_bronze`` and the pipeline's
    ``__ford * 1e10 + seq`` cross-file ordering for >10 GB files — so the
    numbering comes from ``zipWithIndex``: order-preserving, dense, no
    shuffle. zipWithIndex runs one extra counting job (a raw line scan,
    no JSON parse) to learn per-partition offsets — a 2× read of the
    file, the same I/O tradeoff the array fan-out path already makes with
    its conversion pass, in exchange for a parse that fans out across the
    whole cluster instead of serializing on one core.
    """
    import math
    import posixpath

    size = os.path.getsize(path)
    min_parts = max(2, math.ceil(size / max(1, partition_bytes)))
    raw = spark.sparkContext.textFile(path, minPartitions=min_parts, use_unicode=False)
    # Blank lines are skipped WITHOUT consuming a seq (whole-file parser
    # parity). The replace-decode here is only for the blank test; the
    # parser re-decodes strictly so bad bytes still fail the file.
    lines = raw.filter(lambda b: bool(b.decode("utf-8", errors="replace").strip()))
    rows = lines.zipWithIndex().map(_make_jsonl_line_parser(posixpath.basename(path)))
    return spark.createDataFrame(rows, BRONZE_SCHEMA)


def _make_envelope_parser():
    """Parse one envelope-JSONL line ``{"f","q","r"}`` into a bronze tuple
    (self-contained closure: ships by value)."""
    import json as _json

    normalize = _make_normalizer()

    def parse_line(line):
        env = _json.loads(line)
        return normalize(env["r"], env["f"], env["q"])

    return parse_line


def _make_envelope_batch_parser():
    """Arrow-batched envelope parser for ``mapInPandas``: one pandas
    DataFrame of bronze columns per input batch of text lines. Batch
    transfer (Arrow) instead of per-row pickling — the envelope parse is
    the ingest hot path. Self-contained closure: ships by value."""
    import pandas as _pd

    parse_line = _make_envelope_parser()
    cols = ["file_id", "seq", "code", "product_name", "attrs", "valid", "reject_reason"]

    def parse_batches(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                [parse_line(v) for v in pdf["value"]], columns=cols
            )

    return parse_batches


def read_bronze_splittable(
    spark: SparkSession,
    paths: list[str],
    scratch_dir,
    threshold_bytes: int = SPLIT_THRESHOLD_BYTES,
    chunk_records: int = CHUNK_RECORDS,
    jsonl_partition_bytes: int = JSONL_PARTITION_BYTES,
) -> tuple[DataFrame, list[str]]:
    """read_bronze with large-file fan-out — the at-scale parse path.

    A top-level JSON array is ONE parse unit (a 100 GB weekly delivery
    would run on one core — sources/jsonl.py docstring). Array files above
    ``threshold_bytes`` are stream-rewritten (constant memory, the
    reference's ijson discipline: file_splitter.py:117-120) into
    envelope-JSONL chunks in ``scratch_dir``: every line carries its own
    ``(file_id, global_seq, record)``, so the chunks are read back with
    Spark's native newline-splitting text source — parallelism comes from
    ``spark.sql.files.maxPartitionBytes``, NOT the file count, and a
    single huge delivery fans out across every executor while keeping the
    original file identity and the global record order the ordered-upsert
    semantics need.

    Large **JSONL** files need no rewrite at all: they are already
    line-delimited, so they go straight to the native splittable text
    scan (``read_bronze_jsonl_distributed``) — zero driver passes, one
    extra executor-side counting scan for dense ``seq``, and the parse
    fans out in ~``jsonl_partition_bytes`` tasks.

    An array file that fails conversion (malformed JSON) never reaches
    the executors; its id is returned in the second element so the caller
    can apply the whole-file-failure contract (status=failed, file
    retained). A malformed line in a big JSONL file is detected
    executor-side instead and surfaces as MALFORMED_SEQ sentinel row(s)
    in the bronze output — the same signal the whole-file parser emits —
    driving the identical status=failed / nothing-merged contract.

    Returns ``(bronze_df, conversion_failed_file_ids)``.
    """
    import posixpath
    from pathlib import Path

    from .jsonl import array_to_jsonl

    whole_files: list[str] = []
    big_arrays: list[str] = []
    big_jsonl: list[str] = []
    chunk_paths: list[str] = []
    conv_failed: list[str] = []
    for p in map(str, paths):
        try:
            if os.path.getsize(p) >= threshold_bytes and _looks_like_array(p):
                big_arrays.append(p)
            elif os.path.getsize(p) >= threshold_bytes and _looks_like_jsonl(p):
                big_jsonl.append(p)
            else:
                whole_files.append(p)
        except OSError:
            whole_files.append(p)
    LAST_CONVERSION_STATS.clear()
    for p in big_arrays:
        t0 = time.perf_counter()
        try:
            chunks = array_to_jsonl(
                p,
                scratch_dir,
                records_per_file=chunk_records,
                basename=Path(p).name,
                envelope_file_id=Path(p).name,
            )
            chunk_paths.extend(str(c) for c in chunks)
        except ValueError:  # incl. JSONDecodeError/UnicodeDecodeError
            conv_failed.append(posixpath.basename(p))
        secs = time.perf_counter() - t0
        nbytes = os.path.getsize(p)
        LAST_CONVERSION_STATS[posixpath.basename(p)] = {
            "seconds": round(secs, 3),
            "bytes": nbytes,
            "mb_per_s": round(nbytes / (1 << 20) / secs, 1) if secs > 0 else None,
        }

    chunk_df = None
    if chunk_paths:
        lines = spark.read.text(chunk_paths)
        # Big batches split naturally into maxPartitionBytes-sized scan
        # tasks; a small batch would land on a handful of partitions and
        # parse on a handful of cores — fan it out (the shuffle is tiny by
        # construction of the branch).
        target = spark.sparkContext.defaultParallelism
        total_bytes = sum(os.path.getsize(p) for p in chunk_paths)
        if total_bytes < 32 << 20 and lines.rdd.getNumPartitions() < target:
            lines = lines.repartition(target)
        chunk_df = lines.mapInPandas(_make_envelope_batch_parser(), BRONZE_SCHEMA)

    parts = [
        read_bronze_jsonl_distributed(spark, p, partition_bytes=jsonl_partition_bytes)
        for p in big_jsonl
    ]
    if whole_files or (not parts and chunk_df is None):
        parts.insert(0, read_bronze(spark, whole_files))
    if chunk_df is not None:
        parts.append(chunk_df)
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out, conv_failed
