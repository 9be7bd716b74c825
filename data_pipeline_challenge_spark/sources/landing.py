"""Landing zone — the upload surface of the pipeline.

Replaces the reference's FastAPI upload endpoint + RabbitMQ file_uploaded
event (/root/reference/app/api/main.py:59-103, mq.py:64-73): a file landed
in the directory IS the event. Batch mode discovers new files with an
anti-join against the ledger (SURVEY §2 op 3); streaming mode points a file
source at the same directory (streaming/ingest_stream.py).

Filename scheme replicates api/main.py:66-68: ``{unix_ts}_{token}_{orig}``.
Writes are atomic (tmp file + rename) so a half-written upload is never
visible — the engine-level upgrade of the reference's 1 MiB chunked write.
"""

from __future__ import annotations

import os
import re
import secrets
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import local_frame


@dataclass(frozen=True)
class LandedFile:
    file_id: str  # the unique landing filename (stable id; replaces Mongo _id)
    filename: str  # original client filename
    location: str  # absolute path in the landing dir
    uploaded_at: float  # unix seconds
    content_type: str


def upload(
    src: str | Path | bytes,
    landing_dir: str | Path,
    orig_name: str | None = None,
    content_type: str = "application/json",
    before_visible=None,
) -> LandedFile:
    """Land a file atomically; returns its ledger identity.

    Accepts a path (copied in 1 MiB chunks, api/main.py:73-75), raw
    bytes, or a readable file-like object (streamed in 1 MiB chunks —
    the HTTP shim hands the request socket through here so a huge upload
    never materializes in memory). The destination name carries a
    timestamp + random token so re-uploads of the same client filename
    never collide (api/main.py:66-68).

    ``before_visible`` (optional ``LandedFile -> None``) runs after the
    bytes are durably written but BEFORE the atomic rename that makes the
    file discoverable. The HTTP shim appends the ``uploaded`` ledger event
    here: if the event were appended after the rename, a background
    consumer could discover + process + gc the file first, and the
    later-timestamped ``uploaded`` event would then win the
    latest-per-file fold — the file stuck pending forever. If the
    callback raises, the tmp file is removed and nothing becomes visible.
    """
    landing = Path(landing_dir)
    landing.mkdir(parents=True, exist_ok=True)
    if isinstance(src, (str, Path)):
        orig = orig_name or Path(src).name
    else:
        orig = orig_name or "upload.json"
    # The client filename is untrusted and becomes part of a filesystem
    # path AND a Hadoop path expression: '/' would escape the landing
    # dir, and a comma or glob metacharacter ('[', '{', '*', '?') would
    # be split/expanded by binaryFiles' comma-joined path list, making a
    # legally-named upload permanently unreadable (batch fails, per-file
    # isolation fails, terminal 'failed' — silent data drop). Keep a
    # conservative portable alphabet; the random token already
    # guarantees uniqueness.
    orig = re.sub(r"[^A-Za-z0-9._-]", "_", orig) or "upload.json"
    ts = int(time.time())
    token = secrets.token_urlsafe(16)
    final_name = f"{ts}_{token}_{orig}"
    tmp = landing / f".{final_name}.tmp"
    final = landing / final_name

    try:
        if isinstance(src, bytes):
            with open(tmp, "wb") as out:
                out.write(src)
        elif hasattr(src, "read"):
            # streaming source (e.g. the HTTP request body): constant
            # memory no matter the upload size; a read error mid-copy
            # (truncated body, malformed multipart) must not leave a
            # half-written tmp file behind.
            with open(tmp, "wb") as out:
                shutil.copyfileobj(src, out, length=1024 * 1024)
        else:
            with open(src, "rb") as inp, open(tmp, "wb") as out:
                shutil.copyfileobj(inp, out, length=1024 * 1024)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise
    lf = LandedFile(
        file_id=final_name,
        filename=orig,
        location=str(final),
        uploaded_at=float(ts),
        content_type=content_type,
    )
    if before_visible is not None:
        try:
            before_visible(lf)
        except BaseException:
            tmp.unlink(missing_ok=True)
            raise
    os.replace(tmp, final)  # atomic: visible only when complete
    return lf


def list_landed(landing_dir: str | Path) -> list[str]:
    """All complete files currently in the landing dir (skips tmp files)."""
    landing = Path(landing_dir)
    if not landing.exists():
        return []
    return sorted(
        str(p) for p in landing.iterdir() if p.is_file() and not p.name.startswith(".")
    )


def discover_new_files(landing_dir: str | Path, ledger_current: DataFrame | None) -> list[str]:
    """Batch-mode event source: landed files whose latest ledger status is
    not yet terminal (anti-join replaces queue consumption, SURVEY §2
    op 3). A file with only an ``uploaded`` event — the HTTP shim appends
    one at POST /upload, like the reference's UploadedFile.insert() — is
    still pending and must be discovered; processed/failed files are not.

    Driver traffic is bounded by the PENDING set, not ledger history: the
    landed names (small — files awaiting processing) broadcast into a
    semi-join against the ledger, and only the terminal ids among them
    come back. Collecting the whole terminal side instead would grow with
    every file ever processed — unbounded over a warehouse's lifetime."""
    landed = list_landed(landing_dir)
    if ledger_current is None or not landed:
        return landed
    terminal = ("processed", "processed_with_errors", "failed")
    spark = ledger_current.sparkSession
    landed_df = local_frame(spark, [(Path(p).name,) for p in landed], "file_id string")
    seen = {
        r["file_id"]
        for r in ledger_current.filter(F.col("status").isin(*terminal))
        .join(F.broadcast(landed_df), "file_id", "left_semi")
        .select("file_id")
        .collect()
    }
    return [p for p in landed if Path(p).name not in seen]


def gc_file(path: str | Path) -> bool:
    """Delete a fully processed landing file (file_splitter.py:95-96,157-161);
    warns-not-raises if already gone. Failed files are retained for
    inspection (file_splitter.py:74-81)."""
    try:
        Path(path).unlink()
        return True
    except FileNotFoundError:
        return False
