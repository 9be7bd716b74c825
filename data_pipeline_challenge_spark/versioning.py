"""The one versioned-table protocol for every symlink-published table.

Products, ledger state, ledger history, the rollup / packing /
group-texts stream sinks and online compaction
(``operators/maintenance.compact_published_table``) all publish a table
as sibling ``<prefix>.v{N}`` directories behind one symlink.
:class:`VersionedTable` is the only code that knows that layout:

- ``versions()`` — the one lister: the final-named ``<prefix>.v{N}``
  siblings of the link, sorted by N (never a ``.tmp`` dir, never a
  products ``.v{N}.d{k}`` delta dir);
- ``read_target()`` — the one resolver: the link's target when it
  exists, else a non-empty real directory at the link path (a
  pre-versioning table), else the table's ``fallback`` rule;
- ``publish(write)`` — the one publish: capture the previously-read
  dir, pick N, ``write(tmp)`` into ``<prefix>.v{N}.tmp``, rename it to
  its final name, move a legacy real dir aside, :func:`swap_symlink`,
  :func:`retire_versions`, delete the legacy dir. A crash at any step
  leaves readers on the old version or the new one, and the next
  publish converges: it reuses or retires whatever the crash left.

Retention's contract is *a reader that resolved the table just before
this publish must keep scanning its pinned version safely*, so exactly
two directories survive a publish: the NEW version and the directory
readers could have been pinned to immediately before it (the
previously-published target — or, when no symlink existed, what the
fallback rule resolved to).

Ranking "the two newest complete versions" instead — the protocol's
previous form — is subtly wrong: a crash in this protocol's own window
(between the version rename and the symlink replace) leaves a COMPLETE
but never-published higher version. The next publish would then rank
that remnant above the still-live previous version and delete the very
directory a pinned reader is scanning. Keeping {new, previously-read}
by identity instead of by rank is immune: stale remnants — torn or
complete — were never readable (symlink readers resolve the link;
fallback readers only exist when there is no symlink, and then the
previously-read dir IS the fallback's pick), so they are deleted
outright.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path
from typing import Callable, Iterable

#: Fallback rule: the newest version holding ``_SUCCESS`` (products,
#: ledger history — dirs older code wrote in place may be torn).
COMPLETE = "complete"
#: Fallback rule: the newest final-named version (stream sinks, whose
#: versions were always renamed into place whole).
NEWEST = "newest"
#: Stream sinks record the highest micro-batch id folded into a version
#: here; the underscore keeps it invisible to parquet readers.
FOLDED_MARKER = "_folded_batch"


def _number(version: Path) -> int:
    return int(version.name.rsplit(".v", 1)[1])


class VersionedTable:
    """A table published as ``<prefix>.v{N}`` dirs behind ``link``.

    ``prefix`` defaults to the link's name (``products`` →
    ``products.v{N}``); stream sinks publish ``data.v{N}`` behind
    ``current`` (:func:`stream_table`). ``fallback`` is what readers use
    when the link is absent or dangling: :data:`COMPLETE`,
    :data:`NEWEST`, or None for no version fallback (ledger state: the
    event log is replayed instead)."""

    def __init__(
        self, link: str | Path, fallback: str | None = None, prefix: str | None = None
    ):
        self.link = Path(link)
        self.fallback = fallback
        self.prefix = prefix or self.link.name

    def versions(self) -> list[Path]:
        """Final-named ``<prefix>.v{N}`` siblings of the link, sorted by N."""
        pat = re.compile(re.escape(self.prefix) + r"\.v(\d+)$")
        parent = self.link.parent
        if not parent.exists():
            return []
        found = [
            (int(m.group(1)), p) for p in parent.iterdir() if (m := pat.match(p.name))
        ]
        return [p for _, p in sorted(found)]

    def read_target(self) -> Path | None:
        """The directory a reader scans — resolve it ONCE and read that
        path, so a concurrent publish cannot swap files out from under
        the scan (retention keeps it through one further publish)."""
        link = self.link
        if link.is_symlink():
            target = link.parent / os.readlink(link)
            if target.exists():
                return target
        elif link.is_dir() and any(link.iterdir()):
            return link
        if self.fallback is None:
            return None
        versions = self.versions()
        if self.fallback == COMPLETE:
            versions = [v for v in versions if (v / "_SUCCESS").exists()]
        return versions[-1] if versions else None

    def publish(self, write: Callable[[Path], None], floor: int = 1) -> Path:
        """Publish what ``write(tmp)`` writes as the next version; returns
        its directory. N is one above every existing version, and at
        least ``floor`` (stream sinks pass the batch id, so a version is
        numbered by the batch it folds unless compaction got ahead).
        Writers must be serialized by the caller (products flock, ledger
        lock, the single stream)."""
        prev = self.read_target()  # before any new dir exists
        versions = self.versions()
        n = max(_number(versions[-1]) + 1 if versions else 0, floor)
        parent = self.link.parent
        tmp = parent / f"{self.prefix}.v{n}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        final = parent / f"{self.prefix}.v{n}"
        tmp.rename(final)
        legacy = parent / f"{self.link.name}.legacy"
        if self.link.exists() and not self.link.is_symlink():
            # Pre-versioning table: move the real directory aside; the
            # gap before the swap is covered by the fallback rule.
            shutil.rmtree(legacy, ignore_errors=True)
            self.link.rename(legacy)
        swap_symlink(self.link, final.name)
        retire_versions(self, keep=(final, prev))
        shutil.rmtree(legacy, ignore_errors=True)
        return final

    def relink_newest(self) -> None:
        """Replay-path repair: a crash between a version's rename and its
        swap left the link one version behind."""
        swap_symlink(self.link, self.versions()[-1].name)

    def last_folded(self) -> int | None:
        """Highest micro-batch id folded into the newest version, or None
        before the first publish — a stream sink's replay-skip authority.
        Version NUMBERS are only a publish order: online compaction
        creates versions with no new batch folded, so the skip check
        reads the marker, not the number, or the first post-compaction
        batch would be swallowed. Dirs written before the marker existed
        used the batch id AS the version number, hence the fallback."""
        versions = self.versions()
        if not versions:
            return None
        marker = versions[-1] / FOLDED_MARKER
        if marker.exists():
            return int(marker.read_text().strip())
        return _number(versions[-1])


def stream_table(table_dir: str | Path) -> VersionedTable:
    """A stream sink's published table: ``data.v{N}`` behind ``current``."""
    return VersionedTable(Path(table_dir) / "current", NEWEST, prefix="data")


def mark_folded(version_dir: Path, batch_id: int) -> None:
    """Record the highest micro-batch id folded into ``version_dir``;
    written into the tmp dir, so a final-named version always has it."""
    (version_dir / FOLDED_MARKER).write_text(str(batch_id))


def swap_symlink(state: Path, target_name: str) -> None:
    """Atomically repoint ``state`` (the published-table symlink) at a
    sibling directory: create a ``.swap`` symlink beside it, then
    ``os.replace`` over the live name — readers resolve strictly the old
    or the new target, never a missing or half-made link."""
    swap = state.parent / f"{state.name}.swap"
    if swap.is_symlink() or swap.exists():
        swap.unlink()
    swap.symlink_to(target_name)
    os.replace(swap, state)


def retire_versions(table: VersionedTable, keep: Iterable[Path | None]) -> None:
    """Delete every version of ``table`` not in ``keep``, and every stale
    ``<prefix>.v{N}.tmp`` a crashed write left behind.

    ``keep`` is {the just-published dir, the previously-read dir (None if
    the table had no readable version before this publish)}. Writers are
    serialized by the table's writer lock, so nothing outside ``keep``
    can be in-flight; everything else is a retired or crash-stale dir no
    reader can reach."""
    keep_set = {Path(p).resolve() for p in keep if p is not None}
    tmp = re.compile(re.escape(table.prefix) + r"\.v\d+\.tmp$")
    stale = [p for p in table.link.parent.iterdir() if tmp.match(p.name)]
    for p in table.versions() + stale:
        if p.resolve() not in keep_set:
            shutil.rmtree(p, ignore_errors=True)
