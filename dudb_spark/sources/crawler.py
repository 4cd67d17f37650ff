"""Filesystem-metadata crawler (the ingest source, reference S1).

Reference shape (analyze.go:104–123, 246–381): a concurrent tree walk with
``concurrent_scans`` directories in flight and ``concurrent_stats`` parallel
lstats per large directory, producing one record per directory.

``crawl_local`` is that walk: a single-process scandir BFS with a thread
pool, one level of directories in flight at a time.  Given the previous
snapshot's directory stamps it also classifies each directory (J1/J2,
analyze.go:226–243): an unchanged one is listed for its child dirs only,
so only churned directories have their files stat'ed.

Rows follow exactly the model.py schemas.  Exclusions (S3) and symlink
no-descend (S2) are applied at scan time like the reference
(analyze.go:201–210, 260–265).
"""

from __future__ import annotations

import os
import re
import stat as stat_mod
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICRO = timedelta(microseconds=1)


def _mtime(st) -> datetime:
    return datetime.fromtimestamp(st.st_mtime, tz=timezone.utc)


def _stamp(path: str):
    """A dir's ``(mtime, mode)`` with the mtime in the integer microseconds
    Spark stores for its staged ``datetime``, so comparing stamps equals
    the merge's ``s.mtime == p.mtime``; None when it cannot be lstat'ed."""
    try:
        st = os.lstat(path)
    except OSError:
        return None
    return (_mtime(st) - _EPOCH) // _MICRO, int(st.st_mode)


def _entry_row(parent: str, name: str, st, is_dir: bool) -> dict:
    return {
        "parent": parent,
        "name": name,
        "path": f"{parent.rstrip('/')}/{name}",
        "is_dir": is_dir,
        "size": int(st.st_size),
        "blocks": int(getattr(st, "st_blocks", 0)),
        "mode": int(st.st_mode),
        "mtime": _mtime(st),
        "uid": int(st.st_uid),
        "gid": int(st.st_gid),
        "device": int(st.st_dev),
        "inode": int(st.st_ino),
    }


def _scan_one(path: str, exclusions: list[re.Pattern]):
    """List one directory: returns (prefix_row, entry_rows, error_rows,
    child_dirs).  Symlinked dirs are recorded but never descended."""
    errors: list[dict] = []
    entries: list[dict] = []
    children: list[str] = []
    try:
        dst = os.lstat(path)
    except OSError as e:
        return None, [], [{"path": path, "at": _now(), "detail": str(e)}], []
    try:
        with os.scandir(path) as it:
            names = sorted(it, key=lambda d: d.name)
    except OSError as e:
        return None, [], [{"path": path, "at": _now(), "detail": str(e)}], []

    for d in names:
        child = f"{path.rstrip('/')}/{d.name}"
        if any(x.search(child) for x in exclusions):
            continue
        try:
            st = d.stat(follow_symlinks=False)
        except OSError as e:
            errors.append({"path": child, "at": _now(), "detail": str(e)})
            continue
        is_dir = stat_mod.S_ISDIR(st.st_mode)
        entries.append(_entry_row(path, d.name, st, is_dir))
        if is_dir and not stat_mod.S_ISLNK(st.st_mode):
            children.append(child)

    prefix_row = {
        "path": path,
        "parent": os.path.dirname(path) or None,
        "depth": 0,  # filled relative to root by the caller
        "size": int(dst.st_size),
        "blocks": int(getattr(dst, "st_blocks", 0)),
        "mode": int(dst.st_mode),
        "is_symlink": stat_mod.S_ISLNK(dst.st_mode),
        "mtime": _mtime(dst),
        "uid": int(dst.st_uid),
        "gid": int(dst.st_gid),
        "device": int(dst.st_dev),
        "inode": int(dst.st_ino),
        "n_entries": len(entries),
    }
    return prefix_row, entries, errors, children


def _now():
    return datetime.now(tz=timezone.utc)


def _child_dirs(path: str, exclusions: list[re.Pattern]) -> list[str] | None:
    """Child directories of ``path`` from its listing alone (the dirent
    type, no stat), or None when it cannot be listed: the caller then
    scans it in full, which records the error."""
    base = path.rstrip("/")
    try:
        with os.scandir(path) as it:
            return sorted(
                f"{base}/{d.name}" for d in it
                if d.is_dir(follow_symlinks=False)
                and not any(x.search(f"{base}/{d.name}") for x in exclusions)
            )
    except OSError:
        return None


@dataclass(frozen=True)
class Churn:
    """How a crawl classified the directories under its root against the
    previous snapshot: J1 (mtime and mode both match: unchanged) and J2
    (stored but not found now: deleted).  ``merge_scan(churn=...)``
    consumes it instead of joining the scan against the snapshot."""

    added: frozenset
    changed: frozenset
    unchanged: frozenset
    deleted: frozenset


class CrawlResult(tuple):
    """``(prefix_rows, entry_rows, error_rows)``; ``churn`` is the
    :class:`Churn` of a crawl given ``previous``, else None."""

    churn: Churn | None

    def __new__(cls, prefix_rows, entry_rows, error_rows, churn=None):
        self = super().__new__(cls, (prefix_rows, entry_rows, error_rows))
        self.churn = churn
        return self


def crawl_local(
    root: str,
    exclusions: list[str] | None = None,
    concurrent_scans: int = 32,
    previous: dict | None = None,
) -> CrawlResult:
    """Thread-pool walk of a local tree.  Returns (prefix_rows, entry_rows,
    error_rows) with depth filled in relative to ``root``.

    ``previous`` maps each directory of the previous snapshot under
    ``root`` to its ``(mtime_micros, mode)``.  With it, a directory whose
    stamp matches is unchanged: it is listed for its child dirs, which
    the walk still needs to find deletions, but it stats no file and
    emits no row.  The result's ``churn`` then names the added, changed,
    unchanged and deleted directories."""
    pats = [re.compile(x) for x in (exclusions or [])]
    prefix_rows: list[dict] = []
    entry_rows: list[dict] = []
    error_rows: list[dict] = []
    unchanged: set[str] = set()

    def scan(path):
        stamp = previous.get(path) if previous else None
        if stamp is not None and stamp == _stamp(path):
            children = _child_dirs(path, pats)
            if children is not None:
                return path, None, [], [], children
        return (None, *_scan_one(path, pats))

    level = [root.rstrip("/") or "/"]
    with ThreadPoolExecutor(max_workers=concurrent_scans) as pool:
        while level:
            nxt: list[str] = []
            for same, pr, ents, errs, children in pool.map(scan, level):
                if same is not None:
                    unchanged.add(same)
                if pr is not None:
                    prefix_rows.append(pr)
                    entry_rows.extend(ents)
                nxt.extend(children)
                error_rows.extend(errs)
            level = nxt

    rootdepth = root.rstrip("/").count("/")
    for r in prefix_rows:
        r["depth"] = r["path"].count("/") - rootdepth
    churn = None
    if previous is not None:
        fresh = {r["path"] for r in prefix_rows}
        added = frozenset(p for p in fresh if p not in previous)
        churn = Churn(
            added=added,
            changed=frozenset(fresh - added),
            unchanged=frozenset(unchanged),
            deleted=frozenset(set(previous) - fresh - unchanged),
        )
    return CrawlResult(prefix_rows, entry_rows, error_rows, churn)
