"""Filesystem-metadata crawler (the ingest source, reference S1).

Reference shape (analyze.go:104–123, 246–381): a concurrent tree walk with
``concurrent_scans`` directories in flight and ``concurrent_stats`` parallel
lstats per large directory, producing one record per directory.

Spark-native design — the crawl is *ingest*, not query, and it is I/O-bound
metadata work, so the right tool is a breadth-first **distributed listing**:

- ``crawl_distributed``: each BFS level is an RDD of directory paths;
  ``mapPartitions`` lists + lstats each directory's children on executors
  (this is where a 1000-executor cluster issues the reference's "1000s of
  simultaneous stat requests", README.md:12–14, against a parallel
  filesystem or object store).  Levels iterate to a fixpoint; each level
  repartitions so fan-out spreads across the cluster.  Rows feed the
  ``prefixes``/``entries`` writers.
- ``crawl_local``: a plain single-process scandir walk with a thread pool —
  the developer-scale path, and the row-shape oracle for tests.  Given the
  previous snapshot's directory stamps it also classifies each directory
  (J1/J2, analyze.go:226–243): an unchanged one is listed for its child
  dirs only, so only churned directories have their files stat'ed.

Both produce exactly the model.py schemas.  Exclusions (S3) and symlink
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

from dudb_spark.model import (
    ENTRIES_SCHEMA,
    ERRORS_SCHEMA,
    PREFIXES_SCHEMA,
)


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


def crawl_distributed(
    spark,
    root: str,
    exclusions: list[str] | None = None,
    fanout_partitions: int = 64,
    staging_dir: str | None = None,
):
    """BFS distributed crawl: one Spark job per tree level; directories are
    listed/stat'ed inside ``mapPartitions`` on executors.  Returns
    (prefixes_df, entries_df, errors_df) backed by staging Parquet.

    Scale contract — NOTHING row-shaped touches the driver:

    - scan results append to staging Parquet *from the executors*;
    - the next-level frontier stays an RDD (``flatMap`` of children), so a
      billion-directory tree never materializes a Python list of paths;
    - the only per-level driver value is the frontier count (the loop
      condition).

    The per-level cache is recomputation avoidance across the level's
    actions, released before the next level; the frontier is CHECKPOINTED
    to staging each level (truncating the RDD lineage — otherwise level N's
    recompute chain would re-scan levels 1..N-1 after the caches are
    dropped).
    """
    import tempfile

    from pyspark.storagelevel import StorageLevel

    excl = list(exclusions or [])
    rootdepth = root.rstrip("/").count("/")

    # Error presence and frontier size are tallied by accumulators inside
    # the scan pass — the alternatives (errs.isEmpty(), frontier.count())
    # cost two to three extra jobs per BFS level even on clean trees.
    # Task retries can over-count an accumulator, but only the
    # zero/nonzero signal gates behavior, which retries preserve (the
    # child tally additionally sizes the next level's partitioning, where
    # rare over-count is harmless).
    err_acc = spark.sparkContext.accumulator(0)
    child_acc = spark.sparkContext.accumulator(0)

    def scan_partition(paths):
        pats = [re.compile(x) for x in excl]
        for p in paths:
            pr, ents, errs, children = _scan_one(p, pats)
            if pr is not None:
                pr["depth"] = pr["path"].count("/") - rootdepth
            if errs:
                err_acc.add(len(errs))
            if children:
                child_acc.add(len(children))
            yield pr, ents, errs, children

    # staging MUST be on a filesystem all executors share (HDFS/S3/NFS) in
    # cluster mode — the driver-local tempdir default only works on
    # local[N].  A unique run subdir prevents append-merging rows from a
    # previous crawl into this one.
    base = staging_dir or tempfile.mkdtemp(prefix="dudb_crawl_")
    staging = tempfile.mkdtemp(prefix="run_", dir=base)
    sc = spark.sparkContext

    level_rdd = sc.parallelize([root.rstrip("/") or "/"], 1)
    n_level = 1
    depth_i = 0
    wrote_errors = False
    while n_level:
        nparts = max(1, min(fanout_partitions, n_level))
        err_base = err_acc.value
        child_base = child_acc.value
        scanned = (
            level_rdd.repartition(nparts)
            .mapPartitions(scan_partition)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        spark.createDataFrame(
            scanned.map(lambda r: r[0]).filter(lambda p: p is not None),
            PREFIXES_SCHEMA,
        ).write.mode("append").parquet(f"{staging}/prefixes")
        spark.createDataFrame(
            scanned.flatMap(lambda r: r[1]), ENTRIES_SCHEMA
        ).write.mode("append").parquet(f"{staging}/entries")
        # the prefixes write materialized `scanned`, so the accumulators
        # already carry this level's tallies — no isEmpty()/count() jobs
        if err_acc.value > err_base:
            spark.createDataFrame(
                scanned.flatMap(lambda r: r[2]), ERRORS_SCHEMA
            ).write.mode("append").parquet(f"{staging}/errors")
            wrote_errors = True
        n_level = child_acc.value - child_base
        if n_level:
            # checkpoint the frontier: breaks the lineage chain back
            # through the (about-to-be-dropped) cache of this level's scan
            fdir = f"{staging}/frontier/L{depth_i}"
            spark.createDataFrame(
                scanned.flatMap(lambda r: r[3]).map(lambda p: (p,)),
                "path: string",
            ).write.parquet(fdir)
            level_rdd = spark.read.parquet(fdir).rdd.map(lambda r: r.path)
        scanned.unpersist()
        depth_i += 1

    prefixes = spark.read.parquet(f"{staging}/prefixes")
    entries = spark.read.parquet(f"{staging}/entries")
    errors = (
        spark.read.parquet(f"{staging}/errors")
        if wrote_errors
        else spark.createDataFrame([], ERRORS_SCHEMA)
    )
    return prefixes, entries, errors
