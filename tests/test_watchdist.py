"""Distributed watch loop (sources/watchdist.py): the fswatch dir-
signature sweep as a Spark job.  Pins (a) emission parity with the
seeded stream on identical churn, (b) the bounded-driver-work contract
(idle batch = one root lstat, zero scandirs, zero file stats, zero
sweep rows — independent of tree size), (c) subtree deletes, new
subtrees, excludes, and snapshot convergence to a fresh crawl."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest

from dudb_spark.cli import main
from dudb_spark.sources.catalog import SnapshotCatalog
from dudb_spark.sources.crawler import crawl_local
from dudb_spark.sources.watchdist import DistributedWatcher


@pytest.fixture()
def tree(tmp_path):
    root = tmp_path / "data"
    (root / "proj/a").mkdir(parents=True)
    (root / "proj/b").mkdir(parents=True)
    (root / "proj/a/x.log").write_text("hi")
    (root / "proj/a/y.txt").write_text("aa")
    (root / "proj/b/z.log").write_text("yo")
    return str(root)


def run(capsys, *argv):
    main(list(argv))
    return capsys.readouterr().out


def _mutate(tree):
    """Standard churn set: new nested subtree, new file, deleted file."""
    time.sleep(1.05)  # dir-mtime granularity
    os.makedirs(f"{tree}/proj/c/deep")
    with open(f"{tree}/proj/c/new.dat", "w") as f:
        f.write("fresh")
    with open(f"{tree}/proj/c/deep/d2.dat", "w") as f:
        f.write("deeper!")
    os.unlink(f"{tree}/proj/b/z.log")


def test_distributed_watch_end_to_end(spark, tree, tmp_path, capsys):
    """analyze → churn → one distributed batch: emissions are exactly
    the churn, the landed snapshot equals a fresh crawl."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    _mutate(tree)
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--lstat-mode", "distributed",
              "--state-dir", str(tmp_path / "state"), tree)
    lines = [ln.split("\t") for ln in out.strip().splitlines()
             if not ln.startswith("{")]
    got = {(op, path.replace(tree, "")) for _, op, _, path in lines}
    assert got == {
        ("added", "/proj/c"), ("added", "/proj/c/deep"),
        ("added", "/proj/c/new.dat"), ("added", "/proj/c/deep/d2.dat"),
        ("changed", "/proj"), ("changed", "/proj/b"),
        ("deleted", "/proj/b/z.log"),
    }
    cat = SnapshotCatalog(spark, db)
    got_snap = sorted(
        (r["path"], r["size"]) for r in cat.tables().entries.collect()
    )
    _, want_e, _ = crawl_local(tree)
    assert got_snap == sorted((e["path"], e["size"]) for e in want_e)


def test_distributed_matches_stream_emissions(spark, tree, tmp_path,
                                              capsys):
    """The distributed batch-0 reconciliation emits the SAME (op, size,
    path) set as the seeded stream's on identical churn — the two modes
    are interchangeable."""
    db_s = str(tmp_path / "db_s")
    db_d = str(tmp_path / "db_d")
    json.loads(run(capsys, "analyze", "--db", db_s, tree))
    json.loads(run(capsys, "analyze", "--db", db_d, tree))
    _mutate(tree)
    out_s = run(capsys, "watch", "--once", "--db", db_s, "--apply", tree)
    out_d = run(capsys, "watch", "--once", "--db", db_d, "--apply",
                "--lstat-mode", "distributed",
                "--state-dir", str(tmp_path / "state"), tree)

    def feed(out):
        return sorted(
            tuple(ln.split("\t")[1:]) for ln in out.strip().splitlines()
            if not ln.startswith("{")
        )

    assert feed(out_s) == feed(out_d)
    # and both landed snapshots agree row for row
    cols = ["path", "is_dir", "size", "mode", "inode"]
    gs = sorted(tuple(r[c] for c in cols) for r in
                SnapshotCatalog(spark, db_s).tables().entries.collect())
    gd = sorted(tuple(r[c] for c in cols) for r in
                SnapshotCatalog(spark, db_d).tables().entries.collect())
    assert gs == gd


def test_idle_batch_driver_work_is_constant(spark, tree, tmp_path,
                                            capsys):
    """The bounded-work contract the mode exists for: an idle batch
    does ZERO driver filesystem work beyond the one root lstat — no
    scandirs, no file stats, no sweep rows collected — regardless of
    tree size, and writes no artifact version."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    cat = SnapshotCatalog(spark, db)
    w = DistributedWatcher(spark, cat, tree, str(tmp_path / "state"))
    rows0 = w.batch(0)  # reconciliation: no churn since analyze
    assert rows0 == []
    ver_after_0 = w._ver
    rows1 = w.batch(1)
    assert rows1 == []
    s = w.last_batch_stats
    assert s["driver_lstats"] == 1
    assert s["dirs_listed"] == 0
    assert s["files_statted"] == 0
    assert s["sweep_rows"] == 0
    assert s["dirs_swept"] == 3  # proj, proj/a, proj/b
    assert w._ver == ver_after_0  # idle batch: artifact untouched


def test_multi_batch_same_instance(spark, tree, tmp_path, capsys):
    """Artifact advances across batches within one run: churn lands in
    batch N, batch N+1 is idle again, a second churn is picked up."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    from types import SimpleNamespace

    from dudb_spark.cli import _watch_land

    cat = SnapshotCatalog(spark, db)
    args = SimpleNamespace(prefix=tree)
    w = DistributedWatcher(spark, cat, tree, str(tmp_path / "state"))
    assert w.batch(0) == []

    _mutate(tree)
    rows = w.batch(1)
    ops = {(t[0], t[3].replace(tree, "")) for t in rows}
    assert ("added", "/proj/c/deep/d2.dat") in ops
    assert ("deleted", "/proj/b/z.log") in ops
    _watch_land(spark, cat, args, w.diff_frame(rows), None)

    assert w.batch(2) == []  # steady again
    assert w.last_batch_stats["dirs_swept"] == 5  # + proj/c, proj/c/deep

    time.sleep(1.05)
    shutil.rmtree(f"{tree}/proj/c")
    rows = w.batch(3)
    ops = {(t[0], t[3].replace(tree, "")) for t in rows}
    assert {("deleted", "/proj/c"), ("deleted", "/proj/c/deep"),
            ("deleted", "/proj/c/new.dat"),
            ("deleted", "/proj/c/deep/d2.dat"),
            ("changed", "/proj")} <= ops
    _watch_land(spark, cat, args, w.diff_frame(rows), None)
    assert w.batch(4) == []
    assert w.last_batch_stats["dirs_swept"] == 3

    got = sorted((r["path"], r["size"])
                 for r in cat.tables().entries.collect())
    _, want_e, _ = crawl_local(tree)
    assert got == sorted((e["path"], e["size"]) for e in want_e)


def test_watch_batch_keeps_errors_table(spark, tree, tmp_path, capsys):
    """A watch batch records no scan errors of its own: the version it
    lands carries the previous version's errors table, so ``errors``
    still lists them."""
    from datetime import datetime
    from types import SimpleNamespace

    from dudb_spark.cli import _watch_land
    from dudb_spark.model import ERRORS_SCHEMA

    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    cat = SnapshotCatalog(spark, db)
    t = cat.tables()
    err = (f"{tree}/proj/locked", datetime(2024, 1, 2, 3, 4, 5),
           "permission denied")
    cat.write_snapshot(t.prefixes, t.entries,
                       spark.createDataFrame([err], ERRORS_SCHEMA))
    w = DistributedWatcher(spark, cat, tree, str(tmp_path / "state"))
    assert w.batch(0) == []
    _mutate(tree)
    rows = w.batch(1)
    assert _watch_land(spark, cat, SimpleNamespace(prefix=tree),
                       w.diff_frame(rows), None)
    assert cat.latest_version() == "v0003"
    capsys.readouterr()
    out = run(capsys, "errors", "--db", db, tree)
    assert out.splitlines() == [
        f"{tree}/proj/locked\t2024-01-02 03:04:05\tpermission denied"]


def test_distributed_requires_db_apply(tree, tmp_path):
    with pytest.raises(SystemExit, match="requires --db --apply"):
        main(["watch", "--once", "--lstat-mode", "distributed", tree])
    with pytest.raises(SystemExit, match="requires --db --apply"):
        main(["watch", "--once", "--db", str(tmp_path / "nodb"),
              "--lstat-mode", "distributed", tree])


def test_distributed_respects_exclude(spark, tree, tmp_path, capsys):
    """Excluded paths in a NEW subtree never enter the feed or the
    snapshot (the sweep side needs no filter: the artifact only ever
    holds included dirs)."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree,
                   "--exclude", r"\.tmp$"))
    time.sleep(1.05)
    os.makedirs(f"{tree}/proj/n")
    with open(f"{tree}/proj/n/keep.dat", "w") as f:
        f.write("k")
    with open(f"{tree}/proj/n/skip.tmp", "w") as f:
        f.write("s")
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--lstat-mode", "distributed", "--exclude", r"\.tmp$",
              "--state-dir", str(tmp_path / "state"), tree)
    assert "keep.dat" in out and "skip.tmp" not in out


def test_distributed_watch_maintains_stats(spark, tree, tmp_path,
                                           capsys):
    """--lstat-mode distributed composes with --stats-dir: the batch
    lands through the same _watch_land, so the stored stats summaries
    fold-update per applied batch and equal a fresh full fold."""
    db = str(tmp_path / "db")
    sd = str(tmp_path / "stats")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    json.loads(run(capsys, "stats", "compute", "--db", db,
                   "--stats-dir", sd, tree))
    _mutate(tree)
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--lstat-mode", "distributed", "--stats-dir", sd,
              "--state-dir", str(tmp_path / "state"), tree)
    stats_lines = [json.loads(ln) for ln in out.strip().splitlines()
                   if ln.startswith("{") and '"stats"' in ln]
    assert stats_lines, out
    maintained = stats_lines[-1]["totals"]
    fresh = json.loads(run(capsys, "stats", "compute", "--db", db,
                           "--stats-dir", str(tmp_path / "stats2"),
                           tree))
    assert maintained == fresh["totals"]
