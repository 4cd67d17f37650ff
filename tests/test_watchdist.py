"""``watch --db --apply`` end to end on the fswatch stream path: the
feed holds exactly the churn (no row for an untouched sibling file in
a rescanned dir), the landed snapshot equals a fresh crawl across
batches, excludes and ``--stats-dir`` compose, the errors table carries
across a batch, and a watch leaves no temp state dir behind."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from types import SimpleNamespace

import pytest

from dudb_spark.cli import _watch_land, main
from dudb_spark.sources.catalog import SnapshotCatalog
from dudb_spark.sources.crawler import crawl_local
from dudb_spark.sources.fsds import _WATCH_DDL, FsWatchReader


@pytest.fixture()
def tree(tmp_path):
    root = tmp_path / "data"
    (root / "proj/a").mkdir(parents=True)
    (root / "proj/b").mkdir(parents=True)
    (root / "proj/a/x.log").write_text("hi")
    (root / "proj/a/y.txt").write_text("aa")
    (root / "proj/b/z.log").write_text("yo")
    (root / "proj/b/w.dat").write_text("untouched")
    return str(root)


def run(capsys, *argv):
    main(list(argv))
    return capsys.readouterr().out


def _mutate(tree):
    """Standard churn set: new nested subtree, new file, deleted file.
    proj/b's mtime moves with the delete, so the watch rescans it; its
    untouched sibling w.dat must not enter the feed."""
    time.sleep(1.05)  # dir-mtime granularity
    os.makedirs(f"{tree}/proj/c/deep")
    with open(f"{tree}/proj/c/new.dat", "w") as f:
        f.write("fresh")
    with open(f"{tree}/proj/c/deep/d2.dat", "w") as f:
        f.write("deeper!")
    os.unlink(f"{tree}/proj/b/z.log")


CHURN = {
    ("added", "/proj/c"), ("added", "/proj/c/deep"),
    ("added", "/proj/c/new.dat"), ("added", "/proj/c/deep/d2.dat"),
    ("changed", "/proj"), ("changed", "/proj/b"),
    ("deleted", "/proj/b/z.log"),
}


def _feed(out, tree):
    """(op, path below the tree) of every printed feed line."""
    return [
        (ln.split("\t")[1], ln.split("\t")[3].replace(tree, ""))
        for ln in out.strip().splitlines() if not ln.startswith("{")
    ]


def _reader(cat, tree, tmp_path):
    """A stream reader seeded from the stored snapshot, as ``watch
    --apply`` starts it."""
    state = tmp_path / "state"
    state.mkdir(exist_ok=True)
    return FsWatchReader({"path": tree, "seed": cat.tables().path("entries"),
                          "state_dir": str(state)})


def _batch(spark, r, off):
    rows, off = r.read(off)
    rows = list(rows)
    return rows, spark.createDataFrame(rows, _WATCH_DDL), off


def _entries(cat):
    return sorted(
        (r["path"], r["size"]) for r in cat.tables().entries.collect()
    )


def _crawled(tree):
    _, want_e, _ = crawl_local(tree)
    return sorted((e["path"], e["size"]) for e in want_e)


def test_watch_apply_end_to_end(spark, tree, tmp_path, capsys):
    """analyze → churn → one applied batch: the feed is exactly the
    churn, once per path, and the landed snapshot equals a fresh
    crawl."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    _mutate(tree)
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--state-dir", str(tmp_path / "state"), tree)
    feed = _feed(out, tree)
    assert sorted(feed) == sorted(CHURN)
    assert "/proj/b/w.dat" not in {p for _, p in feed}
    assert _entries(SnapshotCatalog(spark, db)) == _crawled(tree)


def test_watch_print_and_apply_feeds_match(spark, tree, tmp_path,
                                           capsys):
    """On identical churn, the seeded print-only feed (``--db`` without
    ``--apply``) equals the applied one: both hold exactly the churn,
    with no row for the untouched sibling."""
    db_p = str(tmp_path / "db_p")
    db_a = str(tmp_path / "db_a")
    json.loads(run(capsys, "analyze", "--db", db_p, tree))
    json.loads(run(capsys, "analyze", "--db", db_a, tree))
    _mutate(tree)
    out_p = run(capsys, "watch", "--once", "--db", db_p, tree)
    out_a = run(capsys, "watch", "--once", "--db", db_a, "--apply", tree)
    assert sorted(_feed(out_p, tree)) == sorted(CHURN)
    assert sorted(_feed(out_a, tree)) == sorted(CHURN)
    assert SnapshotCatalog(spark, db_p).versions() == ["v0001"]
    assert _entries(SnapshotCatalog(spark, db_a)) == _crawled(tree)


def test_multi_batch_same_instance(spark, tree, tmp_path, capsys):
    """One reader across batches: churn lands in batch N, batch N+1 is
    idle (offset held), a second churn is picked up, and every batch's
    lstat set tracks the dirs the snapshot holds."""
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    cat = SnapshotCatalog(spark, db)
    args = SimpleNamespace(prefix=tree)
    r = _reader(cat, tree, tmp_path)
    rows, _, off = _batch(spark, r, {"gen": 0})
    assert rows == []

    _mutate(tree)
    rows, diff, off = _batch(spark, r, off)
    assert {(t[0], t[3].replace(tree, "")) for t in rows} == CHURN
    assert _watch_land(spark, cat, args, diff, None)

    rows, _, off2 = _batch(spark, r, off)
    assert rows == [] and off2 == off  # steady again
    assert r.last_batch_stats["dir_lstats"] == 6  # root + 5 dirs

    time.sleep(1.05)
    shutil.rmtree(f"{tree}/proj/c")
    rows, diff, off = _batch(spark, r, off)
    assert {(t[0], t[3].replace(tree, "")) for t in rows} == {
        ("deleted", "/proj/c"), ("deleted", "/proj/c/deep"),
        ("deleted", "/proj/c/new.dat"),
        ("deleted", "/proj/c/deep/d2.dat"), ("changed", "/proj"),
    }
    assert _watch_land(spark, cat, args, diff, None)
    rows, _, _ = _batch(spark, r, off)
    assert rows == []
    assert r.last_batch_stats["dir_lstats"] == 4
    assert _entries(cat) == _crawled(tree)


def test_watch_batch_keeps_errors_table(spark, tree, tmp_path, capsys):
    """A watch batch records no scan errors of its own: the version it
    lands carries the previous version's errors table, so ``errors``
    still lists them."""
    from datetime import datetime

    from dudb_spark.model import ERRORS_SCHEMA

    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    cat = SnapshotCatalog(spark, db)
    t = cat.tables()
    err = (f"{tree}/proj/locked", datetime(2024, 1, 2, 3, 4, 5),
           "permission denied")
    cat.write_snapshot(t.prefixes, t.entries,
                       spark.createDataFrame([err], ERRORS_SCHEMA))
    r = _reader(cat, tree, tmp_path)
    rows, _, off = _batch(spark, r, {"gen": 0})
    assert rows == []
    _mutate(tree)
    rows, diff, _ = _batch(spark, r, off)
    assert rows
    assert _watch_land(spark, cat, SimpleNamespace(prefix=tree), diff,
                       None)
    assert cat.latest_version() == "v0003"
    capsys.readouterr()
    out = run(capsys, "errors", "--db", db, tree)
    assert out.splitlines() == [
        f"{tree}/proj/locked\t2024-01-02 03:04:05\tpermission denied"]


def test_watch_apply_respects_exclude(spark, tree, tmp_path, capsys):
    """Excluded paths in a NEW subtree never enter the feed or the
    snapshot."""
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
              "--exclude", r"\.tmp$", tree)
    assert "keep.dat" in out and "skip.tmp" not in out
    paths = {p for p, _ in _entries(SnapshotCatalog(spark, db))}
    assert f"{tree}/proj/n/keep.dat" in paths
    assert f"{tree}/proj/n/skip.tmp" not in paths


def test_watch_apply_maintains_stats(spark, tree, tmp_path, capsys):
    """--apply composes with --stats-dir: the batch lands through
    _watch_land, so the stored stats summaries refold per applied batch
    and equal a fresh full fold."""
    db = str(tmp_path / "db")
    sd = str(tmp_path / "stats")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    json.loads(run(capsys, "stats", "compute", "--db", db,
                   "--stats-dir", sd, tree))
    _mutate(tree)
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--stats-dir", sd, tree)
    stats_lines = [json.loads(ln) for ln in out.strip().splitlines()
                   if ln.startswith("{") and '"stats"' in ln]
    assert stats_lines, out
    maintained = stats_lines[-1]["totals"]
    fresh = json.loads(run(capsys, "stats", "compute", "--db", db,
                           "--stats-dir", str(tmp_path / "stats2"),
                           tree))
    assert maintained == fresh["totals"]


def test_watch_removes_its_temp_state_dir(spark, tree, tmp_path, capsys,
                                          monkeypatch):
    """Without --state-dir, watch makes its state dir itself and removes
    it when the watch ends; under --apply that dir held the seed's file
    rows."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    made = []
    real_mkdtemp = tempfile.mkdtemp

    def track(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("dudb_fswatch_"):
            made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", track)
    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, tree))
    _mutate(tree)
    out = run(capsys, "watch", "--once", "--db", db, "--apply", tree)
    assert "z.log" in out
    run(capsys, "watch", "--once", tree)
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)
    assert os.listdir(tmp) == []
