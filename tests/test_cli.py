"""End-to-end CLI workflow test: analyze → find → stats → reports →
errors/logs → re-analyze (incremental), mirroring a reference user's daily
loop (main.go command surface)."""

from __future__ import annotations

import json
import os

import pytest

from dudb_spark.cli import main


@pytest.fixture()
def real_tree(tmp_path):
    root = tmp_path / "data"
    (root / "proj/a").mkdir(parents=True)
    (root / "proj/b").mkdir(parents=True)
    for p, txt in [
        ("proj/a/x.log", "xx"),
        ("proj/a/y.txt", "yyy"),
        ("proj/b/z.log", "zzzz"),
    ]:
        (root / p).write_text(txt)
    return str(root)


def run(capsys, *argv):
    main(list(argv))
    return capsys.readouterr().out


def test_cli_workflow(spark, real_tree, tmp_path, capsys):
    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    reports_dir = str(tmp_path / "reports")

    # analyze (initial)
    out = json.loads(run(capsys, "analyze", "--db", db, real_tree))
    assert out["prefixes_finished"] == 4  # root, proj, a, b
    assert out["files"] == 3

    # find with an expression
    out = run(capsys, "find", "--db", db, real_tree, "re=\\.log$ && type=f")
    lines = out.strip().splitlines()
    assert sorted(os.path.basename(line) for line in lines) == ["x.log", "z.log"]

    # stats compute + view
    out = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree)
    )
    assert out["totals"]["files"] == 3
    view = run(capsys, "stats", "view", "--stats-dir", stats_dir, "-n", "3")
    assert "## totals" in view and "top 3 by bytes" in view

    # reports generate + locate
    out = json.loads(
        run(capsys, "reports", "generate", "--stats-dir", stats_dir,
            "--reports-dir", reports_dir)
    )
    assert os.path.exists(os.path.join(out["report"], "markdown/report.md"))
    loc = json.loads(run(capsys, "reports", "locate", "--reports-dir", reports_dir))
    assert loc[0]["path"] == out["report"]

    # incremental re-analyze: add one file, nothing deleted
    with open(os.path.join(real_tree, "proj/b/new.txt"), "w") as f:
        f.write("n")
    out2 = json.loads(run(capsys, "analyze", "--db", db, real_tree))
    assert out2["prefixes_deleted"] == 0
    assert out2["files"] == 4
    assert out2["parent_unchanged"] >= 1  # proj/a untouched

    # logs: two runs recorded, --last returns the newer
    logs = run(capsys, "logs", "--db", db).strip().splitlines()
    assert len(logs) == 2
    last = json.loads(run(capsys, "logs", "--db", db, "--last").strip())
    assert json.loads(logs[0])["start"] == last["start"]

    # database locate shows both versions
    dbinfo = json.loads(run(capsys, "database", "locate", "--db", db))
    assert dbinfo["versions"] == ["v0001", "v0002"]
    assert dbinfo["latest"].endswith("v0002")

    # du: recursive totals; root row covers all 4 files after the re-analyze
    du = run(capsys, "du", "--db", db, real_tree).strip().splitlines()
    by_path = {l.split("\t")[-1]: l for l in du}
    assert real_tree in by_path
    assert by_path[real_tree].endswith(f"4 files\t{real_tree}")
    assert f"{real_tree}/proj/a" in by_path
    top = run(capsys, "du", "--db", db, "--top", "1", real_tree).strip().splitlines()
    assert len(top) == 1 and top[0].endswith(real_tree)

    # database compact: results identical, files clustered by path
    before = run(capsys, "find", "--db", db, real_tree, "type=f")
    cj = json.loads(run(capsys, "database", "compact", "--db", db))
    assert cj["compacted"].endswith("v0003")
    after = run(capsys, "find", "--db", db, real_tree, "type=f")
    assert sorted(before.splitlines()) == sorted(after.splitlines())
    du_after = run(capsys, "du", "--db", db, real_tree).strip().splitlines()
    assert any(l.endswith(f"4 files\t{real_tree}") for l in du_after)

    # database prune: drops v0001, keeps the newest two incl. latest
    pj = json.loads(run(capsys, "database", "prune", "--db", db, "--keep", "2"))
    assert pj["removed"] == ["v0001"]
    dbinfo2 = json.loads(run(capsys, "database", "locate", "--db", db))
    assert dbinfo2["versions"] == ["v0002", "v0003"]
    assert dbinfo2["latest"].endswith("v0003")

    # config describes the engine surface
    conf = json.loads(run(capsys, "config", "--db", db))
    assert "identity" in conf["calculators"] and "hardlink" in conf["operands"]

    # expression-syntax prints the grammar
    syn = run(capsys, "expression-syntax")
    assert "hardlink=<path>" in syn


def test_cli_errors_inaccessible(spark, real_tree, tmp_path, capsys):
    denied = os.path.join(real_tree, "proj", "denied")
    os.mkdir(denied)
    os.chmod(denied, 0o000)
    db = str(tmp_path / "db2")
    try:
        out = json.loads(run(capsys, "analyze", "--db", db, real_tree))
        if os.geteuid() == 0:
            pytest.skip("running as root: permission errors not enforceable")
        assert out["errors"] >= 1
        errs = run(capsys, "errors", "--db", db, real_tree)
        assert "denied" in errs
    finally:
        os.chmod(denied, 0o755)


def test_env_expansion_in_paths(spark, real_tree, tmp_path, capsys, monkeypatch):
    """F3 (config.go:22–47): $VAR and ~ expand in every configured path."""
    from dudb_spark.cli import expand_path

    monkeypatch.setenv("DUDB_TEST_ROOT", str(tmp_path))
    assert expand_path("$DUDB_TEST_ROOT/db") == f"{tmp_path}/db"
    assert expand_path("${DUDB_TEST_ROOT}/db") == f"{tmp_path}/db"
    assert expand_path("~").startswith(os.path.expanduser("~"))
    # end-to-end: analyze into an env-var db location
    out = json.loads(
        run(capsys, "analyze", "--db", "$DUDB_TEST_ROOT/envdb", real_tree)
    )
    assert out["files"] > 0
    assert os.path.isdir(str(tmp_path / "envdb" / "v0001"))


def test_cli_incremental_stats_and_diff(spark, real_tree, tmp_path, capsys):
    """stats --incremental after a churned analyze refolds the latest
    snapshot (plan: refold) and equals a full compute; database diff
    names the churn."""
    import time

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    full0 = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree)
    )
    # mutate: add one file, remove one (sleep so the stats dir timestamp
    # and directory mtimes advance)
    time.sleep(1.1)
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    os.unlink(os.path.join(real_tree, "proj/b/z.log"))
    run(capsys, "analyze", "--db", db, real_tree)

    inc = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            "--incremental", real_tree)
    )
    assert _stats_meta(spark, stats_dir)["plan"] == "refold"
    assert inc["totals"]["files"] == 3
    assert inc["totals"]["bytes"] == full0["totals"]["bytes"] + 10 - 4

    # incremental result must equal a from-scratch fold
    full1 = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree)
    )
    assert full1["totals"] == inc["totals"]

    out = run(capsys, "database", "diff", "--db", db)
    lines = {tuple(l.split("\t")) for l in out.strip().splitlines()}
    assert ("file", "added", "+10",
            os.path.join(real_tree, "proj/a/new.dat")) in lines
    assert ("file", "removed", "-4",
            os.path.join(real_tree, "proj/b/z.log")) in lines


def test_cli_analyze_default_layout_is_plain(spark, real_tree, tmp_path,
                                             capsys):
    """A default analyze writes unpartitioned tables: _layout.json says
    plain, with no hlinks.parquet and no pb= bucket directories."""
    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    cat = SnapshotCatalog(spark, db)
    with open(os.path.join(cat.latest_path(), "_layout.json")) as f:
        lay = json.load(f)
    assert lay["layout"] == "plain"
    assert not os.path.exists(
        os.path.join(cat.latest_path(), "hlinks.parquet"))
    for table in ("prefixes.parquet", "entries.parquet"):
        names = os.listdir(os.path.join(cat.latest_path(), table))
        assert names and not [n for n in names if n.startswith("pb=")]


def test_cli_incremental_after_layout_change(spark, real_tree, tmp_path,
                                            capsys):
    """Upgrade path: a DB whose last snapshot is in the retired bucketed
    layout takes an analyze (classified over the bucketed version,
    landing plain), and stats --incremental over the bucketed version
    and across the two layouts equals a full compute."""
    import time

    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    _write_bucketed_version(spark, db, real_tree)
    full0 = json.loads(run(capsys, "stats", "compute", "--db", db,
                           "--stats-dir", stats_dir, real_tree))
    same = json.loads(run(capsys, "stats", "compute", "--db", db,
                          "--stats-dir", stats_dir, "--incremental",
                          real_tree))
    assert _stats_meta(spark, stats_dir)["plan"] == "refold"
    assert same["totals"] == full0["totals"]
    assert same["totals"]["files"] == 3
    time.sleep(1.1)
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    os.unlink(os.path.join(real_tree, "proj/b/z.log"))
    run(capsys, "analyze", "--db", db, real_tree)
    cat = SnapshotCatalog(spark, db)
    assert cat.layout("v0001")["layout"] == "bucketed"
    assert cat.layout("v0002")["layout"] == "plain"

    inc = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            "--incremental", real_tree)
    )
    full = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree)
    )
    assert inc["totals"] == full["totals"]
    assert inc["totals"]["files"] == 3


def test_cli_pointers_survive_a_failed_write(spark, real_tree, tmp_path,
                                             capsys, monkeypatch):
    """A write that fails after its data landed leaves every reader on
    the previous complete version: the snapshot pointer and the stats
    pointer move only as the last step."""
    import time

    from dudb_spark import cli
    from dudb_spark.sources import catalog
    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    s0 = json.loads(run(capsys, "stats", "compute", "--db", db,
                        "--stats-dir", stats_dir, real_tree))
    cat = SnapshotCatalog(spark, db)
    meta0 = cli._load_stats(spark, stats_dir).meta
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    # snapshot write: the step after the table writes, then the pointer
    # replace itself (the temp pointer is written, the rename fails)
    for target, name in ((SnapshotCatalog, "_write_layout"),
                         (catalog.os, "replace")):
        with monkeypatch.context() as m:
            m.setattr(target, name, boom)
            with pytest.raises(RuntimeError, match="injected"):
                main(["analyze", "--db", db, real_tree])
        capsys.readouterr()
        assert cat.latest_version() == "v0001"
        assert cat.tables().entries.where("not is_dir").count() == 3
        assert not [n for n in os.listdir(db) if ".tmp-" in n]

    # stats save: meta.json fails after the tables landed, then the
    # pointer move fails after meta.json landed
    time.sleep(1.1)
    for target, name in ((cli.json, "dump"), (catalog.os, "replace")):
        with monkeypatch.context() as m:
            m.setattr(target, name, boom)
            with pytest.raises(RuntimeError, match="injected"):
                main(["stats", "compute", "--db", db, "--stats-dir",
                      stats_dir, real_tree])
        capsys.readouterr()
        time.sleep(1.1)
        prev = cli._load_stats(spark, stats_dir)
        assert prev.meta == meta0
        assert prev.totals().collect()[0].asDict() == s0["totals"]


def test_cli_incremental_mode_only_change(spark, real_tree, tmp_path, capsys):
    """chmod bumps ctime, not mtime — the diff-driven touched derivation
    must still see it (snapshot_diff compares mode/uid/gid, not just
    size/mtime) so an expr that keys on mode refolds correctly."""
    import time

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
        real_tree, "type=x")
    time.sleep(1.1)
    victim = os.path.join(real_tree, "proj/a/x.log")
    os.chmod(victim, 0o755)  # now executable; size and mtime unchanged
    # chmod leaves the parent dir unchanged, and unchanged dirs reuse
    # their stored entries (J1) — bump the dir so it is rescanned and
    # the new mode lands in the snapshot
    os.utime(os.path.dirname(victim))
    run(capsys, "analyze", "--db", db, real_tree)

    out = run(capsys, "database", "diff", "--db", db)
    lines = {tuple(l.split("\t")) for l in out.strip().splitlines()}
    assert ("file", "changed", "+0", victim) in lines

    inc = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            "--incremental", real_tree, "type=x")
    )
    full = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree, "type=x")
    )
    assert inc["totals"] == full["totals"]
    assert inc["totals"]["files"] == 1


def test_cli_incremental_fallback_on_mismatch(
    spark, real_tree, tmp_path, capsys
):
    """--incremental against a stats run with different options (or one
    missing snapshot_version) must NOT stitch stale rows — it falls back
    to a full compute with a warning."""
    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
        real_tree)

    # different expression than the recorded run
    main(["stats", "compute", "--db", db, "--stats-dir", stats_dir,
          "--incremental", real_tree, "name=*.log"])
    cap = capsys.readouterr()
    assert "falling back to a full compute" in cap.err
    assert "expression" in cap.err
    inc = json.loads(cap.out)
    full = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree, "name=*.log")
    )
    assert inc["totals"] == full["totals"]

    # meta written before snapshot_version existed
    latest = open(os.path.join(stats_dir, "latest")).read().strip()
    meta_path = os.path.join(stats_dir, latest, "meta.json")
    meta = json.load(open(meta_path))
    del meta["snapshot_version"]
    json.dump(meta, open(meta_path, "w"))
    main(["stats", "compute", "--db", db, "--stats-dir", stats_dir,
          "--incremental", real_tree])
    cap = capsys.readouterr()
    assert "no snapshot_version" in cap.err
    assert json.loads(cap.out)["totals"]["files"] == 3


def test_cli_incremental_without_previous_run(spark, real_tree, tmp_path,
                                             capsys):
    """--incremental into a stats dir that holds no run yet takes the
    full-compute fallback and says why."""
    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    main(["stats", "compute", "--db", db, "--stats-dir", stats_dir,
          "--incremental", real_tree])
    cap = capsys.readouterr()
    assert "falling back to a full compute" in cap.err
    assert "no previous stats run" in cap.err
    inc = json.loads(cap.out)
    full = json.loads(
        run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
            real_tree)
    )
    assert inc["totals"] == full["totals"]
    assert inc["totals"]["files"] == 3


def test_cli_readers_without_stats_run(spark, tmp_path, capsys):
    """stats view and reports generate on a stats dir with no run exit
    with a one-line message naming the dir, not a traceback."""
    stats_dir = str(tmp_path / "stats")
    os.makedirs(stats_dir)
    for argv in (
        ["stats", "view", "--stats-dir", stats_dir],
        ["reports", "generate", "--stats-dir", stats_dir,
         "--reports-dir", str(tmp_path / "reports")],
    ):
        with pytest.raises(SystemExit) as exc:
            main(argv)
        msg = str(exc.value.code)
        assert stats_dir in msg and "\n" not in msg
    assert not os.path.exists(tmp_path / "reports" / "latest")


def _write_three_table_run(spark, run_dir, old_dir):
    """Copy one stats run into the three-table form stats dirs had before
    grains.parquet: per_prefix/per_user/per_group.parquet + meta.json."""
    import shutil

    from dudb_spark.operators.stats import StatsResult

    res = StatsResult.load(spark, run_dir)
    for grain in ("prefix", "user", "group"):
        getattr(res, f"per_{grain}").write.parquet(
            os.path.join(old_dir, f"per_{grain}.parquet"))
    shutil.copy(os.path.join(run_dir, "meta.json"), old_dir)


def _report_files(report_dir):
    """Each report file's text, markdown without its timestamp line."""
    out = {}
    for kind in ("tsv", "json"):
        d = os.path.join(report_dir, kind)
        out[kind] = "".join(
            open(os.path.join(d, n)).read()
            for n in sorted(os.listdir(d)) if n.startswith("part-")
        )
    with open(os.path.join(report_dir, "markdown", "report.md")) as f:
        out["markdown"] = "\n".join(
            l for l in f.read().splitlines()
            if not l.startswith("- generated:")
        )
    return out


def test_cli_three_table_stats_dir_still_read(spark, real_tree, tmp_path,
                                              capsys):
    """A stats run is stored as grains.parquet + meta.json.  The same run
    stored in the older three-table form gives byte-identical stats view
    and report output, and stats --incremental from it equals a full
    compute."""
    import time

    from dudb_spark.operators.stats import StatsResult

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    old_dir = str(tmp_path / "stats_old")
    run(capsys, "analyze", "--db", db, real_tree)
    out = json.loads(run(capsys, "stats", "compute", "--db", db,
                         "--stats-dir", stats_dir, real_tree))
    run_dir = out["stats"]
    assert sorted(os.listdir(run_dir)) == ["grains.parquet", "meta.json"]

    when = os.path.basename(run_dir)
    os.makedirs(os.path.join(old_dir, when))
    _write_three_table_run(spark, run_dir, os.path.join(old_dir, when))
    with open(os.path.join(old_dir, "latest"), "w") as f:
        f.write(when)

    for argv in (["-n", "3"], ["-n", "2", "--user", "--group"]):
        assert (run(capsys, "stats", "view", "--stats-dir", old_dir, *argv)
                == run(capsys, "stats", "view", "--stats-dir", stats_dir,
                       *argv))
    reports = []
    for sd in (stats_dir, old_dir):
        rep = json.loads(run(
            capsys, "reports", "generate", "--stats-dir", sd,
            "--reports-dir", sd + "_reports"))["report"]
        reports.append(_report_files(rep))
    assert reports[0] == reports[1]
    assert reports[0]["markdown"].count("|") > 20

    # incremental from the three-table run equals a full compute
    time.sleep(1.1)
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    os.unlink(os.path.join(real_tree, "proj/b/z.log"))
    run(capsys, "analyze", "--db", db, real_tree)
    main(["stats", "compute", "--db", db, "--stats-dir", old_dir,
          "--incremental", real_tree])
    cap = capsys.readouterr()
    assert "falling back" not in cap.err
    inc = json.loads(cap.out)
    full = json.loads(run(capsys, "stats", "compute", "--db", db,
                          "--stats-dir", stats_dir, real_tree))
    assert inc["totals"] == full["totals"]
    assert sorted(os.listdir(inc["stats"])) == ["grains.parquet",
                                                 "meta.json"]

    def rows(path):
        g = StatsResult.load(spark, path).grains
        return sorted(map(tuple, g.collect()), key=repr)

    assert rows(inc["stats"]) == rows(full["stats"])


def test_cli_stats_compute_job_count(spark, real_tree, tmp_path, capsys):
    """stats compute folds once.  The whole command stays within six
    Spark jobs: the fold's stages with the one grains write, whose
    totals are observed on the write itself.  Re-running the lazy fold
    per grain and for the totals took 27; reading the totals back from
    the written table took two more jobs."""
    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(st.getJobIdsForGroup(None))
    out = json.loads(run(capsys, "stats", "compute", "--db", db,
                         "--stats-dir", stats_dir, real_tree))
    bus.waitUntilEmpty()
    jobs = set(st.getJobIdsForGroup(None)) - before
    assert out["totals"]["files"] == 3
    assert 0 < len(jobs) <= 6, sorted(jobs)


def test_cli_pipeline_commands(spark, tmp_path, capsys):
    docs = "/root/testdata/sf0.001/documents.parquet"
    out = json.loads(run(capsys, "pipeline", "dedup", "--input", docs,
                         "--method", "exact"))
    assert out["method"] == "exact" and out["rows"] > 0

    split_out = str(tmp_path / "split")
    out = json.loads(run(capsys, "pipeline", "split", "--input", docs,
                         "--weights", "train=0.8,val=0.1,test=0.1",
                         "--salt", "3", "--out", split_out))
    assert sum(out["splits"].values()) == spark.read.parquet(docs).count()
    assert set(out["splits"]) <= {"train", "val", "test"}

    rep = run(capsys, "pipeline", "report", "--input", docs)
    header, *rows = rep.strip().splitlines()
    assert header.startswith("source\tlang")
    assert len(rows) > 3

    out = json.loads(run(capsys, "pipeline", "embed", "--input", docs,
                         "--dim", "8"))
    assert out["n_docs"] == 500 and out["dim"] == 8

    li = "/root/testdata/sf0.001/lineitem.parquet"
    skew = run(capsys, "pipeline", "skew", "--input", li,
               "--key", "l_returnflag", "--top", "2").strip().splitlines()
    assert skew[0].startswith("l_returnflag\tn_rows") and len(skew) == 3

    qs = run(capsys, "pipeline", "quantiles", "--input", li,
             "--group", "l_returnflag", "--value", "l_extendedprice",
             "--ps", "0.5").strip().splitlines()
    assert qs[0] == "l_returnflag\tn_rows\tq50" and len(qs) == 4

    out = json.loads(run(capsys, "pipeline", "spandedup", "--input", docs,
                         "--n", "8"))
    assert out["n_docs"] == 500
    assert 0 < out["tokens_removed"] < out["tokens_in"]
    assert 0 < out["docs_touched"] < 500

    out = json.loads(run(capsys, "pipeline", "quality", "--input", docs))
    assert out["n_docs"] == 500
    assert 0 < out["passes"] <= out["ok_words"]

    ret = run(capsys, "pipeline", "retrieve", "--input", docs,
              "--k", "3", "table scan fast").strip().splitlines()
    assert ret[0] == "query_id\trank\tdoc_id\tscore" and len(ret) == 4

    out = json.loads(run(capsys, "pipeline", "excise", "--input", docs,
                         "--reference", docs, "--n", "8"))
    # reference == corpus: every >=8-token doc is fully self-covered
    assert out["n_docs"] == 500
    assert out["tokens_removed"] > out["tokens_in"] // 2

    chk = run(capsys, "pipeline", "check", "--input", li,
              "--complete", "l_returnflag",
              "--bounds", "l_discount:0:0.1").strip().splitlines()
    assert chk[0] == "check\tmetric\tpassed"
    assert all(line.endswith("True") for line in chk[1:])

    edges = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["id_a", "id_b"]
    ).write.parquet(edges)
    pr = run(capsys, "pipeline", "pagerank", "--input", edges,
             "--iters", "3", "--top", "4").strip().splitlines()
    assert pr[0] == "id\tscore" and len(pr) == 5
    scores = {int(l.split("\t")[0]): float(l.split("\t")[1]) for l in pr[1:]}
    # node 3 has the highest degree -> highest centrality
    assert max(scores, key=scores.get) == 3

    voc = run(capsys, "pipeline", "vocab", "--input", docs,
              "--group", "lang", "--top-v", "50").strip().splitlines()
    assert voc[0] == "lang\tn_tokens\tn_oov\toov_rate" and len(voc) > 2
    for line in voc[1:]:
        _, n_tok, n_oov, rate = line.split("\t")
        assert 0 <= float(rate) <= 1 and int(n_oov) <= int(n_tok)

    chunk_out = str(tmp_path / "chunks")
    out = json.loads(run(capsys, "pipeline", "chunk", "--input", docs,
                         "--size", "32", "--stride", "16",
                         "--out", chunk_out))
    assert out["n_docs"] > 0 and out["n_chunks"] >= out["n_docs"]
    chunks = spark.read.parquet(chunk_out)
    assert set(chunks.columns) == {
        "doc_id", "win_id", "start_tok", "n_tokens", "chunk_text"
    }

    ov = run(capsys, "pipeline", "overlap", "--input", docs,
             "--n", "8").strip().splitlines()
    assert len(ov) > 1  # header + at least one source pair
    assert "jaccard" in ov[0]

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    ol = run(capsys, "pipeline", "outliers", "--input", emb,
             "--k", "2").strip().splitlines()
    assert ol[0] == "label\tvec_id\tcos_centroid\trank"
    ranks = [int(l.split("\t")[3]) for l in ol[1:]]
    assert ranks and max(ranks) <= 2

    bpe = run(capsys, "pipeline", "bpe", "--input", docs,
              "--rounds", "3").strip().splitlines()
    assert bpe[0] == "merge_round\tlhs\trhs\tmerged\tpair_count"
    assert len(bpe) == 4
    r0 = bpe[1].split("\t")
    assert r0[3] == r0[1] + r0[2]  # merged symbol is the concatenation

    with pytest.raises(SystemExit) as e:
        run(capsys, "pipeline", "check", "--input", li,
            "--unique", "l_orderkey")  # order keys repeat across lines
    assert e.value.code == 2


def test_cli_compact_rewrites_bucketed_plain(spark, real_tree, tmp_path,
                                            capsys):
    """database compact over a version in the retired bucketed layout
    writes a plain version: no pb= directories, no hlinks.parquet, a
    plain _layout.json with the tree size, and the same find rows and
    scan errors."""
    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    _write_bucketed_version(spark, db, real_tree)
    cat = SnapshotCatalog(spark, db)
    before = run(capsys, "find", "--db", db, real_tree, "type=f")

    out = json.loads(run(capsys, "database", "compact", "--db", db))
    assert out["compacted"] == cat.latest_path()
    assert cat.layout() == {"layout": "plain"}
    assert not os.path.exists(os.path.join(out["compacted"],
                                           "hlinks.parquet"))
    for table in ("prefixes.parquet", "entries.parquet"):
        names = os.listdir(os.path.join(out["compacted"], table))
        assert names and not [n for n in names if n.startswith("pb=")]
    assert cat.tables().errors.count() == 0
    after = run(capsys, "find", "--db", db, real_tree, "type=f")
    assert sorted(before.splitlines()) == sorted(after.splitlines())
    assert len(after.splitlines()) == 3


def test_cli_find_live(spark, real_tree, capsys):
    """find --live: the fswalk DataSource + expression language over the
    live tree, no database involved."""
    out = run(capsys, "find", "--live", real_tree, "re=\\.log$ && type=f")
    assert sorted(os.path.basename(l) for l in out.strip().splitlines()) == [
        "x.log", "z.log"
    ]
    # dir-granularity predicates work too (prefixes synthesized live)
    out2 = run(capsys, "find", "--live", real_tree, "type=d")
    assert any(l.rstrip("/").endswith("proj/a") for l in out2.splitlines())
    with pytest.raises(SystemExit, match="--db is required"):
        run(capsys, "find", real_tree, "type=f")


def test_cli_du_live(spark, real_tree, capsys):
    """du --live: subtree totals straight off the live tree."""
    du = run(capsys, "du", "--live", real_tree).strip().splitlines()
    by_path = {l.split("\t")[-1]: l for l in du}
    assert by_path[real_tree].endswith(f"3 files\t{real_tree}")
    assert f"{real_tree}/proj/a" in by_path
    top = run(capsys, "du", "--live", "--top", "1",
              real_tree).strip().splitlines()
    assert len(top) == 1 and top[0].endswith(real_tree)
    with pytest.raises(SystemExit, match="--db is required"):
        run(capsys, "du", real_tree)


def test_expand_path_col_matches_python(spark, monkeypatch):
    """F3 column twin (functions/config.expand_path_col): agreement with
    the driver-side expand_path over the documented envelope — braced
    ${VAR} refs with $-free values, leading ~ — plus unknown-var and
    no-op cases.  q130 oracle-certifies the identical computation in
    DuckDB SQL."""
    import random

    from pyspark.sql import functions as F

    from dudb_spark.cli import expand_path
    from dudb_spark.functions.config import expand_path_col

    env = {"DATA": "/mnt/data", "HOME_DIR": "~/nested", "N": "42"}
    home = "/home/alice"
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setenv("HOME", home)

    rng = random.Random(31)
    pieces = ["${DATA}", "${N}", "${HOME_DIR}", "${UNSET_XYZ}", "/logs",
              "/a b", "x", ""]
    temps = ["~", "~/", "~/x/${DATA}", "${HOME_DIR}/y"]
    for _ in range(40):
        temps.append("".join(rng.choice(pieces)
                             for _ in range(rng.randint(1, 4))))
    want = [expand_path(t) for t in temps]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(temps)], ["i", "t"]
    )
    got = [
        r.e
        for r in df.select(
            "i", expand_path_col(F.col("t"), env, home).alias("e")
        ).orderBy("i").collect()
    ]
    assert got == want


def _spark_jobs(spark, fn):
    """Run ``fn`` and return the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(st.getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return set(st.getJobIdsForGroup(None)) - before


def test_cli_reports_generate_job_count(spark, real_tree, tmp_path, capsys):
    """reports generate renders TSV, JSON and Markdown from one collect:
    at most three Spark jobs (the ranking's and the owner sums' shuffle
    map stages, then the result).  The Spark-writer sinks ran 10."""
    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
        real_tree)
    out = {}
    jobs = _spark_jobs(spark, lambda: out.update(json.loads(run(
        capsys, "reports", "generate", "--stats-dir", stats_dir,
        "--reports-dir", str(tmp_path / "reports")))))
    assert 0 < len(jobs) <= 3, sorted(jobs)
    for fmt, suffix in (("tsv", ".csv"), ("json", ".json")):
        assert [f for f in os.listdir(os.path.join(out["report"], fmt))
                if f.endswith(suffix)]


@pytest.fixture
def fixture_stats_dir(spark, fs_dir, tmp_path):
    """A stats dir holding one run over the synthetic fixture tree."""
    from dudb_spark.model import FsTables
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    t = FsTables(spark, fs_dir)
    res = compute_stats(t.prefixes, t.entries, StatsOptions(root="/tree"))
    stats_dir = tmp_path / "stats"
    res.save(str(stats_dir / "r1"))
    (stats_dir / "r1" / "meta.json").write_text(
        json.dumps(dict(res.meta, prefix="/tree")))
    (stats_dir / "latest").write_text("r1")
    return str(stats_dir)


def test_cli_stats_view_output_pinned(fixture_stats_dir, capsys):
    """stats view prints exactly what it printed when its totals and
    global rankings were four separate collects, per-id scopes included."""
    tot = ('{"files": 9, "prefixes": 7, "sub_prefixes": 6, "bytes": 463, '
           '"storage_bytes": 463, "prefix_bytes": 384, "hardlinks": 1, '
           '"hardlink_dirs": 1}')
    head = ("# stats for '/tree' expr=''\n## totals\n" + tot + "\n"
            "bytes: 463 B\nstorage_bytes: 463 B\nprefix_bytes: 384 B\n")
    assert run(capsys, "stats", "view", "--stats-dir", fixture_stats_dir,
               "-n", "3") == head + """\
## top 3 by bytes
{"prefix": "/tree/d0-0", "bytes": 110}
{"prefix": "/tree", "bytes": 97}
{"prefix": "/tree/d0-0/d1-0", "bytes": 64}
## top 3 by storage_bytes
{"prefix": "/tree/d0-0", "storage_bytes": 110}
{"prefix": "/tree", "storage_bytes": 97}
{"prefix": "/tree/d0-0/d1-0", "storage_bytes": 64}
## top 3 by files
{"prefix": "/tree/d0-0", "files": 5}
{"prefix": "/tree", "files": 4}
{"prefix": "/tree/d0-0/d1-0", "files": 0}
"""
    assert run(capsys, "stats", "view", "--stats-dir", fixture_stats_dir,
               "-n", "2", "--user", "--group", "--units", "binary"
               ) == head + """\
## top 2 by bytes per user
{"id": 100, "prefix": "/tree/d0-0", "bytes": 108, "rank": 1}
{"id": 100, "prefix": "/tree", "bytes": 97, "rank": 2}
{"id": 101, "prefix": "/tree/d0-0", "bytes": 2, "rank": 1}
## top 2 by storage_bytes per user
{"id": 100, "prefix": "/tree/d0-0", "storage_bytes": 108, "rank": 1}
{"id": 100, "prefix": "/tree", "storage_bytes": 97, "rank": 2}
{"id": 101, "prefix": "/tree/d0-0", "storage_bytes": 2, "rank": 1}
## top 2 by files per user
{"id": 100, "prefix": "/tree", "files": 4, "rank": 1}
{"id": 100, "prefix": "/tree/d0-0", "files": 4, "rank": 2}
{"id": 101, "prefix": "/tree/d0-0", "files": 1, "rank": 1}
## top 2 by bytes per group
{"id": 2, "prefix": "/tree/d0-0", "bytes": 110, "rank": 1}
{"id": 2, "prefix": "/tree", "bytes": 97, "rank": 2}
## top 2 by storage_bytes per group
{"id": 2, "prefix": "/tree/d0-0", "storage_bytes": 110, "rank": 1}
{"id": 2, "prefix": "/tree", "storage_bytes": 97, "rank": 2}
## top 2 by files per group
{"id": 2, "prefix": "/tree/d0-0", "files": 5, "rank": 1}
{"id": 2, "prefix": "/tree", "files": 4, "rank": 2}
"""


def test_cli_stats_view_scopes_follow_flags(fixture_stats_dir, capsys):
    """--user prints the per-user tables only, and --group the per-group
    tables only."""
    view = ("stats", "view", "--stats-dir", fixture_stats_dir, "-n", "2")
    user = run(capsys, *view, "--user")
    group = run(capsys, *view, "--group")
    assert "## top 2 by bytes per user" in user
    assert "per group" not in user
    assert "## top 2 by bytes per group" in group
    assert "per user" not in group


def test_cli_logs_print_summary_as_object(spark, real_tree, tmp_path,
                                          capsys):
    """logs prints each run's summary as a JSON object keyed by counter
    name, not as a bare list of values."""
    from dudb_spark.model import SCAN_SUMMARY_SCHEMA

    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    (row,) = [json.loads(x) for x in
              run(capsys, "logs", "--db", db).strip().splitlines()]
    summary = row["summary"]
    assert isinstance(summary, dict)
    assert list(summary) == SCAN_SUMMARY_SCHEMA.fieldNames()
    assert summary["files"] == 3


def _churned_db(capsys, real_tree, tmp_path):
    """analyze → stats compute → add one file → analyze: the DB and
    stats dir a ``stats --incremental`` run starts from."""
    import time

    db = str(tmp_path / "db")
    stats_dir = str(tmp_path / "stats")
    run(capsys, "analyze", "--db", db, real_tree)
    run(capsys, "stats", "compute", "--db", db, "--stats-dir", stats_dir,
        real_tree)
    time.sleep(1.1)
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    run(capsys, "analyze", "--db", db, real_tree)
    return db, stats_dir


def _stats_meta(spark, stats_dir):
    from dudb_spark.cli import _load_stats

    return _load_stats(spark, stats_dir).meta


def test_cli_incremental_plain_refolds_without_diff(
    spark, real_tree, tmp_path, capsys, monkeypatch
):
    """stats --incremental refolds the latest snapshot and never runs
    the snapshot diff: meta.json records plan refold and no gate, and
    nothing is printed to stderr."""
    from dudb_spark.operators import ingest

    db, stats_dir = _churned_db(capsys, real_tree, tmp_path)

    def no_diff(*a, **k):
        raise AssertionError("snapshot_diff ran on the refold path")

    monkeypatch.setattr(ingest, "snapshot_diff", no_diff)
    # the second run starts from the first one's snapshot: no churn
    for _ in range(2):
        main(["stats", "compute", "--db", db, "--stats-dir", stats_dir,
              "--incremental", real_tree])
        cap = capsys.readouterr()
        assert cap.err == ""
        inc = json.loads(cap.out)
        meta = _stats_meta(spark, stats_dir)
        assert meta["plan"] == "refold" and "gate" not in meta
    full = json.loads(run(capsys, "stats", "compute", "--db", db,
                          "--stats-dir", stats_dir, real_tree))
    assert inc["totals"] == full["totals"]
    assert full["totals"]["files"] == 4
    assert _stats_meta(spark, stats_dir)["plan"] == "full"


def test_cli_incremental_refold_job_count(spark, real_tree, tmp_path,
                                          capsys):
    """stats --incremental is one fold plus the write, within the six
    jobs of a full stats compute (test_cli_stats_compute_job_count): no
    diff and no schema-inference job for the previous stats run or the
    snapshot.  The retired closure path took about 30 more jobs."""
    db, stats_dir = _churned_db(capsys, real_tree, tmp_path)
    out = {}

    def inc():
        out.update(json.loads(run(
            capsys, "stats", "compute", "--db", db, "--stats-dir",
            stats_dir, "--incremental", real_tree)))

    jobs = _spark_jobs(spark, inc)
    assert out["totals"]["files"] == 4
    assert 0 < len(jobs) <= 6, sorted(jobs)


def test_cli_find_same_rows_on_both_layouts(spark, real_tree, tmp_path,
                                            capsys):
    """Snapshot tables are read with the model schema: opening them runs
    no Spark job, a version in the retired bucketed layout hides its pb
    partition column, and find returns the same rows on either layout."""
    from dudb_spark.model import ENTRIES_SCHEMA, PREFIXES_SCHEMA
    from dudb_spark.sources.catalog import SnapshotCatalog

    run(capsys, "analyze", "--db", str(tmp_path / "plain"), real_tree)
    _write_bucketed_version(spark, str(tmp_path / "bucketed"), real_tree)
    got = {}
    for name in ("plain", "bucketed"):
        db = str(tmp_path / name)
        cat = SnapshotCatalog(spark, db)
        cols = {}

        def open_tables():
            t = cat.tables()
            cols.update(p=t.prefixes.columns, e=t.entries.columns,
                        err=t.errors.columns)

        assert not _spark_jobs(spark, open_tables)
        assert cols["p"] == PREFIXES_SCHEMA.fieldNames()
        assert cols["e"] == ENTRIES_SCHEMA.fieldNames()
        assert cols["err"] == ["path", "at", "detail"]
        got[name] = sorted(run(capsys, "find", "--db", db, "--l",
                               real_tree, "re=\\.log$ || type=d"
                               ).splitlines())
    assert len(got["plain"]) == 6
    assert got["plain"] == got["bucketed"]


def _write_bucketed_version(spark, db, tree, buckets=4):
    """Lay out the next version of ``db`` over ``tree`` the way the
    retired bucketed writer did, so tests can check that old DBs stay
    readable: ``prefixes``/``entries`` partitioned by
    ``pb = pmod(xxhash64(path | parent), buckets)``, the hardlink spill
    index ``hlinks.parquet``, a bucketed ``_layout.json`` and the
    ``latest`` pointer."""
    from pyspark.sql import functions as F

    from dudb_spark.model import ENTRIES_SCHEMA, ERRORS_SCHEMA, PREFIXES_SCHEMA
    from dudb_spark.sources.catalog import SnapshotCatalog, write_pointer
    from dudb_spark.sources.crawler import crawl_local

    cat = SnapshotCatalog(spark, db)
    v = cat.next_version()
    out = os.path.join(db, v)
    prows, erows, _ = crawl_local(tree)
    for rows, schema, probe, table in (
        (prows, PREFIXES_SCHEMA, "path", "prefixes"),
        (erows, ENTRIES_SCHEMA, "parent", "entries"),
    ):
        pb = F.pmod(F.xxhash64(probe), F.lit(buckets)).cast("int")
        (spark.createDataFrame(rows, schema).withColumn("pb", pb)
         .repartition(buckets, "pb")
         .write.partitionBy("pb").parquet(f"{out}/{table}.parquet"))
    spark.createDataFrame([], ERRORS_SCHEMA).write.parquet(
        f"{out}/errors.parquet")
    # spill index: (device, inode, pb) of every key spread over two or
    # more buckets or held by two or more directory records
    members = spark.read.parquet(f"{out}/prefixes.parquet").select(
        "device", "inode", "pb", F.lit(1).alias("rec")
    ).unionByName(spark.read.parquet(f"{out}/entries.parquet").select(
        "device", "inode", "pb", F.lit(0).alias("rec")))
    keys = (
        members.groupBy("device", "inode")
        .agg(F.count_distinct("pb").alias("npb"), F.sum("rec").alias("rc"))
        .where("npb > 1 OR rc >= 2")
        .select("device", "inode", (F.col("rc") >= 2).alias("rec"))
    )
    (members.select("device", "inode", "pb").join(keys, ["device", "inode"])
     .distinct().write.parquet(f"{out}/hlinks.parquet"))
    with open(os.path.join(out, "_layout.json"), "w") as f:
        json.dump({"layout": "bucketed", "path_buckets": buckets,
                   "prefix_rows": len(prows)}, f)
    write_pointer(os.path.join(db, "latest"), v)
    return out


def _snapshot_rows(spark, db):
    from dudb_spark.sources.catalog import SnapshotCatalog

    t = SnapshotCatalog(spark, db).tables()
    return {name: sorted(tuple(r) for r in getattr(t, name).collect())
            for name in ("prefixes", "entries", "errors")}


def _churn_tree(root):
    """Add, delete and grow files, add a leaf dir, drop a dir."""
    import shutil

    with open(os.path.join(root, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    with open(os.path.join(root, "proj/a/x.log"), "a") as f:
        f.write("more")
    os.remove(os.path.join(root, "proj/a/y.txt"))
    os.mkdir(os.path.join(root, "proj/c"))
    shutil.rmtree(os.path.join(root, "proj/b"))
    with open(os.path.join(root, "top.txt"), "w") as f:
        f.write("outside proj")


@pytest.mark.parametrize("case", ["root", "subtree", "bucketed", "force"])
def test_cli_analyze_classified_equals_join(spark, real_tree, tmp_path,
                                            capsys, monkeypatch, case):
    """An incremental analyze whose crawl classified the dirs lands the
    same rows and prints the same counters as one that leaves the
    classification to the merge's join: over the whole tree, over a
    subtree (whose out-of-root rows pass through unchanged), over a
    previous snapshot in the retired bucketed layout, and under
    ``--force`` (against the join's ``merge_scan(force=True)``)."""
    import shutil

    from dudb_spark.operators import ingest
    from dudb_spark.sources.catalog import SnapshotCatalog

    prefix = os.path.join(real_tree, "proj") if case == "subtree" else real_tree
    db, join_db = str(tmp_path / "db"), str(tmp_path / "join_db")
    if case == "bucketed":
        _write_bucketed_version(spark, db, real_tree)
    else:
        run(capsys, "analyze", "--db", db, real_tree)
    before = _snapshot_rows(spark, db)
    shutil.copytree(db, join_db)
    _churn_tree(real_tree)

    force = ["--force"] if case == "force" else []
    merges = []
    _spy(monkeypatch, "dudb_spark.operators.ingest", "merge_scan", merges)

    def analyze(d):
        out = json.loads(run(capsys, "analyze", "--db", d, *force, prefix))
        out.pop("snapshot"), out.pop("duration_ns")
        return out

    got = analyze(db)
    assert merges[-1][0]["churn"] is not None
    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "dir_stamps", lambda *a: None)
        if force:
            # analyze passes no force: its --force crawl classifies every
            # dir as changed.  The join re-stats them only when told to.
            spy = ingest.merge_scan
            m.setattr(ingest, "merge_scan",
                      lambda *a, **k: spy(*a, force=True, **k))
        want = analyze(join_db)
    assert merges[-1][0]["churn"] is None
    assert merges[-1][0].get("force", False) == bool(force)
    assert got == want
    assert got["prefixes_added"] == 1 and got["prefixes_deleted"] == 1
    if force:
        assert got["parent_unchanged"] == 0
    rows = _snapshot_rows(spark, db)
    assert rows == _snapshot_rows(spark, join_db)
    if case == "subtree":
        outside = [r for r in rows["entries"]
                   if not r[0].startswith(prefix)]
        assert outside == [r for r in before["entries"]
                           if not r[0].startswith(prefix)]
        assert not any(r[2].endswith("/top.txt") for r in rows["entries"])


def _spy(monkeypatch, module, name, seen):
    import importlib

    mod = importlib.import_module(module)
    orig = getattr(mod, name)

    def spy(*a, **k):
        out = orig(*a, **k)
        seen.append((k, out))
        return out

    monkeypatch.setattr(mod, name, spy)


def test_cli_analyze_join_routes(spark, real_tree, tmp_path, capsys,
                                 monkeypatch):
    """Every ``analyze`` classifies the dirs in its crawl and lands
    through the churn merge, never the merge's join: an incremental run
    stats only the churned dir's files, ``--force`` matches no stamp and
    stats every file, and a deletion is found by the crawl too."""
    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    merges, crawls = [], []
    _spy(monkeypatch, "dudb_spark.operators.ingest", "merge_scan", merges)
    _spy(monkeypatch, "dudb_spark.sources.crawler", "crawl_local", crawls)

    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    out = json.loads(run(capsys, "analyze", "--db", db, real_tree))
    assert merges[-1][0]["churn"] is not None
    assert len(crawls[-1][1][1]) == 3  # proj/a's entries only
    assert out["files"] == 4

    out = json.loads(run(capsys, "analyze", "--db", db, "--force",
                         real_tree))
    assert merges[-1][0]["churn"] is not None
    assert len(crawls[-1][1][1]) == 7  # every entry of the tree
    assert not crawls[-1][1].churn.unchanged
    assert out["files"] == 4 and out["parent_unchanged"] == 0

    os.remove(os.path.join(real_tree, "proj/b/z.log"))
    out = json.loads(run(capsys, "analyze", "--db", db, real_tree))
    assert merges[-1][0]["churn"] is not None
    assert out["files"] == 3 and out["prefixes_changed"] == 1


def test_cli_analyze_distributed_is_retired(real_tree, tmp_path, capsys):
    """``analyze`` has one crawler: ``--distributed`` is a usage error
    (argparse's exit 2, naming the option) and writes no version."""
    db = str(tmp_path / "db")
    with pytest.raises(SystemExit) as e:
        main(["analyze", "--db", db, real_tree, "--distributed"])
    assert e.value.code == 2
    assert "--distributed" in capsys.readouterr().err
    assert not os.path.exists(db)


def test_cli_retired_delta_version_exits_with_one_line(spark, real_tree,
                                                      tmp_path, capsys):
    """A version in the retired delta-chain layout (``_delta.json``, as
    old ``watch --apply`` batches landed) is not read: ``find`` and
    ``analyze`` exit with one line naming the version and the recovery,
    and ``analyze`` writes nothing."""
    from dudb_spark.sources.catalog import write_pointer

    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    old = os.path.join(db, "v0002")
    os.makedirs(os.path.join(old, "delta.parquet"))
    with open(os.path.join(old, "_delta.json"), "w") as f:
        json.dump({"parent": "v0001", "root": real_tree,
                   "prefix_rows": 3}, f)
    write_pointer(os.path.join(db, "latest"), "v0002")
    for argv in (["find", "--db", db, real_tree],
                 ["analyze", "--db", db, real_tree]):
        with pytest.raises(SystemExit) as e:
            main(argv)
        msg = e.value.code
        assert isinstance(msg, str) and "\n" not in msg, msg
        assert old in msg and "retired delta-chain layout" in msg
        assert "`analyze` into a fresh --db" in msg
    assert sorted(d for d in os.listdir(db) if d.startswith("v")) == [
        "v0001", "v0002"]


def test_cli_analyze_incremental_job_count(spark, real_tree, tmp_path,
                                           capsys):
    """An incremental analyze lands in three Spark jobs, one write per
    table: no classification join, cache or counter job, and the scan
    log row is written without Spark."""
    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    _churn_tree(real_tree)
    jobs = _spark_jobs(spark, lambda: run(capsys, "analyze", "--db", db,
                                          real_tree))
    assert 0 < len(jobs) <= 3, sorted(jobs)


def test_cli_analyze_file_count_bounded(spark, real_tree, tmp_path, capsys):
    """Incremental analyzes union the previous scan with fresh rows; each
    table keeps the previous version's file count instead of gaining a
    file per core every night."""
    db = str(tmp_path / "db")

    def files(table):
        v = sorted(d for d in os.listdir(db) if d.startswith("v"))[-1]
        return sum(1 for _, _, fs in os.walk(os.path.join(db, v, table))
                   for f in fs if f.endswith(".parquet"))

    counts = []
    for i in range(4):  # the first snapshot, then three incremental runs
        with open(os.path.join(real_tree, f"proj/a/n{i}.dat"), "w") as f:
            f.write("x" * i)
        run(capsys, "analyze", "--db", db, real_tree)
        counts.append((files("prefixes.parquet"), files("entries.parquet")))
    first, *incremental = counts
    assert incremental == [incremental[0]] * 3, counts
    assert all(n <= m for n, m in zip(incremental[0], first)), counts


def test_cli_logs_read_spark_and_arrow_rows(spark, real_tree, tmp_path,
                                            capsys):
    """Scan-log rows are appended with pyarrow; a log dir whose older rows
    Spark wrote (INT96 timestamps) reads back as one table with the same
    ``logs`` output, ``--last`` included."""
    import glob

    import pyarrow.parquet as pq

    from dudb_spark.model import SCAN_LOGS_SCHEMA

    db = str(tmp_path / "db")
    run(capsys, "analyze", "--db", db, real_tree)
    with open(os.path.join(real_tree, "proj/a/new.dat"), "w") as f:
        f.write("0123456789")
    run(capsys, "analyze", "--db", db, real_tree)
    want = run(capsys, "logs", "--db", db)
    want_last = run(capsys, "logs", "--db", db, "--last")
    logdir = os.path.join(db, "scan_logs.parquet")
    first = sorted(glob.glob(os.path.join(logdir, "part-*.parquet")),
                   key=os.path.getmtime)[0]
    rows = spark.read.schema(SCAN_LOGS_SCHEMA).parquet(first).collect()
    os.remove(first)
    spark.createDataFrame(rows, SCAN_LOGS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(logdir)
    kinds = {pq.ParquetFile(f).schema.column(0).physical_type
             for f in glob.glob(os.path.join(logdir, "part-*.parquet"))}
    assert kinds == {"INT96", "INT64"}
    assert run(capsys, "logs", "--db", db) == want
    assert run(capsys, "logs", "--db", db, "--last") == want_last
    assert len(want.splitlines()) == 2


def test_get_spark_turns_off_dataframe_debugging(spark):
    """Sessions are built without PySpark's per-call call-site capture."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_local_master_defaults_to_usable_cpus(monkeypatch):
    """Without SPARK_GRAFT_CPUS the local master gets one task slot per
    CPU this process may run on, not a fixed 32."""
    from dudb_spark.session import _local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == "3"


def test_cli_pipeline_new_surface(spark, tmp_path, capsys):
    """excise-lines / profile / select-budget end-to-end over a small
    parquet corpus: counters, TSV shape, and written outputs."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "boiler\nkeep one", 5, 10),
            (2, "boiler\nkeep two", 9, 20),
            (3, "boiler\nkeep three", 7, 30),
            (4, "solo", 1, 40),
        ],
        ["doc_id", "text", "score", "n_tokens"],
    ).write.parquet(src)

    out = str(tmp_path / "clean")
    j = json.loads(run(
        capsys, "pipeline", "excise-lines", "--input", src, "--out", out,
    ))
    assert j == {"docs": 4, "lines": 7, "removed": 3, "docs_touched": 3,
                 "min_count": 3, "out": out}
    cleaned = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert cleaned[1] == "keep one" and cleaned[4] == "solo"

    tsv = run(capsys, "pipeline", "profile", "--input", src,
              "--columns", "score", "--top-k", "1")
    rows = dict(
        tuple(l.split("\t")[1:3]) for l in tsv.strip().splitlines()[1:]
    )
    assert rows["count"] == "4" and rows["mean"] == "5.500000"

    j2 = json.loads(run(
        capsys, "pipeline", "select-budget", "--input", src,
        "--score-col", "score", "--tokens-col", "n_tokens",
        "--budget", "50",
    ))
    # score order: 2(20) 3(50) 1(straddles) 4 -> kept 2+3, 50 tokens
    assert j2["kept_docs"] == 2 and j2["kept_tokens"] == 50


def test_cli_pipeline_selection_surface(spark, tmp_path, capsys):
    """dsir / labelcheck / drift end-to-end over small parquet inputs:
    JSON counters, TSV shape, planted-signal sanity."""
    docs = str(tmp_path / "docs2")
    rows = [(i, "alpha beta alpha", "tgt") for i in range(20)]
    rows += [(i, "gamma delta epsilon", "bg") for i in range(20, 60)]
    spark.createDataFrame(rows, ["doc_id", "text", "dom"]).write.parquet(docs)

    j = json.loads(run(
        capsys, "pipeline", "dsir", "--input", docs,
        "--target-col", "dom", "--target-value", "tgt",
        "--k", "10", "--buckets", "64", "--no-gumbel",
    ))
    assert j["selected"] == 10
    # pure top-k by weight picks only target-vocabulary docs
    assert j["from_target_domain"] == 10
    assert j["mean_log_weight"] > 0

    emb = str(tmp_path / "emb2")
    erows = [(i, [1.0 + 0.01 * i, 0.0], 1 if i == 7 else 0) for i in range(10)]
    erows += [(i, [0.0, 1.0 + 0.01 * (i - 10)], 1) for i in range(10, 20)]
    spark.createDataFrame(
        erows, "vec_id long, embedding array<double>, label int"
    ).write.parquet(emb)
    j2 = json.loads(run(
        capsys, "pipeline", "labelcheck", "--input", emb,
        "--k", "5", "--clusters", "2",
    ))
    assert j2["rows"] == 20 and j2["flagged"] == 1  # the planted mislabel

    tsv = run(capsys, "pipeline", "drift", "--input", docs,
              "--group", "dom", "--buckets", "64")
    lines = [l.split("\t") for l in tsv.strip().splitlines()]
    assert lines[0] == ["dom", "n_docs", "n_grams", "kl", "tvd"]
    vals = {l[0]: l for l in lines[1:]}
    assert vals["tgt"][1] == "20" and vals["bg"][1] == "40"
    # the minority-vocabulary group diverges more from the pooled corpus
    assert float(vals["tgt"][3]) > float(vals["bg"][3])


def test_cli_pipeline_sketch_surface(spark, tmp_path, capsys):
    """cardinality / split --clusters / hardneg end-to-end: TSV shape,
    planted-signal sanity, leakage-free property."""
    import json

    docs = str(tmp_path / "docs3")
    rows = [(i, "alpha beta gamma delta"[: 11 + (i % 3) * 6], "a")
            for i in range(30)]
    rows += [(i, "epsilon zeta eta theta iota", "b") for i in range(30, 70)]
    spark.createDataFrame(rows, ["doc_id", "text", "src"]).write.parquet(docs)

    tsv = run(capsys, "pipeline", "cardinality", "--input", docs,
              "--group", "src")
    lines = [l.split("\t") for l in tsv.strip().splitlines()]
    assert lines[0] == ["src", "est_distinct"]
    vals = {l[0]: float(l[1]) for l in lines[1:]}
    # tiny vocabularies land in the linear-counting branch: near-exact
    assert abs(vals["a"] - 4) <= 1 and abs(vals["b"] - 5) <= 1

    tsv = run(capsys, "pipeline", "cardinality", "--input", docs,
              "--group", "src", "--value-col", "doc_id")
    vals = {l.split("\t")[0]: float(l.split("\t")[1])
            for l in tsv.strip().splitlines()[1:]}
    assert abs(vals["a"] - 30) <= 3 and abs(vals["b"] - 40) <= 4

    cl = str(tmp_path / "cl3")
    spark.createDataFrame(
        [(i, i - (i % 2)) for i in range(30)], ["doc_id", "cluster_id"]
    ).write.parquet(cl)
    j = json.loads(run(
        capsys, "pipeline", "split", "--input", docs, "--clusters", cl,
        "--weights", "train=0.5,test=0.5", "--salt", "3",
        "--out", str(tmp_path / "split3"),
    ))
    assert sum(j["splits"].values()) == 70
    out = spark.read.parquet(str(tmp_path / "split3"))
    pairs = {r["doc_id"]: r["split"] for r in out.collect()}
    for even in range(0, 30, 2):
        assert pairs[even] == pairs[even + 1]  # cluster-mates co-split
    # round-10 ADVICE: both modes emit ONE schema — the input columns
    # plus `split` — so downstream parquet consumers never fork on the
    # flag
    json.loads(run(
        capsys, "pipeline", "split", "--input", docs,
        "--weights", "train=0.5,test=0.5", "--salt", "3",
        "--out", str(tmp_path / "split3_default"),
    ))
    default_out = spark.read.parquet(str(tmp_path / "split3_default"))
    assert set(out.columns) == set(default_out.columns)
    assert set(out.columns) == {"doc_id", "text", "src", "split"}

    qs = str(tmp_path / "qs3")
    ex = str(tmp_path / "ex3")
    spark.createDataFrame([(1, "alpha beta")], ["query_id", "qtext"]
                          ).write.parquet(qs)
    spark.createDataFrame([(1, 0), (1, 1)], ["query_id", "doc_id"]
                          ).write.parquet(ex)
    tsv = run(capsys, "pipeline", "hardneg", "--input", docs,
              "--queries", qs, "--exclude", ex, "--k", "3")
    lines = [l.split("\t") for l in tsv.strip().splitlines()]
    assert lines[0] == ["query_id", "rank", "doc_id", "score"]
    got_ids = [int(l[2]) for l in lines[1:]]
    assert len(got_ids) == 3 and 0 not in got_ids and 1 not in got_ids


def test_cli_plan_lint(spark, capsys):
    """plan-lint: clean plans exit 0; allowlisted findings are printed
    with their reason; unknown query names are a hard error."""
    import pytest as _pytest

    out = run(capsys, "plan-lint", "--sf", "/root/testdata/sf0.001",
              "q01_pricing_summary", "q132_table_profile")
    lines = out.strip().splitlines()
    assert lines[0] == "query\trule\tallowed\tdetail"
    assert any(
        l.startswith("q132_table_profile\tsingle-partition-run\tyes")
        for l in lines
    ), out
    assert lines[-1].startswith("# 2 plans linted")

    with _pytest.raises(SystemExit) as ei:
        run(capsys, "plan-lint", "q999_nope")
    assert "unknown queries" in str(ei.value)


def test_cli_watch_once(spark, real_tree, capsys):
    """watch --once: the batch-0 full resync as TSV (gen, op, size,
    path), then exit — no database touched."""
    out = run(capsys, "watch", "--once", real_tree)
    lines = [l.split("\t") for l in out.strip().splitlines()]
    assert all(l[0] == "0" and l[1] == "added" for l in lines)
    paths = {l[3].replace(real_tree, "") for l in lines}
    assert {"/proj", "/proj/a", "/proj/a/x.log", "/proj/b/z.log"} <= paths
    sizes = {l[3].replace(real_tree, ""): l[2] for l in lines}
    assert sizes["/proj/a/x.log"] == "2"
    assert sizes["/proj"].isdigit()  # dirs carry their raw st_size


def test_cli_watch_print_path_never_collects_batch(spark, real_tree,
                                                   capsys, monkeypatch):
    """The watch print path streams batches through toLocalIterator —
    a full-batch collect() would materialize the WHOLE TREE on the
    driver at batch 0 of an unseeded watch (round-9 verdict item 3).
    Pin it: with DataFrame.collect poisoned for any frame carrying the
    watch feed schema, `watch --once` must still print the identical
    TSV."""
    from pyspark.sql import DataFrame

    feed_cols = {"gen", "op", "path", "size"}
    orig_collect = DataFrame.collect

    def poisoned(self):
        if feed_cols <= set(self.columns):
            raise AssertionError(
                "watch print path called collect() on a feed-schema "
                "frame — must stream via toLocalIterator"
            )
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", poisoned)
    out = run(capsys, "watch", "--once", real_tree)
    lines = [l.split("\t") for l in out.strip().splitlines()]
    assert all(l[0] == "0" and l[1] == "added" for l in lines)
    paths = {l[3].replace(real_tree, "") for l in lines}
    assert {"/proj", "/proj/a", "/proj/a/x.log", "/proj/b/z.log"} <= paths


def test_cli_watch_apply_continuous_ingest(spark, real_tree, tmp_path,
                                           capsys):
    """watch --db --apply: each non-empty diff batch lands a new
    snapshot version via apply_changes, and the applied snapshot equals
    a fresh crawl of the mutated tree.  The start is SEEDED (round-9):
    batch 0 emits only the churn since the stored snapshot (pre.dat's
    add + its parent's changed dir row), never the whole tree.

    The CLI runs in a worker thread and the test synchronizes on the
    batch-0 reconciliation OUTPUT before mutating — a fixed sleep races
    against stream startup (a mutation landing before batch-0's rescan
    would be absorbed into it, no diff batch would ever arrive, and
    ``--max-batches 2`` would wait forever)."""
    import os
    import threading
    import time

    from dudb_spark.sources.catalog import SnapshotCatalog
    from dudb_spark.sources.crawler import crawl_local

    db = str(tmp_path / "db")
    sd = str(tmp_path / "stats")
    json.loads(run(capsys, "analyze", "--db", db, real_tree))
    json.loads(run(capsys, "stats", "compute", "--db", db,
                   "--stats-dir", sd, real_tree))
    cat = SnapshotCatalog(spark, db)
    assert len(cat.versions()) == 1
    # churn BEFORE the watch starts: batch-0 reconciliation must apply
    # it (it is in neither the stored snapshot nor any later diff batch)
    with open(f"{real_tree}/proj/b/pre.dat", "w") as f:
        f.write("early churn")

    err = []

    def run_watch():
        try:
            main(["watch", real_tree, "--db", db, "--apply",
                  "--stats-dir", sd,
                  "--interval", "1", "--max-batches", "2"])
        except BaseException as e:  # surfaced after join
            err.append(e)

    # host-speed probe BEFORE the watch thread starts competing for the
    # scheduler (bench.py's calib_jobs anchor, 1 rep): committed record
    # hosts measure ~2 s, the r11 pathological window ~7.6 s
    from bench import _calib_jobs

    calib_ratio = max(1.0, _calib_jobs(spark, reps=1) / 2.0)

    wt = threading.Thread(target=run_watch)
    wt.start()
    # batch-0's rows print only after its rescan completed, so a
    # mutation made after seeing them lands in a later diff batch.
    # SEEDED semantics pin: batch 0 prints the reconciliation diff
    # (pre.dat), NOT the whole tree (x.log is in the stored snapshot
    # and unchanged — it must never appear in the feed).
    # Deadlines are CORRECTNESS bounds only (does batch 0 ever emit /
    # does --max-batches ever stop), not latency pins: a watch batch is
    # dozens of sequential driver jobs, and job-submission latency
    # drifts 2-4x across host windows with byte-identical code
    # (BENCH_NOTES round-10/11 — the calib_jobs_sec anchor exists for
    # exactly this class).  CALIBRATION-RELATIVE (r11 verdict item 8,
    # after two rounds of fixed-deadline loosening commits): the bounds
    # scale by the measured-vs-record ratio of the jobs probe above — a
    # 4x-slower job window gets a 4x deadline automatically, a fast
    # host keeps the tight floor.
    out = ""
    deadline = time.time() + 120 * calib_ratio
    while "pre.dat" not in out:
        assert time.time() < deadline, f"no batch-0 reconcile output:\n{out}"
        assert wt.is_alive() or not err, err
        time.sleep(0.25)
        out += capsys.readouterr().out
    assert "x.log" not in out, "seeded batch 0 must not emit the tree"
    with open(f"{real_tree}/proj/a/new.dat", "w") as f:
        f.write("fresh")
    os.unlink(f"{real_tree}/proj/b/z.log")
    wt.join(timeout=180 * calib_ratio)
    assert not wt.is_alive(), "watch --apply did not stop at max-batches"
    assert not err, err
    # ≥3 versions: the batch-0 reconciliation landed pre.dat, a later
    # diff batch landed the live mutations
    assert len(cat.versions()) >= 3
    nt = cat.tables()
    got = sorted(
        (r["path"], r["is_dir"], r["size"])
        for r in nt.entries.collect()
    )
    _, want_e, _ = crawl_local(real_tree)
    want = sorted((e["path"], e["is_dir"], e["size"]) for e in want_e)
    assert got == want
    # n_entries stays consistent on the churned dirs (b: z.log deleted
    # live, pre.dat reconciled in at batch 0)
    n = {r["path"]: r["n_entries"] for r in nt.prefixes.collect()}
    assert n[f"{real_tree}/proj/a"] == 3 and n[f"{real_tree}/proj/b"] == 1
    # --stats-dir refolded the summaries after each batch: the watch's
    # latest stats version continues the previous one (plan refold)
    # and equals a fresh full fold of the snapshot
    from dudb_spark.cli import _load_stats
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    maintained = _load_stats(spark, sd)
    assert maintained.meta["snapshot_version"] == cat.latest_version()
    assert maintained.meta["plan"] == "refold"
    fresh = compute_stats(
        nt.prefixes, nt.entries, StatsOptions(root=real_tree)
    )
    got_pp = sorted(map(tuple, maintained.per_prefix.collect()))
    want_pp = sorted(map(tuple, fresh.per_prefix.collect()))
    assert got_pp == want_pp
    assert (maintained.totals().collect()[0].asDict()
            == fresh.totals().collect()[0].asDict())


def test_cli_watch_state_dir(spark, real_tree, tmp_path, capsys):
    """--state-dir places the watcher's file-row snapshot parquet on
    chosen storage instead of a throwaway temp dir."""
    sd = str(tmp_path / "wstate")
    run(capsys, "watch", real_tree, "--once", "--state-dir", sd)
    import os

    assert any(f.endswith(".parquet") for f in os.listdir(sd)), (
        os.listdir(sd)
    )


def test_cli_watch_db_without_apply_seeds(spark, real_tree, tmp_path,
                                          capsys):
    """watch --db WITHOUT --apply: the feed is seeded from the stored
    snapshot, so --once prints only the churn since it (and applies
    nothing — the DB keeps one version)."""
    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, real_tree))
    with open(f"{real_tree}/proj/a/since.dat", "w") as f:
        f.write("post-snapshot churn")
    out = run(capsys, "watch", "--once", "--db", db, real_tree)
    assert "since.dat" in out
    assert "x.log" not in out  # unchanged rows never emitted
    cat = SnapshotCatalog(spark, db)
    assert len(cat.versions()) == 1  # nothing applied


def test_cli_watch_start_writes_only_applied_versions(spark, real_tree,
                                                      tmp_path, capsys):
    """A seeded watch start reads the latest snapshot's entries in
    place: a print-only start writes nothing under --db, an --apply
    start writes only its applied versions and the ``latest`` pointer,
    and after a re-analyze the watch emits only the churn since the new
    snapshot."""
    import time

    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, real_tree))

    def files():
        return {
            os.path.relpath(os.path.join(d, f), db):
                os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(db) for f in fs
        }

    before = files()
    assert run(capsys, "watch", "--once", "--db", db, real_tree) == ""
    assert files() == before

    time.sleep(1.05)
    with open(f"{real_tree}/proj/b/fresh.dat", "w") as f:
        f.write("new")
    out = run(capsys, "watch", "--once", "--db", db, "--apply", real_tree)
    assert "fresh.dat" in out
    after = files()
    written = {p for p in after if before.get(p) != after[p]}
    v2 = open(os.path.join(db, "latest")).read().strip()
    assert v2 == "v0002"
    assert {p.split(os.sep)[0] for p in written} <= {
        v2, "latest", "scan_logs.parquet"}
    assert set(before) <= set(after)

    # re-analyze: the next start seeds from the new version and emits
    # only the churn made after it
    time.sleep(1.05)
    with open(f"{real_tree}/proj/b/mid.dat", "w") as f:
        f.write("mid")
    json.loads(run(capsys, "analyze", "--db", db, real_tree))
    time.sleep(1.05)
    with open(f"{real_tree}/proj/b/later.dat", "w") as f:
        f.write("after-snapshot")
    out3 = run(capsys, "watch", "--once", "--db", db, real_tree)
    assert "later.dat" in out3
    assert "mid.dat" not in out3 and "fresh.dat" not in out3


def test_cli_watch_apply_no_prune_exhaustive(spark, real_tree, tmp_path,
                                             capsys):
    """watch --apply --no-prune: the seeded batch 0 is an exhaustive
    per-file comparison — it catches an in-place edit under an
    UNCHANGED directory mtime (which the default pruned start defers,
    J1) and lands it; the applied snapshot equals a fresh crawl."""
    import os
    import time

    from dudb_spark.sources.catalog import SnapshotCatalog
    from dudb_spark.sources.crawler import crawl_local

    db = str(tmp_path / "db")
    json.loads(run(capsys, "analyze", "--db", db, real_tree))

    # in-place edit, dir mtime restored: invisible to the pruned start
    d = f"{real_tree}/proj/a"
    st = os.stat(d)
    time.sleep(1.05)
    with open(f"{d}/x.log", "w") as f:
        f.write("rewritten-in-place-much-longer")
    os.utime(d, (st.st_atime, st.st_mtime))

    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--no-prune", real_tree)
    assert "changed" in out and "x.log" in out  # the deferred edit
    assert "y.txt" not in out  # unchanged rows never printed

    cat = SnapshotCatalog(spark, db)
    got = sorted(
        (r["path"], r["size"]) for r in cat.tables().entries.collect()
    )
    _, want_e, _ = crawl_local(real_tree)
    want = sorted((e["path"], e["size"]) for e in want_e)
    assert got == want


def test_cli_watch_multi_exclude_respected(spark, real_tree, tmp_path,
                                           capsys):
    """TWO --exclude patterns reach the watch reader, pruned and
    exhaustive: paths matching the SECOND pattern must not be emitted
    or applied (the old code passed only exclude[0], so analyze-time
    exclusions re-entered the snapshot as 'added')."""
    from dudb_spark.sources.catalog import SnapshotCatalog

    db = str(tmp_path / "db")
    ex = ["\\.log$", "\\.tmp$"]
    json.loads(run(capsys, "analyze", "--db", db, real_tree,
                   "--exclude", ex[0], "--exclude", ex[1]))
    with open(f"{real_tree}/proj/a/junk.tmp", "w") as f:
        f.write("both patterns must hold")
    with open(f"{real_tree}/proj/a/keep.dat", "w") as f:
        f.write("kk")

    # seeded watch (no apply): the .tmp file is invisible, keep.dat isn't
    out = run(capsys, "watch", "--once", "--db", db, real_tree,
              "--exclude", ex[0], "--exclude", ex[1])
    assert "keep.dat" in out
    assert "junk.tmp" not in out and "x.log" not in out

    # --apply --no-prune: the exhaustive rescan must also drop BOTH
    # patterns — otherwise excluded paths are applied into the snapshot
    out = run(capsys, "watch", "--once", "--db", db, "--apply",
              "--no-prune", real_tree,
              "--exclude", ex[0], "--exclude", ex[1])
    assert "junk.tmp" not in out and "x.log" not in out
    paths = [
        r["path"]
        for r in SnapshotCatalog(spark, db).tables().entries.collect()
    ]
    assert not any(p.endswith(".tmp") or p.endswith(".log") for p in paths)
    assert any(p.endswith("keep.dat") for p in paths)


def test_cli_pipeline_contam_exact_and_bloom(spark, tmp_path, capsys):
    """pipeline contam: exact mode prints contaminated docs; --bloom
    mode prints a maybe-superset (no false negatives — every exactly
    contaminated doc must appear in the bloom candidates)."""
    docs = [(i, f"alpha beta gamma delta tok{i} epsilon zeta") for i
            in range(20)]
    ev = [(100, "alpha beta gamma delta shared phrase")]
    corpus = str(tmp_path / "corpus")
    evp = str(tmp_path / "eval")
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(corpus)
    spark.createDataFrame(ev, ["doc_id", "text"]).write.parquet(evp)

    out = run(capsys, "pipeline", "contam", "--input", corpus,
              "--eval", evp, "--n", "3")
    lines = [l.split("\t") for l in out.strip().splitlines()]
    assert lines[0][0] == "doc_id"
    exact_ids = {int(l[0]) for l in lines[1:]}
    assert exact_ids == set(range(20))  # all share 'alpha beta gamma'

    out = run(capsys, "pipeline", "contam", "--input", corpus,
              "--eval", evp, "--n", "3", "--bloom", "16384:4")
    lines = [l.split("\t") for l in out.strip().splitlines()]
    assert lines[0] == ["doc_id", "n_shingles", "n_maybe"]
    bloom_ids = {int(l[0]) for l in lines[1:]}
    assert exact_ids <= bloom_ids  # never a false negative


def test_cli_pipeline_quantiles_sketch_mode(spark, tmp_path, capsys):
    """pipeline quantiles --sketch LO:HI:BINS: histogram-sketch route,
    estimates within one bin width of the exact mode's answers."""
    rows = [("g", v) for v in range(1, 401)]
    inp = str(tmp_path / "qv")
    spark.createDataFrame(rows, ["grp", "v"]).write.parquet(inp)
    exact = run(capsys, "pipeline", "quantiles", "--input", inp,
                "--group", "grp", "--value", "v", "--ps", "0.5,0.9")
    sk = run(capsys, "pipeline", "quantiles", "--input", inp,
             "--group", "grp", "--value", "v", "--ps", "0.5,0.9",
             "--sketch", "0:400:40")
    # exact mode is WIDE (grp, n_rows, q50, q90); sketch mode is LONG
    eh, erow = (l.split("\t") for l in exact.strip().splitlines())
    e = {0.5: float(erow[eh.index("q50")]), 0.9: float(erow[eh.index("q90")])}
    s = {float(l.split("\t")[1]): float(l.split("\t")[2])
         for l in sk.strip().splitlines()[1:]}
    assert set(s) == {0.5, 0.9}
    for q in e:
        assert abs(e[q] - s[q]) <= 10.0  # one bin width
    with pytest.raises(SystemExit, match="LO:HI:BINS"):
        main(["pipeline", "quantiles", "--input", inp, "--group", "grp",
              "--value", "v", "--sketch", "bad"])


def test_cli_pipeline_lmscore_and_sample_exact(spark, tmp_path, capsys):
    """lmscore bins the corpus into head/middle/tail over the LM score;
    sample-exact's audit sums to exactly the budget and its written
    parquet has exactly budget rows."""
    docs = [
        (i, "en" if i % 2 == 0 else "fr",
         "the quick brown fox " * (1 + i % 3) + f"tail{i}")
        for i in range(60)
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, lang string, text string"
    ).write.parquet(inp)
    out = run(capsys, "pipeline", "lmscore", "--input", inp)
    lines = out.strip().splitlines()
    assert lines[0] == "bin\tn_docs"
    bins = {l.split("\t")[0]: int(l.split("\t")[1]) for l in lines[1:]}
    assert sum(bins.values()) == 60 and set(bins) <= {"head", "middle",
                                                      "tail"}
    sel_out = str(tmp_path / "sel")
    audit = run(capsys, "pipeline", "sample-exact", "--input", inp,
                "--stratum", "lang", "--budget", "17", "--salt", "3",
                "--out", sel_out)
    rows = [l.split("\t") for l in audit.strip().splitlines()[1:]]
    assert sum(int(r[3]) for r in rows) == 17
    assert all(r[2] == r[3] for r in rows)  # selected == quota
    written = spark.read.parquet(sel_out)
    assert written.count() == 17
    assert "rn" not in written.columns and "quota" not in written.columns


def test_cli_events_anomaly_and_islands(spark, tmp_path, capsys):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=i), 1,
             "a" if i < 9 else "b", 5.0) for i in range(12)]
    rows.append((12, base + dt.timedelta(minutes=12), 1, "b", 90.0))
    inp = str(tmp_path / "ev")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    ).write.parquet(inp)
    out = run(capsys, "events", "anomaly", "--input", inp)
    lines = out.strip().splitlines()
    assert lines[0].startswith("id\tkey")
    flagged = [l.split("\t") for l in lines[1:]]
    assert [f[0] for f in flagged] == ["12"]  # only the spike
    out = run(capsys, "events", "islands", "--input", inp,
              "--min-len", "4")
    runs = [l.split("\t") for l in out.strip().splitlines()[1:]]
    assert sorted((r[1], int(r[2])) for r in runs) == [("a", 9), ("b", 4)]


def test_cli_sample_exact_temperature(spark, tmp_path, capsys):
    """--alpha adds the capped/shortfall audit columns and rebalances
    toward small strata."""
    rows = [(i, "big" if i < 180 else "tiny") for i in range(200)]
    inp = str(tmp_path / "tdocs")
    spark.createDataFrame(rows, "doc_id long, lang string").write.parquet(
        inp)
    out = run(capsys, "pipeline", "sample-exact", "--input", inp,
              "--stratum", "lang", "--budget", "40", "--alpha", "0.5")
    lines = out.strip().splitlines()
    assert lines[0].endswith("quota\tcapped\tshortfall\tselected")
    got = {l.split("\t")[0]: l.split("\t") for l in lines[1:]}
    assert sum(int(v[5]) for v in got.values()) == 40
    # proportional would give tiny 40*20/200 = 4; sqrt gives ~10
    assert int(got["tiny"][2]) > 4


def test_cli_sample_exact_zero_quota_stratum_still_printed(
    spark, tmp_path, capsys
):
    rows = [(i, "a" if i < 10 else "b") for i in range(15)]
    inp = str(tmp_path / "zq")
    spark.createDataFrame(rows, "doc_id long, lang string").write.parquet(
        inp)
    out = run(capsys, "pipeline", "sample-exact", "--input", inp,
              "--stratum", "lang", "--budget", "1")
    got = {l.split("\t")[0]: l.split("\t") for l in
           out.strip().splitlines()[1:]}
    # 'b' gets quota 0 — its audit line must still appear, selected=0
    assert set(got) == {"a", "b"}
    assert got["a"][2:4] == ["1", "1"] and got["b"][2:4] == ["0", "0"]


def test_cli_sample_weighted(spark, tmp_path, capsys):
    """A-ES weighted sampling: exact size, weight-proportional share,
    NULL/non-positive weights excluded from the positive population."""
    rows = [(i, 10.0 if i % 2 == 0 else 1.0) for i in range(2, 400)]
    rows += [(0, None), (1, -3.0)]
    inp = str(tmp_path / "wdocs")
    spark.createDataFrame(rows, "doc_id long, w double").write.parquet(inp)
    outdir = str(tmp_path / "wsel")
    out = run(capsys, "pipeline", "sample-weighted", "--input", inp,
              "--weight-col", "w", "--n", "60", "--out", outdir)
    lines = out.strip().splitlines()
    assert lines[0] == "population\tpos_weight_pop\tselected\tweight_share"
    pop, pos, sel, share = lines[1].split("\t")
    assert (pop, pos, sel) == ("400", "398", "60")
    written = spark.read.parquet(outdir)
    assert written.count() == 60
    heavy = written.where("w = 10.0").count()
    assert heavy >= 45  # 10:1 weights dominate the draw
    assert written.where("doc_id in (0, 1)").count() == 0


def test_cli_sample_weighted_missing_column(spark, tmp_path, capsys):
    inp = str(tmp_path / "mdocs")
    spark.createDataFrame([(1, 2.0)], "doc_id long, w double") \
        .write.parquet(inp)
    with pytest.raises(SystemExit, match="no column 'nope'"):
        run(capsys, "pipeline", "sample-weighted", "--input", inp,
            "--weight-col", "nope", "--n", "5")


def test_cli_cardinality_kmv_method(spark, tmp_path, capsys):
    """--method kmv: exact below k, the value-col 52-bit path works,
    and the guards keep the HLL/KMV knobs from crossing."""
    docs = str(tmp_path / "kdocs")
    rows = [(i, "alpha beta gamma delta epsilon", "a") for i in range(20)]
    rows += [(i, " ".join(f"tok{j}" for j in range(i % 7, i % 7 + 5)), "b")
             for i in range(20, 60)]
    spark.createDataFrame(rows, ["doc_id", "text", "src"]).write.parquet(
        docs)
    tsv = run(capsys, "pipeline", "cardinality", "--method", "kmv",
              "--input", docs, "--group", "src")
    vals = {l.split("\t")[0]: float(l.split("\t")[1])
            for l in tsv.strip().splitlines()[1:]}
    assert vals["a"] == 5.0  # exact below k: 5 distinct tokens
    assert vals["b"] == 11.0  # tok0..tok10

    # value-col path (xxhash64 52-bit space), still exact below k
    tsv = run(capsys, "pipeline", "cardinality", "--method", "kmv",
              "--input", docs, "--group", "src", "--value-col", "doc_id")
    vals = {l.split("\t")[0]: float(l.split("\t")[1])
            for l in tsv.strip().splitlines()[1:]}
    assert vals["a"] == 20.0 and vals["b"] == 40.0

    with pytest.raises(SystemExit, match="--p is an HLL register"):
        run(capsys, "pipeline", "cardinality", "--method", "kmv",
            "--input", docs, "--group", "src", "--p", "8")
    with pytest.raises(SystemExit, match="--k is a KMV sketch size"):
        run(capsys, "pipeline", "cardinality", "--input", docs,
            "--group", "src", "--k", "64")
    with pytest.raises(SystemExit, match="--k and --error-target"):
        run(capsys, "pipeline", "cardinality", "--method", "kmv",
            "--input", docs, "--group", "src", "--k", "64",
            "--error-target", "5")


def test_cli_dedup_incremental_against(spark, tmp_path, capsys):
    """pipeline dedup --against: new shard vs history, with and without
    a persisted band index; guards for the non-minhash combinations."""
    import json

    rows = [
        (0, "the quick brown fox jumps over the lazy dog by the river"),
        (1, "the quick brown fox jumps over the lazy dog by the shore"),
        (2, "completely unrelated text about engines and query planners"),
        (3, "the quick brown fox jumps over the lazy dog by the river"),
    ]
    allp = str(tmp_path / "all")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(allp)
    newp, oldp = str(tmp_path / "new"), str(tmp_path / "old")
    d = spark.read.parquet(allp)
    d.where("doc_id >= 3").write.parquet(newp)
    d.where("doc_id < 3").write.parquet(oldp)

    j = json.loads(run(capsys, "pipeline", "dedup", "--method", "minhash",
                       "--input", newp, "--against", oldp,
                       "--threshold", "0.3"))
    assert j["rows"] == 2  # doc 3 matches history docs 0 and 1

    from dudb_spark.pipeline.dedup import minhash_band_index

    idxp = str(tmp_path / "idx")
    minhash_band_index(
        spark.read.parquet(oldp), num_perm=32, bands=8, hash_fn="poly"
    ).write.parquet(idxp)
    j2 = json.loads(run(capsys, "pipeline", "dedup", "--method", "minhash",
                        "--input", newp, "--against", oldp,
                        "--band-index", idxp, "--threshold", "0.3"))
    assert j2["rows"] == 2

    with pytest.raises(SystemExit, match="is a minhash mode"):
        run(capsys, "pipeline", "dedup", "--method", "exact",
            "--input", newp, "--against", oldp)
    with pytest.raises(SystemExit, match="only makes sense"):
        run(capsys, "pipeline", "dedup", "--method", "minhash",
            "--input", newp, "--band-index", idxp)


def test_cli_sample_exact_weight_col_mass_mode(spark, tmp_path, capsys):
    """--weight-col: budget allocated by weight mass, shortfall audit
    for a mass-heavy tiny stratum, --alpha crossing guard."""
    rows = [(i, "many", 1) for i in range(90)]
    rows += [(100, "big", 900)]  # 90% of the mass, one row
    inp = str(tmp_path / "mass")
    spark.createDataFrame(rows, "doc_id long, lang string, w long") \
        .write.parquet(inp)
    out = run(capsys, "pipeline", "sample-exact", "--input", inp,
              "--stratum", "lang", "--budget", "20",
              "--weight-col", "w")
    lines = out.strip().splitlines()
    assert lines[0] == ("lang\tpopulation\tw_mass\tquota\tcapped"
                        "\tshortfall\tselected")
    got = {l.split("\t")[0]: l.split("\t") for l in lines[1:]}
    # big: quota 18 by mass, capped at its 1 row, shortfall 17
    assert got["big"][2:7] == ["900", "18", "1", "17", "1"]
    assert got["many"][3] == "2" and got["many"][6] == "2"

    with pytest.raises(SystemExit, match="alternatives"):
        run(capsys, "pipeline", "sample-exact", "--input", inp,
            "--stratum", "lang", "--budget", "20",
            "--weight-col", "w", "--alpha", "0.5")


def test_cli_dedup_jaccard_exact(spark, tmp_path, capsys):
    import json

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g x"),
        (2, "totally different words here now"),
    ]
    inp = str(tmp_path / "jdocs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    j = json.loads(run(capsys, "pipeline", "dedup", "--method", "jaccard",
                       "--input", inp, "--threshold", "0.5"))
    assert j["rows"] == 1  # only the (0,1) boundary pair qualifies


def test_cli_events_triangles(spark, tmp_path, capsys):
    """events triangles: K3 co-activity (three users sharing the same
    slots) shows up with clustering 1.0."""
    from pyspark.sql import functions as F

    rows = []
    eid = 0
    # users 1,2,3 share 5 (type, hour) slots -> a triangle; user 9 only
    # overlaps user 1 twice -> below --min-shared, isolated
    for h in range(5):
        for u in (1, 2, 3):
            rows.append((eid, f"2024-02-0{1 + h % 3} 0{h}:10:00", u,
                         "click", 1.0, "{}"))
            eid += 1
    for h in range(2):
        rows.append((eid, f"2024-02-01 0{h}:20:00", 9, "click", 1.0, "{}"))
        eid += 1
    inp = str(tmp_path / "tri_ev")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(inp)
    out = run(capsys, "events", "triangles", "--input", inp,
              "--min-shared", "4")
    got = {l.split("\t")[0]: l.split("\t")
           for l in out.strip().splitlines()[1:]}
    assert set(got) == {"1", "2", "3"}
    for u in ("1", "2", "3"):
        assert got[u][1:] == ["2", "1", "1.0"]


def test_cli_events_communities_and_kcore(spark, tmp_path, capsys):
    """events communities / kcore over the same co-activity fixture:
    the 1-2-3 triangle forms one community labeled by its smallest id
    and survives k=2 peeling with in-core degree 2; user 9 is below
    --min-shared and isolated from both."""
    from pyspark.sql import functions as F

    rows = []
    eid = 0
    for h in range(5):
        for u in (1, 2, 3):
            rows.append((eid, f"2024-02-0{1 + h % 3} 0{h}:10:00", u,
                         "click", 1.0, "{}"))
            eid += 1
    for h in range(2):
        rows.append((eid, f"2024-02-01 0{h}:20:00", 9, "click", 1.0, "{}"))
        eid += 1
    inp = str(tmp_path / "comm_ev")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(inp)

    out = run(capsys, "events", "communities", "--input", inp,
              "--min-shared", "4", "--rounds", "3")
    got = {l.split("\t")[0]: l.split("\t")
           for l in out.strip().splitlines()[1:]}
    assert set(got) == {"1", "2", "3"}
    for u in ("1", "2", "3"):
        assert got[u][1:] == ["1", "3"]

    out = run(capsys, "events", "kcore", "--input", inp,
              "--min-shared", "4", "--k", "2", "--rounds", "3")
    got = {l.split("\t")[0]: l.split("\t")
           for l in out.strip().splitlines()[1:]}
    assert set(got) == {"1", "2", "3"}
    for u in ("1", "2", "3"):
        assert got[u][1] == "2"


def test_cli_pipeline_blocklist(spark, tmp_path, capsys):
    """pipeline blocklist: terms from flag + file merge, JSON summary,
    --out writes only kept rows."""
    rows = [(0, "clean text here"), (1, "bad bad bad bad"),
            (2, "one naughty word in a longer ok doc x y z")]
    inp = str(tmp_path / "bl_docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
    tf = tmp_path / "terms.txt"
    tf.write_text("naughty\n\n")
    out = str(tmp_path / "bl_kept")
    j = json.loads(run(capsys, "pipeline", "blocklist", "--input", inp,
                       "--terms", "bad", "--terms-file", str(tf),
                       "--max-density", "0.2", "--out", out))
    assert j == {"n_docs": 3, "n_kept": 2, "total_hits": 5,
                 "n_terms": 2, "out": out}
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {0, 2}


def test_cli_pipeline_dedup_containment(spark, tmp_path, capsys):
    """pipeline dedup --method containment: the short quote inside the
    long doc is flagged in one direction only."""
    rows = [(0, "a b c d"),
            (1, "a b c d " + " ".join(f"w{i}" for i in range(30))),
            (2, "q r s t u v")]
    inp = str(tmp_path / "cont_docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    j = json.loads(run(capsys, "pipeline", "dedup", "--method",
                       "containment", "--input", inp,
                       "--threshold", "0.9"))
    assert j["rows"] == 1


def test_cli_events_outliers(spark, tmp_path, capsys):
    rows = [(i, "click", float(v)) for i, v in enumerate(
        list(range(1, 10)) + [100])]
    inp = str(tmp_path / "out_ev")
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).write.parquet(inp)
    out = run(capsys, "events", "outliers", "--input", inp)
    lines = out.strip().splitlines()
    assert lines[0].split("\t") == ["event_type", "n_rows", "med", "mad",
                                    "n_outliers", "outlier_ppm"]
    assert lines[1].split("\t") == ["click", "10", "5.5", "2.5", "1",
                                    "100000"]


def test_cli_pipeline_contam_containment(spark, tmp_path, capsys):
    """pipeline contam --containment: the pasted eval snippet is found
    inside the long corpus doc at containment 1.0."""
    ev = str(tmp_path / "ct_eval")
    co = str(tmp_path / "ct_corpus")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta")], ["doc_id", "text"]
    ).write.parquet(ev)
    spark.createDataFrame(
        [(7, "lead in alpha beta gamma delta trailing words"),
         (8, "unrelated text entirely")], ["doc_id", "text"]
    ).write.parquet(co)
    out = run(capsys, "pipeline", "contam", "--input", co, "--eval", ev,
              "--containment", "0.9", "--n", "2")
    lines = out.strip().splitlines()
    assert lines[0].split("\t") == ["eval_id", "doc_id", "containment"]
    assert lines[1].split("\t") == ["0", "7", "1.0"]
    assert len(lines) == 2


def test_cli_events_transitions(spark, tmp_path, capsys):
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    rows = [(1, t0, 1, "a"), (2, t0 + dt.timedelta(seconds=5), 1, "b"),
            (3, t0 + dt.timedelta(seconds=9), 1, "b")]
    inp = str(tmp_path / "tr_ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string").write.parquet(inp)
    out = run(capsys, "events", "transitions", "--input", inp)
    lines = [l.split("\t") for l in out.strip().splitlines()]
    assert lines[1] == ["a", "b", "1", "1.0"]
    assert lines[2] == ["b", "b", "1", "1.0"]
