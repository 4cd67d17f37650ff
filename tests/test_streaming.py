"""Streaming rollup = batch rollup equality, driven end-to-end through a
file-source stream with availableNow trigger."""

from __future__ import annotations

from tempfile import mkdtemp

import pytest
from pyspark.sql import functions as F

from dudb_spark.streaming.rollup import hourly_rollup, run_rollup_to_memory


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Re-encode sf0.001 events (nanos → micros) into a stream source dir,
    split into several files to exercise multi-trigger ingestion."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = str(tmp_path / "events_stream")
    ev.repartition(8).write.parquet(out)
    return out


def test_stream_rollup_equals_batch(spark, events_dir):
    batch = hourly_rollup(spark.read.parquet(events_dir))
    want = sorted(
        (r["hour_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in batch.collect()
    )

    q = run_rollup_to_memory(spark, events_dir, query_name="t_rollup")
    q.awaitTermination(120)
    got = sorted(
        (r["hour_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM t_rollup").collect()
    )
    assert got == want
    assert len(got) > 100


def test_watermark_present_in_plan(spark, events_dir):
    from dudb_spark.streaming.rollup import stream_events

    stream = stream_events(spark, events_dir)
    agg = hourly_rollup(stream, watermark="3 hours")
    assert agg.isStreaming
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()


def test_stream_dedup_equals_batch_distinct(spark, tmp_path):
    import pyspark.sql.functions as F

    from dudb_spark.streaming.dedup import first_sightings
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    rows = [
        (i, f"2024-01-0{1 + i % 3} 0{i % 6}:00:00", i % 4,
         ["click", "view"][i % 2], float(i), "{}")
        for i in range(60)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "dedup_src")
    batch.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        first_sightings(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.event_type, str(r.day))
        for r in spark.table("t_dedup").collect()
    )
    want = sorted(
        (r.user_id, r.event_type, str(r.day))
        for r in batch.select(
            "user_id", "event_type", F.to_date("ts").alias("day")
        ).distinct().collect()
    )
    assert got == want


def test_stream_attribution_equals_batch_join(spark, events_dir):
    from dudb_spark.streaming.joins import attribution_join
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    batch = spark.read.parquet(events_dir)
    want = sorted(
        (r["user_id"], r["left_id"], r["right_id"])
        for r in attribution_join(batch, batch).collect()
    )
    assert want, "fixture produced no attributable pairs"

    left = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    right = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    joined = attribution_join(left, right)
    assert joined.isStreaming
    plan = joined._jdf.queryExecution().analyzed().toString().lower()
    assert "watermark" in plan
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_attr")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["left_id"], r["right_id"])
        for r in spark.sql("SELECT * FROM t_attr").collect()
    )
    assert got == want


def test_stream_static_dedup_matches_batch(spark, tmp_path):
    from pyspark.sql import types as T

    from dudb_spark.streaming.dedup import dedup_against_corpus

    corpus = spark.createDataFrame(
        [(1, "hello world"), (2, "other text"), (3, "Hello   WORLD ")],
        ["doc_id", "text"],
    )
    incoming_rows = [
        (10, "hello world"),        # dup of canonical 1
        (11, "brand new content"),  # new
        (12, "other text"),         # dup of 2
        (13, "BRAND new content"),  # same fp as 11, but 11 is not in the
                                    # CORPUS index -> still tagged new
    ]
    incoming = spark.createDataFrame(incoming_rows, ["doc_id", "text"])
    src = str(tmp_path / "inc")
    incoming.repartition(2).write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    out = dedup_against_corpus(stream, corpus)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssdedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_new"])
        for r in spark.sql("SELECT * FROM t_ssdedup").collect()
    }
    # index is checked against the CORPUS only; within-batch dups all pass
    assert got == {
        10: (1, False),
        11: (None, True),
        12: (2, False),
        13: (None, True),
    }
    # batch restatement equality (the oracle's shape)
    batch = {
        r["doc_id"]: (r["canonical_id"], r["is_new"])
        for r in dedup_against_corpus(incoming, corpus).collect()
    }
    assert batch == got


def test_online_dedup_grows_index_across_batches(spark, tmp_path):
    import os

    from pyspark.sql import types as T

    from dudb_spark.streaming.dedup import online_dedup

    corpus = spark.createDataFrame(
        [(1, "corpus text one"), (2, "corpus text two")], ["doc_id", "text"]
    )
    # batch 0: one new doc + a corpus dup; batch 1: a dup OF BATCH 0's doc
    b0 = spark.createDataFrame(
        [(10, "fresh content"), (11, "corpus text one")], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(20, "fresh content"), (21, "another new one")], ["doc_id", "text"]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    for k, bdf in enumerate([b0, b1]):
        tmp = str(tmp_path / f"w{k}")
        bdf.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
        dst = os.path.join(src, f"b{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()),
         T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = online_dedup(
        stream, corpus, str(tmp_path / "idx"), str(tmp_path / "out")
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_new"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        10: (None, True),   # new in batch 0
        11: (1, False),     # corpus dup
        20: (10, False),    # caught by the GROWN index (batch 0's doc 10)
        21: (None, True),   # new in batch 1
    }


def test_fswatch_change_stream(spark, tmp_path):
    """fswatch (sources/fsds.FsWatchReader): batch 0 resyncs the whole
    tree as 'added'; live mutations surface as added/changed/deleted
    rows in later batches with the last-known stat on deletions.

    Runs with ``prune=false`` (exhaustive per-file rescans) because the
    mutation set includes an in-place file edit whose parent dir mtime
    does not change — the default dir-mtime pruning defers that edit to
    the dir's next churn (the reference's own J1 semantics,
    analyze.go:236–242; pinned by test_fswatch_prune_j1_semantics)."""
    import os
    import time

    from dudb_spark.sources.fsds import register_watch

    root = str(tmp_path / "tree")
    os.makedirs(f"{root}/a")
    with open(f"{root}/a/x.txt", "w") as f:
        f.write("hello")
    with open(f"{root}/y.log", "w") as f:
        f.write("123")

    register_watch(spark)
    q = (
        spark.readStream.format("fswatch")
        .option("prune", "false")
        .option("state_dir", mkdtemp(dir=tmp_path)).load(root)
        .writeStream.format("memory").queryName("fswatch_t")
        .trigger(processingTime="1 second").start()
    )
    try:
        def wait_rows(pred, timeout=60):
            t0 = time.time()
            rows = []
            while time.time() - t0 < timeout:
                rows = spark.sql(
                    "SELECT op, path, size, gen FROM fswatch_t"
                ).collect()
                if pred(rows):
                    return rows
                time.sleep(0.5)
            raise TimeoutError(rows)

        rows = wait_rows(lambda r: len(r) >= 3)
        resync = {(r.op, r.path.replace(root, "")) for r in rows}
        assert resync == {
            ("added", "/a"), ("added", "/a/x.txt"), ("added", "/y.log")
        }
        assert all(r.gen == 0 for r in rows)

        time.sleep(1.1)  # mtime granularity
        with open(f"{root}/a/x.txt", "w") as f:
            f.write("hello world!")          # changed (size+mtime)
        with open(f"{root}/new.bin", "w") as f:
            f.write("zz")                     # added
        os.unlink(f"{root}/y.log")            # deleted

        rows = wait_rows(lambda r: len(r) >= 6)
        diff = {
            (r.op, r.path.replace(root, ""), r.size)
            for r in rows if r.gen > 0
        }
        assert diff == {
            ("changed", "/a/x.txt", 12),
            ("added", "/new.bin", 2),
            ("deleted", "/y.log", 3),  # last-known stat rides the delete
        }
        # no-change walks hold the offset instead of emitting empty
        # batches, so the diff generations stay dense from 1 (a walk
        # interleaving the three mutations may legitimately split them
        # over two consecutive batches)
        gens = sorted({r.gen for r in rows if r.gen > 0})
        assert gens and gens == list(range(1, len(gens) + 1))
    finally:
        q.stop()


# --------------------------------------------------------------------------
# fswatch bounded-state/work contract (round-8 scale fix): driver state is
# O(dirs), per-batch work is O(dirs)+O(churn), file rows live on disk.
# Direct reader tests — no streaming choreography needed; the reader runs
# driver-side either way.
# --------------------------------------------------------------------------

def _watch_tree(tmp_path, n_dirs=8, files_per_dir=10):
    import os

    root = str(tmp_path / "wtree")
    for i in range(n_dirs):
        os.makedirs(f"{root}/d{i:02d}")
        for j in range(files_per_dir):
            with open(f"{root}/d{i:02d}/f{j}.dat", "w") as f:
                f.write("x" * (i + j))
    return root


def test_fswatch_requires_state_dir(tmp_path):
    """The caller owns the watcher's state dir: a reader given none
    refuses to start, naming the option, instead of making a temp dir
    that nothing removes."""
    from dudb_spark.sources.fsds import FsWatchReader

    with pytest.raises(ValueError, match="state_dir"):
        FsWatchReader({"path": str(tmp_path)})


def test_fswatch_bounded_state_and_work(tmp_path):
    """State is keyed by DIRECTORIES (not paths) and a one-file churn
    rescans exactly the churned dir: the round-7 verdict's scale-killer
    (driver dict of every path + full re-stat per batch) stays dead."""
    import os
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    rows, off = r.read({"gen": 0})
    assert len(list(rows)) == 8 + 80  # full resync
    assert r.last_batch_stats["files_statted"] == 80

    # driver state: one entry per dir — never per file
    assert not hasattr(r, "_prev")
    assert len(r._dirstat) == 8
    assert set(r._dirgen) == {root} | {f"{root}/d{i:02d}" for i in range(8)}
    # file rows are on disk, not in memory
    assert any(f.endswith(".parquet") for f in os.listdir(r.state_dir))

    # idle batch: zero file stats, offset held
    rows, off2 = r.read(off)
    assert off2 == off and list(rows) == []
    assert r.last_batch_stats["files_statted"] == 0
    assert r.last_batch_stats["dirs_rescanned"] == 0

    # one added file -> exactly one dir rescanned, ~10 files statted
    time.sleep(1.05)
    with open(f"{root}/d03/new.bin", "w") as f:
        f.write("zz")
    rows, off3 = r.read(off2)
    rows = list(rows)
    assert {(t[0], t[3]) for t in rows} == {
        ("changed", f"{root}/d03"), ("added", f"{root}/d03/new.bin"),
    }
    assert r.last_batch_stats["dirs_rescanned"] == 1
    assert r.last_batch_stats["files_statted"] == 11  # d03's listing only


def test_fswatch_prune_j1_semantics(tmp_path):
    """Default pruning = the reference's unchanged-skip (J1,
    analyze.go:236–242): an in-place edit that leaves the dir mtime
    alone is not seen until the dir next churns — then the snapshot
    diff emits the deferred 'changed' row.  prune=false sees it at
    once."""
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=2, files_per_dir=2)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    _, off = r.read({"gen": 0})

    time.sleep(1.05)
    with open(f"{root}/d00/f0.dat", "w") as f:
        f.write("rewritten-in-place")
    rows, off = r.read(off)
    assert list(rows) == []  # dir mtime unchanged -> deferred (J1)

    # dir churn (new sibling) -> rescan diffs the snapshot and emits
    # BOTH the new file and the deferred in-place edit
    time.sleep(1.05)
    with open(f"{root}/d00/sibling.txt", "w") as f:
        f.write("s")
    rows = list(r.read(off)[0])
    got = {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows}
    assert got == {
        ("changed", "d00"), ("added", "sibling.txt"),
        ("changed", "f0.dat"),
    }

    # prune=false: a fresh exhaustive watcher sees in-place edits now
    r2 = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                        "prune": "false"})
    _, off2 = r2.read({"gen": 0})
    time.sleep(1.05)
    with open(f"{root}/d01/f1.dat", "w") as f:
        f.write("direct")
    rows = list(r2.read(off2)[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows} == {
        ("changed", "f1.dat")
    }
    assert r2.last_batch_stats["dirs_rescanned"] == 3  # exhaustive mode


def test_fswatch_type_flip_and_compaction(tmp_path):
    """A path flipping file->dir emits one 'changed' row (not
    deleted+added), and the log-structured snapshot compacts: live
    parquet files stay bounded by compact_every while diffs remain
    exact."""
    import os
    import shutil
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=4, files_per_dir=3)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                       "compact_every": "2"})
    _, off = r.read({"gen": 0})

    # file -> dir flip
    time.sleep(1.05)
    os.unlink(f"{root}/d00/f0.dat")
    os.makedirs(f"{root}/d00/f0.dat")
    rows = list(r.read(off)[0])
    by_path = {t[3]: t[0] for t in rows}
    assert by_path[f"{root}/d00/f0.dat"] == "changed"
    off = {"gen": 2}

    # churn several dirs over several batches; compaction keeps the
    # state dir bounded and the diff exact
    for k, d in enumerate(["d01", "d02", "d03", "d01"]):
        time.sleep(1.05)
        with open(f"{root}/{d}/roll{k}.x", "w") as f:
            f.write(str(k))
        rows = list(r.read(off)[0])
        off = {"gen": off["gen"] + 1}
        assert (f"{root}/{d}/roll{k}.x", "added") in {
            (t[3], t[0]) for t in rows
        }
    live = [f for f in os.listdir(r.state_dir) if f.endswith(".parquet")]
    assert len(live) <= 3  # compact_every=2 (+1 freshly-written)

    # subtree delete after compaction: last-known rows still served
    shutil.rmtree(f"{root}/d02")
    rows = list(r.read(off)[0])
    dels = {t[3] for t in rows if t[0] == "deleted"}
    assert f"{root}/d02/f0.dat" in dels and f"{root}/d02/roll1.x" in dels


def test_fswatch_unreadable_dir_transition(tmp_path, monkeypatch):
    """A dir that stops listing flips its row to an in-band error row
    and its file rows leave as deletions — the S9 error-bucket contract
    on the watch path.  The revocation is modeled as chmod + denial
    (the real-world shape: mode is in the rescan sig, so the pruned
    pass notices and probes; running as root, the denial itself must
    be monkeypatched)."""
    import os
    import time

    from dudb_spark.sources import fsds
    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=2, files_per_dir=2)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    _, off = r.read({"gen": 0})

    real_scandir = os.scandir

    def deny_d00(p):
        if str(p).endswith("/d00"):
            raise PermissionError(13, "denied", str(p))
        return real_scandir(p)

    monkeypatch.setattr(fsds._os, "scandir", deny_d00)
    time.sleep(1.05)
    os.chmod(f"{root}/d00", 0o300)  # the sig-visible revocation
    rows = list(r.read(off)[0])
    got = {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows}
    assert ("deleted", "f0.dat") in got and ("deleted", "f1.dat") in got
    err_rows = [t for t in rows if t[0] == "changed"]
    assert len(err_rows) == 1 and err_rows[0][-2] is not None  # error col


def _seed_from_crawl(spark, root, seed_dir):
    """Store the crawled entries as a snapshot's entries table, the
    seed ``watch --db`` passes."""
    from dudb_spark.model import ENTRIES_SCHEMA
    from dudb_spark.sources.crawler import crawl_local

    _, e0, _ = crawl_local(root)
    df = spark.createDataFrame(e0, ENTRIES_SCHEMA)
    df.repartitionByRange(2, "parent").write.mode("overwrite").parquet(
        seed_dir
    )
    return df


def test_fswatch_seeded_start_matches_resync_feed(spark, tmp_path):
    """SEEDED start (round-9: the batch-0 resync sharded off the
    driver): a watcher initialized from the stored entries emits, as
    its first batch, exactly the classification resync_feed would
    compute from a fresh walk — for dir-mtime-visible churn — while
    statting only the churned dirs' files, never the tree."""
    import os
    import time

    from pyspark.sql import functions as F

    from dudb_spark.model import ENTRIES_SCHEMA
    from dudb_spark.operators.ingest import resync_feed
    from dudb_spark.sources.crawler import crawl_local
    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=6, files_per_dir=5)
    seed_dir = str(tmp_path / "seed")
    stored = _seed_from_crawl(spark, root, seed_dir)

    # churn while the watcher is "down": add (d00), delete (d01),
    # delete a whole dir (d02) — all dir-mtime-visible
    time.sleep(1.05)
    with open(f"{root}/d00/new.bin", "w") as f:
        f.write("zz")
    os.unlink(f"{root}/d01/f2.dat")
    import shutil

    shutil.rmtree(f"{root}/d02")

    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                       "seed": seed_dir})
    rows = list(r.read({"gen": 0})[0])
    got = sorted((t[0], t[3]) for t in rows)

    # the oracle: resync_feed over a fresh walk vs the stored entries
    _, e1, _ = crawl_local(root)
    resync = (
        spark.createDataFrame(e1, ENTRIES_SCHEMA)
        .withColumn("op", F.lit("added"))
        .withColumn("error", F.lit(None).cast("string"))
    )
    want = sorted(
        (x["op"], x["path"])
        for x in resync_feed(stored, resync).select("op", "path").collect()
    )
    assert got == want, (got, want)

    # bounded work: only churned dirs' files statted (d00: 6, d01: 4;
    # d02 is gone, unchanged d03-d05 skipped; root has no files)
    assert r.last_batch_stats["files_statted"] == 10
    # driver state never held the full tree's file rows
    assert len(r._dirstat) == 5  # live dirs
    # later batches keep working normally off the seeded state
    time.sleep(1.05)
    with open(f"{root}/d03/late.txt", "w") as f:
        f.write("l")
    rows2 = list(r.read({"gen": 1})[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows2} == {
        ("changed", "d03"), ("added", "late.txt"),
    }


def test_fswatch_seeded_prune_false_exhaustive(spark, tmp_path):
    """Seeded start with prune=false: every file is re-stat'ed once
    (bounded memory, no tree in the driver dict) and in-place edits
    under unchanged dir mtimes surface immediately — the exhaustive
    reconciliation of ``watch --db --no-prune``."""
    import os
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=3, files_per_dir=4)
    seed_dir = str(tmp_path / "seed")
    _seed_from_crawl(spark, root, seed_dir)

    # in-place edit, dir mtime restored (invisible to pruning)
    d = f"{root}/d01"
    st = os.stat(d)
    time.sleep(1.05)
    with open(f"{d}/f1.dat", "w") as f:
        f.write("rewritten-in-place-longer")
    os.utime(d, (st.st_atime, st.st_mtime))

    # pruned seeded start misses it (J1 contract)
    r1 = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                        "seed": seed_dir})
    assert list(r1.read({"gen": 0})[0]) == []

    # exhaustive seeded start catches it
    r2 = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                        "seed": seed_dir, "prune": "false"})
    rows = list(r2.read({"gen": 0})[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows} == {
        ("changed", "f1.dat")
    }
    assert r2.last_batch_stats["files_statted"] == 12  # each file once


def test_fswatch_seed_parent_spanning_files_loads(spark, tmp_path):
    """Any entries-schema parquet dir seeds the watcher: a parent whose
    rows span two seed files loads whole, so batch 0 over the unchanged
    tree is empty and later churn in that parent is exact (no row of
    either file orphaned or re-emitted)."""
    import os
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from glob import glob

    from dudb_spark.model import ENTRIES_SCHEMA
    from dudb_spark.sources.crawler import crawl_local
    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=2, files_per_dir=6)
    seed_dir = str(tmp_path / "seed")
    _, e0, _ = crawl_local(root)
    # round-robin: every parent's rows land in both files
    spark.createDataFrame(e0, ENTRIES_SCHEMA).repartition(2).write.mode(
        "overwrite").parquet(seed_dir)
    files = glob(os.path.join(seed_dir, "*.parquet"))
    parents = [
        set(pc.unique(pq.read_table(f)["parent"]).to_pylist())
        for f in files
    ]
    assert len(files) == 2 and f"{root}/d00" in parents[0] & parents[1]

    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path),
                       "seed": seed_dir})
    rows, off = r.read({"gen": 0})
    assert list(rows) == []

    time.sleep(1.05)
    with open(f"{root}/d00/new.bin", "w") as f:
        f.write("zz")
    os.unlink(f"{root}/d00/f3.dat")
    rows = list(r.read(off)[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows} == {
        ("changed", "d00"), ("added", "new.bin"), ("deleted", "f3.dat"),
    }


def test_fswatch_seed_state_file_skips_row_groups(tmp_path):
    """The seeded state file is sorted by parent in row groups of
    _SEED_ROW_GROUP rows: a seed larger than that holds more than one
    group, a one-parent load reads one group, and a parent whose rows
    straddle two groups still loads whole."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from dudb_spark.sources.fsds import _SEED_ROW_GROUP, FsWatchReader

    per_dir = 20
    n_dirs = _SEED_ROW_GROUP // per_dir + 50
    dirs = [f"/w/d{i:05d}" for i in range(n_dirs)]
    rows = [{"parent": "/", "name": "w", "path": "/w", "is_dir": True}]
    rows += [{"parent": "/w", "name": d[3:], "path": d, "is_dir": True}
             for d in dirs]
    rows += [{"parent": d, "name": f"f{j}", "path": f"{d}/f{j}",
              "is_dir": False, "size": j} for d in dirs
             for j in range(per_dir)]
    seed = tmp_path / "seed"
    seed.mkdir()
    r = FsWatchReader({"path": "/w", "state_dir": mkdtemp(dir=tmp_path),
                       "seed": str(seed)})
    schema = pa.schema([f for f in r._arrow_schema() if f.name != "error"])
    pq.write_table(pa.Table.from_pylist(rows[::-1], schema=schema),
                   os.path.join(seed, "part-0.parquet"))
    r._load_seed()

    state = r._file_path(r._filectr)
    md = pq.ParquetFile(state).metadata
    assert md.num_rows == n_dirs * per_dir > _SEED_ROW_GROUP
    assert md.num_row_groups == -(-md.num_rows // _SEED_ROW_GROUP) > 1
    frag = next(iter(ds.dataset(state).get_fragments()))
    one = pc.field("parent")
    assert len(frag.split_by_row_group(
        one.isin([dirs[7]]) & (one >= dirs[7]) & (one <= dirs[7]))) == 1
    assert len(r._load_rows([dirs[7]])) == per_dir
    # the first group ends inside this dir's rows
    straddler = dirs[_SEED_ROW_GROUP // per_dir]
    got = r._load_rows([straddler, dirs[-1]])
    assert sorted(got) == sorted(f"{d}/f{j}" for d in (straddler, dirs[-1])
                                 for j in range(per_dir))
    assert got[f"{straddler}/f19"][4] == 19  # size


def test_fswatch_idle_batch_is_getdents_free(tmp_path):
    """Round-10 scale fix: a steady-state batch with NO churn performs
    one lstat per known dir and ZERO directory enumerations / file
    stats — the old pass read every dirent in the tree every batch.
    Churn re-lists exactly the churned lineage."""
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=6, files_per_dir=4)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    _, off = r.read({"gen": 0})
    assert r.last_batch_stats["dirs_listed"] == 7  # batch 0: exhaustive

    rows, off = r.read(off)
    assert list(rows) == []
    assert r.last_batch_stats["dirs_listed"] == 0
    assert r.last_batch_stats["files_statted"] == 0
    assert r.last_batch_stats["dir_lstats"] == 7  # root + 6 dirs

    # one churned dir -> exactly one scandir
    time.sleep(1.05)
    with open(f"{root}/d02/new.bin", "w") as f:
        f.write("zz")
    rows = list(r.read(off)[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows} == {
        ("changed", "d02"), ("added", "new.bin"),
    }
    assert r.last_batch_stats["dirs_listed"] == 1
    assert r.last_batch_stats["files_statted"] == 5


def test_fswatch_pruned_discovers_new_deep_subtree(tmp_path):
    """A brand-new multi-level subtree under a churned dir is walked in
    full by the pruned pass (new dirs are churn by definition), and the
    NEXT batch's lstat set includes the new dirs."""
    import os
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=2, files_per_dir=1)
    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    _, off = r.read({"gen": 0})

    time.sleep(1.05)
    os.makedirs(f"{root}/d00/sub/deeper")
    with open(f"{root}/d00/sub/deeper/leaf.txt", "w") as f:
        f.write("leaf")
    rows = list(r.read(off)[0])
    got = {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows}
    assert got == {
        ("changed", "d00"), ("added", "sub"),
        ("added", "deeper"), ("added", "leaf.txt"),
    }
    # d00 + sub + deeper listed; nothing else
    assert r.last_batch_stats["dirs_listed"] == 3
    assert f"{root}/d00/sub/deeper" in r._dirstat

    # a later edit inside the new subtree is caught by its own lstat
    time.sleep(1.05)
    with open(f"{root}/d00/sub/deeper/leaf2.txt", "w") as f:
        f.write("l2")
    rows = list(r.read({"gen": 2})[0])
    assert {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows} == {
        ("changed", "deeper"), ("added", "leaf2.txt"),
    }
    assert r.last_batch_stats["dirs_listed"] == 1


def test_fswatch_pruned_symlinked_ancestor_drops_lineage(tmp_path):
    """Replace a dir with a symlink to an equivalent tree: direct
    lstat of the old child paths still RESOLVES (path traversal
    follows the symlinked ancestor), but the watch never descends
    symlinks, so the whole lineage must leave as deletions — the
    gone-lineage force-drop in the pruned pass."""
    import os
    import shutil
    import time

    from dudb_spark.sources.fsds import FsWatchReader

    root = _watch_tree(tmp_path, n_dirs=1, files_per_dir=2)
    os.makedirs(f"{root}/d00/inner")
    with open(f"{root}/d00/inner/deep.dat", "w") as f:
        f.write("deep")
    elsewhere = str(tmp_path / "elsewhere")
    shutil.copytree(f"{root}/d00", elsewhere)

    r = FsWatchReader({"path": root, "state_dir": mkdtemp(dir=tmp_path)})
    _, off = r.read({"gen": 0})

    time.sleep(1.05)
    shutil.rmtree(f"{root}/d00")
    os.symlink(elsewhere, f"{root}/d00")
    # lstat through the symlink still resolves the old inner path
    assert os.lstat(f"{root}/d00/inner")

    rows = list(r.read(off)[0])
    by = {(t[0], t[3].rsplit("/", 1)[-1]) for t in rows}
    # d00 flips dir->symlink (file-space 'changed'), inner + files gone
    assert ("changed", "d00") in by
    assert ("deleted", "inner") in by
    assert ("deleted", "deep.dat") in by
    assert ("deleted", "f0.dat") in by and ("deleted", "f1.dat") in by
    assert f"{root}/d00/inner" not in r._dirstat


def test_stream_hll_registers_equal_batch_fold(spark, events_dir):
    """Streamed HLL register maintenance must merge micro-batches into
    EXACTLY the batch register fold (max(rho) associativity is the whole
    mergeability claim), and the per-window state is bounded at 2**p
    rows — the property that makes streamed distinct counting legal
    where a streamed COUNT DISTINCT is refused."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.streaming.rollup import hourly_hll_registers, stream_events

    uhash = F.element_at(
        poly_token_hash_array(F.col("user_id").cast("string")), 1
    )
    batch = hourly_hll_registers(
        spark.read.parquet(events_dir), uhash, p=4
    )
    want = sorted(
        (r["win"]["start"], r["reg"], r["rho"]) for r in batch.collect()
    )

    stream = stream_events(spark, events_dir)
    q = (
        hourly_hll_registers(stream, uhash, p=4)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_hll_regs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_hll_regs").collect()
    got = sorted((r["win"]["start"], r["reg"], r["rho"]) for r in rows)
    assert got == want and len(got) > 50
    # bounded state: no window ever holds more than 2**p register rows
    from collections import Counter

    per_win = Counter(r["win"]["start"] for r in rows)
    assert max(per_win.values()) <= 16


def test_stream_cms_cells_equal_batch_fold(spark, events_dir):
    """Streamed count-min cell maintenance must merge micro-batches
    into EXACTLY the batch cell fold (sum associativity — the CMS
    mergeability claim), with per-window state bounded at d×w rows,
    and the per-(window, key) min-over-rows estimate never below the
    exact count."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import cms_bucket
    from dudb_spark.streaming.rollup import hourly_cms_cells, stream_events

    d, w = 4, 32
    thash = F.element_at(poly_token_hash_array(F.col("event_type")), 1)
    batch = hourly_cms_cells(
        spark.read.parquet(events_dir), thash, d=d, w=w
    )
    want = sorted(
        (r["win"]["start"], r["j"], r["bucket"], r["cnt"])
        for r in batch.collect()
    )

    stream = stream_events(spark, events_dir)
    q = (
        hourly_cms_cells(stream, thash, d=d, w=w)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_cms_cells")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_cms_cells").collect()
    got = sorted(
        (r["win"]["start"], r["j"], r["bucket"], r["cnt"]) for r in rows
    )
    assert got == want and len(got) > 50
    from collections import Counter

    per_win = Counter(r["win"]["start"] for r in rows)
    assert max(per_win.values()) <= d * w

    # one-sided estimate: min over rows >= exact per (window, key)
    ev = spark.read.parquet(events_dir).select(
        F.window("ts", "1 hour").alias("win"),
        "event_type", thash.alias("h"),
    )
    cand = ev.groupBy("win", "event_type", "h").agg(
        F.count(F.lit(1)).alias("exact")
    )
    probes = cand.select(
        "*",
        F.posexplode(
            F.array(*[cms_bucket(F.col("h"), j, w) for j in range(d)])
        ).alias("j", "bucket"),
    )
    est = (
        probes.join(F.broadcast(batch), ["win", "j", "bucket"], "left")
        .groupBy("win", "event_type", "exact")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
    assert all(r["est"] >= r["exact"] for r in est.collect())


def test_stream_anomaly_state_spans_batches(spark, tmp_path):
    """Cross-batch correctness of the O(lookback) state: windows that
    span micro-batch boundaries, within-batch disorder, and flag parity
    with the batch operator — all integer-exact, no tolerance."""
    import datetime as dt
    import os

    from dudb_spark.operators.timeseries import rolling_anomalies
    from dudb_spark.streaming.anomaly import stream_rolling_anomalies
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    base = dt.datetime(2024, 1, 1)

    def ev(i, minute, user, val):
        return (i, base + dt.timedelta(minutes=minute), user, "x", val,
                "{}")

    # user 1: flat history split across batches, spike lands in batch 1
    # with ONLY batch-0 history in its window; user 2: disorder inside
    # batch 1 (later-id, earlier-ts) must sort before judging
    b0 = [ev(i, i, 1, 7.0 + (i % 2) * 0.04) for i in range(8)]
    b1 = ([ev(8, 8, 1, 55.5)]
          + [ev(100 + i, i, 2, 3.0) for i in range(7)]
          + [ev(110, 7.5, 2, 3.0), ev(109, 7.25, 2, 44.4)])
    src = str(tmp_path / "src")
    os.makedirs(src)
    for k, rows in enumerate([b0, b1]):
        bdf = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        tmp = str(tmp_path / f"w{k}")
        bdf.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
        dst = os.path.join(src, f"b{k}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_rolling_anomalies(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_anom_span")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["id"]: (r["n_prior"], r["dev_n"], r["var_n"], r["is_anomaly"])
        for r in spark.table("t_anom_span").collect()
    }
    # batch parity: the same events through the batch operator
    all_rows = spark.createDataFrame(
        b0 + b1,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    want = {
        r["id"]: (r["n_prior"], r["dev_n"], r["var_n"], r["is_anomaly"])
        for r in rolling_anomalies(all_rows).collect()
    }
    assert got == want
    # the spike's window is batch-0 history only: state crossed batches
    assert got[8][3] is True and got[8][0] == 8
    # disorder: 109 (earlier ts) judged before 110 despite id order
    assert 109 in got and got[109][3] is True
    assert got[110][0] == 8  # 110's window includes 109 (7 flats + it)


def test_stream_hist_cells_equal_batch_fold(spark, events_dir):
    """Streamed histogram cell maintenance must merge micro-batches
    into EXACTLY the batch cell fold (count associativity — the
    mergeability claim behind streamed quantiles, which Spark refuses
    natively), with per-window state bounded at n_bins rows, and the
    quantile read never further than one bin width from the exact
    per-window quantile."""
    from dudb_spark.pipeline.sketch import hist_quantiles
    from dudb_spark.streaming.rollup import hourly_hist_cells, stream_events

    lo, hi, n_bins = 0, 51_200, 64
    centi = F.round(F.col("value") * 100).cast("long")
    batch = hourly_hist_cells(
        spark.read.parquet(events_dir), centi, lo=lo, hi=hi, n_bins=n_bins
    )
    want = sorted(
        (r["win"]["start"], r["bin"], r["cnt"]) for r in batch.collect()
    )

    stream = stream_events(spark, events_dir)
    q = (
        hourly_hist_cells(stream, centi, lo=lo, hi=hi, n_bins=n_bins)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_hist_cells")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_hist_cells").collect()
    got = sorted((r["win"]["start"], r["bin"], r["cnt"]) for r in rows)
    assert got == want and len(got) > 50
    from collections import Counter

    per_win = Counter(r["win"]["start"] for r in rows)
    assert max(per_win.values()) <= n_bins

    # error contract: est within one bin width of the exact quantile
    cells = spark.sql("SELECT * FROM t_hist_cells").select(
        F.col("win.start").alias("hour"), "bin", "cnt"
    )
    est = hist_quantiles(cells, ["hour"], [0.5], lo=lo, hi=hi,
                         n_bins=n_bins)
    # the sketch estimates the rank-based quantile (the ceil(q·n)-th
    # order statistic) — compare against THAT definition, not the
    # interpolated percentile(), which diverges at tiny per-window n
    from pyspark.sql.window import Window

    w = Window.partitionBy("hour").orderBy("v")
    exact = (
        spark.read.parquet(events_dir)
        .select(F.window("ts", "1 hour").start.alias("hour"),
                centi.alias("v"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(
            Window.partitionBy("hour")))
        .where(F.col("rn") == F.greatest(
            F.lit(1), F.ceil(F.lit(0.5) * F.col("n"))))
        .select("hour", F.col("v").alias("p50"))
    )
    width = (hi - lo) / n_bins
    bad = (
        est.join(exact, "hour")
        .where(F.abs(F.col("est") - F.col("p50")) > width)
        .count()
    )
    assert bad == 0


def test_stream_weighted_reservoir_equals_batch_topn(spark, events_dir):
    """The streamed A-ES reservoir must equal the BATCH weighted
    sample exactly under any micro-batch split (top-n mergeability of
    the A-ES key), with state/emissions bounded at n rows per group."""
    from dudb_spark.pipeline.sampling import weighted_sample
    from dudb_spark.streaming.reservoir import stream_weighted_reservoir
    from pyspark.sql.window import Window

    n = 7
    batch = weighted_sample(
        spark.read.parquet(events_dir)
        .withColumn("event_type", F.col("event_type").cast("string")),
        "event_id", "value", n, salt=5, group_col="event_type",
    )
    want = sorted(
        (r["event_type"], r["event_id"]) for r in batch.collect()
    )

    stream = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).option("maxFilesPerTrigger", 2).parquet(events_dir)
    q = (
        stream_weighted_reservoir(
            stream, "event_type", "event_id", "value", n=n, salt=5
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wres")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("t_wres")
    # every emission is a whole reservoir: never more than n rows
    per = sink.groupBy("grp", "batch_seq").count().collect()
    assert per and max(r["count"] for r in per) <= n
    last = Window.partitionBy("grp")
    got = sorted(
        (r["grp"], r["item_id"])
        for r in sink.withColumn("_m", F.max("batch_seq").over(last))
        .where("batch_seq = _m").collect()
    )
    assert got == want


def test_stream_neardup_flags_equal_batch_candidates(spark, tmp_path):
    """Streamed near-dup flagging against the persisted band index must
    equal the batch incremental candidate stage (per-row HOF signatures
    == batch aggregate signatures), under multi-batch splits."""
    from pyspark.sql import types as T

    from dudb_spark.pipeline.dedup import (
        incremental_verified_pairs,
        minhash_band_index,
    )
    from dudb_spark.streaming.dedup import neardup_against_index

    rows = [
        (0, "the quick brown fox jumps over the lazy dog by the river"),
        (3, "the quick brown fox jumps over the lazy dog by the river"),
        (6, "the quick brown fox jumps over the lazy dog by the shore"),
        (9, "nothing like the others at all in any way whatsoever"),
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "completely unrelated text about engines and planners"),
        (4, "the quick brown fox jumps over the lazy dog by the creek"),
        (5, "other unrelated filler content goes here for padding"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    new = docs.where("doc_id % 3 = 0")
    old = docs.where("doc_id % 3 != 0")
    index = minhash_band_index(old, num_perm=32, bands=16,
                               hash_fn="poly").localCheckpoint()

    # batch truth: candidate stage = verified pairs at min_jaccard=0
    # with min_est matching (est identical, jaccard column dropped)
    want = sorted(
        (r["new_id"], r["old_id"], r["est_jaccard"])
        for r in incremental_verified_pairs(
            new, old, num_perm=32, bands=16, min_est=0.25,
            min_jaccard=0.0, index=index,
        ).select("new_id", "old_id", "est_jaccard").collect()
    )

    src = str(tmp_path / "nd_src")
    new.repartition(3).write.parquet(src)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        neardup_against_index(stream, index, num_perm=32, bands=16,
                              min_est=0.25)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ndflags")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["new_id"], r["old_id"], r["est_jaccard"])
        for r in spark.table("t_ndflags")
        .dropDuplicates(["new_id", "old_id"]).collect()
    )
    assert got == want and got, got


def test_stream_transitions_equal_batch_matrix(spark, tmp_path):
    """Streamed transition deltas folded with an integer sum must
    equal the BATCH transition matrix exactly under time-ordered
    micro-batches — the cross-batch adjacency (last event of batch k
    → first of batch k+1) is exactly what the one-row-per-user state
    exists for."""
    import os
    from glob import glob as _glob

    from dudb_spark.operators.timeseries import transition_matrix
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA
    from dudb_spark.streaming.transitions import stream_transitions

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    src = str(tmp_path / "trans_stream")
    ev.repartitionByRange(4, "ts").write.parquet(src)
    for k, p in enumerate(sorted(_glob(os.path.join(src, "part-*.parquet")))):
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))

    want = sorted(
        (r["from_label"], r["to_label"], r["n_transitions"])
        for r in transition_matrix(spark.read.parquet(src)).collect()
    )

    q = (
        stream_transitions(
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_transitions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("t_transitions")
    got = sorted(
        (r["from_label"], r["to_label"], r["n"])
        for r in sink.groupBy("from_label", "to_label")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    assert got == want and len(got) > 5
    # multiple micro-batches actually ran: some user emitted in >1
    # batch only if deltas per (user, pair) appear more than once OR
    # the per-batch emission count exceeds one distinct frame; assert
    # the cheap invariant instead: total delta rows > distinct pairs
    assert sink.count() > len(got)
