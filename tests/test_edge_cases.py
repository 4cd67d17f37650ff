"""Degenerate-input hardening: empty tables, single rows, and boundary
values through the operators most likely to divide by zero, emit NULL
keys, or drop rows silently."""

from __future__ import annotations

from pyspark.sql import functions as F

from dudb_spark.operators.stats import StatsOptions, compute_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pfx(spark, rows):
    """Prefix rows from (path, size, inode)."""
    return spark.createDataFrame(
        [(p, p.rsplit("/", 1)[0] or "/", sz, sz // 512, 0o755, None,
          100, 10, 1, ino) for p, sz, ino in rows],
        "path string, parent string, size long, blocks long, mode long, "
        "mtime timestamp, uid long, gid long, device long, inode long",
    )


def _ent(spark, rows):
    """Entry rows from (path, is_dir, size, inode)."""
    return spark.createDataFrame(
        [(p.rsplit("/", 1)[0], p.rsplit("/", 1)[1], p, d, sz, sz // 512,
          0o644, 100, 10, 1, ino) for p, d, sz, ino in rows],
        "parent string, name string, path string, is_dir boolean, "
        "size long, blocks long, mode long, uid long, gid long, "
        "device long, inode long",
    )


def test_stats_empty_match_is_all_zero(spark):
    prev_p = _pfx(spark, [("/t", 10, 1)])
    prev_e = _ent(spark, [("/t/f", False, 5, 2)])
    res = compute_stats(prev_p, prev_e, StatsOptions(root="/nomatch"))
    assert res.per_prefix.count() == 0
    tot = res.totals().collect()[0]
    assert tot["files"] == 0 and tot["bytes"] == 0  # coalesced, not NULL


def test_connected_components_no_edges(spark):
    from dudb_spark.pipeline.cluster import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_repetition_single_token_doc(spark):
    from dudb_spark.pipeline.text import repetition_signals

    rows = {r["doc_id"]: r for r in
            repetition_signals(_docs(spark, [(1, "solo"), (2, "a b")]))
            .collect()}
    assert rows[1]["n_words"] == 1 and rows[1]["dup_word_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == 1.0


def test_chunking_doc_shorter_than_chunk(spark):
    from dudb_spark.pipeline.text import chunk_tokens

    out = chunk_tokens(_docs(spark, [(1, "a b c")]), chunk=20, overlap=5)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["n_tokens"] == 3 and rows[0]["chunk_text"] == "a b c"


def test_decontamination_empty_eval_set(spark):
    from dudb_spark.pipeline.decontam import ngram_contamination

    corpus = _docs(spark, [(1, "one two three four five six")])
    eval_set = _docs(spark, [])
    assert ngram_contamination(corpus, eval_set).count() == 0


def test_sq8_constant_dimension(spark):
    from dudb_spark.pipeline.quantize import sq8_bounds, sq8_encode

    emb = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    enc = sq8_encode(emb, sq8_bounds(emb, dim=2), dim=2)
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    # constant dim codes to 0 everywhere (no divide-by-zero NULLs)
    assert codes[1][0] == 0 and codes[2][0] == 0
    assert codes[1][1] == 0 and codes[2][1] == 255


def test_zorder_constant_column(spark):
    from dudb_spark.plans.zorder import with_z

    df = spark.createDataFrame([(7, i) for i in range(4)], ["a", "b"])
    z = with_z(df, ["a", "b"]).select("z").collect()
    # constant a contributes nothing; z still orders by b
    assert len({r["z"] for r in z}) == 4


def test_asof_empty_right_side(spark):
    from dudb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10)], "id long, ts long"
    ).select("id", F.timestamp_seconds("ts").alias("ts"))
    right = spark.createDataFrame([], "id long, ts long, v long").select(
        "id", F.timestamp_seconds("ts").alias("ts"), "v"
    )
    out = asof_join(left, right, on="id", ts="ts")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] is None  # left preserved


def test_minhash_verified_empty_and_single_token_docs(spark):
    from dudb_spark.pipeline.dedup import minhash_verified_pairs

    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "one"), (3, "   "),
         (4, "a b c d e f g"), (5, "a b c d e f g")],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_verified_pairs(
            docs, num_perm=16, bands=8, min_est=0.5, min_jaccard=0.5
        ).collect()
    }
    # identical multi-token docs pair at jaccard 1; two token-less docs
    # are identical content (the degenerate shingle set) and pair with
    # EACH OTHER, but never with any non-empty doc
    assert got.get((4, 5)) == 1.0
    assert got.get((0, 3)) == 1.0
    for a, b in got:
        assert (a in (0, 3)) == (b in (0, 3)), (a, b)


def test_semantic_dedup_fewer_rows_than_clusters(spark):
    from dudb_spark.pipeline.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    rows = {r["vec_id"]: r for r in
            semantic_dedup(emb, threshold=0.99, n_clusters=16).collect()}
    assert len(rows) == 3
    assert rows[1]["dup_of"] == 0 and not rows[1]["kept"]  # near-parallel
    assert rows[0]["kept"] and rows[2]["kept"]


def test_streaming_sessionize_single_event_user(spark, tmp_path):
    import datetime as dt
    import glob as g
    import os as o

    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA
    from dudb_spark.streaming.sessions import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base, 5.0),
            (2, base + dt.timedelta(hours=2), 1.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "one")
    df.where("user_id = 1").coalesce(1).write.parquet(src)
    df.where("user_id = 2").coalesce(1).write.mode("append").parquet(src)
    for k, p in enumerate(sorted(g.glob(o.path.join(src, "part-*.parquet")))):
        o.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    q = (
        sessionize(
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src),
            gap="30 minutes",
        )
        .writeStream.outputMode("append").format("memory")
        .queryName("t_single_ev").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM t_single_ev").collect()
    # user 1's lone event closes by timeout once user 2 drives the
    # watermark past base + gap
    assert [(r["user_id"], r["n_events"], r["sum_value"]) for r in got] == [
        (1, 1, 5.0)
    ]
