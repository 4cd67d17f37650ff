"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship join+aggregate on sf0.001;
``queries()``/``oracle_sql()`` expose one entry per implemented operator
class from SURVEY.md §2, each checked against a DuckDB oracle at sf0.01.

Cross-engine determinism rules used throughout (Spark vs DuckDB):

- Money/metric sums: per-row ``CAST(x AS DECIMAL(18,6))`` (identical doubles
  → identical decimals; decimal boundaries are not binary-representable so
  rounding-mode differences cannot trigger), exact decimal SUM, then
  ``CAST(ROUND(..., 2) AS DOUBLE)`` — bit-identical results independent of
  partial-aggregation order.
- Timestamps in output are formatted as strings (session-timezone pinned to
  UTC) so Arrow/pandas localization differences cannot leak in.
- Every computed column is aliased identically in the Spark plan and the SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read nanos as long and convert with integer division
    (a double roundtrip would lose precision above 2^53 ns)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return ev


def _dec(col):
    """Deterministic money/metric term: double → exact decimal."""
    return col.cast("decimal(18,6)")


def _money(sumcol, alias):
    return F.round(sumcol.cast("double"), 2).alias(alias)


def _fmt_ts(col, alias):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(alias)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _stream_parts(spark, n: int = 8):
    """Size stateful-op partitions to the gate fixtures' volume: every
    stateful partition owns a state store (and, for applyInPandasWithState,
    an Arrow-batched Python worker), and 32 nearly-empty stores cost more
    in per-batch commit + worker startup than 8 full ones — measured
    2–3× on every streaming gate (q30 8.5→2.5 s, q38 9.5→3.7 s at sf0.1).
    A real deployment sizes this to events-per-trigger instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stage_mod_buckets(incoming, n, src, key="doc_id"):
    """Stage ``incoming`` as ``src/b{k}.parquet``, one file per
    ``key % n`` bucket, in ONE Spark job: repartition(n, bucket) hashes
    each bucket value to exactly one task, so partitionBy emits exactly
    one file per bucket dir.  (Was n sequential ``coalesce(1)`` writes —
    n full plan executions, each collapsed into a single task.)"""
    import os
    import shutil
    import tempfile
    from glob import glob as _glob

    tmp = tempfile.mkdtemp(prefix="dudb_stage_b_")
    (
        incoming.withColumn("_b", (F.col(key) % n).cast("int"))
        .repartition(n, "_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(tmp)
    )
    for b in range(n):
        parts = _glob(os.path.join(tmp, f"_b={b}", "part-*.parquet"))
        assert len(parts) == 1, f"bucket {b}: {len(parts)} files"
        dst = os.path.join(src, f"b{b}.parquet")
        shutil.move(parts[0], dst)
        # replay order: the file stream source orders by mtime — the old
        # sequential writes got ascending stamps for free, the single
        # job writes them all at once, so stamp explicitly
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
    shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Queries.  Each function: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """A1/A2 analog (grouped totals fold → partial+final hash aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.sum(_dec(F.col("l_quantity"))), "sum_qty"),
            _money(F.sum(_dec(F.col("l_extendedprice"))), "sum_base_price"),
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "sum_disc_price",
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_expr_find(spark, sf_dir):
    """P1–P11: the boolexpr language compiled to native Columns, bound to a
    renamed events frame (find-style selection; SURVEY.md §2.2)."""
    from dudb_spark.functions.boolexpr import compile_expr

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("path"),
        F.col("ts").alias("mtime"),
        "value",
    )
    pred = compile_expr(
        "(user=13 || user=7) && newer=2024-01-15T00:00:00 && re='^(pur|sig)'",
        mode="prefix",
    )
    # prefix-mode binding: path/uid/mtime columns, name = basename(path)
    return (
        ev.where(pred)
        .select("event_id", "uid", "path", "value")
        .orderBy("event_id")
    )


def q03_top_orders(spark, sf_dir):
    """A4/O1: bounded top-N — TakeOrderedAndProject, never a full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


def q04_per_customer_topn(spark, sf_dir):
    """A5: per-id top-N via ranking window (partition-parallel)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_custkey", "rank")
    )


def q05_region_revenue(spark, sf_dir):
    """J3: broadcast-dim join chain + grouped revenue (TPC-H Q5 shape).
    nation/region are tiny dims → explicit broadcast, no shuffle join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


def q06_customers_without_orders(spark, sf_dir):
    """J2/§2.7: anti-join (deletion-detection shape, analyze.go:383–424).
    Date-restricted so the result is non-trivial at every scale factor:
    customers with no orders since 2000."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "2000-01-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q07_hardlink_style_dedup(spark, sf_dir):
    """A7 analog: deterministic canonical-row dedup by a link key, counting
    duplicates — row_number over (device,inode)-style partitions."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy(
        "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_partkey", "l_suppkey")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .withColumn("n_links", F.count(F.lit(1)).over(wc))
        .where((F.col("rn") == 1) & (F.col("n_links") > 1))
        .select(
            "l_partkey",
            "l_suppkey",
            F.col("l_orderkey").alias("canonical_orderkey"),
            "n_links",
            (F.col("n_links") - 1).alias("n_hardlinks"),
        )
        .orderBy("l_partkey", "l_suppkey")
    )


def q08_block_storage_calc(spark, sf_dir):
    """A8/F6: storage calculators as pure column expressions (block 4096)."""
    li = _t(spark, sf_dir, "lineitem")
    size = F.col("l_quantity") * 1000  # synthetic byte size
    blocked = (F.ceil(size / 4096) * 4096).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(size.cast("long")).alias("bytes"),
            F.sum(blocked).alias("storage_bytes"),
        )
        .orderBy("l_returnflag")
    )


def q09_time_range_scan(spark, sf_dir):
    """S8/F5: time-range scan with pushed-down predicates (logs/errors)."""
    ev = _events(spark, sf_dir)
    return (
        ev.where(
            (F.col("ts") >= "2024-01-10 00:00:00")
            & (F.col("ts") < "2024-01-20 00:00:00")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec(F.col("value"))), "sum_value"),
        )
        .orderBy("event_type")
    )


def q10_latest_event_per_user(spark, sf_dir):
    """S8 LastLog analog: latest row per key via ranking window."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", _fmt_ts(F.col("ts"), "ts"), "event_type")
        .orderBy("user_id")
    )


def q11_grouping_sets(spark, sf_dir):
    """A2: one-pass multi-grain aggregation via GROUPING SETS."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               grouping(l_linestatus) AS is_flag_total,
               count(*) AS n_rows,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_qty
        FROM _li
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        ORDER BY l_returnflag, is_flag_total, l_linestatus
        """
    )


def q12_exact_dup_fingerprint(spark, sf_dir):
    """Pipeline/dedup-exact: whitespace-normalized md5 fingerprint groups
    (hash-groupBy exact dedup; also F2 document fingerprinting)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return (
        d.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy("canonical_doc_id")
    )


def q13_token_stats_by_lang(spark, sf_dir):
    """Pipeline/text-analysis: token counting per language."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.withColumn("n_tokens", F.size(toks))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def q14_doc_quality(spark, sf_dir):
    """Pipeline/quality-scoring: per-doc lexical-diversity + length signals."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        uniq.alias("n_unique_tokens"),
        F.round(uniq.cast("double") / n.cast("double"), 6).alias("ttr"),
        F.round(F.col("n_chars").cast("double") / n.cast("double"), 6).alias(
            "chars_per_token"
        ),
    ).orderBy("doc_id")


def q15_events_hourly(spark, sf_dir):
    """§2.9 extension: tumbling-window aggregation (batch form of the
    Structured Streaming rollup in dudb_spark.streaming)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec(F.col("value"))), "sum_value"),
        )
        .select(
            _fmt_ts(F.col("hour_start"), "hour"), "event_type", "n_events", "sum_value"
        )
        .orderBy("hour", "event_type")
    )


def q16_minhash_dedup(spark, sf_dir):
    """Pipeline/dedup: MinHash+LSH candidate pairs verified with exact
    Jaccard over the hashed-shingle sets.  hash_fn='poly' (Horner modular
    folds) makes every hash engine-reproducible, so the WHOLE sketch
    pipeline — signatures, banding, candidate set, estimates, exact
    verification — is value-checked against the DuckDB oracle.  The fused
    pipeline shingles the corpus ONCE (checkpointed base shared by the
    signature aggregate and both verification joins); only strong
    candidates (est ≥ 0.5) pay the exact-set cost."""
    from dudb_spark.pipeline.dedup import minhash_verified_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_verified_pairs(
        d, num_perm=32, bands=8, min_est=0.5, min_jaccard=0.3
    ).orderBy("id_a", "id_b")


def q17_ann_cosine_topk(spark, sf_dir):
    """Pipeline/similarity: exact brute-force top-10 by cosine against one
    query vector (TakeOrderedAndProject — no full sort)."""
    from dudb_spark.pipeline.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").collect()[0]["embedding"]
    return brute_force_topk(emb.where("vec_id != 0"), q, k=10)


def q18_ann_batch_topk(spark, sf_dir):
    """Pipeline/similarity: batch k-NN — 20 query vectors broadcast against
    the corpus, ranked per query by a partitioned window."""
    from dudb_spark.pipeline.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("cv")
    )
    joined = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("cv"), F.col("qv"))), "vec_id"
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def q19_simhash_near_dup(spark, sf_dir):
    """Pipeline/dedup: SimHash Hamming-distance near-dup pairs via the
    pigeonhole block join.  hash_fn='poly' (packed double-Horner token
    hashes, 62 bits) makes the signatures, block join and Hamming verify
    value-exact against the DuckDB oracle."""
    from dudb_spark.pipeline.dedup import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    # hamming ≤ 3 → 4 blocks of 16 bits: selective buckets keep the
    # pigeonhole join near-linear even on shared-vocabulary corpora
    return simhash_near_duplicates(d, max_hamming=3, hash_fn="poly").orderBy(
        "id_a", "id_b"
    )


def q20_language_id(spark, sf_dir):
    """Pipeline/text: stopword-voting language ID per document."""
    from dudb_spark.pipeline.text import language_id

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", language_id(F.col("text")).alias("lang_pred")
    ).orderBy("doc_id")


def q21_quality_score(spark, sf_dir):
    """Pipeline/text: composite per-document quality score."""
    from dudb_spark.pipeline.text import quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Reference-parity queries over the committed fs fixtures (fixtures/fs/):
# the engine's own find/stats operators, oracle-checked value-exact.  The
# DuckDB side reads the same Parquet via read_parquet on the absolute path.
# ---------------------------------------------------------------------------

FS_FIX = "/root/repo/fixtures/fs"


def _fs(spark, table):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{FS_FIX}/{table}.parquet")


def q22_fs_find(spark, sf_dir):
    """§3.3 find: subtree restriction + compiled predicate, ordered."""
    from dudb_spark.operators.find import find

    return find(
        _fs(spark, "prefixes"),
        _fs(spark, "entries"),
        root="/tree/d0-0",
        expr="user=100 && (type=f || type=l) && name=f1-*",
    ).select("path", "is_prefix")


def q23_fs_stats_totals(spark, sf_dir):
    """§3.2 stats compute: per-prefix totals incl. hardlink counters."""
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    return res.per_prefix.orderBy("prefix")


def q24_fs_stats_per_user(spark, sf_dir):
    """A2/A5: per-(prefix, uid) grouped totals."""
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    return res.per_user.select(
        "prefix", "id", "files", "prefixes", "sub_prefixes", "bytes",
        "storage_bytes", "prefix_bytes", "hardlinks",
    ).orderBy("prefix", "id")


def q25_fs_top_by_user(spark, sf_dir):
    """A3/A4: by-user grand totals + global totals invariant surface."""
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    return res.by_id("user").select(
        "id", "files", "bytes", "storage_bytes", "hardlinks"
    ).orderBy("id")


def _fold_sql_tail(pfx_src: str, ent_src: str) -> str:
    """The stats-fold CTE chain (dedup windows + contribution union) over
    two already-defined CTEs/relations — continues an open WITH list."""
    return f"""
    , pfx_m AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY device, inode ORDER BY path) > 1
               AS is_dup
        FROM {pfx_src}
    ), ok AS (
        SELECT * FROM pfx_m WHERE NOT is_dup
    ), ent_m AS (
        SELECT e.*, p.uid AS puid, p.gid AS pgid
        FROM {ent_src} e JOIN ok p ON e.parent = p.path
    ), files AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY device, inode ORDER BY path) > 1
               AS is_dup
        FROM ent_m WHERE NOT is_dir
    ), contrib AS (
        SELECT path AS prefix, uid AS cuid, gid AS cgid, 0 AS files,
               1 AS prefixes, 0 AS sub_prefixes, size AS bytes,
               size AS storage_bytes, size AS prefix_bytes, 0 AS hardlinks,
               0 AS hardlink_dirs
        FROM ok
        UNION ALL
        SELECT path, NULL, NULL, 0, 1, 0, 0, 0, 0, 0, 1
        FROM pfx_m WHERE is_dup
        UNION ALL
        SELECT parent, puid, pgid, 0, 0, 1, 0, 0, 0, 0, 0
        FROM ent_m WHERE is_dir
        UNION ALL
        SELECT parent, uid, gid, 0, 0, 0, 0, 0, 0, 1, 0
        FROM files WHERE is_dup
        UNION ALL
        SELECT parent, uid, gid, 1, 0, 0, size, size, 0, 0, 0
        FROM files WHERE NOT is_dup
    )
"""


_FS_CONTRIB_SQL = f"""
    WITH pfx AS (
        SELECT * FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet')
    ), ent AS (
        SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
    )""" + _fold_sql_tail("pfx", "ent")


def q29_fs_find_hardlink(spark, sf_dir):
    """P3/P5/P9: hardlink= operand (driver-side stat → literal predicate)
    combined with iname= and dir-larger= at both granularities."""
    from dudb_spark.operators.find import find

    ent = _fs(spark, "entries")

    def resolver(path):
        row = ent.where(F.col("path") == path).select("device", "inode").first()
        return row["device"], row["inode"]

    return find(
        _fs(spark, "prefixes"),
        ent,
        root="/tree",
        expr="hardlink=/tree/f0-2 || iname=S1-OK || dir-larger=9",
        hardlink_resolver=resolver,
    ).select("path", "is_prefix")


def q30_events_hourly_streamed(spark, sf_dir):
    """§2.9: the SAME hourly rollup as q15 executed as a Structured
    Streaming query (file source → watermark → windowed agg → memory sink,
    availableNow trigger), then checked against the ordinary SQL oracle —
    streaming results must equal batch results exactly."""
    import tempfile

    from dudb_spark.streaming.rollup import hourly_rollup, stream_events

    src = _staged_events(spark, sf_dir)

    with _stream_parts(spark):
        stream = stream_events(spark, src)
        q = (
            hourly_rollup(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dudb_q30_rollup")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q30_rollup")
        .select(
            _fmt_ts(F.col("hour_start"), "hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour", "event_type")
    )


def _scale_fs(li, size_plus=0, dir_prefix="d", dir_index=None,
              prefix_mtime="2025-01-01 00:00:00", pinode_plus=0):
    """q31's deterministic lineitem→filesystem mapping (500 dirs, one
    entry per row, hardlinks via partkey collisions) as a reusable
    builder, so the at-scale merge query (q87) can stage deterministic
    add/modify/delete variants of the same tree.  ``size_plus`` bumps
    every entry size (the 'modified' staging), ``dir_prefix``/
    ``dir_index`` relocate the rows into differently-named directories
    (the 'added' staging), ``prefix_mtime`` stamps the directory rows
    (a changed dir is detected by mtime, matching merge_scan's
    (mtime, mode) classification).  Returns (prefixes, entries)."""
    from dudb_spark.model import MODE_DIR

    dirnum = dir_index if dir_index is not None else F.col("l_orderkey") % 500
    parent = F.concat(F.lit("/scale/" + dir_prefix), dirnum)
    # Even the (orderkey, linenumber, partkey, suppkey) 4-tuple repeats at
    # some SFs (sf0.001 has one dup pair with DIFFERENT quantities) — the
    # identity must also fold in quantity, otherwise two rows collide on
    # path+inode and the dedup window's canonical pick becomes a coin flip
    # that changes the byte totals.  With quantity included, any residual
    # collision is between rows identical in every column the fold reads,
    # so the tie-break can't affect the result.
    qty = F.col("l_quantity").cast("long")
    fname = F.concat(
        F.lit("f"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber"),
        F.lit("-"), F.col("l_partkey"), F.lit("-"), F.col("l_suppkey"),
        F.lit("-"), qty,
    )
    uniq = (
        F.col("l_orderkey") * F.lit(1_000_000_000)
        + F.col("l_linenumber") * F.lit(100_000_000)
        + F.col("l_partkey") * F.lit(1_000)
        + F.col("l_suppkey")
    ) * F.lit(64) + qty
    inode = F.when(F.col("l_partkey") % 199 == 0, F.lit(42)).otherwise(uniq)

    size = qty + F.lit(size_plus)
    entries = li.select(
        parent.alias("parent"),
        fname.alias("name"),
        F.concat(parent, F.lit("/"), fname).alias("path"),
        F.lit(False).alias("is_dir"),
        size.cast("long").alias("size"),
        F.ceil(size / 512).cast("long").alias("blocks"),
        F.lit(0o644).cast("long").alias("mode"),
        F.col("l_shipdate").alias("mtime"),
        (F.col("l_suppkey") % 10).cast("long").alias("uid"),
        (F.col("l_partkey") % 7).cast("long").alias("gid"),
        F.lit(1).cast("long").alias("device"),
        inode.cast("long").alias("inode"),
    )
    # dir inodes must be unique: derive from the pre-collision unique id,
    # not the entry inode (the shared hardlink inode would alias dirs and
    # spuriously mark them duplicate directories)
    prefixes = li.groupBy(parent.alias("parent")).agg(
        F.count(F.lit(1)).alias("n_entries"),
        (F.min(uniq) + 10_000_000 + pinode_plus).alias("pinode"),
    ).select(
        F.col("parent").alias("path"),
        F.lit("/scale").alias("parent"),
        F.lit(1).alias("depth"),
        F.lit(64).cast("long").alias("size"),
        F.lit(1).cast("long").alias("blocks"),
        F.lit(MODE_DIR | 0o755).cast("long").alias("mode"),
        F.lit(False).alias("is_symlink"),
        F.lit(prefix_mtime).cast("timestamp").alias("mtime"),
        F.lit(0).cast("long").alias("uid"),
        F.lit(0).cast("long").alias("gid"),
        F.lit(1).cast("long").alias("device"),
        F.col("pinode").cast("long").alias("inode"),
        F.col("n_entries").cast("long").alias("n_entries"),
    )
    return prefixes, entries


def q31_fs_stats_at_scale(spark, sf_dir):
    """The stats engine at data scale: lineitem is deterministically mapped
    to a synthetic filesystem (500 dirs, one entry per lineitem row, a
    hardlink set via partkey collisions — :func:`_scale_fs`), then the
    FULL stats fold — dedup windows, grouping sets, per-prefix totals —
    runs over it.  At sf0.1 this is 600k entries through the real
    compute_stats plan; the oracle replicates the mapping + fold in SQL.
    This is the engine's ingest-side throughput benchmark (reference
    anchor: ≈4,700 rows/s, BASELINE.md)."""
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    li = _t(spark, sf_dir, "lineitem")
    prefixes, entries = _scale_fs(li)
    res = compute_stats(prefixes, entries, StatsOptions())
    return res.per_prefix.orderBy("prefix")


def q32_embedding_near_dup(spark, sf_dir):
    """Pipeline/similarity: embedding near-duplicate pairs via SRP-LSH
    blocking — only same-signature-bucket pairs are compared.  The oracle
    replicates the hyperplanes as SQL literals (same seed), so even the
    LSH bucketing is value-checked cross-engine."""
    from dudb_spark.pipeline.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.2, bits=8, seed=42).orderBy(
        "id_a", "id_b"
    )


# q33 (KMeans-quantizer IVF) was retired from the driver contract in round 2:
# its cell assignment depends on Spark ML KMeans internals that no SQL oracle
# can restate, so it could only ever be a rows-only row.  The deterministic
# twin q41_ann_ivf_exact carries the full IVF value contract (grid quantizer,
# same probe/search code path), and tests/test_ivf.py keeps the KMeans
# build_ivf path covered (full-probe == brute-force assertion).


def q34_fs_subtree_rollup(spark, sf_dir):
    """Extension beyond reference parity (SURVEY.md §2.3 note): recursive
    `du`-style subtree totals via ancestor-explode + one groupBy — linear
    in rows×depth where a prefix-LIKE join would be quadratic."""
    from dudb_spark.operators.rollup import subtree_totals

    return subtree_totals(_fs(spark, "entries")).orderBy("dir_path")


def q35_fs_rollup_at_scale(spark, sf_dir):
    """The rollup at data scale: lineitem mapped to a two-level synthetic
    tree (25 groups × 500 dirs, one file per row), rolled up with a depth
    cap (`du -d 1` analog) so the explode is pruned before aggregation.
    At sf0.1 this folds 600k entries into 26 output rows."""
    from dudb_spark.operators.rollup import subtree_totals

    li = _t(spark, sf_dir, "lineitem")
    parent = F.concat(
        F.lit("/scale/g"), F.col("l_orderkey") % 25,
        F.lit("/d"), F.col("l_orderkey") % 500,
    )
    fname = F.concat(
        F.lit("f"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber"),
        F.lit("-"), F.col("l_partkey"), F.lit("-"), F.col("l_suppkey"),
    )
    entries = li.select(
        parent.alias("parent"),
        F.concat(parent, F.lit("/"), fname).alias("path"),
        F.lit(False).alias("is_dir"),
        F.col("l_quantity").cast("long").alias("size"),
    )
    return subtree_totals(entries, root="/scale", max_depth=1).orderBy("dir_path")


def q36_winnow_fingerprints(spark, sf_dir):
    """Pipeline/text: MOSS-style winnowed rolling-hash fingerprints
    (Schleimer et al., SIGMOD'03), exploded to (doc_id, fp) rows.  The
    polynomial hash is plain modular arithmetic, so — unlike the xxhash64
    sketches — the oracle reproduces the exact values."""
    from dudb_spark.pipeline.text import winnow_df
    from dudb_spark.plans.layout import ensure_min_parallelism

    d = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    # (id, fp) rows are already unique (distinct arrays × PK doc_id)
    return (
        winnow_df(d, exploded=True)
        .select(F.col("id").alias("doc_id"), "fp")
        .orderBy("doc_id", "fp")
    )


def q37_fingerprint_overlap(spark, sf_dir):
    """Pipeline/dedup: copy-detection pairs by winnowed-fingerprint overlap
    (explode → one equi-join on fp → per-pair count), value-exact.  The
    pair frame is pinned + memoized so the compositions built on it
    (q44 clustering, q55 decisions, q58 consensus) run the winnow
    pipeline once per session."""
    from dudb_spark.pipeline.dedup import cached_fingerprint_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return cached_fingerprint_overlap_pairs(
        d, cache_key=("documents", sf_dir), min_shared=2
    ).orderBy("id_a", "id_b")


_STAGED_EVENTS_MEMO: dict = {}


def _staged_events(spark, sf_dir):
    """One staged copy of the events table (8 unordered parquet files)
    per session, shared by every streaming gate that replays the whole
    stream in one availableNow batch (q30/q49/q50/q59) — staging is
    setup, not the operator under test."""
    import tempfile

    key = (id(spark), sf_dir)
    got = _STAGED_EVENTS_MEMO.get(key)
    if got is not None and got[0] is spark:
        return got[1]
    src = tempfile.mkdtemp(prefix="dudb_stream_src_")
    _events(spark, sf_dir).repartition(8).write.mode("overwrite").parquet(src)
    _STAGED_EVENTS_MEMO[key] = (spark, src)
    return src


def _sessionize_gate(spark, sf_dir, query_name, max_files=None):
    """Shared body of the sessionization gates: stage the events as
    parquet, run the stateful operator (availableNow), return the memory
    sink.  ``max_files`` = per-micro-batch file cap; when set, files are
    range-partitioned by ts and mtime-stamped in time order so the file
    source replays them like a live ingest."""
    import os
    import tempfile
    from glob import glob as _glob

    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA
    from dudb_spark.streaming.sessions import sessionize

    ev = _events(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
    )
    src = tempfile.mkdtemp(prefix="dudb_sess_src_")
    if max_files:
        # 4 time-ordered files => 4 micro-batches: enough watermark
        # advances to exercise cross-batch splits AND the event-time
        # timeout close (deeper multi-batch shapes are fuzzed in
        # tests/test_sessions.py); each extra stateful micro-batch costs
        # ~1.8s of fixed overhead at gate scale, so 8 files doubled the
        # certification cost for no added coverage
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
        for k, p in enumerate(sorted(_glob(os.path.join(src, "part-*.parquet")))):
            os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    else:
        ev.repartition(8).write.mode("overwrite").parquet(src)

    with _stream_parts(spark):
        reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        q = (
            sessionize(reader.parquet(src), gap="30 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(query_name)


def q38_events_sessionized(spark, sf_dir):
    """§2.9 extension: the custom STATEFUL streaming operator
    (applyInPandasWithState session windows) through the driver gate.
    Event values are converted to integer cents up front so the kernel's
    sequential float accumulation is exact and engine-comparable.  The
    emit rule is watermark-exact (sessions.py): every session whose
    ``end + gap`` precedes the final watermark is emitted — closed by a
    successor event or by event-time timeout — so the oracle restates
    the same rule instead of dropping per-user trailing sessions."""
    return (
        _sessionize_gate(spark, sf_dir, "dudb_q38_sessions")
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            F.col("sum_value").cast("long").alias("sum_cents"),
        )
        .orderBy("user_id", "session_start")
    )


def q85_sessions_multibatch(spark, sf_dir):
    """The q38 stateful sessionizer under PER-FILE micro-batches
    (maxFilesPerTrigger=1, 8 time-ordered files): events split across
    batches, the watermark advances between them, and idle users'
    sessions close via event-time timeout — the round-2 verdict's
    robustness gate.  Same oracle as q38: emissions are a pure function
    of the data and the watermark rule, not of batch boundaries."""
    return (
        _sessionize_gate(spark, sf_dir, "dudb_q85_sessions", max_files=1)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
            F.col("sum_value").cast("long").alias("sum_cents"),
        )
        .orderBy("user_id", "session_start")
    )


def q39_fs_distinct_owners(spark, sf_dir):
    """Distinct aggregation over the scale mapping: exact distinct owner
    counts per directory.  Exact distinct costs an Expand shuffle; at
    100 TB swap in approx_count_distinct (HyperLogLog++, one pass, no
    expand) — exact kept here because the oracle hash-compares values."""
    li = _t(spark, sf_dir, "lineitem")
    parent = F.concat(F.lit("/scale/d"), F.col("l_orderkey") % 500)
    entries = li.select(
        parent.alias("parent"),
        (F.col("l_suppkey") % 10).cast("long").alias("uid"),
        (F.col("l_partkey") % 7).cast("long").alias("gid"),
    )
    return (
        entries.groupBy("parent")
        .agg(
            F.countDistinct("uid").alias("n_uids"),
            F.countDistinct("gid").alias("n_gids"),
            F.count(F.lit(1)).alias("n_files"),
        )
        .orderBy("parent")
    )


def q40_language_id_ngram(spark, sf_dir):
    """Pipeline/text: char-trigram language ID (n-gram heuristic — works
    without clean token boundaries, complementing q20's stopword voting)."""
    from dudb_spark.pipeline.text import language_id_ngram_df

    d = _t(spark, sf_dir, "documents")
    return (
        language_id_ngram_df(d)
        .select(F.col("id").alias("doc_id"), "lang_pred", "n_hits")
        .orderBy("doc_id")
    )


def q41_ann_ivf_exact(spark, sf_dir):
    """ANN-with-index, value-checked: deterministic IVF (first-k seed
    centroids + one decimal-exact Lloyd step) — the oracle reproduces the
    quantizer, both assignments, the probe choice and the final ranking
    bit-for-bit.  The production KMeans quantizer lives in
    pipeline/ivf.build_ivf (library API; retired from the gate in round 2
    because an external engine cannot replay Spark-ML initialization)."""
    from dudb_spark.pipeline.ivf import fixed_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    return fixed_ivf_topk(
        emb, q, k=10, n_clusters=16, n_probe=4,
        cells=_quantizer_cells(spark, sf_dir),
    )


_CELLS_MEMO: dict = {}


def _quantizer_cells(spark, sf_dir):
    """One fixed_cells quantizer pass per (session, sf_dir), shared by
    the IVF search (q41) and semantic dedup (q88) — both build the
    identical 16-cell assignment, so a session computes it once."""
    from dudb_spark.pipeline.ivf import fixed_cells

    key = (id(spark), sf_dir)
    got = _CELLS_MEMO.get(key)
    if got is not None and got[0] is spark:
        return got[1]
    emb = _t(spark, sf_dir, "embeddings")
    cells = fixed_cells(emb, n_clusters=16)
    _CELLS_MEMO[key] = (spark, cells)
    return cells


def q42_event_funnel(spark, sf_dir):
    """Sequential pattern matching (funnel): per user/day, signup events
    followed by a purchase by the SAME user within 30 minutes.  Shape: one
    equi-join on the user key with a time-range residual — the equi key
    carries the shuffle, so the range condition never becomes a cross
    join; AQE handles hot users.  First-qualifying-purchase semantics via
    min() per signup."""
    ev = _events(spark, sf_dir)
    a = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("uid"),
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("a_ts"),
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_uid"), F.col("ts").alias("b_ts")
    )
    conv = (
        a.join(
            b,
            (a.uid == b.b_uid)
            & (b.b_ts > a.a_ts)
            & (b.b_ts <= a.a_ts + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("signup_id", "uid", "a_ts")
        .agg(F.min("b_ts").alias("first_purchase_ts"))
    )
    return (
        conv.groupBy(F.to_date("a_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.countDistinct("uid").alias("n_users"),
        )
        .select(
            F.date_format(F.col("day"), "yyyy-MM-dd").alias("day"),
            "n_conversions",
            "n_users",
        )
        .orderBy("day")
    )


def q43_asof_join(spark, sf_dir):
    """As-of join (point-in-time lookup): each purchase event picks up the
    latest click by the same user at-or-before it.  Implemented with the
    union–sort trick (operators/asof.py) — ONE shuffle on user_id, no
    range join, so a hot user degrades to a big sort instead of a
    quadratic pair explosion.  The oracle is DuckDB's native ASOF JOIN."""
    from dudb_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    j = asof_join(purchases, clicks, on="user_id", ts="ts")
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("value", 6).alias("value"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("click_value", 6).alias("click_value"),
    ).orderBy("event_id")


def q44_dup_clusters(spark, sf_dir):
    """Duplicate clustering: q37's copy-detection pairs are only edges —
    transitivity (A~B, B~C ⇒ one cluster) needs connected components.
    Iterative min-label propagation (pipeline/cluster.py), one shuffle per
    round, rounds = component diameter (tiny for near-dup blobs).  The
    oracle restates the winnow pipeline + a recursive-CTE label
    propagation in DuckDB."""
    return _dup_clusters(spark, sf_dir).orderBy("doc_id")


def _dup_clusters(spark, sf_dir):
    """Shared winnow→pairs→components pipeline of q44/q55: the pair frame
    and the cluster labels are pinned + memoized (dedup.pinned_frame), so
    the dedup-decision job costs one window over q44's output instead of
    re-running the whole candidate pipeline."""
    from dudb_spark.pipeline.cluster import duplicate_clusters
    from dudb_spark.pipeline.dedup import (
        cached_fingerprint_overlap_pairs,
        pinned_frame,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = cached_fingerprint_overlap_pairs(
        d, cache_key=("documents", sf_dir), min_shared=2
    ).select("id_a", "id_b")
    return pinned_frame(
        spark,
        ("dup_clusters", sf_dir),
        lambda: duplicate_clusters(pairs),
    )


def q45_size_percentiles(spark, sf_dir):
    """Distribution profiling: exact grouped percentiles (p50/p90/p99)
    via Spark's `percentile` — order statistics with linear interpolation,
    matching DuckDB's quantile_cont bit-for-bit at round-6.  Exact
    percentile buffers each group's values, which is fine while groups
    are bounded (3 flags here); the 100 TB swap is
    `percentile_approx(...)` (t-digest, mergeable, constant memory) —
    same query shape, declared accuracy instead of exactness."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


def q46_stratified_sample(spark, sf_dir):
    """Training-corpus construction: deterministic stratified hash
    sampling (downsample the dominant language, upsample the rest) —
    a narrow, shuffle-free filter whose chosen rows are reproducible in
    any engine (pipeline/sampling.py; the oracle restates the hash in
    SQL).  `df.sample()` can't do this: its partition-seeded RNG picks
    different rows under repartitioning or retry."""
    from dudb_spark.pipeline.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        d,
        id_col="doc_id",
        strata_col="lang",
        rates={"en": 0.3, "de": 0.9, "fr": 0.9, "es": 0.9, "zh": 0.9},
        default_rate=0.0,
        salt=7,
    )
    return sampled.select("doc_id", "lang", "n_chars").orderBy("doc_id")


def q47_sequence_packing(spark, sf_dir):
    """Training-shard packing (concat-and-chunk): documents in stable
    doc_id order cut into 2000-token shards via a distributed prefix sum
    (operators/prefix.py) — range-partitioned two-phase running total, so
    no single-task global window anywhere in the plan.  A doc straddling
    a boundary belongs to the shard where it started, exactly streaming-
    concatenation semantics."""
    from dudb_spark.operators.prefix import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("tokens")
    )
    return pack_sequences(d, "doc_id", "tokens", budget=2000).orderBy(
        "doc_id"
    )


def q48_tfidf_terms(spark, sf_dir):
    """Text analysis: top-3 characteristic terms per document by smoothed
    TF-IDF (pipeline/text.tfidf_top_terms) — explode + one (doc, term)
    shuffle, document frequency from the reduced frame, N as a broadcast
    scalar, per-doc ranking window (no global sort)."""
    from dudb_spark.pipeline.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, top_k=3).orderBy("doc_id", "rank")


def q49_events_sliding(spark, sf_dir):
    """Sliding-window aggregation: 1-hour windows every 15 minutes.
    `F.window(slide=...)` explodes each event into windowLen/slide = 4
    rows scan-side (a narrow generate, no pre-shuffle), then one shuffle
    on (window, type).  The oracle unnests the same 4 epoch-aligned
    window starts per event."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias("w_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec(F.col("value"))), "sum_value"),
        )
        .select(
            _fmt_ts(F.col("w_start"), "w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("w_start", "event_type")
    )


def q50_stream_dedup(spark, sf_dir):
    """§2.9 extension: STREAMING deduplication (dropDuplicates with a
    watermark-bounded state store) through the driver gate — first
    sighting of each (user, event_type, day).  Only the key columns are
    emitted, so the streaming result equals batch SELECT DISTINCT
    row-for-row regardless of arrival order (streaming/dedup.py)."""
    import tempfile

    from dudb_spark.streaming.dedup import first_sightings
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    src = _staged_events(spark, sf_dir)

    with _stream_parts(spark):
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        q = (
            first_sightings(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q50_dedup")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q50_dedup")
        .select(
            "user_id",
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
        )
        .orderBy("user_id", "event_type", "day")
    )


def q51_interval_join(spark, sf_dir):
    """Range join without a nested loop: per-user activity sessions
    (30-minute gap rule) become intervals; every event (any user) inside
    a session is counted via the bucketized interval join
    (operators/rangejoin.py) — intervals explode to covered hour
    buckets, points map to one bucket, equi-join + residual.  The
    oracle uses the plain inequality join (DuckDB IEJoin)."""
    from pyspark.sql.window import Window

    from dudb_spark.operators.rangejoin import interval_join

    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts"))
    gap = sec - F.lag(sec).over(wu)
    is_new = (gap.isNull() | (gap > 1800)).cast("long")
    sessions = (
        ev.withColumn("sid", F.sum(is_new).over(wu))
        .groupBy(F.col("user_id").alias("s_user"), "sid")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    points = ev.select(F.col("event_id").alias("pid"), "ts")
    joined = interval_join(points, sessions, bucket_s=3600)
    return (
        joined.groupBy("s_user", "sid", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s_user").alias("user_id"),
            "sid",
            _fmt_ts(F.col("lo"), "session_start"),
            _fmt_ts(F.col("hi"), "session_end"),
            "n_events",
        )
        .orderBy("user_id", "sid")
    )


def q52_unigram_logprob(spark, sf_dir):
    """LM-style quality scoring: mean unigram log-prob of each document
    under the corpus's own unigram distribution (text.unigram_logprob) —
    the CCNet filter shape with a self-estimated model.  Low scores =
    rare-token soup (boilerplate, encoding junk); high = common fluent
    text."""
    from dudb_spark.pipeline.text import unigram_logprob

    d = _t(spark, sf_dir, "documents")
    return unigram_logprob(d).orderBy("doc_id")


def q53_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier-nation and
    customer-nation pairs per ship year.  Two broadcast copies of the
    same tiny nation dim under different aliases; the three fact joins
    shuffle on their keys and Catalyst/AQE orders them.  625 output
    groups from one partial+final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "volume",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def q54_heavy_hitter_terms(spark, sf_dir):
    """Corpus heavy hitters: top-25 terms by total occurrences.  Term
    frequencies are maximally skewed (stopwords), so the count runs
    through the salted two-phase aggregation (plans/layout.py): partial
    sums on (term, salt) spread a hot term over n_salts reducers before
    the final term-keyed sum; ranking is TakeOrderedAndProject.
    Deterministic tie-break on the term string."""
    from dudb_spark.plans.layout import salted_group_sum

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).withColumn("n", F.lit(1).cast("long"))
    counts = salted_group_sum(toks, ["term"], ["n"])
    return (
        counts.select("term", F.col("n").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), F.col("term").asc())
        .limit(25)
    )


def q55_dedup_decision(spark, sf_dir):
    """The end-to-end dedup decision table: near-dup clusters (q44's
    connected components) × quality scores (q21) → one keep per cluster
    (highest quality, doc_id tie-break).  This is the row a production
    corpus-dedup job writes: every clustered document with its verdict."""
    from pyspark.sql.window import Window

    from dudb_spark.pipeline.text import quality_score

    d = _t(spark, sf_dir, "documents")
    clusters = _dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = d.select("doc_id", quality_score(F.col("text")).alias("quality"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality", "keep")
        .orderBy("doc_id")
    )


def q56_multimodal_features(spark, sf_dir):
    """Multimodal plumbing through the value gate: binary payloads
    (documents' utf-8 bytes standing in for media) run the Arrow-batched
    mapInPandas decode stage (pipeline/multimodal.extract_features).
    The stub decoder is sha256-derived, so DuckDB replays it exactly —
    proving the JVM↔Python columnar boundary, schema, and batching are
    semantically transparent.  The only Pandas-UDF query in the gate
    besides the stateful streaming ops; everything else is JVM-side by
    design."""
    from dudb_spark.pipeline.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    feats = extract_features(media, dim=8)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "n_bytes",
        # widen float32 -> double BEFORE rounding; the oracle replicates
        # the float32 quantization with CAST(... AS FLOAT) so both sides
        # round the bit-identical double
        *[
            F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(
                f"f{i}"
            )
            for i in range(8)
        ],
    ).orderBy("doc_id")


def _multimodal_oracle_sql(dim: int = 8) -> str:
    # CAST(... AS FLOAT) replays the engine's float32 feature storage, so
    # the ROUND sees the bit-identical double the Spark side widens from
    cols = ",\n               ".join(
        f"ROUND(CAST(CAST(CAST(concat('0x', substr(hx, {2 * i + 1}, 2)) AS INT)"
        f" / 255.0 AS FLOAT) AS DOUBLE), 6) AS f{i}"
        for i in range(dim)
    )
    return f"""
        WITH m AS (
            SELECT doc_id, sha256(text) AS hx,
                   octet_length(CAST(text AS BLOB)) AS n_bytes
            FROM documents
        )
        SELECT doc_id, n_bytes,
               {cols}
        FROM m ORDER BY doc_id
    """


def q57_mixture_sample(spark, sf_dir):
    """Training-mixture resolution: target source weights (upweight the
    'high-quality' half of the sources 3:1) resolve to per-source hash-
    sampling rates in-plan — counts → broadcast scale → thresholds —
    then one deterministic filter (pipeline/sampling.mixture_sample).
    The oracle replays the same double arithmetic and hash in SQL."""
    from dudb_spark.pipeline.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    weights = {f"src{i}": (3.0 if i >= 10 else 1.0) for i in range(20)}
    return (
        mixture_sample(d, "doc_id", "source", weights, salt=11)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


def _mixture_oracle_sql() -> str:
    from dudb_spark.pipeline.sampling import sample_hash_sql

    w_case = " ".join(
        f"WHEN 'src{i}' THEN {3.0 if i >= 10 else 1.0}" for i in range(20)
    )
    return f"""
        WITH cw AS (
            SELECT source, CASE source {w_case} END AS w,
                   COUNT(*) AS cnt
            FROM documents GROUP BY source, 2
        ), s AS (
            SELECT MIN(CAST(cnt AS DOUBLE) / w) AS scale FROM cw
        ), r AS (
            SELECT source,
                   CAST(FLOOR(1000000.0 * s.scale * cw.w / cw.cnt) AS BIGINT)
                     AS thresh
            FROM cw CROSS JOIN s
        )
        SELECT doc_id, source, lang
        FROM documents JOIN r USING (source)
        WHERE {sample_hash_sql('doc_id', salt=11)} < thresh
        ORDER BY doc_id
    """


def q58_consensus_dedup(spark, sf_dir):
    """Cross-modal dedup evidence table: every candidate pair from either
    modality — winnowed text overlap (q37) and embedding cosine (q32) —
    full-outer-joined on the pair key and tagged text/emb/both.  Both
    candidate generators are LSH-blocked equi-joins and the merge is a
    third equi-join, so the whole pipeline stays quadratic-free."""
    from dudb_spark.pipeline.dedup import cached_fingerprint_overlap_pairs
    from dudb_spark.pipeline.similarity import cosine_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "doc_id"
    )
    text_pairs = cached_fingerprint_overlap_pairs(
        d, cache_key=("documents", sf_dir), min_shared=2
    ).select("id_a", "id_b", "overlap")
    emb_pairs = cosine_near_dup_pairs(
        emb, threshold=0.2, bits=8, seed=42, id_col="doc_id"
    ).select("id_a", "id_b", "cosine")
    return (
        text_pairs.join(emb_pairs, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            "overlap",
            "cosine",
            F.when(F.col("overlap").isNull(), "emb")
            .when(F.col("cosine").isNull(), "text")
            .otherwise("both")
            .alias("modality"),
        )
        .orderBy("id_a", "id_b")
    )


def q59_events_sliding_streamed(spark, sf_dir):
    """§2.9: q49's sliding-window rollup as a Structured Streaming query
    (file source → watermark → overlapping windows → memory sink),
    checked against the same batch SQL oracle — streaming must equal
    batch exactly, overlap and all."""
    import tempfile

    from dudb_spark.streaming.rollup import sliding_rollup, stream_events

    src = _staged_events(spark, sf_dir)

    with _stream_parts(spark):
        stream = stream_events(spark, src)
        q = (
            sliding_rollup(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dudb_q59_sliding")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q59_sliding")
        .select(
            _fmt_ts(F.col("w_start"), "w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("w_start", "event_type")
    )


def q61_priority_pivot(spark, sf_dir):
    """Pivot (long→wide reshaping): order counts per month × priority.
    An EXPLICIT pivot value list keeps the plan single-pass — without it
    Spark runs an extra distinct-collect job to discover the columns,
    a silent driver round-trip you don't want at 100 TB.  The oracle is
    conditional aggregation (FILTER), the engine-portable restatement."""
    o = _t(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .pivot("o_orderpriority", pri)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [p for p in pri])
    )
    renames = {p: f"p{p[0]}" for p in pri}  # p1..p5: stable column names
    for old, new in renames.items():
        wide = wide.withColumnRenamed(old, new)
    return wide.orderBy("month")


def q62_amount_unpivot(spark, sf_dir):
    """Unpivot / melt (wide→long reshaping): lineitem's three amount
    columns become (metric, value) rows via stack() — a scan-side
    generate, no shuffle until the aggregate — then sum per returnflag ×
    metric.  The oracle is the UNION ALL restatement."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) AS (metric, value)"
        ),
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(
            _money(F.sum(_dec(F.col("value"))), "total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "metric")
    )


def q60_size_histogram(spark, sf_dir):
    """du-style file-size histogram: power-of-two buckets via the binary
    digit count (length(bin(size)) — pure integer/string ops, so no
    float-log edge cases at exact powers of two).  One narrow projection
    + one aggregation; the classic first question against a filesystem
    snapshot."""
    ent = _fs(spark, "entries")
    return (
        ent.where(~F.col("is_dir"))
        .select(F.length(F.bin(F.col("size"))).alias("bucket"), "size")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").alias("total_bytes"),
            F.min("size").alias("min_size"),
            F.max("size").alias("max_size"),
        )
        .orderBy("bucket")
    )


def _stratified_sample_oracle_sql() -> str:
    from dudb_spark.pipeline.sampling import sample_hash_sql

    bucket = sample_hash_sql("doc_id", salt=7)
    return f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE {bucket} < CASE lang
            WHEN 'en' THEN 300000
            WHEN 'de' THEN 900000 WHEN 'fr' THEN 900000
            WHEN 'es' THEN 900000 WHEN 'zh' THEN 900000
            ELSE 0 END
        ORDER BY doc_id
    """


def _cc_cte() -> str:
    """Shared CTE chain: winnow fingerprints → overlap pairs → recursive
    min-label components (ends with `comp(doc_id, cluster_id)`).  Used by
    the q44 and q55 oracles — keep in lockstep with
    pipeline/cluster.py + dedup.fingerprint_overlap_pairs."""
    winnow = _winnow_sql_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    return (
        winnow
        + """
        , sizes AS (
            SELECT fp, COUNT(*) AS _n FROM fp GROUP BY fp
        ), capped AS (
            SELECT f.doc_id, f.fp FROM fp f JOIN sizes USING (fp)
            WHERE _n <= 100
        ), cnt AS (
            SELECT doc_id, COUNT(*) AS n_fp FROM capped GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
        ), good AS (
            SELECT id_a, id_b
            FROM pairs JOIN cnt ca ON id_a = ca.doc_id
                       JOIN cnt cb ON id_b = cb.doc_id
            WHERE CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) >= 0.5
        ), edges AS (
            SELECT id_a AS n, id_b AS m FROM good
            UNION
            SELECT id_b, id_a FROM good
        ), reach AS (
            SELECT n, n AS lbl FROM (SELECT DISTINCT n FROM edges)
            UNION
            SELECT e.m AS n, r.lbl
            FROM reach r JOIN edges e ON e.n = r.n
        ), comp AS (
            SELECT n AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY n
        )
    """
    )


def _dup_clusters_oracle_sql() -> str:
    """q44: component id + size per clustered document."""
    return (
        _cc_cte()
        + """
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp ORDER BY doc_id
    """
    )


def _dedup_decision_oracle_sql() -> str:
    """q55: per cluster keep the highest-quality document (q21's quality
    formula), doc_id ascending as the tie-break."""
    return (
        _cc_cte()
        + """
        , toks AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
            FROM documents
        ), q AS (
            SELECT doc_id,
                   ROUND((CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                          + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)
                          + CASE WHEN len(t) BETWEEN 20 AND 2000 THEN 1.0
                                 WHEN len(t) < 20 THEN CAST(len(t) AS DOUBLE) / 20
                                 ELSE 0.5 END) / 3, 6) AS quality
            FROM toks
        ), ranked AS (
            SELECT comp.doc_id, comp.cluster_id, q.quality,
                   ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                       ORDER BY q.quality DESC, comp.doc_id ASC) AS rn
            FROM comp JOIN q USING (doc_id)
        )
        SELECT doc_id, cluster_id, quality, rn = 1 AS keep
        FROM ranked ORDER BY doc_id
    """
    )


def _fixed_ivf_oracle_sql(n_clusters: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """DuckDB restatement of q41: same seed centroids, argmax assignment
    (cosine rounded 6, smaller-cell tie-break), decimal-exact Lloyd means,
    probe selection and final ranking."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , q AS (
            SELECT v FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c1.cell FROM c1, q
            ORDER BY {cos('c1.v', 'q.v')} DESC, c1.cell ASC LIMIT {n_probe}
        )
        SELECT a1.vec_id, {cos('a1.v', 'q.v')} AS cosine
        FROM a1 JOIN probe USING (cell), q
        WHERE a1.vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT {k}
    """


def _semantic_dedup_oracle_sql(n_clusters: int = 16, thr: float = 0.2) -> str:
    """DuckDB restatement of q88: the q41 quantizer chain (seed centroids,
    6-decimal argmax assignment, decimal-exact Lloyd means, re-assignment)
    followed by the SemDeDup shadowing rule — min lower same-cell id with
    cosine ≥ thr."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , shadows AS (
            SELECT b.vec_id AS vid, MIN(a.vec_id) AS dup_of
            FROM a1 a JOIN a1 b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {cos('a.v', 'b.v')} >= {thr}
            GROUP BY b.vec_id
        )
        SELECT a1.vec_id, CAST(a1.cell AS BIGINT) AS cell, s.dup_of,
               s.dup_of IS NULL AS kept
        FROM a1 LEFT JOIN shadows s ON a1.vec_id = s.vid
        ORDER BY a1.vec_id
    """


def _trigram_oracle_sql() -> str:
    """DuckDB restatement of q40: same normalization, trigram set, profile
    intersections, and the argmax-with-lexicographic-tie-break that
    array_max(struct(hits, lang)) implies (ties → later language code)."""
    from dudb_spark.pipeline.text import TRIGRAM_PROFILES

    hit_cols = ", ".join(
        f"len(list_filter(tg, x -> list_contains({profile!r}, x))) AS h_{lang}"
        for lang, profile in sorted(TRIGRAM_PROFILES.items())
    )
    langs_desc = sorted(TRIGRAM_PROFILES, reverse=True)
    pick = " ".join(
        f"WHEN h_{lang} = mx THEN '{lang}'" for lang in langs_desc[:-1]
    )
    last = langs_desc[-1]
    return f"""
        WITH nrm AS (
            SELECT doc_id,
                   '_' || regexp_replace(lower(text), '\\s+', '_', 'g') || '_' AS s
            FROM documents
        ), tgs AS (
            SELECT doc_id,
                   list_distinct([s[i:i+2]
                       FOR i IN range(1, greatest(len(s)-2, 1) + 1)]) AS tg
            FROM nrm
        ), hits AS (
            SELECT doc_id, {hit_cols} FROM tgs
        ), mxx AS (
            SELECT *, greatest(h_de, h_en, h_es, h_fr) AS mx FROM hits
        )
        SELECT doc_id,
               CASE WHEN mx = 0 THEN 'und' {pick} ELSE '{last}' END AS lang_pred,
               CAST(mx AS INTEGER) AS n_hits
        FROM mxx ORDER BY doc_id
    """


def _minhash_oracle_sql(
    num_perm: int = 32, bands: int = 8, shingle_k: int = 3, seed: int = 42
) -> str:
    """DuckDB restatement of q16's poly-hash MinHash+LSH pipeline: same
    Horner shingle hashes, same affine permutations (coefficients replayed
    from random.Random(seed) exactly as minhash_signature derives them),
    same band folds, bucket cap, est filter, and exact-Jaccard verify."""
    import random

    M = (1 << 31) - 1
    r = num_perm // bands
    rnd = random.Random(seed)
    perms = []
    coeff_cap = min(1 << 30, M)
    for _ in range(num_perm):
        a = rnd.randrange(1, coeff_cap)
        b = rnd.randrange(0, coeff_cap)
        perms.append((a, b))

    # permutations run mod 2^31-1 (the poly-base modulus; see
    # minhash_signature on why the modulus must wrap the products)
    sig_exprs = ", ".join(
        f"list_aggregate(list_transform(hs, h -> ({a}*h+{b}) % {M}), 'min')"
        for a, b in perms
    )
    bucket_exprs = ", ".join(
        f"list_reduce(list_prepend(0::BIGINT, sig[{b * r + 1}:{b * r + r}]),"
        f" (a, v) -> (a*257+v) % {M})"
        for b in range(bands)
    )
    band_ids = ", ".join(str(b) for b in range(bands))
    matches = f"len([i FOR i IN range(1, {num_perm + 1}) IF a.sig[i] = b.sig[i]])"
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), hsx AS (
            SELECT doc_id, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+{shingle_k - 1}]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-{shingle_k - 1}, 1) + 1)]) AS hs
            FROM tkh
        ), sigs AS (
            SELECT doc_id, [{sig_exprs}] AS sig FROM hsx
        ), banded AS (
            SELECT doc_id, sig,
                   unnest([{band_ids}]) AS band,
                   unnest([{bucket_exprs}]) AS bucket
            FROM sigs
        ), sizes AS (
            SELECT band, bucket, COUNT(*) AS _n FROM banded GROUP BY band, bucket
        ), capped AS (
            SELECT bd.* FROM banded bd JOIN sizes USING (band, bucket)
            WHERE _n <= 1000
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND({matches} / {float(num_perm)}, 6) AS est_jaccard
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), cand AS (
            SELECT * FROM pairs WHERE est_jaccard >= 0.5
        )
        SELECT c.id_a, c.id_b,
               ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
                     / len(list_distinct(sa.hs || sb.hs)), 6) AS jaccard
        FROM cand c JOIN hsx sa ON c.id_a = sa.doc_id
                    JOIN hsx sb ON c.id_b = sb.doc_id
        WHERE ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
              / len(list_distinct(sa.hs || sb.hs)), 6) >= 0.3
        ORDER BY id_a, id_b
    """


def _simhash_oracle_sql(max_hamming: int = 3, bits: int = 62) -> str:
    """DuckDB restatement of q19's poly SimHash: packed double-Horner token
    hashes, 62 per-bit majority votes, 16-bit pigeonhole block join, exact
    Hamming verify via bit_count(xor)."""
    M = (1 << 31) - 1
    nblocks = max_hamming + 1
    width = 64 // nblocks

    def fold(base):
        return (
            "list_reduce(list_prepend(0::BIGINT, "
            "[ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]), "
            f"(a,b) -> (a*{base}+b) % {M})"
        )

    vote = lambda i: (
        "CASE WHEN list_aggregate(list_transform(th, v -> "
        f"CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN {1 << i} ELSE 0 END"
    )
    sig_expr = " + ".join(vote(i) for i in range(bits))
    block_ids = ", ".join(str(b) for b in range(nblocks))
    block_vals = ", ".join(
        f"(sh >> {b * width}) & {(1 << width) - 1}" for b in range(nblocks)
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), th AS (
            SELECT doc_id,
                   [ {fold(257)} * {1 << 31} + {fold(263)}
                     FOR j IN range(1, len(tk)+1) ] AS th
            FROM t
        ), sigs AS (
            SELECT doc_id, ({sig_expr})::BIGINT AS sh FROM th
        ), blocks AS (
            SELECT doc_id, sh,
                   unnest([{block_ids}]) AS block,
                   unnest([{block_vals}]) AS val
            FROM sigs
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sh, b.sh)) AS hamming
            FROM blocks a JOIN blocks b
              ON a.block = b.block AND a.val = b.val AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM pairs
        WHERE hamming <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _winnow_sql_cte(k: int = 5, window: int = 4) -> str:
    """DuckDB CTEs computing the SAME winnowed fingerprints as the Spark
    side (identical modular polynomial arithmetic)."""
    mod = (1 << 31) - 1
    powers = [pow(257, k - 1 - j, mod) for j in range(k)]
    terms = " + ".join(
        f"ord(s[i+{j}])::BIGINT * {p}" for j, p in enumerate(powers)
    )
    return f"""
        WITH nrm AS (
            SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
            FROM documents
        ), h AS (
            SELECT doc_id,
                   [ ({terms}) % {mod}
                     FOR i IN range(1, greatest(len(s) - {k - 1}, 1) + 1) ] AS hs
            FROM nrm WHERE len(s) >= {k}
        ), w AS (
            SELECT doc_id,
                   list_sort(list_distinct(
                     [ list_aggregate(hs[i:i+{window - 1}], 'min')
                       FOR i IN range(1, greatest(len(hs) - {window - 1}, 1) + 1) ]))
                     AS fps
            FROM h
        ), fp AS (
            SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w
        )
    """


def _srp_oracle_sql(bits: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Build the DuckDB SQL for q32 with the SAME hyperplane coefficients
    the Spark side derives from random.Random(seed)."""
    import random

    rnd = random.Random(seed)
    planes = [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
    bit_terms = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(c) for c in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH sig AS (
            SELECT vec_id AS id, embedding, ({bit_terms}) AS s
            FROM embeddings
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) AS cosine
        FROM sig a JOIN sig b ON a.s = b.s AND a.id < b.id
        WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
              6) >= 0.2
        ORDER BY id_a, id_b
    """


def q26_json_props(spark, sf_dir):
    """F-extension: semi-structured JSON column extraction (events.props),
    grouped — JSON path eval stays JVM-side (get_json_object)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q27_fs_merged_topn(spark, sf_dir):
    """A6: Heaps.Merge — one row per prefix appearing in ANY of the five
    per-metric top-N rankings (five TakeOrdered frames + broadcast
    semi-join; no global window)."""
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    return res.merged_top(3).orderBy("prefix")


def q28_brand_revenue(spark, sf_dir):
    """J3 variant: fact ⋈ broadcast(part dim) rollup by brand."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Ingest-path contract queries (q63–q65): a DETERMINISTIC "rescan" of the
# committed fs fixture — delete the /tree/d0-2 subtree, touch three
# directories (+1 h mtime), add two new dirs under the (touched) root — run
# through the real merge_scan operator (J1 unchanged-skip, J2/S7 deletion
# cascade, A10 counters).  Every mutation is a pure column transformation,
# so the DuckDB oracle restates the staging AND the merge semantics from
# the same fixture parquet (mirrors reference analyze_test.go:262–338).
# ---------------------------------------------------------------------------

_MERGE_DEL = "/tree/d0-2"  # subtree deleted by the rescan
_MERGE_NEW_SRC = ("/tree/d0-0", "/tree/d0-1")  # cloned to /tree/znew-*


def _merge_fixture(spark):
    """(prev_p, prev_e, staged_p, staged_e) for the deterministic rescan."""
    prev_p = _fs(spark, "prefixes")
    prev_e = _fs(spark, "entries")

    changed = F.col("path").endswith("/d1-0") | (F.col("path") == "/tree")
    alive_p = prev_p.where(~F.col("path").startswith(_MERGE_DEL))
    touched = alive_p.withColumn(
        "mtime",
        F.when(changed, F.col("mtime") + F.expr("INTERVAL 1 HOUR")).otherwise(
            F.col("mtime")
        ),
    )
    # two added dirs, cloned from existing top-level dirs (new inode, empty)
    new_dirs = (
        prev_p.where(F.col("path").isin(*_MERGE_NEW_SRC))
        .withColumn("path", F.regexp_replace("path", "d0-", "znew-"))
        .withColumn("inode", F.col("inode") + F.lit(1_000_000))
        .withColumn("n_entries", F.lit(0))
    )
    staged_p = touched.unionByName(new_dirs)

    alive_e = prev_e.where(
        ~F.col("parent").startswith(_MERGE_DEL)
        & (F.col("path") != _MERGE_DEL)
    )
    new_ents = (
        prev_e.where(F.col("path").isin(*_MERGE_NEW_SRC))
        .withColumn("name", F.regexp_replace("name", "d0-", "znew-"))
        .withColumn("path", F.regexp_replace("path", "d0-", "znew-"))
        .withColumn("inode", F.col("inode") + F.lit(1_000_000))
    )
    staged_e = alive_e.unionByName(new_ents)
    return prev_p, prev_e, staged_p, staged_e


def q63_merge_counters(spark, sf_dir):
    """J1/J2/S7/A10: merge_scan summary counters for the deterministic
    rescan — added/changed/deleted/unchanged classification plus the
    post-merge file count, in one counter job (ingest.py)."""
    from dudb_spark.operators.ingest import merge_scan

    prev_p, prev_e, staged_p, staged_e = _merge_fixture(spark)
    res = merge_scan(prev_p, prev_e, staged_p, staged_e, root="/tree")
    s = res.summary
    return spark.createDataFrame(
        [
            (
                s["prefixes_added"],
                s["prefixes_changed"],
                s["prefixes_deleted"],
                s["parent_unchanged"],
                s["prefixes_started"],
                s["files"],
            )
        ],
        "prefixes_added long, prefixes_changed long, prefixes_deleted long, "
        "parent_unchanged long, prefixes_started long, files long",
    )


def q64_merge_snapshot(spark, sf_dir):
    """J1 snapshot assembly: the post-merge prefixes table — staged rows
    for changed/added dirs, previous rows reused for unchanged, deleted
    subtree gone."""
    from dudb_spark.operators.ingest import merge_scan

    prev_p, prev_e, staged_p, staged_e = _merge_fixture(spark)
    res = merge_scan(prev_p, prev_e, staged_p, staged_e, root="/tree")
    return res.prefixes.select(
        "path",
        _fmt_ts(F.col("mtime"), "mtime"),
        F.col("size").cast("long").alias("size"),
        F.col("n_entries").cast("long").alias("n_entries"),
    ).orderBy("path")


def _force_fixture(spark):
    """q141 staging: the q63 rescan PLUS an in-place file edit under an
    UNCHANGED directory (/tree/d0-1/d1-1's files: size+13, mtime+2h —
    the dir's own mtime/mode untouched) — exactly the churn the J1
    unchanged-skip cannot see (the reference reuses the stored rows,
    analyze.go:236–242) and the reason ``analyze --force`` exists."""
    prev_p, prev_e, staged_p, staged_e = _merge_fixture(spark)
    inplace = ~F.col("is_dir") & (F.col("parent") == "/tree/d0-1/d1-1")
    staged_e = staged_e.withColumn(
        "size",
        F.when(inplace, F.col("size") + F.lit(13)).otherwise(F.col("size")),
    ).withColumn(
        "mtime",
        F.when(inplace, F.col("mtime") + F.expr("INTERVAL 2 HOUR"))
        .otherwise(F.col("mtime")),
    )
    return prev_p, prev_e, staged_p, staged_e


def q141_force_rescan(spark, sf_dir):
    """J1 override (``analyze --force`` → ingest.merge_scan(force=True),
    the corrupted-snapshot / in-place-edit recovery path): the staged
    scan carries file edits under a directory whose own (mtime, mode)
    did NOT change.  A normal merge REUSES the stored rows for that
    directory (q65's certified behavior — the edit would be lost);
    force classifies every alive dir as changed, so the staged rows
    land.  The oracle restates the forced merge — entries = the staged
    scan itself (every alive dir rewritten, deletion cascade applied) —
    which differs from q65's oracle exactly on the edited directory's
    file_bytes (+13/file), value-proof that the bypass happened."""
    from dudb_spark.operators.ingest import merge_scan

    prev_p, prev_e, staged_p, staged_e = _force_fixture(spark)
    res = merge_scan(
        prev_p, prev_e, staged_p, staged_e, root="/tree",
        with_summary=False, force=True,
    )
    return (
        res.entries.groupBy("parent")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.sum(F.when(~F.col("is_dir"), F.col("size")).otherwise(0))
            .cast("long")
            .alias("file_bytes"),
        )
        .orderBy("parent")
    )


def q65_merge_entries_reuse(spark, sf_dir):
    """J1 unchanged-skip on the ENTRIES side: the staged scan omits the
    children of every unchanged directory (incremental scanners don't
    re-stat them); the merge must reuse the previous snapshot's rows, and
    the deleted subtree's entries must cascade out (S7)."""
    from dudb_spark.operators.ingest import merge_scan

    prev_p, prev_e, staged_p, staged_e = _merge_fixture(spark)
    changed_parents = ("/tree", "/tree/d0-0/d1-0", "/tree/d0-1/d1-0")
    staged_e_min = staged_e.where(F.col("parent").isin(*changed_parents))
    res = merge_scan(prev_p, prev_e, staged_p, staged_e_min, root="/tree")
    return (
        res.entries.groupBy("parent")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.sum(F.when(~F.col("is_dir"), F.col("size")).otherwise(0))
            .cast("long")
            .alias("file_bytes"),
        )
        .orderBy("parent")
    )


# ---------------------------------------------------------------------------
# Report-sink / catalog / crawler contract queries (q66–q70): exercise the
# operators that WRITE artifacts (S10–S14, A9, F4, S6/X3, S1–S3/X4) and feed
# what they wrote back through the oracle, so the driver certifies the sink
# output — not just the upstream frames.
# ---------------------------------------------------------------------------


_REPORT_MEMO: dict = {}


def _report_set(spark):
    """One report-set write per session, shared by the three sink
    certifications (q66 TSV, q83 JSON, q84 Markdown): a user generates
    ONE timestamped report tree and reads its formats — the queries
    certify the sinks, not three redundant stats folds.  Returns the
    report dir path."""
    import tempfile
    from datetime import datetime, timezone

    from dudb_spark.operators.stats import StatsOptions, compute_stats
    from dudb_spark.reports.sinks import write_reports

    got = _REPORT_MEMO.get(id(spark))
    if got is not None and got[0] is spark:
        return got[1]
    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    root = tempfile.mkdtemp(prefix="dudb_reports_")
    out = write_reports(
        res, root, display_n=3,
        when=datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc),
    )
    _REPORT_MEMO[id(spark)] = (spark, out)
    return out


def q66_report_tsv(spark, sf_dir):
    """S11/S14/A9/F4: write a full timestamped report set for the fixture
    stats, read the TSV back, and attach the KB/KiB formatted byte columns
    (units.format_bytes, applied driver-side over the bounded top-N rows —
    presentation is the one legitimately driver-side stage)."""
    from dudb_spark.functions.units import format_bytes

    out = _report_set(spark)
    longs = [
        "bytes", "storage_bytes", "prefix_bytes", "files", "sub_prefixes",
        "prefixes", "hardlinks", "hardlink_dirs",
    ]
    tsv = (
        spark.read.option("sep", "\t").option("header", "true")
        .csv(f"{out}/tsv")
        .select("prefix", *[F.col(c).cast("long").alias(c) for c in longs])
    )
    rows = [r.asDict() for r in tsv.collect()]
    for r in rows:
        r["bytes_h"] = format_bytes(r["bytes"], binary=False)
        r["bytes_bin"] = format_bytes(r["bytes"], binary=True)
    schema = (
        "prefix string, " + ", ".join(f"{c} long" for c in longs)
        + ", bytes_h string, bytes_bin string"
    )
    return spark.createDataFrame(
        [tuple(r[c] for c in ["prefix", *longs, "bytes_h", "bytes_bin"])
         for r in sorted(rows, key=lambda r: r["prefix"])],
        schema,
    )


def q67_report_locate(spark, sf_dir):
    """S14/O3: stage one (empty) report dir per earliest-3 event day at the
    given sf, then ``reports locate`` returns the newest 2, sorted — the
    dir names derive from the DATA so the oracle recomputes them instead
    of echoing constants."""
    import os
    import tempfile

    from dudb_spark.reports.sinks import locate_reports

    days = [
        r["d"]
        for r in _events(spark, sf_dir)
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .collect()
    ]
    root = tempfile.mkdtemp(prefix="dudb_q67_")
    for d in days:
        os.makedirs(os.path.join(root, f"{d}-000000"), exist_ok=True)
    located = locate_reports(root, n=2)
    # list-of-names schema: `when` trips the DDL parser as a keyword
    return spark.createDataFrame(
        [(x["report"], x["when"]) for x in located], ["report", "when"]
    )


def q83_report_json(spark, sf_dir):
    """S12 (json.go:20–39 parity): the JSON-lines report sink written by
    write_reports, read back and value-checked against the merged top-N
    restatement — the q66 TSV certification pattern applied to the JSON
    sink."""
    out = _report_set(spark)
    longs = [
        "bytes", "storage_bytes", "prefix_bytes", "files", "sub_prefixes",
        "prefixes", "hardlinks", "hardlink_dirs",
    ]
    return (
        spark.read.json(f"{out}/json")
        .select("prefix", *[F.col(c).cast("long").alias(c) for c in longs])
        .orderBy("prefix")
    )


def q84_report_markdown(spark, sf_dir):
    """S13 (markdown.go:32–179 parity): render the Markdown report and
    parse every numeric table cell back into (section, row_key, value)
    rows — totals, the five top-N-by-metric tables, and the per-user /
    per-group byte rankings — so the whole template is value-checked
    against a DuckDB restatement of the same fold."""
    out = _report_set(spark)
    with open(f"{out}/markdown/report.md") as f:
        content = f.read()

    rows, section = [], None
    for line in content.splitlines():
        if line.startswith("### Top "):
            section = "top_" + line.split(" by ")[-1]
        elif line.startswith("## Totals"):
            section = "totals"
        elif line.startswith("## Per user"):
            section = "per_user"
        elif line.startswith("## Per group"):
            section = "per_group"
        elif line.startswith("## "):
            section = None
        elif section and line.startswith("|"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            if cells and cells[-1].lstrip("-").isdigit():
                rows.append((section, cells[0], int(cells[-1])))
    return spark.createDataFrame(
        rows, "section string, row_key string, value long"
    ).orderBy("section", "row_key")


def q86_real_codecs(spark, sf_dir):
    """Real (non-stub) multimodal decode through the Arrow path: BMP and
    WAV payloads built formulaically from ids are parsed by the
    pure-Python codecs (pipeline/multimodal.decode_bmp/decode_wav) and
    the decoded channel means / RMS are value-checked against a DuckDB
    restatement of the same formulas — pixels and PCM samples actually
    decoded, not digest stubs."""
    from dudb_spark.pipeline import multimodal as mm

    rows = []
    for i in range(24):
        if i % 2 == 0:
            color = (i * 7 % 256, i * 13 % 256, i * 29 % 256)
            payload = mm.synthetic_bmp(8, 4, color)
            meta = ("image", "bmp", 8, 4, None, len(payload))
        else:
            samples = [(i * j * 37) % 2001 - 1000 for j in range(32)]
            payload = mm.synthetic_wav(samples, rate=8000)
            meta = ("audio", "wav", None, None, None, len(payload))
        rows.append((i, bytearray(payload), meta))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    d = mm.decode_media(media)
    return d.select(
        "media_id", "format", "width", "height", "n_channels", "sample_rate",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round(F.try_element_at("mean", F.lit(1)), 6).alias("mean1"),
        F.round(F.try_element_at("mean", F.lit(2)), 6).alias("mean2"),
        F.round(F.try_element_at("mean", F.lit(3)), 6).alias("mean3"),
        F.round("rms", 6).alias("rms"),
    ).orderBy("media_id")


def q87_merge_at_scale(spark, sf_dir):
    """J1/J2 at data scale: merge_scan over the q31 synthetic tree (one
    entry per lineitem row — 600k at sf0.1) with a deterministic ~1%
    churn: dirs with dirnum%100==7 deleted, dirnum%100==3 modified
    (bumped dir mtime + every entry size +7), and five new dirs
    /scale/a0..a4 staged from the dirnum 490–494 rows.  Unchanged dirs'
    entries are OMITTED from the staged scan, so the post-merge file
    count and byte total prove the unchanged-skip entry reuse actually
    happened (analyze.go:226–243 semantics) at volume.  One row of
    counters + post-merge totals, every value restated by the oracle
    from lineitem arithmetic.  BENCH_r03 derives merge-side
    entries/sec from this query's wall time."""
    from dudb_spark.operators.ingest import merge_scan

    li = _t(spark, sf_dir, "lineitem")
    d500 = F.col("l_orderkey") % 500
    prev_p, prev_e = _scale_fs(li)
    ch_p, ch_e = _scale_fs(
        li.where(d500 % 100 == 3), size_plus=7,
        prefix_mtime="2025-02-01 00:00:00",
    )
    add_p, add_e = _scale_fs(
        li.where(d500.between(490, 494)), dir_prefix="a",
        dir_index=d500 - 490,
    )
    # staged scan: unchanged dirs verbatim (entries omitted — the scanner
    # skip), changed dirs restaged, deleted dirs absent, added dirs new
    pdir = F.substring("path", 9, 10).cast("long")
    staged_p = (
        prev_p.where((pdir % 100 != 7) & (pdir % 100 != 3))
        .unionByName(ch_p)
        .unionByName(add_p)
    )
    staged_e = ch_e.unionByName(add_e)
    res = merge_scan(prev_p, prev_e, staged_p, staged_e, root="/scale")
    s = res.summary
    tot = res.entries.where(~F.col("is_dir")).agg(
        F.sum("size").alias("b")
    ).first()["b"]
    return spark.createDataFrame(
        [
            (
                s["prefixes_added"],
                s["prefixes_changed"],
                s["prefixes_deleted"],
                s["parent_unchanged"],
                s["files"],
                int(tot),
            )
        ],
        "prefixes_added long, prefixes_changed long, prefixes_deleted long, "
        "parent_unchanged long, files long, total_bytes long",
    )


def q88_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table: coarse-
    quantize with the deterministic fixed_cells quantizer (the q41
    machinery), then within each cell drop every vector shadowed by a
    lower-id vector with cosine ≥ threshold.  One row per vector with
    (cell, dup_of, kept); the oracle replays the quantizer AND the
    shadowing rule, so the whole semantic-dedup decision table is
    value-checked cross-engine."""
    from dudb_spark.pipeline.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, threshold=0.2, n_clusters=16,
        cells=_quantizer_cells(spark, sf_dir),
    ).orderBy("vec_id")


def q89_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment over the corpus
    (sampling.assign_split): the hash coordinate cut at cumulative
    weight thresholds — scan-side CASE, no shuffle, and a row's split
    depends only on (id, salt), so eval membership is stable as the
    corpus grows.  The oracle replays the exact hash + thresholds."""
    from dudb_spark.pipeline.sampling import assign_split

    d = _t(spark, sf_dir, "documents")
    return (
        assign_split(
            d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt=7
        )
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def q90_corpus_report(spark, sf_dir):
    """The dataset card a corpus pipeline publishes: per (source, lang)
    — document count, token total, average quality, and exact-duplicate
    copy count (docs shadowed by a lower-id identical fingerprint).  One
    grouped pass composing the fingerprint/quality/token operators; the
    average is summed as exact integer micro-units (round(q*1e6)) so the
    cross-engine value is a single deterministic division, not an
    order-dependent float sum."""
    from pyspark.sql import Window

    from dudb_spark.pipeline.text import fingerprint, quality_score, tokens

    d = _t(spark, sf_dir, "documents")
    canon = F.min("doc_id").over(Window.partitionBy("fp"))
    base = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.round(quality_score(F.col("text")) * 1e6).cast("long").alias("q6"),
        fingerprint(F.col("text")).alias("fp"),
    ).withColumn("is_copy", F.col("doc_id") > canon)
    return (
        base.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("q6").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("avg_quality"),
            F.count(F.when(F.col("is_copy"), 1)).alias("n_dup_copies"),
        )
        .orderBy("source", "lang")
    )


def q91_streaming_ingest(spark, sf_dir):
    """Incremental ingest AS A STREAM: two successive scan versions of
    the (quartered) q31 synthetic tree arrive as per-file micro-batches;
    ``foreachBatch`` merges each full staged scan into the versioned
    snapshot store with the same merge_scan the batch CLI uses — the
    Delta-style 'streaming upsert' composition (§2.9 × J1/J2).  Churn:
    v2 deletes dirnum%100==7, modifies %100==3 (+7 bytes/entry), adds
    /scale/a0..a4; v3 then deletes %100==13, modifies %100==11 (+3),
    adds /scale/b0..b4 — unchanged dirs' entries are OMITTED from every
    staged scan, so the final byte totals prove entry reuse composed
    across merges.  Output: one row of final-state facts, restated by
    the oracle from lineitem arithmetic."""
    import os
    import tempfile
    from glob import glob as _glob

    from dudb_spark.operators.ingest import merge_scan
    from dudb_spark.sources.catalog import SnapshotCatalog

    li = _t(spark, sf_dir, "lineitem").where("l_orderkey % 8 = 0")
    d500 = F.col("l_orderkey") % 500

    def ts_e(e):
        # entry mtimes are dates (l_shipdate); the dump/merge path needs
        # one type end-to-end
        return e.withColumn("mtime", F.col("mtime").cast("timestamp"))

    prev_p, prev_e = _scale_fs(li)
    prev_e = ts_e(prev_e)
    pdir = F.substring("path", 9, 10).cast("long")

    # v2 staging (the q87 churn)
    ch2_p, ch2_e = _scale_fs(
        li.where(d500 % 100 == 4), size_plus=7,
        prefix_mtime="2025-02-01 00:00:00",
    )
    a_p, a_e = _scale_fs(
        li.where(d500.between(488, 492)), dir_prefix="a",
        dir_index=d500 - 488,
    )
    ch2_e, a_e = ts_e(ch2_e), ts_e(a_e)
    v2_p = (
        prev_p.where((pdir % 100 != 8) & (pdir % 100 != 4))
        .unionByName(ch2_p)
        .unionByName(a_p)
    )
    v2_e = ch2_e.unionByName(a_e)

    # v3 staging: applied to the v2 RESULT state — survivors keep their
    # current (possibly v2-stamped) prefix rows, class 11 restaged with
    # +3 bytes, class 13 gone, b-dirs new
    ch3_p, ch3_e = _scale_fs(
        li.where(d500 % 100 == 16), size_plus=3,
        prefix_mtime="2025-03-01 00:00:00",
    )
    b_p, b_e = _scale_fs(
        li.where(d500.between(480, 484)), dir_prefix="b",
        dir_index=d500 - 480,
    )
    ch3_e, b_e = ts_e(ch3_e), ts_e(b_e)
    surviving = (
        (pdir % 100 != 8) & (pdir % 100 != 12)
        & (pdir % 100 != 16) & (pdir % 100 != 4)
    )
    v3_p = (
        prev_p.where(surviving)
        .unionByName(ch2_p)  # class 3 keeps its v2-stamped row
        .unionByName(a_p)
        .unionByName(ch3_p)
        .unionByName(b_p)
    )
    v3_e = ch3_e.unionByName(b_e)

    # encode each version as ONE dump file (prefix+entry rows under a
    # superset schema), mtime-ordered so the file source replays v2
    # before v3
    pcols = ["path", "parent", "depth", "size", "blocks", "mode",
             "is_symlink", "mtime", "uid", "gid", "device", "inode",
             "n_entries"]
    ecols = ["parent", "name", "path", "is_dir", "size", "blocks", "mode",
             "mtime", "uid", "gid", "device", "inode"]

    def dump(p, e):
        pe = p.select(
            F.lit("prefix").alias("kind"),
            *pcols,
            F.lit(None).cast("string").alias("name"),
            F.lit(None).cast("boolean").alias("is_dir"),
        )
        ee = e.select(
            F.lit("entry").alias("kind"),
            "path", "parent",
            F.lit(None).cast("int").alias("depth"),
            "size", "blocks", "mode",
            F.lit(None).cast("boolean").alias("is_symlink"),
            F.col("mtime").cast("timestamp").alias("mtime"),
            "uid", "gid", "device", "inode",
            F.lit(None).cast("long").alias("n_entries"),
            "name", "is_dir",
        )
        return pe.unionByName(ee)

    src = tempfile.mkdtemp(prefix="dudb_q91_src_")
    state = tempfile.mkdtemp(prefix="dudb_q91_state_")
    for k, (p, e) in enumerate(((v2_p, v2_e), (v3_p, v3_e))):
        out = f"{src}/v{k + 2}"
        # repartition(1), not coalesce(1): coalesce collapses the WHOLE
        # staging computation (lineitem scan + _scale_fs derivation)
        # into one task; repartition keeps the upstream parallel and
        # pays one small shuffle for the single-file output the
        # maxFilesPerTrigger=1 replay needs
        dump(p, e).repartition(1).write.mode("overwrite").parquet(out)
        for f in _glob(f"{out}/part-*.parquet"):
            os.rename(f, f"{src}/dump-{k + 2}.parquet")
    for k, f in enumerate(sorted(_glob(f"{src}/dump-*.parquet"))):
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))

    cat = SnapshotCatalog(spark, state)
    cat.write_snapshot(prev_p, prev_e)

    schema = dump(prev_p, prev_e).schema

    def apply_batch(bdf, batch_id):
        bdf = bdf.persist()
        p = bdf.where("kind = 'prefix'").select(*pcols)
        e = bdf.where("kind = 'entry'").select(*ecols)
        t = cat.tables()
        res = merge_scan(
            t.prefixes, t.entries, p, e, root="/scale", with_summary=False
        )
        cat.write_snapshot(res.prefixes, res.entries)
        bdf.unpersist()

    with _stream_parts(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    final = cat.tables()
    facts = final.entries.where(~F.col("is_dir")).agg(
        F.count(F.lit(1)).alias("files"),
        F.sum("size").alias("bytes"),
    ).first()
    return spark.createDataFrame(
        [
            (
                len(cat.versions()),
                final.prefixes.count(),
                facts["files"],
                int(facts["bytes"]),
            )
        ],
        "n_versions long, n_dirs long, files long, total_bytes long",
    )


def q68_stats_snapshot_roundtrip(spark, sf_dir):
    """S10: persist the stats result as a snapshot and read it back — the
    reloaded per-prefix table must round-trip value-exact (oracle = the
    q23 totals restatement)."""
    import json
    import tempfile

    from dudb_spark.operators.stats import (
        StatsOptions, StatsResult, compute_stats,
    )

    res = compute_stats(
        _fs(spark, "prefixes"), _fs(spark, "entries"), StatsOptions()
    )
    out = tempfile.mkdtemp(prefix="dudb_q68_")
    res.save(out)
    with open(f"{out}/meta.json", "w") as f:
        json.dump(res.meta, f)
    return StatsResult.load(spark, out).per_prefix.orderBy("prefix")


def q69_catalog_roundtrip(spark, sf_dir):
    """S6/X3/F3: snapshot catalog end-to-end — env-expanded db location,
    versioned write, compaction to a second version, pointer flip, and the
    reloaded latest tables carrying the fixture through unchanged."""
    import os
    import tempfile

    from dudb_spark.cli import expand_path
    from dudb_spark.sources.catalog import SnapshotCatalog

    tmp = tempfile.mkdtemp(prefix="dudb_q69_")
    os.environ["DUDB_Q69_ROOT"] = tmp
    cat = SnapshotCatalog(spark, expand_path("$DUDB_Q69_ROOT/db"))
    cat.write_snapshot(_fs(spark, "prefixes"), _fs(spark, "entries"))
    cat.compact(n_files=4)
    t = cat.tables()
    row = (
        t.entries.agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum(F.when(~F.col("is_dir"), F.col("size")).otherwise(0))
            .cast("long")
            .alias("file_bytes"),
        ).first()
    )
    return spark.createDataFrame(
        [
            (
                cat.latest_version(),
                len(cat.versions()),
                t.prefixes.count(),
                row["n_entries"],
                row["file_bytes"],
            )
        ],
        "latest string, n_versions long, n_prefixes long, n_entries long, "
        "file_bytes long",
    )


_CRAWL_BASE = 1_700_000_000  # fixed epoch for every staged mtime


def _build_crawl_tree(root: str) -> None:
    """Deterministic on-disk tree: 3 dirs × 4 files with formulaic sizes
    and mtimes, one excluded *.tmp file per dir, one symlink (never
    descended).  mtimes are pinned with utime AFTER all creation so
    directory timestamps are reproducible."""
    import os

    os.makedirs(root, exist_ok=True)
    for i in range(3):
        d = os.path.join(root, f"d{i}")
        os.makedirs(d, exist_ok=True)
        for j in range(4):
            fp = os.path.join(d, f"f{j}.dat")
            with open(fp, "wb") as f:
                f.write(b"x" * (37 * i + j + 1))
        with open(os.path.join(d, "skip.tmp"), "wb") as f:
            f.write(b"excluded")
    link = os.path.join(root, "link")
    if not os.path.lexists(link):
        os.symlink("d0", link)
    with open(os.path.join(root, "skip.tmp"), "wb") as f:
        f.write(b"excluded")
    # pin mtimes (files first; dirs after, so listing writes don't bump them)
    for i in range(3):
        for j in range(4):
            t = _CRAWL_BASE + (i + 1) * 1000 + (j + 1) * 10
            os.utime(os.path.join(root, f"d{i}", f"f{j}.dat"), (t, t))
        os.utime(os.path.join(root, f"d{i}", "skip.tmp"), (0, 0))
    os.utime(link, ns=(5_000_000_000 + _CRAWL_BASE * 10**9,) * 2,
             follow_symlinks=False)
    for i in range(3):
        t = _CRAWL_BASE + (i + 1) * 1000
        os.utime(os.path.join(root, f"d{i}"), (t, t))
    os.utime(os.path.join(root, "skip.tmp"), (0, 0))
    os.utime(root, (_CRAWL_BASE, _CRAWL_BASE))


def q70_crawler_walk(spark, sf_dir):
    """S1/S2/S3/X4: the ingest crawler ``analyze`` runs (``crawl_local``)
    over a deterministic staged tree — exclusion filtering (*.tmp never
    ingested), symlink recorded-but-not-descended, per-dir n_entries, and
    pinned mtimes.  Output paths are relativized and
    environment-dependent columns (uid/gid/device/inode/mode/blocks,
    directory st_size) are excluded so the oracle can regenerate the
    expectation from pure SQL."""
    import shutil
    import tempfile

    from dudb_spark.model import ENTRIES_SCHEMA, PREFIXES_SCHEMA
    from dudb_spark.sources.crawler import crawl_local

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tempfile.mkdtemp(prefix="dudb_q70_")
    root = base + "/tree"
    try:
        _build_crawl_tree(root)
        prows, erows, errrows = crawl_local(root, exclusions=[r"\.tmp$"])
    finally:
        # the crawl's rows are driver-side lists: the tree can go
        shutil.rmtree(base, ignore_errors=True)
    assert not errrows, "crawler reported errors on the staged tree"
    prefixes = spark.createDataFrame(prows, PREFIXES_SCHEMA)
    entries = spark.createDataFrame(erows, ENTRIES_SCHEMA)
    rel = lambda c: F.coalesce(  # noqa: E731
        F.nullif(F.expr(f"substring({c}, {len(root) + 1})"), F.lit("")),
        F.lit("/"),
    ).alias("relpath")
    pfx = prefixes.select(
        rel("path"),
        F.lit(True).alias("is_prefix"),
        F.col("depth").cast("long").alias("depth"),
        F.col("n_entries").cast("long").alias("n_entries"),
        F.lit(None).cast("long").alias("size"),
        F.lit(None).cast("boolean").alias("is_dir"),
        _fmt_ts(F.col("mtime"), "mtime"),
    )
    ent = entries.select(
        rel("path"),
        F.lit(False).alias("is_prefix"),
        F.lit(None).cast("long").alias("depth"),
        F.lit(None).cast("long").alias("n_entries"),
        F.when(~F.col("is_dir"), F.col("size")).cast("long").alias("size"),
        F.col("is_dir"),
        _fmt_ts(F.col("mtime"), "mtime"),
    )
    return pfx.unionByName(ent).orderBy("relpath", "is_prefix")


def q127_fswalk_datasource(spark, sf_dir):
    """S1/S2/S3 through Spark's native Python DataSource API
    (sources/fsds.py): the q70 staged tree read via
    ``spark.read.format("fswalk")`` + live_tables — executor-side
    partitioned walking, exclusion at scan time, symlink recorded but
    not descended, prefixes synthesized live (depth/n_entries).  Output
    shape and ORACLE are q70's verbatim, so the DataSource route must
    reproduce the crawler's rows exactly."""
    import tempfile

    from dudb_spark.sources.fsds import live_tables

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = tempfile.mkdtemp(prefix="dudb_q127_") + "/tree"
    _build_crawl_tree(root)
    prefixes, entries = live_tables(spark, root, exclude=r"\.tmp$")
    rel = lambda c: F.coalesce(  # noqa: E731
        F.nullif(F.expr(f"substring({c}, {len(root) + 1})"), F.lit("")),
        F.lit("/"),
    ).alias("relpath")
    pfx = prefixes.select(
        rel("path"),
        F.lit(True).alias("is_prefix"),
        F.col("depth").cast("long").alias("depth"),
        F.col("n_entries").cast("long").alias("n_entries"),
        F.lit(None).cast("long").alias("size"),
        F.lit(None).cast("boolean").alias("is_dir"),
        _fmt_ts(F.col("mtime"), "mtime"),
    )
    ent = entries.select(
        rel("path"),
        F.lit(False).alias("is_prefix"),
        F.lit(None).cast("long").alias("depth"),
        F.lit(None).cast("long").alias("n_entries"),
        F.when(~F.col("is_dir"), F.col("size")).cast("long").alias("size"),
        F.col("is_dir"),
        _fmt_ts(F.col("mtime"), "mtime"),
    )
    return pfx.unionByName(ent).orderBy("relpath", "is_prefix")


def q133_fswatch_stream(spark, sf_dir):
    """The fswalk as a STREAMING source (sources/fsds.FsWatchReader,
    Spark Python DataSource simple stream reader): the change-feed
    analogue of the reference's rescan loop.  The gate certifies the
    deterministic batch-0 full resync over the q70 staged tree — every
    object emitted as op='added' with the crawler's exact stat values
    (oracle = q70's entries subset + op/gen) — and the diff batches
    (added/changed/deleted, error transitions, offset hold on no-change)
    are pinned by tests/test_streaming.py against live mutations."""
    import shutil
    import tempfile
    import uuid

    from dudb_spark.sources.fsds import register_watch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tempfile.mkdtemp(prefix="dudb_q133_")
    root = base + "/tree"
    _build_crawl_tree(root)
    register_watch(spark)
    name = "q133_watch_" + uuid.uuid4().hex[:8]
    try:
        q = (
            spark.readStream.format("fswatch")
            .option("exclude", r"\.tmp$")
            .option("state_dir", tempfile.mkdtemp(dir=base)).load(root)
            .writeStream.format("memory").queryName(name)
            .trigger(once=True).start()
        )
        q.awaitTermination(120)
    finally:
        # the memory sink holds the batch: the tree and state can go
        shutil.rmtree(base, ignore_errors=True)
    t = spark.table(name)
    rel = F.coalesce(
        F.nullif(F.expr(f"substring(path, {len(root) + 1})"), F.lit("")),
        F.lit("/"),
    ).alias("relpath")
    return t.select(
        "op",
        rel,
        F.when(~F.col("is_dir"), F.col("size")).cast("long").alias("size"),
        "is_dir",
        _fmt_ts(F.col("mtime"), "mtime"),
        F.col("gen").cast("long").alias("gen"),
    ).orderBy("relpath")


def q142_seeded_watch_reconcile(spark, sf_dir):
    """SEEDED watch start (round-9: the batch-0 resync sharded off the
    driver — fsds.FsWatchReader._load_seed behind ``watch --apply``):
    the watcher initializes from a stored snapshot's entries (written
    exactly like the CLI writes its seed) and its FIRST batch emits the
    changes since that snapshot as a churn-sized diff — deletion of a
    whole subtree (last-known stats), an added file (its dir emits
    changed), and an in-place size change — with the unchanged rest of
    the tree never emitted and the driver never statting it.  All
    mutation stats are pinned with utime, so the oracle is the expected
    classification stated literally."""
    import os
    import tempfile
    import uuid

    from dudb_spark.model import ENTRIES_SCHEMA
    from dudb_spark.sources.crawler import crawl_local
    from dudb_spark.sources.fsds import register_watch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tempfile.mkdtemp(prefix="dudb_q142_")
    root = base + "/tree"
    _build_crawl_tree(root)

    # the seed = the stored snapshot's entries, written the way the CLI
    # writes it (parents confined to one file each)
    _, e0, _ = crawl_local(root)
    seed = base + "/seed"
    (
        spark.createDataFrame(e0, ENTRIES_SCHEMA)
        .repartitionByRange(2, "parent")
        .write.mode("overwrite").parquet(seed)
    )

    # churn while the watcher is "down", stats pinned for determinism
    import shutil

    shutil.rmtree(f"{root}/d2")
    with open(f"{root}/d0/znew.dat", "wb") as f:
        f.write(b"z" * 99)
    with open(f"{root}/d1/f0.dat", "wb") as f:
        f.write(b"y" * 5)
    t0 = _CRAWL_BASE
    os.utime(f"{root}/d0/znew.dat", (t0 + 7777, t0 + 7777))
    os.utime(f"{root}/d1/f0.dat", (t0 + 8888, t0 + 8888))
    os.utime(f"{root}/d0", (t0 + 7000, t0 + 7000))
    os.utime(f"{root}/d1", (t0 + 8000, t0 + 8000))

    register_watch(spark)
    name = "q142_watch_" + uuid.uuid4().hex[:8]
    try:
        q = (
            spark.readStream.format("fswatch")
            .option("seed", seed)
            .option("state_dir", tempfile.mkdtemp(dir=base)).load(root)
            .writeStream.format("memory").queryName(name)
            .trigger(once=True).start()
        )
        q.awaitTermination(120)
    finally:
        # the memory sink holds the batch: tree, seed and state can go
        shutil.rmtree(base, ignore_errors=True)
    t = spark.table(name)
    rel = F.expr(f"substring(path, {len(root) + 1})").alias("relpath")
    return t.select(
        "op",
        rel,
        F.when(~F.col("is_dir"), F.col("size")).cast("long").alias("size"),
        "is_dir",
        _fmt_ts(F.col("mtime"), "mtime"),
        F.col("gen").cast("long").alias("gen"),
    ).orderBy("relpath", "op")


def q134_cluster_balance(spark, sf_dir):
    """Multi-round Lloyd k-means topic balance (pipeline/kmeans.py):
    3 Lloyd rounds over the embeddings table (seed = 8 lowest-id
    vectors, 6-decimal cosine argmax with smaller-cell tie-break,
    DECIMAL(27,18)-exact per-cell means, empty cells re-indexed
    ascending each round), then cluster_balance's per-cluster
    population / share / dominant-label / purity table.  The oracle
    unrolls all three rounds plus the final assignment in SQL (the q41
    quantizer-chain pattern, iterated), so value equality certifies
    the whole iterative clustering, not just one step.  Reference has
    no clustering surface; LLM-pipeline extension."""
    from dudb_spark.pipeline.kmeans import cluster_balance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cluster_balance(emb, k=8, iters=3, label_col="label")
    return out.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        "share",
        F.col("top_label").cast("long").alias("top_label"),
        F.col("top_label_n").cast("long").alias("top_label_n"),
        "purity",
    ).orderBy("cell")


def _watch_feed(spark):
    """(prev_p, prev_e, feed) for the continuous-ingest contract
    (q135/q136): a DETERMINISTIC fswatch change-feed batch over the
    committed fs fixture — the d0-2 subtree deleted (a deletion row for
    every affected object, exactly what the watch emits), three files
    under /tree/d0-0 changed in place (size+7, mtime+1h), the /tree/d0-0
    dir row changed (its listing churned), one file and one empty dir
    added, the /tree/d0-1/d1-2 dir TYPE-FLIPPED to a file (one changed
    row with is_dir false + its former subtree's deletion rows — the
    stale prefix rows must retire), and one file turned UNREADABLE (an
    error row: retires its path, inserts nothing).  The root /tree
    deliberately has NO feed dir row (the walk never emits the root), so
    the apply's root-recount branch is on the certified path.  Every feed row is a pure column transformation of
    the fixture parquet, so the DuckDB oracle restates both the feed and
    the apply's set algebra from the same files."""
    prev_p = _fs(spark, "prefixes")
    prev_e = _fs(spark, "entries")
    hour = F.expr("INTERVAL 1 HOUR")
    deleted = prev_e.where(
        (F.col("path") == "/tree/d0-2")
        | F.col("path").startswith("/tree/d0-2/")
    ).withColumn("op", F.lit("deleted"))
    chg_files = (
        prev_e.where(
            ~F.col("is_dir")
            & (F.col("name") == "f2-0")
            & F.col("path").startswith("/tree/d0-0/")
        )
        .withColumn("size", F.col("size") + F.lit(7))
        .withColumn("mtime", F.col("mtime") + hour)
        .withColumn("op", F.lit("changed"))
    )
    chg_dir = (
        prev_e.where(F.col("path") == "/tree/d0-0")
        .withColumn("mtime", F.col("mtime") + hour)
        .withColumn("op", F.lit("changed"))
    )
    add_file = (
        prev_e.where(F.col("path") == "/tree/d0-0/d1-0/f2-1")
        .withColumn("parent", F.lit("/tree/d0-0"))
        .withColumn("name", F.lit("zadd.bin"))
        .withColumn("path", F.lit("/tree/d0-0/zadd.bin"))
        .withColumn("size", F.lit(99).cast("long"))
        .withColumn("mtime", F.col("mtime") + hour)
        .withColumn("inode", F.col("inode") + F.lit(2_000_000))
        .withColumn("op", F.lit("added"))
    )
    add_dir = (
        prev_e.where(F.col("path") == "/tree/d0-0")
        .withColumn("parent", F.lit("/tree"))
        .withColumn("name", F.lit("znew-0"))
        .withColumn("path", F.lit("/tree/znew-0"))
        .withColumn("inode", F.col("inode") + F.lit(3_000_000))
        .withColumn("op", F.lit("added"))
    )
    # dir→file TYPE FLIP: /tree/d0-1/d1-2 arrives as ONE changed row
    # with is_dir now false (fswatch merges the rm -rf + recreate pair)
    # plus deletion rows for its former subtree — the stale prefix rows
    # (its own + its child dirs') must all retire
    flip_kids = prev_e.where(
        F.col("path").startswith("/tree/d0-1/d1-2/")
    ).withColumn("op", F.lit("deleted"))
    flip = (
        prev_e.where(F.col("path") == "/tree/d0-1/d1-2")
        .withColumn("is_dir", F.lit(False))
        .withColumn("size", F.lit(777).cast("long"))
        .withColumn("mode", F.lit(420).cast("long"))
        .withColumn("mtime", F.col("mtime") + hour)
        .withColumn("inode", F.col("inode") + F.lit(4_000_000))
        .withColumn("op", F.lit("changed"))
    )
    # ERROR TRANSITION: a previously-readable file turns unreadable —
    # its path must retire from the snapshot (dead side), nothing lands
    # on the insert side
    err_row = (
        prev_e.where(F.col("path") == "/tree/d0-1/d1-0/f2-1")
        .withColumn("size", F.lit(None).cast("long"))
        .withColumn("mtime", F.lit(None).cast("timestamp"))
        .withColumn("op", F.lit("changed"))
    )
    feed = (
        deleted.unionByName(chg_files).unionByName(chg_dir)
        .unionByName(add_file).unionByName(add_dir)
        .unionByName(flip_kids).unionByName(flip)
        .withColumn("error", F.lit(None).cast("string"))
        .unionByName(err_row.withColumn("error", F.lit("EACCES")))
    )
    return prev_p, prev_e, feed


def q135_watch_apply_prefixes(spark, sf_dir):
    """Continuous ingest, prefixes side: apply_changes (the streaming
    analogue of merge_scan — churn-bounded set algebra behind
    ``watch --db --apply``) applied to the deterministic change feed.
    Certifies dir replacement (feed dir rows rebuild their prefix row
    with a recomputed n_entries), subtree deletion (every d0-2 prefix
    gone), the added empty dir (n_entries 0, depth from the root), and
    the root-recount branch (/tree has no feed row; only its n_entries
    moves: -1 deleted subtree +1 added dir)."""
    from dudb_spark.operators.ingest import apply_changes

    prev_p, prev_e, feed = _watch_feed(spark)
    res = apply_changes(prev_p, prev_e, feed, root="/tree")
    return res.prefixes.select(
        "path",
        _fmt_ts(F.col("mtime"), "mtime"),
        F.col("size").cast("long").alias("size"),
        F.col("n_entries").cast("long").alias("n_entries"),
    ).orderBy("path")


def q136_watch_apply_entries(spark, sf_dir):
    """Continuous ingest, entries side: post-apply children per parent —
    deletion rows cascade the d0-2 subtree out, changed rows replace
    their previous row (size+7 lands in file_bytes), added rows appear
    under their parent."""
    from dudb_spark.operators.ingest import apply_changes

    prev_p, prev_e, feed = _watch_feed(spark)
    res = apply_changes(prev_p, prev_e, feed, root="/tree")
    return (
        res.entries.groupBy("parent")
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.sum(F.when(~F.col("is_dir"), F.col("size")).otherwise(0))
            .cast("long")
            .alias("file_bytes"),
        )
        .orderBy("parent")
    )


def _cluster_balance_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """DuckDB restatement of q134: the q41 argmax/mean CTE pattern
    unrolled for ``iters`` Lloyd rounds, then the balance rollup."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    def lloyd_round(r):
        return f"""
        , {argmax('e', f'c{r}', f'a{r}')[9:]}
        , m{r} AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a{r})
            GROUP BY cell, i
        ), c{r + 1}g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m{r} GROUP BY cell
        ), c{r + 1} AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c{r + 1}g
        )"""

    rounds = "".join(lloyd_round(r) for r in range(iters))
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {k}
        ){rounds}
        , {argmax('e', f'c{iters}', 'af')[9:]}
        , lab AS (
            SELECT af.cell, af.vec_id, emb.label
            FROM af JOIN embeddings emb USING (vec_id)
        ), per AS (
            SELECT cell, COUNT(*) AS n_vecs FROM af GROUP BY cell
        ), toplab AS (
            SELECT cell, label AS top_label, n AS top_label_n FROM (
                SELECT cell, label, COUNT(*) AS n,
                       ROW_NUMBER() OVER (PARTITION BY cell
                           ORDER BY COUNT(*) DESC, label ASC) AS rn
                FROM lab GROUP BY cell, label
            ) WHERE rn = 1
        )
        SELECT per.cell::BIGINT AS cell, per.n_vecs::BIGINT AS n_vecs,
               round(per.n_vecs / (SELECT COUNT(*) FROM e), 6) AS share,
               toplab.top_label::BIGINT AS top_label,
               toplab.top_label_n::BIGINT AS top_label_n,
               round(toplab.top_label_n / per.n_vecs::DOUBLE, 6) AS purity
        FROM per JOIN toplab USING (cell)
        ORDER BY cell
    """


# q128 fixture: flat-color images make the whole JPEG pipeline exactly
# SQL-restatable — a constant plane encodes to DC-only blocks, the luma
# quantizer's q00=8 cancels the DC scale (8*(v-128)/8), and these ten
# RGB constants were screened so both chroma DC quants are EVEN (the
# x1.5 dequant stays integral) and no round() sits within 1e-6 of a
# .5 tie anywhere in the YCbCr round-trip, so numpy's and DuckDB's
# half-even rounding provably agree.
_Q128_COLORS = [
    (48, 94, 174), (122, 16, 220), (239, 249, 227), (131, 93, 63),
    (205, 15, 109), (60, 26, 50), (63, 137, 83), (1, 147, 169),
    (75, 69, 215), (78, 180, 248),
]


def q128_jpeg_decode(spark, sf_dir):
    """Dependency-free baseline JPEG decode through the Arrow path
    (pipeline/jpeg.py: marker parse, Huffman entropy decode, dequant +
    batched IDCT, chroma upsample, YCbCr->RGB) — REAL bitstreams built
    by the in-repo encoder (libjpeg-cross-checked in tests/test_jpeg.py),
    decoded by decode_media, channel means value-checked against a full
    SQL restatement of the decode arithmetic (see _Q128_COLORS).  Gray
    (exact for any value), 4:4:4 and 4:2:0 color, odd non-multiple-of-8
    dims exercising pad/crop.  Reference has no multimodal surface;
    pipeline extension."""
    import numpy as np

    from dudb_spark.pipeline import multimodal as mm
    from dudb_spark.pipeline.jpeg import encode_jpeg

    rows = []

    def add(mid, payload):
        rows.append(
            (mid, bytearray(payload),
             ("image", "jpeg", None, None, None, len(payload)))
        )

    for i in range(10):
        v = (i * 23 + 7) % 256
        add(i, encode_jpeg(np.full((13 + i, 21 + i), v, np.uint8)))
    for ci, rgb in enumerate(_Q128_COLORS):
        img444 = np.full((20, 28, 3), rgb, np.uint8)
        add(10 + ci, encode_jpeg(img444, subsample="444"))
        img420 = np.full((18, 30, 3), rgb, np.uint8)
        add(20 + ci, encode_jpeg(img420, subsample="420", restart=2))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    d = mm.decode_media(media)
    return d.select(
        "media_id", "format", "width", "height", "n_channels",
        "sample_rate",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round(F.try_element_at("mean", F.lit(1)), 6).alias("mean1"),
        F.round(F.try_element_at("mean", F.lit(2)), 6).alias("mean2"),
        F.round(F.try_element_at("mean", F.lit(3)), 6).alias("mean3"),
        F.round("rms", 6).alias("rms"),
    ).orderBy("media_id")


def q140_resync_reconcile(spark, sf_dir):
    """Restart reconciliation (ingest.resync_feed, behind watch
    --apply's batch 0): a full-resync walk classified against the
    stored entries into the added/changed/deleted change-feed shape by
    null-safe stat comparison — certifying that churn which happened
    while the watcher was DOWN re-enters as a feed.  The 'resync' is
    the applied tree's entries (q135's net effect), so the expected
    classification is the watch feed's own net effect: the adds, the
    stat changes (incl. the dir→file type flip), and deletions for the
    removed subtree, the flipped dir's children, and the error-retired
    path (a walk cannot see unreadable-ness as anything but absence)."""
    from dudb_spark.operators.ingest import apply_changes, resync_feed

    prev_p, prev_e, feed = _watch_feed(spark)
    res = apply_changes(
        prev_p, prev_e, feed, root="/tree", with_summary=False
    )
    resync = (
        res.entries
        .withColumn("op", F.lit("added"))
        .withColumn("error", F.lit(None).cast("string"))
        .withColumn("gen", F.lit(0).cast("long"))
    )
    out = resync_feed(prev_e, resync)
    return out.select(
        "op", "path",
        _fmt_ts(F.col("mtime"), "mtime"),
        F.col("size").cast("long").alias("size"),
        "is_dir",
    ).orderBy("path", "op")


def q137_jpeg_progressive(spark, sf_dir):
    """Progressive (SOF2) JPEG decode through the same Arrow path —
    q128's exact fixture images re-encoded as spectrally-split
    progressive streams (encode_jpeg(progressive=True): interleaved DC
    scan + per-component full-band AC scans; the T.81 G.2 decode path,
    libjpeg-coefficient-cross-checked in tests/test_jpeg.py incl. DC/AC
    REFINEMENT scans from jpeg_simple_progression fixtures).  Decode is
    pixel-identical to baseline by construction, so q128's oracle
    certifies the progressive path verbatim.  Reference has no
    multimodal surface; pipeline extension."""
    import numpy as np

    from dudb_spark.pipeline import multimodal as mm
    from dudb_spark.pipeline.jpeg import encode_jpeg

    rows = []

    def add(mid, payload):
        rows.append(
            (mid, bytearray(payload),
             ("image", "jpeg", None, None, None, len(payload)))
        )

    for i in range(10):
        v = (i * 23 + 7) % 256
        add(i, encode_jpeg(np.full((13 + i, 21 + i), v, np.uint8),
                           progressive=True))
    for ci, rgb in enumerate(_Q128_COLORS):
        img444 = np.full((20, 28, 3), rgb, np.uint8)
        add(10 + ci, encode_jpeg(img444, subsample="444", progressive=True))
        img420 = np.full((18, 30, 3), rgb, np.uint8)
        add(20 + ci, encode_jpeg(img420, subsample="420", progressive=True))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    d = mm.decode_media(media)
    return d.select(
        "media_id", "format", "width", "height", "n_channels",
        "sample_rate",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round(F.try_element_at("mean", F.lit(1)), 6).alias("mean1"),
        F.round(F.try_element_at("mean", F.lit(2)), 6).alias("mean2"),
        F.round(F.try_element_at("mean", F.lit(3)), 6).alias("mean3"),
        F.round("rms", 6).alias("rms"),
    ).orderBy("media_id")


_Q131_BOILER = "SUBSCRIBE TO OUR NEWSLETTER"
_Q131_FOOTER = "copyright footer - all rights reserved"


def q131_line_excision(spark, sf_dir):
    """C4-style corpus-level repeated-line excision (Raffel 2020 §2.2;
    pipeline/dedup.excise_frequent_lines): pages derived from the
    documents table (5 docs = 5 body lines, a boilerplate banner on
    every page, a footer on even pages) lose every line occurring ≥3
    times corpus-wide — the planted banner/footer vanish everywhere,
    natural full-text duplicates go with them, survivors keep their
    order.  Two shuffles: the line-frequency hash aggregate and the
    per-page reassembly; no windows, no driver data."""
    from dudb_spark.pipeline.dedup import excise_frequent_lines

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    body = (
        docs.groupBy(F.expr("doc_id div 5").alias("page_id"))
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("body")
        )
    )
    pages = body.select(
        "page_id",
        F.concat(
            F.lit(_Q131_BOILER + "\n"),
            F.col("body"),
            F.when(
                F.col("page_id") % 2 == 0, F.lit("\n" + _Q131_FOOTER)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        excise_frequent_lines(pages, "page_id", "text", min_count=3)
        .select(
            F.col("page_id").cast("long").alias("page_id"),
            "n_lines", "n_removed", "text",
        )
        .orderBy("page_id")
    )


def q132_table_profile(spark, sf_dir):
    """Unsupervised column profiling (operators/checks.profile_table —
    the ANALYZE-TABLE pass before declaring quality_report checks):
    count/nulls/min/max/mean/distinct plus exact top-3 values for the
    documents table's scalar columns.  One aggregation job for the
    scalars, one per-column distinct aggregate, ONE melted (column,
    value) shuffle + keyed WindowGroupLimit for all top-k rows."""
    from dudb_spark.operators.checks import profile_table

    docs = _t(spark, sf_dir, "documents")
    return profile_table(
        docs, columns=["doc_id", "lang", "source", "n_chars"], top_k=3
    ).orderBy("column", "metric")


# q130 fixture: config-path templates exercising every branch of the F3
# column twin (braced refs for each var, unknown refs kept, adjacency,
# tilde forms, apostrophe for quote escaping, value containing a ~ that
# the post-expansion tilde pass must NOT touch mid-string)
_Q130_ENV = {"DATA": "/mnt/data", "HOME_DIR": "~/nested", "N": "42"}
_Q130_HOME = "/home/alice"
_Q130_TEMPLATES = [
    "${DATA}/corpus", "${N}", "${DATA}${N}", "${UNSET_XYZ}/db",
    "~", "~/", "~/x/${DATA}", "${HOME_DIR}/y", "plain/path",
    "", "o'brien/${N}", "a${DATA}b${DATA}c", "~not/home", "${DATA",
]


def q130_config_expansion(spark, sf_dir):
    """F3 (reference config.go:22–47) as an oracle-certified computation:
    ``${VAR}`` + leading-tilde expansion of a path column
    (functions/config.expand_path_col — the column twin of the CLI's
    driver-side expand_path, agreement fuzz-pinned in test_cli.py)
    against a literal env map, restated replace-for-replace in DuckDB
    SQL.  Pure string expressions, scan-fused, no UDF."""
    from dudb_spark.functions.config import expand_path_col

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_Q130_TEMPLATES)],
        ["template_id", "template"],
    )
    return df.select(
        F.col("template_id").cast("long").alias("template_id"),
        "template",
        expand_path_col(F.col("template"), _Q130_ENV, _Q130_HOME).alias(
            "expanded"
        ),
    ).orderBy("template_id")


def q129_budget_selection(spark, sf_dir):
    """Greedy data selection under a global token budget
    (operators/prefix.select_to_budget): documents ranked by an exact
    integer quality score (stopword density, permicro) and kept
    best-first while the running token total fits 25k tokens — the
    "keep the best N tokens" corpus-construction cut.  The (score, id)
    rank packs into one int64 key so the two-phase distributed prefix
    sum applies unchanged: range partition + per-partition running
    totals + broadcast offsets, NO unpartitioned window.  Reference has
    no sampling/selection surface; pipeline extension."""
    from dudb_spark.operators.prefix import select_to_budget
    from dudb_spark.pipeline.text import stopword_hits, token_count

    stops = ["the", "and", "of", "to", "a", "in", "is", "it"]
    docs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            stopword_hits(F.col("text"), stops).cast("long").alias(
                "stop_hits"
            ),
        )
        .withColumn(
            "score",
            F.expr("(stop_hits * 1000000L) div greatest(n_tokens, 1L)"),
        )
    )
    return (
        select_to_budget(docs, "score", "doc_id", "n_tokens", budget=25000)
        .select(
            "doc_id", "n_tokens", "score",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


def q71_decontamination(spark, sf_dir):
    """Benchmark decontamination (pipeline/decontam.py): corpus docs
    sharing 5-gram shingles with the held-out eval slice (doc_id % 97 == 0)
    — eval shingle set broadcast, corpus side map-side joined, one bounded
    re-aggregation of the matches."""
    from dudb_spark.pipeline.decontam import ngram_contamination

    d = _t(spark, sf_dir, "documents")
    eval_set = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus, eval_set, n=5).orderBy("doc_id")


def q72_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (pipeline/text.repetition_signals):
    duplicate-word fraction + top-bigram share per doc, one (doc, bigram)
    shuffle with map-side combine."""
    from dudb_spark.pipeline.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _pii_injected(d):
    """Deterministic PII augmentation: synthetic emails/phones/IPv4s
    concatenated onto a doc_id-keyed subset — the oracle restates the
    same injection (q73, q96)."""
    did = F.col("doc_id")
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    F.expr("CAST((doc_id div 256) % 256 AS STRING)"),
                ),
            ).otherwise(F.lit("")),
        ),
    )


def q73_pii_scan(spark, sf_dir):
    """PII scan/redaction (pipeline/pii.py) over the deterministic
    augmentation (_pii_injected), counted and redacted with
    RE2-compatible regexes — a pure projection, no shuffle."""
    from dudb_spark.pipeline.pii import pii_scan

    injected = _pii_injected(_t(spark, sf_dir, "documents"))
    return (
        pii_scan(injected)
        .where(F.col("n_pii") > 0)
        .orderBy("doc_id")
    )


def q74_bm25_terms(spark, sf_dir):
    """Okapi BM25 top-3 terms per doc (pipeline/text.bm25_top_terms) —
    same one-(doc,term)-shuffle shape as TF-IDF with length-normalized
    saturation; avgdl/N broadcast as one scalar row."""
    from dudb_spark.pipeline.text import bm25_top_terms

    d = _t(spark, sf_dir, "documents")
    return bm25_top_terms(d, top_k=3).orderBy("doc_id", "rank")


def q75_cohort_retention(spark, sf_dir):
    """Weekly cohort retention over events (operators/retention.py):
    first-seen-week cohorts × week offset, distinct active users,
    retention vs cohort size — one user-keyed shuffle feeding both
    aggregates, epoch-aligned 7-day buckets."""
    from dudb_spark.operators.retention import cohort_retention

    ev = _events(spark, sf_dir)
    return cohort_retention(ev).orderBy("cohort_week", "week_offset")


def q76_stream_attribution(spark, sf_dir):
    """§2.9 extension: watermarked STREAM-STREAM inner join through the
    driver gate (streaming/joins.py) — purchases attributed to same-user
    clicks within a 30-minute horizon; both sides carry watermarks so
    join state evicts at the derived horizon.  One availableNow batch
    makes the streaming result equal the batch join the oracle runs."""
    import tempfile

    from dudb_spark.streaming.joins import attribution_join
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    # The source drop carries only the two joined event types — the same
    # filter the join applies, pushed to the producer side (at scale the
    # equivalent of subscribing to the two relevant topics rather than
    # the firehose).  Join-state partition count is sized to the filtered
    # volume: each stateful-op partition owns a state store, and 32 nearly
    # empty stores cost more in per-batch commit overhead than 8 full
    # ones (3× measured here); a real deployment sizes this to
    # events-per-horizon instead.
    ev = _events(spark, sf_dir).where(
        F.col("event_type").isin("click", "purchase")
    )
    src = tempfile.mkdtemp(prefix="dudb_attr_src_")
    ev.repartition(8).write.mode("overwrite").parquet(src)

    with _stream_parts(spark):
        left = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        right = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        q = (
            attribution_join(left, right)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q76_attr")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q76_attr")
        .select(
            "user_id",
            F.col("left_id").alias("click_id"),
            F.col("right_id").alias("purchase_id"),
            (
                F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")
            ).alias("secs_to_purchase"),
            _money(_dec(F.col("right_value")), "purchase_value"),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


def q78_snapshot_diff(spark, sf_dir):
    """Time-travel diff between two snapshot versions
    (operators/ingest.snapshot_diff): added/removed/changed paths with
    byte deltas across the deterministic merge — the versioned-snapshot
    analog of table history."""
    from dudb_spark.operators.ingest import merge_scan, snapshot_diff

    prev_p, prev_e, staged_p, staged_e = _merge_fixture(spark)
    merge = merge_scan(prev_p, prev_e, staged_p, staged_e, root="/tree")
    return snapshot_diff(
        prev_p, prev_e, merge.prefixes, merge.entries
    ).orderBy("kind", "path")


def q79_sq8_ann(spark, sf_dir):
    """Scalar-quantized ANN (pipeline/quantize.py): per-dimension SQ8
    codes (one agg pass for bounds, scan-fused encode) → reconstructed
    cosine top-10 — the 4×-memory int8 code path of at-scale vector
    indexes, value-exact through encode → decode → ranking."""
    from dudb_spark.pipeline.quantize import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return sq8_topk(emb, query_id=0, k=10)


def q80_zorder_key(spark, sf_dir):
    """Z-order layout key (plans/zorder.py): integer-exact Morton
    interleave of (o_custkey, order-day) — the multi-column data-skipping
    layout; the certified value IS the layout decision (bit-for-bit), and
    the skipping benefit is pinned quantitatively in test_zorder.py."""
    from dudb_spark.plans.zorder import with_z

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("odays"),
    )
    return (
        with_z(o, ["o_custkey", "odays"])
        .select("o_orderkey", "z")
        .orderBy("z", "o_orderkey")
        .limit(20)
    )


def q81_token_chunking(spark, sf_dir):
    """RAG-prep chunking (pipeline/text.chunk_tokens): 20-token windows
    advancing 15 tokens — one scan-side Generate per doc, no shuffle;
    the gate's orderBy is presentation only."""
    from dudb_spark.pipeline.text import chunk_tokens

    d = _t(spark, sf_dir, "documents")
    return chunk_tokens(d, chunk=20, overlap=5).orderBy("doc_id", "chunk_id")


def q82_group_reservoir(spark, sf_dir):
    """Deterministic k-per-group sampling (sampling.reservoir_per_group):
    5 docs per source ranked by the engine-reproducible hash coordinate —
    WindowGroupLimit prunes to k per partition before the single
    group-key shuffle."""
    from dudb_spark.pipeline.sampling import reservoir_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return reservoir_per_group(d, "doc_id", "source", k=5).orderBy(
        "source", "doc_id"
    )


def q92_salted_skew_join(spark, sf_dir):
    """Skew-proof equi-join (plans/layout.py salted_join): part is
    replicated across 8 salt replicas and every lineitem row carries a
    deterministic salt, so the join key becomes (l_partkey, _salt) and a
    monster part key at 100 TB lands on 8 ordinary partitions instead of
    one straggler.  The result is provably the plain join's — the oracle
    IS the plain join — the value delivered is the plan shape.  The right
    side takes a shuffle-hash hint so the demonstration survives the
    broadcast threshold at test scale (at the size salting matters the
    dim side no longer broadcasts anyway)."""
    from dudb_spark.plans.layout import salted_join

    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
        .hint("shuffle_hash")
    )
    return (
        salted_join(li, p, "l_partkey", n_salts=8)
        .groupBy("p_brand")
        .agg(
            _money(
                F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def q93_hash_embed_topk(spark, sf_dir):
    """Feature-hashing embeddings end-to-end (pipeline/embed.py): every
    document becomes a 32-dim signed token-count vector via the
    oracle-reproducible Horner hash (no vocabulary, no Python row path),
    then exact cosine top-5 neighbours for three query docs — integer
    dot products via zip_with/aggregate, broadcast query side, bounded
    rank window.  The oracle replays hash, embedding, and ranking in
    DuckDB list comprehensions."""
    from dudb_spark.pipeline.embed import embedded_topk

    d = _t(spark, sf_dir, "documents")
    return embedded_topk(d, query_ids=[0, 1, 2], k=5, dim=32)


def q94_skew_profile(spark, sf_dir):
    """Shuffle-skew diagnosis (plans/layout.py skew_profile): the 10
    hottest event user_ids with row count, table share, skew ratio
    (count/mean-per-key), and the salt factor that would level the key —
    exactly the n_salts input q92's salted_join wants.  Totals come from
    a broadcast scalar aggregate onto the TakeOrdered top rows, never a
    global window over the per-key frame."""
    from dudb_spark.plans.layout import skew_profile

    ev = _events(spark, sf_dir)
    return skew_profile(ev.select("user_id"), "user_id", top_n=10)


def q95_stream_corpus_dedup(spark, sf_dir):
    """Online ingest dedup (§2.9 × exact dedup): the newest 20% of the
    corpus arrives as a parquet-file stream and each arriving doc is
    tagged against the STATIC fingerprint index of the first 80% —
    (canonical_id, is_new) per doc via a stateless stream–static left
    join (streaming/dedup.py dedup_against_corpus).  The oracle is the
    batch restatement of the same split + left join."""
    import tempfile

    from dudb_spark.streaming.dedup import dedup_against_corpus

    d = _t(spark, sf_dir, "documents")
    cut = d.count() * 4 // 5
    corpus = d.where(F.col("doc_id") < cut)
    incoming = d.where(F.col("doc_id") >= cut)
    src = tempfile.mkdtemp(prefix="dudb_q95_src_")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    with _stream_parts(spark):
        stream = spark.readStream.schema(d.schema).parquet(src)
        q = (
            dedup_against_corpus(stream, corpus)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q95_dedup")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q95_dedup")
        .select("doc_id", "canonical_id", "is_new")
        .orderBy("doc_id")
    )


def q96_clean_corpus(spark, sf_dir):
    """The END-TO-END corpus cleaning materialization — what a user runs
    to actually produce training data: PII-augmented raw docs (plus
    id-shifted exact COPIES of every 50th doc, so the dedup gate has
    real work) → held-out eval split → quality gate (quality_score >=
    0.72, ~the corpus 25th percentile) → exact-dedup canonical filter
    (min-id per fingerprint) → decontamination gate (any 5-gram eval
    overlap >= 0.01 drops) → PII redaction — emitting the kept corpus
    with token and PII accounting.  Every stage is an operator certified
    on its own (q21/q12/q71/q73); this query certifies the COMPOSITION,
    with every gate dropping real rows.  Plan: scan-side
    scoring/fingerprinting, one fp window shuffle, broadcast eval
    shingles, redaction fused into the final projection."""
    from pyspark.sql import Window

    from dudb_spark.pipeline.decontam import ngram_contamination
    from dudb_spark.pipeline.pii import pii_scan
    from dudb_spark.pipeline.text import fingerprint, quality_score, tokens

    raw = _pii_injected(_t(spark, sf_dir, "documents"))
    # exact copies under shifted ids (970000 ≡ 0 mod 97, so a copy keeps
    # its donor's eval-split membership)
    d = raw.unionByName(
        raw.where(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + 970000
        )
    )
    corpus = d.where(F.col("doc_id") % 97 != 0)
    eval_set = d.where(F.col("doc_id") % 97 == 0)

    contam = ngram_contamination(corpus, eval_set, n=5).select(
        "doc_id", "contamination"
    )
    base = corpus.select(
        "doc_id",
        "lang",
        "source",
        "text",
        fingerprint(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("q"),
    )
    kept = (
        base.withColumn(
            "canonical", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .join(contam, "doc_id", "left")
        .where(
            (F.col("doc_id") == F.col("canonical"))
            & (F.col("q") >= 0.72)
            & (F.coalesce(F.col("contamination"), F.lit(0.0)) < 0.01)
        )
    )
    pii = pii_scan(kept.select("doc_id", "text")).select(
        "doc_id", "n_pii", F.length("redacted").cast("long").alias("redacted_len")
    )
    return (
        kept.join(pii, "doc_id")
        .select("doc_id", "lang", "source", "n_tokens", "n_pii", "redacted_len")
        .orderBy("doc_id")
    )


def q97_incremental_ann_index(spark, sf_dir):
    """Incremental ANN index maintenance (pipeline/ivf.assign_to_cells):
    the quantizer is built over the FIRST 80% of vectors only; the
    remaining 20% arrive later and are assigned to the EXISTING centroids
    — the production IVF add path (no per-insert re-clustering) — and the
    top-k search runs over base ∪ additions.  The query vector is itself
    a newly-added vector, proving the fresh postings are searchable.  The
    oracle replays quantizer-from-base, fixed-centroid assignment of
    everything, probe choice, and ranking."""
    from dudb_spark.pipeline.ivf import (
        assign_to_cells,
        fixed_cells,
        fixed_ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0]
    cut = (hi + 1) * 4 // 5
    base = emb.where(F.col("vec_id") < cut)
    new = emb.where(F.col("vec_id") >= cut)
    assigned_base, c1 = fixed_cells(base, 16)
    merged = assigned_base.unionByName(assign_to_cells(new, c1))
    qv = emb.where(F.col("vec_id") == hi).first()["embedding"]
    return fixed_ivf_topk(
        emb,
        qv,
        k=10,
        n_clusters=16,
        n_probe=4,
        cells=(merged, c1),
        exclude_id=hi,
    )


def q98_scale_exact_percentiles(spark, sf_dir):
    """q45's exact percentiles recomputed SCALE-SAFE
    (operators/quantiles.grouped_quantiles): order statistics via a
    spillable window sort + rank probes, instead of the built-in
    `percentile` aggregate whose buffer holds the whole group in memory.
    Bit-parity with the built-in is pinned in tests; the oracle is q45's
    (same numbers, different — unbounded-group-proof — plan)."""
    from dudb_spark.operators.quantiles import grouped_quantiles

    li = _t(spark, sf_dir, "lineitem")
    q = grouped_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.5, 0.9, 0.99],
        names=["p50", "p90", "p99"],
    )
    return q.select(
        "l_returnflag",
        "n_rows",
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        F.round("p99", 6).alias("p99"),
    ).orderBy("l_returnflag")


def q99_ivf_sq8_search(spark, sf_dir):
    """Compressed-index ANN (quantize.ivf_sq8_topk) — the FAISS
    ``IVF,SQ8`` composition over the shared fixed quantizer: cells prune
    candidates, SQ8 int8 codes are the stored index, ranking runs on
    reconstructed vectors with the decoded query.  The oracle replays
    quantizer + probe + encode/decode + ranking end-to-end."""
    from dudb_spark.pipeline.quantize import ivf_sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_sq8_topk(
        emb,
        _quantizer_cells(spark, sf_dir),
        query_id=0,
        k=10,
        n_probe=4,
    )


def q100_online_dedup_growing(spark, sf_dir):
    """Online dedup with a GROWING index (streaming/dedup.online_dedup):
    the newest 20% of the corpus arrives as 4 mtime-ordered micro-batch
    files (bucket = doc_id % 4); each batch is tagged against corpus
    fingerprints ∪ fingerprints accepted in earlier batches, and its new
    fingerprints fold into the index before the next batch — so
    within-stream duplicates ARE caught across batches (the static-index
    q95 leaves them open).  The oracle derives per-doc decisions from
    the bucket arithmetic: corpus canonical wins; else a doc in a later
    bucket than its fingerprint's first bucket duplicates that bucket's
    min id; else it is new."""
    import os
    import shutil
    import tempfile
    from glob import glob as _glob

    from dudb_spark.streaming.dedup import online_dedup

    raw = _t(spark, sf_dir, "documents")
    cut = raw.count() * 4 // 5
    # exact copies under shifted ids land in the stream: copies of corpus
    # donors exercise the corpus index, copies of incoming donors land one
    # bucket later than their donor (970001 % 4 == 1) and exercise the
    # GROWING index across micro-batches
    d = raw.unionByName(
        raw.where(F.col("doc_id") % 25 == 0).withColumn(
            "doc_id", F.col("doc_id") + 970001
        )
    )
    corpus = d.where(F.col("doc_id") < cut)
    incoming = d.where(F.col("doc_id") >= cut)

    src = tempfile.mkdtemp(prefix="dudb_q100_src_")
    _stage_mod_buckets(incoming, 4, src)

    index_dir = tempfile.mkdtemp(prefix="dudb_q100_idx_") + "/idx"
    out_dir = tempfile.mkdtemp(prefix="dudb_q100_out_") + "/out"
    with _stream_parts(spark):
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = online_dedup(stream, corpus, index_dir, out_dir)
        q.awaitTermination(300)
    return (
        spark.read.parquet(out_dir)
        .select("doc_id", "canonical_id", "is_new")
        .orderBy("doc_id")
    )


def q101_span_dedup(spark, sf_dir):
    """Exact n-gram span dedup (Lee et al. 2021 substring dedup, 8-gram
    approximation): every repeated 8-token window is removed except its
    first corpus occurrence, and documents are rebuilt from the surviving
    tokens (pipeline/spans.span_dedup).  Grams shuffle as xxhash64 int64s;
    the oracle restates the same first-occurrence/cover semantics over
    gram strings."""
    from dudb_spark.pipeline.spans import span_dedup

    docs = _t(spark, sf_dir, "documents")
    return span_dedup(docs, 8).orderBy("doc_id")


def q102_gopher_rules(spark, sf_dir):
    """Gopher-style quality rule filter (Rae et al. 2021 A1.1): per-rule
    measurements + booleans + the overall pass verdict, as one scan-fused
    Column struct (pipeline/text.gopher_flags)."""
    from dudb_spark.pipeline.text import gopher_flags

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", gopher_flags(F.col("text")).alias("g"))
        .select("doc_id", "g.*")
        .orderBy("doc_id")
    )


_BM25_QUERIES = [
    (1, "table scan fast"),
    (2, "stream window agg"),
    (3, "customer order join"),
    (4, "hash merge sort the"),
]


def q103_bm25_retrieval(spark, sf_dir):
    """Batch BM25 retrieval: 4 bag-of-words queries scored against the
    corpus through a broadcast inverted-index join, per-query top-10
    (pipeline/retrieval.bm25_retrieve)."""
    from dudb_spark.pipeline.retrieval import bm25_retrieve

    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, ["query_id", "qtext"])
    return bm25_retrieve(docs, qs, k=10).orderBy("query_id", "rank")


def q104_shuffled_shards(spark, sf_dir):
    """Deterministic corpus shuffle + token-budgeted shard assignment:
    documents ordered by md5(doc_id) (a reproducible global shuffle for
    training-order decorrelation) and packed into 2000-token shards with
    the two-phase distributed prefix sum (operators/prefix.pack_sequences
    — no single-task global window)."""
    from dudb_spark.operators.prefix import pack_sequences
    from dudb_spark.pipeline.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("skey"),
    )
    return pack_sequences(docs, "skey", "n_tokens", 2000).select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        "shard",
    ).orderBy("doc_id")


def q105_vocab_coverage(spark, sf_dir):
    """Tokenizer-pipeline artifact: induce the global top-20 vocabulary
    by corpus frequency, then measure per-language token coverage / OOV
    rate through a broadcast vocab join (pipeline/text.vocab_oov)."""
    from dudb_spark.pipeline.text import vocab_oov

    docs = _t(spark, sf_dir, "documents")
    return vocab_oov(docs, top_v=20, group_col="lang").orderBy("lang")


def q106_pagerank(spark, sf_dir):
    """PageRank (5 power iterations, d=0.85) over the winnowed
    copy-detection graph — per-node centrality to pick the canonical
    copy inside duplicate neighborhoods (pipeline/graph.pagerank, one
    join+agg shuffle per iteration, localCheckpoint per round).  Shares
    q37's memoized pair frame; the oracle unrolls the same five
    iterations as CTEs."""
    from dudb_spark.pipeline.dedup import cached_fingerprint_overlap_pairs
    from dudb_spark.pipeline.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    pairs = cached_fingerprint_overlap_pairs(
        d, cache_key=("documents", sf_dir), min_shared=2
    )
    pr = pagerank(pairs, iters=5, damping=0.85)
    return pr.select(
        "id", F.round("score", 6).alias("score")
    ).orderBy("id")


def q107_decayed_activity(spark, sf_dir):
    """Recency-weighted engagement: per-user exponentially time-decayed
    activity score (tau = 1 day) against the global max event time —
    one grouped aggregation, reference time as a broadcast scalar
    (operators/retention.decayed_activity)."""
    from dudb_spark.operators.retention import decayed_activity

    ev = _events(spark, sf_dir)
    return decayed_activity(ev, tau_seconds=86400.0).orderBy("user_id")


def q109_pq_adc_search(spark, sf_dir):
    """Product-quantization ANN (pipeline/pq.py, Jégou et al. 2011):
    deterministic per-subspace codebooks (first-16 seed vectors sliced,
    m=8 × ksub=16), scan-fused encoding to 8 codes/vector (32×
    compression), and ADC top-10 — the query never touches a float
    vector, only m table lookups per row.  The oracle derives the same
    codebooks, codes, and ranking from the embeddings table itself."""
    from dudb_spark.pipeline.pq import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    return pq_topk(emb, q, k=10, m=8, ksub=16, exclude_id=0)


def q110_ivf_pq_search(spark, sf_dir):
    """The full FAISS IVF,PQ composition (pipeline/pq.ivf_pq_topk): the
    q41 coarse quantizer's 4 nearest cells prune the candidates, PQ/ADC
    ranks only their codes.  Shares the session's fixed_cells pass with
    q41/q88/q99; the oracle replays quantizer chain + codebooks + codes
    + probe + ranking from the embeddings table."""
    from dudb_spark.pipeline.pq import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    return ivf_pq_topk(
        emb, _quantizer_cells(spark, sf_dir), q, k=10, n_probe=4,
        exclude_id=0,
    )


def q111_session_window_builtin(spark, sf_dir):
    """Sessionization via the BUILT-IN JVM-side session window
    (streaming/rollup.session_window_rollup, F.session_window): events
    merge while the gap to the previous event is ≤ 30 min, emitted
    window ends at last_event + gap — complements q38's custom stateful
    sessionizer with the codegen path; the oracle restates Spark's
    session-window contract as gaps-and-islands SQL."""
    from dudb_spark.streaming.rollup import session_window_rollup

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = session_window_rollup(ev, "30 minutes")
    return out.select(
        "user_id",
        F.date_format(
            "session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("session_start"),
        F.date_format(
            "session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("session_end"),
        "n_events",
        "sum_cents",
    ).orderBy("user_id", "session_start")


def q112_data_quality(spark, sf_dir):
    """Deequ-style declarative data-quality gate
    (operators/checks.quality_report): completeness, uniqueness, value
    bounds, referential integrity, and row-count floor over lineitem —
    one grouped pass for the scan metrics, one distinct-count per key
    set, one anti-join per FK, all composed lazily into a long-form
    (check, metric, passed) report."""
    from dudb_spark.operators.checks import quality_report

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return quality_report(
        li,
        completeness={"l_returnflag": 1.0, "l_shipdate": 1.0},
        unique=[["l_orderkey", "l_linenumber"]],
        bounds={"l_discount": (0.0, 0.1), "l_quantity": (1, 50)},
        fk=[("l_orderkey", orders, "o_orderkey")],
        min_rows=1000,
    ).orderBy("check")


def q113_edit_distance_verify(spark, sf_dir):
    """Fuzzy-dedup refinement: q16's MinHash→Jaccard candidate pairs
    re-verified by exact Levenshtein distance within 20% of the longer
    text (pipeline/dedup.edit_verified_pairs) — the O(len²) metric runs
    only on the bounded candidate set, never the corpus cross product."""
    from dudb_spark.pipeline.dedup import edit_verified_pairs

    d = _t(spark, sf_dir, "documents")
    return edit_verified_pairs(d, max_rel_dist=0.2).orderBy("id_a", "id_b")


def q114_rolling_window(spark, sf_dir):
    """Time-based RANGE window frame: per customer, each order's count
    and revenue over the trailing 90 days (inclusive) — the rolling-
    feature shape (user activity features, rate limits) built on a
    partitioned range frame; the per-customer partition keeps the sort
    local, never a global window.  Decimal-exact revenue sums."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.count(F.lit(1)).over(w).alias("n_90d"),
            F.round(
                F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double"),
                2,
            ).alias("rev_90d"),
        )
        .orderBy("o_orderkey")
    )


def q115_stored_index_search(spark, sf_dir):
    """Index-as-a-table round trip: PQ codes written to parquet +
    codebooks to JSON (the stored form a production index service
    serves from), then ADC search runs from the STORED artifacts — the
    embeddings table is touched only to fetch the query vector.  Same
    answer as q109 by construction, so the oracle is q109's; what this
    query certifies is the persistence path."""
    import json as _json
    import tempfile

    from dudb_spark.pipeline.pq import (
        _dbl,
        _seqsum,
        fixed_pq_codebooks,
        pq_encode,
    )
    import math as _math

    from pyspark.sql import functions as _F

    emb = _t(spark, sf_dir, "embeddings")
    books = fixed_pq_codebooks(emb, m=8, ksub=16)
    idx_dir = tempfile.mkdtemp(prefix="dudb_q115_idx_")
    pq_encode(emb, books).write.mode("overwrite").parquet(idx_dir + "/codes")
    with open(idx_dir + "/codebooks.json", "w") as f:
        _json.dump(books, f)

    # --- serve from storage only ---
    with open(idx_dir + "/codebooks.json") as f:
        stored = _json.load(f)
    codes = spark.read.parquet(idx_dir + "/codes")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    qnorm = _math.sqrt(_seqsum(x * x for x in q))
    dsub = len(stored[0][0])

    def lut(vals):
        return "array(" + ",".join(_dbl(v) for v in vals) + ")"

    ip_terms, nsq_terms = [], []
    for s, book in enumerate(stored):
        qs = q[s * dsub: (s + 1) * dsub]
        ips = [_seqsum(a * b for a, b in zip(qs, c)) for c in book]
        nsqs = [_seqsum(x * x for x in c) for c in book]
        idx = f"element_at(codes, {s + 1}) + 1"
        ip_terms.append(f"element_at({lut(ips)}, {idx})")
        nsq_terms.append(f"element_at({lut(nsqs)}, {idx})")
    score = (
        f"round(({' + '.join(ip_terms)}) / "
        f"({_dbl(qnorm)} * sqrt({' + '.join(nsq_terms)})), 6)"
    )
    return (
        codes.where("vec_id != 0")
        .select("vec_id", _F.expr(score).alias("adc_cosine"))
        .orderBy(_F.desc("adc_cosine"), _F.asc("vec_id"))
        .limit(10)
    )


def q116_curriculum_bins(spark, sf_dir):
    """Curriculum binning: corpus-wide quality DECILES as explicit
    thresholds (operators/quantiles.grouped_quantiles with
    ``group_cols=[]`` — the two-phase range-partitioned global rank, so
    the corpus is never sorted in one window task; the round-6 audit
    caught the earlier ``_g=lit(1)`` key being constant-folded into an
    unpartitioned WindowExec), broadcast back onto the scan to label
    every document with its difficulty bin.  Ties at a threshold go to
    the lower bin (strict >) in both engines."""
    from dudb_spark.operators.quantiles import grouped_quantiles
    from dudb_spark.pipeline.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", quality_score(F.col("text")).alias("score")
    )
    ps = [i / 10 for i in range(1, 10)]
    names = [f"t{i * 10}" for i in range(1, 10)]
    th = grouped_quantiles(scored, [], "score", ps, names=names)
    th_arr = th.select(
        F.array(*[F.round(F.col(n), 6) for n in names]).alias("t")
    )
    return (
        scored.crossJoin(F.broadcast(th_arr))
        .select(
            "doc_id",
            "score",
            F.size(
                F.filter(F.col("t"), lambda x: F.col("score") > x)
            ).alias("bin"),
        )
        .orderBy("doc_id")
    )


def q117_mixture_weights(spark, sf_dir):
    """Temperature-weighted data-mixture plan (the Pile/LLaMA-style
    sampling table): per-source token mass raised to α=0.5 and
    normalized — upweights small sources, downweights dominant ones —
    with the boost factor over natural (proportional) sampling.  One
    grouped pass + a broadcast scalar row; the weights are the artifact
    a mixture_sample run consumes."""
    from dudb_spark.pipeline.text import token_count

    d = _t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum(F.pow("n_tokens", 0.5)).alias("_z"),
        F.sum("n_tokens").alias("_tot"),
    )
    w = F.pow("n_tokens", 0.5) / F.col("_z")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(w, 6).alias("weight"),
            F.round(
                w / (F.col("n_tokens") / F.col("_tot")), 6
            ).alias("boost"),
        )
        .orderBy("source")
    )


def q108_span_excision(spark, sf_dir):
    """Eval-set decontamination by EXCISION: every 8-token span of the
    corpus that also occurs in the held-out reference slice
    (doc_id % 97 == 0, q71's eval set) is cut out and the documents are
    rebuilt (pipeline/spans.excise_spans) — the removal counterpart of
    q71's flag-only contamination check.  Reference grams broadcast as
    a distinct int64 set."""
    from dudb_spark.pipeline.spans import excise_spans

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    ref = d.where(F.col("doc_id") % 97 == 0)
    return excise_spans(corpus, ref, 8).orderBy("doc_id")


def q120_stream_excision(spark, sf_dir):
    """STREAMING decontamination-by-excision — the online version of
    q108: the newest 20% of the corpus arrives as 4 mtime-ordered
    micro-batch files (maxFilesPerTrigger=1), and each batch runs
    pipeline/spans.excise_spans against the STATIC eval reference via
    foreachBatch (the excision plan needs explode/distinct/anti-join/
    rebuild aggregations that append-mode streaming can't express
    directly — foreachBatch is the supported composition, like q91's
    streaming ingest).  Batch results append to a parquet sink; the
    oracle is q108's batch excision restated over the same incoming
    slice, so value equality proves the per-batch composition changes
    nothing."""
    import os
    import shutil
    import tempfile
    from glob import glob as _glob

    from dudb_spark.pipeline.spans import excise_spans

    d = _t(spark, sf_dir, "documents")
    cut = d.count() * 4 // 5
    ref = d.where(F.col("doc_id") % 97 == 0)
    incoming = d.where(
        (F.col("doc_id") % 97 != 0) & (F.col("doc_id") >= cut)
    )
    src = tempfile.mkdtemp(prefix="dudb_q120_src_")
    _stage_mod_buckets(incoming, 4, src)
    out = os.path.join(tempfile.mkdtemp(prefix="dudb_q120_out_"), "res")

    def _excise_batch(batch, _epoch):
        excise_spans(batch, ref, 8).write.mode("append").parquet(out)

    with _stream_parts(spark):
        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_excise_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.read.parquet(out).orderBy("doc_id")


def q121_chunk_windows(spark, sf_dir):
    """Context-window chunking (pipeline/text.chunk_documents): every
    document splits into 64-token windows starting every 32 tokens
    (50% overlap — the retrieval-chunking shape; stride==size would
    give LM blocks).  One scan-fused explode(sequence), no shuffle; the
    oracle restates window starts, slices, and rebuilt chunk text."""
    from dudb_spark.pipeline.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=64, stride=32).orderBy(
        "doc_id", "win_id"
    )


def q122_source_overlap(spark, sf_dir):
    """Cross-source n-gram leakage matrix
    (pipeline/decontam.source_overlap_matrix): distinct 8-gram types per
    source, pairwise shared counts via one gram-hash equi-join, Jaccard
    of the gram-type sets — where benchmark/duplicate text bleeds
    between subcorpora.  The oracle restates it with string grams."""
    from dudb_spark.pipeline.decontam import source_overlap_matrix

    d = _t(spark, sf_dir, "documents")
    return source_overlap_matrix(d, n=8).orderBy("source_a", "source_b")


def q123_embedding_outliers(spark, sf_dir):
    """Embedding-space outlier surfacing
    (pipeline/similarity.label_outliers): exact-decimal per-label
    centroids, every vector's 6-decimal cosine to its OWN label
    centroid, and the 3 least-similar per label via the two-phase
    bucketed bottom-k (no per-label global sort) — the mislabel/quality
    review queue of an embedding pipeline.  The oracle replays
    centroids, scores, and ranking."""
    from dudb_spark.pipeline.similarity import label_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return label_outliers(emb, k=3).orderBy("label", "rank")


def q124_bpe_merges(spark, sf_dir):
    """Tokenizer training's BPE merge induction (pipeline/bpe.py,
    Sennrich et al. 2016): 8 rounds of most-frequent adjacent-pair
    merges over the weighted vocabulary (corpus collapses to distinct
    word × freq first — rounds are vocabulary-bounded).  One driver-side
    argmax row per round; the fold that applies each merge runs
    scan-fused and the oracle replays all 8 rounds (pair counts, merge
    choices, tie-breaks) via unrolled list_reduce CTEs."""
    from dudb_spark.pipeline.bpe import bpe_merges

    d = _t(spark, sf_dir, "documents")
    return bpe_merges(d, rounds=8).orderBy("merge_round")


def q125_bpe_encode(spark, sf_dir):
    """Tokenizer INFERENCE with the learned merge table (pipeline/bpe.
    bpe_encode): the q124 merges (8 rows, collected driver-side — the
    merge table is what a tokenizer ships) applied to the corpus with
    the same greedy fold, reporting per-document word/char/BPE-token
    counts and the chars-per-token compression.  The folds run over the
    distinct vocabulary, not the corpus; the oracle replays the
    identical list_reduce CTE chain and joins v8 back as the
    word→token-count map."""
    from dudb_spark.pipeline.bpe import bpe_encode, bpe_merges

    d = _t(spark, sf_dir, "documents")
    m = bpe_merges(d, rounds=8).orderBy("merge_round").collect()
    return bpe_encode(d, [(r["lhs"], r["rhs"]) for r in m]).orderBy("doc_id")


def q119_ivf_pq_residual(spark, sf_dir):
    """Residual-encoded IVF,PQ (pipeline/pq.ivf_pq_residual_topk —
    FAISS's actual ``IVF16,PQ8`` shape, Jégou et al. 2011 §IV.B): each
    vector stores PQ codes of its residual from the assigned coarse
    centroid, and the query scores candidates against the
    reconstruction c + r̂ via per-cell ADC tables.  Shares the q41
    quantizer pass; the oracle replays quantizer chain, residuals,
    residual codebooks, codes, probe set, and ranking from the
    embeddings table."""
    from dudb_spark.pipeline.pq import ivf_pq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id = 0").first()["embedding"]
    return ivf_pq_residual_topk(
        emb, _quantizer_cells(spark, sf_dir), q, k=10, n_probe=4,
        exclude_id=0,
    )


def q143_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al., NeurIPS 2023) as a
    first-class data-selection operator (pipeline/dsir.py): hashed
    unigram+bigram bucket features built from the MinHash-shared Horner
    token hashes, target(lang='en')/raw bucket distributions estimated
    in ONE bounded-key aggregation, per-document log-likelihood-ratio
    weights folded scan-side against a constant array literal, and
    Gumbel-top-k selection (deterministic via the MINSTD row hash) —
    sampling-without-replacement proportional to the importance weight.
    The oracle replays feature hashing, add-1 smoothing, the round-6
    log-ratios, the weight fold, and the Gumbel keys end-to-end in
    SQL."""
    from dudb_spark.pipeline.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    return dsir_select(
        d, "doc_id", "text", F.col("lang") == "en",
        k=50, n_buckets=256, smoothing=1.0, salt=13,
    )


def q144_knn_label_noise(spark, sf_dir):
    """kNN label-noise audit (pipeline/labelcheck.py — the
    edited-nearest-neighbor rule, Wilson 1972 / Confident-Learning-style
    neighborhood check): each embedding's 5 nearest same-cell neighbors
    vote; a row whose own label disagrees with the neighbor majority is
    flagged as a mislabel candidate.  Shares the q41/q88/q134 quantizer
    pass; candidate pairs are confined to quantizer cells (never
    all-pairs), the k-nearest filter is a WindowGroupLimit-prunable rank
    window, and the votes are bounded hash aggregates.  The oracle
    replays quantizer, 6-decimal cosine ranking, majority vote, and the
    flag end-to-end."""
    from dudb_spark.pipeline.labelcheck import knn_label_noise

    emb = _t(spark, sf_dir, "embeddings")
    return knn_label_noise(
        emb, k=5, cells=_quantizer_cells(spark, sf_dir)
    ).orderBy("vec_id")


def q145_corpus_drift(spark, sf_dir):
    """Corpus drift monitor (pipeline/drift.py): per-source KL and
    total-variation divergence of the hashed unigram+bigram bucket
    distribution vs the whole-corpus reference — the mixture-health
    check a crawl pipeline runs per source/day before re-weighting
    (same feature space DSIR selects with, q143).  One bounded-key
    corpus aggregation (|sources| × 256 keys, map-side combine), then
    broadcast-joined bounded frames; each divergence term is quantized
    to integer nano-units before the final sum (the q90 micro-unit
    pattern) so the result is exact, order-free, and engine-identical.
    The oracle replays grams, smoothing grid, nano terms, and both
    divergences in SQL."""
    from dudb_spark.pipeline.drift import corpus_drift

    d = _t(spark, sf_dir, "documents")
    return corpus_drift(d, "text", "source", n_buckets=256).orderBy("source")


def q146_hll_cardinality(spark, sf_dir):
    """HyperLogLog distinct-count sketch (pipeline/sketch.py): per-source
    vocabulary size (distinct token hashes) estimated from 256 registers
    — the bounded-state answer to the exact COUNT(DISTINCT) Expand that
    checks.py's approx gate routes around at scale.  The register fold is
    one groupBy(source, register) whose key space is |sources|×256
    regardless of corpus size; exact distinct rides alongside for the
    certified relative error.  rho is pure integer comparisons (no libm
    log2), the harmonic sum adds exact powers of two (order-free), and
    the oracle replays registers, corrections, and estimate in SQL."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import hll_distinct

    d = _t(spark, sf_dir, "documents")
    th = d.select(
        "source", F.explode(poly_token_hash_array(F.col("text"))).alias("h")
    )
    est = hll_distinct(th, ["source"], "h", p=8)
    exact = th.groupBy("source").agg(
        F.countDistinct("h").alias("exact_distinct")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


def q147_leakage_free_split(spark, sf_dir):
    """Leakage-free train/val/test split (pipeline/cluster.py
    leakage_free_split): documents are split by the hash of their
    duplicate-cluster REPRESENTATIVE (q44's components; min doc id),
    so a near-dup pair can never straddle train and eval — the
    contamination-proof property a per-doc hash split lacks.  The
    cluster frame broadcasts (bounded by clustered docs), the split is
    the scan-side MINSTD CASE (sampling.assign_split); the oracle
    replays components (recursive CTE) + the identical hash CASE."""
    from dudb_spark.pipeline.cluster import leakage_free_split

    d = _t(spark, sf_dir, "documents")
    clusters = _dup_clusters(spark, sf_dir)
    return leakage_free_split(
        d, clusters, {"train": 0.9, "val": 0.05, "test": 0.05}, salt=11
    ).orderBy("doc_id")


def q149_stream_distinct_sketch(spark, sf_dir):
    """Streaming distinct-count sketch (streaming/rollup.
    hourly_hll_registers): per-hour distinct users estimated from HLL
    registers maintained THROUGH Structured Streaming — the bounded-
    state answer to the streamed COUNT DISTINCT Spark refuses outright
    (unbounded state).  State is ≤256 rows per open window; max(rho) is
    associative, so micro-batches merge registers exactly like batch
    shard unions, certified here by estimating from the streamed sink
    and matching the oracle's batch restatement value-exactly.  Users
    hash through the same Horner fold the dedup family uses, so the
    registers, corrections, and estimate all replay in SQL."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import hll_estimate
    from dudb_spark.streaming.rollup import (
        hourly_hll_registers,
        stream_events,
    )

    src = _staged_events(spark, sf_dir)
    uhash = F.element_at(
        poly_token_hash_array(F.col("user_id").cast("string")), 1
    )
    with _stream_parts(spark):
        stream = stream_events(spark, src)
        q = (
            hourly_hll_registers(stream, uhash, p=8)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dudb_q149_regs")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    regs = spark.table("dudb_q149_regs").select(
        _fmt_ts(F.col("win.start"), "hour"), "reg", "rho"
    )
    est = hll_estimate(regs, ["hour"], p=8).withColumnRenamed(
        "est_distinct", "est_users"
    )
    exact = _events(spark, sf_dir).groupBy(
        F.window("ts", "1 hour").alias("win")
    ).agg(F.countDistinct("user_id").alias("exact_users")).select(
        _fmt_ts(F.col("win.start"), "hour"), "exact_users"
    )
    return est.join(exact, "hour").orderBy("hour")


def q150_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency estimation (pipeline/sketch.cms_cells
    / cms_estimate): corpus term counts estimated from a 4×1024-cell
    table — bounded shuffle state at any corpus size, where the exact
    path (q54's salted count) shuffles every distinct term.  The top-20
    terms carry exact count, CMS estimate, and the overestimate (the
    one-sided CMS guarantee: est ≥ exact, pinned in tests).  Registers,
    row hashes, and min-over-rows estimate all replay in SQL."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import cms_cells, cms_estimate
    from dudb_spark.pipeline.text import tokens

    d = _t(spark, sf_dir, "documents")
    occ = d.select(F.explode(tokens(F.col("text"))).alias("term")).select(
        "term",
        F.element_at(poly_token_hash_array(F.col("term")), 1).alias("h"),
    )
    cells = cms_cells(occ, "h", d=4, w=1024)
    cand = occ.groupBy("term", "h").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    est = cms_estimate(cand, cells, "h", d=4, w=1024)
    return (
        est.select(
            "term",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overest"),
        )
        .orderBy(F.desc("exact_count"), "term")
        .limit(20)
    )


def q151_sketch_source_overlap(spark, sf_dir):
    """Sketch set-operations (pipeline/sketch.hll_pair_union_estimates):
    pairwise cross-source vocabulary overlap by HLL inclusion–exclusion
    — |A∩B| ≈ |A| + |B| − |A∪B|, with the union estimated from the
    register-wise max-merge of the SAME per-source register frame the
    cardinality pass built (one corpus scan total; pair work is bounded
    by pairs × 256 register rows, the corpus is never re-scanned per
    pair — vs q122's exact overlap matrix whose gram join is bounded by
    vocabulary).  The exact intersection rides alongside; the oracle
    replays both sketches (distinct CTE prefixes), the merge, and the
    inclusion–exclusion in SQL."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import (
        hll_estimate,
        hll_pair_union_estimates,
        hll_registers,
    )

    d = _t(spark, sf_dir, "documents")
    occ = d.select(
        "source", F.explode(poly_token_hash_array(F.col("text"))).alias("h")
    )
    regs = hll_registers(occ, ["source"], "h", p=8)
    per = hll_estimate(regs, ["source"], p=8)
    uni = hll_pair_union_estimates(regs, "source", p=8)
    est = (
        uni.join(
            per.select(
                F.col("source").alias("src_a"),
                F.col("est_distinct").alias("_ea"),
            ),
            "src_a",
        )
        .join(
            per.select(
                F.col("source").alias("src_b"),
                F.col("est_distinct").alias("_eb"),
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("_ea") + F.col("_eb") - F.col("est_union"), 4
            ).alias("est_intersection"),
        )
    )
    dist = occ.distinct()
    exact = (
        dist.alias("a")
        .join(dist.alias("b"), "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_intersection",
            F.coalesce("exact_intersection", F.lit(0)).alias(
                "exact_intersection"
            ),
        )
        .orderBy("src_a", "src_b")
    )


def q152_cms_meanmin(spark, sf_dir):
    """Count-MEAN-min debiased frequency estimates
    (pipeline/sketch.cms_estimate_meanmin, Deng & Rafiei 2007): the
    classic CMS min estimate is one-sided (est ≥ exact) with error
    ε = e/w of TOTAL stream weight — material on Zipfian tails (q150
    prints it).  The mean-min variant subtracts each row's expected
    collision noise, cnt_j − (N − cnt_j)/(w−1), and takes the median
    over rows — integer-scaled so the median arithmetic is exact and
    order-free cross-engine, with one final double division.  Output:
    the 12 LOWEST-frequency terms of a fixed probe band (where the
    debias matters most) with exact count, min estimate, and mean-min
    estimate; the oracle replays both estimators in SQL.  Same bounded
    d×w cell state as q150 — the variant changes READ math only, so
    the sketch build, merges, and the 100 TB shuffle shape are
    untouched."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import cms_cells, cms_estimate_meanmin
    from dudb_spark.pipeline.text import tokens

    d = _t(spark, sf_dir, "documents")
    occ = d.select(F.explode(tokens(F.col("text"))).alias("term")).select(
        "term",
        F.element_at(poly_token_hash_array(F.col("term")), 1).alias("h"),
    )
    cells = cms_cells(occ, "h", d=4, w=256)
    cand = occ.groupBy("term", "h").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    est = cms_estimate_meanmin(cand, cells, "h", d=4, w=256)
    return (
        est.select(
            "term",
            "exact_count",
            F.col("est_count").alias("est_min"),
            "est_meanmin",
        )
        .orderBy("exact_count", "term")
        .limit(12)
    )


def _cms_meanmin_oracle_sql(dd: int = 4, w: int = 256) -> str:
    """DuckDB restatement of q152: same cell build as q150's oracle,
    min AND mean-min estimates, 12 lowest-frequency terms."""
    from dudb_spark.pipeline.sketch import (
        cms_estimate_sql,
        cms_meanmin_sql,
        cms_sql_cte,
    )

    M = (1 << 31) - 1
    cte = cms_sql_cte("SELECT h FROM occ", "h", d=dd, w=w)
    est = cms_estimate_sql("h", d=dd, w=w)
    mm = cms_meanmin_sql("h", d=dd, w=w)
    return f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS term
            FROM documents
        ), occ AS (
            SELECT term,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           [ord(term[i])::BIGINT
                            FOR i IN range(1, len(term)+1)]),
                       (a, b) -> (a*257+b) % {M}) AS h
            FROM toks
        ),
        {cte},
        cand AS (
            SELECT term, h, COUNT(*) AS exact_count
            FROM occ GROUP BY term, h
        )
        SELECT term,
               CAST(exact_count AS BIGINT) AS exact_count,
               CAST({est} AS BIGINT) AS est_min,
               {mm} AS est_meanmin
        FROM cand
        ORDER BY exact_count, term LIMIT 12
    """


def q153_hist_quantiles(spark, sf_dir):
    """Histogram quantile sketch (pipeline/sketch.hist_cells /
    hist_quantiles): per-source p25/p50/p90/p99 of document length from
    a 64-bin fixed-grid fold — ≤ groups × 64 rows of state out of any
    corpus, where the EXACT grouped quantiles (q98/q116's
    operators/quantiles.py) sort data-proportional partitions.  The
    trade is written down: error ≤ one bin width = 16 chars here.
    Binning is pure int64 (value*n_bins div span, clamped), ranks and
    interpolation are single IEEE ops — the whole sketch replays
    bit-exactly in SQL.  Windows partition by (source[, q]) over ≤ 64
    rows; mergeable via union + re-sum like every fold in this family."""
    from dudb_spark.pipeline.sketch import hist_cells, hist_quantiles

    d = _t(spark, sf_dir, "documents")
    lv = d.select("source", F.length("text").alias("clen"))
    cells = hist_cells(lv, ["source"], "clen", lo=0, hi=1024, n_bins=64)
    return (
        hist_quantiles(cells, ["source"], [0.25, 0.5, 0.9, 0.99],
                       lo=0, hi=1024, n_bins=64)
        .orderBy("source", "q")
    )


def _hist_quantiles_oracle_sql() -> str:
    from dudb_spark.pipeline.sketch import hist_quantiles_sql_cte

    cte = hist_quantiles_sql_cte(
        "SELECT source, length(text) AS clen FROM documents",
        "source", "clen", [0.25, 0.5, 0.9, 0.99],
        lo=0, hi=1024, n_bins=64,
    )
    return f"""
        WITH {cte}
        SELECT grp AS source, q, est FROM hq ORDER BY source, q
    """


def q154_bloom_decontam(spark, sf_dir):
    """Bloom-prefiltered decontamination
    (pipeline/sketch.bloom_bits/bloom_probe, Bloom 1970): q71's exact
    n-gram decontamination broadcasts the member shingle set verbatim —
    fine for benchmark-sized eval sets, unpayable when the filter side
    is the 100 TB TRAINING corpus (dedup-against-train, the reverse
    direction).  The bloom filter caps that broadcast at m bits
    regardless of corpus size, with the one guarantee decontamination
    needs: NO false negatives — a miss is definitely clean, only hits
    pay the exact check.  Here: 3-token shingle Horner hashes (q16's
    certified chain), train = every source but src0, eval = src0;
    per eval doc, total / bloom-maybe / exact shingle hits, with
    maybe ≥ exact pinned in tests and both the filter build and the
    all-k-bits probe replayed in SQL."""
    from dudb_spark.pipeline.dedup import (
        poly_shingle_hashes_from,
        poly_token_hash_array,
    )
    from dudb_spark.pipeline.sketch import bloom_bits, bloom_probe

    m_bits, k = 1 << 16, 4
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        poly_token_hash_array(F.col("text")).alias("_th"),
    )
    sg = base.select(
        "doc_id", "source",
        F.explode_outer(
            poly_shingle_hashes_from(F.col("_th"), 3)
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    train = sg.where(F.col("source") != "src0").select("h")
    ev = sg.where(F.col("source") == "src0").select("doc_id", "h")
    bits = bloom_bits(train, "h", m_bits, k)
    probed = bloom_probe(ev, bits, "h", m_bits, k)
    exact = probed.join(
        train.distinct().withColumn("_x", F.lit(1)), "h", "left"
    )
    return (
        exact.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("maybe_member"), 1).otherwise(0)).alias(
                "n_maybe"
            ),
            F.sum(F.when(F.col("_x").isNotNull(), 1).otherwise(0)).alias(
                "n_exact"
            ),
        )
        .orderBy("doc_id")
    )


def _bloom_decontam_oracle_sql(m_bits: int = 1 << 16, k: int = 4) -> str:
    from dudb_spark.pipeline.sketch import bloom_probe_sql, bloom_sql_cte

    M = (1 << 31) - 1
    bloom = bloom_sql_cte("SELECT h FROM trsh", "h", m_bits, k)
    probe = bloom_probe_sql("ev.h", m_bits, k)
    return f"""
        WITH t AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, source, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT
                         FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), hsx AS (
            SELECT doc_id, source, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+2]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-2, 1) + 1)]) AS hs
            FROM tkh
        ), trsh AS (
            SELECT unnest(hs) AS h FROM hsx WHERE source <> 'src0'
        ), trdist AS (
            SELECT DISTINCT h FROM trsh
        ), ev AS (
            SELECT doc_id, unnest(hs) AS h FROM hsx
            WHERE source = 'src0'
        ),
        {bloom},
        flags AS (
            SELECT ev.doc_id,
                   CASE WHEN {probe} THEN 1 ELSE 0 END AS mm,
                   CASE WHEN td.h IS NOT NULL THEN 1 ELSE 0 END AS ex
            FROM ev LEFT JOIN trdist td ON ev.h = td.h
        )
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(mm) AS BIGINT) AS n_maybe,
               CAST(SUM(ex) AS BIGINT) AS n_exact
        FROM flags GROUP BY doc_id ORDER BY doc_id
    """


def q155_stream_freq_sketch(spark, sf_dir):
    """Streaming per-window frequency sketch (streaming/rollup.
    hourly_cms_cells): per-hour event-type counts estimated from a
    count-min cell stream maintained THROUGH Structured Streaming —
    q149's bounded-state argument applied to FREQUENCY: ≤ d×w = 256
    state rows per open window at any key cardinality, where an exact
    streamed per-key count holds one row per distinct key.  sum is
    associative, so micro-batch merges equal batch shard unions —
    certified by estimating from the streamed sink and matching the
    batch SQL restatement value-exactly, with exact counts alongside
    (est ≥ exact, the one-sided guarantee, pinned in tests)."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import cms_bucket
    from dudb_spark.streaming.rollup import (
        hourly_cms_cells,
        stream_events,
    )

    d_rows, w = 4, 64
    src = _staged_events(spark, sf_dir)
    thash = F.element_at(poly_token_hash_array(F.col("event_type")), 1)
    with _stream_parts(spark):
        stream = stream_events(spark, src)
        q = (
            hourly_cms_cells(stream, thash, d=d_rows, w=w)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dudb_q155_cells")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    cells = spark.table("dudb_q155_cells").select(
        _fmt_ts(F.col("win.start"), "hour"), "j", "bucket", "cnt"
    )
    ev = _events(spark, sf_dir).select(
        F.date_format(
            F.window(F.col("ts"), "1 hour").start, "yyyy-MM-dd HH:mm:ss"
        ).alias("hour"),
        "event_type",
        thash.alias("h"),
    )
    cand = ev.groupBy("hour", "event_type", "h").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    probes = cand.select(
        "*",
        F.posexplode(
            F.array(*[cms_bucket(F.col("h"), j, w) for j in range(d_rows)])
        ).alias("j", "bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["hour", "j", "bucket"], "left")
        .groupBy("hour", "event_type", "exact_count")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
    return est.select(
        "hour", "event_type", "exact_count", "est_count"
    ).orderBy("hour", "event_type")


_HARDNEG_QIDS = [1, 7, 13, 21]


def q148_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval training
    (pipeline/retrieval.hard_negatives): four corpus documents act as
    queries; per query, the top-5 BM25-scored documents AFTER excluding
    the query doc itself and its whole near-dup cluster (q44's
    components) — the false-negative guard contrastive training needs.
    Exclusions are applied to the full scored frame BEFORE ranking via
    a broadcast anti-join; the oracle replays BM25 (q103's restatement)
    + components + the exclusion in SQL."""
    from dudb_spark.pipeline.retrieval import hard_negatives

    d = _t(spark, sf_dir, "documents")
    clusters = _dup_clusters(spark, sf_dir)
    qdocs = d.where(F.col("doc_id").isin(_HARDNEG_QIDS))
    qs = qdocs.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    pos = qdocs.select(
        F.col("doc_id").alias("query_id"), F.col("doc_id")
    )
    qcl = clusters.where(F.col("doc_id").isin(_HARDNEG_QIDS)).select(
        F.col("doc_id").alias("query_id"), "cluster_id"
    )
    mates = qcl.join(
        clusters.select("doc_id", "cluster_id"), "cluster_id"
    ).select("query_id", "doc_id")
    exclude = pos.unionByName(mates)
    return hard_negatives(d, qs, exclude, k=5).orderBy("query_id", "rank")


_STAGED_ORDERED_MEMO: dict = {}


def _staged_events_ordered(spark, sf_dir, n_files: int = 4) -> str:
    """Events staged as ``n_files`` time-ordered, mtime-stamped parquet
    files (range-partitioned by ts) so maxFilesPerTrigger=1 replays them
    as time-ordered micro-batches — the q85 staging, shared and memoized
    for operators whose cross-batch contract is per-key ts order."""
    import os
    import tempfile
    from glob import glob as _glob

    key = (id(spark), sf_dir, n_files)
    got = _STAGED_ORDERED_MEMO.get(key)
    if got is not None and got[0] is spark:
        return got[1]
    src = tempfile.mkdtemp(prefix="dudb_ordstream_src_")
    _events(spark, sf_dir).repartitionByRange(n_files, "ts").write.mode(
        "overwrite"
    ).parquet(src)
    for k, p in enumerate(
        sorted(_glob(os.path.join(src, "part-*.parquet")))
    ):
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    _STAGED_ORDERED_MEMO[key] = (spark, src)
    return src


def q161_stream_anomaly(spark, sf_dir):
    """Streaming rolling-anomaly detection
    (streaming/anomaly.stream_rolling_anomalies): q159's trailing
    12-event 3σ detector as a custom stateful operator — Structured
    Streaming has no sliding ROWS-frame window, so the state IS the
    frame: the last 12 (ts, id, centi-value) triples per user, O(12)
    rows per key forever, where the batch plan sorts each user's whole
    partition.  Four time-ordered micro-batches (maxFilesPerTrigger=1)
    carry windows ACROSS batch boundaries through the state buffer; the
    int64 z-test makes streamed == batch an equality, not an
    approximation — certified against the SAME SQL oracle as q159,
    value-exact."""
    from dudb_spark.streaming.anomaly import stream_rolling_anomalies
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    src = _staged_events_ordered(spark, sf_dir, 4)
    with _stream_parts(spark):
        reader = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
        )
        q = (
            stream_rolling_anomalies(reader.parquet(src))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q161_anom")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q161_anom")
        .where("is_anomaly")
        .select("id", "key", "value", "n_prior", "dev_n", "var_n")
        .orderBy("id")
    )


def q156_props_json(spark, sf_dir):
    """Semi-structured column extraction: events.props is a JSON string
    (the universal "everything else" column of event pipelines);
    ``get_json_object`` pulls ``$.k`` JVM-side — no UDF, fused into the
    scan projection with column pruning intact (the scan reads only
    props/event_type/user_id) — then a grouped rollup by event type and
    k-decile.  Certifies that the engine's JSON path extraction agrees
    with DuckDB's ``json_extract_string`` byte-for-byte through a cast,
    a bucketing div, sums, and a distinct count.

    Scale: one shuffle (the groupBy), key space bounded by
    |event_types| × 10 buckets; the distinct-user count is the only
    expansion and stays partial-aggregated per key.  At 100 TB the JSON
    parse is the dominant per-row cost — still whole-stage-codegen'd,
    no Python."""
    e = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select(
            "event_type", k.alias("k"), "user_id"
        )
        .groupBy("event_type", F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type", "k_bucket")
    )


def q157_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality filter (pipeline/text.bigram_logprob,
    Wenzek et al. 2020): every document scored by its mean bigram
    log-probability under a Laplace-smoothed first-order Markov model
    estimated on the corpus's English slice — the word-ORDER
    complement to q52's unigram filter (shuffled text keeps its q52
    score, collapses here).  Add-one smoothing keeps the whole model
    integer, so both engines estimate the identical model; only the
    final ln() terms are floats, rounded to 6 dp per the q52
    discipline.  Bigrams via zip_with over a shifted slice (the
    dsir.gram_buckets_from rule — indexed lambdas re-evaluate O(n²)
    under optimizer inlining); model joins are the AQE skew-join shape
    with the vocabulary size riding as a broadcast scalar."""
    from dudb_spark.pipeline.text import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d, F.col("lang") == "en").orderBy("doc_id")


def q158_stratified_budget(spark, sf_dir):
    """Exact-budget stratified sampling
    (pipeline/sampling.stratified_exact_sample): EXACTLY 137 documents
    allocated across sources by the largest-remainder method — every
    quota step integer (base = n_s·B div N, +1 to the largest
    remainders), so the allocation replays bit-for-bit in any engine,
    where the rate-based samplers (q46/q57) hit a budget only in
    expectation.  In-stratum selection by hash rank (q46's certified
    MINSTD coordinate), ranked under a constant ``rn ≤ max(quota)``
    bound so Catalyst keeps a group-limit prune on the shuffle plus the
    per-stratum quota trim.  Output: per-source audit — population,
    quota, selected count, and the id-sum checksum that pins the exact
    selected SET against the oracle."""
    from dudb_spark.pipeline.sampling import stratified_exact_sample

    d = _t(spark, sf_dir, "documents")
    sel = stratified_exact_sample(d, "doc_id", "source", 137, salt=7)
    return (
        sel.groupBy("source")
        .agg(
            F.max("n_rows").alias("n_docs"),
            F.max("quota").alias("quota"),
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("doc_id").alias("sum_sel_ids"),
        )
        .orderBy("source")
    )


def q162_temperature_mixture(spark, sf_dir):
    """Temperature-rebalanced corpus sampling
    (pipeline/sampling.temperature_quotas / temperature_sample):
    allocation ∝ n_s^0.5 instead of n_s — the multilingual rebalancing
    exponent XLM-R/mT5 train with — integerized by the same Hamilton
    step as q158, so small sources gain share at the expense of head
    sources and the whole allocation still sums to EXACTLY the budget.
    α=0.5 is the certified point: IEEE sqrt is correctly rounded in
    every engine, so even the one float step replays bit-for-bit
    (general α goes through libm pow and is supported-not-certified,
    documented in the module).  Output: per-source audit with the
    allocated quota, the population cap, and the selected-set id-sum
    checksum."""
    from dudb_spark.pipeline.sampling import temperature_sample

    d = _t(spark, sf_dir, "documents")
    sel = temperature_sample(d, "doc_id", "source", 137, alpha=0.5,
                             salt=11)
    return (
        sel.groupBy("source")
        .agg(
            F.max("n_rows").alias("n_docs"),
            F.max("quota").alias("quota"),
            F.max("capped").alias("capped"),
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("doc_id").alias("sum_sel_ids"),
        )
        .orderBy("source")
    )


def q159_rolling_anomaly(spark, sf_dir):
    """Rolling-window anomaly detection
    (operators/timeseries.rolling_anomalies): events whose value sits
    more than 3σ from their user's trailing 12-event window (window
    excludes the current row; ≥6 history rows required).  The decision
    is ENTIRELY int64 — values quantized to centi-units, then
    dev² > 9·var tested as (n·q−s)² > 9·(n·Σq²−s²) — because sliding
    float aggregates do NOT replay across engines (Spark re-scans each
    frame in row order, DuckDB folds a segment tree; the last ulp
    diverges and flips boundary flags).  One Exchange on user_id, frame
    cost bounded by the 13-row window regardless of user skew."""
    from dudb_spark.operators.timeseries import rolling_anomalies

    e = _events(spark, sf_dir)
    return (
        rolling_anomalies(e)
        .where("is_anomaly")
        .select("id", "key", "value", "n_prior", "dev_n", "var_n")
        .orderBy("id")
    )


def q160_event_islands(spark, sf_dir):
    """Gaps-and-islands (operators/timeseries.event_islands): maximal
    runs of ≥3 consecutive same-type events per user in (ts, id) order
    — the classic rn−rn_within_label difference, all integer.  Both
    row_numbers share one ordering, so Catalyst plans them in a single
    Window chain after ONE Exchange on user_id; the island fold's key
    count is the island count.  The op the reference's sequential
    scans get for free and a shuffle engine has to earn."""
    from dudb_spark.operators.timeseries import event_islands

    e = _events(spark, sf_dir)
    return (
        event_islands(e, min_len=3)
        .select("key", "label", "run_len", "min_id", "max_id")
        .orderBy("key", "min_id")
    )


def q163_kmv_set_overlap(spark, sf_dir):
    """KMV (theta) sketch set-operations (pipeline/sketch.kmv_minima /
    kmv_pair_set_estimates, Beyer et al. SIGMOD 2007): per-source
    vocabulary sketches of the k=64 smallest distinct token hashes,
    then DIRECT union / intersection / difference estimates for all
    190 source pairs from the pair's shared θ-sample — the set algebra
    q151's HLL registers cannot express (inclusion–exclusion's error
    grows with |A∪B|; the θ-sample estimates the intersection itself).
    The fold is dense_rank ≤ k compiling to a PARTIAL WindowGroupLimit
    (bounded map-side heap, shuffle constant in corpus size,
    plan-pinned); sketches merge by union + re-rank like HLL
    registers.  Exact intersection rides alongside; the oracle replays
    the fold, θ, and every scaled count in SQL."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import (
        kmv_estimate,
        kmv_minima,
        kmv_pair_set_estimates,
    )

    d = _t(spark, sf_dir, "documents")
    occ = d.select(
        "source", F.explode(poly_token_hash_array(F.col("text"))).alias("h")
    )
    # pin the two multi-branch frames (the q177/q172 graph-family rule:
    # aliased/re-derived branches defeat ReusedExchange).  `minima`
    # (≤ sources×64 rows) feeds the estimator AND ≥5 branches inside
    # kmv_pair_set_estimates (θ, pair list, both sample sides) — unpinned,
    # the corpus explode+WindowGroupLimit fold was embedded 8× (1583-line
    # plan).  `dist` feeds both sides of the aliased exact self-join.
    minima = kmv_minima(occ, ["source"], "h", k=64).localCheckpoint()
    per = kmv_estimate(minima, ["source"], 64)
    pair = kmv_pair_set_estimates(minima, "source", k=64)
    # pin-size note (spill-aware policy, plans/linter.PIN_ALLOW): unlike
    # `minima` (sketch-bounded, ≤ sources×64 rows), `dist` is VOCABULARY-
    # cardinality — every distinct (source, token-hash) pair, two int64s
    # per row, far below the corpus text but unbounded by k.
    # localCheckpoint stores MEMORY_AND_DISK (spills, doesn't OOM); at
    # cluster scale the exact-intersection side belongs in a persisted
    # artifact (persist(DISK_ONLY)+unpersist, or skip the exact column —
    # it exists here to certify the estimator).
    dist = occ.distinct().localCheckpoint()
    exact = (
        dist.alias("a")
        .join(dist.alias("b"), "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        pair.join(
            F.broadcast(
                per.select(F.col("source").alias("src_a"),
                           F.col("est_distinct").alias("est_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                per.select(F.col("source").alias("src_b"),
                           F.col("est_distinct").alias("est_b"))
            ),
            "src_b",
        )
        .join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a", "src_b", "est_a", "est_b",
            "est_union", "est_intersection", "est_diff_ab",
            F.coalesce("exact_intersection", F.lit(0)).alias(
                "exact_intersection"
            ),
        )
        .orderBy("src_a", "src_b")
    )


def q164_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement
    (pipeline/sampling.weighted_sample, Efraimidis–Spirakis IPL 2006):
    30 documents PER LANGUAGE drawn with probability ∝ n_chars at each
    draw — the "sample ∝ score" primitive (quality-weighted corpus
    selection, freshness-weighted events) that df.sample cannot make
    rerun-stable and rate-samplers cannot make size-exact.  Key
    ``ln(u)/w`` from the exact 31-bit MINSTD coordinate; the grouped
    top-n compiles to a Partial WindowGroupLimit (bounded map-side
    heap, plan-pinned in tests).  The oracle replays the pmod chain,
    the key, and the per-lang ranked cut in SQL."""
    from dudb_spark.pipeline.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    sel = weighted_sample(
        d, "doc_id", "n_chars", 30, salt=13, group_col="lang"
    )
    return sel.select("doc_id", "lang", "source", "n_chars").orderBy(
        "doc_id"
    )


def q165_stream_window_quantiles(spark, sf_dir):
    """Streaming per-window quantile sketch (streaming/rollup.
    hourly_hist_cells + pipeline/sketch.hist_quantiles): per-hour
    p50/p95/p99 of the event value estimated from a 64-bin histogram
    stream maintained THROUGH Structured Streaming — q149's
    bounded-state argument applied to QUANTILES, which Spark refuses
    to stream at all (no streamed percentile; exact state is
    per-value).  State is ≤ 64 rows per open window; count is
    associative, so micro-batch merges equal batch shard unions —
    certified by estimating from the streamed sink and matching the
    batch SQL restatement value-exactly.  Values quantize to integer
    centi-units (the q159 discipline), so binning, ranks, and
    interpolation replay bit-for-bit; error ≤ one bin = 8.0 units,
    written into the oracle's grid."""
    from dudb_spark.pipeline.sketch import hist_quantiles
    from dudb_spark.streaming.rollup import (
        hourly_hist_cells,
        stream_events,
    )

    lo, hi, n_bins = 0, 51_200, 64
    src = _staged_events(spark, sf_dir)
    centi = F.round(F.col("value") * 100).cast("long")
    with _stream_parts(spark):
        stream = stream_events(spark, src)
        q = (
            hourly_hist_cells(stream, centi, lo=lo, hi=hi, n_bins=n_bins)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dudb_q165_cells")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    cells = spark.table("dudb_q165_cells").select(
        _fmt_ts(F.col("win.start"), "hour"), "bin", "cnt"
    )
    est = hist_quantiles(cells, ["hour"], [0.5, 0.95, 0.99],
                         lo=lo, hi=hi, n_bins=n_bins)
    n = cells.groupBy("hour").agg(F.sum("cnt").alias("n_events"))
    return (
        est.join(n, "hour")
        .select(
            "hour", "q",
            F.col("est").alias("est_centi"),
            F.round(F.col("est") / 100.0, 4).alias("est_value"),
            "n_events",
        )
        .orderBy("hour", "q")
    )


def q166_incremental_dedup(spark, sf_dir):
    """Incremental cross-corpus near-dup detection
    (pipeline/dedup.minhash_band_index / incremental_verified_pairs):
    a NEW shard (doc_id ≡ 0 mod 3) deduped against the ALREADY-INGESTED
    corpus (the rest) by banding only the new docs and equi-joining the
    history's band index — signature work ∝ new shard, verify
    re-shingles only colliding old docs (candidate-bounded semi-join);
    history is never re-sketched, vs re-running q16's self-dedup over
    old ∪ new every crawl.  merge_scan's unchanged-work-skipped
    contract (reference analyze.go:104–123) applied to near-dup
    detection.  hash_fn='poly' end-to-end, so signatures, banding,
    history cap, estimates, and exact-Jaccard verify all replay in the
    oracle."""
    from dudb_spark.pipeline.dedup import incremental_verified_pairs

    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 3 == 0)
    old = d.where(F.col("doc_id") % 3 != 0)
    return incremental_verified_pairs(
        new, old, num_perm=32, bands=8, min_est=0.5, min_jaccard=0.3
    ).orderBy("new_id", "old_id")


def q167_weighted_mass_sample(spark, sf_dir):
    """Weight-everything exact sampling
    (pipeline/sampling.weighted_mass_quotas / weighted_exact_sample):
    a 137-document budget ALLOCATED across sources by integer n_chars
    mass (Hamilton integerization — q158's allocator pointed at weight
    mass instead of row count) and DRAWN within each source ∝ n_chars
    (q164's A-ES key) — both halves of "sample by size/quality" in one
    deterministic pass, total = budget − Σ shortfall when mass
    concentrates in small strata.  All allocation arithmetic int64
    (integrality refused otherwise, overflow guarded BEFORE the quota
    fold executes — ANSI throws there first); the oracle replays the
    mass quotas and the ranked A-ES cut in SQL."""
    from dudb_spark.pipeline.sampling import weighted_exact_sample

    d = _t(spark, sf_dir, "documents")
    sel = weighted_exact_sample(d, "doc_id", "source", "n_chars", 137,
                                salt=17)
    return sel.select(
        "doc_id", "source", "n_chars", "quota", "capped", "rn"
    ).orderBy("doc_id")


def q168_exact_similarity_join(spark, sf_dir):
    """EXACT set-similarity self-join (pipeline/dedup.
    similarity_join_exact, All-Pairs/PPJoin prefix filtering —
    Bayardo et al. WWW 2007): every document pair with shingle-set
    Jaccard ≥ 0.6, with ZERO false negatives — the recall guarantee
    the probabilistic dedup family (q16 MinHash, q19 SimHash) trades
    away, completing the dedup surface with its one exact-recall
    member.  Candidates come from an equi-join on rarest-first prefix
    tokens (never all-pairs; the prefix lemma bounds the index at
    |x|−⌈t·|x|⌉+1 tokens per doc); the threshold runs as the rational
    ⌈t·1e6⌉/1e6 so prefix lengths and the |∩|·1e6 ≥ tn·|∪| verify are
    pure int64 — a float ceil can shorten a prefix into a missed
    boundary pair (pinned against brute force in tests).  The oracle
    replays hashes, frequencies, prefixes, and the integer verify."""
    from dudb_spark.pipeline.dedup import similarity_join_exact

    d = _t(spark, sf_dir, "documents")
    return similarity_join_exact(d, threshold=0.6).orderBy(
        "id_a", "id_b"
    )


def q187_frame_energy(spark, sf_dir):
    """Frame-level audio energy / silence detection
    (pipeline/multimodal.frame_energy): REAL RIFF/WAVE 16-bit PCM
    payloads built formulaically (sample t of media i = 0 in every
    third window — planted silence — else ((i·31+t·7) mod 2048)−1024)
    are parsed and windowed by the Arrow kernel; each 64-sample frame
    scores its exact int64 sum of squares, ``silent`` is the integer
    comparison sumsq ≤ 0, rms the only floating step.  The VAD/trim
    primitive of an audio curation pipeline, with the q86 discipline:
    the oracle re-derives every sample from the generator formula in
    SQL — PCM actually decoded, not digest stubs."""
    from dudb_spark.pipeline import multimodal as mm

    rows = []
    for i in range(24):
        samples = [
            0 if ((t // 64) + i) % 3 == 0
            else ((i * 31 + t * 7) % 2048) - 1024
            for t in range(384)
        ]
        payload = mm.synthetic_wav(samples, rate=8000, channels=1)
        rows.append(
            (i, bytearray(payload),
             ("audio", "wav", None, None, None, len(payload)))
        )
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    return mm.frame_energy(media, frame=64, silence_sumsq=0).orderBy(
        "media_id", "frame_id"
    )


def q200_curation_pipeline(spark, sf_dir):
    """End-to-end curation composition — the operators in the order a
    real pipeline runs them: (1) the q191 dup-synthesized corpus,
    (2) q179's blocklist gate (density ≤ 0.08, hits ≤ 10), (3)
    quality-aware canonical dedup (q191) OVER THE SURVIVORS ONLY —
    order matters: dedup before filtering could crown a copy the
    blocklist then kills, silently dropping content.  Returns the
    final kept manifest (doc_id, q_micro).  Each stage keeps its own
    certified plan shape (scan-side gate; fingerprint agg + join);
    the oracle replays the whole chain."""
    from dudb_spark.pipeline.dedup import canonical_keep
    from dudb_spark.pipeline.text import blocklist_filter

    d = _t(spark, sf_dir, "documents")
    padded = d.where(F.col("doc_id") % 25 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(padded)
    bl = blocklist_filter(
        corpus, ["slow", "hash", "big", "merge"],
        max_density=0.08, max_hits=10,
    )
    surv = corpus.join(
        bl.where("keep").select("doc_id"), "doc_id", "left_semi"
    )
    return (
        canonical_keep(surv)
        .where("kept")
        .select(F.col("id").alias("doc_id"), "q_micro")
        .orderBy("doc_id")
    )


def q199_volume_trend(spark, sf_dir):
    """Per-type OLS trend of daily event volume
    (operators/timeseries.volume_trend): slope/intercept/r² of
    count-vs-day — the growth/decay monitor complementing q159's
    spike detector.  x = integer epoch day, y = integer daily count,
    all six OLS sums exact int64 (the q178 pattern); slope/intercept/
    r² formed in one fixed double op order, degenerate single-day
    keys NULL.  Two shuffles, |keys|-bounded output."""
    from dudb_spark.operators.timeseries import volume_trend

    e = _events(spark, sf_dir)
    return volume_trend(e).withColumnRenamed("key", "event_type")


def q198_rank_blend(spark, sf_dir):
    """Percentile-rank signal ensembling
    (operators/quantiles.rank_normalize): quality score (w=2) and
    token count (w=1) each mapped to its corpus percentile (min-rank:
    fraction of other docs strictly below) and blended — the
    RefinedWeb-style combiner robust to any monotone rescaling of
    any signal.  Per signal one value-frequency fold + the two-phase
    range-partitioned cumsum (no unpartitioned window anywhere);
    exact integer count-of-smaller, percentile and blend in one
    fixed double op order."""
    from dudb_spark.operators.quantiles import rank_normalize
    from dudb_spark.pipeline.text import quality_score, token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return rank_normalize(
        d, ["quality", "n_tokens"], "doc_id", weights=[2.0, 1.0]
    )


def q197_part_basket_lift(spark, sf_dir):
    """The q190 association operator at ITEM-vocabulary cardinality
    (operators/timeseries.cooccurrence_lift over order→part baskets):
    parts co-purchased in ≥2 orders, with support and lift.  What
    changes at this scale: pair fan-out is bounded by BASKET size
    (≤7 lines/order), the min-support threshold prunes the pair
    frame BEFORE the singles joins, and the vocabulary-sized singles
    frame carries NO broadcast hint — AQE sizes that join (a
    200M-item catalog must not OOM the driver)."""
    from dudb_spark.operators.timeseries import cooccurrence_lift

    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_lift(
        li, key_col="l_orderkey", label_col="l_partkey", min_count=2
    )


def q196_activation_latency(spark, sf_dir):
    """Activation latency (operators/retention.activation_latency):
    per user, seconds from the FIRST signup to the first purchase at
    or after it — the funnel q42 counts but doesn't time;
    never-converting users kept with NULL latency (dropping them
    silently inflates conversion speed).  Everything integer: epoch
    seconds, selection mins, one subtraction; two user-keyed
    filtered min-aggs + one conditional second pass on the same
    shuffle key — no windows, no as-of join for the first-touch
    case."""
    from dudb_spark.operators.retention import activation_latency

    e = _events(spark, sf_dir)
    return activation_latency(e, "signup", "purchase").withColumnRenamed(
        "key", "user_id"
    )


def q195_weighted_quantiles(spark, sf_dir):
    """Exact weighted quantiles
    (operators/quantiles.weighted_quantiles): per return flag, the
    quantity-weighted p25/median/p90 of extended price — "the price a
    unit of quantity sits at", where the unweighted q98 family treats
    a 1-unit and a 50-unit line the same.  Rows totally ordered by
    (value, line ids); the running weight sum is a KEYED window in
    that fixed order, and the group total is the LAST cumulative
    value — bit-identical sequential additions on both engines, never
    an unordered double fold.  One keyed sort window + bounded
    filter-argmins."""
    from dudb_spark.operators.quantiles import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_lid",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    return weighted_quantiles(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity",
        [0.25, 0.5, 0.9], id_col="_lid",
    )


def q193_scd2_history(spark, sf_dir):
    """SCD Type-2 history merge (operators/ingest.scd2_apply,
    Kimball): fold a churned customer snapshot into a versioned
    history — every 10th key changes its balance (close + reopen),
    every 17th is deleted (close only), every 13th spawns a new key
    (open only), the rest pass through untouched.  ONE full-outer
    equi-join on the key between the current slice and the snapshot;
    change detection a null-safe equality fold; version is
    caller-supplied so replays are idempotent and the oracle replays
    the identical algebra."""
    from dudb_spark.operators.ingest import scd2_apply

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    hist0 = c.select(
        "*",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    v2 = (
        c.where(F.col("c_custkey") % 17 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
                "c_acctbal",
            )
        )
    )
    return scd2_apply(
        hist0, v2, ["c_custkey"], ["c_name", "c_acctbal"], version=1
    ).orderBy("c_custkey", "valid_from")


def q194_scd2_time_travel(spark, sf_dir):
    """Time-travel read (operators/ingest.scd2_as_of): the q193
    history read back AS OF version 1 must equal the v2 snapshot
    EXACTLY — the round-trip theorem of the SCD2 pair (apply then
    as-of is the identity on the snapshot), certified by using the v2
    snapshot itself as the oracle.  One range predicate, no joins."""
    from dudb_spark.operators.ingest import scd2_as_of

    hist = q193_scd2_history(spark, sf_dir)
    return scd2_as_of(hist, 1).orderBy("c_custkey")


def q192_rolling_active(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness
    (operators/retention.rolling_active_users): the product-health
    metric family with NO range join and NO per-day rescan — each
    distinct (day,user) pair explodes to the ≤7 future days it
    contributes to (bounded constant fan-out), then one distinct +
    one count agg keyed by day.  Exact integer counts; stickiness in
    identical double op order."""
    from dudb_spark.operators.retention import rolling_active_users

    e = _events(spark, sf_dir)
    return rolling_active_users(e, window_days=7)


def q191_canonical_keep(spark, sf_dir):
    """Quality-aware canonical selection
    (pipeline/dedup.canonical_keep): every 25th doc gains a
    space-doubled copy at a SMALLER id (-doc_id-1) — same normalized
    fingerprint, lower alpha ratio, so lower quality.  The min-id rule
    would keep the mangled copy; the quality argmax keeps the clean
    original — pinned by construction (every kept id of a 2-group is
    the nonnegative one).  Same plan shape as exact dedup: one
    fingerprint-keyed agg + a join back, argmax as min(struct) — no
    window."""
    from dudb_spark.pipeline.dedup import canonical_keep

    d = _t(spark, sf_dir, "documents")
    padded = d.where(F.col("doc_id") % 25 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(padded)
    return canonical_keep(corpus).orderBy("id")


def q190_cooccurrence_lift(spark, sf_dir):
    """Market-basket association over per-user event-type sets
    (operators/timeseries.cooccurrence_lift): support and lift per
    unordered type pair — "what goes together", the order-free
    complement to q184's "what follows".  Baskets are the distinct
    (user, type) projection; the pair self-join's per-key fan-out is
    bounded by the label vocabulary, not the event count; totals ride
    a broadcast single-row frame.  Exact integer counts, support/lift
    in identical double op order."""
    from dudb_spark.operators.timeseries import cooccurrence_lift

    e = _events(spark, sf_dir)
    return cooccurrence_lift(e)


def q189_fd_violations(spark, sf_dir):
    """Functional-dependency audit (operators/checks.fd_violations):
    which customers violate o_custkey → o_orderpriority (i.e. order
    with more than one distinct priority) — the key/FD-discovery
    profiling primitive generalizing q112's uniqueness check.  One
    grouped agg with a single exact COUNT(DISTINCT) — two-phase hash
    aggregate, no Expand (single-distinct only)."""
    from dudb_spark.operators.checks import fd_violations

    o = _t(spark, sf_dir, "orders")
    return fd_violations(o, ["o_custkey"], "o_orderpriority")


def q188_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (pipeline/graph.pagerank with seeds —
    Haveliwala WWW 2002): teleport mass restarts only onto users
    {0..4}, so the score is proximity-to-the-seed-cohort authority
    (related-entity expansion, recommendation) instead of global
    centrality — the same join+agg power iteration as q106, the seed
    set a constant-folded isin literal, zero plan-shape change.  Over
    the shared>=3 co-activity graph; 5 rounds; the oracle unrolls the
    identical iterations with the seeded teleport CASE."""
    from dudb_spark.pipeline.graph import pagerank

    edges = _coactivity_edges(spark, sf_dir, 3)
    pr = pagerank(edges, iters=5, damping=0.85,
                  src_col="src", dst_col="dst", seeds=[0, 1, 2, 3, 4])
    return pr.select("id", F.round("score", 6).alias("score")).orderBy(
        "id"
    )


def q186_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics
    (pipeline/similarity.dim_stats): mean/std/min/max per coordinate —
    the standardization audit before whitening features or diagnosing
    a collapsed dimension (std ≈ 0 = wasted coordinate).  q180's
    exactness discipline: power-of-two quantization, int64 Σq/Σq²
    folds, mean/std formed in identical double op order, min/max
    EXACT (power-of-two division).  ONE posexplode scan folding to a
    64-row frame — zero joins."""
    from dudb_spark.pipeline.similarity import dim_stats

    emb = _t(spark, sf_dir, "embeddings")
    return dim_stats(emb)


def q185_stream_transitions(spark, sf_dir):
    """The q184 transition matrix as a STATEFUL STREAM
    (streaming/transitions.stream_transitions): adjacency crosses
    micro-batch boundaries — the last event of batch k and the first
    of batch k+1 form a transition no per-batch window can see, and
    streams have no lag/lead at all.  State is ONE row per user (the
    last event's label + (ts,id) order key) — O(1) per group forever,
    the most bounded state in the streaming family.  Four
    time-ordered micro-batches (the q38/q85 staging); per-batch count
    DELTAS fold downstream with an exact integer sum, so the streamed
    matrix equals the batch one value-for-value — certified against
    the IDENTICAL q184 oracle."""
    import os
    import tempfile
    from glob import glob as _glob

    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA
    from dudb_spark.streaming.transitions import stream_transitions

    ev = _events(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="dudb_trans_src_")
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
    for k, p in enumerate(
        sorted(_glob(os.path.join(src, "part-*.parquet")))
    ):
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    with _stream_parts(spark):
        q = (
            stream_transitions(
                spark.readStream.schema(EVENTS_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q185_trans")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    sink = spark.table("dudb_q185_trans")
    # labels×labels-bounded; localCheckpoint breaks the memory-sink
    # lineage (a self-join through the streaming relation is refused)
    cnt = (
        sink.groupBy("from_label", "to_label")
        .agg(F.sum("n").alias("n_transitions"))
        .localCheckpoint()
    )
    tot = cnt.groupBy("from_label").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return (
        cnt.join(tot, "from_label")
        .select(
            "from_label",
            "to_label",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.round(
                F.col("n_transitions").cast("double") / F.col("_tot"), 9
            ).alias("prob"),
        )
        .orderBy("from_label", "to_label")
    )


def q184_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix
    (operators/timeseries.transition_matrix): per-user adjacent
    event-type pairs ordered by (ts, event_id) — the "what happens
    next" behavior primitive, q157's bigram idea on event streams.
    ONE keyed window (lead over user_id, never global) + a pair-keyed
    count; exact integer counts, row-normalized probability rounded
    at 9 with identical op order both engines."""
    from dudb_spark.operators.timeseries import transition_matrix

    e = _events(spark, sf_dir)
    return transition_matrix(e)


def q183_cross_containment(spark, sf_dir):
    """Quote-level cross-corpus decontamination
    (pipeline/dedup.cross_containment_join): which benchmark items
    (here: 12-token snippets of every 20th doc — the held-out-eval
    stand-in) appear quoted inside the training corpus at shingle
    containment ≥ 0.8 — the leak q122's corpus-level gram overlap
    dilutes away and Jaccard can't see (a snippet inside a long doc
    has tiny Jaccard but containment ≈ 1).  Zero false negatives via
    the asymmetric prefix filter; shingle frequencies fold over the
    UNION of both corpora so the rarest-first order is one consistent
    key.  Every snippet must at minimum hit its own source doc."""
    from dudb_spark.pipeline.dedup import cross_containment_join
    from dudb_spark.pipeline.text import tokens

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 12), " ").alias(
            "text"
        ),
    )
    return cross_containment_join(bench, docs, threshold=0.8).orderBy(
        "id_a", "id_b"
    )


def q182_robust_outliers(spark, sf_dir):
    """Median/MAD outlier audit (operators/checks.robust_outliers,
    Hampel's rule |x − med| > k·MAD): per event type, the robust gate
    mean/stddev can't be — extremes drag a z-score threshold toward
    themselves, but the median and MAD are selection-exact and immune.
    Both statistics come from the exact grouped-quantile operator (no
    approximation), so thresholds are engine-reproducible; outlier
    rate reported as an exact integer ppm.  Two keyed quantile passes
    + one broadcast-back + one counting agg."""
    from dudb_spark.operators.checks import robust_outliers

    e = _events(spark, sf_dir)
    return robust_outliers(e, ["event_type"], "value", k=3.0)


def q181_containment_join(spark, sf_dir):
    """EXACT containment self-join (pipeline/dedup.
    containment_join_exact): every DIRECTED pair with
    |A∩B|/|A| ≥ 0.5 over shingle sets — the asymmetric quote/subset
    detector Jaccard can't express (a paragraph lifted into a long
    doc has tiny Jaccard but containment ≈ 1), zero false negatives.
    Prefix filtering adapts asymmetrically: A indexes only its
    rarest-first prefix (pigeonhole on ⌈t·|A|⌉ intersection
    elements), B indexes ALL tokens (a huge B can contain all of A);
    candidates are that equi-join, never all-pairs.  Same integer
    threshold discipline as q168 (⌈t·1e6⌉/1e6 rational, int64
    verify).  The oracle replays hashes, frequencies, the asymmetric
    prefix, and the integer verify."""
    from dudb_spark.pipeline.dedup import containment_join_exact

    d = _t(spark, sf_dir, "documents")
    return containment_join_exact(d, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def q169_stream_weighted_reservoir(spark, sf_dir):
    """Streaming weighted reservoir
    (streaming/reservoir.stream_weighted_reservoir): keep the 15
    events per type drawn ∝ value from everything seen so far — the
    A-ES reservoir (Efraimidis–Spirakis IPL 2006) as bounded streaming
    state, where Structured Streaming has no top-n at all (rank
    windows refused on streams; exact state would be every row).  The
    A-ES key makes the reservoir mergeable (top-n of per-shard top-n's
    == top-n of the union), so state is O(n) per group across four
    time-ordered micro-batches; the final reservoir (max batch_seq
    emission per group) must equal the BATCH A-ES top-n value-for-value
    — certified against the batch SQL restatement of the same MINSTD
    key and ranked cut."""
    from pyspark.sql.window import Window

    from dudb_spark.streaming.reservoir import stream_weighted_reservoir
    from dudb_spark.streaming.rollup import EVENTS_STREAM_SCHEMA

    src = _staged_events_ordered(spark, sf_dir, 4)
    with _stream_parts(spark):
        reader = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
        )
        q = (
            stream_weighted_reservoir(
                reader.parquet(src), "event_type", "event_id", "value",
                n=15, salt=21,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q169_res")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    sink = spark.table("dudb_q169_res")
    last = Window.partitionBy("grp")
    return (
        sink.withColumn("_mx", F.max("batch_seq").over(last))
        .where(F.col("batch_seq") == F.col("_mx"))
        .select(
            F.col("grp").alias("event_type"),
            F.col("item_id").alias("event_id"),
            F.round("weight", 6).alias("value"),
        )
        .orderBy("event_type", "event_id")
    )


def q170_kmv_rollup(spark, sf_dir):
    """Hierarchical sketch rollup (pipeline/sketch.kmv_minima applied
    to its own output): vocabulary cardinality at THREE grains —
    (source, lang), source, corpus — where only the finest grain ever
    scans the corpus; each coarser sketch is the k smallest of the
    finer sketches' union (re-rank over ≤ groups×k rows).  The k
    smallest of a union ARE the k smallest of the per-part k-minima,
    so the rolled-up sketch is IDENTICAL to one built from scratch —
    and the oracle certifies exactly that: it computes every grain
    directly from the base hashes, and the values must match.  The
    OLAP pattern this enables at 100 TB: materialize the finest-grain
    sketch once at ingest, answer every coarser distinct-count from
    it, never rescan.  Exact distincts ride alongside."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import kmv_estimate, kmv_minima

    k = 64
    d = _t(spark, sf_dir, "documents")
    th = d.select(
        "source", "lang",
        F.explode(poly_token_hash_array(F.col("text"))).alias("h"),
    )
    # pin the finest-grain sketch: it IS the materialize-once artifact
    # this query demonstrates, and unpinned every coarser grain's
    # estimate branch re-ran the corpus fold (est_f once, est_m via mid
    # twice, est_t via mid→top three times — 487-line plan).  mid/top
    # re-derive from the pinned ≤ groups×k rows, which is the point.
    fine = kmv_minima(th, ["source", "lang"], "h", k).localCheckpoint()
    mid = kmv_minima(fine, ["source"], "h", k)
    top = kmv_minima(mid.select(F.lit("all").alias("corpus"), "h"),
                     ["corpus"], "h", k)
    est_f = kmv_estimate(fine, ["source", "lang"], k).select(
        F.lit("source_lang").alias("grain"), "source", "lang",
        "n_sample", "est_distinct",
    )
    est_m = kmv_estimate(mid, ["source"], k).select(
        F.lit("source").alias("grain"), "source",
        F.lit(None).cast("string").alias("lang"),
        "n_sample", "est_distinct",
    )
    est_t = kmv_estimate(top, ["corpus"], k).select(
        F.lit("all").alias("grain"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("lang"),
        "n_sample", "est_distinct",
    )
    return (
        est_f.unionByName(est_m).unionByName(est_t)
        .orderBy("grain", "source", "lang")
    )


def q171_stream_neardup_flagging(spark, sf_dir):
    """Streaming near-dup flagging against the persisted band index
    (streaming/dedup.neardup_against_index): q166's incremental dedup
    moved to the continuous-crawl front door — every arriving document
    checked against history's MinHash index the moment it lands.
    Entirely STATELESS: per-row HOF signatures (value-identical to the
    batch aggregate form — same coefficients, same modulus), scan-side
    banding, one stream–static equi-join; per-band emissions dedupe at
    the sink (streaming pair-dedup would hold unbounded state).  The
    new shard (doc_id ≡ 0 mod 3) streams in 4 micro-batches; the
    deduped sink must equal the batch candidate stage value-exactly —
    the same SQL oracle family as q166, stopped at est (exact-Jaccard
    verification is the batch follow-up, q166)."""
    import tempfile

    from dudb_spark.pipeline.dedup import minhash_band_index
    from dudb_spark.streaming.dedup import neardup_against_index

    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 3 == 0)
    old = d.where(F.col("doc_id") % 3 != 0)
    index = minhash_band_index(old, num_perm=32, bands=8,
                               hash_fn="poly").localCheckpoint()
    src = tempfile.mkdtemp(prefix="dudb_neardup_src_")
    new.repartition(4).write.mode("overwrite").parquet(src)
    with _stream_parts(spark):
        stream = (
            spark.readStream.schema(new.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            neardup_against_index(
                stream, index, num_perm=32, bands=8, min_est=0.5
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dudb_q171_flags")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table("dudb_q171_flags")
        .select("new_id", "old_id", "est_jaccard")
        .dropDuplicates(["new_id", "old_id"])
        .orderBy("new_id", "old_id")
    )


def q172_triangle_census(spark, sf_dir):
    """Triangle counting + clustering coefficients
    (pipeline/graph.triangle_counts, Suri & Vassilvitskii WWW 2011)
    over the user co-activity graph: users who share ≥ 4 distinct
    (event_type, hour) slots.  Why the orientation matters at 100 TB:
    a naive wedge join fans out Σ deg², so one hub node generates
    billions of wedges — orienting every edge from its (degree, id)-
    smaller endpoint bounds every out-degree at O(√m), each triangle
    generated exactly once at its degree-minimal corner; three
    equi-joins, no windows, no state (the graph sibling of the LSH
    bucket cap).  Completes the graph family (q44 components, q106
    PageRank) with the local-density primitive.  All-integer until
    the one rounded coefficient division; the oracle replays slots,
    edges, orientation, wedges, and corners in SQL."""
    from dudb_spark.pipeline.graph import triangle_counts

    e = _events(spark, sf_dir)
    slots = e.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    a = slots.select(F.col("user_id").alias("src"), "event_type", "hr")
    b = slots.select(F.col("user_id").alias("dst"), "event_type", "hr")
    edges = (
        a.join(b, ["event_type", "hr"])
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .where(F.col("_shared") >= 4)
        .select("src", "dst")
    )
    return (
        triangle_counts(edges)
        .withColumnRenamed("id", "user_id")
        .orderBy("user_id")
    )


def q173_entropy_quality(spark, sf_dir):
    """Per-document entropy quality signals
    (pipeline/text.entropy_scores): Shannon entropy of each doc's
    character and token distributions — repetition/gibberish crashes
    char entropy toward 0 while natural prose sits near its language's
    3–4 nats, the signal quality pipelines read alongside the
    rule-based filters (q21) and LM scores (q157).  Every entropy term
    is quantized to integer nano-units before the sum (the q145 drift
    discipline), so the fold is order- and engine-independent; the
    oracle replays the char/token splits, the quantized terms, and the
    integer sums in SQL."""
    from dudb_spark.pipeline.text import entropy_scores

    d = _t(spark, sf_dir, "documents")
    return entropy_scores(d).orderBy("doc_id")


def q174_rrf_hybrid_fusion(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion
    (pipeline/retrieval.rrf_fuse, Cormack & Clarke SIGIR 2009): four
    query documents retrieve from the corpus through BOTH channels a
    RAG pipeline runs — sparse BM25 over the inverted index (the q103
    plan: postings ⋈ broadcast query terms) and dense embedding cosine
    (the q18 plan: corpus ⋈ broadcast query vectors) — then the two
    top-20 pools fuse with 1/(60+rank) reciprocal terms quantized to
    integer nano-units so the fused sum is order- and engine-exact for
    any number of lists.  The fusion stage only ever sees pool-bounded
    frames (queries × 20 rows), never the corpus: at 100 TB the cost
    stays in the two rankers, both already broadcast-join shaped.  The
    oracle replays postings, cosine ranks, and the nano-int fusion."""
    from dudb_spark.pipeline.retrieval import (
        _rank_topk,
        bm25_scored,
        rrf_fuse,
    )
    from dudb_spark.pipeline.similarity import cosine
    from dudb_spark.pipeline.text import tokens

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    qs = docs.where(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 12), " ").alias(
            "qtext"
        ),
    )
    sparse = _rank_topk(
        bm25_scored(docs, qs).where(F.col("doc_id") != F.col("query_id")),
        20,
    ).select("query_id", "doc_id", "rank")

    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("cv"), F.col("qv"))), "vec_id"
    )
    dense = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    )

    return rrf_fuse({"bm25": sparse, "cos": dense}, k_const=60, topk=10) \
        .orderBy("query_id", "rank")


def _coactivity_edges(spark, sf_dir, threshold: int) -> DataFrame:
    """The q172 user co-activity graph at a configurable density:
    undirected (src < dst) edges between users sharing >= threshold
    distinct (event_type, hour) slots.  One self-equi-join on the
    bounded slot key + one groupBy — never an all-pairs product."""
    e = _events(spark, sf_dir)
    slots = e.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    a = slots.select(F.col("user_id").alias("src"), "event_type", "hr")
    b = slots.select(F.col("user_id").alias("dst"), "event_type", "hr")
    return (
        a.join(b, ["event_type", "hr"])
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .where(F.col("_shared") >= threshold)
        .select("src", "dst")
        # materialize ONCE: the slot self-join is the expensive stage,
        # and every graph consumer references the edge frame from
        # several plan branches (modularity 3x, triangle orientation
        # 3x, degree+stub folds) — without the pin the q177 plan
        # embedded this join 4 TIMES (8 events scans; r11 plan audit,
        # plans/r11/q177_before.txt)
        .localCheckpoint()
    )


def q175_label_communities(spark, sf_dir):
    """Community detection by deterministic synchronous label
    propagation (pipeline/graph.label_propagation, Raghavan et al.
    2007) over the user co-activity graph (shared slots >= 3 — denser
    than q172's >= 4 so real communities form).  Four synchronous
    rounds, ties to the smallest label: per round ONE equi-join
    (adjacency x labels) and two map-side-combining aggregations, the
    argmax as min(struct(-count, label)) so there is no window and no
    global sort; labels localCheckpoint-ed per round so the lazy plan
    never stacks join trees.  At 100 TB each round's shuffle is keyed
    by node id — the same bounded shape as q44's pointer-doubling
    components.  The oracle unrolls the identical four rounds as
    MATERIALIZED CTEs."""
    from dudb_spark.pipeline.graph import label_propagation

    edges = _coactivity_edges(spark, sf_dir, 3)
    return label_propagation(edges, rounds=4).orderBy("id")


def q179_blocklist_filter(spark, sf_dir):
    """Token-level blocklist gate (pipeline/text.blocklist_filter —
    C4's bad-words filter softened to the Gopher/RefinedWeb density
    form): per doc the token count, hit count against a 4-term demo
    blocklist, density, and keep = density <= 0.08 AND hits <= 10.
    The terms enter as a constant-folded literal array; matching is a
    scan-side higher-order filter — zero joins, zero shuffles, the
    filter rides the Parquet scan at any corpus size.  Density is
    hits/tokens in double with identical op order both engines."""
    from dudb_spark.pipeline.text import blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    return blocklist_filter(
        docs, ["slow", "hash", "big", "merge"],
        max_density=0.08, max_hits=10,
    ).orderBy("doc_id")


def q180_centroid_separation(spark, sf_dir):
    """Embedding-space class-separability audit
    (pipeline/similarity.centroid_separation): pairwise L2 distances
    between per-label centroids — did two classes/sources collapse
    onto each other?  Components quantize by a power-of-two scale
    (exact on float32), per-label per-dim sums fold as exact int64,
    each squared centroid difference quantizes to nano-units before
    the dim sum (the q145/q173 discipline) so the distance is order-
    and engine-exact.  ONE posexplode scan to a labels×dims frame;
    the pairwise stage self-joins that bounded frame on the dim key —
    |labels|²×dims work, corpus-size-independent."""
    from dudb_spark.pipeline.similarity import centroid_separation

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_separation(emb, vec_col="embedding",
                               group_col="label")


def q177_partition_modularity(spark, sf_dir):
    """Newman modularity of the q175 partition
    (pipeline/graph.modularity, Newman & Girvan 2004): the quality
    gate that says whether label propagation found real structure
    (Q ≈ 0.3–0.7) or noise (Q ≈ 0).  Per-community rows carry exact
    integer (n_nodes, intra_edges, degree_sum) plus the contribution
    (4mL_c − d_c²)/4m² — formed in double in the same operation order
    on both engines, so the 9-place rounding is engine-exact.  Two
    community-keyed aggregations + a single-row broadcast m; never a
    window, never all-pairs.  The oracle replays the four LPA rounds
    (shared CTE generator) and the modularity algebra."""
    from dudb_spark.pipeline.graph import label_propagation, modularity

    edges = _coactivity_edges(spark, sf_dir, 3)
    comm = label_propagation(edges, rounds=4).select("id", "community")
    return modularity(edges, comm)


def q178_degree_assortativity(spark, sf_dir):
    """Degree assortativity (pipeline/graph.assortativity, Newman
    2002) of the shared>=3 co-activity graph: Pearson correlation of
    endpoint degrees over directed stubs — with both orientations the
    marginals coincide so r = (M·Σxy − (Σx)²)/(M·Σx² − (Σx)²), every Σ
    an exact integer stub sum (ONE single-row fold), the ratio formed
    in double in the same operation order on both engines.  Positive
    = hubs-link-hubs community shape, negative = hub-and-spoke.
    Completes the graph-metric family (q172 local clustering, q175
    communities, q176 cores, q177 partition quality)."""
    from dudb_spark.pipeline.graph import assortativity

    edges = _coactivity_edges(spark, sf_dir, 3)
    return assortativity(edges)


def q176_kcore_peel(spark, sf_dir):
    """k-core peeling (pipeline/graph.k_core, Seidman 1983): six
    deterministic peel rounds at k=10 over the shared>=3 co-activity
    graph — the dense-cohesion triage primitive (spam rings, bot
    clusters) completing the graph family (q44 components, q106
    PageRank, q172 triangles, q175 communities).  Each round is one
    degree aggregation + two semi-joins, localCheckpoint-ed; every
    round strictly shrinks the edge set or is a fixpoint, so a fixed
    round count is SQL-unrollable and scale-independent in plan shape.
    The oracle peels the same six rounds as MATERIALIZED CTEs."""
    from dudb_spark.pipeline.graph import k_core

    edges = _coactivity_edges(spark, sf_dir, 3)
    return k_core(edges, k=10, rounds=6).orderBy("id")


QUERIES: dict[str, Callable] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_expr_find": q02_expr_find,
    "q03_top_orders": q03_top_orders,
    "q04_per_customer_topn": q04_per_customer_topn,
    "q05_region_revenue": q05_region_revenue,
    "q06_customers_without_orders": q06_customers_without_orders,
    "q07_hardlink_style_dedup": q07_hardlink_style_dedup,
    "q08_block_storage_calc": q08_block_storage_calc,
    "q09_time_range_scan": q09_time_range_scan,
    "q10_latest_event_per_user": q10_latest_event_per_user,
    "q11_grouping_sets": q11_grouping_sets,
    "q12_exact_dup_fingerprint": q12_exact_dup_fingerprint,
    "q13_token_stats_by_lang": q13_token_stats_by_lang,
    "q14_doc_quality": q14_doc_quality,
    "q15_events_hourly": q15_events_hourly,
    "q16_minhash_dedup": q16_minhash_dedup,
    "q17_ann_cosine_topk": q17_ann_cosine_topk,
    "q18_ann_batch_topk": q18_ann_batch_topk,
    "q19_simhash_near_dup": q19_simhash_near_dup,
    "q20_language_id": q20_language_id,
    "q21_quality_score": q21_quality_score,
    "q22_fs_find": q22_fs_find,
    "q23_fs_stats_totals": q23_fs_stats_totals,
    "q24_fs_stats_per_user": q24_fs_stats_per_user,
    "q25_fs_top_by_user": q25_fs_top_by_user,
    "q26_json_props": q26_json_props,
    "q27_fs_merged_topn": q27_fs_merged_topn,
    "q28_brand_revenue": q28_brand_revenue,
    "q29_fs_find_hardlink": q29_fs_find_hardlink,
    "q30_events_hourly_streamed": q30_events_hourly_streamed,
    "q31_fs_stats_at_scale": q31_fs_stats_at_scale,
    "q32_embedding_near_dup": q32_embedding_near_dup,
    "q34_fs_subtree_rollup": q34_fs_subtree_rollup,
    "q35_fs_rollup_at_scale": q35_fs_rollup_at_scale,
    "q36_winnow_fingerprints": q36_winnow_fingerprints,
    "q37_fingerprint_overlap": q37_fingerprint_overlap,
    "q38_events_sessionized": q38_events_sessionized,
    "q39_fs_distinct_owners": q39_fs_distinct_owners,
    "q40_language_id_ngram": q40_language_id_ngram,
    "q41_ann_ivf_exact": q41_ann_ivf_exact,
    "q42_event_funnel": q42_event_funnel,
    "q43_asof_join": q43_asof_join,
    "q44_dup_clusters": q44_dup_clusters,
    "q45_size_percentiles": q45_size_percentiles,
    "q46_stratified_sample": q46_stratified_sample,
    "q47_sequence_packing": q47_sequence_packing,
    "q48_tfidf_terms": q48_tfidf_terms,
    "q49_events_sliding": q49_events_sliding,
    "q50_stream_dedup": q50_stream_dedup,
    "q51_interval_join": q51_interval_join,
    "q52_unigram_logprob": q52_unigram_logprob,
    "q53_nation_volume": q53_nation_volume,
    "q54_heavy_hitter_terms": q54_heavy_hitter_terms,
    "q55_dedup_decision": q55_dedup_decision,
    "q56_multimodal_features": q56_multimodal_features,
    "q57_mixture_sample": q57_mixture_sample,
    "q58_consensus_dedup": q58_consensus_dedup,
    "q59_events_sliding_streamed": q59_events_sliding_streamed,
    "q60_size_histogram": q60_size_histogram,
    "q61_priority_pivot": q61_priority_pivot,
    "q62_amount_unpivot": q62_amount_unpivot,
    "q63_merge_counters": q63_merge_counters,
    "q64_merge_snapshot": q64_merge_snapshot,
    "q65_merge_entries_reuse": q65_merge_entries_reuse,
    "q66_report_tsv": q66_report_tsv,
    "q67_report_locate": q67_report_locate,
    "q68_stats_snapshot_roundtrip": q68_stats_snapshot_roundtrip,
    "q69_catalog_roundtrip": q69_catalog_roundtrip,
    "q70_crawler_walk": q70_crawler_walk,
    "q71_decontamination": q71_decontamination,
    "q72_repetition_signals": q72_repetition_signals,
    "q73_pii_scan": q73_pii_scan,
    "q74_bm25_terms": q74_bm25_terms,
    "q75_cohort_retention": q75_cohort_retention,
    "q76_stream_attribution": q76_stream_attribution,
    "q78_snapshot_diff": q78_snapshot_diff,
    "q79_sq8_ann": q79_sq8_ann,
    "q80_zorder_key": q80_zorder_key,
    "q81_token_chunking": q81_token_chunking,
    "q82_group_reservoir": q82_group_reservoir,
    "q83_report_json": q83_report_json,
    "q84_report_markdown": q84_report_markdown,
    "q86_real_codecs": q86_real_codecs,
    "q87_merge_at_scale": q87_merge_at_scale,
    "q88_semantic_dedup": q88_semantic_dedup,
    "q89_train_split": q89_train_split,
    "q90_corpus_report": q90_corpus_report,
    "q91_streaming_ingest": q91_streaming_ingest,
    "q92_salted_skew_join": q92_salted_skew_join,
    "q93_hash_embed_topk": q93_hash_embed_topk,
    "q94_skew_profile": q94_skew_profile,
    "q95_stream_corpus_dedup": q95_stream_corpus_dedup,
    "q96_clean_corpus": q96_clean_corpus,
    "q97_incremental_ann_index": q97_incremental_ann_index,
    "q98_scale_exact_percentiles": q98_scale_exact_percentiles,
    "q99_ivf_sq8_search": q99_ivf_sq8_search,
    "q100_online_dedup_growing": q100_online_dedup_growing,
    "q85_sessions_multibatch": q85_sessions_multibatch,
    "q101_span_dedup": q101_span_dedup,
    "q102_gopher_rules": q102_gopher_rules,
    "q103_bm25_retrieval": q103_bm25_retrieval,
    "q104_shuffled_shards": q104_shuffled_shards,
    "q105_vocab_coverage": q105_vocab_coverage,
    "q106_pagerank": q106_pagerank,
    "q107_decayed_activity": q107_decayed_activity,
    "q108_span_excision": q108_span_excision,
    "q109_pq_adc_search": q109_pq_adc_search,
    "q110_ivf_pq_search": q110_ivf_pq_search,
    "q111_session_window_builtin": q111_session_window_builtin,
    "q112_data_quality": q112_data_quality,
    "q113_edit_distance_verify": q113_edit_distance_verify,
    "q114_rolling_window": q114_rolling_window,
    "q115_stored_index_search": q115_stored_index_search,
    "q116_curriculum_bins": q116_curriculum_bins,
    "q117_mixture_weights": q117_mixture_weights,
    "q119_ivf_pq_residual": q119_ivf_pq_residual,
    "q120_stream_excision": q120_stream_excision,
    "q121_chunk_windows": q121_chunk_windows,
    "q122_source_overlap": q122_source_overlap,
    "q123_embedding_outliers": q123_embedding_outliers,
    "q124_bpe_merges": q124_bpe_merges,
    "q125_bpe_encode": q125_bpe_encode,
    "q127_fswalk_datasource": q127_fswalk_datasource,
    "q128_jpeg_decode": q128_jpeg_decode,
    "q129_budget_selection": q129_budget_selection,
    "q130_config_expansion": q130_config_expansion,
    "q131_line_excision": q131_line_excision,
    "q132_table_profile": q132_table_profile,
    "q133_fswatch_stream": q133_fswatch_stream,
    "q134_cluster_balance": q134_cluster_balance,
    "q135_watch_apply_prefixes": q135_watch_apply_prefixes,
    "q136_watch_apply_entries": q136_watch_apply_entries,
    "q137_jpeg_progressive": q137_jpeg_progressive,
    "q140_resync_reconcile": q140_resync_reconcile,
    "q141_force_rescan": q141_force_rescan,
    "q142_seeded_watch_reconcile": q142_seeded_watch_reconcile,
    "q143_dsir_select": q143_dsir_select,
    "q144_knn_label_noise": q144_knn_label_noise,
    "q145_corpus_drift": q145_corpus_drift,
    "q146_hll_cardinality": q146_hll_cardinality,
    "q147_leakage_free_split": q147_leakage_free_split,
    "q148_hard_negatives": q148_hard_negatives,
    "q149_stream_distinct_sketch": q149_stream_distinct_sketch,
    "q150_cms_heavy_hitters": q150_cms_heavy_hitters,
    "q151_sketch_source_overlap": q151_sketch_source_overlap,
    "q152_cms_meanmin": q152_cms_meanmin,
    "q153_hist_quantiles": q153_hist_quantiles,
    "q154_bloom_decontam": q154_bloom_decontam,
    "q155_stream_freq_sketch": q155_stream_freq_sketch,
    "q156_props_json": q156_props_json,
    "q157_bigram_lm_score": q157_bigram_lm_score,
    "q158_stratified_budget": q158_stratified_budget,
    "q159_rolling_anomaly": q159_rolling_anomaly,
    "q160_event_islands": q160_event_islands,
    "q161_stream_anomaly": q161_stream_anomaly,
    "q162_temperature_mixture": q162_temperature_mixture,
    "q163_kmv_set_overlap": q163_kmv_set_overlap,
    "q164_weighted_sample": q164_weighted_sample,
    "q165_stream_window_quantiles": q165_stream_window_quantiles,
    "q166_incremental_dedup": q166_incremental_dedup,
    "q167_weighted_mass_sample": q167_weighted_mass_sample,
    "q168_exact_similarity_join": q168_exact_similarity_join,
    "q169_stream_weighted_reservoir": q169_stream_weighted_reservoir,
    "q170_kmv_rollup": q170_kmv_rollup,
    "q171_stream_neardup_flagging": q171_stream_neardup_flagging,
    "q172_triangle_census": q172_triangle_census,
    "q173_entropy_quality": q173_entropy_quality,
    "q174_rrf_hybrid_fusion": q174_rrf_hybrid_fusion,
    "q175_label_communities": q175_label_communities,
    "q176_kcore_peel": q176_kcore_peel,
    "q177_partition_modularity": q177_partition_modularity,
    "q178_degree_assortativity": q178_degree_assortativity,
    "q179_blocklist_filter": q179_blocklist_filter,
    "q180_centroid_separation": q180_centroid_separation,
    "q181_containment_join": q181_containment_join,
    "q182_robust_outliers": q182_robust_outliers,
    "q183_cross_containment": q183_cross_containment,
    "q184_transition_matrix": q184_transition_matrix,
    "q185_stream_transitions": q185_stream_transitions,
    "q186_embedding_dim_stats": q186_embedding_dim_stats,
    "q187_frame_energy": q187_frame_energy,
    "q188_personalized_pagerank": q188_personalized_pagerank,
    "q189_fd_violations": q189_fd_violations,
    "q190_cooccurrence_lift": q190_cooccurrence_lift,
    "q191_canonical_keep": q191_canonical_keep,
    "q192_rolling_active": q192_rolling_active,
    "q193_scd2_history": q193_scd2_history,
    "q194_scd2_time_travel": q194_scd2_time_travel,
    "q195_weighted_quantiles": q195_weighted_quantiles,
    "q196_activation_latency": q196_activation_latency,
    "q197_part_basket_lift": q197_part_basket_lift,
    "q198_rank_blend": q198_rank_blend,
    "q199_volume_trend": q199_volume_trend,
    "q200_curation_pipeline": q200_curation_pipeline,
}

ORACLE: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q02_expr_find": """
        SELECT event_id, user_id AS uid, event_type AS path, value
        FROM events
        WHERE (user_id = 13 OR user_id = 7)
          AND ts > TIMESTAMP '2024-01-15 00:00:00'
          AND regexp_matches(event_type, '^(pur|sig)')
        ORDER BY event_id
    """,
    "q03_top_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    "q04_per_customer_topn": """
        SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey)
                     AS rank
            FROM orders
        ) WHERE rank <= 3
        ORDER BY o_custkey, rank
    """,
    "q05_region_revenue": """
        SELECT r_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
    "q06_customers_without_orders": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        )
        ORDER BY c_custkey
    """,
    "q07_hardlink_style_dedup": """
        SELECT l_partkey, l_suppkey, canonical_orderkey, n_links,
               n_links - 1 AS n_hardlinks
        FROM (
            SELECT l_partkey, l_suppkey,
                   l_orderkey AS canonical_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
                                      ORDER BY l_orderkey, l_linenumber) AS rn,
                   COUNT(*) OVER (PARTITION BY l_partkey, l_suppkey) AS n_links
            FROM lineitem
        )
        WHERE rn = 1 AND n_links > 1
        ORDER BY l_partkey, l_suppkey
    """,
    "q08_block_storage_calc": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity * 1000 AS BIGINT)) AS BIGINT) AS bytes,
               CAST(SUM(CAST(CEIL(l_quantity * 1000 / 4096) * 4096 AS BIGINT))
                    AS BIGINT) AS storage_bytes
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q09_time_range_scan": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q10_latest_event_per_user": """
        SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               event_type
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """,
    "q11_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_linestatus) AS is_flag_total,
               COUNT(*) AS n_rows,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        ORDER BY l_returnflag, is_flag_total, l_linestatus
    """,
    "q12_exact_dup_fingerprint": """
        SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS canonical_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY canonical_doc_id
    """,
    "q13_token_stats_by_lang": """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                 AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    "q14_doc_quality": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
               ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS ttr,
               ROUND(CAST(n_chars AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS chars_per_token
        FROM documents
        ORDER BY doc_id
    """,
    "q15_events_hourly": """
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
                 AS hour,
               event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour, event_type
    """,
    # q16/q19 switched to the poly hash variants, so both sketch pipelines
    # are value-checked end-to-end:
    "q16_minhash_dedup": _minhash_oracle_sql(),
    "q19_simhash_near_dup": _simhash_oracle_sql(),
    "q40_language_id_ngram": _trigram_oracle_sql(),
    "q41_ann_ivf_exact": _fixed_ivf_oracle_sql(),
    "q44_dup_clusters": _dup_clusters_oracle_sql(),
    "q55_dedup_decision": _dedup_decision_oracle_sql(),
    "q56_multimodal_features": _multimodal_oracle_sql(),
    "q57_mixture_sample": _mixture_oracle_sql(),
    # q58: join the q37 (text) and q32 (embedding) pair oracles on the
    # pair key.  DuckDB allows full WITH-queries as subqueries, so both
    # oracle builders are reused verbatim — one definition per pipeline.
    "q58_consensus_dedup": None,  # assigned after the dict literal
    "q46_stratified_sample": _stratified_sample_oracle_sql(),
    "q54_heavy_hitter_terms": """
        SELECT term, COUNT(*)::BIGINT AS occurrences
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term
        ORDER BY occurrences DESC, term ASC
        LIMIT 25
    """,
    "q53_nation_volume": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS ship_year,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS volume,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, ship_year
    """,
    "q52_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), model AS (
            SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term
        ), total AS (
            SELECT SUM(cnt) AS total FROM model
        )
        SELECT tf.doc_id,
               ROUND(SUM(tf.tf * ln(CAST(model.cnt AS DOUBLE) / total.total))
                     / SUM(tf.tf), 6) AS mean_logprob,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens
        FROM tf JOIN model USING (term) CROSS JOIN total
        GROUP BY tf.doc_id
        ORDER BY tf.doc_id
    """,
    "q51_interval_join": """
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, event_id, ts,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                        AS BIGINT) AS sid
            FROM marked
        ), intervals AS (
            SELECT user_id AS s_user, sid,
                   MIN(ts) AS lo, MAX(ts) AS hi
            FROM sess GROUP BY 1, 2
        )
        SELECT i.s_user AS user_id, i.sid,
               strftime(i.lo, '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(i.hi, '%Y-%m-%d %H:%M:%S') AS session_end,
               COUNT(*) AS n_events
        FROM intervals i JOIN events e
             ON e.ts >= i.lo AND e.ts <= i.hi
        GROUP BY 1, 2, 3, 4
        ORDER BY user_id, sid
    """,
    "q50_stream_dedup": """
        SELECT DISTINCT user_id, event_type,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        FROM events
        ORDER BY user_id, event_type, day
    """,
    "q49_events_sliding": """
        WITH exploded AS (
            SELECT time_bucket(INTERVAL 15 MINUTE, ts)
                     - k.k * INTERVAL 15 MINUTE AS w_start,
                   event_type, value
            FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
        )
        SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
               event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_value
        FROM exploded
        GROUP BY 1, 2 ORDER BY w_start, event_type
    """,
    "q48_tfidf_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), docfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + docfreq.df))
                                  + 1.0), 6) AS tfidf
            FROM tf JOIN docfreq USING (term) CROSS JOIN n
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, tfidf, rank FROM ranked
        WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    "q47_sequence_packing": """
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS tokens
            FROM documents
        ), c AS (
            SELECT doc_id, tokens,
                   CAST(SUM(tokens) OVER (ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_tokens
            FROM t
        )
        SELECT doc_id, tokens, cum_tokens,
               CAST(FLOOR((cum_tokens - tokens) / 2000.0) AS BIGINT) AS shard
        FROM c ORDER BY doc_id
    """,
    "q42_event_funnel": """
        WITH a AS (
            SELECT user_id AS uid, event_id AS signup_id, ts AS a_ts
            FROM events WHERE event_type = 'signup'
        ), b AS (
            SELECT user_id AS uid, ts AS b_ts
            FROM events WHERE event_type = 'purchase'
        ), conv AS (
            SELECT a.signup_id, a.uid, a.a_ts, MIN(b.b_ts) AS first_purchase_ts
            FROM a JOIN b ON a.uid = b.uid
                AND b.b_ts > a.a_ts
                AND b.b_ts <= a.a_ts + INTERVAL 30 MINUTE
            GROUP BY a.signup_id, a.uid, a.a_ts
        )
        SELECT strftime(CAST(a_ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS n_conversions,
               COUNT(DISTINCT uid) AS n_users
        FROM conv GROUP BY day ORDER BY day
    """,
    "q45_size_percentiles": """
        SELECT l_returnflag, COUNT(*) AS n_rows,
               ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
               ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "q43_asof_join": """
        WITH l AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ), r AS (
            SELECT user_id, ts, MAX(value) AS click_value
            FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        )
        SELECT l.event_id, l.user_id,
               strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               ROUND(l.value, 6) AS value,
               strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               ROUND(r.click_value, 6) AS click_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY event_id
    """,
    "q17_ann_cosine_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               ROUND(list_dot_product(embedding::DOUBLE[], qv)
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv, qv))), 6) AS cosine
        FROM embeddings, q
        WHERE vec_id != 0
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """,
    "q18_ann_batch_topk": """
        SELECT query_id, vec_id, ROUND(cos, 6) AS cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
                                / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
                                   * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) DESC,
                                c.vec_id) AS rank
            FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
            WHERE q.vec_id < 20
        )
        WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    "q20_language_id": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ), hits AS (
            SELECT doc_id,
                   len(list_filter(t, x -> x IN ('der','die','und','das','ist','ein','nicht'))) AS h_de,
                   len(list_filter(t, x -> x IN ('the','and','of','to','a','in','is','it'))) AS h_en,
                   len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','es'))) AS h_es,
                   len(list_filter(t, x -> x IN ('le','la','de','et','un','est','que','les'))) AS h_fr
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM hits
        ORDER BY doc_id
    """,
    "q21_quality_score": """
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(t) AS n_tokens,
                   CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
                   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1) AS alpha,
                   CASE WHEN len(t) BETWEEN 20 AND 2000 THEN 1.0
                        WHEN len(t) < 20 THEN CAST(len(t) AS DOUBLE) / 20
                        ELSE 0.5 END AS len_band
            FROM base
        )
        SELECT doc_id, n_tokens,
               ROUND((ttr + alpha + len_band) / 3, 6) AS quality
        FROM m
        ORDER BY doc_id
    """,
    "q62_amount_unpivot": """
        WITH long AS (
            SELECT l_returnflag, 'extendedprice' AS metric,
                   l_extendedprice AS value FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'tax', l_tax FROM lineitem
        )
        SELECT l_returnflag, metric,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total,
               COUNT(*) AS n_rows
        FROM long
        GROUP BY 1, 2 ORDER BY l_returnflag, metric
    """,
    "q61_priority_pivot": """
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
               COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
               COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
               COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
               COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        FROM orders
        GROUP BY month ORDER BY month
    """,
    "q60_size_histogram": f"""
        SELECT CAST(length(bin(size)) AS BIGINT) AS bucket,
               COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_bytes,
               MIN(size) AS min_size, MAX(size) AS max_size
        FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
        WHERE NOT is_dir
        GROUP BY bucket ORDER BY bucket
    """,
    "q22_fs_find": f"""
        WITH pfx AS (
            SELECT * FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet')
        ), ent AS (
            SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
        )
        -- prefix granularity: type=f is always false for a directory row,
        -- type=l tests the symlink mode bit; no prefix rows qualify here
        SELECT path, TRUE AS is_prefix FROM pfx
        WHERE (path = '/tree/d0-0' OR path LIKE '/tree/d0-0/%')
          AND uid = 100 AND (mode & 134217728) != 0
          AND (regexp_matches(string_split(path, '/')[-1], '^f1-[^/]*$')
               OR regexp_matches(path, '^f1-[^/]*$'))
        UNION ALL
        SELECT path, FALSE AS is_prefix FROM ent
        WHERE (parent = '/tree/d0-0' OR parent LIKE '/tree/d0-0/%')
          AND NOT is_dir AND uid = 100
          AND ((NOT is_dir AND (mode & 134217728) = 0)
               OR (mode & 134217728) != 0)
          AND (regexp_matches(name, '^f1-[^/]*$')
               OR regexp_matches(path, '^f1-[^/]*$'))
        ORDER BY path
    """,
    "q23_fs_stats_totals": _FS_CONTRIB_SQL
    + """
        SELECT prefix,
               CAST(SUM(files) AS BIGINT) AS files,
               CAST(SUM(prefixes) AS BIGINT) AS prefixes,
               CAST(SUM(sub_prefixes) AS BIGINT) AS sub_prefixes,
               CAST(SUM(bytes) AS BIGINT) AS bytes,
               CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
               CAST(SUM(prefix_bytes) AS BIGINT) AS prefix_bytes,
               CAST(SUM(hardlinks) AS BIGINT) AS hardlinks,
               CAST(SUM(hardlink_dirs) AS BIGINT) AS hardlink_dirs
        FROM contrib GROUP BY prefix ORDER BY prefix
    """,
    "q24_fs_stats_per_user": _FS_CONTRIB_SQL
    + """
        SELECT prefix, cuid AS id,
               CAST(SUM(files) AS BIGINT) AS files,
               CAST(SUM(prefixes) AS BIGINT) AS prefixes,
               CAST(SUM(sub_prefixes) AS BIGINT) AS sub_prefixes,
               CAST(SUM(bytes) AS BIGINT) AS bytes,
               CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
               CAST(SUM(prefix_bytes) AS BIGINT) AS prefix_bytes,
               CAST(SUM(hardlinks) AS BIGINT) AS hardlinks
        FROM contrib WHERE cuid IS NOT NULL
        GROUP BY prefix, cuid ORDER BY prefix, id
    """,
    "q25_fs_top_by_user": _FS_CONTRIB_SQL
    + """
        SELECT cuid AS id,
               CAST(SUM(files) AS BIGINT) AS files,
               CAST(SUM(bytes) AS BIGINT) AS bytes,
               CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
               CAST(SUM(hardlinks) AS BIGINT) AS hardlinks
        FROM contrib WHERE cuid IS NOT NULL
        GROUP BY cuid ORDER BY id
    """,
    "q29_fs_find_hardlink": f"""
        WITH pfx AS (
            SELECT * FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet')
        ), ent AS (
            SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
        ), link AS (
            SELECT device AS ld, inode AS li FROM ent WHERE path = '/tree/f0-2'
        )
        SELECT path, TRUE AS is_prefix FROM pfx, link
        WHERE n_entries > 9
           OR (device = ld AND inode = li)
           OR regexp_matches(lower(string_split(path, '/')[-1]), '^s1-ok$')
        UNION ALL
        SELECT path, FALSE AS is_prefix FROM ent, link
        WHERE NOT is_dir
          AND ((device = ld AND inode = li)
               OR regexp_matches(lower(name), '^s1-ok$')
               OR regexp_matches(lower(path), '^s1-ok$'))
        ORDER BY path
    """,
    "q30_events_hourly_streamed": """
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
                 AS hour,
               event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour, event_type
    """,
    "q32_embedding_near_dup": _srp_oracle_sql(),
    "q31_fs_stats_at_scale": """
        WITH ent AS (
            SELECT '/scale/d' || (l_orderkey % 500) AS parent,
                   '/scale/d' || (l_orderkey % 500) || '/f' || l_orderkey
                     || '-' || l_linenumber || '-' || l_partkey
                     || '-' || l_suppkey
                     || '-' || CAST(l_quantity AS BIGINT) AS path,
                   CAST(l_quantity AS BIGINT) AS size,
                   CASE WHEN l_partkey % 199 = 0 THEN 42
                        ELSE (l_orderkey * 1000000000
                              + l_linenumber * 100000000
                              + l_partkey * 1000 + l_suppkey) * 64
                             + CAST(l_quantity AS BIGINT) END AS inode,
                   CAST(l_suppkey % 10 AS BIGINT) AS uid,
                   CAST(l_partkey % 7 AS BIGINT) AS gid
            FROM lineitem
        ), files AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY inode ORDER BY path) > 1
                     AS is_dup
            FROM ent
        ), contrib AS (
            -- each synthetic dir: prefix=1, own 64 bytes in bytes+prefix_bytes
            SELECT DISTINCT parent AS prefix, 0 AS files, 1 AS prefixes,
                   0 AS sub_prefixes, 64 AS bytes, 64 AS storage_bytes,
                   64 AS prefix_bytes, 0 AS hardlinks, 0 AS hardlink_dirs
            FROM ent
            UNION ALL
            SELECT parent, 0, 0, 0, 0, 0, 0, 1, 0 FROM files WHERE is_dup
            UNION ALL
            SELECT parent, 1, 0, 0, size, size, 0, 0, 0
            FROM files WHERE NOT is_dup
        )
        SELECT prefix,
               CAST(SUM(files) AS BIGINT) AS files,
               CAST(SUM(prefixes) AS BIGINT) AS prefixes,
               CAST(SUM(sub_prefixes) AS BIGINT) AS sub_prefixes,
               CAST(SUM(bytes) AS BIGINT) AS bytes,
               CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
               CAST(SUM(prefix_bytes) AS BIGINT) AS prefix_bytes,
               CAST(SUM(hardlinks) AS BIGINT) AS hardlinks,
               CAST(SUM(hardlink_dirs) AS BIGINT) AS hardlink_dirs
        FROM contrib GROUP BY prefix ORDER BY prefix
    """,
    "q26_json_props": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q27_fs_merged_topn": _FS_CONTRIB_SQL
    + """
        , agg AS (
            SELECT prefix,
                   CAST(SUM(files) AS BIGINT) AS files,
                   CAST(SUM(prefixes) AS BIGINT) AS prefixes,
                   CAST(SUM(sub_prefixes) AS BIGINT) AS sub_prefixes,
                   CAST(SUM(bytes) AS BIGINT) AS bytes,
                   CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
                   CAST(SUM(prefix_bytes) AS BIGINT) AS prefix_bytes,
                   CAST(SUM(hardlinks) AS BIGINT) AS hardlinks,
                   CAST(SUM(hardlink_dirs) AS BIGINT) AS hardlink_dirs
            FROM contrib GROUP BY prefix
        ), ranked AS (
            SELECT *,
                ROW_NUMBER() OVER (ORDER BY bytes DESC, prefix) AS r_bytes,
                ROW_NUMBER() OVER (ORDER BY storage_bytes DESC, prefix) AS r_storage,
                ROW_NUMBER() OVER (ORDER BY prefix_bytes DESC, prefix) AS r_pb,
                ROW_NUMBER() OVER (ORDER BY files DESC, prefix) AS r_files,
                ROW_NUMBER() OVER (ORDER BY sub_prefixes DESC, prefix) AS r_sub
            FROM agg
        )
        SELECT prefix, bytes, storage_bytes, prefix_bytes, files,
               sub_prefixes, prefixes, hardlinks, hardlink_dirs
        FROM ranked
        WHERE r_bytes <= 3 OR r_storage <= 3 OR r_pb <= 3
           OR r_files <= 3 OR r_sub <= 3
        ORDER BY prefix
    """,
    "q28_brand_revenue": """
        SELECT p_brand,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    # q34/q35: the ancestor-explode restated in DuckDB (list slicing +
    # LATERAL unnest mirrors Spark's transform/sequence/slice)
    "q34_fs_subtree_rollup": f"""
        WITH p AS (
            SELECT string_split(parent, '/') AS pp, is_dir, size
            FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
        ), anc AS (
            SELECT array_to_string(pp[1:i], '/') AS dir_path, is_dir, size
            FROM p, LATERAL (SELECT unnest(generate_series(2, len(pp))) AS i) t
        )
        SELECT dir_path,
               CAST(SUM(CASE WHEN NOT is_dir THEN 1 ELSE 0 END) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN is_dir THEN 1 ELSE 0 END) AS BIGINT) AS n_dirs,
               CAST(SUM(CASE WHEN NOT is_dir THEN size ELSE 0 END) AS BIGINT) AS file_bytes,
               CAST(SUM(size) AS BIGINT) AS total_bytes,
               CAST(SUM(CASE WHEN NOT is_dir
                    THEN CAST(ceil(size / 512.0) AS BIGINT) * 512
                    ELSE 0 END) AS BIGINT) AS storage_bytes
        FROM anc GROUP BY dir_path ORDER BY dir_path
    """,
    "q35_fs_rollup_at_scale": """
        WITH ent AS (
            SELECT (l_orderkey % 25) AS g, CAST(l_quantity AS BIGINT) AS size
            FROM lineitem
        ), anc AS (
            -- fixed two-level tree + depth cap 1: ancestors are /scale
            -- and /scale/g<g> only
            SELECT '/scale' AS dir_path, size FROM ent
            UNION ALL
            SELECT '/scale/g' || g, size FROM ent
        )
        SELECT dir_path,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(0 AS BIGINT) AS n_dirs,
               CAST(SUM(size) AS BIGINT) AS file_bytes,
               CAST(SUM(size) AS BIGINT) AS total_bytes,
               CAST(SUM(CAST(ceil(size / 512.0) AS BIGINT) * 512) AS BIGINT)
                 AS storage_bytes
        FROM anc GROUP BY dir_path ORDER BY dir_path
    """,
    "q36_winnow_fingerprints": _winnow_sql_cte()
    + """
        SELECT doc_id, fp FROM fp ORDER BY doc_id, fp
    """,
    "q37_fingerprint_overlap": _winnow_sql_cte()
    + """
        , sizes AS (
            SELECT fp, COUNT(*) AS _n FROM fp GROUP BY fp
        ), capped AS (
            SELECT f.doc_id, f.fp FROM fp f JOIN sizes USING (fp)
            WHERE _n <= 100
        ), cnt AS (
            SELECT doc_id, COUNT(*) AS n_fp FROM capped GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
            FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
        )
        SELECT id_a, id_b, n_shared,
               ROUND(CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp), 6)
                 AS overlap
        FROM pairs JOIN cnt ca ON id_a = ca.doc_id
                   JOIN cnt cb ON id_b = cb.doc_id
        WHERE CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) >= 0.5
        ORDER BY id_a, id_b
    """,
    # q38/q85: lag + cumulative-sum sessionization restates the stateful
    # operator; the emit rule is watermark-exact — a session is emitted
    # iff its end + gap precedes the final watermark (ms-floored global
    # max event time; Spark floors event-time stats to ms), whether it
    # was closed by a successor event or by event-time timeout.
    "q38_events_sessionized": """
        WITH ev AS (
            SELECT user_id, ts,
                   CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), s AS (
            SELECT user_id, ts, cents,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                        OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM ev
        ), s2 AS (
            SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM s
        ), agg AS (
            SELECT user_id, sess_id, min(ts) AS st, max(ts) AS en,
                   COUNT(*) AS n_events, SUM(cents) AS sum_cents
            FROM s2 GROUP BY user_id, sess_id
        ), wm AS (
            SELECT date_trunc('milliseconds', max(ts)) AS w FROM ev
        )
        SELECT a.user_id,
               strftime(st, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(en, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               n_events, CAST(sum_cents AS BIGINT) AS sum_cents
        FROM agg a, wm
        WHERE en + INTERVAL 30 MINUTE < wm.w
        ORDER BY user_id, session_start
    """,
    "q39_fs_distinct_owners": """
        SELECT '/scale/d' || (l_orderkey % 500) AS parent,
               COUNT(DISTINCT l_suppkey % 10) AS n_uids,
               COUNT(DISTINCT l_partkey % 7) AS n_gids,
               COUNT(*) AS n_files
        FROM lineitem
        GROUP BY parent
        ORDER BY parent
    """,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q05_region_revenue(spark, SF_DEFAULT)


ORACLE["q59_events_sliding_streamed"] = None  # assigned below from q49
ORACLE["q58_consensus_dedup"] = f"""
    SELECT id_a, id_b, t.overlap, e.cosine,
           CASE WHEN t.overlap IS NULL THEN 'emb'
                WHEN e.cosine IS NULL THEN 'text'
                ELSE 'both' END AS modality
    FROM ({ORACLE["q37_fingerprint_overlap"]}) t
    FULL JOIN ({_srp_oracle_sql()}) e USING (id_a, id_b)
    ORDER BY id_a, id_b
"""


ORACLE["q59_events_sliding_streamed"] = ORACLE["q49_events_sliding"]

ORACLE["q117_mixture_weights"] = r"""
    WITH per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> ''))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT SUM(POWER(n_tokens, 0.5)) AS z,
               CAST(SUM(n_tokens) AS DOUBLE) AS tot FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           ROUND(POWER(n_tokens, 0.5) / z, 6) AS weight,
           ROUND((POWER(n_tokens, 0.5) / z) / (n_tokens / tot), 6) AS boost
    FROM per_src, tot ORDER BY source
"""

ORACLE["q121_chunk_windows"] = r"""
    WITH tl AS (
      SELECT doc_id, arr, len(arr) AS L FROM (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> t <> '') AS arr
        FROM documents)
    ), w AS (
      SELECT doc_id, CAST(u.k AS INT) AS win_id,
             CAST(u.k * 32 AS INT) AS start_tok, arr
      FROM tl, unnest(range((L - 1) // 32 + 1)) AS u(k)
      WHERE L > 0
    )
    SELECT doc_id, win_id, start_tok,
           CAST(len(arr[start_tok + 1 : start_tok + 64]) AS INT)
             AS n_tokens,
           array_to_string(arr[start_tok + 1 : start_tok + 64], ' ')
             AS chunk_text
    FROM w ORDER BY doc_id, win_id
"""

ORACLE["q122_source_overlap"] = r"""
    WITH tl AS (
      SELECT doc_id, source, arr, len(arr) AS L FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\s+'),
                           t -> t <> '') AS arr
        FROM documents)
    ), g AS (
      SELECT DISTINCT source,
             array_to_string(arr[u.p + 1 : u.p + 8], ' ') AS gram
      FROM tl, unnest(range(L - 7)) AS u(p) WHERE L >= 8
    ), tot AS (
      SELECT source, COUNT(*) AS n FROM g GROUP BY source
    ), sh AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sh.source_a, sh.source_b, sh.shared_grams,
           ta.n AS n_a, tb.n AS n_b,
           ROUND(sh.shared_grams / (ta.n + tb.n - sh.shared_grams), 6)
             AS jaccard
    FROM sh JOIN tot ta ON ta.source = sh.source_a
            JOIN tot tb ON tb.source = sh.source_b
    ORDER BY source_a, source_b
"""

ORACLE["q123_embedding_outliers"] = r"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), m AS (
      SELECT label, i,
             CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE) / COUNT(*)
               AS mu
      FROM (SELECT label, unnest(v) AS x,
                   generate_subscripts(v, 1) AS i FROM e)
      GROUP BY label, i
    ), c AS (
      SELECT label, list(mu ORDER BY i) AS cv FROM m GROUP BY label
    ), s AS (
      SELECT e.label, e.vec_id,
             round(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6)
               AS cos_centroid
      FROM e JOIN c USING (label)
    ), r AS (
      SELECT label, vec_id, cos_centroid,
             CAST(ROW_NUMBER() OVER (
                 PARTITION BY label ORDER BY cos_centroid, vec_id
             ) AS INT) AS rank
      FROM s
    )
    SELECT label, vec_id, cos_centroid, rank
    FROM r WHERE rank <= 3 ORDER BY label, rank
"""

def _bpe_oracle_sql(rounds: int = 8) -> str:
    """DuckDB restatement of q124: the same weighted vocabulary, and per
    round the same pair count, argmax with (cnt DESC, lhs, rhs)
    tie-break, and the same left-to-right list_reduce merge fold."""
    parts = [
        r"""
    WITH words AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS w
        FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY w
    ), v0 AS (
      SELECT list_transform(range(1, length(w) + 1), i -> w[i:i]) AS sym,
             freq
      FROM words
    )"""
    ]
    for r in range(rounds):
        parts.append(
            f""", p{r} AS (
      SELECT sym[u.i] AS lhs, sym[u.i + 1] AS rhs,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM v{r}, unnest(range(1, len(sym))) AS u(i)
      GROUP BY lhs, rhs
    ), b{r} AS (
      SELECT lhs, rhs, cnt FROM p{r}
      ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ), v{r + 1} AS (
      SELECT list_reduce(
               list_transform(sym, s -> [s]),
               (acc, x) -> CASE WHEN len(acc) > 0
                                AND acc[-1] = b{r}.lhs
                                AND x[1] = b{r}.rhs
                           THEN list_append(acc[1:len(acc) - 1],
                                            b{r}.lhs || b{r}.rhs)
                           ELSE list_append(acc, x[1]) END) AS sym,
             freq
      FROM v{r}, b{r}
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, lhs, rhs, lhs || rhs AS merged, "
        f"cnt AS pair_count FROM b{r}"
        for r in range(rounds)
    )
    return "".join(parts) + (
        f" SELECT * FROM ({selects}) ORDER BY merge_round"
    )


def _bpe_encode_oracle_sql(rounds: int = 8) -> str:
    """DuckDB restatement of q125: the q124 merge chain verbatim (so the
    learned table can't drift), then the final vocabulary state v{R}
    IS the word→token-count map (array_to_string(sym) reconstructs the
    word) — joined back to per-(doc, word) counts and aggregated."""
    chain = _bpe_oracle_sql(rounds)
    chain = chain[: chain.rindex(" SELECT * FROM (")]  # keep the WITH chain
    return chain + rf""", enc AS (
      SELECT array_to_string(sym, '') AS w, len(sym) AS n_tok
      FROM v{rounds}
    ), dw AS (
      SELECT doc_id, w, COUNT(*) AS n FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS w
        FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_words,
           CAST(SUM(n * length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(n * n_tok) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(n * length(w)) AS DOUBLE) / SUM(n * n_tok), 6)
             AS chars_per_token
    FROM dw JOIN enc USING (w)
    GROUP BY doc_id ORDER BY doc_id
"""


ORACLE["q124_bpe_merges"] = _bpe_oracle_sql()
ORACLE["q125_bpe_encode"] = _bpe_encode_oracle_sql()

ORACLE["q116_curriculum_bins"] = f"""
    WITH s AS (
        SELECT doc_id, quality AS score
        FROM ({ORACLE["q21_quality_score"]})
    ), th AS (
        SELECT list_transform(
                   quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                         0.6, 0.7, 0.8, 0.9]),
                   x -> round(x, 6)) AS t
        FROM s
    )
    SELECT s.doc_id, s.score,
           CAST(len(list_filter(th.t, x -> s.score > x)) AS INT) AS bin
    FROM s, th ORDER BY s.doc_id
"""

# splice q16's final SELECT into a `verified` CTE (DuckDB hits an
# internal error when the whole WITH-query nests as a subquery here)
# and refine it with the same relative-Levenshtein cap as the pipeline
_q16_head, _q16_sel, _q16_tail = ORACLE["q16_minhash_dedup"].rpartition(
    "SELECT c.id_a, c.id_b,"
)
_q16_body = (_q16_sel + _q16_tail).rsplit("ORDER BY", 1)[0]
ORACLE["q113_edit_distance_verify"] = (
    _q16_head
    + ", verified AS (\n"
    + _q16_body
    + """)
    SELECT v.id_a, v.id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM verified v
    JOIN documents da ON v.id_a = da.doc_id
    JOIN documents db ON v.id_b = db.doc_id
    WHERE levenshtein(da.text, db.text)
          <= ceil(0.2 * greatest(length(da.text), length(db.text)))
    ORDER BY v.id_a, v.id_b
"""
)

# ---------------------------------------------------------------------------
# q63–q65: the deterministic-rescan staging AND the merge semantics restated
# from the same fixture parquet (full-outer classification, entry reuse for
# unchanged dirs, deletion cascade) — the SQL twin of operators/ingest.py.
# ---------------------------------------------------------------------------

_MERGE_FIX_SQL = f"""
    WITH prev_p AS (
        SELECT * FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet')
    ), prev_e AS (
        SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
    ), staged_p AS (
        SELECT path, parent, depth, size, blocks, mode, is_symlink,
               CASE WHEN path LIKE '%/d1-0' OR path = '/tree'
                    THEN mtime + INTERVAL 1 HOUR ELSE mtime END AS mtime,
               uid, gid, device, inode, n_entries
        FROM prev_p WHERE path NOT LIKE '/tree/d0-2%'
        UNION ALL
        SELECT replace(path, 'd0-', 'znew-'), parent, depth, size, blocks,
               mode, is_symlink, mtime, uid, gid, device,
               inode + 1000000, 0
        FROM prev_p WHERE path IN ('/tree/d0-0', '/tree/d0-1')
    ), cls AS (
        SELECT COALESCE(s.path, p.path) AS path,
               s.path IS NOT NULL AS in_new,
               p.path IS NOT NULL AS in_old,
               (s.path IS NOT NULL AND p.path IS NOT NULL
                AND s.mtime = p.mtime AND s.mode = p.mode) AS unchanged
        FROM staged_p s FULL JOIN prev_p p ON s.path = p.path
    ), merged_e AS (
        SELECT * FROM prev_e
        WHERE parent NOT LIKE '/tree/d0-2%' AND path <> '/tree/d0-2'
        UNION ALL
        SELECT parent, replace(name, 'd0-', 'znew-'),
               replace(path, 'd0-', 'znew-'), is_dir, size, blocks, mode,
               mtime, uid, gid, device, inode + 1000000
        FROM prev_e WHERE path IN ('/tree/d0-0', '/tree/d0-1')
    )
"""

ORACLE["q63_merge_counters"] = _MERGE_FIX_SQL + """
    SELECT
        CAST(SUM(CASE WHEN in_new AND NOT in_old THEN 1 ELSE 0 END)
             AS BIGINT) AS prefixes_added,
        CAST(SUM(CASE WHEN in_new AND in_old AND NOT unchanged
                 THEN 1 ELSE 0 END) AS BIGINT) AS prefixes_changed,
        CAST(SUM(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END)
             AS BIGINT) AS prefixes_deleted,
        CAST(SUM(CASE WHEN unchanged THEN 1 ELSE 0 END)
             AS BIGINT) AS parent_unchanged,
        CAST(SUM(CASE WHEN in_new THEN 1 ELSE 0 END)
             AS BIGINT) AS prefixes_started,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM merged_e WHERE NOT is_dir)
            AS files
    FROM cls
"""

ORACLE["q64_merge_snapshot"] = _MERGE_FIX_SQL + """
    SELECT path, strftime(mtime, '%Y-%m-%d %H:%M:%S') AS mtime,
           CAST(size AS BIGINT) AS size,
           CAST(n_entries AS BIGINT) AS n_entries
    FROM staged_p ORDER BY path
"""

ORACLE["q65_merge_entries_reuse"] = _MERGE_FIX_SQL + """
    SELECT parent, CAST(COUNT(*) AS BIGINT) AS n_children,
           CAST(SUM(CASE WHEN NOT is_dir THEN size ELSE 0 END) AS BIGINT)
             AS file_bytes
    FROM merged_e GROUP BY parent ORDER BY parent
"""

# q141: the FORCED merge — every alive dir rewritten from the staged
# scan, so the result is the staged scan itself (incl. the in-place
# edit the unchanged-skip would have lost; compare q65's oracle, which
# reuses prev rows for the same directory).
ORACLE["q141_force_rescan"] = f"""
    WITH prev_e AS (
        SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
    ), staged_e0 AS (
        SELECT * FROM prev_e
        WHERE parent NOT LIKE '/tree/d0-2%' AND path <> '/tree/d0-2'
        UNION ALL
        SELECT parent, replace(name, 'd0-', 'znew-'),
               replace(path, 'd0-', 'znew-'), is_dir, size, blocks, mode,
               mtime, uid, gid, device, inode + 1000000
        FROM prev_e WHERE path IN ('/tree/d0-0', '/tree/d0-1')
    ), staged_e AS (
        SELECT parent, name, path, is_dir,
               CASE WHEN NOT is_dir AND parent = '/tree/d0-1/d1-1'
                    THEN size + 13 ELSE size END AS size,
               blocks, mode,
               CASE WHEN NOT is_dir AND parent = '/tree/d0-1/d1-1'
                    THEN mtime + INTERVAL 2 HOUR ELSE mtime END AS mtime,
               uid, gid, device, inode
        FROM staged_e0
    )
    SELECT parent, CAST(COUNT(*) AS BIGINT) AS n_children,
           CAST(SUM(CASE WHEN NOT is_dir THEN size ELSE 0 END) AS BIGINT)
             AS file_bytes
    FROM staged_e GROUP BY parent ORDER BY parent
"""


def _fmt_bytes_sql(expr: str, binary: bool) -> str:
    """units.format_bytes restated in SQL: pick the multiple, format at
    two decimals, strip trailing zeros then the bare point."""
    base = 1024 if binary else 1000
    units = (
        ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
        if binary
        else ["B", "KB", "MB", "GB", "TB", "PB", "EB"]
    )
    v = f"CAST({expr} AS DOUBLE)"

    def trimmed(x: str) -> str:
        fmt = "format('{:.2f}', " + x + ")"
        return (
            "regexp_replace(regexp_replace(" + fmt + ", '0+$', ''), "
            "'\\.$', '')"
        )

    whens = []
    for k, u in enumerate(units):
        scaled = trimmed(f"{v} / {base ** k}")
        cond = f"{v} / {base ** k} < {base}" if k < len(units) - 1 else "TRUE"
        whens.append(f"WHEN {cond} THEN {scaled} || ' {u}'")
    return "CASE " + " ".join(whens) + " END"


ORACLE["q66_report_tsv"] = f"""
    SELECT *,
           {_fmt_bytes_sql('bytes', False)} AS bytes_h,
           {_fmt_bytes_sql('bytes', True)} AS bytes_bin
    FROM ({ORACLE["q27_fs_merged_topn"]})
    ORDER BY prefix
"""

ORACLE["q67_report_locate"] = """
    WITH days AS (
        SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d
        FROM events ORDER BY d LIMIT 3
    )
    SELECT d || '-000000' AS report, d || 'T00:00:00+00:00' AS "when"
    FROM days ORDER BY d DESC LIMIT 2
"""

ORACLE["q68_stats_snapshot_roundtrip"] = ORACLE["q23_fs_stats_totals"]

ORACLE["q69_catalog_roundtrip"] = f"""
    SELECT 'v0002' AS latest,
           CAST(2 AS BIGINT) AS n_versions,
           (SELECT COUNT(*)
            FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet'))
             AS n_prefixes,
           (SELECT COUNT(*)
            FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet'))
             AS n_entries,
           (SELECT CAST(SUM(CASE WHEN NOT is_dir THEN size ELSE 0 END)
                        AS BIGINT)
            FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet'))
             AS file_bytes
"""

# q70: the staged tree is formulaic, so the whole expected listing is
# regenerated from generate_series — an independent restatement of the
# crawl (sizes 37i+j+1, mtimes B+(i+1)*1000+(j+1)*10, symlink size 2).
ORACLE["q70_crawler_walk"] = """
    WITH dirs AS (SELECT unnest(generate_series(0, 2)) AS i),
    fils AS (
        SELECT d.i AS i, unnest(generate_series(0, 3)) AS j FROM dirs d
    )
    SELECT * FROM (
        SELECT '/' AS relpath, TRUE AS is_prefix,
               CAST(0 AS BIGINT) AS depth, CAST(4 AS BIGINT) AS n_entries,
               CAST(NULL AS BIGINT) AS size, CAST(NULL AS BOOLEAN) AS is_dir,
               strftime(make_timestamp(CAST(1700000000 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS mtime
        UNION ALL
        SELECT '/d' || i, TRUE, 1, 4, NULL, NULL,
               strftime(make_timestamp(CAST(1700000000 + (i+1)*1000 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S')
        FROM dirs
        UNION ALL
        SELECT '/d' || i, FALSE, NULL, NULL, NULL, TRUE,
               strftime(make_timestamp(CAST(1700000000 + (i+1)*1000 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S')
        FROM dirs
        UNION ALL
        SELECT '/d' || i || '/f' || j || '.dat', FALSE, NULL, NULL,
               CAST(37*i + j + 1 AS BIGINT), FALSE,
               strftime(make_timestamp(CAST(
                   1700000000 + (i+1)*1000 + (j+1)*10 AS BIGINT) * 1000000),
                   '%Y-%m-%d %H:%M:%S')
        FROM fils
        UNION ALL
        SELECT '/link', FALSE, NULL, NULL, 2, FALSE,
               strftime(make_timestamp(CAST(1700000005 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S')
    )
    ORDER BY relpath, is_prefix
"""


# the DataSource route must reproduce the crawler's rows exactly
ORACLE["q127_fswalk_datasource"] = ORACLE["q70_crawler_walk"]

# q133: batch-0 resync = the crawler's entry rows, each op='added', gen 0
ORACLE["q134_cluster_balance"] = _cluster_balance_oracle_sql()

# q135/q136: the deterministic change feed AND apply_changes' set algebra
# (anti-join on changed∪deleted paths ∪ added∪changed rows; n_entries
# recounted for affected parents only; feed dir rows rebuild their prefix
# row, the root only recounts) restated from the same fixture parquet —
# the SQL twin of operators/ingest.py apply_changes.
_WATCH_FEED_SQL = f"""
    WITH prev_p AS (
        SELECT * FROM read_parquet('{FS_FIX}/prefixes.parquet/*.parquet')
    ), prev_e AS (
        SELECT * FROM read_parquet('{FS_FIX}/entries.parquet/*.parquet')
    ), feed AS (
        SELECT 'deleted' AS op, parent, name, path, is_dir, size, blocks,
               mode, mtime, uid, gid, device, inode
        FROM prev_e
        WHERE path = '/tree/d0-2' OR path LIKE '/tree/d0-2/%'
        UNION ALL
        SELECT 'changed', parent, name, path, is_dir, size + 7, blocks,
               mode, mtime + INTERVAL 1 HOUR, uid, gid, device, inode
        FROM prev_e
        WHERE NOT is_dir AND name = 'f2-0' AND path LIKE '/tree/d0-0/%'
        UNION ALL
        SELECT 'changed', parent, name, path, is_dir, size, blocks,
               mode, mtime + INTERVAL 1 HOUR, uid, gid, device, inode
        FROM prev_e WHERE path = '/tree/d0-0'
        UNION ALL
        SELECT 'added', '/tree/d0-0', 'zadd.bin', '/tree/d0-0/zadd.bin',
               is_dir, 99, blocks, mode, mtime + INTERVAL 1 HOUR,
               uid, gid, device, inode + 2000000
        FROM prev_e WHERE path = '/tree/d0-0/d1-0/f2-1'
        UNION ALL
        SELECT 'added', '/tree', 'znew-0', '/tree/znew-0',
               is_dir, size, blocks, mode, mtime,
               uid, gid, device, inode + 3000000
        FROM prev_e WHERE path = '/tree/d0-0'
        UNION ALL
        -- dir->file type flip: the former subtree's deletion rows ...
        SELECT 'deleted', parent, name, path, is_dir, size, blocks,
               mode, mtime, uid, gid, device, inode
        FROM prev_e WHERE path LIKE '/tree/d0-1/d1-2/%'
        UNION ALL
        -- ... plus ONE changed row whose is_dir flipped to false
        SELECT 'changed', parent, name, path, FALSE, 777, blocks, 420,
               mtime + INTERVAL 1 HOUR, uid, gid, device,
               inode + 4000000
        FROM prev_e WHERE path = '/tree/d0-1/d1-2'
    ), errfeed AS (
        -- error transition: unreadable path retires, inserts nothing
        SELECT 'changed' AS op, parent, name, path, is_dir,
               CAST(NULL AS BIGINT) AS size, blocks, mode,
               CAST(NULL AS TIMESTAMP) AS mtime, uid, gid, device, inode
        FROM prev_e WHERE path = '/tree/d0-1/d1-0/f2-1'
    ), dead AS (
        -- the UNFILTERED feed: error rows still retire their path
        SELECT path FROM feed WHERE op IN ('changed', 'deleted')
        UNION ALL
        SELECT path FROM errfeed
    ), live AS (
        -- insert side excludes error rows
        SELECT * FROM feed WHERE op IN ('added', 'changed')
    ), new_e AS (
        SELECT parent, name, path, is_dir, size, blocks, mode, mtime,
               uid, gid, device, inode
        FROM prev_e
        WHERE path NOT IN (SELECT path FROM dead)
        UNION ALL
        SELECT parent, name, path, is_dir, size, blocks, mode, mtime,
               uid, gid, device, inode
        FROM live
    ), aff AS (
        SELECT DISTINCT parent AS path FROM feed WHERE parent IS NOT NULL
        UNION
        SELECT DISTINCT parent FROM errfeed
        UNION
        SELECT path FROM live WHERE is_dir
    ), counts AS (
        SELECT a.path, COALESCE(g.n, 0) AS n_new
        FROM aff a LEFT JOIN (
            SELECT parent, COUNT(*) AS n FROM new_e GROUP BY parent
        ) g ON a.path = g.parent
    ), new_p AS (
        SELECT p.path, p.mtime, p.size,
               CASE WHEN c.path IS NOT NULL THEN c.n_new
                    ELSE p.n_entries END AS n_entries,
               p.uid, p.gid, p.device, p.inode
        FROM prev_p p LEFT JOIN counts c ON p.path = c.path
        WHERE p.path NOT IN (SELECT path FROM dead)
        UNION ALL
        SELECT d.path, d.mtime, d.size, COALESCE(c.n_new, 0),
               d.uid, d.gid, d.device, d.inode
        FROM (SELECT * FROM live WHERE is_dir) d
        LEFT JOIN counts c ON d.path = c.path
    )
"""

ORACLE["q135_watch_apply_prefixes"] = _WATCH_FEED_SQL + """
    SELECT path, strftime(mtime, '%Y-%m-%d %H:%M:%S') AS mtime,
           CAST(size AS BIGINT) AS size,
           CAST(n_entries AS BIGINT) AS n_entries
    FROM new_p ORDER BY path
"""

ORACLE["q136_watch_apply_entries"] = _WATCH_FEED_SQL + """
    SELECT parent, CAST(COUNT(*) AS BIGINT) AS n_children,
           CAST(SUM(CASE WHEN NOT is_dir THEN size ELSE 0 END) AS BIGINT)
             AS file_bytes
    FROM new_e GROUP BY parent ORDER BY parent
"""


# q140: the restart-reconciliation classification — new_e (the applied
# tree, what a restart walk would see) full-joined against prev_e with
# null-safe stat comparison; unchanged rows drop out
ORACLE["q140_resync_reconcile"] = _WATCH_FEED_SQL + """
    SELECT op, path, strftime(mtime, '%Y-%m-%d %H:%M:%S') AS mtime,
           CAST(size AS BIGINT) AS size, is_dir
    FROM (
        SELECT CASE WHEN p.path IS NULL THEN 'added'
                    WHEN n.path IS NULL THEN 'deleted'
                    WHEN NOT (n.is_dir IS NOT DISTINCT FROM p.is_dir
                          AND n.size   IS NOT DISTINCT FROM p.size
                          AND n.mode   IS NOT DISTINCT FROM p.mode
                          AND n.mtime  IS NOT DISTINCT FROM p.mtime
                          AND n.uid    IS NOT DISTINCT FROM p.uid
                          AND n.gid    IS NOT DISTINCT FROM p.gid)
                    THEN 'changed' END AS op,
               COALESCE(n.path, p.path) AS path,
               CASE WHEN n.path IS NULL THEN p.mtime ELSE n.mtime END
                   AS mtime,
               CASE WHEN n.path IS NULL THEN p.size ELSE n.size END
                   AS size,
               CASE WHEN n.path IS NULL THEN p.is_dir ELSE n.is_dir END
                   AS is_dir
        FROM new_e n FULL JOIN prev_e p ON n.path = p.path
    ) WHERE op IS NOT NULL ORDER BY path, op
"""

ORACLE["q133_fswatch_stream"] = """
    WITH dirs AS (SELECT unnest(generate_series(0, 2)) AS i),
    fils AS (
        SELECT d.i AS i, unnest(generate_series(0, 3)) AS j FROM dirs d
    )
    SELECT 'added' AS op, relpath, size, is_dir, mtime,
           CAST(0 AS BIGINT) AS gen
    FROM (
        SELECT '/d' || i AS relpath, CAST(NULL AS BIGINT) AS size,
               TRUE AS is_dir,
               strftime(make_timestamp(CAST(1700000000 + (i+1)*1000
                        AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS mtime
        FROM dirs
        UNION ALL
        SELECT '/d' || i || '/f' || j || '.dat',
               CAST(37*i + j + 1 AS BIGINT), FALSE,
               strftime(make_timestamp(CAST(
                   1700000000 + (i+1)*1000 + (j+1)*10 AS BIGINT) * 1000000),
                   '%Y-%m-%d %H:%M:%S')
        FROM fils
        UNION ALL
        SELECT '/link', 2, FALSE,
               strftime(make_timestamp(CAST(1700000005 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S')
    )
    ORDER BY relpath
"""


# q142: the seeded-start reconciliation, stated literally — every
# mutation stat is utime-pinned, the unchanged tree must NOT appear
ORACLE["q142_seeded_watch_reconcile"] = """
    WITH expect(op, relpath, size, is_dir, epoch) AS (VALUES
        ('changed', '/d0',          CAST(NULL AS BIGINT), TRUE,  1700007000),
        ('added',   '/d0/znew.dat', CAST(99 AS BIGINT),   FALSE, 1700007777),
        ('changed', '/d1',          CAST(NULL AS BIGINT), TRUE,  1700008000),
        ('changed', '/d1/f0.dat',   CAST(5 AS BIGINT),    FALSE, 1700008888),
        ('deleted', '/d2',          CAST(NULL AS BIGINT), TRUE,  1700003000),
        ('deleted', '/d2/f0.dat',   CAST(75 AS BIGINT),   FALSE, 1700003010),
        ('deleted', '/d2/f1.dat',   CAST(76 AS BIGINT),   FALSE, 1700003020),
        ('deleted', '/d2/f2.dat',   CAST(77 AS BIGINT),   FALSE, 1700003030),
        ('deleted', '/d2/f3.dat',   CAST(78 AS BIGINT),   FALSE, 1700003040),
        ('deleted', '/d2/skip.tmp', CAST(8 AS BIGINT),    FALSE, 0)
    )
    SELECT op, relpath, size, is_dir,
           strftime(make_timestamp(CAST(epoch AS BIGINT) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS mtime,
           CAST(0 AS BIGINT) AS gen
    FROM expect ORDER BY relpath, op
"""


def _q128_oracle_sql() -> str:
    """SQL restatement of the flat-image JPEG decode: RGB->YCbCr with
    half-even rounds, DC quantization (luma q00=8 cancels; chroma q00=12
    with the screened-even quants), dequant + IDCT of a DC-only block
    (value/8), and the BT.601 inverse with the same operator order as
    decode_jpeg_pixels.  round_even == numpy half-even; the fixture
    colors were screened so no expression lands near a tie (see
    _Q128_COLORS)."""
    vals = ", ".join(
        f"({ci}, {r}, {g}, {b})" for ci, (r, g, b) in enumerate(_Q128_COLORS)
    )
    return f"""
    WITH gids AS (SELECT unnest(generate_series(0, 9)) AS i),
    gray AS (
        SELECT CAST(i AS BIGINT) AS media_id, 'jpeg' AS format,
               CAST(21 + i AS INT) AS width, CAST(13 + i AS INT) AS height,
               CAST(1 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
               CAST((21 + i) * (13 + i) AS BIGINT) AS n_frames,
               CAST((i*23 + 7) % 256 AS DOUBLE) AS mean1,
               CAST(NULL AS DOUBLE) AS mean2, CAST(NULL AS DOUBLE) AS mean3,
               CAST(NULL AS DOUBLE) AS rms
        FROM gids
    ),
    colors(ci, r, g, b) AS (VALUES {vals}),
    enc AS (
        SELECT ci,
               round_even(0.299*r + 0.587*g + 0.114*b, 0) AS y0,
               round_even(128 - 0.168736*r - 0.331264*g + 0.5*b, 0) AS cb0,
               round_even(128 + 0.5*r - 0.418688*g - 0.081312*b, 0) AS cr0
        FROM colors
    ),
    dec AS (
        SELECT ci, y0,
               round_even(round_even(8*(cb0 - 128)/12.0, 0)*12/8.0, 0) + 128
                   AS dcb,
               round_even(round_even(8*(cr0 - 128)/12.0, 0)*12/8.0, 0) + 128
                   AS dcr
        FROM enc
    ),
    rgb AS (
        SELECT ci,
               GREATEST(0, LEAST(255,
                   round_even(y0 + 1.402*(dcr - 128), 0))) AS mr,
               GREATEST(0, LEAST(255,
                   round_even(y0 - 0.344136*(dcb - 128)
                                 - 0.714136*(dcr - 128), 0))) AS mg,
               GREATEST(0, LEAST(255,
                   round_even(y0 + 1.772*(dcb - 128), 0))) AS mb
        FROM dec
    ),
    color AS (
        SELECT CAST(10*grp + ci AS BIGINT) AS media_id, 'jpeg' AS format,
               CAST(CASE grp WHEN 1 THEN 28 ELSE 30 END AS INT) AS width,
               CAST(CASE grp WHEN 1 THEN 20 ELSE 18 END AS INT) AS height,
               CAST(3 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
               CAST(CASE grp WHEN 1 THEN 560 ELSE 540 END AS BIGINT)
                   AS n_frames,
               CAST(mr AS DOUBLE) AS mean1, CAST(mg AS DOUBLE) AS mean2,
               CAST(mb AS DOUBLE) AS mean3, CAST(NULL AS DOUBLE) AS rms
        FROM rgb, (SELECT unnest([1, 2]) AS grp)
    )
    SELECT * FROM (SELECT * FROM gray UNION ALL SELECT * FROM color)
    ORDER BY media_id
"""


ORACLE["q128_jpeg_decode"] = _q128_oracle_sql()

# q137: the progressive re-encode of q128's fixture decodes to identical
# pixels (same quantized coefficients inside the image), so the oracle
# is q128's verbatim — same certification pattern as q127 reusing q70's
ORACLE["q137_jpeg_progressive"] = ORACLE["q128_jpeg_decode"]

ORACLE["q71_decontamination"] = """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(tk[i:i+4], ' ')
                   FOR i IN range(1, greatest(len(tk) - 4, 1) + 1)]) AS sg
        FROM tok
    ), ev AS (
        SELECT DISTINCT unnest(sg) AS shingle FROM sh WHERE doc_id % 97 = 0
    ), corp AS (
        SELECT doc_id, len(sg) AS n_shingles, unnest(sg) AS shingle
        FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT corp.doc_id,
           CAST(corp.n_shingles AS INTEGER) AS n_shingles,
           COUNT(*) AS n_hit,
           ROUND(COUNT(*) / CAST(corp.n_shingles AS DOUBLE), 6)
               AS contamination
    FROM corp JOIN ev USING (shingle)
    GROUP BY corp.doc_id, corp.n_shingles
    ORDER BY corp.doc_id
"""

ORACLE["q72_repetition_signals"] = """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), big AS (
        SELECT doc_id, len(tk) AS n_words, len(list_distinct(tk)) AS n_distinct,
               unnest([array_to_string(tk[i:i+1], ' ')
                   FOR i IN range(1, greatest(len(tk) - 1, 1) + 1)]) AS bigram
        FROM tok
    ), pb AS (
        SELECT doc_id, n_words, n_distinct, bigram, COUNT(*) AS cnt
        FROM big GROUP BY ALL
    )
    SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           ROUND(1.0 - n_distinct / CAST(n_words AS DOUBLE), 6)
               AS dup_word_frac,
           ROUND(MAX(cnt) / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE), 6)
               AS top_bigram_frac
    FROM pb
    GROUP BY doc_id, n_words, n_distinct
    ORDER BY doc_id
"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
ORACLE["q73_pii_scan"] = f"""
    WITH injected AS (
        SELECT doc_id, text ||
            CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END ||
            CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-010-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.0.' || (doc_id % 256) || '.' ||
                      ((doc_id // 256) % 256)
                 ELSE '' END AS text
        FROM documents
    ), counted AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
                   AS n_email,
               CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER)
                   AS n_phone,
               CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS INTEGER)
                   AS n_ipv4,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{_PII_EMAIL}', '[EMAIL]', 'g'),
                   '{_PII_PHONE}', '[PHONE]', 'g'),
                   '{_PII_IPV4}', '[IPV4]', 'g') AS redacted
        FROM injected
    )
    SELECT doc_id, n_email, n_phone, n_ipv4,
           n_email + n_phone + n_ipv4 AS n_pii, redacted
    FROM counted
    WHERE n_email + n_phone + n_ipv4 > 0
    ORDER BY doc_id
"""

ORACLE["q74_bm25_terms"] = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), docfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), stats AS (
        SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               ROUND(ln(1.0 + (stats.n_docs - docfreq.df + 0.5)
                              / (docfreq.df + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)),
                     6) AS bm25
        FROM tf JOIN docfreq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, bm25, rank FROM ranked
    WHERE rank <= 3 ORDER BY doc_id, rank
"""

ORACLE["q75_cohort_retention"] = """
    WITH ev AS (
        SELECT user_id,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                    AS BIGINT) AS week
        FROM events
    ), first_seen AS (
        SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
    ), active AS (
        SELECT cohort_week, week - cohort_week AS week_offset,
               COUNT(DISTINCT user_id) AS n_active
        FROM ev JOIN first_seen USING (user_id)
        GROUP BY 1, 2
    ), cohort_size AS (
        SELECT cohort_week, COUNT(DISTINCT user_id) AS n_cohort
        FROM first_seen GROUP BY cohort_week
    )
    SELECT cohort_week, week_offset, n_active, n_cohort,
           ROUND(n_active / CAST(n_cohort AS DOUBLE), 6) AS retention
    FROM active JOIN cohort_size USING (cohort_week)
    ORDER BY cohort_week, week_offset
"""


ORACLE["q76_stream_attribution"] = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT)
               AS secs_to_purchase,
           CAST(ROUND(CAST(p.value AS DECIMAL(18,6)), 2) AS DOUBLE)
               AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ORDER BY c.user_id, click_id, purchase_id
"""


ORACLE["q78_snapshot_diff"] = (
    _MERGE_FIX_SQL
    + """
    , d_pfx AS (
        SELECT 'prefix' AS kind, COALESCE(p.path, n.path) AS path,
               CASE WHEN p.path IS NULL THEN 'added'
                    WHEN n.path IS NULL THEN 'removed'
                    WHEN n.size IS DISTINCT FROM p.size
                         OR n.mtime IS DISTINCT FROM p.mtime
                         OR n.mode IS DISTINCT FROM p.mode
                         OR n.uid IS DISTINCT FROM p.uid
                         OR n.gid IS DISTINCT FROM p.gid THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(n.size, 0) - COALESCE(p.size, 0) AS bytes_delta
        FROM prev_p p FULL JOIN staged_p n ON p.path = n.path
    ), d_file AS (
        SELECT 'file' AS kind, COALESCE(p.path, n.path) AS path,
               CASE WHEN p.path IS NULL THEN 'added'
                    WHEN n.path IS NULL THEN 'removed'
                    WHEN n.size IS DISTINCT FROM p.size
                         OR n.mtime IS DISTINCT FROM p.mtime
                         OR n.mode IS DISTINCT FROM p.mode
                         OR n.uid IS DISTINCT FROM p.uid
                         OR n.gid IS DISTINCT FROM p.gid THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(n.size, 0) - COALESCE(p.size, 0) AS bytes_delta
        FROM (SELECT * FROM prev_e WHERE NOT is_dir) p
        FULL JOIN (SELECT * FROM merged_e WHERE NOT is_dir) n
          ON p.path = n.path
    )
    SELECT kind, path, status, CAST(bytes_delta AS BIGINT) AS bytes_delta
    FROM (SELECT * FROM d_pfx UNION ALL SELECT * FROM d_file)
    WHERE status <> 'unchanged'
    ORDER BY kind, path
"""
)


ORACLE["q79_sq8_ann"] = """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), dims AS (
        SELECT i, MIN(v[i]) AS lo, MAX(v[i]) AS hi
        FROM e, generate_series(1, 64) t(i) GROUP BY i
    ), b AS (
        SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
        FROM dims
    ), enc AS (
        SELECT vec_id,
               [CAST(round(coalesce((v[i] - b.lo[i])
                                    / nullif(b.hi[i] - b.lo[i], 0), 0)
                           * 255.0, 0) AS INT)
                FOR i IN range(1, 65)] AS codes
        FROM e, b
    ), dec AS (
        SELECT vec_id,
               [b.lo[i] + codes[i]::DOUBLE / 255.0 * (b.hi[i] - b.lo[i])
                FOR i IN range(1, 65)] AS dv
        FROM enc, b
    ), q AS (SELECT dv AS qv FROM dec WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(dv, qv)
                 / (sqrt(list_dot_product(dv, dv))
                    * sqrt(list_dot_product(qv, qv))), 6) AS qcosine
    FROM dec, q
    WHERE vec_id != 0
    ORDER BY qcosine DESC, vec_id
    LIMIT 10
"""


ORACLE["q80_zorder_key"] = """
    WITH src AS (
        SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS ck,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS od
        FROM orders
    ), b AS (
        SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
               MIN(od) AS lo2, MAX(od) AS hi2
        FROM src
    ), n AS (
        SELECT o_orderkey,
               (ck - lo1) * 65535 // GREATEST(hi1 - lo1, 1) AS n1,
               (od - lo2) * 65535 // GREATEST(hi2 - lo2, 1) AS n2
        FROM src, b
    )
    SELECT o_orderkey,
           CAST(list_sum([(((n1 >> k) & 1) << (k * 2))
                          + (((n2 >> k) & 1) << (k * 2 + 1))
                          FOR k IN range(0, 16)]) AS BIGINT) AS z
    FROM n
    ORDER BY z, o_orderkey
    LIMIT 20
"""


ORACLE["q81_token_chunking"] = """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
        FROM documents
    ), starts AS (
        SELECT doc_id, len(tk) AS doc_tokens, tk,
               unnest(range(1, greatest(len(tk), 1) + 1, 15)) AS start
        FROM tok
    )
    SELECT doc_id, CAST((start - 1) // 15 AS INTEGER) AS chunk_id,
           CAST(doc_tokens AS INTEGER) AS doc_tokens,
           CAST(len(tk[start:start+19]) AS INTEGER) AS n_tokens,
           array_to_string(tk[start:start+19], ' ') AS chunk_text
    FROM starts
    WHERE len(tk[start:start+19]) > 0
    ORDER BY doc_id, chunk_id
"""


def _q82_oracle() -> str:
    from dudb_spark.pipeline.sampling import sample_hash_sql

    h = sample_hash_sql("doc_id")
    return f"""
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY {h}, doc_id) AS rk
            FROM documents
        ) WHERE rk <= 5
        ORDER BY source, doc_id
    """


ORACLE["q82_group_reservoir"] = _q82_oracle()

# q83 reads the JSON-lines sink back — it must equal the merged top-N
# restatement exactly (same contract the TSV sink meets in q66).
ORACLE["q83_report_json"] = ORACLE["q27_fs_merged_topn"]

ORACLE["q84_report_markdown"] = _FS_CONTRIB_SQL + """
    , agg AS (
        SELECT prefix,
               CAST(SUM(files) AS BIGINT) AS files,
               CAST(SUM(sub_prefixes) AS BIGINT) AS sub_prefixes,
               CAST(SUM(bytes) AS BIGINT) AS bytes,
               CAST(SUM(storage_bytes) AS BIGINT) AS storage_bytes,
               CAST(SUM(prefix_bytes) AS BIGINT) AS prefix_bytes
        FROM contrib GROUP BY prefix
    )
    SELECT 'totals' AS section, k AS row_key, v AS value FROM (
        SELECT 'files' AS k, CAST(SUM(files) AS BIGINT) AS v FROM contrib
        UNION ALL
        SELECT 'prefixes', CAST(SUM(prefixes) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'sub_prefixes', CAST(SUM(sub_prefixes) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'bytes', CAST(SUM(bytes) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'storage_bytes', CAST(SUM(storage_bytes) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'prefix_bytes', CAST(SUM(prefix_bytes) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'hardlinks', CAST(SUM(hardlinks) AS BIGINT) FROM contrib
        UNION ALL
        SELECT 'hardlink_dirs', CAST(SUM(hardlink_dirs) AS BIGINT) FROM contrib
    )
    UNION ALL
    SELECT 'top_bytes', prefix, bytes
    FROM (SELECT prefix, bytes FROM agg ORDER BY bytes DESC, prefix LIMIT 3)
    UNION ALL
    SELECT 'top_storage_bytes', prefix, storage_bytes
    FROM (SELECT prefix, storage_bytes FROM agg
          ORDER BY storage_bytes DESC, prefix LIMIT 3)
    UNION ALL
    SELECT 'top_prefix_bytes', prefix, prefix_bytes
    FROM (SELECT prefix, prefix_bytes FROM agg
          ORDER BY prefix_bytes DESC, prefix LIMIT 3)
    UNION ALL
    SELECT 'top_files', prefix, files
    FROM (SELECT prefix, files FROM agg ORDER BY files DESC, prefix LIMIT 3)
    UNION ALL
    SELECT 'top_sub_prefixes', prefix, sub_prefixes
    FROM (SELECT prefix, sub_prefixes FROM agg
          ORDER BY sub_prefixes DESC, prefix LIMIT 3)
    UNION ALL
    SELECT 'per_user', CAST(id AS VARCHAR), b FROM (
        SELECT cuid AS id, CAST(SUM(bytes) AS BIGINT) AS b FROM contrib
        WHERE cuid IS NOT NULL GROUP BY cuid ORDER BY b DESC, id LIMIT 3)
    UNION ALL
    SELECT 'per_group', CAST(id AS VARCHAR), b FROM (
        SELECT cgid AS id, CAST(SUM(bytes) AS BIGINT) AS b FROM contrib
        WHERE cgid IS NOT NULL GROUP BY cgid ORDER BY b DESC, id LIMIT 3)
    ORDER BY section, row_key
"""

# q85 shares q38's oracle verbatim: under the watermark-exact emit rule
# the stateful emissions are independent of micro-batch boundaries.
ORACLE["q85_sessions_multibatch"] = ORACLE["q38_events_sessionized"]

# q86: the BMP/WAV payloads are formulaic, so the decoded channel means
# and RMS are restated arithmetically — solid-color BMPs decode to their
# exact RGB, and the PCM mean/RMS recompute over the same sample formula.
ORACLE["q86_real_codecs"] = """
    WITH ids AS (SELECT unnest(generate_series(0, 23)) AS i),
    bmp AS (
        SELECT i AS media_id, 'bmp' AS format,
               CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
               CAST(3 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
               CAST(32 AS BIGINT) AS n_frames,
               CAST((i*7) % 256 AS DOUBLE) AS mean1,
               CAST((i*13) % 256 AS DOUBLE) AS mean2,
               CAST((i*29) % 256 AS DOUBLE) AS mean3,
               CAST(NULL AS DOUBLE) AS rms
        FROM ids WHERE i % 2 = 0
    ), wav_s AS (
        SELECT i, unnest(generate_series(0, 31)) AS j
        FROM ids WHERE i % 2 = 1
    ), wav AS (
        SELECT i AS media_id, 'wav' AS format,
               CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
               CAST(1 AS INT) AS n_channels, CAST(8000 AS INT) AS sample_rate,
               CAST(32 AS BIGINT) AS n_frames,
               ROUND(AVG(CAST((i*j*37) % 2001 - 1000 AS DOUBLE)), 6) AS mean1,
               CAST(NULL AS DOUBLE) AS mean2, CAST(NULL AS DOUBLE) AS mean3,
               ROUND(sqrt(AVG(CAST(((i*j*37) % 2001 - 1000)
                                   * ((i*j*37) % 2001 - 1000) AS DOUBLE))), 6)
                 AS rms
        FROM wav_s GROUP BY i
    )
    SELECT * FROM (SELECT * FROM bmp UNION ALL SELECT * FROM wav)
    ORDER BY media_id
"""

# q87: every counter and total re-derived from lineitem with the same
# modular churn classes the Spark staging uses (dirnum%100==7 deleted,
# ==3 modified size+7, 490–494 duplicated into added dirs).
ORACLE["q87_merge_at_scale"] = """
    WITH li AS (
        SELECT l_orderkey % 500 AS d, CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), dirs AS (SELECT DISTINCT d FROM li)
    SELECT
        CAST((SELECT COUNT(*) FROM dirs WHERE d BETWEEN 490 AND 494)
             AS BIGINT) AS prefixes_added,
        CAST((SELECT COUNT(*) FROM dirs WHERE d % 100 = 3)
             AS BIGINT) AS prefixes_changed,
        CAST((SELECT COUNT(*) FROM dirs WHERE d % 100 = 7)
             AS BIGINT) AS prefixes_deleted,
        CAST((SELECT COUNT(*) FROM dirs
              WHERE d % 100 <> 3 AND d % 100 <> 7)
             AS BIGINT) AS parent_unchanged,
        CAST((SELECT COUNT(*) FROM li WHERE d % 100 <> 7)
             + (SELECT COUNT(*) FROM li WHERE d BETWEEN 490 AND 494)
             AS BIGINT) AS files,
        CAST((SELECT SUM(CASE WHEN d % 100 = 3 THEN qty + 7 ELSE qty END)
              FROM li WHERE d % 100 <> 7)
             + (SELECT COALESCE(SUM(qty), 0) FROM li
                WHERE d BETWEEN 490 AND 494)
             AS BIGINT) AS total_bytes
"""

ORACLE["q88_semantic_dedup"] = _semantic_dedup_oracle_sql()


def _train_split_oracle_sql() -> str:
    from dudb_spark.pipeline.sampling import assign_split_sql

    case = assign_split_sql(
        "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt=7
    )
    return f"SELECT doc_id, {case} AS split FROM documents ORDER BY doc_id"


ORACLE["q89_train_split"] = _train_split_oracle_sql()

# q91: the final snapshot state after both streamed merges, re-derived
# from lineitem arithmetic (churn classes composed over the %8==0 row
# subset, whose dirnums are multiples of 4: v2 deletes %100==8, bumps
# %100==4 by +7; v3 deletes %100==12, bumps %100==16 by +3; copies of
# 488–492 (v2) and 480–484 (v3) live in the added dirs).
ORACLE["q91_streaming_ingest"] = """
    WITH li AS (
        SELECT l_orderkey % 500 AS d, CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 8 = 0
    ), dirs AS (SELECT DISTINCT d FROM li)
    SELECT
        CAST(3 AS BIGINT) AS n_versions,
        CAST((SELECT COUNT(*) FROM dirs WHERE d % 100 NOT IN (8, 12))
             + (SELECT COUNT(*) FROM dirs WHERE d BETWEEN 488 AND 492)
             + (SELECT COUNT(*) FROM dirs WHERE d BETWEEN 480 AND 484)
             AS BIGINT) AS n_dirs,
        CAST((SELECT COUNT(*) FROM li WHERE d % 100 NOT IN (8, 12))
             + (SELECT COUNT(*) FROM li WHERE d BETWEEN 488 AND 492)
             + (SELECT COUNT(*) FROM li WHERE d BETWEEN 480 AND 484)
             AS BIGINT) AS files,
        CAST((SELECT SUM(CASE WHEN d % 100 = 4 THEN qty + 7
                              WHEN d % 100 = 16 THEN qty + 3
                              ELSE qty END)
              FROM li WHERE d % 100 NOT IN (8, 12))
             + (SELECT COALESCE(SUM(qty), 0) FROM li
                WHERE d BETWEEN 488 AND 492)
             + (SELECT COALESCE(SUM(qty), 0) FROM li
                WHERE d BETWEEN 480 AND 484)
             AS BIGINT) AS total_bytes
"""

ORACLE["q90_corpus_report"] = """
    WITH base AS (
        SELECT doc_id, source, lang,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               CAST(round(q * 1000000) AS BIGINT) AS q6
        FROM (
            SELECT doc_id, source, lang, text,
                   ROUND((
                       CAST(len(list_distinct(list_filter(
                           string_split_regex(text, '\\s+'), x -> x <> '')))
                         AS DOUBLE)
                       / len(list_filter(string_split_regex(text, '\\s+'),
                                         x -> x <> ''))
                     + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         AS DOUBLE) / greatest(length(text), 1)
                     + CASE WHEN len(list_filter(
                               string_split_regex(text, '\\s+'), x -> x <> ''))
                               BETWEEN 20 AND 2000 THEN 1.0
                            WHEN len(list_filter(
                               string_split_regex(text, '\\s+'), x -> x <> ''))
                               < 20 THEN CAST(len(list_filter(
                                 string_split_regex(text, '\\s+'),
                                 x -> x <> '')) AS DOUBLE) / 20
                            ELSE 0.5 END
                   ) / 3, 6) AS q
            FROM documents
        )
    ), flagged AS (
        SELECT *, doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS is_copy
        FROM base
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(q6) AS DOUBLE) / COUNT(*) / 1000000, 6)
             AS avg_quality,
           CAST(COUNT(*) FILTER (WHERE is_copy) AS BIGINT) AS n_dup_copies
    FROM flagged
    GROUP BY source, lang
    ORDER BY source, lang
"""


# q92: the salted join must equal the PLAIN join — that is the whole
# correctness claim of salting — so the oracle is the plain join.
ORACLE["q92_salted_skew_join"] = """
    SELECT p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
"""

# q93: hash-embed + exact cosine top-k replayed end-to-end — same Horner
# token hashes (base 257 mod 2^31-1), same dim-32 signed histogram, same
# integer dot / sqrt(integer norms) ranking.
ORACLE["q93_hash_embed_topk"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
        FROM documents
    ), tkh AS (
        SELECT doc_id, [
            list_reduce(
                list_prepend(0::BIGINT,
                    [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                (a, b) -> (a*257+b) % 2147483647)
            FOR j IN range(1, len(tk)+1)] AS th
        FROM t
    ), emb AS (
        SELECT doc_id, [
            coalesce(list_sum([CASE WHEN th[j] % 32 = i
                       THEN CASE WHEN (th[j] // 32) % 2 = 0 THEN 1 ELSE -1 END
                       ELSE 0 END FOR j IN range(1, len(th)+1)]), 0)
            FOR i IN range(0, 32)] AS e
        FROM tkh
    ), norms AS (
        SELECT doc_id, e, list_sum([x*x FOR x IN e]) AS n2 FROM emb
    ), nz AS (
        SELECT * FROM norms WHERE n2 > 0
    ), pairs AS (
        SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
               CAST(list_sum([q.e[i]*d.e[i] FOR i IN range(1, 33)]) AS DOUBLE)
                 / sqrt(CAST(q.n2 * d.n2 AS DOUBLE)) AS cos
        FROM nz q JOIN nz d ON d.doc_id <> q.doc_id
        WHERE q.doc_id IN (0, 1, 2)
    ), ranked AS (
        SELECT query_id, doc_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, doc_id) AS rank
        FROM pairs
    )
    SELECT query_id, doc_id, ROUND(cos, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
"""

ORACLE["q94_skew_profile"] = """
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM counts
    )
    SELECT user_id, n_rows,
           ROUND(n_rows / CAST(total_rows AS DOUBLE), 6) AS share,
           ROUND(n_rows * n_keys / CAST(total_rows AS DOUBLE), 6) AS skew_ratio,
           CAST(CEIL(n_rows * n_keys / CAST(total_rows AS DOUBLE)) AS BIGINT)
             AS suggested_salts
    FROM counts, tot
    ORDER BY n_rows DESC, user_id
    LIMIT 10
"""


# q95: the stream–static online dedup restated as the batch split + join
ORACLE["q95_stream_corpus_dedup"] = """
    WITH cut AS (
        SELECT CAST(COUNT(*) * 4 // 5 AS BIGINT) AS c FROM documents
    ), corpus AS (
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               MIN(doc_id) AS canonical_id
        FROM documents, cut WHERE doc_id < c GROUP BY fp
    ), inc AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents, cut WHERE doc_id >= c
    )
    SELECT i.doc_id, x.canonical_id, x.canonical_id IS NULL AS is_new
    FROM inc i LEFT JOIN corpus x USING (fp)
    ORDER BY doc_id
"""


def _incremental_ivf_oracle_sql(
    n_clusters: int = 16, n_probe: int = 4, k: int = 10
) -> str:
    """DuckDB restatement of q97: quantizer (seed + decimal-exact Lloyd
    step) from the base 80% only, fixed-centroid assignment of ALL
    vectors (the incremental add path is definitionally identical to
    re-assigning everything against the same centroids), probe choice,
    and the final ranking with the newly-added query vector excluded."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), lim AS (
            SELECT (MAX(vec_id) + 1) * 4 // 5 AS cut, MAX(vec_id) AS qid
            FROM e
        ), b AS (
            SELECT e.vec_id, e.v FROM e, lim WHERE e.vec_id < lim.cut
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM b ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('b', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , q AS (
            SELECT e.v FROM e, lim WHERE e.vec_id = lim.qid
        ), probe AS (
            SELECT c1.cell FROM c1, q
            ORDER BY {cos('c1.v', 'q.v')} DESC, c1.cell ASC LIMIT {n_probe}
        )
        SELECT a1.vec_id, {cos('a1.v', 'q.v')} AS cosine
        FROM a1 JOIN probe USING (cell), q, lim
        WHERE a1.vec_id <> lim.qid
        ORDER BY cosine DESC, vec_id LIMIT {k}
    """


ORACLE["q97_incremental_ann_index"] = _incremental_ivf_oracle_sql()

def _ivf_sq8_oracle_sql(n_clusters: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """DuckDB restatement of q99: the q41 quantizer chain, the q79
    encode/decode chain, raw-query probe choice, decoded-query ranking
    over probed cells only."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , dims AS (
            SELECT i, MIN(v[i]) AS lo, MAX(v[i]) AS hi
            FROM e, generate_series(1, 64) t(i) GROUP BY i
        ), b AS (
            SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
            FROM dims
        ), enc AS (
            SELECT vec_id,
                   [CAST(round(coalesce((v[i] - b.lo[i])
                                        / nullif(b.hi[i] - b.lo[i], 0), 0)
                               * 255.0, 0) AS INT)
                    FOR i IN range(1, 65)] AS codes
            FROM e, b
        ), dec AS (
            SELECT vec_id,
                   [b.lo[i] + codes[i]::DOUBLE / 255.0 * (b.hi[i] - b.lo[i])
                    FOR i IN range(1, 65)] AS dv
            FROM enc, b
        ), qraw AS (
            SELECT v FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c1.cell FROM c1 CROSS JOIN qraw
            ORDER BY {cos('c1.v', 'qraw.v')} DESC, c1.cell ASC
            LIMIT {n_probe}
        ), qdec AS (
            SELECT dv AS qv FROM dec WHERE vec_id = 0
        )
        SELECT d.vec_id, {cos('d.dv', 'qdec.qv')} AS qcosine
        FROM dec d
        JOIN a1 ON d.vec_id = a1.vec_id
        JOIN probe ON a1.cell = probe.cell
        CROSS JOIN qdec
        WHERE d.vec_id <> 0
        ORDER BY qcosine DESC, d.vec_id
        LIMIT {k}
    """


ORACLE["q99_ivf_sq8_search"] = _ivf_sq8_oracle_sql()


# q98: same numbers as q45 — the point is the scale-safe PLAN
ORACLE["q98_scale_exact_percentiles"] = """
    SELECT l_returnflag, COUNT(*) AS n_rows,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
"""


# q100: growing-index online dedup — decisions re-derived from the
# bucket (micro-batch) arithmetic: corpus canonical wins; else a doc in
# a later bucket than its fingerprint's FIRST bucket duplicates that
# bucket's min id; else it is new (within-batch dups all pass)
ORACLE["q100_online_dedup_growing"] = """
    WITH cut AS (
        SELECT CAST(COUNT(*) * 4 // 5 AS BIGINT) AS c FROM documents
    ), dupped AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 970001, text FROM documents WHERE doc_id % 25 = 0
    ), fps AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM dupped
    ), corpus AS (
        SELECT fp, MIN(doc_id) AS canonical_id
        FROM fps, cut WHERE doc_id < c GROUP BY fp
    ), inc AS (
        SELECT doc_id, fp, doc_id % 4 AS bucket
        FROM fps, cut WHERE doc_id >= c
    ), first_batch AS (
        SELECT fp, MIN(bucket) AS b0 FROM inc GROUP BY fp
    ), batch_canon AS (
        SELECT i.fp, MIN(i.doc_id) AS bcanon
        FROM inc i JOIN first_batch f ON i.fp = f.fp AND i.bucket = f.b0
        GROUP BY i.fp
    )
    SELECT i.doc_id,
           COALESCE(c.canonical_id,
                    CASE WHEN i.bucket > f.b0 THEN bc.bcanon END)
             AS canonical_id,
           (c.canonical_id IS NULL AND i.bucket = f.b0) AS is_new
    FROM inc i
    LEFT JOIN corpus c ON i.fp = c.fp
    JOIN first_batch f ON i.fp = f.fp
    LEFT JOIN batch_canon bc ON i.fp = bc.fp
    ORDER BY i.doc_id
"""


# q96: the full cleaning composition — injection, quality, dedup window,
# decontamination, and redaction all restated over the same CTE chain
ORACLE["q96_clean_corpus"] = f"""
    WITH injected0 AS (
        SELECT doc_id, lang, source, text ||
            CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END ||
            CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-010-' ||
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.0.' || (doc_id % 256) || '.' ||
                      ((doc_id // 256) % 256)
                 ELSE '' END AS text
        FROM documents
    ), injected AS (
        SELECT * FROM injected0
        UNION ALL
        SELECT doc_id + 970000, lang, source, text
        FROM injected0 WHERE doc_id % 50 = 0
    ), toks AS (
        SELECT doc_id, lang, source, text,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
        FROM injected
    ), scored AS (
        SELECT doc_id, lang, source, text, tk,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
               ROUND((
                   CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                 + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     AS DOUBLE) / greatest(length(text), 1)
                 + CASE WHEN len(tk) BETWEEN 20 AND 2000 THEN 1.0
                        WHEN len(tk) < 20 THEN CAST(len(tk) AS DOUBLE) / 20
                        ELSE 0.5 END
               ) / 3, 6) AS q
        FROM toks WHERE doc_id % 97 <> 0
    ), canon AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical FROM scored
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(tk[i:i+4], ' ')
                   FOR i IN range(1, greatest(len(tk) - 4, 1) + 1)]) AS sg
        FROM toks
    ), ev AS (
        SELECT DISTINCT unnest(sg) AS shingle FROM sh WHERE doc_id % 97 = 0
    ), corp AS (
        SELECT doc_id, len(sg) AS n_shingles, unnest(sg) AS shingle
        FROM sh WHERE doc_id % 97 <> 0
    ), contam AS (
        SELECT doc_id,
               ROUND(COUNT(*) / CAST(n_shingles AS DOUBLE), 6) AS contamination
        FROM corp JOIN ev USING (shingle)
        GROUP BY doc_id, n_shingles
    ), kept AS (
        SELECT s.doc_id, s.lang, s.source, s.text,
               CAST(len(s.tk) AS BIGINT) AS n_tokens
        FROM canon s LEFT JOIN contam c ON s.doc_id = c.doc_id
        WHERE s.doc_id = s.canonical AND s.q >= 0.72
          AND COALESCE(c.contamination, 0) < 0.01
    )
    SELECT doc_id, lang, source, n_tokens,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
              + len(regexp_extract_all(text, '{_PII_PHONE}'))
              + len(regexp_extract_all(text, '{_PII_IPV4}')) AS INTEGER)
             AS n_pii,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IPV4}', '[IPV4]', 'g')) AS BIGINT) AS redacted_len
    FROM kept
    ORDER BY doc_id
"""


ORACLE["q101_span_dedup"] = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), tl AS (SELECT doc_id, arr, len(arr) AS L FROM toks),
    grams AS (
      SELECT doc_id, u.p, array_to_string(arr[u.p+1 : u.p+8], ' ') AS gram
      FROM tl, unnest(range(L - 7)) AS u(p) WHERE L >= 8
    ), dups AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
        FROM grams) WHERE rn > 1
    ), covered AS (
      SELECT DISTINCT doc_id, d.p + r.o AS pos
      FROM dups d, unnest(range(8)) AS r(o)
    ), pos_tok AS (
      SELECT doc_id, u.pos, arr[u.pos+1] AS tok
      FROM tl, unnest(range(L)) AS u(pos)
    ), kept AS (
      SELECT pt.doc_id, pt.pos, pt.tok
      FROM pos_tok pt ANTI JOIN covered c USING (doc_id, pos)
    )
    SELECT t.doc_id, t.L AS n_tokens,
           t.L - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.txt, '') AS dedup_text
    FROM tl t LEFT JOIN (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id) k USING (doc_id)
    ORDER BY doc_id
"""

ORACLE["q102_gopher_rules"] = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
      FROM documents
    ), m AS (
      SELECT doc_id, len(t) AS n_words,
        ROUND(CAST(list_aggregate(list_transform(t, w -> length(w)), 'sum')
              AS DOUBLE) / greatest(len(t), 1), 6) AS mean_word_len,
        ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
              AS DOUBLE) / greatest(len(t), 1), 6) AS alpha_frac,
        ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '^[#…]+$')
                                        OR contains(w, '...')))
              AS DOUBLE) / greatest(len(t), 1), 6) AS symbol_ratio,
        len(list_filter(t, w -> list_contains(
            ['the','and','of','to','a','in','is','it'], w))) AS stop_hits,
        ROUND(CAST(COALESCE(list_max(list_transform(list_distinct(t),
                   w -> len(list_filter(t, x -> x = w)))), 0)
              AS DOUBLE) / greatest(len(t), 1), 6) AS top_unigram_frac
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio,
           stop_hits, top_unigram_frac,
           (n_words BETWEEN 30 AND 100000) AS ok_words,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mean_len,
           (alpha_frac >= 0.8) AS ok_alpha,
           (symbol_ratio <= 0.1) AS ok_symbols,
           (stop_hits >= 2) AS ok_stopwords,
           (top_unigram_frac <= 0.2) AS ok_repetition,
           ((n_words BETWEEN 30 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1
            AND stop_hits >= 2 AND top_unigram_frac <= 0.2) AS passes
    FROM m ORDER BY doc_id
"""

ORACLE["q103_bm25_retrieval"] = r"""
    WITH q(query_id, qtext) AS (VALUES
        (1, 'table scan fast'), (2, 'stream window agg'),
        (3, 'customer order join'), (4, 'hash merge sort the')),
    toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> '')) AS term
      FROM documents
    ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    post AS (SELECT tf.doc_id, term, tf, dl FROM tf JOIN dl USING (doc_id)),
    qt AS (
      SELECT query_id, unnest(list_filter(string_split_regex(qtext, '\s+'),
                                          t -> t <> '')) AS term
      FROM q
    ), qterms AS (SELECT query_id, term, count(*) AS qtf FROM qt GROUP BY 1, 2),
    consts AS (
      SELECT count(DISTINCT doc_id) AS n_docs,
             CAST(SUM(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
      FROM post
    ), dfreq AS (
      SELECT term, count(*) AS df FROM post
      WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1
    ), scored AS (
      SELECT query_id, doc_id,
             ROUND(SUM(qtf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS score
      FROM post JOIN qterms USING (term) JOIN dfreq USING (term)
      CROSS JOIN consts
      GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored) WHERE rank <= 10
    ORDER BY query_id, rank
"""

ORACLE["q104_shuffled_shards"] = r"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS skey
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY skey
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT doc_id, n_tokens, cum_tokens,
           CAST(FLOOR(CAST(cum_tokens - n_tokens AS DOUBLE) / 2000)
                AS BIGINT) AS shard
    FROM c ORDER BY doc_id
"""


def _q130_oracle_sql() -> str:
    from dudb_spark.functions.config import expand_path_sql

    vals = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')"
        for i, t in enumerate(_Q130_TEMPLATES)
    )
    exp = expand_path_sql("template", _Q130_ENV, _Q130_HOME)
    return f"""
    WITH t(template_id, template) AS (VALUES {vals})
    SELECT CAST(template_id AS BIGINT) AS template_id, template,
           {exp} AS expanded
    FROM t ORDER BY template_id
"""


ORACLE["q130_config_expansion"] = _q130_oracle_sql()

ORACLE["q131_line_excision"] = f"""
    WITH b AS (
      SELECT doc_id // 5 AS page_id,
             string_agg(text, chr(10) ORDER BY doc_id) AS body
      FROM documents GROUP BY 1
    ), pages AS (
      SELECT page_id,
             '{_Q131_BOILER}' || chr(10) || body ||
             CASE WHEN page_id % 2 = 0
                  THEN chr(10) || '{_Q131_FOOTER}' ELSE '' END AS text
      FROM b
    ), pl AS (
      SELECT page_id, string_split(text, chr(10)) AS arr FROM pages
    ), l AS (
      SELECT page_id, generate_subscripts(arr, 1) AS pos,
             unnest(arr) AS line
      FROM pl
    ), f AS (
      SELECT line, count(*) AS c FROM l GROUP BY 1
    ), k AS (
      SELECT l.page_id, l.pos, l.line FROM l JOIN f USING (line)
      WHERE f.c < 3
    ), r AS (
      SELECT page_id, count(*) AS kept_n,
             string_agg(line, chr(10) ORDER BY pos) AS kept
      FROM k GROUP BY 1
    ), base AS (
      SELECT page_id, len(string_split(text, chr(10))) AS n_lines
      FROM pages
    )
    SELECT CAST(base.page_id AS BIGINT) AS page_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_lines - COALESCE(kept_n, 0) AS BIGINT) AS n_removed,
           COALESCE(kept, '') AS text
    FROM base LEFT JOIN r USING (page_id) ORDER BY page_id
"""


def _q132_oracle_sql() -> str:
    cols = ["doc_id", "lang", "source", "n_chars"]
    numeric = {"doc_id", "n_chars"}
    parts = []
    for c in cols:
        parts += [
            f"SELECT '{c}' AS \"column\", 'count' AS metric, "
            f"CAST(count({c}) AS VARCHAR) AS value FROM documents",
            f"SELECT '{c}', 'nulls', "
            f"CAST(count(*) - count({c}) AS VARCHAR) FROM documents",
            f"SELECT '{c}', 'min', CAST(min({c}) AS VARCHAR) "
            f"FROM documents",
            f"SELECT '{c}', 'max', CAST(max({c}) AS VARCHAR) "
            f"FROM documents",
            f"SELECT '{c}', 'distinct', "
            f"CAST(count(DISTINCT {c}) AS VARCHAR) FROM documents",
            f"""SELECT '{c}', 'top_' || rk || ':' || v, CAST(c2 AS VARCHAR)
             FROM (SELECT CAST({c} AS VARCHAR) AS v, count(*) AS c2,
                          row_number() OVER (ORDER BY count(*) DESC,
                                             CAST({c} AS VARCHAR)) AS rk
                   FROM documents WHERE {c} IS NOT NULL GROUP BY 1)
             WHERE rk <= 3""",
        ]
        if c in numeric:
            parts.append(
                f"SELECT '{c}', 'mean', "
                f"CAST(CAST(avg({c}) AS DECIMAL(28,6)) AS VARCHAR) "
                f"FROM documents"
            )
    return (
        " UNION ALL ".join(parts)
        + ' ORDER BY "column", metric'
    )


ORACLE["q132_table_profile"] = _q132_oracle_sql()

ORACLE["q129_budget_selection"] = r"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> list_contains(
                                      ['the','and','of','to','a','in',
                                       'is','it'], t)))
                  AS BIGINT) AS stop_hits
      FROM documents
    ), s AS (
      SELECT doc_id, n_tokens,
             CAST((stop_hits * 1000000) // greatest(n_tokens, 1)
                  AS BIGINT) AS score
      FROM d
    ), c AS (
      SELECT doc_id, n_tokens, score,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM s
    )
    SELECT doc_id, n_tokens, score, cum_tokens
    FROM c WHERE cum_tokens <= 25000 ORDER BY doc_id
"""


ORACLE["q108_span_excision"] = r"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    ref AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    tl AS (
      SELECT doc_id, arr, len(arr) AS L FROM (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           t -> t <> '') AS arr
        FROM corpus)
    ), rtl AS (
      SELECT arr, len(arr) AS L FROM (
        SELECT list_filter(string_split_regex(text, '\s+'),
                           t -> t <> '') AS arr
        FROM ref)
    ), ref_grams AS (
      SELECT DISTINCT array_to_string(arr[u.p+1 : u.p+8], ' ') AS gram
      FROM rtl, unnest(range(L - 7)) AS u(p) WHERE L >= 8
    ), grams AS (
      SELECT doc_id, u.p, array_to_string(arr[u.p+1 : u.p+8], ' ') AS gram
      FROM tl, unnest(range(L - 7)) AS u(p) WHERE L >= 8
    ), hits AS (
      SELECT doc_id, p FROM grams
      WHERE gram IN (SELECT gram FROM ref_grams)
    ), covered AS (
      SELECT DISTINCT doc_id, h.p + r.o AS pos
      FROM hits h, unnest(range(8)) AS r(o)
    ), pos_tok AS (
      SELECT doc_id, u.pos, arr[u.pos+1] AS tok
      FROM tl, unnest(range(L)) AS u(pos)
    ), kept AS (
      SELECT pt.doc_id, pt.pos, pt.tok
      FROM pos_tok pt ANTI JOIN covered c USING (doc_id, pos)
    )
    SELECT t.doc_id, t.L AS n_tokens,
           t.L - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.txt, '') AS dedup_text
    FROM tl t LEFT JOIN (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id) k USING (doc_id)
    ORDER BY doc_id
"""

def _pq_oracle_sql(
    m: int = 8, ksub: int = 16, dim: int = 64, k: int = 10
) -> str:
    """DuckDB restatement of q109: the same seed codebooks (first-ksub
    vectors, subvector slices), encode scores round(x_s·c_j − |c_j|²/2, 6)
    with smaller-code tie-break, and the ADC cosine over reconstructed
    norms.  Dot products are sequential folds in both engines
    (list_dot_product here, fixed-order sums in the Spark expressions)."""
    dsub = dim // m
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), sub AS (
            SELECT vec_id, u.s,
                   v[u.s * {dsub} + 1 : u.s * {dsub} + {dsub}] AS vs
            FROM e, unnest(range({m})) AS u(s)
        ), seed AS (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            FROM e ORDER BY vec_id LIMIT {ksub}
        ), cb AS (
            SELECT sub.s, seed.j, sub.vs,
                   list_dot_product(sub.vs, sub.vs) AS nsq
            FROM sub JOIN seed USING (vec_id)
        ), codes AS (
            SELECT vec_id, s, j AS code, nsq FROM (
                SELECT sub.vec_id, sub.s, cb.j, cb.nsq,
                       ROW_NUMBER() OVER (
                           PARTITION BY sub.vec_id, sub.s
                           ORDER BY round(list_dot_product(sub.vs, cb.vs)
                                          - cb.nsq / 2, 6) DESC,
                                    cb.j ASC) AS rn
                FROM sub JOIN cb USING (s)
            ) WHERE rn = 1
        ), qsub AS (
            SELECT s, vs AS qs FROM sub WHERE vec_id = 0
        ), qn AS (
            SELECT sqrt(list_dot_product(v, v)) AS qnorm
            FROM e WHERE vec_id = 0
        ), tabs AS (
            SELECT cb.s, cb.j, list_dot_product(qsub.qs, cb.vs) AS ip,
                   cb.nsq
            FROM cb JOIN qsub USING (s)
        ), scored AS (
            SELECT c.vec_id, SUM(t.ip) AS ipsum, SUM(t.nsq) AS nsqsum
            FROM codes c JOIN tabs t ON c.s = t.s AND c.code = t.j
            GROUP BY c.vec_id
        )
        SELECT vec_id,
               round(ipsum / (qn.qnorm * sqrt(nsqsum)), 6) AS adc_cosine
        FROM scored, qn
        WHERE vec_id <> 0
        ORDER BY adc_cosine DESC, vec_id LIMIT {k}
    """


ORACLE["q109_pq_adc_search"] = _pq_oracle_sql()
# q115 serves the SAME deterministic index from its stored form — the
# oracle restates the derivation from the source table
ORACLE["q115_stored_index_search"] = _pq_oracle_sql()


def _ivfpq_oracle_sql(
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
) -> str:
    """DuckDB restatement of q110: q41's quantizer chain (seed
    centroids, 6-decimal argmax assignment, decimal-exact Lloyd means,
    re-assignment, probe) composed with q109's PQ chain; ADC ranking
    restricted to the probed cells' members."""
    dsub = dim // m

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , qv AS (
            SELECT v FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c1.cell FROM c1, qv
            ORDER BY {cos('c1.v', 'qv.v')} DESC, c1.cell ASC
            LIMIT {n_probe}
        ), sub AS (
            SELECT vec_id, u.s,
                   v[u.s * {dsub} + 1 : u.s * {dsub} + {dsub}] AS vs
            FROM e, unnest(range({m})) AS u(s)
        ), seed AS (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            FROM e ORDER BY vec_id LIMIT {ksub}
        ), cb AS (
            SELECT sub.s, seed.j, sub.vs,
                   list_dot_product(sub.vs, sub.vs) AS nsq
            FROM sub JOIN seed USING (vec_id)
        ), codes AS (
            SELECT vec_id, s, j AS code, nsq FROM (
                SELECT sub.vec_id, sub.s, cb.j, cb.nsq,
                       ROW_NUMBER() OVER (
                           PARTITION BY sub.vec_id, sub.s
                           ORDER BY round(list_dot_product(sub.vs, cb.vs)
                                          - cb.nsq / 2, 6) DESC,
                                    cb.j ASC) AS rn
                FROM sub JOIN cb USING (s)
            ) WHERE rn = 1
        ), qsub AS (
            SELECT s, vs AS qs FROM sub WHERE vec_id = 0
        ), qn AS (
            SELECT sqrt(list_dot_product(v, v)) AS qnorm
            FROM e WHERE vec_id = 0
        ), tabs AS (
            SELECT cb.s, cb.j, list_dot_product(qsub.qs, cb.vs) AS ip,
                   cb.nsq
            FROM cb JOIN qsub USING (s)
        ), scored AS (
            SELECT c.vec_id, SUM(t.ip) AS ipsum, SUM(t.nsq) AS nsqsum
            FROM codes c JOIN tabs t ON c.s = t.s AND c.code = t.j
            GROUP BY c.vec_id
        )
        SELECT s.vec_id,
               round(s.ipsum / (qn.qnorm * sqrt(s.nsqsum)), 6) AS adc_cosine
        FROM scored s JOIN a1 USING (vec_id), qn
        WHERE a1.cell IN (SELECT cell FROM probe) AND s.vec_id <> 0
        ORDER BY adc_cosine DESC, s.vec_id LIMIT {k}
    """


ORACLE["q110_ivf_pq_search"] = _ivfpq_oracle_sql()

# q120 = q108's batch excision restricted to the streamed slice (the
# newest 20% of non-reference docs) — derived from the q108 oracle so
# the two restatements can never drift apart
ORACLE["q120_stream_excision"] = ORACLE["q108_span_excision"].replace(
    "WHERE doc_id % 97 <> 0)",
    "WHERE doc_id % 97 <> 0\n"
    "      AND doc_id >= (SELECT (4 * COUNT(*)) // 5 FROM documents))",
    1,
)
assert ORACLE["q120_stream_excision"] != ORACLE["q108_span_excision"]


def _ivfpq_residual_oracle_sql(
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
) -> str:
    """DuckDB restatement of q119: the q110 quantizer chain, then PQ
    codebooks/codes over the RESIDUALS (v - centroid[cell]) and ADC
    scoring against the reconstruction c + r̂:
    (q·c + q·r̂) / (|q| · sqrt(|c|² + 2·c·r̂ + |r̂|²))."""
    dsub = dim // m

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , qv AS (
            SELECT v FROM e WHERE vec_id = 0
        ), probe AS (
            SELECT c1.cell FROM c1, qv
            ORDER BY {cos('c1.v', 'qv.v')} DESC, c1.cell ASC
            LIMIT {n_probe}
        ), ce AS (
            SELECT cell, unnest(v) AS cx, generate_subscripts(v, 1) AS i
            FROM c1
        ), ev AS (
            SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i
            FROM e
        ), resid AS (
            SELECT a1.vec_id, a1.cell, list(ev.x - ce.cx ORDER BY ev.i) AS r
            FROM ev JOIN a1 USING (vec_id)
            JOIN ce ON ce.cell = a1.cell AND ce.i = ev.i
            GROUP BY a1.vec_id, a1.cell
        ), rsub AS (
            SELECT vec_id, cell, u.s,
                   r[u.s * {dsub} + 1 : u.s * {dsub} + {dsub}] AS vs
            FROM resid, unnest(range({m})) AS u(s)
        ), seed AS (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            FROM e ORDER BY vec_id LIMIT {ksub}
        ), cb AS (
            SELECT rsub.s, seed.j, rsub.vs,
                   list_dot_product(rsub.vs, rsub.vs) AS nsq
            FROM rsub JOIN seed USING (vec_id)
        ), codes AS (
            SELECT vec_id, s, j AS code FROM (
                SELECT rsub.vec_id, rsub.s, cb.j,
                       ROW_NUMBER() OVER (
                           PARTITION BY rsub.vec_id, rsub.s
                           ORDER BY round(list_dot_product(rsub.vs, cb.vs)
                                          - cb.nsq / 2, 6) DESC,
                                    cb.j ASC) AS rn
                FROM rsub JOIN cb USING (s)
            ) WHERE rn = 1
        ), qsubq AS (
            SELECT u.s, v[u.s * {dsub} + 1 : u.s * {dsub} + {dsub}] AS qs
            FROM qv, unnest(range({m})) AS u(s)
        ), qn AS (
            SELECT sqrt(list_dot_product(v, v)) AS qnorm
            FROM e WHERE vec_id = 0
        ), csub AS (
            SELECT cell, u.s, v[u.s * {dsub} + 1 : u.s * {dsub} + {dsub}] AS cs
            FROM c1, unnest(range({m})) AS u(s)
        ), tabs AS (
            SELECT cb.s, cb.j, list_dot_product(qsubq.qs, cb.vs) AS ip,
                   cb.nsq
            FROM cb JOIN qsubq USING (s)
        ), cd AS (
            SELECT csub.cell, cb.s, cb.j,
                   list_dot_product(csub.cs, cb.vs) AS cdot
            FROM csub JOIN cb USING (s)
        ), cc AS (
            SELECT c1.cell, list_dot_product(c1.v, qv.v) AS qc,
                   list_dot_product(c1.v, c1.v) AS cn2
            FROM c1, qv
        ), scored AS (
            SELECT c.vec_id, a1.cell,
                   SUM(t.ip) AS ipsum, SUM(t.nsq) AS nsqsum,
                   SUM(cd.cdot) AS cdsum
            FROM codes c
            JOIN a1 USING (vec_id)
            JOIN tabs t ON c.s = t.s AND c.code = t.j
            JOIN cd ON cd.cell = a1.cell AND cd.s = c.s AND cd.j = c.code
            GROUP BY c.vec_id, a1.cell
        )
        SELECT s.vec_id,
               round((cc.qc + s.ipsum)
                     / (qn.qnorm * sqrt(cc.cn2 + 2 * s.cdsum + s.nsqsum)),
                     6) AS adc_cosine
        FROM scored s JOIN cc ON cc.cell = s.cell, qn
        WHERE s.cell IN (SELECT cell FROM probe) AND s.vec_id <> 0
        ORDER BY adc_cosine DESC, s.vec_id LIMIT {k}
    """


ORACLE["q119_ivf_pq_residual"] = _ivfpq_residual_oracle_sql()

ORACLE["q114_rolling_window"] = """
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           COUNT(*) OVER w AS n_90d,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2)
                AS DOUBLE) AS rev_90d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
"""

ORACLE["q112_data_quality"] = """
    WITH b AS (
        SELECT COUNT(*) AS n,
               COUNT(l_returnflag) AS nn_comment,
               COUNT(l_shipdate) AS nn_ship,
               COUNT(*) FILTER (WHERE l_discount >= 0.0
                                AND l_discount <= 0.1) AS in_disc,
               COUNT(*) FILTER (WHERE l_quantity >= 1
                                AND l_quantity <= 50) AS in_qty
        FROM lineitem
    ), u AS (
        SELECT COUNT(*) AS d FROM (
            SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
    ), o AS (
        SELECT COUNT(*) AS orph FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT * FROM (
        SELECT 'min_rows' AS "check", CAST(n AS DOUBLE) AS metric,
               n >= 1000 AS passed FROM b
        UNION ALL
        SELECT 'completeness:l_returnflag',
               ROUND(CAST(nn_comment AS DOUBLE) / greatest(n, 1), 6),
               ROUND(CAST(nn_comment AS DOUBLE) / greatest(n, 1), 6) >= 1.0
        FROM b
        UNION ALL
        SELECT 'completeness:l_shipdate',
               ROUND(CAST(nn_ship AS DOUBLE) / greatest(n, 1), 6),
               ROUND(CAST(nn_ship AS DOUBLE) / greatest(n, 1), 6) >= 1.0
        FROM b
        UNION ALL
        SELECT 'bounds:l_discount',
               ROUND(CAST(in_disc AS DOUBLE) / greatest(n, 1), 6),
               ROUND(CAST(in_disc AS DOUBLE) / greatest(n, 1), 6) >= 1.0
        FROM b
        UNION ALL
        SELECT 'bounds:l_quantity',
               ROUND(CAST(in_qty AS DOUBLE) / greatest(n, 1), 6),
               ROUND(CAST(in_qty AS DOUBLE) / greatest(n, 1), 6) >= 1.0
        FROM b
        UNION ALL
        SELECT 'uniqueness:l_orderkey,l_linenumber',
               ROUND(CAST(u.d AS DOUBLE) / greatest(b.n, 1), 6),
               u.d = b.n FROM b, u
        UNION ALL
        SELECT 'fk:l_orderkey', CAST(o.orph AS DOUBLE), o.orph = 0 FROM o
    ) ORDER BY "check"
"""

ORACLE["q111_session_window_builtin"] = """
    WITH ev AS (
        SELECT user_id, ts,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), s AS (
        SELECT user_id, ts, cents,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      IS NULL
                    OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev
    ), s2 AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM s
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM s2 GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
"""

ORACLE["q105_vocab_coverage"] = r"""
    WITH toks AS (
      SELECT lang AS grp,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                t -> t <> '')) AS term
      FROM documents
    ), counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    vocab AS (
      SELECT term FROM counts ORDER BY cnt DESC, term LIMIT 20
    )
    SELECT grp AS lang, count(*) AS n_tokens,
           count(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab))
             AS n_oov,
           ROUND(CAST(count(*) FILTER (WHERE term NOT IN
                       (SELECT term FROM vocab)) AS DOUBLE) / count(*),
                 6) AS oov_rate
    FROM toks GROUP BY 1 ORDER BY lang
"""


def _pagerank_oracle_sql(
    pairs_sql: str, iters: int = 5, damping: float = 0.85
) -> str:
    """Unrolled power-iteration SQL twin of pipeline/graph.pagerank."""
    sql = f"""
    WITH pairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS r
           FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    r{i} AS (
      SELECT e.dst AS id,
             CAST({1 - damping} AS DOUBLE) / (SELECT n FROM nn)
             + CAST({damping} AS DOUBLE) * SUM(p.r / d.deg) AS r
      FROM edges e
      JOIN r{i - 1} p ON e.src = p.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst)"""
    return sql + f"""
    SELECT id, ROUND(r, 6) AS score FROM r{iters} ORDER BY id
"""


ORACLE["q106_pagerank"] = _pagerank_oracle_sql(
    ORACLE["q37_fingerprint_overlap"]
)


def _dsir_oracle_sql(
    n_buckets: int = 256, k: int = 50, salt: int = 13
) -> str:
    """DuckDB restatement of q143's DSIR pipeline: same Horner token
    hashes (B=257 mod 2^31-1, the q16 construction), same unigram+bigram
    bucket features, add-1 smoothing over the same bucket universe,
    round-6 log-ratios (quantized BEFORE the weight fold on both sides,
    so libm-vs-JVM last-ulp ln differences cannot accumulate), the same
    left-fold weight, and the same MINSTD-uniform Gumbel keys."""
    from dudb_spark.pipeline.sampling import sample_hash_sql

    M = (1 << 31) - 1
    B = n_buckets
    u = f"(({sample_hash_sql('doc_id', salt)}) + 1.0) / 1000001.0"
    return f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, lang, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), gb AS (
            SELECT doc_id, lang,
                   list_transform(
                       list_concat(th,
                           [ (th[i]*257 + th[i+1]) % {M}
                             FOR i IN range(1, len(th)) ]),
                       g -> g % {B}) AS gb
            FROM tkh
        ), cnt AS (
            SELECT b AS bucket, COUNT(*) AS r_cnt,
                   COUNT(*) FILTER (WHERE lang = 'en') AS t_cnt
            FROM (SELECT lang, unnest(gb) AS b FROM gb)
            GROUP BY 1
        ), tot AS (
            SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM cnt
        ), ratios AS (
            SELECT a.i AS bucket,
                   ROUND(ln((COALESCE(c.t_cnt, 0) + 1.0) / (tot.t_tot + {B}.0))
                       - ln((COALESCE(c.r_cnt, 0) + 1.0) / (tot.r_tot + {B}.0)),
                         6) AS lr
            FROM range(0, {B}) a(i) LEFT JOIN cnt c ON c.bucket = a.i, tot
        ), lrv AS (
            SELECT list(lr ORDER BY bucket) AS lr FROM ratios
        ), scored AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(0.0,
                           list_transform(gb, g -> lrv.lr[g + 1])),
                       (a, v) -> a + v) AS logw,
                   -ln(-ln({u})) AS gk
            FROM gb, lrv
        )
        SELECT doc_id, ROUND(logw, 6) AS log_weight,
               ROUND(logw + gk, 6) AS score
        FROM scored ORDER BY score DESC, doc_id LIMIT {k}
    """


ORACLE["q143_dsir_select"] = _dsir_oracle_sql()


def _knn_label_noise_oracle_sql(n_clusters: int = 16, k: int = 5) -> str:
    """DuckDB restatement of q144: the q41/q88 quantizer chain (seed
    centroids, 6-decimal argmax, decimal-exact Lloyd means,
    re-assignment), then same-cell kNN by rounded cosine, neighbor
    majority vote (ties → smaller label) and the noise flag."""

    def cos(a, b):
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    def argmax(src, cents, out):
        return f"""
        {out} AS (
            SELECT vec_id, v, cell FROM (
                SELECT s.vec_id, s.v, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id
                           ORDER BY {cos('s.v', 'c.v')} DESC, c.cell ASC) AS rn
                FROM {src} s CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        ), c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v
            FROM e ORDER BY vec_id LIMIT {n_clusters}
        ), {argmax('e', 'c0', 'a0')}
        , m AS (
            SELECT cell, i,
                   CAST(SUM(CAST(x AS DECIMAL(27,18))) AS DOUBLE)
                     / COUNT(*) AS mu
            FROM (SELECT cell, unnest(v) AS x,
                         generate_subscripts(v, 1) AS i FROM a0)
            GROUP BY cell, i
        ), c1g AS (
            SELECT cell AS orig_cell, list(mu ORDER BY i) AS v
            FROM m GROUP BY cell
        ), c1 AS (
            SELECT DENSE_RANK() OVER (ORDER BY orig_cell) - 1 AS cell, v
            FROM c1g
        ), {argmax('e', 'c1', 'a1')}
        , pairs AS (
            SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                   {cos('x.v', 'y.v')} AS cs
            FROM a1 x JOIN a1 y
              ON x.cell = y.cell AND x.vec_id <> y.vec_id
        ), knn AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       ROW_NUMBER() OVER (PARTITION BY id_a
                           ORDER BY cs DESC, id_b ASC) AS rn
                FROM pairs) WHERE rn <= {k}
        ), nb AS (
            SELECT n.id_a, le.label AS nb_label, lo.label AS own_label
            FROM knn n
            JOIN e le ON n.id_b = le.vec_id
            JOIN e lo ON n.id_a = lo.vec_id
        ), votes AS (
            SELECT id_a, nb_label, COUNT(*) AS n FROM nb GROUP BY 1, 2
        ), maj AS (
            SELECT id_a, nb_label AS maj_label, n AS maj_n FROM (
                SELECT id_a, nb_label, n,
                       ROW_NUMBER() OVER (PARTITION BY id_a
                           ORDER BY n DESC, nb_label ASC) AS rk
                FROM votes) WHERE rk = 1
        ), agree AS (
            SELECT id_a, COUNT(*) AS n_neighbors,
                   COUNT(*) FILTER (WHERE nb_label = own_label) AS n_agree
            FROM nb GROUP BY 1
        )
        SELECT e.vec_id, e.label,
               COALESCE(g.n_neighbors, 0) AS n_neighbors,
               COALESCE(g.n_agree, 0) AS n_agree,
               m.maj_label, m.maj_n,
               COALESCE(m.maj_label <> e.label, FALSE) AS noise_candidate
        FROM e
        LEFT JOIN maj m ON e.vec_id = m.id_a
        LEFT JOIN agree g ON e.vec_id = g.id_a
        ORDER BY e.vec_id
    """


ORACLE["q144_knn_label_noise"] = _knn_label_noise_oracle_sql()


def _corpus_drift_oracle_sql(n_buckets: int = 256) -> str:
    """DuckDB restatement of q145: same Horner token hashes and
    unigram+bigram buckets as q143, add-1 smoothing over the full
    group×bucket grid, per-term integer-nano quantization, exact long
    sums, round-6 divergences."""
    M = (1 << 31) - 1
    B = n_buckets
    return f"""
        WITH t AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, source, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), gbl AS (
            SELECT doc_id, source,
                   list_transform(
                       list_concat(th,
                           [ (th[i]*257 + th[i+1]) % {M}
                             FOR i IN range(1, len(th)) ]),
                       g -> g % {B}) AS gb
            FROM tkh
        ), ex AS (
            SELECT source AS grp, unnest(gb) AS bucket FROM gbl
        ), counts AS (
            SELECT grp, bucket, COUNT(*) AS c FROM ex GROUP BY 1, 2
        ), g_tot AS (
            SELECT grp, CAST(SUM(c) AS BIGINT) AS gt FROM counts GROUP BY 1
        ), ref AS (
            SELECT bucket, CAST(SUM(c) AS BIGINT) AS rc FROM counts GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(rc) AS BIGINT) AS rt FROM ref
        ), grid AS (
            SELECT g.grp, g.gt, b.i AS bucket
            FROM g_tot g CROSS JOIN range(0, {B}) b(i)
        ), fullg AS (
            SELECT grid.grp, grid.gt,
                   (COALESCE(c.c, 0) + 1.0) / (grid.gt + {B}.0) AS pg,
                   (COALESCE(r.rc, 0) + 1.0) / (tot.rt + {B}.0) AS pr
            FROM grid
            LEFT JOIN counts c ON c.grp = grid.grp AND c.bucket = grid.bucket
            LEFT JOIN ref r ON r.bucket = grid.bucket, tot
        ), terms AS (
            SELECT grp, gt,
                   CAST(ROUND(pg * ln(pg / pr) * 1e9) AS BIGINT) AS kl_n,
                   CAST(ROUND(abs(pg - pr) * 1e9) AS BIGINT) AS tv_n
            FROM fullg
        ), drift AS (
            SELECT grp, gt,
                   ROUND(SUM(kl_n) / 1e9, 6) AS kl,
                   ROUND(SUM(tv_n) / 2e9, 6) AS tvd
            FROM terms GROUP BY 1, 2
        ), nd AS (
            SELECT source AS grp, COUNT(*) AS n_docs FROM documents GROUP BY 1
        )
        SELECT nd.grp AS source, nd.n_docs,
               COALESCE(d.gt, 0) AS n_grams,
               COALESCE(d.kl, 0.0) AS kl,
               COALESCE(d.tvd, 0.0) AS tvd
        FROM nd LEFT JOIN drift d ON nd.grp = d.grp
        ORDER BY source
    """


ORACLE["q145_corpus_drift"] = _corpus_drift_oracle_sql()


def _hll_cardinality_oracle_sql(p: int = 8) -> str:
    """DuckDB restatement of q146: same Horner token hashes, same
    integer-comparison rho ladder, same register max / harmonic sum /
    correction branches (pipeline/sketch.hll_sql_cte), alongside the
    exact distinct for the relative error."""
    from dudb_spark.pipeline.sketch import hll_sql_cte

    M = (1 << 31) - 1
    cte = hll_sql_cte("SELECT source AS g, h FROM ex", "g", "h", p=p)
    return f"""
        WITH t AS (
            SELECT source,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT source, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), ex AS (
            SELECT source, unnest(th) AS h FROM tkh
        ),
        {cte},
        exact AS (
            SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_distinct
            FROM ex GROUP BY source
        )
        SELECT e.source, hll.est_distinct, e.exact_distinct,
               ROUND((hll.est_distinct - e.exact_distinct)
                     / e.exact_distinct, 6) AS rel_err
        FROM exact e JOIN hll ON hll.grp = e.source
        ORDER BY e.source
    """


ORACLE["q146_hll_cardinality"] = _hll_cardinality_oracle_sql()


def _leakage_free_split_oracle_sql() -> str:
    """DuckDB restatement of q147: q44's recursive-CTE components, every
    document's representative = COALESCE(cluster id, own id), then the
    identical MINSTD split CASE on the representative."""
    from dudb_spark.pipeline.sampling import assign_split_sql

    case = assign_split_sql(
        "rep_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt=11
    )
    return (
        _cc_cte()
        + f"""
        , rep AS (
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
        )
        SELECT doc_id, rep_id, {case} AS split FROM rep ORDER BY doc_id
    """
    )


ORACLE["q147_leakage_free_split"] = _leakage_free_split_oracle_sql()


def _hard_negatives_oracle_sql(k: int = 5) -> str:
    """DuckDB restatement of q148: q103's BM25 restatement with the
    query set drawn from the corpus itself, minus the query doc and its
    whole component (q44's recursive CTE) before ranking."""
    qids = ", ".join(str(q) for q in _HARDNEG_QIDS)
    return (
        _cc_cte()
        + rf"""
        , q AS (
            SELECT doc_id AS query_id, text AS qtext FROM documents
            WHERE doc_id IN ({qids})
        ), toks AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                              t -> t <> '')) AS term
            FROM documents
        ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        post AS (SELECT tf.doc_id, term, tf, dl FROM tf JOIN dl USING (doc_id)),
        qt AS (
            SELECT query_id, unnest(list_filter(string_split_regex(qtext, '\s+'),
                                                t -> t <> '')) AS term
            FROM q
        ), qterms AS (
            SELECT query_id, term, count(*) AS qtf FROM qt GROUP BY 1, 2
        ), consts AS (
            SELECT count(DISTINCT doc_id) AS n_docs,
                   CAST(SUM(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
            FROM post
        ), dfreq AS (
            SELECT term, count(*) AS df FROM post
            WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1
        ), scored AS (
            SELECT query_id, doc_id,
                   ROUND(SUM(qtf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                             * (tf * 2.2)
                             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                         6) AS score
            FROM post JOIN qterms USING (term) JOIN dfreq USING (term)
            CROSS JOIN consts
            GROUP BY 1, 2
        ), excl AS (
            SELECT query_id, query_id AS doc_id FROM q
            UNION
            SELECT qc.doc_id AS query_id, c2.doc_id
            FROM comp qc JOIN comp c2 ON qc.cluster_id = c2.cluster_id
            WHERE qc.doc_id IN ({qids})
        ), kept AS (
            SELECT s.* FROM scored s
            WHERE NOT EXISTS (
                SELECT 1 FROM excl e
                WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id)
        )
        SELECT query_id, rank, doc_id, score FROM (
            SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank
            FROM kept) WHERE rank <= {k}
        ORDER BY query_id, rank
    """
    )


ORACLE["q148_hard_negatives"] = _hard_negatives_oracle_sql()


def _stream_distinct_sketch_oracle_sql(p: int = 8) -> str:
    """DuckDB restatement of q149: the same per-hour registers the
    stream maintains, re-derived batch-side — streamed register merge
    must equal the batch fold exactly."""
    from dudb_spark.pipeline.sketch import hll_sql_cte

    M = (1 << 31) - 1
    cte = hll_sql_cte("SELECT hour AS g, h FROM ev", "g", "h", p=p)
    return f"""
        WITH ev AS (
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS hour,
                   user_id,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           [ord(s[i])::BIGINT FOR i IN range(1, len(s)+1)]),
                       (a, b) -> (a*257+b) % {M}) AS h
            FROM (SELECT ts, user_id, CAST(user_id AS VARCHAR) AS s
                  FROM events)
        ),
        {cte},
        exact AS (
            SELECT hour, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                     AS exact_users
            FROM ev GROUP BY hour
        )
        SELECT e.hour, hll.est_distinct AS est_users, e.exact_users
        FROM exact e JOIN hll ON hll.grp = e.hour
        ORDER BY e.hour
    """


ORACLE["q149_stream_distinct_sketch"] = _stream_distinct_sketch_oracle_sql()


def _stream_freq_sketch_oracle_sql(d: int = 4, w: int = 64) -> str:
    """DuckDB restatement of q155: the same per-hour cells the stream
    maintains, re-derived batch-side, min-over-rows estimates per
    (hour, event_type)."""
    from dudb_spark.pipeline.sketch import _CMS_A, _CMS_B, _CMS_M

    M = (1 << 31) - 1
    probe_sel = " UNION ALL ".join(
        f"SELECT hour, {j} AS j, "
        f"CAST(((h * {_CMS_A[j]} + {_CMS_B[j]}) % {_CMS_M}) % {w} AS INT)"
        f" AS bucket FROM ev"
        for j in range(d)
    )
    lookups = ", ".join(
        f"(SELECT COALESCE(MAX(cnt), 0) FROM cells c WHERE "
        f"c.hour = cand.hour AND c.j = {j} AND c.bucket = "
        f"CAST(((cand.h * {_CMS_A[j]} + {_CMS_B[j]}) % {_CMS_M}) % {w} "
        f"AS INT))"
        for j in range(d)
    )
    return f"""
        WITH ev AS (
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           [ord(event_type[i])::BIGINT
                            FOR i IN range(1, len(event_type)+1)]),
                       (a, b) -> (a*257+b) % {M}) AS h
            FROM events
        ), probes AS ({probe_sel}),
        cells AS (
            SELECT hour, j, bucket, COUNT(*) AS cnt
            FROM probes GROUP BY hour, j, bucket
        ),
        cand AS (
            SELECT hour, event_type, h, COUNT(*) AS exact_count
            FROM ev GROUP BY hour, event_type, h
        )
        SELECT hour, event_type,
               CAST(exact_count AS BIGINT) AS exact_count,
               CAST(least({lookups}) AS BIGINT) AS est_count
        FROM cand
        ORDER BY hour, event_type
    """


def _cms_heavy_hitters_oracle_sql(d: int = 4, w: int = 1024) -> str:
    """DuckDB restatement of q150: per-term Horner hashes, the same d×w
    cell build, min-over-rows estimates, top-20 by exact count."""
    from dudb_spark.pipeline.sketch import cms_estimate_sql, cms_sql_cte

    M = (1 << 31) - 1
    cte = cms_sql_cte("SELECT h FROM occ", "h", d=d, w=w)
    est = cms_estimate_sql("h", d=d, w=w)
    return f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS term
            FROM documents
        ), occ AS (
            SELECT term,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           [ord(term[i])::BIGINT
                            FOR i IN range(1, len(term)+1)]),
                       (a, b) -> (a*257+b) % {M}) AS h
            FROM toks
        ),
        {cte},
        cand AS (
            SELECT term, h, COUNT(*) AS exact_count
            FROM occ GROUP BY term, h
        )
        SELECT term,
               CAST(exact_count AS BIGINT) AS exact_count,
               CAST({est} AS BIGINT) AS est_count,
               CAST({est} - exact_count AS BIGINT) AS overest
        FROM cand
        ORDER BY exact_count DESC, term LIMIT 20
    """


ORACLE["q150_cms_heavy_hitters"] = _cms_heavy_hitters_oracle_sql()
ORACLE["q152_cms_meanmin"] = _cms_meanmin_oracle_sql()
ORACLE["q153_hist_quantiles"] = _hist_quantiles_oracle_sql()
ORACLE["q154_bloom_decontam"] = _bloom_decontam_oracle_sql()
ORACLE["q155_stream_freq_sketch"] = _stream_freq_sketch_oracle_sql()

ORACLE["q156_props_json"] = """
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
             AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLE["q157_bigram_lm_score"] = """
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), pairs AS (
        -- parallel unnests zip: t[i] with t[i+1]; empty when len(t) < 2
        SELECT doc_id, lang,
               unnest(t[1:len(t) - 1]) AS w1,
               unnest(t[2:len(t)]) AS w2
        FROM toks
    ), tf AS (
        SELECT doc_id, lang, w1, w2, COUNT(*) AS tf
        FROM pairs GROUP BY 1, 2, 3, 4
    ), model AS (
        SELECT w1, w2, SUM(tf) AS c12 FROM tf
        WHERE lang = 'en' GROUP BY 1, 2
    ), ctx AS (
        SELECT w1, SUM(c12) AS c1 FROM model GROUP BY 1
    ), vocab AS (
        SELECT COUNT(*) AS v FROM ctx
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
           ROUND(SUM(tf.tf * ln(
               CAST(COALESCE(model.c12, 0) + 1 AS DOUBLE)
               / CAST(COALESCE(ctx.c1, 0) + vocab.v AS DOUBLE)
           )) / SUM(tf.tf), 6) AS mean_lp
    FROM tf
    LEFT JOIN model ON tf.w1 = model.w1 AND tf.w2 = model.w2
    LEFT JOIN ctx ON tf.w1 = ctx.w1
    CROSS JOIN vocab
    GROUP BY tf.doc_id
    ORDER BY tf.doc_id
"""


def _stratified_budget_oracle_sql() -> str:
    from dudb_spark.pipeline.sampling import (
        largest_remainder_quotas_sql,
        sample_hash_sql,
    )

    cte = largest_remainder_quotas_sql("documents", "source", 137)
    h = sample_hash_sql("d.doc_id", 7)
    return f"""
        WITH {cte},
        picked AS (
            SELECT d.source, d.doc_id, q.quota, q.n_rows,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source ORDER BY {h}, d.doc_id
                   ) AS rn
            FROM documents d JOIN quotas q ON d.source = q.stratum
        )
        SELECT source,
               CAST(MAX(n_rows) AS BIGINT) AS n_docs,
               CAST(MAX(quota) AS BIGINT) AS quota,
               COUNT(*) AS n_sel,
               CAST(SUM(doc_id) AS BIGINT) AS sum_sel_ids
        FROM picked WHERE rn <= quota
        GROUP BY source ORDER BY source
    """


ORACLE["q158_stratified_budget"] = _stratified_budget_oracle_sql()

ORACLE["q159_rolling_anomaly"] = """
    WITH q AS (
        SELECT event_id, user_id, ts, value,
               CAST(ROUND(value * 100) AS BIGINT) AS qv
        FROM events WHERE value IS NOT NULL
    ), wn AS (
        SELECT event_id, user_id, value, qv,
               COUNT(*) OVER w AS n_prior,
               CAST(SUM(qv) OVER w AS BIGINT) AS s,
               CAST(SUM(qv * qv) OVER w AS BIGINT) AS ss
        FROM q
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS id, user_id AS key, value, n_prior,
           CAST(n_prior * qv - s AS BIGINT) AS dev_n,
           CAST(n_prior * ss - s * s AS BIGINT) AS var_n
    FROM wn
    WHERE n_prior >= 6
      AND (n_prior * qv - s) * (n_prior * qv - s)
            > 9 * (n_prior * ss - s * s)
    ORDER BY id
"""

ORACLE["q161_stream_anomaly"] = ORACLE["q159_rolling_anomaly"]


def _temperature_mixture_oracle_sql() -> str:
    from dudb_spark.pipeline.sampling import (
        sample_hash_sql,
        temperature_quotas_sql,
    )

    cte = temperature_quotas_sql("documents", "source", 137)
    h = sample_hash_sql("d.doc_id", 11)
    return f"""
        WITH {cte},
        picked AS (
            SELECT d.source, d.doc_id, q.quota, q.capped, q.n_rows,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.source ORDER BY {h}, d.doc_id
                   ) AS rn
            FROM documents d JOIN quotas q ON d.source = q.stratum
        )
        SELECT source,
               CAST(MAX(n_rows) AS BIGINT) AS n_docs,
               CAST(MAX(quota) AS BIGINT) AS quota,
               CAST(MAX(capped) AS BIGINT) AS capped,
               COUNT(*) AS n_sel,
               CAST(SUM(doc_id) AS BIGINT) AS sum_sel_ids
        FROM picked WHERE rn <= capped
        GROUP BY source ORDER BY source
    """


ORACLE["q162_temperature_mixture"] = _temperature_mixture_oracle_sql()


def _kmv_set_overlap_oracle_sql(k: int = 64) -> str:
    """DuckDB restatement of q163: same Horner token hashes, same
    dense_rank-≤-k KMV fold (kmv_sql_cte), same per-pair θ = least of
    the two thetas, same θ-filtered union/intersection/difference
    counts scaled by space/θ, exact intersection alongside."""
    from dudb_spark.pipeline.sketch import _POLY_M, kmv_sql_cte

    M = (1 << 31) - 1
    cte = kmv_sql_cte("SELECT source AS g, h FROM ex", "g", "h", k=k)
    space_d = f"CAST({_POLY_M} AS DOUBLE)"
    return f"""
        WITH t AS (
            SELECT source,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT source, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), ex AS (
            SELECT source, unnest(th) AS h FROM tkh
        ),
        {cte},
        kth AS (
            SELECT grp, COUNT(*) AS n_sample,
                   CASE WHEN COUNT(*) < {k} THEN {_POLY_M}
                        ELSE MAX(h) END AS theta
            FROM kmin GROUP BY grp
        ),
        prs AS (
            SELECT a.grp AS src_a, b.grp AS src_b,
                   least(a.theta, b.theta) AS theta
            FROM kth a JOIN kth b ON a.grp < b.grp
        ),
        mm AS (
            SELECT p.src_a, p.src_b, p.theta, m.h,
                   MAX(CASE WHEN m.grp = p.src_a THEN 1 ELSE 0 END) AS ia,
                   MAX(CASE WHEN m.grp = p.src_b THEN 1 ELSE 0 END) AS ib
            FROM prs p
            JOIN kmin m ON m.grp = p.src_a OR m.grp = p.src_b
            WHERE m.h < p.theta
            GROUP BY 1, 2, 3, 4
        ),
        agg AS (
            SELECT src_a, src_b, theta,
                   COUNT(*) AS cu,
                   SUM(ia * ib) AS ci,
                   SUM(ia * (1 - ib)) AS cda
            FROM mm GROUP BY 1, 2, 3
        ),
        exact AS (
            SELECT da.source AS src_a, db.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS exact_intersection
            FROM (SELECT DISTINCT source, h FROM ex) da
            JOIN (SELECT DISTINCT source, h FROM ex) db
              ON da.h = db.h AND da.source < db.source
            GROUP BY 1, 2
        )
        SELECT p.src_a, p.src_b,
               ea.est_distinct AS est_a, eb.est_distinct AS est_b,
               COALESCE(ROUND(CAST(g.cu AS DOUBLE) * {space_d}
                              / CAST(g.theta AS DOUBLE), 4), 0.0)
                   AS est_union,
               COALESCE(ROUND(CAST(g.ci AS DOUBLE) * {space_d}
                              / CAST(g.theta AS DOUBLE), 4), 0.0)
                   AS est_intersection,
               COALESCE(ROUND(CAST(g.cda AS DOUBLE) * {space_d}
                              / CAST(g.theta AS DOUBLE), 4), 0.0)
                   AS est_diff_ab,
               COALESCE(e.exact_intersection, 0) AS exact_intersection
        FROM prs p
        JOIN kest ea ON ea.grp = p.src_a
        JOIN kest eb ON eb.grp = p.src_b
        LEFT JOIN agg g ON g.src_a = p.src_a AND g.src_b = p.src_b
        LEFT JOIN exact e
          ON e.src_a = p.src_a AND e.src_b = p.src_b
        ORDER BY p.src_a, p.src_b
    """


ORACLE["q163_kmv_set_overlap"] = _kmv_set_overlap_oracle_sql()


def _weighted_sample_oracle_sql() -> str:
    """DuckDB restatement of q164: identical MINSTD uniform, identical
    ln(u)/w key, identical per-lang ranked cut (ties by doc_id)."""
    from dudb_spark.pipeline.sampling import aes_key_sql

    key = aes_key_sql("doc_id", "n_chars", salt=13)
    return f"""
        SELECT doc_id, lang, source, n_chars
        FROM (
            SELECT doc_id, lang, source, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {key} DESC, doc_id
                   ) AS rn
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        WHERE rn <= 30
        ORDER BY doc_id
    """


ORACLE["q164_weighted_sample"] = _weighted_sample_oracle_sql()


def _stream_window_quantiles_oracle_sql() -> str:
    """DuckDB restatement of q165: the same per-hour histogram cells
    the stream maintains, re-derived batch-side (identical centi-unit
    quantization + int64 binning), then the identical rank /
    interpolation quantile read — streamed cell merge must equal the
    batch fold exactly."""
    from dudb_spark.pipeline.sketch import hist_quantiles_sql_cte

    cte = hist_quantiles_sql_cte(
        "SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), "
        "'%Y-%m-%d %H:%M:%S') AS hour, "
        "CAST(round(value * 100) AS BIGINT) AS centi FROM events",
        "hour", "centi", [0.5, 0.95, 0.99],
        lo=0, hi=51_200, n_bins=64,
    )
    return f"""
        WITH {cte},
        n AS (
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS hour,
                   COUNT(*) AS n_events
            FROM events WHERE value IS NOT NULL GROUP BY 1
        )
        SELECT hq.grp AS hour, hq.q, hq.est AS est_centi,
               ROUND(hq.est / 100.0, 4) AS est_value, n.n_events
        FROM hq JOIN n ON n.hour = hq.grp
        ORDER BY hour, q
    """


ORACLE["q165_stream_window_quantiles"] = _stream_window_quantiles_oracle_sql()


def _incremental_dedup_oracle_sql(
    num_perm: int = 32, bands: int = 8, shingle_k: int = 3, seed: int = 42
) -> str:
    """DuckDB restatement of q166: the q16 MinHash CTEs (same Horner
    hashes, permutations, band folds) with the corpus split into
    new/old shards, the bucket cap applied to the HISTORY side only
    (exactly as incremental_verified_pairs caps the index), the
    new×old band join, and exact-Jaccard verification."""
    import random

    M = (1 << 31) - 1
    r = num_perm // bands
    rnd = random.Random(seed)
    coeff_cap = min(1 << 30, M)
    perms = [(rnd.randrange(1, coeff_cap), rnd.randrange(0, coeff_cap))
             for _ in range(num_perm)]
    sig_exprs = ", ".join(
        f"list_aggregate(list_transform(hs, h -> ({a}*h+{b}) % {M}), 'min')"
        for a, b in perms
    )
    bucket_exprs = ", ".join(
        f"list_reduce(list_prepend(0::BIGINT, sig[{b * r + 1}:{b * r + r}]),"
        f" (a, v) -> (a*257+v) % {M})"
        for b in range(bands)
    )
    band_ids = ", ".join(str(b) for b in range(bands))
    matches = (
        f"len([i FOR i IN range(1, {num_perm + 1}) "
        "IF a.sig[i] = b.sig[i]])"
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), hsx AS (
            SELECT doc_id, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+{shingle_k - 1}]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-{shingle_k - 1}, 1) + 1)]) AS hs
            FROM tkh
        ), sigs AS (
            SELECT doc_id, [{sig_exprs}] AS sig FROM hsx
        ), banded AS (
            SELECT doc_id, sig,
                   unnest([{band_ids}]) AS band,
                   unnest([{bucket_exprs}]) AS bucket
            FROM sigs
        ), oldb AS (
            SELECT * FROM banded WHERE doc_id % 3 <> 0
        ), newb AS (
            SELECT * FROM banded WHERE doc_id % 3 = 0
        ), sizes AS (
            SELECT band, bucket, COUNT(*) AS _n FROM oldb GROUP BY band, bucket
        ), capped AS (
            SELECT o.* FROM oldb o JOIN sizes USING (band, bucket)
            WHERE _n <= 1000
        ), cand AS (
            SELECT * FROM (
                SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id,
                       ROUND({matches} / {float(num_perm)}, 6) AS est_jaccard
                FROM newb a JOIN capped b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id <> b.doc_id
            ) WHERE est_jaccard >= 0.5
        )
        SELECT c.new_id, c.old_id, c.est_jaccard,
               ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
                     / len(list_distinct(sa.hs || sb.hs)), 6) AS jaccard
        FROM cand c JOIN hsx sa ON c.new_id = sa.doc_id
                    JOIN hsx sb ON c.old_id = sb.doc_id
        WHERE ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
              / len(list_distinct(sa.hs || sb.hs)), 6) >= 0.3
        ORDER BY new_id, old_id
    """


ORACLE["q166_incremental_dedup"] = _incremental_dedup_oracle_sql()


def _weighted_mass_sample_oracle_sql() -> str:
    """DuckDB restatement of q167: identical integer mass quotas
    (weighted_mass_quotas_sql) and the identical per-source A-ES
    ranked cut."""
    from dudb_spark.pipeline.sampling import (
        aes_key_sql,
        weighted_mass_quotas_sql,
    )

    cte = weighted_mass_quotas_sql(
        "(SELECT * FROM documents)", "source", "n_chars", 137
    )
    key = aes_key_sql("doc_id", "n_chars", salt=17)
    return f"""
        WITH {cte}
        SELECT doc_id, source, n_chars, quota, capped, rn
        FROM (
            SELECT p.doc_id, p.source, p.n_chars,
                   CAST(q.quota AS BIGINT) AS quota,
                   CAST(q.capped AS BIGINT) AS capped,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.source
                       ORDER BY {key} DESC, p.doc_id
                   ) AS rn
            FROM wpos p JOIN quotas q ON q.stratum = p.source
        )
        WHERE rn <= capped
        ORDER BY doc_id
    """


ORACLE["q167_weighted_mass_sample"] = _weighted_mass_sample_oracle_sql()


def _exact_similarity_join_oracle_sql(
    threshold: float = 0.6, shingle_k: int = 3
) -> str:
    """DuckDB restatement of q168: same Horner shingle hashes, same
    df·2³¹+h global order, same integer prefix length and integer
    threshold verify."""
    M = (1 << 31) - 1
    tn = int(-(-threshold * 1_000_000 // 1))
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), hsx AS (
            SELECT doc_id, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+{shingle_k - 1}]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-{shingle_k - 1}, 1) + 1)]) AS hs
            FROM tkh
        ), ex AS (
            SELECT doc_id, unnest(hs) AS h FROM hsx
        ), freq AS (
            SELECT h, COUNT(*) AS dfq FROM ex GROUP BY h
        ), keyed AS (
            SELECT e.doc_id, f.dfq * {1 << 31} + e.h AS k
            FROM ex e JOIN freq f USING (h)
        ), sets AS (
            SELECT doc_id, list_sort(list(k)) AS ks
            FROM keyed GROUP BY doc_id
        ), pref AS (
            SELECT doc_id,
                   unnest(ks[1:greatest(
                       len(ks) - (len(ks) * {tn} + 999999) // 1000000 + 1,
                       0)]) AS k
            FROM sets
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM pref a JOIN pref b
              ON a.k = b.k AND a.doc_id < b.doc_id
        )
        SELECT c.id_a, c.id_b,
               ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
                     / len(list_distinct(sa.hs || sb.hs)), 6) AS jaccard
        FROM cand c JOIN hsx sa ON c.id_a = sa.doc_id
                    JOIN hsx sb ON c.id_b = sb.doc_id
        WHERE len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) * 1000000
              >= {tn} * len(list_distinct(sa.hs || sb.hs))
        ORDER BY id_a, id_b
    """


ORACLE["q168_exact_similarity_join"] = _exact_similarity_join_oracle_sql()


def _containment_join_oracle_sql(
    threshold: float = 0.5, shingle_k: int = 3
) -> str:
    """DuckDB restatement of q181: q168's hash/frequency/order
    machinery with the ASYMMETRIC prefix (A-prefix ⋈ B-all) and the
    containment verify |∩|·1e6 ≥ tn·|A|."""
    M = (1 << 31) - 1
    tn = int(-(-threshold * 1_000_000 // 1))
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT doc_id, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), hsx AS (
            SELECT doc_id, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+{shingle_k - 1}]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-{shingle_k - 1}, 1) + 1)]) AS hs
            FROM tkh
        ), ex AS (
            SELECT doc_id, unnest(hs) AS h FROM hsx
        ), freq AS (
            SELECT h, COUNT(*) AS dfq FROM ex GROUP BY h
        ), keyed AS (
            SELECT e.doc_id, f.dfq * {1 << 31} + e.h AS k
            FROM ex e JOIN freq f USING (h)
        ), sets AS (
            SELECT doc_id, list_sort(list(k)) AS ks
            FROM keyed GROUP BY doc_id
        ), pref AS (
            SELECT doc_id,
                   unnest(ks[1:greatest(
                       len(ks) - (len(ks) * {tn} + 999999) // 1000000 + 1,
                       0)]) AS k
            FROM sets
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM pref a JOIN keyed b
              ON a.k = b.k AND a.doc_id <> b.doc_id
        )
        SELECT c.id_a, c.id_b,
               ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
                     / len(sa.hs), 6) AS containment
        FROM cand c JOIN hsx sa ON c.id_a = sa.doc_id
                    JOIN hsx sb ON c.id_b = sb.doc_id
        WHERE len(sa.hs) > 0
          AND len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) * 1000000
              >= {tn} * len(sa.hs)
        ORDER BY id_a, id_b
    """


ORACLE["q181_containment_join"] = _containment_join_oracle_sql()

def _shingle_hash_block(src: str, suffix: str, shingle_k: int = 3) -> str:
    """The Horner token-hash → distinct shingle-hash CTE pair over a
    (doc_id, tk) source CTE — q168's machinery, reusable per corpus."""
    M = (1 << 31) - 1
    return f"""
        tkh{suffix} AS (
            SELECT doc_id, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM {src}
        ), hsx{suffix} AS (
            SELECT doc_id, list_distinct([
                list_reduce(list_prepend(0::BIGINT, th[i:i+{shingle_k - 1}]),
                            (a, v) -> (a*257+v) % {M})
                FOR i IN range(1, greatest(len(th)-{shingle_k - 1}, 1) + 1)]) AS hs
            FROM tkh{suffix}
        )"""


def _cross_containment_oracle_sql(
    threshold: float = 0.8, shingle_k: int = 3
) -> str:
    """DuckDB restatement of q183: benchmark snippets (12-token
    prefixes of every 20th doc) vs the full corpus, union-frequency
    rarest-first order, asymmetric prefix, integer containment
    verify."""
    tn = int(-(-threshold * 1_000_000 // 1))
    return f"""
        WITH tr AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), bm AS (
            SELECT doc_id, tk[1:12] AS tk FROM tr WHERE doc_id % 20 = 0
        ), {_shingle_hash_block('tr', '_b', shingle_k)},
        {_shingle_hash_block('bm', '_a', shingle_k)},
        ex_a AS (SELECT doc_id, unnest(hs) AS h FROM hsx_a),
        ex_b AS (SELECT doc_id, unnest(hs) AS h FROM hsx_b),
        freq AS (
            SELECT h, COUNT(*) AS dfq FROM (
                SELECT * FROM ex_a UNION ALL SELECT * FROM ex_b)
            GROUP BY h
        ), keyed_b AS (
            SELECT e.doc_id, f.dfq * {1 << 31} + e.h AS k
            FROM ex_b e JOIN freq f USING (h)
        ), sets_a AS (
            SELECT e.doc_id, list_sort(list(f.dfq * {1 << 31} + e.h)) AS ks
            FROM ex_a e JOIN freq f USING (h) GROUP BY e.doc_id
        ), pref AS (
            SELECT doc_id,
                   unnest(ks[1:greatest(
                       len(ks) - (len(ks) * {tn} + 999999) // 1000000 + 1,
                       0)]) AS k
            FROM sets_a
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM pref a JOIN keyed_b b ON a.k = b.k
        )
        SELECT c.id_a, c.id_b,
               ROUND(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))::DOUBLE
                     / len(sa.hs), 6) AS containment
        FROM cand c JOIN hsx_a sa ON c.id_a = sa.doc_id
                    JOIN hsx_b sb ON c.id_b = sb.doc_id
        WHERE len(sa.hs) > 0
          AND len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) * 1000000
              >= {tn} * len(sa.hs)
        ORDER BY id_a, id_b
    """


ORACLE["q183_cross_containment"] = _cross_containment_oracle_sql()

# q185 streams the identical semantics; the streamed==batch equality
# IS the certification, so it shares q184's oracle verbatim
ORACLE["q184_transition_matrix"] = ORACLE["q185_stream_transitions"] = """
    WITH steps AS (
        SELECT event_type AS from_label,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_label
        FROM events
    ), cnt AS (
        SELECT from_label, to_label, COUNT(*) AS n_transitions
        FROM steps WHERE to_label IS NOT NULL
        GROUP BY 1, 2
    ), tot AS (
        SELECT from_label, CAST(SUM(n_transitions) AS BIGINT) AS t
        FROM cnt GROUP BY 1
    )
    SELECT c.from_label, c.to_label, c.n_transitions,
           ROUND(CAST(c.n_transitions AS DOUBLE) / t.t, 9) AS prob
    FROM cnt c JOIN tot t USING (from_label)
    ORDER BY from_label, to_label
"""

ORACLE["q193_scd2_history"] = """
    WITH v1 AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
    ), v2 AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 17 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, concat('new_', c_name), c_acctbal
        FROM customer WHERE c_custkey % 13 = 0
    ), j AS (
        SELECT v1.c_custkey AS k1, v2.c_custkey AS k2,
               v1.c_name AS n1, v2.c_name AS n2,
               v1.c_acctbal AS a1, v2.c_acctbal AS a2,
               (v1.c_name IS NOT DISTINCT FROM v2.c_name
                AND v1.c_acctbal IS NOT DISTINCT FROM v2.c_acctbal)
                   AS same
        FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
    )
    SELECT k1 AS c_custkey, n1 AS c_name, a1 AS c_acctbal,
           CAST(0 AS BIGINT) AS valid_from,
           CAST(NULL AS BIGINT) AS valid_to
    FROM j WHERE k1 IS NOT NULL AND k2 IS NOT NULL AND same
    UNION ALL
    SELECT k1, n1, a1, CAST(0 AS BIGINT),
           CAST(1 AS BIGINT)
    FROM j WHERE k1 IS NOT NULL AND (k2 IS NULL OR NOT same)
    UNION ALL
    SELECT k2, n2, a2, CAST(1 AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM j WHERE k2 IS NOT NULL AND (k1 IS NULL OR NOT same)
    ORDER BY c_custkey, valid_from
"""

ORACLE["q200_curation_pipeline"] = r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, replace(text, ' ', '  ') AS text
        FROM documents WHERE doc_id % 25 = 0
    ), tk AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           t -> t <> '') AS tok
        FROM corpus
    ), bl AS (
        SELECT doc_id, text, tok,
               len(tok) AS n_tokens,
               len(list_filter(tok, t -> list_contains(
                   ['big', 'hash', 'merge', 'slow'], lower(t))))
                   AS n_hits
        FROM tk
    ), surv AS (
        SELECT doc_id, text, tok FROM bl
        WHERE (CASE WHEN n_tokens > 0
                    THEN ROUND(CAST(n_hits AS DOUBLE) / n_tokens, 9)
                    ELSE 0.0 END) <= 0.08
          AND n_hits <= 10
    ), m AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                   AS fp,
               len(tok) AS n_tokens,
               CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok)
                   AS ttr,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS DOUBLE) / greatest(length(text), 1) AS alpha,
               CASE WHEN len(tok) BETWEEN 20 AND 2000 THEN 1.0
                    WHEN len(tok) < 20
                        THEN CAST(len(tok) AS DOUBLE) / 20
                    ELSE 0.5 END AS len_band
        FROM surv
    ), scored AS (
        SELECT doc_id AS id, fp,
               CAST(ROUND(ROUND((ttr + alpha + len_band) / 3, 6)
                          * 1000000) AS BIGINT) AS q_micro
        FROM m
    ), win AS (
        SELECT id AS canonical_id, fp FROM (
            SELECT id, fp, ROW_NUMBER() OVER (
                PARTITION BY fp ORDER BY q_micro DESC, id) AS rn
            FROM scored) WHERE rn = 1
    )
    SELECT s.id AS doc_id, s.q_micro
    FROM scored s JOIN win w ON w.fp = s.fp AND w.canonical_id = s.id
    ORDER BY doc_id
"""

ORACLE["q199_volume_trend"] = """
    WITH daily AS (
        SELECT event_type AS key,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS x,
               COUNT(*) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), s AS (
        SELECT key, COUNT(*) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM daily GROUP BY 1
    )
    SELECT key AS event_type, n_days,
           CASE WHEN (CAST(n_days AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx) <> 0
                THEN ROUND((CAST(n_days AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n_days AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx), 9)
           END AS slope,
           CASE WHEN (CAST(n_days AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx) <> 0
                THEN ROUND((CAST(sy AS DOUBLE)
                            - ((CAST(n_days AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)
                               / (CAST(n_days AS DOUBLE) * sxx
                                  - CAST(sx AS DOUBLE) * sx)) * sx)
                           / CAST(n_days AS DOUBLE), 9)
           END AS intercept,
           CASE WHEN (CAST(n_days AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx) <> 0
                 AND (CAST(n_days AS DOUBLE) * syy
                      - CAST(sy AS DOUBLE) * sy) <> 0
                THEN ROUND(((CAST(n_days AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * sy)
                            * (CAST(n_days AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) * sy))
                           / ((CAST(n_days AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n_days AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)), 9)
           END AS r2
    FROM s
    ORDER BY event_type
"""

ORACLE["q198_rank_blend"] = r"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), sig AS (
        SELECT doc_id,
               ROUND((CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                      + CAST(length(regexp_replace(
                            text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1)
                      + CASE WHEN len(t) BETWEEN 20 AND 2000 THEN 1.0
                             WHEN len(t) < 20
                                 THEN CAST(len(t) AS DOUBLE) / 20
                             ELSE 0.5 END) / 3, 6) AS quality,
               len(t) AS n_tokens
        FROM base
    ), s2 AS (
        SELECT * FROM sig
        WHERE quality IS NOT NULL AND n_tokens IS NOT NULL
    ), n AS (SELECT COUNT(*) AS n FROM s2),
    cq AS (
        SELECT v, SUM(c) OVER (ORDER BY v) - c AS sm FROM (
            SELECT quality AS v, COUNT(*) AS c FROM s2 GROUP BY 1)
    ), ct AS (
        SELECT v, SUM(c) OVER (ORDER BY v) - c AS sm FROM (
            SELECT n_tokens AS v, COUNT(*) AS c FROM s2 GROUP BY 1)
    )
    SELECT s.doc_id,
           ROUND(CASE WHEN n.n > 1
                      THEN CAST(cq.sm AS DOUBLE) / (n.n - 1)
                      ELSE 0.0 END, 9) AS quality_pct,
           ROUND(CASE WHEN n.n > 1
                      THEN CAST(ct.sm AS DOUBLE) / (n.n - 1)
                      ELSE 0.0 END, 9) AS n_tokens_pct,
           ROUND((CASE WHEN n.n > 1
                       THEN CAST(cq.sm AS DOUBLE) / (n.n - 1)
                       ELSE 0.0 END * 2.0
                  + CASE WHEN n.n > 1
                         THEN CAST(ct.sm AS DOUBLE) / (n.n - 1)
                         ELSE 0.0 END * 1.0) / 3.0, 9) AS blended
    FROM s2 s JOIN cq ON cq.v = s.quality
              JOIN ct ON ct.v = s.n_tokens
    CROSS JOIN n
    ORDER BY s.doc_id
"""

ORACLE["q197_part_basket_lift"] = """
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ), nk AS (
        SELECT COUNT(DISTINCT k) AS nk FROM basket
    ), singles AS (
        SELECT p, COUNT(*) AS n FROM basket GROUP BY 1
    ), pairs AS (
        SELECT a.p AS label_a, b.p AS label_b, COUNT(*) AS n_both
        FROM basket a JOIN basket b ON a.k = b.k AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.label_a, p.label_b, p.n_both,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(p.n_both AS DOUBLE) / nk.nk, 9) AS support,
           ROUND((CAST(p.n_both AS DOUBLE) * nk.nk)
                 / (CAST(sa.n AS DOUBLE) * sb.n), 9) AS lift
    FROM pairs p
    JOIN singles sa ON sa.p = p.label_a
    JOIN singles sb ON sb.p = p.label_b
    CROSS JOIN nk
    ORDER BY label_a, label_b
"""

ORACLE["q196_activation_latency"] = """
    WITH fa AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t_from_us
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), fb AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_to_us
        FROM events e JOIN fa ON fa.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) >= fa.t_from_us
        GROUP BY 1
    )
    SELECT fa.user_id, fa.t_from_us, fb.t_to_us,
           (fb.t_to_us - fa.t_from_us) // 1000000 AS latency_s
    FROM fa LEFT JOIN fb ON fb.user_id = fa.user_id
    ORDER BY fa.user_id
"""

ORACLE["q195_weighted_quantiles"] = """
    WITH vals AS (
        SELECT l_returnflag AS g,
               CAST(l_extendedprice AS DOUBLE) AS v,
               CAST(l_quantity AS DOUBLE) AS w,
               l_orderkey * 10 + l_linenumber AS id
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_quantity > 0
    ), cum AS (
        SELECT g, v, w,
               SUM(w) OVER (PARTITION BY g ORDER BY v, id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw
        FROM vals
    ), totals AS (
        SELECT g, COUNT(*) AS n_rows, MAX(cw) AS total_weight
        FROM cum GROUP BY 1
    ), q25 AS (
        SELECT c.g, MIN(c.v) AS wq25 FROM cum c JOIN totals t USING (g)
        WHERE c.cw >= 0.25 * t.total_weight GROUP BY 1
    ), q50 AS (
        SELECT c.g, MIN(c.v) AS wq50 FROM cum c JOIN totals t USING (g)
        WHERE c.cw >= 0.5 * t.total_weight GROUP BY 1
    ), q90 AS (
        SELECT c.g, MIN(c.v) AS wq90 FROM cum c JOIN totals t USING (g)
        WHERE c.cw >= 0.9 * t.total_weight GROUP BY 1
    )
    SELECT t.g AS l_returnflag, t.n_rows, t.total_weight,
           q25.wq25, q50.wq50, q90.wq90
    FROM totals t JOIN q25 USING (g) JOIN q50 USING (g)
                  JOIN q90 USING (g)
    ORDER BY l_returnflag
"""

# q194's oracle IS the v2 snapshot — apply-then-as-of must be the
# identity on the snapshot (the SCD2 round-trip theorem)
ORACLE["q194_scd2_time_travel"] = """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
                ELSE c_acctbal END AS c_acctbal
    FROM customer WHERE c_custkey % 17 <> 0
    UNION ALL
    SELECT c_custkey + 1000000, concat('new_', c_name), c_acctbal
    FROM customer WHERE c_custkey % 13 = 0
    ORDER BY c_custkey
"""

ORACLE["q192_rolling_active"] = """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS k FROM events
    ), contrib AS (
        SELECT DISTINCT d + CAST(t.x AS INTEGER) AS day, k
        FROM du, LATERAL (SELECT unnest(generate_series(0, 6)) AS x) t
    ), wau AS (
        SELECT day, COUNT(*) AS wau FROM contrib GROUP BY 1
    ), dau AS (
        SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY 1
    )
    SELECT day, dau, wau,
           ROUND(CAST(dau AS DOUBLE) / wau, 9) AS stickiness
    FROM dau JOIN wau USING (day)
    ORDER BY day
"""

ORACLE["q191_canonical_keep"] = r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, replace(text, ' ', '  ') AS text
        FROM documents WHERE doc_id % 25 = 0
    ), base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS t
        FROM corpus
    ), m AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                   AS fp,
               len(t) AS n_tokens,
               CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS DOUBLE) / greatest(length(text), 1) AS alpha,
               CASE WHEN len(t) BETWEEN 20 AND 2000 THEN 1.0
                    WHEN len(t) < 20 THEN CAST(len(t) AS DOUBLE) / 20
                    ELSE 0.5 END AS len_band
        FROM base
    ), scored AS (
        SELECT doc_id AS id, fp,
               CAST(ROUND(ROUND((ttr + alpha + len_band) / 3, 6)
                          * 1000000) AS BIGINT) AS q_micro
        FROM m
    ), win AS (
        SELECT id AS canonical_id, fp FROM (
            SELECT id, fp, ROW_NUMBER() OVER (
                PARTITION BY fp ORDER BY q_micro DESC, id) AS rn
            FROM scored) WHERE rn = 1
    )
    SELECT s.id, w.canonical_id, s.q_micro,
           s.id = w.canonical_id AS kept
    FROM scored s JOIN win w ON w.fp = s.fp
    ORDER BY s.id
"""

ORACLE["q190_cooccurrence_lift"] = """
    WITH basket AS (
        SELECT DISTINCT user_id, event_type FROM events
    ), nk AS (
        SELECT COUNT(DISTINCT user_id) AS nk FROM basket
    ), singles AS (
        SELECT event_type, COUNT(*) AS n FROM basket GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS label_a, b.event_type AS label_b,
               COUNT(*) AS n_both
        FROM basket a JOIN basket b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.label_a, p.label_b, p.n_both,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(p.n_both AS DOUBLE) / nk.nk, 9) AS support,
           ROUND((CAST(p.n_both AS DOUBLE) * nk.nk)
                 / (CAST(sa.n AS DOUBLE) * sb.n), 9) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.label_a
    JOIN singles sb ON sb.event_type = p.label_b
    CROSS JOIN nk
    ORDER BY label_a, label_b
"""

ORACLE["q189_fd_violations"] = """
    SELECT o_custkey, COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderpriority) AS n_rhs
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(DISTINCT o_orderpriority) > 1
    ORDER BY o_custkey
"""

ORACLE["q187_frame_energy"] = """
    WITH ids AS (SELECT unnest(generate_series(0, 23)) AS i),
    t AS (SELECT i, unnest(generate_series(0, 383)) AS t FROM ids),
    s AS (
        SELECT i AS media_id, t // 64 AS frame_id,
               CASE WHEN ((t // 64) + i) % 3 = 0 THEN 0
                    ELSE ((i * 31 + t * 7) % 2048) - 1024 END AS v
        FROM t
    ), agg AS (
        SELECT media_id, CAST(frame_id AS INT) AS frame_id,
               COUNT(*) AS n, CAST(SUM(v * v) AS BIGINT) AS sumsq
        FROM s GROUP BY 1, 2
    )
    SELECT media_id, frame_id, CAST(n AS INT) AS n_samples, sumsq,
           ROUND(SQRT(CAST(sumsq AS DOUBLE) / n), 6) AS rms,
           sumsq <= 0 AS silent
    FROM agg
    ORDER BY media_id, frame_id
"""

ORACLE["q186_embedding_dim_stats"] = """
    WITH base AS (
        SELECT t.i - 1 AS dim,
               CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1048576.0)
                    AS BIGINT) AS q
        FROM embeddings, LATERAL (
            SELECT unnest(generate_series(1, len(embedding))) AS i) t
        WHERE embedding IS NOT NULL
    ), agg AS (
        SELECT dim, COUNT(*) AS n,
               CAST(SUM(q) AS BIGINT) AS s,
               CAST(SUM(q * q) AS BIGINT) AS ss,
               MIN(q) AS mn, MAX(q) AS mx
        FROM base GROUP BY 1
    )
    SELECT dim, n,
           ROUND((CAST(s AS DOUBLE) / n) / 1048576.0, 9) AS mean,
           ROUND(SQRT(GREATEST(
               CAST(ss AS DOUBLE) / n
               - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
               0.0)) / 1048576.0, 9) AS std,
           mn / 1048576.0 AS vmin,
           mx / 1048576.0 AS vmax
    FROM agg
    ORDER BY dim
"""

ORACLE["q182_robust_outliers"] = """
    WITH v AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, COUNT(*) AS n_rows,
               quantile_cont(v, 0.5) AS med
        FROM v GROUP BY 1
    ), mad AS (
        SELECT v.event_type, quantile_cont(abs(v.v - m.med), 0.5) AS mad
        FROM v JOIN med m USING (event_type) GROUP BY 1
    ), cnt AS (
        SELECT v.event_type,
               COUNT(CASE WHEN abs(v.v - m.med) > 3.0 * d.mad
                          THEN 1 END) AS n_outliers
        FROM v JOIN med m USING (event_type)
               JOIN mad d USING (event_type)
        GROUP BY 1
    )
    SELECT m.event_type, m.n_rows,
           ROUND(m.med, 6) AS med, ROUND(d.mad, 6) AS mad,
           c.n_outliers,
           c.n_outliers * 1000000 // m.n_rows AS outlier_ppm
    FROM med m JOIN mad d USING (event_type) JOIN cnt c USING (event_type)
    ORDER BY event_type
"""


def _stream_weighted_reservoir_oracle_sql(n: int = 15, salt: int = 21) -> str:
    """DuckDB restatement of q169: the BATCH A-ES top-n per event type
    — streamed reservoir merges must reproduce it exactly."""
    from dudb_spark.pipeline.sampling import aes_key_sql

    key = aes_key_sql("event_id", "value", salt=salt)
    return f"""
        SELECT event_type, event_id, ROUND(value, 6) AS value
        FROM (
            SELECT event_type, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY {key} DESC, event_id
                   ) AS rn
            FROM events
            WHERE value IS NOT NULL AND value > 0
        )
        WHERE rn <= {n}
        ORDER BY event_type, event_id
    """


ORACLE["q169_stream_weighted_reservoir"] = \
    _stream_weighted_reservoir_oracle_sql()


def _kmv_rollup_oracle_sql(k: int = 64) -> str:
    """DuckDB restatement of q170 — every grain computed DIRECTLY from
    the base token hashes (no rollup): equality with the Spark side's
    re-ranked sketches certifies the union-of-k-minima property
    cross-engine."""
    from dudb_spark.pipeline.sketch import kmv_sql_cte

    M = (1 << 31) - 1
    f = kmv_sql_cte("SELECT source || '|' || lang AS g, h FROM ex",
                    "g", "h", k=k, prefix="f")
    m = kmv_sql_cte("SELECT source AS g, h FROM ex", "g", "h", k=k,
                    prefix="m")
    t = kmv_sql_cte("SELECT 'all' AS g, h FROM ex", "g", "h", k=k,
                    prefix="t")
    return f"""
        WITH t0 AS (
            SELECT source, lang,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT source, lang, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t0
        ), ex AS (
            SELECT source, lang, unnest(th) AS h FROM tkh
        ),
        {f},
        {m},
        {t}
        SELECT 'source_lang' AS grain,
               string_split(grp, '|')[1] AS source,
               string_split(grp, '|')[2] AS lang,
               n_sample, est_distinct
        FROM fest
        UNION ALL
        SELECT 'source' AS grain, grp AS source, NULL AS lang,
               n_sample, est_distinct
        FROM mest
        UNION ALL
        SELECT 'all' AS grain, NULL AS source, NULL AS lang,
               n_sample, est_distinct
        FROM test
        ORDER BY grain, source, lang
    """


ORACLE["q170_kmv_rollup"] = _kmv_rollup_oracle_sql()


def _stream_neardup_oracle_sql() -> str:
    """DuckDB restatement of q171: the q166 CTE chain stopped at the
    candidate stage (streamed per-row signatures must equal the batch
    aggregate signatures, so the deduped stream sink == batch cand)."""
    whole = _incremental_dedup_oracle_sql()
    head, _, _ = whole.rpartition("        SELECT c.new_id")
    return head + """
        SELECT new_id, old_id, est_jaccard
        FROM cand
        ORDER BY new_id, old_id
    """


ORACLE["q171_stream_neardup_flagging"] = _stream_neardup_oracle_sql()

ORACLE["q173_entropy_quality"] = """
    WITH csym AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ''),
                                  x -> x <> '')) AS sym
        FROM documents
    ), cc AS (
        SELECT doc_id, sym, COUNT(*) AS c FROM csym GROUP BY 1, 2
    ), ct AS (
        SELECT doc_id, SUM(c) AS n FROM cc GROUP BY 1
    ), cterm AS (
        SELECT cc.doc_id,
               CAST(ROUND(1e9 * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)))
                    AS BIGINT) AS tn
        FROM cc JOIN ct ON cc.doc_id = ct.doc_id
    ), cent AS (
        SELECT doc_id, ROUND(SUM(tn) / 1e9, 6) AS char_entropy
        FROM cterm GROUP BY 1
    ), tsym AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS sym
        FROM documents
    ), tc AS (
        SELECT doc_id, sym, COUNT(*) AS c FROM tsym GROUP BY 1, 2
    ), tt AS (
        SELECT doc_id, SUM(c) AS n FROM tc GROUP BY 1
    ), tterm AS (
        SELECT tc.doc_id,
               CAST(ROUND(1e9 * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)))
                    AS BIGINT) AS tn
        FROM tc JOIN tt ON tc.doc_id = tt.doc_id
    ), tent AS (
        SELECT doc_id, ROUND(SUM(tn) / 1e9, 6) AS token_entropy
        FROM tterm GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(length(d.text), 0) AS n_chars,
           COALESCE(c.char_entropy, 0.0) AS char_entropy,
           COALESCE(t.token_entropy, 0.0) AS token_entropy
    FROM documents d
    LEFT JOIN cent c ON c.doc_id = d.doc_id
    LEFT JOIN tent t ON t.doc_id = d.doc_id
    ORDER BY d.doc_id
"""

ORACLE["q172_triangle_census"] = """
    WITH slots AS (
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS hr
        FROM events
    ), e AS (
        SELECT src, dst FROM (
            SELECT a.user_id AS src, b.user_id AS dst, COUNT(*) AS sh
            FROM slots a
            JOIN slots b ON a.event_type = b.event_type
                        AND a.hr = b.hr AND a.user_id < b.user_id
            GROUP BY 1, 2
        ) WHERE sh >= 4
    ), deg AS (
        SELECT id, COUNT(*) AS degree FROM (
            SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e
        ) GROUP BY 1
    ), o AS (
        SELECT CASE WHEN (da.degree < db.degree)
                      OR (da.degree = db.degree AND e.src < e.dst)
                    THEN e.src ELSE e.dst END AS u,
               CASE WHEN (da.degree < db.degree)
                      OR (da.degree = db.degree AND e.src < e.dst)
                    THEN e.dst ELSE e.src END AS v,
               CASE WHEN (da.degree < db.degree)
                      OR (da.degree = db.degree AND e.src < e.dst)
                    THEN db.degree ELSE da.degree END AS degv
        FROM e JOIN deg da ON da.id = e.src
               JOIN deg db ON db.id = e.dst
    ), w AS (
        SELECT e1.u, e1.v, e2.v AS w
        FROM o e1 JOIN o e2 ON e1.u = e2.u
        WHERE (e1.degv < e2.degv)
           OR (e1.degv = e2.degv AND e1.v < e2.v)
    ), tri AS (
        SELECT w.u, w.v, w.w FROM w
        JOIN o ON o.u = w.v AND o.v = w.w
    ), corners AS (
        SELECT id, COUNT(*) AS n_tri FROM (
            SELECT u AS id FROM tri
            UNION ALL SELECT v AS id FROM tri
            UNION ALL SELECT w AS id FROM tri
        ) GROUP BY 1
    )
    SELECT d.id AS user_id, d.degree,
           COALESCE(c.n_tri, 0) AS n_tri,
           CASE WHEN d.degree >= 2 THEN
               ROUND(CAST(COALESCE(c.n_tri, 0) * 2 AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
           ELSE 0.0 END AS clustering
    FROM deg d LEFT JOIN corners c ON c.id = d.id
    ORDER BY user_id
"""

ORACLE["q160_event_islands"] = """
    WITH marked AS (
        SELECT user_id AS key, event_type AS label, event_id AS id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id)
                 AS island
        FROM events
    )
    SELECT key, label, COUNT(*) AS run_len,
           MIN(id) AS min_id, MAX(id) AS max_id
    FROM marked
    GROUP BY key, label, island
    HAVING COUNT(*) >= 3
    ORDER BY key, min_id
"""


def _sketch_source_overlap_oracle_sql(p: int = 8) -> str:
    """DuckDB restatement of q151: per-source sketch (prefix 'p'),
    pair-union sketch over the concatenated pair key (prefix 'u'),
    inclusion–exclusion, exact intersection alongside."""
    from dudb_spark.pipeline.sketch import hll_sql_cte

    M = (1 << 31) - 1
    per = hll_sql_cte("SELECT source AS g, h FROM ex", "g", "h", p=p,
                      prefix="p")
    uni = hll_sql_cte("SELECT pk AS g, h FROM uext", "g", "h", p=p,
                      prefix="u")
    return f"""
        WITH t AS (
            SELECT source,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ), tkh AS (
            SELECT source, [
                list_reduce(
                    list_prepend(0::BIGINT,
                        [ord(tk[j][i])::BIGINT FOR i IN range(1, len(tk[j])+1)]),
                    (a, b) -> (a*257+b) % {M})
                FOR j IN range(1, len(tk)+1)] AS th
            FROM t
        ), ex AS (
            SELECT source, unnest(th) AS h FROM tkh
        ),
        {per},
        prs AS (
            SELECT a.grp AS src_a, b.grp AS src_b
            FROM (SELECT DISTINCT grp FROM pll) a
            JOIN (SELECT DISTINCT grp FROM pll) b ON a.grp < b.grp
        ),
        uext AS (
            SELECT prs.src_a || '|' || prs.src_b AS pk, ex.h
            FROM prs JOIN ex
              ON ex.source = prs.src_a OR ex.source = prs.src_b
        ),
        {uni},
        exact AS (
            SELECT da.source AS src_a, db.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS exact_intersection
            FROM (SELECT DISTINCT source, h FROM ex) da
            JOIN (SELECT DISTINCT source, h FROM ex) db
              ON da.h = db.h AND da.source < db.source
            GROUP BY 1, 2
        )
        SELECT prs.src_a, prs.src_b,
               ROUND(pa.est_distinct + pb.est_distinct - u.est_distinct, 4)
                 AS est_intersection,
               COALESCE(e.exact_intersection, 0) AS exact_intersection
        FROM prs
        JOIN pll pa ON pa.grp = prs.src_a
        JOIN pll pb ON pb.grp = prs.src_b
        JOIN ull u ON u.grp = prs.src_a || '|' || prs.src_b
        LEFT JOIN exact e
          ON e.src_a = prs.src_a AND e.src_b = prs.src_b
        ORDER BY prs.src_a, prs.src_b
    """


ORACLE["q151_sketch_source_overlap"] = _sketch_source_overlap_oracle_sql()

ORACLE["q107_decayed_activity"] = """
    WITH tref AS (SELECT max(ts) AS tmax FROM events)
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(exp(-(CAST(epoch_us(tmax) - epoch_us(ts) AS DOUBLE)
                           / 86400000000.0))), 6) AS decayed_score
    FROM events, tref
    GROUP BY user_id ORDER BY user_id
"""

ORACLE["q174_rrf_hybrid_fusion"] = r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> '')) AS term
      FROM documents
    ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    post AS (SELECT tf.doc_id, term, tf, dl FROM tf JOIN dl USING (doc_id)),
    qsrc AS (
      SELECT doc_id AS query_id,
             array_to_string(
               list_slice(list_filter(string_split_regex(text, '\s+'),
                                      t -> t <> ''), 1, 12), ' ') AS qtext
      FROM documents WHERE doc_id < 4
    ), qt AS (
      SELECT query_id, unnest(list_filter(string_split_regex(qtext, '\s+'),
                                          t -> t <> '')) AS term
      FROM qsrc
    ), qterms AS (SELECT query_id, term, count(*) AS qtf FROM qt GROUP BY 1, 2),
    consts AS (
      SELECT count(DISTINCT doc_id) AS n_docs,
             CAST(SUM(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
      FROM post
    ), dfreq AS (
      SELECT term, count(*) AS df FROM post
      WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1
    ), scored AS (
      SELECT query_id, doc_id,
             ROUND(SUM(qtf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS score
      FROM post JOIN qterms USING (term) JOIN dfreq USING (term)
      CROSS JOIN consts
      GROUP BY 1, 2
    ), sparse AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM scored WHERE doc_id != query_id) WHERE rank <= 20
    ), dense AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(c.embedding::DOUBLE[],
                                           q.embedding::DOUBLE[])
                          / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                                   c.embedding::DOUBLE[]))
                             * sqrt(list_dot_product(q.embedding::DOUBLE[],
                                                     q.embedding::DOUBLE[])))
                          DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 4) WHERE rank <= 20
    ), u AS (
      SELECT query_id, doc_id, 'bm25' AS l, rank FROM sparse
      UNION ALL
      SELECT query_id, doc_id, 'cos', rank FROM dense
    ), fused AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(ROUND(1e9 / (60.0 + rank)) AS BIGINT))
                  AS BIGINT) AS rrf_nano,
             MAX(CASE WHEN l = 'bm25' THEN rank END) AS bm25_rank,
             MAX(CASE WHEN l = 'cos' THEN rank END) AS cos_rank
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id, rrf_nano, bm25_rank, cos_rank FROM (
      SELECT query_id, doc_id, rrf_nano, bm25_rank, cos_rank,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_nano DESC, doc_id) AS rank
      FROM fused)
    WHERE rank <= 10
    ORDER BY query_id, rank
"""

# Co-activity edge CTE shared by the q175/q176 oracles (threshold 3).
# MATERIALIZED is load-bearing: each round's CTE is referenced 2-3
# times, and inlining would re-expand the whole prefix exponentially.
_COACTIVITY_CTE = """
    slots AS (SELECT DISTINCT user_id, event_type,
                     date_trunc('hour', ts) AS hr FROM events),
    e AS MATERIALIZED (SELECT src, dst FROM (
        SELECT a.user_id AS src, b.user_id AS dst, COUNT(*) AS sh
        FROM slots a JOIN slots b
          ON a.event_type = b.event_type AND a.hr = b.hr
         AND a.user_id < b.user_id
        GROUP BY 1, 2) WHERE sh >= 3)"""


def _lpa_cte_parts(rounds: int = 4) -> list[str]:
    """The unrolled synchronous LPA rounds as CTE fragments — per
    round, neighbor-label counts then argmax as ROW_NUMBER ordered
    (count DESC, label), i.e. highest count, ties to the smallest
    label — exactly min(struct(-c, label)).  Shared by the q175 and
    q177 oracles."""
    parts = [_COACTIVITY_CTE, """
    adj AS MATERIALIZED (SELECT src AS id, dst AS nb FROM e
            UNION ALL SELECT dst AS id, src AS nb FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT id, id AS label FROM adj)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    l{r} AS MATERIALIZED (SELECT id, label FROM (
        SELECT id, label, ROW_NUMBER() OVER (
            PARTITION BY id ORDER BY c DESC, label) AS rn
        FROM (SELECT a.id, l.label, COUNT(*) AS c
              FROM adj a JOIN l{r - 1} l ON l.id = a.nb
              GROUP BY 1, 2)) WHERE rn = 1)""")
    return parts


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """DuckDB restatement of q175."""
    parts = _lpa_cte_parts(rounds)
    parts.append(f"""
    sizes AS (SELECT label, COUNT(*) AS community_size
              FROM l{rounds} GROUP BY 1)""")
    return "WITH " + ",".join(parts) + f"""
    SELECT l.id, l.label AS community, s.community_size
    FROM l{rounds} l JOIN sizes s ON s.label = l.label
    ORDER BY l.id"""


def _modularity_oracle_sql(rounds: int = 4) -> str:
    """DuckDB restatement of q177: q175's unrolled LPA rounds, then
    Newman modularity per community — intra-edge and degree-mass
    aggregations as exact integers, the contribution formed in double
    IN THE SAME OPERATION ORDER as the Spark expression so the rounded
    quotient is engine-exact.  degree_sum CAST to BIGINT (DuckDB
    widens SUM to HUGEINT, which would hash as a different type
    family)."""
    parts = _lpa_cte_parts(rounds)
    parts.append(f"""
    m AS (SELECT COUNT(*) AS m FROM e),
    lab AS (SELECT id, label AS c FROM l{rounds}),
    intra AS (SELECT la.c AS community, COUNT(*) AS intra_edges
              FROM e JOIN lab la ON la.id = e.src
                     JOIN lab lb ON lb.id = e.dst
              WHERE la.c = lb.c GROUP BY 1),
    deg AS (SELECT id, COUNT(*) AS deg FROM (
        SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        GROUP BY 1),
    perc AS (SELECT lab.c AS community, COUNT(*) AS n_nodes,
                    CAST(SUM(deg.deg) AS BIGINT) AS degree_sum
             FROM deg JOIN lab ON lab.id = deg.id GROUP BY 1)""")
    return "WITH " + ",".join(parts) + """
    SELECT p.community, p.n_nodes,
           COALESCE(i.intra_edges, 0) AS intra_edges, p.degree_sum,
           ROUND((4.0 * m.m * COALESCE(i.intra_edges, 0)
                  - p.degree_sum * p.degree_sum)
                 / (4.0 * m.m * m.m), 9) AS q_contrib
    FROM perc p LEFT JOIN intra i ON i.community = p.community
    CROSS JOIN m
    ORDER BY p.community"""


def _kcore_oracle_sql(k: int = 10, rounds: int = 6) -> str:
    """DuckDB restatement of q176: the same peel rounds unrolled —
    per round, current degrees then keep only edges whose BOTH
    endpoints have degree >= k."""
    parts = [_COACTIVITY_CTE, """
    e0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM e)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
    d{r} AS MATERIALIZED (SELECT id, COUNT(*) AS degree FROM (
        SELECT a AS id FROM e{r - 1}
        UNION ALL SELECT b AS id FROM e{r - 1}) GROUP BY 1),
    e{r} AS MATERIALIZED (SELECT p.a, p.b FROM e{r - 1} p
        JOIN d{r} da ON da.id = p.a AND da.degree >= {k}
        JOIN d{r} db ON db.id = p.b AND db.degree >= {k})""")
    return "WITH " + ",".join(parts) + f"""
    SELECT id, COUNT(*) AS core_degree FROM (
        SELECT a AS id FROM e{rounds}
        UNION ALL SELECT b AS id FROM e{rounds})
    GROUP BY 1 ORDER BY id"""


def _ppr_oracle_sql(
    seeds: list[int], iters: int = 5, damping: float = 0.85
) -> str:
    """DuckDB restatement of q188: the q106 unrolled power iteration
    with the seeded teleport CASE, over the co-activity edge CTE."""
    sl = ", ".join(str(s) for s in sorted(set(seeds)))
    ns = len(set(seeds))
    r0 = 1.0 / ns
    tele = (1.0 - damping) / ns
    sql = "WITH " + _COACTIVITY_CTE + f""",
    edges AS (SELECT src, dst FROM e
              UNION ALL SELECT dst AS src, src AS dst FROM e),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    r0 AS (SELECT id, CASE WHEN id IN ({sl})
                           THEN CAST({r0!r} AS DOUBLE)
                           ELSE CAST(0 AS DOUBLE) END AS r
           FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    r{i} AS (
      SELECT e.dst AS id,
             CASE WHEN e.dst IN ({sl})
                  THEN CAST({tele!r} AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END
             + CAST({damping!r} AS DOUBLE) * SUM(p.r / d.deg) AS r
      FROM edges e
      JOIN r{i - 1} p ON e.src = p.id
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst)"""
    return sql + f"""
    SELECT id, ROUND(r, 6) AS score FROM r{iters} ORDER BY id
"""


ORACLE["q188_personalized_pagerank"] = _ppr_oracle_sql([0, 1, 2, 3, 4])

ORACLE["q175_label_communities"] = _lpa_oracle_sql()
ORACLE["q176_kcore_peel"] = _kcore_oracle_sql()
ORACLE["q177_partition_modularity"] = _modularity_oracle_sql()

ORACLE["q180_centroid_separation"] = """
    WITH base AS (
        SELECT label AS g, t.i AS dim,
               CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 1048576.0)
                    AS BIGINT) AS q
        FROM embeddings, LATERAL (
            SELECT unnest(generate_series(1, len(embedding))) AS i) t
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ), sums AS (
        SELECT g, dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s
        FROM base GROUP BY 1, 2
    ), diff AS (
        SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
               CAST(ROUND(
                   ((CAST(a.s AS DOUBLE) / a.n
                     - CAST(b.s AS DOUBLE) / b.n) / 1048576.0)
                   * ((CAST(a.s AS DOUBLE) / a.n
                       - CAST(b.s AS DOUBLE) / b.n) / 1048576.0)
                   * 1e9) AS BIGINT) AS term_nano
        FROM sums a JOIN sums b ON a.dim = b.dim AND a.g < b.g
    )
    SELECT group_a, group_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(SUM(term_nano) AS BIGINT) AS dist_sq_nano,
           ROUND(SQRT(CAST(SUM(term_nano) AS DOUBLE) / 1e9), 6) AS dist
    FROM diff
    GROUP BY 1, 2
    ORDER BY group_a, group_b
"""

ORACLE["q179_blocklist_filter"] = r"""
    WITH tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           t -> t <> '') AS tok
        FROM documents
    ), sig AS (
        SELECT doc_id, len(tok) AS n_tokens,
               len(list_filter(tok, t -> list_contains(
                   ['big', 'hash', 'merge', 'slow'], lower(t))))
                   AS n_hits
        FROM tk
    ), dens AS (
        SELECT doc_id, n_tokens, n_hits,
               CASE WHEN n_tokens > 0
                    THEN ROUND(CAST(n_hits AS DOUBLE) / n_tokens, 9)
                    ELSE 0.0 END AS hit_density
        FROM sig
    )
    SELECT doc_id, n_tokens, n_hits, hit_density,
           (hit_density <= 0.08 AND n_hits <= 10) AS keep
    FROM dens
    ORDER BY doc_id
"""

ORACLE["q178_degree_assortativity"] = "WITH " + _COACTIVITY_CTE + """,
    deg AS (SELECT id, COUNT(*) AS deg FROM (
        SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        GROUP BY 1),
    stubs AS (SELECT src AS x, dst AS y FROM e
              UNION ALL SELECT dst AS x, src AS y FROM e),
    xy AS (SELECT dx.deg AS dxv, dy.deg AS dyv
           FROM stubs s JOIN deg dx ON dx.id = s.x
                        JOIN deg dy ON dy.id = s.y),
    agg AS (SELECT COUNT(*) AS stubs,
                   CAST(SUM(dxv) AS BIGINT) AS sum_deg,
                   CAST(SUM(dxv * dxv) AS BIGINT) AS sum_deg_sq,
                   CAST(SUM(dxv * dyv) AS BIGINT) AS sum_deg_prod
            FROM xy)
    SELECT CAST(stubs / 2 AS BIGINT) AS n_edges,
           sum_deg, sum_deg_sq, sum_deg_prod,
           CASE WHEN (CAST(stubs AS DOUBLE) * sum_deg_sq
                      - CAST(sum_deg AS DOUBLE) * sum_deg) <> 0
                THEN ROUND((CAST(stubs AS DOUBLE) * sum_deg_prod
                            - CAST(sum_deg AS DOUBLE) * sum_deg)
                           / (CAST(stubs AS DOUBLE) * sum_deg_sq
                              - CAST(sum_deg AS DOUBLE) * sum_deg), 9)
           END AS assortativity
    FROM agg
"""


# Plan-linter allowlist (dudb_spark/plans/linter.py): every entry is an
# INTENTIONAL scale exception with its justification — the linter still
# reports these, marked allowed, so they stay visible.  Anything not
# listed here fails tests/test_plan_lint.py's zero-findings sweep.
_BCAST_SCALAR = (
    "broadcast scalar/constants crossJoin: build side is a bounded "
    "≤k-row frame (corpus stats, offsets, codebooks), audited per-op "
    "in tests/test_plans.py"
)
_TOKENIZER_FILTER = (
    "tokenizer predicate over text (size/split/coalesce) — computed "
    "per row, unpushable by construction; the scan reads only the "
    "pruned columns it needs for that same tokenization"
)
PLAN_LINT_ALLOW: dict[str, dict[str, str]] = {
    **{
        q: {"nested-loop": _BCAST_SCALAR}
        for q in (
            "q18_ann_batch_topk", "q47_sequence_packing", "q48_tfidf_terms",
            "q52_unigram_logprob", "q57_mixture_sample", "q74_bm25_terms",
            "q79_sq8_ann", "q80_zorder_key", "q93_hash_embed_topk",
            "q94_skew_profile", "q99_ivf_sq8_search", "q103_bm25_retrieval",
            "q104_shuffled_shards", "q107_decayed_activity",
            "q112_data_quality", "q116_curriculum_bins",
            "q117_mixture_weights", "q129_budget_selection",
            "q145_corpus_drift", "q148_hard_negatives",
            "q151_sketch_source_overlap", "q152_cms_meanmin",
            "q157_bigram_lm_score", "q163_kmv_set_overlap",
            "q174_rrf_hybrid_fusion", "q177_partition_modularity",
            "q190_cooccurrence_lift", "q197_part_basket_lift",
            "q198_rank_blend",
        )
    },
    "q158_stratified_budget": {
        "global-window": "largest-remainder quota windows (rank, "
        "n_total, leftover) run over the ≤|strata|-row counts fold "
        "(20 sources here) — bounded by construction, like the "
        "q112/q132 final aggregates",
    },
    "q162_temperature_mixture": {
        "global-window": "temperature-quota windows (rank, w_total, "
        "leftover) over the same ≤|strata|-row counts fold as q158 — "
        "bounded by construction",
    },
    "q167_weighted_mass_sample": {
        "global-window": "mass-quota windows (rank, w_total, leftover) "
        "over the same ≤|strata|-row counts fold as q158/q162 — "
        "bounded by construction",
    },
    "q170_kmv_rollup": {
        "global-window": "the corpus-grain re-rank partitions by a "
        "constant, but its INPUT is the mid-grain sketch frame — "
        "≤ sources×k rows by the KMV bound, never the corpus; the "
        "rollup's whole point is that only the finest grain scans data",
    },
    "q112_data_quality": {
        "nested-loop": _BCAST_SCALAR,
        "single-partition-run": "per-check bounded global aggregates "
        "(≤1-row each), one per quality rule",
    },
    "q132_table_profile": {
        "single-partition-run": "ANALYZE-pass per-column bounded final "
        "aggregates (≤1-row each, one per profiled column)",
    },
    # unpruned-scan exceptions: tokenizer predicates (size(split(text))
    # comparisons, nullable-safe via coalesce) are computed per row and
    # inherently unpushable — the scan must read the full text column to
    # evaluate them regardless, and column pruning still applies.  Round
    # 11: rule added; these are the suite's only Filter-on-scan sites
    # with nothing pushable.
    **{
        q: {"unpruned-scan": _TOKENIZER_FILTER}
        for q in ("q101_span_dedup", "q121_chunk_windows",
                  "q131_line_excision")
    },
    # Whether these four surface a Filter DIRECTLY on the scan depends
    # on session parallelism (they fire under the test session's
    # local[4]; a wider session plans the same predicate above a
    # Project) — in both shapes the predicate is computed per row and
    # unpushable BY DESIGN: the operators must read every row.
    "q31_fs_stats_at_scale": {
        "unpruned-scan": "staged-fixture path-synthesis predicate "
        "(isnotnull over concat of computed path parts); the at-scale "
        "stats fold measures the FULL tree by definition",
    },
    "q35_fs_rollup_at_scale": {
        "unpruned-scan": "staged-fixture subtree predicate on computed "
        "paths; the rollup reads the whole staged tree by design",
    },
    "q73_pii_scan": {
        "unpruned-scan": "PII regex predicate over synthesized text — "
        "computed per row, unpushable; the scan must read text for the "
        "redaction pass regardless",
    },
    # q116/q145 carry BOTH exceptions (their nested-loop entries are in
    # the broadcast-scalar block above; a plain dict merge would drop
    # them)
    "q57_mixture_sample": {
        "nested-loop": _BCAST_SCALAR,
        "unpruned-scan": "deterministic MINSTD mixture-sampling "
        "predicate (CASE over source + hash threshold) — computed per "
        "row; sampling must evaluate every row by design",
    },
    "q116_curriculum_bins": {
        "nested-loop": _BCAST_SCALAR,
        "unpruned-scan": _TOKENIZER_FILTER,
    },
    "q145_corpus_drift": {
        "nested-loop": _BCAST_SCALAR,
        "unpruned-scan": _TOKENIZER_FILTER,
    },
    "q191_canonical_keep": {
        "unpruned-scan": "the dup-synthesis branch selects every 25th "
        "doc via a modulo predicate (doc_id % 25 = 0) — computed per "
        "row, unpushable by construction (the q100/q183 staging "
        "idiom); the scan reads only the two columns it projects",
    },
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (same column names/order)."""
    return dict(ORACLE)
