"""Physical-plan assertions: the scale contract.

These tests pin the plan shapes that make the engine viable at 100 TB:
filters pushed to the Parquet scan, column pruning, broadcast joins for tiny
dims, TakeOrderedAndProject for top-N (never a full sort), and map-side
partial aggregation.  A regression here is a performance bug even when
results stay correct."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from dudb_spark.model import FsTables
from dudb_spark.operators.find import find
from dudb_spark.operators.stats import StatsOptions, compute_stats


def simple_plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_find_pushes_filters_to_scan(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    df = find(t.prefixes, t.entries, root="/tree/d0-0", expr="user=100")
    plan = plan_of(df)
    # subtree + uid predicates must reach the parquet scan
    assert "PushedFilters" in plan
    assert "StringStartsWith(path,/tree/d0-0" in plan.replace("'", "")
    assert "EqualTo(uid,100)" in plan


def test_find_prunes_columns(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    df = find(t.prefixes, t.entries, root="/tree", expr="user=100")
    plan = plan_of(df)
    # short listing needs path/uid/is_dir/parent only — mtime/inode/mode
    # must not be read from either scan
    for scan_schema in [s for s in plan.split("ReadSchema: ")[1:]]:
        first_line = scan_schema.splitlines()[0]
        assert "mtime" not in first_line
        assert "inode" not in first_line


def test_topn_uses_take_ordered(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    res = compute_stats(t.prefixes, t.entries, StatsOptions())
    plan = plan_of(res.top_prefixes("bytes", 5))
    # bounded top-N directly above the aggregate — not Sort + GlobalLimit
    # (window-internal sorts for the hardlink dedup are fine and partition-
    # local, with WindowGroupLimit pre-pruning)
    assert "TakeOrderedAndProject" in plan


def test_stats_uses_partial_aggregation(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    res = compute_stats(t.prefixes, t.entries, StatsOptions())
    plan = plan_of(res.per_prefix)
    # partial (map-side) + final hash aggregate pairs around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_broadcast_join_for_dims(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    from dudb_spark.operators.ops import with_names

    res = compute_stats(t.prefixes, t.entries, StatsOptions())
    named = with_names(res.by_id("user"), users=t.users, dim="user")
    plan = plan_of(named)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_events_timerange_pushdown(spark):
    import __spark_entry__ as m

    df = m._events(spark, "/root/testdata/sf0.001").where(
        F.col("ts") >= "2024-01-10 00:00:00"
    )
    plan = plan_of(df.select("event_id"))
    # ts is reconstructed from the nanos long, so the filter can't push to
    # parquet — but the scan must still prune to the two needed columns
    first = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "event_type" not in first and "props" not in first


def test_rollup_plan_shape(spark, fs_dir):
    from dudb_spark.operators.rollup import subtree_totals

    t = FsTables(spark, fs_dir)
    plan = plan_of(subtree_totals(t.entries, root="/tree/d0-0"))
    # the subtree restriction reaches the parquet scan
    assert "StartsWith(path,/tree/d0-0)" in plan.replace("'", "")
    # scan prunes to the three needed columns (+ path for the filter)
    first = plan.split("ReadSchema: ")[1].splitlines()[0]
    for col in ("mtime", "uid", "inode", "mode"):
        assert col not in first
    # explode feeds partial+final aggregation around ONE exchange —
    # no nested-loop join, no iterative self-joins
    assert "Generate" in plan and plan.count("HashAggregate") >= 2
    assert "NestedLoop" not in plan


def test_merged_top_avoids_global_windows(spark, fs_dir):
    """merged_top must stay five bounded TakeOrdered frames + broadcast
    semi-join — an unpartitioned rank window would single-task the whole
    per-prefix table at scale (VERDICT r1 #2)."""
    t = FsTables(spark, fs_dir)
    res = compute_stats(t.prefixes, t.entries, StatsOptions())
    plan = plan_of(res.merged_top(3))
    # formatted explain names each node twice (tree line + detail block)
    assert plan.count("TakeOrderedAndProject") >= 5
    assert "BroadcastHashJoin" in plan
    # the partition-local hardlink-dedup window upstream is fine; what must
    # never appear is a single-partition exchange (global window / sort)
    assert "Exchange SinglePartition" not in plan


def test_report_frame_limits_before_the_exchange(spark, fs_dir):
    """The report's ranking window is partitioned by metric and cut by a
    partial WindowGroupLimit below its shuffle, so each map task sends at
    most n rows per metric; the owner sums aggregate map-side.  No
    single-partition exchange anywhere."""
    t = FsTables(spark, fs_dir)
    res = compute_stats(t.prefixes, t.entries, StatsOptions())
    plan = simple_plan_of(res.report_frame(3))
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines)
                    if "Exchange hashpartitioning(section" in ln)
    partial = next(i for i, ln in enumerate(lines)
                   if "WindowGroupLimit" in ln and ln.endswith("Partial"))
    # printed top-down: the partial limit is the exchange's input
    assert exchange < partial
    assert "Exchange SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 2


def test_winnow_stays_staged(spark):
    """The staged winnow projections must not collapse into one
    (re-inlining would be quadratic per doc; see text.winnow_df)."""
    from dudb_spark.pipeline.text import winnow_df

    docs = spark.createDataFrame([(1, "some text body")], ["doc_id", "text"])
    plan = plan_of(winnow_df(docs, exploded=True))
    # the null filter sits above the Generate, not below it
    gen_pos = plan.find("Generate")
    assert gen_pos != -1
    assert "isnotnull(fp" in plan


def test_decontamination_broadcasts_eval_side(spark):
    from dudb_spark.pipeline.decontam import ngram_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = ngram_contamination(
        docs.where("doc_id % 97 != 0"), docs.where("doc_id % 97 = 0")
    )
    plan = plan_of(df)
    # the eval shingle set must broadcast; the corpus side must NOT
    # shuffle before the join (only the matched rows re-aggregate)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_pii_scan_is_scan_fused(spark):
    from dudb_spark.pipeline.pii import pii_scan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the session fixture disables codegen (compile-time economy); turn it
    # back on for THIS plan so the '*' codegen marker stays meaningful
    # (both confs gate the marker: NO_CODEGEN suppresses whole-stage too)
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    try:
        plan = plan_of(pii_scan(docs))
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    # pure projection: no Exchange anywhere in the operator itself, and
    # the project runs inside whole-stage codegen (the '*' marker)
    assert "Exchange" not in plan
    assert "* Project" in plan


def test_zorder_layout_partitions_by_range(spark):
    from dudb_spark.plans.zorder import zorder_layout

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df = zorder_layout(orders, ["o_custkey", "o_orderkey"], 8)
    import re

    plan = plan_of(df)
    assert re.search(r"rangepartitioning\(z#", plan), plan[:600]
    assert re.search(r"\(\d+\) Sort", plan)


def test_bm25_single_token_shuffle(spark):
    from dudb_spark.pipeline.text import bm25_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import re

    df = bm25_top_terms(docs)
    plan = plan_of(df)
    # the (doc, term) tf frame is persisted, so every consumer reads the
    # cache instead of re-exploding the token stream: exactly ONE
    # Generate (inside the cached build plan), >=2 cache scans
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan[:600]
    assert plan.count("InMemoryTableScan") >= 2


def test_semantic_dedup_single_pair_shuffle(spark):
    import re

    from dudb_spark.pipeline.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(semantic_dedup(emb, threshold=0.2, n_clusters=8))
    # pairwise work must be confined to cells: the cell self-join is an
    # equi-join (hash or sort-merge on 'cell'), never a cartesian product
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan[:800]


def test_minhash_verified_reads_base_from_checkpoint(spark):
    from dudb_spark.pipeline.dedup import minhash_verified_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(minhash_verified_pairs(docs, num_perm=32, bands=8))
    # the shingle base is checkpointed once and re-read by the signature
    # aggregate and both verification joins: no tokenize/shingle
    # higher-order-function chain may survive into the final plan
    assert "transform(" not in plan.lower() or "Scan ExistingRDD" in plan
    assert plan.count("Scan ExistingRDD") >= 2, plan[:800]


def test_train_split_is_scan_side(spark):
    from dudb_spark.pipeline.sampling import assign_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(
        assign_split(
            docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
        ).select("doc_id", "split")
    )
    assert "Exchange" not in plan, plan[:600]


def test_partitioned_fact_join_uses_dynamic_pruning(spark, tmp_path):
    """A date/key-partitioned fact joined to a filtered dim must prune
    fact partitions at RUNTIME (dynamic partition pruning): the scan's
    PartitionFilters carries a dynamicpruning subquery fed by the
    broadcast dim.  At 100 TB this is the difference between reading the
    whole fact table and reading the few partitions the dim selects."""
    fact = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 20).alias("pk"),
        (F.col("id") * 3).alias("v"),
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(0, 20).select(
        F.col("id").alias("pk"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    d = dim.where(F.col("name").isin("n3", "n7"))
    j = f.join(d, "pk").groupBy("pk").agg(F.sum("v").alias("sv"))
    plan = plan_of(j)
    assert "dynamicpruning" in plan.lower(), plan[:1200]
    assert j.count() == 2  # one aggregated row per selected key


def test_span_dedup_has_no_cartesian(spark):
    from dudb_spark.pipeline.spans import span_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(span_dedup(docs, 8))
    # gram matching is a hash-partitioned window + equi-anti-join — an
    # all-pairs fallback would show up as a nested-loop/cartesian join
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]


def test_bm25_retrieval_broadcasts_query_side(spark):
    from dudb_spark.pipeline.retrieval import bm25_retrieve

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = spark.createDataFrame([(1, "table scan")], ["query_id", "qtext"])
    plan = plan_of(bm25_retrieve(docs, qs, k=5))
    # query terms, df, and corpus constants all join broadcast-side: the
    # corpus postings frame is never re-shuffled for scoring
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1000]
    assert "CartesianProduct" not in plan, plan[:800]


def test_q116_has_no_unpartitioned_window(spark):
    """Round-6 scale-killer pin: q116's corpus-wide decile thresholds
    previously passed a literal group key that Catalyst constant-folded
    away, leaving row_number over an UNPARTITIONED window — the whole
    corpus sorted in one task.  The fixed path (grouped_quantiles with
    group_cols=[] → two-phase range-partitioned rank) must leave no
    Window node without a partition spec anywhere in the q116 plan."""
    import __spark_entry__ as em

    df = em.q116_curriculum_bins(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.lstrip(" +-:").startswith("Window [")
        and ln.lstrip(" +-:").count("], [") < 2
    ]
    assert bad == [], bad


def test_hll_sketch_no_expand_and_bounded_aggs(spark):
    """The sketch's whole point vs exact COUNT(DISTINCT): no Expand
    node (the distinct-rewrite that shuffles every distinct value), just
    partial+final HashAggregates over the bounded (group, register) key
    — constant shuffle state however large the corpus."""
    from dudb_spark.pipeline.dedup import poly_token_hash_array
    from dudb_spark.pipeline.sketch import hll_distinct

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    th = docs.select(
        "source", F.explode(poly_token_hash_array(F.col("text"))).alias("h")
    )
    plan = simple_plan_of(hll_distinct(th, ["source"], "h", p=8))
    assert "Expand" not in plan, plan
    # register fold + estimator: two partial+final agg pairs, two
    # bounded-key exchanges, nothing else
    assert plan.count("HashAggregate") == 4, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_leakage_free_split_join_is_planner_chosen_and_split_scan_side(spark):
    """The representative join is an equi-join the PLANNER sizes (no
    forced broadcast hint — a billion-row cluster frame must be allowed
    to shuffle-join; AQE broadcasts it when it is actually small), and
    the split itself is a scan-side CASE adding no exchange of its own:
    at most the join's two side exchanges appear, nothing downstream."""
    from dudb_spark.pipeline.cluster import leakage_free_split

    docs = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
    clusters = spark.createDataFrame(
        [(i, i - i % 2) for i in range(10)], ["doc_id", "cluster_id"]
    )
    plan = simple_plan_of(
        leakage_free_split(docs, clusters, {"train": 0.9, "test": 0.1})
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 2, plan
    # the CASE projection sits above the join: no Window, no extra agg
    assert "Window" not in plan and "HashAggregate" not in plan, plan


def test_hard_negatives_exclusion_is_broadcast_anti(spark):
    """Exclusions must anti-join broadcast-side (map-side filter on the
    scored frame), never shuffle the corpus for the exclusion."""
    from dudb_spark.pipeline.retrieval import hard_negatives

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = spark.createDataFrame([(1, "table scan")], ["query_id", "qtext"])
    ex = spark.createDataFrame([(1, 3)], ["query_id", "doc_id"])
    plan = simple_plan_of(hard_negatives(docs, qs, ex, k=5))
    assert "CartesianProduct" not in plan, plan
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("BroadcastHashJoin" in ln for ln in anti), (
        anti or plan
    )
