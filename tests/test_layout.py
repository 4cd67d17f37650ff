"""Salting and skew profiling: results identical, plans better (balanced
shuffles) — the 100 TB layout strategies proven at test scale."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dudb_spark.plans import plan_of, salted_group_sum


def test_salted_group_sum_matches_plain(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"),  # 3 hot keys
        (F.col("id") % 7).alias("v1"),
        F.lit(1).alias("n"),
    )
    salted = salted_group_sum(df, ["k"], ["v1", "n"], n_salts=8)
    plain = df.groupBy("k").agg(F.sum("v1").alias("v1"), F.sum("n").alias("n"))
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the salted plan aggregates twice (partial per salt, then final)
    assert plan_of(salted).count("HashAggregate") >= 3


def test_salted_join_matches_plain(spark):
    from dudb_spark.plans.layout import salted_join

    # one monster key (0: 5000 rows) + a uniform tail
    left = spark.range(0, 6000).select(
        F.when(F.col("id") < 5000, F.lit(0))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    for how in ("inner", "left"):
        salted = salted_join(left, right, "k", n_salts=8, how=how)
        plain = left.join(right, "k", how)
        assert sorted(map(tuple, salted.select("k", "v", "w").collect())) == sorted(
            map(tuple, plain.select("k", "v", "w").collect())
        )
    # the join key actually includes the salt (the skew-spreading claim),
    # and with broadcast off the exchange partitions on (k, _salt) — the
    # hot key is physically spread
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(salted_join(left, right.hint("shuffle_hash"), "k", n_salts=8))
        assert "_salt" in p
        assert "ShuffledHashJoin" in p
        import re

        assert re.search(r"hashpartitioning\(k#\d+L?, _salt", p), p[:800]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")


def test_salted_join_composite_key(spark):
    from dudb_spark.plans.layout import salted_join

    left = spark.range(0, 2000).select(
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 3).alias("b"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 15).select(
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 3).alias("b"),
        (F.col("id") * 7).alias("w"),
    )
    salted = salted_join(left, right, ["a", "b"], n_salts=4)
    plain = left.join(right, ["a", "b"])
    assert sorted(map(tuple, salted.select("a", "b", "v", "w").collect())) == \
        sorted(map(tuple, plain.select("a", "b", "v", "w").collect()))


def test_skew_profile_composite_key(spark):
    from dudb_spark.plans.layout import skew_profile

    df = spark.range(0, 300).select(
        (F.col("id") % 2).alias("a"), (F.col("id") % 3).alias("b")
    )
    rows = skew_profile(df, ["a", "b"], top_n=6).collect()
    assert len(rows) == 6
    assert sum(r["n_rows"] for r in rows) == 300
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-5


def test_skew_profile(spark):
    from dudb_spark.plans.layout import skew_profile

    # 10 keys, key 0 takes half the table
    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 500, F.lit(0)).otherwise(F.col("id") % 9 + 1).alias("k")
    )
    prof = skew_profile(df, "k", top_n=3).collect()
    assert len(prof) == 3
    hot = prof[0]
    assert hot["k"] == 0 and hot["n_rows"] == 500
    assert abs(hot["share"] - 0.5) < 1e-6
    # 10 distinct keys, mean 100 rows -> hot key's ratio = 5
    assert abs(hot["skew_ratio"] - 5.0) < 1e-6
    assert hot["suggested_salts"] == 5
    # totals come from a broadcast scalar aggregate, not a global window
    # over the per-key frame (scale guard)
    assert "Window" not in plan_of(skew_profile(df, "k"))


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from("abcXYZ019.*?[]-_/"),
        min_size=0,
        max_size=12,
    ),
    st.text(
        alphabet=st.sampled_from("abcXYZ019._-/"),
        min_size=0,
        max_size=12,
    ),
)
def test_glob_regex_matches_fnmatch(pattern, name):
    """Property: on the class-free glob subset (`*?` + literals) the
    glob→Java-regex translation agrees with Python's fnmatchcase.
    Char classes are excluded here because the engine follows the
    reference's Go ``path.Match`` model (negation is ``[^…]``, unclosed
    ``[`` is an error) while fnmatch treats them differently — the full
    class semantics are fuzzed against the Go model in
    test_boolexpr_fuzz.py::test_glob_matches_go_model."""
    import re as _re

    import fnmatch

    from dudb_spark.functions.boolexpr import glob_to_regex

    if "/" in name or "/" in pattern:
        return  # * must not cross separators; fnmatch has no such rule
    if "[" in pattern or "]" in pattern:
        return  # class semantics intentionally follow Go, not fnmatch
    rx = glob_to_regex(pattern)
    try:
        got = _re.match(rx, name) is not None
    except _re.error:
        pytest.fail(f"untranslatable glob {pattern!r} -> {rx!r}")
    want = fnmatch.fnmatchcase(name, pattern)
    assert got == want, (pattern, rx, name)


def test_aqe_splits_skewed_join(spark):
    """The engine leans on AQE for runtime skew handling (README scale
    principles): a join where one key holds ~90% of rows must show AQE's
    skew-split in the final plan instead of one straggler task."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds low enough that the fixture-sized skew triggers
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "100KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        # md5 pad: incompressible, so the skewed partition's SHUFFLE
        # bytes (what AQE measures) reflect its row count; the pad must
        # survive the join (an agg over it), or column pruning shrinks
        # the skewed partition below the detection threshold.  The
        # inspected DataFrame is the one collected — a .count() would
        # execute a different query and leave this plan un-finalized.
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(5_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        q = left.join(right, "k").agg(F.sum(F.length("pad")).alias("s"))
        q.collect()
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
