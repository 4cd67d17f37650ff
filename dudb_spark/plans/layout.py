"""Physical-layout strategies for 100 TB: parallelism floors and skew
salting.

- **Salting** (skew): a groupBy on a hot key (one uid owning half the
  corpus) funnels one reducer.  ``salted_group_sum`` spreads each key over
  ``n_salts`` sub-keys for the wide partial aggregation, then combines the
  (tiny) per-salt partials — two shuffles, both balanced.  AQE's skew-join
  splitting (enabled in session.py) covers the join case; this helper
  covers aggregation skew, which AQE does not rebalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Floor the partition count before a CPU-bound expression stage.

    Narrow inputs defeat wide clusters: a small Parquet file with one row
    group arrives as ONE split, so a signature/sketch computation that costs
    far more per row than the scan runs single-threaded no matter how many
    cores exist.  (`spark.sql.files.maxPartitionBytes` cannot split below
    the row-group boundary.)  When the scan has fewer input files than the
    cluster's default parallelism, pay one cheap round-robin shuffle of the
    raw rows to unlock the cores; when the input is already wide (the 100 TB
    case — thousands of splits), this is a no-op with zero added shuffle.

    Width is estimated from ``inputFiles()`` — a metadata-only listing —
    rather than ``df.rdd.getNumPartitions()``, which eagerly builds the
    physical plan outside AQE on every call.  Non-file-backed frames
    (in-memory fixtures, post-shuffle caches) report no files and take the
    repartition; at scale every hot input is a file scan, so the heuristic
    errs only on small local frames where the extra shuffle is noise.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits < target:
        return df.repartition(target)
    return df


def salted_group_sum(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof grouped sum: partial agg on (key, salt), then
    final agg on key.  The salt derives from a stable row hash, so results
    are deterministic; count columns survive because sum is associative."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    return partial.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: explode the (small-side) ``right`` frame into
    ``n_salts`` replicas and scatter each hot ``left`` key across the
    replicas, so one monster key becomes ``n_salts`` ordinary partitions.

    Mechanics: the left side gets a uniform salt from a seeded ``rand()``
    (partition-deterministic, and — the point — referencing NO columns,
    so Parquet column pruning on the left scan survives; hashing the row
    itself was measured to drag every column into the scan); the right
    side cross-generates salts 0..n_salts-1 via ``explode(sequence(...))``;
    the join runs on (key..., salt).  Results are EXACTLY the plain
    equi-join's regardless of which salt a row draws — the salt only
    chooses which replica a left row meets, never whether it matches.

    Supported ``how``: 'inner' and 'left' — each left row carries exactly
    one salt, so unmatched left rows surface once.  'right'/'full' would
    emit every unmatched right row once per replica; use AQE skew handling
    or pre-aggregate for those shapes.

    When to use over AQE (`skewJoin.enabled`): AQE splits oversized
    *partitions* after the map stage, which handles most skew; explicit
    salting is for the pathological single-KEY hot spot that AQE cannot
    split when the downstream operator needs key co-location, and for
    engines/paths where AQE is off (streaming joins, some DSv2 writes).
    Replication cost: the right frame is materialized ``n_salts``× — keep
    it the dimension side (the broadcast-threshold-to-a-few-GB range where
    broadcast no longer fits but replication still does).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if "_salt" in left.columns or "_salt" in right.columns:
        raise ValueError(
            "salted_join reserves the _salt column name; rename the "
            "input column"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.floor(F.rand(42) * n_salts).cast("int")
    l = left.withColumn("_salt", salt)
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l.join(r, keys + ["_salt"], how)
    return out.drop("_salt")


def skew_profile(
    df: DataFrame,
    key_cols: str | list[str],
    top_n: int = 10,
) -> DataFrame:
    """Per-key frequency profile for shuffle-skew diagnosis: the ``top_n``
    hottest keys with their row count, share of the table, the ratio of
    the key's count to the mean per-key count, and the salt factor that
    would level the key down to the mean (``ceil(count/mean)``).

    One shuffle (the groupBy).  The per-key count frame can itself be
    billions of rows (one per key), so the global total/mean must NOT come
    from an unpartitioned window over it — that funnels every key through
    one task.  Instead: top keys via ``orderBy().limit()`` (Spark's
    TakeOrderedAndProject, bounded memory) and the totals via a scalar
    aggregate broadcast onto those ``top_n`` rows.  At 100 TB this is the
    query to run BEFORE picking a join strategy for a new key — its
    output is exactly the ``n_salts`` argument :func:`salted_join` wants.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total_rows"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    hot = counts.orderBy(F.desc("n_rows"), *keys).limit(top_n)
    return (
        hot.crossJoin(F.broadcast(totals))
        .withColumn(
            "share", F.round(F.col("n_rows") / F.col("_total_rows"), 6)
        )
        .withColumn(
            "skew_ratio",
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total_rows"), 6
            ),
        )
        .withColumn(
            "suggested_salts",
            F.ceil(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total_rows")
            ),
        )
        .drop("_total_rows", "_n_keys")
        .orderBy(F.desc("n_rows"), *keys)
    )
