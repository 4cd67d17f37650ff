"""``stats compute`` — grouped totals + top-N rankings, Spark-native.

Reference semantics (stats/totals.go:150–209 ComputeTotals, and
internal/reports/report_stats.go:231–245 AllStats.Update):

Per directory record, gated by ``Matcher.Prefix``:

1. ``prefixes = 1`` for every matching directory.
2. If the directory itself is a hardlink duplicate (same device+inode seen
   before): ``hardlink_dirs = 1`` and **nothing else** — its own size and
   all its entries are skipped (totals.go:157–160 early return), and no
   per-user/per-group contribution is recorded (the per-id maps are built
   after the early return).
3. Otherwise its own size lands in ``bytes`` AND ``prefix_bytes`` (and the
   calculator output in ``storage_bytes``), attributed to the *directory's*
   uid/gid (totals.go:161–167).
4. Each child entry gated by ``Matcher.Entry``:
   - subdir → ``sub_prefixes += 1``, attributed to the **parent directory's**
     uid/gid (totals.go:173–177: the outer ``xattr`` is in scope, not the
     child's) — child sizes are NOT added.
   - file that is a hardlink duplicate → ``hardlinks += 1`` only, attributed
     to the entry's uid/gid (totals.go:179–183).
   - other file → ``files += 1``, ``bytes += size``,
     ``storage_bytes += calc(size, blocks)``, entry's uid/gid
     (totals.go:185–189).

Top-N (report_stats.go:58–95): five bounded heaps per scope — bytes,
storage_bytes, prefix_bytes, files, and sub_prefixes ("Prefixes" heap is
keyed on the children count) — globally, per-user, per-group, plus
by-user/by-group heaps over per-id totals (Finalize, report_stats.go:222–229).

Spark design
------------
One narrow **contribution** DataFrame — TWO CASE-projection passes (the
prefix records; the parent-joined entries), each emitting every counter
column in a single scan — then a single shuffle with ``GROUPING SETS
((prefix), (prefix,uid), (prefix,gid))`` produces all three grains
(partial aggregation happens map-side; the stream/fold/heap machinery of
the reference collapses into Catalyst's partial+final HashAggregate).
An earlier five-branch union re-executed the entries join once per
branch — the fusion is one scan of the entry set instead of three.  Top-N never materialises a full sort:
``orderBy(desc(metric)).limit(n)`` compiles to TakeOrderedAndProject, and
per-id rankings use a ``row_number`` window over rows already pre-aggregated
per (id, prefix) — the skew-mitigation noted in SURVEY.md §7.

Hardlink canonicalisation: the reference counts the *walk-order* first
sighting of a (device, inode) pair as the real file (internal/hardlinks/
hardlinks.go:31–43).  Walk order is not a distributed concept, so this
engine deterministically picks the lexicographically-first path as the
canonical link (documented intentional divergence; counts match whenever a
link set lives wholly inside the scanned subtree).  Directory hardlinks are
deduped among directory records, file hardlinks among file entries of
non-duplicate matching directories.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dudb_spark.functions.boolexpr import compile_expr
from dudb_spark.functions.calculators import identity
from dudb_spark.operators.find import subtree_pred
from dudb_spark.session import get_spark

METRICS = ("bytes", "storage_bytes", "prefix_bytes", "files", "sub_prefixes")

GRAINS_TABLE = "grains.parquet"

_ZERO = {
    "files": 0,
    "prefixes": 0,
    "sub_prefixes": 0,
    "bytes": 0,
    "storage_bytes": 0,
    "prefix_bytes": 0,
    "hardlinks": 0,
    "hardlink_dirs": 0,
}

# the columns of a report's TSV/JSON rows: a merged top prefix and its
# eight counters (the order ``merged_top`` selects)
REPORT_COLUMNS = ("prefix", *METRICS, "prefixes", "hardlinks", "hardlink_dirs")

# schema of the written grains table, shared by StatsResult.save and
# load: reading a run back runs no schema-inference job
GRAINS_SCHEMA = T.StructType(
    [
        T.StructField("grain", T.StringType()),
        T.StructField("prefix", T.StringType()),
        T.StructField("id", T.LongType()),
    ]
    + [T.StructField(c, T.LongType()) for c in _ZERO]
)


@dataclass
class StatsOptions:
    root: str = ""
    expr: str = ""
    calculator: Callable = identity
    # config.go:29 `count_hardlinks_as_files`: when True every link counts as
    # a full file and no dedup happens (stats.go:126 wires the inverse).
    count_hardlinks_as_files: bool = False
    compile_opts: dict = field(default_factory=dict)


def _dup_flag(
    df: DataFrame,
    enabled: bool,
    order_col: str = "path",
    extra_partition: list[str] | None = None,
):
    """rows beyond the lexicographically-first path per (device,inode).
    ``extra_partition`` isolates sub-universes sharing one frame (the
    fused entry pass partitions by is_dir so directory entries can never
    join a file group)."""
    if not enabled:
        return df.withColumn("_is_dup", F.lit(False))
    w = Window.partitionBy(
        *(extra_partition or []), "device", "inode"
    ).orderBy(order_col)
    return df.withColumn("_is_dup", F.row_number().over(w) > 1)


class StatsResult:
    """Summary tables of one ``stats compute`` run (the Spark-native stand-in
    for the gob ``.idustats`` snapshot, stats.go:31–36).

    ``grains`` is ONE frame holding all three grains: a ``grain`` column
    (``prefix``/``user``/``group``), ``prefix``, ``id`` (NULL on the
    prefix grain) and the eight counters.  ``per_prefix``/``per_user``/
    ``per_group`` are filters of it.  :meth:`save` writes it once as
    ``grains.parquet`` beside the caller's ``meta.json`` and rebinds the
    result to the written table, so ``totals()`` and every later view
    read the table on disk instead of re-running the fold; :meth:`load`
    reads such a dir back, and still reads dirs written in the older
    three-table form (``per_prefix``/``per_user``/``per_group.parquet``).

    ``path`` is the ``grains.parquet`` the result was saved to or loaded
    from (None for a result that was never saved).  A loaded result
    builds its Spark ``grains`` frame only when a caller touches it; the
    report views (:meth:`report_rows`, :meth:`per_id_top_rows`) read the
    table with pyarrow and need no Spark session at all.
    """

    def __init__(self, grains: DataFrame | None, meta: dict,
                 path: str | None = None, spark=None):
        self._grains = grains
        self.meta = meta  # {root, expr, calculator, ...}
        self.path = path
        self._spark = spark
        self._table = None  # the grains as one Arrow table, read once

    @property
    def grains(self) -> DataFrame:
        if self._grains is None:
            spark = self._spark or get_spark()
            self._grains = spark.read.schema(GRAINS_SCHEMA).parquet(
                self.path)
        return self._grains

    @property
    def per_prefix(self) -> DataFrame:
        """prefix + 8 counters."""
        return self._grain("prefix").drop("id")

    @property
    def per_user(self) -> DataFrame:
        """prefix, id + counters (id-visible rows)."""
        return self._grain("user")

    @property
    def per_group(self) -> DataFrame:
        return self._grain("group")

    def _grain(self, grain: str) -> DataFrame:
        return self.grains.where(F.col("grain") == grain).select(
            "prefix", "id", *_ZERO
        )

    def save(self, out_dir: str) -> dict:
        """Write the grains once (S10 stand-in for the .idustats snapshot)
        and read every later view from the written table.  Returns the
        run's totals (:meth:`totals` as a dict), observed on the write
        itself, so they cost no further job."""
        path = f"{out_dir}/{GRAINS_TABLE}"
        obs = Observation()
        is_prefix = F.col("grain") == "prefix"
        self.grains.observe(obs, *[
            F.coalesce(F.sum(F.when(is_prefix, F.col(c))), F.lit(0)).alias(c)
            for c in _ZERO
        ]).write.mode("overwrite").parquet(path)
        self._grains = self.grains.sparkSession.read.schema(
            GRAINS_SCHEMA
        ).parquet(path)
        self.path, self._table = path, None
        got = obs.get
        return {c: got[c] for c in _ZERO}

    @classmethod
    def load(cls, spark, path: str) -> "StatsResult":
        """Read one stats run: ``path`` is a stats dir, whose ``latest``
        pointer names the run, or one run's dir.  Raises
        ``FileNotFoundError`` when there is no complete run there.
        ``spark`` may be None: a run with ``grains.parquet`` opens
        without a session (its Spark frame is built on first use), and
        only an older three-table run starts one."""
        base = path
        try:
            with open(os.path.join(path, "latest")) as f:
                base = os.path.join(path, f.read().strip())
        except FileNotFoundError:
            pass
        try:
            with open(os.path.join(base, "meta.json")) as f:
                meta = json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(f"no stats run in {path}") from None
        if os.path.exists(os.path.join(base, GRAINS_TABLE)):
            return cls(None, meta, f"{base}/{GRAINS_TABLE}", spark)
        # three-table form: one table per grain, no grain column
        spark = spark or get_spark()
        null_id = F.lit(None).cast("long").alias("id")
        grains = None
        for grain in ("prefix", "user", "group"):
            df = spark.read.parquet(f"{base}/per_{grain}.parquet").select(
                F.lit(grain).alias("grain"), "prefix",
                null_id if grain == "prefix" else "id", *_ZERO,
            )
            grains = df if grains is None else grains.unionByName(df)
        return cls(grains, meta)

    # --- global totals (Heaps.Total* fields) ---------------------------

    def totals(self) -> DataFrame:
        aggs = [F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _ZERO]
        return self.per_prefix.agg(*aggs)

    def by_id(self, dim: str = "user") -> DataFrame:
        """Per-id grand totals (AllStats.userTotals/groupTotals)."""
        src = self.per_user if dim == "user" else self.per_group
        aggs = [F.sum(c).alias(c) for c in _ZERO if c != "hardlink_dirs"]
        return src.groupBy("id").agg(*aggs)

    # --- top-N (bounded; TakeOrderedAndProject, never a full sort) ------

    def top_prefixes(self, metric: str, n: int) -> DataFrame:
        assert metric in METRICS, metric
        return (
            self.per_prefix.select("prefix", metric)
            .orderBy(F.desc(metric), "prefix")
            .limit(n)
        )

    def per_id_top_prefixes(self, metric: str, n: int, dim: str = "user") -> DataFrame:
        """PerIDStats.ByPrefix: top-N prefixes per user/group.  Input is
        pre-aggregated per (id, prefix) so the window partition size is the
        number of directories one id owns, not the number of files."""
        assert metric in METRICS, metric
        src = self.per_user if dim == "user" else self.per_group
        w = Window.partitionBy("id").orderBy(F.desc(metric), "prefix")
        return (
            src.select("id", "prefix", metric)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n)
        )

    # --- report views: pyarrow over the small grains table -------------

    def _arrow(self):
        """The grains as one Arrow table, read once: ``grains.parquet``
        through pyarrow with the schema of :data:`GRAINS_SCHEMA` (no
        session, no Spark job), or ONE ``toArrow`` of a result that was
        never saved or came from a three-table dir."""
        if self._table is None:
            if self.path is not None:
                import pyarrow.parquet as pq
                from pyspark.sql.pandas.types import to_arrow_schema

                self._table = pq.read_table(
                    self.path, schema=to_arrow_schema(GRAINS_SCHEMA))
            else:
                self._table = self.grains.toArrow()
        return self._table

    def _arrow_grain(self, grain: str):
        import pyarrow.compute as pc

        t = self._arrow()
        return t.filter(pc.equal(t["grain"], grain))

    def report_rows(self, n: int, users=None, groups=None) -> "ReportRows":
        """Every number a report prints (the reference renders all three
        formats from one in-memory snapshot, reports.go:98–126), computed
        with pyarrow from :meth:`_arrow`:

        - the totals: column sums of the prefix grain (all 0 when the
          run has no prefix rows);
        - five top-n rankings, one per metric, each ordered by
          ``(metric desc, prefix asc)`` — the tie-break of
          :meth:`top_prefixes` — and carrying its prefix's counters,
          which the TSV/JSON sinks print;
        - the owners: each id grain's rows summed per id (the
          reference's userTotals/groupTotals maps), ranked by
          ``(bytes desc, id)`` and cut to n.  Only the owner rows are
          grouped: the totals come from ``pc.sum``, since pyarrow 16.1's
          ``group_by`` split the NULL-id prefix grain into many groups.

        ``users``/``groups`` name the printed owners (J3): an id→name
        dim frame with ``uid``/``gid`` and ``name`` columns, or a
        function from an id to its name or None.  An owner left
        unnamed has ``name`` None."""
        import pyarrow.compute as pc

        out = ReportRows()
        pfx = self._arrow_grain("prefix").select(list(REPORT_COLUMNS))
        out.totals = {c: pc.sum(pfx[c]).as_py() or 0 for c in _ZERO}
        for m in METRICS:
            out.top[m] = _top_k(pfx, n, [(m, "descending"),
                                         ("prefix", "ascending")])
        for dim, src, id_col in (("user", users, "uid"),
                                 ("group", groups, "gid")):
            sums = self._arrow_grain(dim).group_by("id").aggregate(
                [(c, "sum") for c in _ZERO])
            rows = _top_k(sums, n, [("bytes_sum", "descending"),
                                    ("id", "ascending")])
            names = _dim_names(src, id_col, [r["id"] for r in rows])
            out.owners[dim] = [
                {"id": r["id"], "name": names.get(r["id"]),
                 **{c: r[f"{c}_sum"] for c in _ZERO}}
                for r in rows
            ]
        return out

    def per_id_top_rows(self, metric: str, n: int, dim: str = "user") -> list:
        """The rows of :meth:`per_id_top_prefixes` (``id``, ``prefix``,
        ``metric``, ``rank``) in ``(id, rank)`` order, computed with
        pyarrow from :meth:`_arrow`: each id's rows ordered by
        ``(metric desc, prefix asc)``, keeping rank <= n."""
        import numpy as np

        assert metric in METRICS, metric
        t = self._arrow_grain(dim).select(["id", "prefix", metric]).sort_by(
            [("id", "ascending"), (metric, "descending"),
             ("prefix", "ascending")])
        if t.num_rows == 0:
            return []
        ids = t["id"].to_numpy()
        pos = np.arange(len(ids))
        first = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        rank = pos - first[np.searchsorted(first, pos, side="right") - 1] + 1
        keep = np.flatnonzero(rank <= n)
        rows = t.take(keep).to_pylist()
        for r, k in zip(rows, rank[keep].tolist()):
            r["rank"] = k
        return rows

    def merged_top(self, n: int) -> DataFrame:
        """Heaps.Merge (report_stats.go:128–167): one row per prefix that
        appears in ANY of the five top-N rankings.

        Scale path: each ranking is an ``orderBy(desc).limit(n)`` frame —
        TakeOrderedAndProject, i.e. a bounded per-partition heap + driver
        merge, never a global sort — and the ≤5n candidate prefixes come
        back as a broadcast left-semi join.  An unpartitioned rank window
        here would funnel every per-prefix row through one task, which is
        exactly the hazard documented in operators/prefix.py.

        The per-prefix summary is localCheckpoint'ed first (eager, one
        job): it is the REDUCED frame — one row per directory, orders of
        magnitude under the entry count — and six consumers (five ranking
        frames + the probe side) would otherwise each re-run the whole
        entries×prefixes fold, since Catalyst only reuses identical
        Exchanges within one plan, not across the union/broadcast
        boundary.  Measured 1.5× faster at sf0.1 even on the small local
        fixture; at scale it turns six folds into one."""
        pp = self.per_prefix.select(
            "prefix", *METRICS, "prefixes", "hardlinks", "hardlink_dirs"
        ).localCheckpoint()
        tops = [
            pp.select("prefix", F.col(m).alias("_v"))
            .orderBy(F.desc("_v"), "prefix")
            .limit(n)
            .select("prefix")
            for m in METRICS
        ]
        cand = tops[0]
        for t in tops[1:]:
            cand = cand.union(t)
        return pp.join(F.broadcast(cand.distinct()), "prefix", "left_semi")


def _top_k(t, n: int, keys: list) -> list:
    """The first ``n`` rows of Arrow table ``t`` in ``keys`` order, as
    dicts: ``select_k_unstable`` keeps a bounded heap instead of sorting
    the table, and the keys leave no ties, so the order is exact."""
    import pyarrow.compute as pc

    if n <= 0 or t.num_rows == 0:
        return []
    return t.take(pc.select_k_unstable(t, k=n, sort_keys=keys)).to_pylist()


def _dim_names(src, id_col: str, ids: list) -> dict:
    """id -> name for the printed owner ``ids``: ``src`` is an id→name
    dim frame, of which only those ids are collected, or a function
    from an id to its name or None."""
    if src is None or not ids:
        return {}
    if isinstance(src, DataFrame):
        return {r[0]: r[1] for r in src.where(F.col(id_col).isin(ids))
                .select(id_col, "name").collect()}
    return {i: src(i) for i in ids}


@dataclass
class ReportRows:
    """The content of one report (:meth:`StatsResult.report_rows`):
    ``totals`` maps each counter to its run total; ``top`` maps each of
    :data:`METRICS` to its top-``n`` prefix rows in rank order (dicts of
    :data:`REPORT_COLUMNS`); ``owners`` maps ``user``/``group`` to the
    top-``n`` owner rows by bytes (``id``, ``name`` and the eight
    counters summed over the owner's prefixes)."""

    totals: dict = field(default_factory=lambda: dict(_ZERO))
    top: dict = field(default_factory=lambda: {m: [] for m in METRICS})
    owners: dict = field(default_factory=lambda: {"user": [], "group": []})

    def merged(self) -> list:
        """One row per prefix in any of the five rankings, by prefix: the
        rows of ``StatsResult.merged_top(n)`` (Heaps.Merge)."""
        seen = {r["prefix"]: r for rs in self.top.values() for r in rs}
        return [seen[p] for p in sorted(seen)]


def compute_stats(
    prefixes: DataFrame, entries: DataFrame, opts: StatsOptions | None = None
) -> StatsResult:
    opts = opts or StatsOptions()
    dedup = not opts.count_hardlinks_as_files
    calc = opts.calculator

    p_pred = compile_expr(
        opts.expr, mode="prefix", empty_value=True, **opts.compile_opts
    )
    e_pred = compile_expr(opts.expr, mode="entry", empty_value=True, **opts.compile_opts)

    # -- matching directory records, with dir-level hardlink dedup -------
    pfx = prefixes.where(subtree_pred(F.col("path"), opts.root) & p_pred)
    pfx = _dup_flag(pfx, dedup)

    pfx_ok = pfx.where(~F.col("_is_dup"))

    # -- entries of surviving directories, gated by the entry predicate --
    # (ComputeTotals evaluates entries only for matching, non-dup prefixes)
    parent_side = pfx_ok.select(
        F.col("path").alias("parent"),
        F.col("uid").alias("_puid"),
        F.col("gid").alias("_pgid"),
    )
    ent = entries.join(parent_side, "parent").where(e_pred)

    # file-hardlink dedup window over ONE frame holding both dir and file
    # entry rows: is_dir joins the partition key so directory entries can
    # never enter a file group (their flags are computed but unused —
    # sub_prefixes counts regardless of dup state)
    ent = _dup_flag(ent, dedup, extra_partition=["is_dir"])

    storage = calc(F.col("size"), F.col("blocks"))

    # TWO contribution branches, each a single CASE-projection pass, so
    # the prefix frame and the entries-join execute ONCE apiece.  The
    # earlier shape — five filtered projections unioned (pfx_ok/pfx_dup/
    # dirs/dup files/files) — re-executed the join lineage per branch:
    # measured ~2× the whole fold's cost at local scale, and at 100 TB
    # it is the difference between one and three scans of the entry set.
    # Semantics per branch (totals.go:157–189):
    #  - non-dup dir record: prefixes + own size into bytes/storage/
    #    prefix_bytes, dir-owner attribution
    #  - dup dir record: prefixes + hardlink_dirs, NO id attribution
    #  - subdir entry: sub_prefixes, PARENT-owner attribution
    #  - dup file entry: hardlinks only
    #  - file entry: files + bytes + storage
    dup = F.col("_is_dup")
    pfx_c = pfx.select(
        F.col("path").alias("prefix"),
        F.when(~dup, F.col("uid")).cast("long").alias("uid"),
        F.when(~dup, F.col("gid")).cast("long").alias("gid"),
        F.lit(0).cast("long").alias("files"),
        F.lit(1).cast("long").alias("prefixes"),
        F.lit(0).cast("long").alias("sub_prefixes"),
        F.when(~dup, F.col("size")).otherwise(0).cast("long").alias("bytes"),
        F.when(~dup, calc(F.col("size"), F.col("blocks")))
        .otherwise(0).cast("long").alias("storage_bytes"),
        F.when(~dup, F.col("size")).otherwise(0).cast("long")
        .alias("prefix_bytes"),
        F.lit(0).cast("long").alias("hardlinks"),
        F.when(dup, 1).otherwise(0).cast("long").alias("hardlink_dirs"),
    )
    isd = F.col("is_dir")
    ent_c = ent.select(
        F.col("parent").alias("prefix"),
        F.when(isd, F.col("_puid")).otherwise(F.col("uid"))
        .cast("long").alias("uid"),
        F.when(isd, F.col("_pgid")).otherwise(F.col("gid"))
        .cast("long").alias("gid"),
        F.when(~isd & ~dup, 1).otherwise(0).cast("long").alias("files"),
        F.lit(0).cast("long").alias("prefixes"),
        F.when(isd, 1).otherwise(0).cast("long").alias("sub_prefixes"),
        F.when(~isd & ~dup, F.col("size")).otherwise(0).cast("long")
        .alias("bytes"),
        F.when(~isd & ~dup, storage).otherwise(0).cast("long")
        .alias("storage_bytes"),
        F.lit(0).cast("long").alias("prefix_bytes"),
        F.when(~isd & dup, 1).otherwise(0).cast("long").alias("hardlinks"),
        F.lit(0).cast("long").alias("hardlink_dirs"),
    )
    contrib = pfx_c.unionByName(ent_c.select(*pfx_c.columns))

    # -- one shuffle, three grains, one frame ----------------------------
    # The grain column names the grouping set; id is the user or group id
    # of the id grains.  NULL ids are exactly the duplicate-dir rows —
    # invisible to the per-id maps in the reference (totals.go:157–160 vs
    # 164–167) — so they are dropped from the id grains.
    sums = ", ".join(f"sum({c}) AS {c}" for c in _ZERO)
    contrib.createOrReplaceTempView("_dudb_contrib")
    grains = contrib.sparkSession.sql(
        f"""
        SELECT CASE WHEN grouping(uid) = 0 THEN 'user'
                    WHEN grouping(gid) = 0 THEN 'group'
                    ELSE 'prefix' END AS grain,
               prefix, coalesce(uid, gid) AS id, {sums}
        FROM _dudb_contrib
        GROUP BY GROUPING SETS ((prefix), (prefix, uid), (prefix, gid))
        """
    ).where("grain = 'prefix' OR id IS NOT NULL")

    meta = {
        "root": opts.root,
        "expression": opts.expr,
        "count_hardlinks_as_files": opts.count_hardlinks_as_files,
    }
    return StatsResult(grains, meta)
