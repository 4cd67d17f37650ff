"""Incremental ingest: merge a fresh scan into the stored metadata DB.

Reference behaviour (analyze.go):

- J1 unchanged-skip: a directory whose (mtime, mode) both match the stored
  record is "unchanged" — its file entries are reused, not re-stat'ed
  (analyze.go:226–243; prefixinfo.T.Unchanged, prefixinfo.go:110–116).
  Counters: ``parent_unchanged`` / ``children_unchanged`` (progress.go:19–35).
- J2 deletion detection: children present in the stored record but absent
  from the fresh scan are purged recursively (analyze.go:383–424 →
  DeletePrefix, badgerdb.go:197–230).  Counter: ``prefixes_deleted``.
- Every run appends one summary row to the log bucket
  (summarizeAndLog, analyze.go:144–161).

Where J1/J2 run: the local ``analyze`` crawl classifies each directory
against the previous snapshot's (mtime, mode) as it walks
(``sources/crawler.crawl_local(previous=...)``), so only churned
directories have their files stat'ed, and ``merge_scan(churn=...)`` only
applies that classification: the previous rows of churned directories
drop out by a churn-sized ``NOT IN`` list and the fresh rows are unioned
in, with no shuffle, no cache and no counter job.  ``--force`` takes
this route too: its crawl matches no stamp, so every directory is
churned.

Join path (``merge_scan`` without ``churn``): no command takes it.  It
is the reference the classified merge is tested against, and the J1/J2
legacy queries certify it.  The staged scan and the previous snapshot
are joined once on ``path`` (full outer, subtree-restricted); the join
classifies every directory as added / changed / unchanged / deleted, and
the new snapshot is assembled from staged rows (added/changed), previous rows (unchanged — their
file entries are *reused*, which is exactly the re-stat skip), and previous
rows outside the scanned subtree.  On a real deployment this is a Delta/
Iceberg ``MERGE INTO`` with partition-level rewrite limited to the scanned
subtree; with plain Parquet we write a fresh versioned snapshot directory
(timestamped dirs + a ``latest`` pointer, mirroring the reference's report
layout, reports.go:128–176).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dudb_spark.operators.find import subtree_pred


@dataclass
class MergeResult:
    prefixes: DataFrame
    entries: DataFrame
    summary: dict  # anaylzeSummary-compatible counters
    # frames this merge cached; the result's DataFrames read them
    # lazily, so a repeated caller (the watch --apply loop: one
    # apply_changes per micro-batch, forever) must release() AFTER
    # consuming/writing the result or executor storage grows per batch
    cached: tuple = ()
    # with merge_scan(churn=...), ``entries`` counts its files as it is
    # written; counters() reads the count after that write
    observed: Observation = None

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()

    def counters(self) -> dict:
        """The summary counters; call after ``entries`` was written when
        the merge applied a crawl's classification."""
        if self.observed is None:
            return self.summary
        return dict(self.summary, files=self.observed.get["files"])


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _analyze_summary(n_new, n_changed, n_unchanged, n_deleted, files):
    return {
        "operation": "analyze",
        "prefixes_started": n_new + n_changed + n_unchanged,
        "prefixes_finished": n_new + n_changed + n_unchanged,
        "files": files,
        "parent_unchanged": n_unchanged,
        "children_unchanged": n_unchanged,
        "prefixes_deleted": n_deleted,
        "prefixes_added": n_new,
        "prefixes_changed": n_changed,
    }


def merge_scan(
    prev_prefixes: DataFrame,
    prev_entries: DataFrame,
    staged_prefixes: DataFrame,
    staged_entries: DataFrame,
    root: str = "",
    with_summary: bool = True,
    force: bool = False,
    churn=None,
) -> MergeResult:
    """Merge a staged (fresh) scan of ``root`` into the previous snapshot.

    ``churn`` is the crawl's own J1/J2 classification
    (``sources.crawler.Churn``: the added, changed, unchanged and deleted
    directory paths).  With it the staged frames hold rows of added and
    changed directories only, and the merge is plain set algebra: the
    previous prefixes and entries keep every row whose ``path`` /
    ``parent`` is not a churned directory, and the staged rows are
    unioned in.  The counters come from the set sizes, and ``files``
    from an observation on the entries write (:meth:`MergeResult.counters`).
    Rows outside ``root`` pass through because the crawl never names
    them.

    Without ``churn`` the merge joins a full staged scan with the
    previous snapshot to classify the directories itself.  ``analyze``
    always passes ``churn``; the join is the independent reference the
    classified merge is tested against.

    ``force=True`` bypasses the join's J1 unchanged-skip (the reference's
    ``analyze`` re-scan override): every alive directory classifies as
    changed, so its entries are rewritten from the staged scan instead
    of reused from the previous snapshot — the corrupted-snapshot
    recovery path.  Deletion detection and the summary counters still
    run (``parent_unchanged`` reports 0 by construction).  With
    ``churn`` it has no effect: a local ``--force`` crawl already
    classified every surviving directory as changed.

    Contract: ``staged_prefixes`` must contain a row for EVERY directory
    currently alive under ``root`` — the scanner may skip re-statting an
    unchanged directory's files, but it must still descend and list child
    directories (exactly what the reference does: analyze.go:313–331
    restats child dirs even when the parent is unchanged).  Otherwise
    deletion detection would misread a skipped subtree as deleted.
    ``staged_entries`` MAY omit entries of unchanged directories; the merge
    reuses the previous entries for every unchanged directory regardless.

    ``with_summary=False`` skips the two counter jobs (classification
    aggregate + post-merge file count) and returns ``summary=None`` —
    for callers that apply many merges in a loop (the streaming-upsert
    composition) and only read the final state, the per-merge counters
    are pure overhead.
    """
    if churn is not None:
        # the churned paths drop out by one NOT IN list per table (an
        # InSet hash probe), so each merged frame stays a single-stage
        # scan of the previous snapshot: a broadcast anti-join would add
        # a job per table, and Column.isin a py4j call per path
        dead = sorted(churn.added | churn.changed | churn.deleted)
        in_list = ", ".join(_sql_string(p) for p in dead)

        def keep(prev, col):
            if not dead:
                return prev
            return prev.where(F.expr(f"{col} NOT IN ({in_list})"))

        new_prefixes = keep(prev_prefixes, "path").unionByName(
            staged_prefixes)
        new_entries = keep(prev_entries, "parent").unionByName(
            staged_entries)
        summary = observed = None
        if with_summary:
            observed = Observation()
            new_entries = new_entries.observe(
                observed,
                F.count(F.when(~F.col("is_dir"), 1)).alias("files"))
            summary = _analyze_summary(  # files: counted by the write
                len(churn.added), len(churn.changed), len(churn.unchanged),
                len(churn.deleted), None)
        return MergeResult(new_prefixes, new_entries, summary,
                           observed=observed)

    in_root_prev = prev_prefixes.where(subtree_pred(F.col("path"), root))
    out_root_prev = prev_prefixes.where(~subtree_pred(F.col("path"), root))

    s = staged_prefixes.alias("s")
    p = in_root_prev.alias("p")
    j = s.join(p, F.col("s.path") == F.col("p.path"), "full_outer").select(
        F.coalesce(F.col("s.path"), F.col("p.path")).alias("path"),
        F.col("s.path").isNotNull().alias("in_new"),
        F.col("p.path").isNotNull().alias("in_old"),
        (
            F.lit(False) if force else (
                F.col("s.path").isNotNull()
                & F.col("p.path").isNotNull()
                & (F.col("s.mtime") == F.col("p.mtime"))
                & (F.col("s.mode") == F.col("p.mode"))
            )
        ).alias("unchanged"),
    )
    j = j.cache()

    if with_summary:
        # All four summary counters in ONE job over the classification
        # join (four separate .count() actions would recompute/rescan it
        # 4×; at ingest scale the classification is the expensive part).
        # count(when) rather than sum(when) so empty inputs yield 0, not
        # NULL.
        c = j.agg(
            F.count(F.when(F.expr("in_new AND NOT in_old"), 1)).alias("n_new"),
            F.count(F.when(F.col("unchanged"), 1)).alias("n_unchanged"),
            F.count(
                F.when(F.expr("in_new AND in_old AND NOT unchanged"), 1)
            ).alias("n_changed"),
            F.count(
                F.when(F.expr("in_old AND NOT in_new"), 1)
            ).alias("n_deleted"),
        ).first()
        n_new, n_unchanged, n_changed, n_deleted = (
            c["n_new"], c["n_unchanged"], c["n_changed"], c["n_deleted"],
        )

    unchanged_paths = j.where("unchanged").select("path")
    changed_or_new = j.where("in_new AND NOT unchanged").select("path")

    new_prefixes = (
        staged_prefixes.join(changed_or_new, "path", "left_semi")
        .unionByName(in_root_prev.join(unchanged_paths, "path", "left_semi"))
        .unionByName(out_root_prev)
    )

    in_root_prev_entries = prev_entries.where(subtree_pred(F.col("parent"), root))
    out_root_prev_entries = prev_entries.where(
        ~subtree_pred(F.col("parent"), root)
    )
    reused = in_root_prev_entries.join(
        unchanged_paths.withColumnRenamed("path", "parent"), "parent", "left_semi"
    )
    fresh = staged_entries.join(
        changed_or_new.withColumnRenamed("path", "parent"), "parent", "left_semi"
    )
    new_entries = fresh.unionByName(reused).unionByName(out_root_prev_entries)

    if with_summary:
        n_files = new_entries.where(~F.col("is_dir")).count()
        summary = _analyze_summary(n_new, n_changed, n_unchanged,
                                   n_deleted, n_files)
    else:
        summary = None
    return MergeResult(new_prefixes, new_entries, summary, cached=(j,))


def snapshot_diff(
    prev_prefixes: DataFrame,
    prev_entries: DataFrame,
    new_prefixes: DataFrame,
    new_entries: DataFrame,
) -> DataFrame:
    """Time-travel diff between two stored snapshot versions: one row per
    path that was added, removed, or changed, with the byte delta — the
    ``idu database`` analog of ``delta table history`` for the versioned
    snapshot directories written by ``SnapshotCatalog.write_snapshot``.

    "Changed" compares size, mtime, mode, uid, and gid: stats results
    depend on ownership and mode (per-user/group attribution, boolexpr
    predicates), so a chmod/chown — which bumps ctime, not mtime — must
    surface here.

    Shape: a full-outer join per table keyed on path; unchanged rows are
    dropped before any downstream consumer sees them.
    """

    watched = ("size", "mtime", "mode", "uid", "gid")

    def diff(prev: DataFrame, new: DataFrame, kind: str) -> DataFrame:
        p = prev.select(
            F.col("path"),
            F.lit(True).alias("_pin"),
            *[F.col(c).alias(f"_p{c}") for c in watched],
        ).alias("p")
        n = new.select(
            F.col("path"),
            F.lit(True).alias("_nin"),
            *[F.col(c).alias(f"_n{c}") for c in watched],
        ).alias("n")
        j = p.join(n, "path", "full_outer")
        differs = None
        for c in watched:
            d = ~(F.col(f"_n{c}").eqNullSafe(F.col(f"_p{c}")))
            differs = d if differs is None else (differs | d)
        status = (
            F.when(F.col("_pin").isNull(), F.lit("added"))
            .when(F.col("_nin").isNull(), F.lit("removed"))
            .when(differs, F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return j.select(
            F.lit(kind).alias("kind"),
            "path",
            status.alias("status"),
            (
                F.coalesce(F.col("_nsize"), F.lit(0))
                - F.coalesce(F.col("_psize"), F.lit(0))
            ).alias("bytes_delta"),
        ).where(F.col("status") != "unchanged")

    return diff(prev_prefixes, new_prefixes, "prefix").unionByName(
        diff(
            prev_entries.where(~F.col("is_dir")),
            new_entries.where(~F.col("is_dir")),
            "file",
        )
    )


def apply_changes(
    prev_prefixes: DataFrame,
    prev_entries: DataFrame,
    changes: DataFrame,
    root: str = "",
    with_summary: bool = True,
    cache: bool = True,
) -> MergeResult:
    """Apply a CHANGE FEED batch (the ``fswatch`` stream's rows:
    ``op`` ∈ added/changed/deleted + the entries schema) to the stored
    snapshot — the streaming analogue of :func:`merge_scan`, with work
    bounded by the CHURN instead of a full staged scan.  This is what
    turns ``idu``'s scheduled-rescan loop (analyze.go:104) into
    continuous ingest: ``watch --db … --apply`` lands one snapshot
    version per non-empty micro-batch.

    Why path-level set algebra suffices (no subtree cascades): fswatch
    emits a row for EVERY affected object — a deleted directory arrives
    with deletion rows for its whole subtree, and any directory whose
    listing changed arrives as its own ``changed`` dir row — so entries
    and prefixes both update by (anti-join on changed∪deleted paths) ∪
    (added∪changed rows).  ``n_entries`` is recounted only for the
    affected parents (a churn-sized semi-join).  The ROOT prefix
    has no watch row (the walk never emits the root itself); its
    ``n_entries`` is recounted when root-level entries churn, its stat
    fields refresh on the next ``analyze``.

    Error rows (``error`` non-null, unreadable paths) contribute their
    PATH to the dead set — a path that becomes unreadable (or is deleted
    while unreadable) must leave the snapshot, exactly as the batch
    ingest path drops it to the error bucket — but never to the insert
    side, so no null-stat row lands in the tables.
    """
    entry_cols = prev_entries.columns
    ch = changes
    if cache:
        ch = ch.cache()
    ok = ch.where(F.col("error").isNull()) if (
        "error" in ch.columns
    ) else ch

    # dead from the UNFILTERED feed: error-transition rows still retire
    # their previous snapshot row
    dead = ch.where(F.col("op").isin("changed", "deleted")).select("path")
    live = ok.where(F.col("op").isin("added", "changed"))
    # .select(*entry_cols) LAST: the path-keyed anti-join reorders
    # columns (join key first), and positional consumers of the result
    # (schema-pinned writes) need the entries schema order back
    new_entries = (
        prev_entries.join(dead, "path", "left_anti")
        .unionByName(live.select(*entry_cols))
        .select(*entry_cols)
    )

    rootdepth = root.rstrip("/").count("/") if root else 0
    dir_live = live.where("is_dir")
    # affected parents: every parent seeing churn + the live dirs
    aff = (
        ch.select(F.col("parent").alias("path"))
        .union(dir_live.select("path"))
        .where(F.col("path").isNotNull())
        .distinct()
    )
    grouped = (
        new_entries.join(aff, new_entries.parent == aff.path, "left_semi")
        .groupBy(F.col("parent").alias("path"))
        .agg(F.count(F.lit(1)).alias("_n_new"))
    )
    # every affected parent gets a row (0 when it lost all entries)
    counts = aff.join(grouped, "path", "left").withColumn(
        "_n_new", F.coalesce("_n_new", F.lit(0))
    )
    new_pfx_rows = (
        dir_live.select(
            "path", "parent",
            (F.length(F.regexp_replace("path", "[^/]", ""))
             - F.lit(rootdepth)).cast("int").alias("depth"),
            "size", "blocks", "mode",
            (F.col("mode").bitwiseAND(0o170000) == 0o120000)
            .alias("is_symlink"),
            "mtime", "uid", "gid", "device", "inode",
        )
        .join(counts, "path", "left")
        .withColumn(
            "n_entries", F.coalesce("_n_new", F.lit(0)).cast("long")
        )
        .drop("_n_new")
    )
    pfx_cols = prev_prefixes.columns
    # anti-join on ALL dead paths, not only dir-typed feed rows: a
    # dir→file type flip arrives as ONE 'changed' row with is_dir=false
    # (plus deletion rows for the old subtree), and the stale prefix row
    # must still retire; non-prefix dead paths miss by construction
    kept = prev_prefixes.select(*pfx_cols).join(
        dead, "path", "left_anti"
    )
    # affected dirs WITHOUT a feed dir row (the root, typically): only
    # their n_entries moves
    kept = (
        kept.join(counts.withColumnRenamed("path", "_cp"),
                  kept.path == F.col("_cp"), "left")
        .withColumn(
            "n_entries",
            F.when(F.col("_cp").isNotNull(), F.col("_n_new"))
            .otherwise(F.col("n_entries")),
        )
        .drop("_cp", "_n_new")
    )
    new_prefixes = kept.unionByName(
        new_pfx_rows.select(*pfx_cols)
    ).select(*pfx_cols)

    summary = None
    if with_summary:
        err_col = (
            F.col("error").isNotNull() if "error" in ch.columns
            else F.lit(False)
        )
        c = ch.agg(
            F.count(F.when(F.col("op") == "added", 1)).alias("n_add"),
            F.count(F.when(F.col("op") == "changed", 1)).alias("n_chg"),
            F.count(F.when(F.col("op") == "deleted", 1)).alias("n_del"),
            F.count(F.when(err_col, 1)).alias("n_err"),
        ).first()
        summary = {
            "operation": "watch-apply",
            "rows_added": c["n_add"],
            "rows_changed": c["n_chg"],
            "rows_deleted": c["n_del"],
            "rows_error": c["n_err"],
        }
    return MergeResult(new_prefixes, new_entries, summary,
                       cached=(ch,) if cache else ())


def resync_feed(prev_entries: DataFrame, resync: DataFrame) -> DataFrame:
    """Classify a full-resync walk (fswatch batch 0: every live object,
    op='added') against the stored entries into the change-feed shape
    :func:`apply_changes` consumes — rows become added / changed /
    deleted by null-safe stat comparison and unchanged rows drop out.

    This is the watch loop's RESTART RECONCILIATION: churn that happened
    while the watcher was down is in neither the stored snapshot nor any
    later diff batch (those diff against the restart's own walk), so the
    snapshot would silently diverge without diffing batch 0 against it.
    One tree-sized full-outer join, paid once per watch START — the same
    cost shape as analyze's merge classification, not a per-batch cost.
    Error rows in the resync keep their ``error`` (they classify as
    changed via their null stats and retire their snapshot row)."""
    sig = ("is_dir", "size", "mode", "mtime", "uid", "gid")
    cols = prev_entries.columns
    n = resync.alias("n")
    p = prev_entries.alias("p")
    j = n.join(p, F.col("n.path") == F.col("p.path"), "full_outer")
    same = None
    for c in sig:
        eq = F.col(f"n.{c}").eqNullSafe(F.col(f"p.{c}"))
        same = eq if same is None else (same & eq)
    op = (
        F.when(F.col("p.path").isNull(), F.lit("added"))
        .when(F.col("n.path").isNull(), F.lit("deleted"))
        .when(~same, F.lit("changed"))
    )
    gone = F.col("n.path").isNull()
    out_cols = [
        F.when(gone, F.col(f"p.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
        for c in cols
    ]
    err = (
        F.when(gone, F.lit(None).cast("string"))
        .otherwise(F.col("n.error"))
        if "error" in resync.columns
        else F.lit(None).cast("string")
    )
    return j.select(
        op.alias("op"), *out_cols, err.alias("error")
    ).where(F.col("op").isNotNull())


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    version: int,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge (Kimball's history
    table): fold a new snapshot into a versioned history where every
    key's past states are closed rows ``[valid_from, valid_to)`` and
    its present state has ``valid_to IS NULL``.  The warehouse-grade
    sibling of ``merge_scan``'s J1/J2 change classification — there
    the old state is *replaced*; here it is *closed and kept*, so
    time-travel queries (state as of version v) stay one range
    predicate away.

    Per apply: changed keys close their current row at ``version``
    and open a new one; deleted keys just close; new keys open;
    unchanged current rows pass through untouched (the incremental
    no-op contract — cost scales with churn, not history size, given
    a current-row partition).  Change detection is a null-safe
    equality fold over ``tracked_cols``.

    Scale shape: ONE full-outer equi-join on the key between the
    current slice and the snapshot, plus unions; closed history is
    never read beyond the pass-through.  Deterministic: no
    wall-clock — ``version`` is caller-supplied (int), so replays are
    idempotent and the oracle replays the same algebra.

    Returns the new history frame (key + tracked + valid_from +
    valid_to)."""
    cur = history.where(F.col("valid_to").isNull())
    closed = history.where(F.col("valid_to").isNotNull())
    snap = snapshot.select(
        *[F.col(c).alias(f"_s_{c}") for c in key_cols + tracked_cols]
    )

    def _all(cols):
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out

    cond = _all(
        [F.col(k).eqNullSafe(F.col(f"_s_{k}")) for k in key_cols]
    )
    j = cur.join(snap, cond, "full_outer")
    # presence flags ride the key columns (non-null by contract on
    # both sides), never nullable payload columns
    in_cur = _all([F.col(k).isNotNull() for k in key_cols])
    in_snap = _all([F.col(f"_s_{k}").isNotNull() for k in key_cols])
    same = _all(
        [F.col(c).eqNullSafe(F.col(f"_s_{c}")) for c in tracked_cols]
    )

    # current rows that survive untouched (present both sides, equal)
    unchanged = j.where(in_cur & in_snap & same).select(
        *key_cols, *tracked_cols, "valid_from", "valid_to"
    )
    # rows to close: changed or deleted
    closing = j.where(in_cur & (~in_snap | ~same)).select(
        *key_cols, *tracked_cols, "valid_from",
        F.lit(version).cast("long").alias("valid_to"),
    )
    # rows to open: new or changed
    opening = j.where(in_snap & (~in_cur | ~same)).select(
        *[F.col(f"_s_{k}").alias(k) for k in key_cols],
        *[F.col(f"_s_{c}").alias(c) for c in tracked_cols],
        F.lit(version).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    return (
        closed.select(*key_cols, *tracked_cols, "valid_from", "valid_to")
        .unionByName(unchanged)
        .unionByName(closing)
        .unionByName(opening)
    )


def scd2_as_of(history: DataFrame, version: int) -> DataFrame:
    """Time-travel read of an SCD2 history: the dimension state as of
    ``version`` — one range predicate (``valid_from <= v`` and
    ``valid_to`` open or beyond), no joins, prunable by a
    valid_to-partitioned layout.  The consumer-side contract of
    :func:`scd2_apply`: ``as_of(v)`` of a history equals the snapshot
    that was applied at ``v`` exactly."""
    return history.where(
        (F.col("valid_from") <= F.lit(version))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.lit(version))
        )
    ).drop("valid_from", "valid_to")
