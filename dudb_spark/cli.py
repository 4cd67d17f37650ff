"""Command-line interface — the reference's command surface on Spark.

Mirrors the ``idu`` CLI (main.go:46–114 command spec): ``analyze``,
``find``, ``stats compute/view``, ``reports generate/locate``, ``errors``,
``logs``, ``database locate``, ``expression-syntax``.  A reference user's
workflow maps 1:1:

    idu analyze /data          → python -m dudb_spark analyze --db DB /data
    idu find /data 'user=u'    → python -m dudb_spark find --db DB /data 'user=u'
    idu stats compute /data    → python -m dudb_spark stats compute --db DB /data
    idu reports generate       → python -m dudb_spark reports generate ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import datetime, timezone

EXPRESSION_SYNTAX = """\
Expression grammar:  term ( && | || ) term, ! negation, ( ) grouping.
Terms (operand=value; quote values containing spaces or metacharacters):
  user=<uid>           owner uid equality (names resolve via users table)
  group=<gid>          owner gid equality
  name=<glob>          glob on basename and full path
  iname=<glob>         case-insensitive glob
  re=<regexp>          regexp over the full path
  type=f|d|l|x         file / directory / symlink / executable
  newer=<time>         mtime after RFC3339 or YYYY-MM-DD time
  dir-larger=<n>       directory has more than n entries
  dir-smaller=<n>      directory has fewer than n entries
  hardlink=<path>      same (device, inode) as <path>
"""


def expand_path(p: str) -> str:
    """F3 (reference config.go:22–47): ``$VAR`` / ``${VAR}`` / ``~``
    expansion in every configured path, so configs can say
    ``$HOME/dudb-db`` like the reference's prefix config does."""
    return os.path.expanduser(os.path.expandvars(p))


def _spark():
    from dudb_spark.session import get_spark

    return get_spark("dudb_spark-cli")


def _exclude_regex(patterns) -> str | None:
    """Collapse ``--exclude`` (action=append, so possibly several
    patterns) into the ONE regex the fswalk/fswatch option accepts.
    Passing only ``patterns[0]`` silently dropped the rest — paths the
    analyze-time crawler excluded were then seen by the walk, classified
    as 'added' and APPLIED into the snapshot (round-9 ADVICE, medium).
    Each pattern keeps its own non-capturing group so alternation can't
    change any pattern's meaning."""
    if not patterns:
        return None
    if len(patterns) == 1:
        return patterns[0]
    return "|".join(f"(?:{p})" for p in patterns)


def cmd_analyze(args):
    from dudb_spark.model import ERRORS_SCHEMA, ENTRIES_SCHEMA, PREFIXES_SCHEMA
    from dudb_spark.operators.ingest import merge_scan
    from dudb_spark.sources.catalog import SnapshotCatalog
    from dudb_spark.sources.crawler import crawl_local

    spark = _spark()
    start = datetime.now(timezone.utc)
    # J1/J2 during the walk: the crawl compares each dir with the
    # previous snapshot's (mtime, mode), read with no Spark job, and
    # stats only churned dirs' files.  --force keeps the dirs but drops
    # their stamps, so none matches and every file is stat'ed.
    cat = SnapshotCatalog(spark, args.db)
    v = cat.latest_version()
    previous = cat.dir_stamps(v, args.prefix) if v is not None else None
    if previous is not None and args.force:
        previous = dict.fromkeys(previous)
    crawl = crawl_local(
        args.prefix, exclusions=args.exclude or [],
        concurrent_scans=args.scans, previous=previous,
    )
    prows, erows, errrows = crawl
    staged_p = spark.createDataFrame(prows, PREFIXES_SCHEMA)
    staged_e = spark.createDataFrame(erows, ENTRIES_SCHEMA)
    errors = spark.createDataFrame(errrows or [], ERRORS_SCHEMA)

    if v is None:
        out = cat.write_snapshot(staged_p, staged_e, errors)
        summary = {
            "operation": "analyze",
            "prefixes_started": len(prows),
            "prefixes_finished": len(prows),
            "files": sum(1 for e in erows if not e["is_dir"]),
            "errors": len(errrows),
        }
    else:
        prev = cat.tables()
        res = merge_scan(
            prev.prefixes, prev.entries, staged_p, staged_e,
            root=args.prefix, churn=crawl.churn,
        )
        # the classified merge unions the previous scan with fresh rows:
        # bound its files by the previous version's
        out = cat.write_snapshot(res.prefixes, res.entries, errors, like=v)
        summary = dict(res.counters(), errors=len(errrows))
    stop = datetime.now(timezone.utc)
    summary["duration_ns"] = int((stop - start).total_seconds() * 1e9)
    cat.append_log(start, stop, summary)
    print(json.dumps({"snapshot": out, **summary}, default=str))


def _warn_live_errors(errs):
    """--live scans skip what they cannot read; say so (stderr, like
    `du` does) instead of silently under-reporting.  The count forces
    the walk into live_tables' cache, which the query reuses — no
    second tree stat pass."""
    import sys as _sys

    n = errs.count()
    if n:
        print(f"warning: {n} path(s) unreadable, skipped", file=_sys.stderr)


def cmd_find(args):
    from dudb_spark.operators.find import find
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    if getattr(args, "live", False):
        # database-free find: the fswalk DataSource scans the live tree
        # on executors and the same expression language filters it
        from dudb_spark.sources.fsds import live_tables

        prefixes, entries, errs = live_tables(
            spark, args.prefix, with_errors=True
        )
        _warn_live_errors(errs)
    else:
        if not args.db:
            raise SystemExit("find: --db is required (or pass --live)")
        t = SnapshotCatalog(spark, args.db).tables()
        prefixes, entries = t.prefixes, t.entries
    expr = " ".join(args.expression)
    df = find(prefixes, entries, root=args.prefix, expr=expr,
              long_listing=args.long)
    for r in df.toLocalIterator():
        if args.long:
            print(f"{r['path']}{'/' if r['is_prefix'] else ''}\t"
                  f"{r['size']}\tuid: {r['uid']} gid: {r['gid']}\t{r['mtime']}")
        else:
            print(r["path"] + ("/" if r["is_prefix"] else ""))


def cmd_stats_compute(args):
    from dudb_spark.functions.calculators import calculator
    from dudb_spark.operators.stats import (
        StatsOptions, StatsResult, compute_stats,
    )
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    cat = SnapshotCatalog(spark, args.db)
    t = cat.tables()
    opts = StatsOptions(
        root=args.prefix,
        expr=" ".join(args.expression),
        calculator=calculator(args.calculator),
        count_hardlinks_as_files=args.count_hardlinks_as_files,
    )
    incremental = getattr(args, "incremental", False)
    if incremental:
        # --incremental continues the previous run: it refolds the
        # latest snapshot with the same fold options, and says so when
        # there is no run to continue or the options differ.
        try:
            prev_stats = StatsResult.load(spark, args.stats_dir)
        except FileNotFoundError:
            prev_stats = None
        problems = []
        if prev_stats is None:
            problems.append("no previous stats run")
        elif not prev_stats.meta.get("snapshot_version"):
            problems.append("previous stats run records no snapshot_version")
        for key, req in (
            ("root", args.prefix),
            ("expression", opts.expr),
            ("calculator", args.calculator),
            ("count_hardlinks_as_files", opts.count_hardlinks_as_files),
        ):
            if prev_stats and prev_stats.meta.get(key) != req:
                problems.append(
                    f"{key}: previous run {prev_stats.meta.get(key)!r} "
                    f"!= requested {req!r}"
                )
        if problems:
            print(
                "stats --incremental: falling back to a full compute ("
                + "; ".join(problems) + ")",
                file=sys.stderr,
            )
            incremental = False
    res = compute_stats(t.prefixes, t.entries, opts)
    plan = "refold" if incremental else "full"
    out, tot = _save_stats(res, args.stats_dir, args.calculator, cat, plan)
    print(json.dumps({"stats": out, "totals": tot}))


def _save_stats(res, stats_dir, calculator_name, cat, plan):
    """Land a stats run as the newest version under ``stats_dir``: the
    run's dir holds ``grains.parquet`` (all three grains, written once —
    ``StatsResult.save``) and ``meta.json``, and the ``latest`` pointer
    moves only once both are complete.  ``plan`` (``full``, or
    ``refold`` when the run continues the previous one) is recorded in
    ``meta.json``.  The totals are observed on the grains write, so
    they cost no job of their own.  Returns (out_path, totals dict)."""
    from dudb_spark.sources.catalog import write_pointer

    when = datetime.now(timezone.utc).strftime("%Y-%m-%d-%H%M%S")
    out = os.path.join(stats_dir, when)
    n = 0
    while os.path.exists(out):  # watch loop: two saves within a second
        n += 1
        out = os.path.join(stats_dir, f"{when}-{n}")
    when = os.path.basename(out)
    tot = res.save(out)
    meta = dict(res.meta, date=when, prefix=res.meta.get("root"),
                calculator=calculator_name,
                snapshot_version=cat.latest_version(), plan=plan)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    write_pointer(os.path.join(stats_dir, "latest"), when)
    return out, tot


def _load_stats(spark, stats_dir):
    """``StatsResult.load`` for the commands that need a previous run:
    a stats dir without one is a usage error, not a traceback."""
    from dudb_spark.operators.stats import StatsResult

    try:
        return StatsResult.load(spark, stats_dir)
    except FileNotFoundError:
        raise SystemExit(
            f"no stats run in {stats_dir}: run `stats compute` first"
        ) from None


def cmd_stats_view(args):
    from dudb_spark.functions.units import format_bytes

    spark = _spark()
    res = _load_stats(spark, args.stats_dir)
    n = args.n
    print(f"# stats for {res.meta.get('prefix')!r} expr={res.meta.get('expression')!r}")
    print("## totals")
    # one collect holds the totals and the global rankings; the per-user
    # and per-group scopes rank per id below
    rows = res.report_rows(n)
    tot = rows.totals
    print(json.dumps(tot))
    binary = args.units == "binary"
    for k in ("bytes", "storage_bytes", "prefix_bytes"):
        print(f"{k}: {format_bytes(tot[k], binary=binary)}")
    scopes = [dim for dim in ("user", "group") if getattr(args, dim)]
    for dim in scopes or [None]:
        for metric in ("bytes", "storage_bytes", "files"):
            print(f"## top {n} by {metric}" + (f" per {dim}" if dim else ""))
            if dim is None:
                for r in rows.top[metric]:
                    print(json.dumps({"prefix": r["prefix"],
                                      metric: r[metric]}))
                continue
            for r in res.per_id_top_prefixes(metric, n, dim).collect():
                print(json.dumps(r.asDict()))


def cmd_reports_generate(args):
    from dudb_spark.reports import write_reports

    spark = _spark()
    res = _load_stats(spark, args.stats_dir)
    out = write_reports(res, args.reports_dir, display_n=args.n)
    print(json.dumps({"report": out}))


def cmd_reports_locate(args):
    from dudb_spark.reports import locate_reports

    print(json.dumps(locate_reports(args.reports_dir, args.n)))


def cmd_errors(args):
    from dudb_spark.operators.ops import list_errors
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    t = SnapshotCatalog(spark, args.db).tables()
    df = list_errors(t.errors, root=args.prefix, since=args.since,
                     from_t=getattr(args, "from"), to_t=args.to)
    for r in df.toLocalIterator():
        print(f"{r['path']}\t{r['at']}\t{r['detail']}")


def cmd_logs(args):
    from dudb_spark.operators.ops import list_logs
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    cat = SnapshotCatalog(spark, args.db)
    df = list_logs(cat.logs(), since=args.since, from_t=getattr(args, "from"),
                   to_t=args.to, newest_only=args.last)
    for r in df.toLocalIterator():
        print(json.dumps(r.asDict(recursive=True), default=str))


def _watch_stats_update(spark, cat, stats_dir, applied_from):
    """Stats maintenance for ``watch --apply --stats-dir``: after a batch
    lands snapshot vN, refold it with the previous stats run's fold
    options (root / expression / calculator from its meta — the loop
    maintains whatever ``stats compute`` last certified) and land a new
    stats version.  The run records ``plan: refold`` when the previous
    run folded the snapshot this batch applied against, and
    ``plan: full`` when it did not (someone ran analyze in between)."""
    from dudb_spark.functions.calculators import calculator
    from dudb_spark.operators.stats import StatsOptions, compute_stats

    prev_stats = _load_stats(spark, stats_dir)
    pm = prev_stats.meta
    opts = StatsOptions(
        root=pm.get("root") or "",
        expr=pm.get("expression") or "",
        calculator=calculator(pm.get("calculator") or "identity"),
        count_hardlinks_as_files=pm.get("count_hardlinks_as_files", False),
    )
    t = cat.tables()
    res = compute_stats(t.prefixes, t.entries, opts)
    plan = ("refold" if pm.get("snapshot_version") == applied_from
            else "full")
    out, tot = _save_stats(res, stats_dir, pm.get("calculator"), cat, plan)
    print(json.dumps({"stats": out, "totals": tot}), flush=True)


def _watch_land(spark, cat, args, diff, stats_dir) -> bool:
    """Apply one change-feed diff to the stored snapshot and land it as
    the next plain snapshot version (the previous version's errors table
    carried over), plus the JSON summary line and the optional stats
    refold.  Returns True when the diff had any effect."""
    from dudb_spark.operators.ingest import apply_changes

    applied_from = cat.latest_version()
    t = cat.tables()
    res = apply_changes(t.prefixes, t.entries, diff, root=args.prefix)
    s = res.summary
    if not (s["rows_added"] or s["rows_changed"] or s["rows_deleted"]):
        res.release()
        return False
    out = cat.write_snapshot(res.prefixes, res.entries)
    print(json.dumps({"snapshot": out, **res.summary}), flush=True)
    if stats_dir:
        _watch_stats_update(spark, cat, stats_dir, applied_from)
    # one apply per micro-batch forever: release the apply's cached
    # feed or executor storage grows per batch
    res.release()
    return True


def cmd_watch(args):
    """Live change feed over a tree (sources/fsds.FsWatchReader): prints
    one TSV line per change — gen, op, size, path.  ``--once`` emits the
    first batch and exits; otherwise the stream rescans every
    ``--interval`` seconds until ``--max-batches`` non-empty batches
    have been printed (0 = until interrupted).

    With ``--db`` the start is SEEDED: the watcher initializes from the
    latest snapshot's entries table, read in place, so batch 0 is the
    changes since that snapshot as a churn-sized diff, with no Spark
    job and no DB write before it.  Without ``--db`` batch 0 is the
    whole tree as ``added``.  ``--no-prune`` makes every batch, batch 0
    included, an exhaustive per-file comparison (in-place edits under
    unchanged directory mtimes surface immediately).

    ``--db … --apply`` turns the feed into CONTINUOUS INGEST: every
    non-empty diff batch is applied to the stored snapshot via
    ``operators.ingest.apply_changes`` — churn-bounded set algebra,
    the streaming analogue of ``analyze``'s merge — and lands as a new
    snapshot version, with one JSON summary line per applied batch.
    Every batch lands as a plain snapshot version, the same layout
    ``analyze`` writes, so every reader opens it directly.

    ``--stats-dir`` (with ``--apply``) additionally maintains the stored
    stats summaries: after each applied batch one refold of the new
    snapshot lands a new stats version — analyze → stats → watch keeps
    BOTH the snapshot and the summaries continuously current.

    The watcher keeps its file-row snapshot under ``--state-dir``;
    without one it uses a temp dir that is removed when the watch
    ends."""
    spark = _spark()
    cat = None
    if args.db:
        # --db without --apply still seeds the feed: the printed stream
        # becomes "changes since the stored snapshot" instead of a
        # batch-0 dump of the whole tree
        from dudb_spark.sources.catalog import SnapshotCatalog

        cat = SnapshotCatalog(spark, args.db)
    if args.apply:
        if cat is None:
            raise SystemExit("watch --apply: --db is required")
        if cat.latest_version() is None:
            raise SystemExit(
                "watch --apply: run `analyze` first (no snapshot in DB)"
            )
    stats_dir = getattr(args, "stats_dir", None)
    if stats_dir:
        if cat is None:
            raise SystemExit("watch --stats-dir: requires --apply")
        if not os.path.exists(os.path.join(stats_dir, "latest")):
            raise SystemExit(
                "watch --stats-dir: run `stats compute` first (no stats "
                "snapshot to maintain)"
            )
    # the watcher's file-row snapshot lives in state_dir; a temp one is
    # made here, not in the stream's Python worker, so the finally below
    # can remove it
    if args.state_dir:
        os.makedirs(args.state_dir, exist_ok=True)
        state_dir = args.state_dir
    else:
        import tempfile

        state_dir = tempfile.mkdtemp(prefix="dudb_fswatch_")
    try:
        _watch_stream(spark, cat, args, stats_dir, state_dir)
    finally:
        if not args.state_dir:
            import shutil

            shutil.rmtree(state_dir, ignore_errors=True)


def _watch_stream(spark, cat, args, stats_dir, state_dir):
    """cmd_watch's body once the options are checked: the fswatch
    stream, seeded from the latest snapshot when there is one."""
    from dudb_spark.sources.fsds import register_watch

    register_watch(spark)
    reader = spark.readStream.format("fswatch").option(
        "state_dir", state_dir
    )
    if args.exclude:
        reader = reader.option("exclude", _exclude_regex(args.exclude))
    if getattr(args, "no_prune", False):
        reader = reader.option("prune", "false")
    if cat is not None and cat.latest_version() is not None:
        # SEEDED START: the watcher initializes from the latest
        # snapshot's entries, read in place (no Spark job, nothing
        # written to the DB), so batch 0 is a normal pruned rescan
        # against the snapshot emitting exactly the changes since it
        reader = reader.option("seed", cat.tables().path("entries"))
    stream = reader.load(args.prefix)

    state = {"batches": 0}

    def _emit(batch_df, batch_id):
        # stream the sorted batch through the driver one partition at a
        # time (round-9 verdict item 3): without --db the first batch is
        # the WHOLE TREE, and a collect() here is the one remaining
        # tree-sized driver materialization of the watch family.
        # orderBy → toLocalIterator preserves the global order (each
        # fetched partition is a sorted key range), so the printed
        # output is byte-identical; peak driver memory is one partition.
        any_rows = False
        for r in batch_df.orderBy("gen", "op", "path").toLocalIterator():
            any_rows = True
            sz = "" if r["size"] is None else r["size"]
            print(f"{r['gen']}\t{r['op']}\t{sz}\t{r['path']}", flush=True)
        if not any_rows:
            return
        if cat is not None and args.apply:
            # every batch is a change-feed diff: the SEEDED batch 0 is
            # already the reconciliation
            _watch_land(spark, cat, args, batch_df, stats_dir)
        # count AFTER the apply: the main loop stops the query the
        # moment the count reaches --max-batches, and a stop mid-apply
        # would interrupt the snapshot write
        state["batches"] += 1

    w = stream.writeStream.foreachBatch(_emit)
    if args.once:
        # Trigger.Once: the fswatch simple reader cannot split a batch,
        # so availableNow would only fall back to this with a warning
        q = w.trigger(once=True).start()
        q.awaitTermination()
    else:
        q = w.trigger(processingTime=f"{args.interval} seconds").start()
        try:
            while q.isActive:
                q.awaitTermination(1)
                if args.max_batches and state["batches"] >= args.max_batches:
                    q.stop()
                    break
        except KeyboardInterrupt:
            q.stop()


def cmd_du(args):
    from dudb_spark.functions.units import format_bytes
    from dudb_spark.operators.rollup import subtree_totals, top_subtrees
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    if getattr(args, "live", False):
        # database-free du: one cached fswalk scan of the live tree
        from dudb_spark.sources.fsds import live_tables

        _, entries, errs = live_tables(
            spark, args.prefix, with_errors=True
        )
        _warn_live_errors(errs)
    else:
        if not args.db:
            raise SystemExit("du: --db is required (or pass --live)")
        entries = SnapshotCatalog(spark, args.db).tables().entries
    if args.top:
        df = top_subtrees(entries, n=args.top, metric=args.sort,
                          root=args.prefix, max_depth=args.max_depth)
    else:
        df = subtree_totals(
            entries, root=args.prefix, max_depth=args.max_depth
        ).orderBy("dir_path")
    count_metric = args.sort in ("n_files", "n_dirs")
    for r in df.toLocalIterator():
        lead = (
            str(r[args.sort])
            if count_metric
            else format_bytes(r[args.sort], binary=args.units == "binary")
        )
        print(f"{lead}\t{r['n_files']} files\t{r['dir_path']}")


def cmd_pipeline_dedup(args):
    """Corpus dedup from the command line: read a parquet table of
    documents (or embeddings for --method semantic), emit the dedup
    result as parquet (--out) or a JSON summary to stdout."""
    if args.against and args.method != "minhash":
        raise SystemExit(
            "pipeline dedup: --against (incremental new-vs-history) is "
            "a minhash mode"
        )
    if args.band_index and not args.against:
        raise SystemExit(
            "pipeline dedup: --band-index only makes sense with "
            "--against"
        )
    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    if args.method == "exact":
        from dudb_spark.pipeline.dedup import exact_duplicates

        res = exact_duplicates(df, args.text_col, args.id_col)
    elif args.method == "minhash":
        if args.against:
            # incremental: dedup --input (new shard) AGAINST an
            # already-ingested corpus; optionally reuse its persisted
            # band index so history is never re-sketched
            from dudb_spark.pipeline.dedup import (
                incremental_verified_pairs,
            )

            old = spark.read.parquet(expand_path(args.against))
            idx = (
                spark.read.parquet(expand_path(args.band_index))
                if args.band_index else None
            )
            res = incremental_verified_pairs(
                df, old, args.text_col, args.id_col,
                min_jaccard=args.threshold, index=idx,
            )
        else:
            from dudb_spark.pipeline.dedup import minhash_verified_pairs

            res = minhash_verified_pairs(
                df, args.text_col, args.id_col, min_jaccard=args.threshold
            )
    elif args.method == "jaccard":
        # EXACT set-similarity join (prefix filtering): zero false
        # negatives at the threshold, vs minhash's probabilistic recall
        from dudb_spark.pipeline.dedup import similarity_join_exact

        res = similarity_join_exact(
            df, args.text_col, args.id_col, threshold=args.threshold
        )
    elif args.method == "containment":
        # EXACT directed containment join: |A∩B|/|A| >= t — the
        # asymmetric quote/subset detector (A-prefix ⋈ B-all tokens)
        from dudb_spark.pipeline.dedup import containment_join_exact

        res = containment_join_exact(
            df, args.text_col, args.id_col, threshold=args.threshold
        )
    elif args.method == "simhash":
        from dudb_spark.pipeline.dedup import simhash_near_duplicates

        res = simhash_near_duplicates(
            df, args.text_col, args.id_col, max_hamming=args.max_hamming
        )
    elif args.method == "semantic":
        from dudb_spark.pipeline.similarity import semantic_dedup

        res = semantic_dedup(
            df, threshold=args.threshold, vec_col=args.vec_col,
            id_col=args.id_col,
        )
    else:  # cluster: minhash pairs -> connected components
        from dudb_spark.pipeline.cluster import duplicate_clusters
        from dudb_spark.pipeline.dedup import minhash_verified_pairs

        pairs = minhash_verified_pairs(
            df, args.text_col, args.id_col, min_jaccard=args.threshold
        )
        res = duplicate_clusters(pairs)
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        print(json.dumps({"method": args.method, "out": args.out,
                          "rows": spark.read.parquet(
                              expand_path(args.out)).count()}))
    else:
        print(json.dumps({"method": args.method, "rows": res.count()}))


def cmd_pipeline_split(args):
    """Deterministic train/val/test assignment for a parquet corpus."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.sampling import assign_split

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    weights = {}
    for spec in args.weights.split(","):
        name, frac = spec.split("=")
        weights[name] = float(frac)
    if args.clusters:
        # leakage-free mode: split by the duplicate-cluster
        # representative so near-dups never straddle train/eval
        from dudb_spark.pipeline.cluster import leakage_free_split

        clusters = spark.read.parquet(expand_path(args.clusters))
        assigned = leakage_free_split(
            df, clusters, weights, id_col=args.id_col, salt=args.salt
        )
        # same output contract as the default path (round-10 ADVICE):
        # the input columns plus `split`, so downstream consumers of the
        # written parquet see one schema regardless of the flag —
        # leakage_free_split itself returns only (id, rep_id, split)
        # because it never needs the payload columns
        res = df.join(
            assigned.select(args.id_col, "split"), args.id_col
        )
    else:
        res = assign_split(df, args.id_col, weights, salt=args.salt)
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    counts = {
        r["split"]: r["n"]
        for r in res.groupBy("split").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    print(json.dumps({"splits": counts, "out": args.out}))


def cmd_pipeline_embed(args):
    """Hash-embed a parquet corpus (pipeline/embed.py); writes (id,
    embedding array<long>, norm_sq) parquet or prints a summary."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.embed import embed_documents

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = embed_documents(df, args.text_col, args.id_col, args.dim)
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    summary = res.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("norm_sq") == 0, 1)).alias("n_empty"),
    ).first()
    print(
        json.dumps(
            {
                "dim": args.dim,
                "n_docs": summary["n_docs"],
                "n_empty": summary["n_empty"],
                "out": args.out,
            }
        )
    )


def cmd_pipeline_skew(args):
    """Shuffle-skew profile for a key column: hot keys, share, and the
    salt factor salted_join/salted_group_sum would want."""
    from dudb_spark.plans.layout import skew_profile

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    rows = skew_profile(df, args.key, top_n=args.top).collect()
    print("\t".join([args.key, "n_rows", "share", "skew_ratio",
                     "suggested_salts"]))
    for r in rows:
        print(
            f"{r[args.key]}\t{r['n_rows']}\t{r['share']}"
            f"\t{r['skew_ratio']}\t{r['suggested_salts']}"
        )


def cmd_pipeline_quantiles(args):
    """Exact grouped quantiles via the scale-safe order-statistics
    operator (operators/quantiles.py) — or, with ``--sketch LO:HI:BINS``,
    the fixed-grid histogram sketch (pipeline/sketch.hist_quantiles):
    ≤ groups×bins state out of any corpus, error ≤ one bin width, for
    when even the exact operator's per-group sort is unpayable."""
    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    groups = [g for g in args.group.split(",") if g]
    ps = [float(x) for x in args.ps.split(",")]
    if getattr(args, "sketch", None):
        from dudb_spark.pipeline.sketch import hist_cells, hist_quantiles

        try:
            lo, hi, n_bins = (int(x) for x in args.sketch.split(":"))
        except ValueError:
            raise SystemExit(
                "pipeline quantiles --sketch wants LO:HI:BINS (ints)"
            )
        cells = hist_cells(df, groups, args.value, lo, hi, n_bins)
        res = hist_quantiles(cells, groups, ps, lo, hi, n_bins)
    else:
        from dudb_spark.operators.quantiles import grouped_quantiles

        res = grouped_quantiles(df, groups, args.value, ps)
    cols = res.columns
    print("\t".join(cols))
    if groups:
        res = res.orderBy(*groups)
    # streamed: one row per GROUP — data-proportional on a
    # high-cardinality group column, so never collect()
    for r in res.toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))


def cmd_pipeline_spandedup(args):
    """Exact n-gram span dedup (pipeline/spans.py): remove every repeated
    n-token window except its first corpus occurrence."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.spans import span_dedup

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = span_dedup(df, args.n, args.id_col, args.text_col)
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    summary = res.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_in"),
        F.sum("n_removed").alias("tokens_removed"),
        F.count(F.when(F.col("n_removed") > 0, 1)).alias("docs_touched"),
    ).first()
    print(
        json.dumps(
            {
                "n": args.n,
                "n_docs": summary["n_docs"],
                "tokens_in": summary["tokens_in"],
                "tokens_removed": summary["tokens_removed"],
                "docs_touched": summary["docs_touched"],
                "out": args.out,
            }
        )
    )


def cmd_pipeline_check(args):
    """Declarative data-quality gate over a parquet table
    (operators/checks.quality_report): prints the long-form report and
    exits non-zero if any check fails."""
    import sys

    from dudb_spark.operators.checks import quality_report

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    completeness = {
        c: 1.0 for c in (args.complete.split(",") if args.complete else [])
        if c
    }
    unique = [
        [c for c in spec.split("+") if c]
        for spec in (args.unique.split(",") if args.unique else [])
        if spec
    ]
    bounds = {}
    for spec in (args.bounds.split(",") if args.bounds else []):
        if not spec:
            continue
        col, lo, hi = spec.split(":")
        bounds[col] = (
            float(lo) if lo else None,
            float(hi) if hi else None,
        )
    rows = quality_report(
        df,
        completeness=completeness,
        unique=unique,
        bounds=bounds,
        min_rows=args.min_rows,
    ).orderBy("check").collect()
    print("check\tmetric\tpassed")
    for r in rows:
        print(f"{r['check']}\t{r['metric']}\t{r['passed']}")
    if not all(r["passed"] for r in rows):
        sys.exit(2)


def cmd_pipeline_excise(args):
    """Span-excision decontamination: cut every n-gram span that also
    occurs in the reference corpus (pipeline/spans.excise_spans)."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.spans import excise_spans

    spark = _spark()
    docs = spark.read.parquet(expand_path(args.input))
    ref = spark.read.parquet(expand_path(args.reference))
    res = excise_spans(
        docs, ref, args.n, args.id_col, args.text_col,
        args.id_col, args.text_col,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    summary = res.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_in"),
        F.sum("n_removed").alias("tokens_removed"),
        F.count(F.when(F.col("n_removed") > 0, 1)).alias("docs_touched"),
    ).first()
    print(
        json.dumps(
            {
                "n": args.n,
                "n_docs": summary["n_docs"],
                "tokens_in": summary["tokens_in"],
                "tokens_removed": summary["tokens_removed"],
                "docs_touched": summary["docs_touched"],
                "out": args.out,
            }
        )
    )


def cmd_pipeline_quality(args):
    """Gopher-style quality rules: per-rule rejection counts and the
    overall pass rate (pipeline/text.gopher_flags)."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.text import gopher_flags

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    flagged = df.select(
        gopher_flags(F.col(args.text_col)).alias("g")
    ).select("g.*")
    if args.out:
        kept = df.where(gopher_flags(F.col(args.text_col))["passes"])
        kept.write.mode("overwrite").parquet(expand_path(args.out))
    rules = ["ok_words", "ok_mean_len", "ok_alpha", "ok_symbols",
             "ok_stopwords", "ok_repetition", "passes"]
    row = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.count(F.when(F.col(r), 1)).alias(r) for r in rules],
    ).first()
    print(json.dumps({k: row[k] for k in ["n_docs", *rules]}
                     | {"out": args.out}))


def cmd_pipeline_blocklist(args):
    """Token-level blocklist gate (pipeline/text.blocklist_filter):
    case-insensitive exact-token hits against --terms (or one term per
    line in --terms-file), keep = density <= --max-density AND hits <=
    --max-hits; --out writes the KEPT rows of the input."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.text import blocklist_filter

    terms = [t for t in (args.terms.split(",") if args.terms else [])
             if t.strip()]
    if args.terms_file:
        with open(expand_path(args.terms_file)) as fh:
            terms += [ln.strip() for ln in fh if ln.strip()]
    if not terms:
        raise SystemExit("pipeline blocklist: no terms "
                         "(--terms or --terms-file)")
    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    sig = blocklist_filter(
        df, terms, max_density=args.max_density, max_hits=args.max_hits,
        text_col=args.text_col, id_col=args.id_col,
    )
    if args.out:
        kept = df.join(
            sig.where("keep").select(args.id_col), args.id_col, "left_semi"
        )
        kept.write.mode("overwrite").parquet(expand_path(args.out))
    row = sig.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
        F.sum("n_hits").alias("total_hits"),
    ).first()
    print(json.dumps({"n_docs": row["n_docs"], "n_kept": row["n_kept"],
                      "total_hits": row["total_hits"],
                      "n_terms": len(set(t.lower() for t in terms)),
                      "out": args.out}))


def cmd_pipeline_retrieve(args):
    """Batch BM25 retrieval: score query strings against a parquet
    corpus, print per-query top-k TSV (pipeline/retrieval.py)."""
    from dudb_spark.pipeline.retrieval import bm25_retrieve

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    qs = spark.createDataFrame(
        list(enumerate(args.query, start=1)), ["query_id", "qtext"]
    )
    res = bm25_retrieve(
        df, qs, k=args.k, id_col=args.id_col, text_col=args.text_col
    )
    print("\t".join(["query_id", "rank", "doc_id", "score"]))
    for r in res.orderBy("query_id", "rank").toLocalIterator():
        print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t{r['score']}")


def cmd_pipeline_pagerank(args):
    """PageRank centrality over an undirected edge-list parquet — the
    canonical-copy picker for duplicate neighborhoods
    (pipeline/graph.pagerank); prints the top-N (id, score) TSV."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.graph import pagerank

    spark = _spark()
    edges = spark.read.parquet(expand_path(args.input))
    pr = pagerank(
        edges, iters=args.iters, damping=args.damping,
        src_col=args.src, dst_col=args.dst,
    )
    print("id\tscore")
    for r in pr.orderBy(F.desc("score"), "id").limit(args.top).collect():
        print(f"{r['id']}\t{round(r['score'], 6)}")


def cmd_pipeline_vocab(args):
    """Tokenizer-vocabulary induction + per-group OOV coverage
    (pipeline/text.vocab_oov): top-V corpus vocabulary, then
    (group, n_tokens, n_oov, oov_rate) TSV."""
    from dudb_spark.pipeline.text import vocab_oov

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = vocab_oov(
        df, top_v=args.top_v, text_col=args.text_col, group_col=args.group
    )
    print("\t".join([args.group, "n_tokens", "n_oov", "oov_rate"]))
    for r in res.orderBy(args.group).toLocalIterator():
        print(
            f"{r[args.group]}\t{r['n_tokens']}\t{r['n_oov']}\t{r['oov_rate']}"
        )


def cmd_pipeline_chunk(args):
    """Context-window chunking (pipeline/text.chunk_documents): split
    each document into overlapping token windows; writes the chunk table
    to parquet (``--out``) and prints a JSON summary."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.text import chunk_documents

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = chunk_documents(
        df, size=args.size, stride=args.stride,
        id_col=args.id_col, text_col=args.text_col,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        res = spark.read.parquet(expand_path(args.out))
    s = res.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    ).first()
    print(json.dumps({
        "size": args.size, "stride": args.stride,
        "n_docs": s["n_docs"], "n_chunks": s["n_chunks"],
        "total_tokens": s["total_tokens"], "out": args.out,
    }))


def cmd_pipeline_overlap(args):
    """Cross-source n-gram leakage matrix
    (pipeline/decontam.source_overlap_matrix): TSV of source pairs with
    shared gram-type counts and Jaccard."""
    from dudb_spark.pipeline.decontam import source_overlap_matrix

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = source_overlap_matrix(
        df, n=args.n, id_col=args.id_col,
        text_col=args.text_col, group_col=args.group,
    )
    cols = res.columns
    print("\t".join(cols))
    for r in res.orderBy(*cols[:2]).toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))


def cmd_pipeline_contam(args):
    """Benchmark decontamination (pipeline/decontam.ngram_contamination):
    corpus docs sharing word n-grams with --eval, as TSV.  ``--bloom
    M:K`` pre-filters through a Bloom membership sketch instead of
    broadcasting the exact shingle set (pipeline/sketch.bloom_bits) —
    the bounded-broadcast mode for when the FILTER side is huge; bloom
    hits are candidates (no false negatives), so the printed counts are
    the maybe-contaminated superset to feed the exact check."""
    from pyspark.sql import functions as F

    spark = _spark()
    corpus = spark.read.parquet(expand_path(args.input))
    ev = spark.read.parquet(expand_path(args.eval))
    if args.bloom:
        from dudb_spark.pipeline.dedup import (
            poly_shingle_hashes_from,
            poly_token_hash_array,
        )
        from dudb_spark.pipeline.sketch import bloom_bits, bloom_probe

        try:
            m_bits, k = (int(x) for x in args.bloom.split(":"))
        except ValueError:
            raise SystemExit("pipeline contam --bloom wants M:K (ints)")

        def shingled(df):
            base = df.select(
                args.id_col,
                poly_token_hash_array(F.col(args.text_col)).alias("_th"),
            )
            return base.select(
                args.id_col,
                F.explode_outer(
                    poly_shingle_hashes_from(F.col("_th"), args.n)
                ).alias("h"),
            ).where(F.col("h").isNotNull())

        bits = bloom_bits(shingled(ev).select("h"), "h", m_bits, k)
        probed = bloom_probe(shingled(corpus), bits, "h", m_bits, k)
        res = (
            probed.groupBy(args.id_col)
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
                .alias("n_maybe"),
            )
            .where(F.col("n_maybe") > 0)
        )
        order = [args.id_col]
    elif args.containment is not None:
        # quote-level mode: eval docs CONTAINED in corpus docs at
        # shingle containment >= the threshold — catches a benchmark
        # item pasted inside a much longer doc, which gram-count
        # overlap dilutes away (pipeline/dedup.cross_containment_join)
        from dudb_spark.pipeline.dedup import cross_containment_join

        res = cross_containment_join(
            ev, corpus, text_col=args.text_col, id_col=args.id_col,
            threshold=args.containment, shingle_k=args.n,
        ).withColumnRenamed("id_a", "eval_id") \
         .withColumnRenamed("id_b", args.id_col)
        order = ["eval_id", args.id_col]
    else:
        from dudb_spark.pipeline.decontam import ngram_contamination

        res = ngram_contamination(
            corpus, ev, n=args.n, text_col=args.text_col,
            id_col=args.id_col,
        )
        order = [args.id_col]
    cols = res.columns
    print("\t".join(cols))
    for r in res.orderBy(*order).toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))


def cmd_pipeline_outliers(args):
    """Embedding-space outliers (pipeline/similarity.label_outliers):
    the k vectors least similar to their own label centroid, as TSV."""
    from dudb_spark.pipeline.similarity import label_outliers

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = label_outliers(
        df, k=args.k, label_col=args.label,
        vec_col=args.vec_col, id_col=args.id_col,
    )
    print("label\tvec_id\tcos_centroid\trank")
    for r in res.orderBy("label", "rank").toLocalIterator():
        print(f"{r['label']}\t{r['vec_id']}\t{r['cos_centroid']}\t{r['rank']}")


def cmd_pipeline_bpe(args):
    """BPE merge-table induction (pipeline/bpe.bpe_merges): the first N
    merges over the corpus as TSV (round, lhs, rhs, merged, count)."""
    from dudb_spark.pipeline.bpe import bpe_merges

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = bpe_merges(df, rounds=args.rounds, text_col=args.text_col)
    print("merge_round\tlhs\trhs\tmerged\tpair_count")
    for r in res.collect():
        print(f"{r['merge_round']}\t{r['lhs']}\t{r['rhs']}\t"
              f"{r['merged']}\t{r['pair_count']}")


def cmd_pipeline_excise_lines(args):
    """Corpus-level repeated-line excision (C4 boilerplate cut,
    pipeline/dedup.excise_frequent_lines); writes the cleaned corpus and
    prints removal counters."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.dedup import excise_frequent_lines

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = excise_frequent_lines(
        df, args.id_col, args.text_col, min_count=args.min_count
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    agg = res.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_lines").alias("lines"),
        F.sum("n_removed").alias("removed"),
        F.count(F.when(F.col("n_removed") > 0, 1)).alias("docs_touched"),
    ).collect()[0]
    print(json.dumps({
        "docs": agg["docs"], "lines": agg["lines"],
        "removed": agg["removed"], "docs_touched": agg["docs_touched"],
        "min_count": args.min_count, "out": args.out,
    }))


def cmd_pipeline_profile(args):
    """Unsupervised column profile (operators/checks.profile_table)
    printed as TSV (column, metric, value)."""
    from dudb_spark.operators.checks import profile_table

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    cols = args.columns.split(",") if args.columns else None
    res = profile_table(df, columns=cols, top_k=args.top_k)
    print("column\tmetric\tvalue")
    for r in res.orderBy("column", "metric").collect():
        print(f"{r['column']}\t{r['metric']}\t{r['value']}")


def cmd_pipeline_dsir(args):
    """DSIR importance resampling toward a target domain
    (pipeline/dsir.dsir_select): Gumbel-top-k over hashed-ngram
    log-likelihood-ratio weights."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.dsir import dsir_select

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    pred = F.col(args.target_col) == args.target_value
    res = dsir_select(
        df, args.id_col, args.text_col, pred,
        k=args.k, n_buckets=args.buckets, salt=args.salt,
        gumbel=not args.no_gumbel,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    rows = res.collect()  # bounded: k rows
    n_tgt = (
        df.where(pred)
        .join(
            spark.createDataFrame(
                [(r[args.id_col],) for r in rows], f"{args.id_col} long"
            ),
            args.id_col,
            "left_semi",
        )
        .count()
        if rows
        else 0
    )
    print(json.dumps({
        "selected": len(rows),
        "from_target_domain": n_tgt,
        "mean_log_weight": (
            round(sum(r["log_weight"] for r in rows) / len(rows), 6)
            if rows else None
        ),
        "out": args.out,
    }))


def cmd_pipeline_labelcheck(args):
    """kNN label-noise audit (pipeline/labelcheck.knn_label_noise):
    flag rows whose neighbor majority disagrees with their label."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.labelcheck import knn_label_noise

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = knn_label_noise(
        df, k=args.k, n_clusters=args.clusters,
        vec_col=args.vec_col, id_col=args.id_col, label_col=args.label,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    agg = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("noise_candidate"), 1)).alias("flagged"),
    ).collect()[0]
    print(json.dumps({
        "rows": agg["n"], "flagged": agg["flagged"], "k": args.k,
        "out": args.out,
    }))


def cmd_pipeline_drift(args):
    """Corpus drift monitor (pipeline/drift.corpus_drift) printed as
    TSV (group, n_docs, n_grams, kl, tvd)."""
    from dudb_spark.pipeline.drift import corpus_drift

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = corpus_drift(
        df, args.text_col, args.group, n_buckets=args.buckets
    )
    print(f"{args.group}\tn_docs\tn_grams\tkl\ttvd")
    for r in res.orderBy(args.group).toLocalIterator():
        print(
            f"{r[args.group]}\t{r['n_docs']}\t{r['n_grams']}"
            f"\t{r['kl']}\t{r['tvd']}"
        )


def cmd_pipeline_lmscore(args):
    """CCNet-style bigram LM quality scoring
    (pipeline/text.bigram_logprob): score every document's mean bigram
    log-prob under a model estimated on the --train-col == --train-value
    slice; writes (doc_id, n_bigrams, mean_lp) parquet or prints a
    bounded head/middle/tail summary (the CCNet bucketing)."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.text import bigram_logprob

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = bigram_logprob(
        df,
        F.col(args.train_col) == args.train_value,
        text_col=args.text_col,
        id_col=args.id_col,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        print(json.dumps({"out": args.out}))
        return
    # CCNet tail report: terciles of the score distribution — one
    # 3-row aggregate, never the corpus
    cuts = res.select(
        F.percentile_approx("mean_lp", [1 / 3, 2 / 3], 10_000).alias("c")
    ).head()["c"]
    if cuts is None:
        # every document had <2 tokens (no bigrams) — nothing to bin
        print("bin\tn_docs")
        return
    binned = res.select(
        F.when(F.col("mean_lp") >= cuts[1], "head")
        .when(F.col("mean_lp") >= cuts[0], "middle")
        .otherwise("tail")
        .alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).alias("n_docs"))
    print("bin\tn_docs")
    for r in binned.orderBy("bin").toLocalIterator():
        print(f"{r['bin']}\t{r['n_docs']}")


def cmd_pipeline_sample_weighted(args):
    """Weight-proportional sample without replacement
    (pipeline/sampling.weighted_sample, Efraimidis–Spirakis A-ES):
    --n rows (per --group-col, if given) drawn ∝ --weight-col,
    deterministic under rerun and repartitioning.  Prints a bounded
    per-group audit (population, positive-weight population, selected,
    selected weight share) and optionally writes the rows."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.sampling import weighted_sample

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    if args.weight_col not in df.columns:
        raise SystemExit(
            f"pipeline sample-weighted: no column {args.weight_col!r} "
            f"in {args.input}"
        )
    sel = weighted_sample(
        df, args.id_col, args.weight_col, args.n,
        salt=args.salt, group_col=args.group_col,
    )
    if args.out:
        sel.write.mode("overwrite").parquet(expand_path(args.out))
    w = F.col(args.weight_col)
    gcols = [args.group_col] if args.group_col else []
    pop = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("population"),
        F.sum(F.when(w.isNotNull() & (w > 0), 1).otherwise(0)).alias(
            "pos_weight_pop"
        ),
        F.sum(F.when(w.isNotNull() & (w > 0), w).otherwise(F.lit(0.0)))
        .alias("_wtot"),
    )
    got = sel.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("selected"),
        F.sum(w).alias("_wsel"),
    )
    audit = (
        pop.join(got, gcols, "left") if gcols
        else pop.crossJoin(F.broadcast(got))
    ).select(
        *gcols, "population", "pos_weight_pop",
        F.coalesce("selected", F.lit(0)).alias("selected"),
        F.round(
            F.coalesce(F.col("_wsel"), F.lit(0.0))
            / F.greatest(F.col("_wtot"), F.lit(1e-300)), 4
        ).alias("weight_share"),
    )
    hdr = ("population\tpos_weight_pop\tselected\tweight_share")
    if gcols:
        hdr = f"{args.group_col}\t" + hdr
    print(hdr)
    # bounded: ≤|groups| rows (1 row when ungrouped)
    for r in audit.orderBy(*gcols).collect() if gcols \
            else audit.collect():
        cells = ([str(r[args.group_col])] if gcols else []) + [
            str(r["population"]), str(r["pos_weight_pop"]),
            str(r["selected"]), str(r["weight_share"]),
        ]
        print("\t".join(cells))


def cmd_pipeline_sample_exact(args):
    """Exact-budget stratified sample
    (pipeline/sampling.stratified_exact_sample): EXACTLY --budget rows,
    largest-remainder allocation across --stratum, MINSTD hash-rank
    selection inside each stratum.  Prints the per-stratum quota audit
    (≤|strata| rows) and optionally writes the selected rows."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.sampling import (
        largest_remainder_quotas,
        stratified_exact_sample,
        temperature_quotas,
        temperature_sample,
        weighted_exact_sample,
        weighted_mass_quotas,
    )

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    if args.alpha is not None and args.weight_col is not None:
        raise SystemExit(
            "pipeline sample-exact: --alpha (temperature on row "
            "counts) and --weight-col (mass allocation) are "
            "alternatives"
        )
    if args.weight_col is not None:
        # mass mode: allocate ∝ Σ weight per stratum, draw ∝ weight
        # within each stratum (A-ES)
        sel = weighted_exact_sample(
            df, args.id_col, args.stratum, args.weight_col,
            args.budget, salt=args.salt,
        )
        quotas = weighted_mass_quotas(
            df, args.stratum, args.weight_col, args.budget
        )
        drop_cols = ["rn", "quota", "capped"]
        hdr = (f"{args.stratum}\tpopulation\tw_mass\tquota\tcapped"
               "\tshortfall\tselected")

        def line(r):
            return (f"{r[args.stratum]}\t{r['population']}"
                    f"\t{r['w_mass']}\t{r['quota']}\t{r['capped']}"
                    f"\t{r['shortfall']}\t{r['selected']}")
    elif args.alpha is not None:
        # temperature rebalancing: allocation ∝ n_s**alpha; a quota may
        # exceed its stratum, the audit's shortfall column reports it
        sel = temperature_sample(
            df, args.id_col, args.stratum, args.budget,
            alpha=args.alpha, salt=args.salt,
        )
        quotas = temperature_quotas(
            df, args.stratum, args.budget, alpha=args.alpha
        )
        drop_cols = ["rn", "quota", "capped", "shortfall", "n_rows"]
        hdr = f"{args.stratum}\tpopulation\tquota\tcapped\tshortfall\tselected"

        def line(r):
            return (f"{r[args.stratum]}\t{r['population']}\t{r['quota']}"
                    f"\t{r['capped']}\t{r['shortfall']}\t{r['selected']}")
    else:
        sel = stratified_exact_sample(
            df, args.id_col, args.stratum, args.budget, salt=args.salt
        )
        quotas = largest_remainder_quotas(df, args.stratum, args.budget)
        drop_cols = ["rn", "quota", "n_rows"]
        hdr = f"{args.stratum}\tpopulation\tquota\tselected"

        def line(r):
            return (f"{r[args.stratum]}\t{r['population']}\t{r['quota']}"
                    f"\t{r['selected']}")
    if args.out:
        sel.drop(*drop_cols).write.mode("overwrite").parquet(
            expand_path(args.out)
        )
    # audit from the QUOTA frame (left-joined with selection counts),
    # not from the selected rows — a stratum allocated quota 0 must
    # still print its line, or 'allocated 0' is indistinguishable from
    # 'stratum absent'
    counts = sel.groupBy(args.stratum).agg(
        F.count(F.lit(1)).alias("selected")
    )
    audit = (
        quotas.withColumnRenamed("stratum", args.stratum)
        .join(counts, args.stratum, "left")
        .withColumn("selected", F.coalesce("selected", F.lit(0)))
        .withColumnRenamed("n_rows", "population")
    )
    print(hdr)
    for r in audit.orderBy(args.stratum).toLocalIterator():
        print(line(r))


def cmd_events_anomaly(args):
    """Rolling-window anomaly detection over an event parquet
    (operators/timeseries.rolling_anomalies).  Prints flagged rows as
    TSV (streamed, never collected) or writes them to parquet."""
    from dudb_spark.operators.timeseries import rolling_anomalies

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = rolling_anomalies(
        df,
        key_col=args.key_col,
        ts_col=args.ts_col,
        id_col=args.id_col,
        value_col=args.value_col,
        scale=args.scale,
        lookback=args.lookback,
        min_prior=args.min_prior,
        z=args.z,
    ).where("is_anomaly")
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        print(json.dumps({"out": args.out}))
        return
    print("id\tkey\tts\tvalue\tn_prior")
    for r in res.orderBy("id").toLocalIterator():
        print(f"{r['id']}\t{r['key']}\t{r['ts']}\t{r['value']}"
              f"\t{r['n_prior']}")


def cmd_events_islands(args):
    """Gaps-and-islands run detection over an event parquet
    (operators/timeseries.event_islands): maximal same-label runs per
    key, TSV streamed or parquet."""
    from dudb_spark.operators.timeseries import event_islands

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = event_islands(
        df,
        key_col=args.key_col,
        ts_col=args.ts_col,
        id_col=args.id_col,
        label_col=args.label_col,
        min_len=args.min_len,
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        print(json.dumps({"out": args.out}))
        return
    print("key\tlabel\trun_len\tmin_id\tmax_id")
    for r in res.orderBy("key", "start_ts").toLocalIterator():
        print(f"{r['key']}\t{r['label']}\t{r['run_len']}"
              f"\t{r['min_id']}\t{r['max_id']}")


def _coactivity_edges_cli(args, spark):
    """Shared by the events graph commands: undirected (src < dst)
    edges between keys sharing ≥ --min-shared distinct (label, hour)
    slots — one equi-join on the bounded slot key, never all-pairs."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(expand_path(args.input))
    slots = df.select(
        args.key_col, args.label_col,
        F.date_trunc("hour", args.ts_col).alias("_hr"),
    ).distinct()
    a = slots.select(F.col(args.key_col).alias("src"),
                     args.label_col, "_hr")
    b = slots.select(F.col(args.key_col).alias("dst"),
                     args.label_col, "_hr")
    return (
        a.join(b, [args.label_col, "_hr"])
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_sh"))
        .where(F.col("_sh") >= args.min_shared)
        .select("src", "dst")
    )


def _emit_graph_result(args, res, cols):
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
        print(json.dumps({"out": args.out}))
        return
    print("\t".join(cols))
    # all-column order: deterministic even when the first column is
    # not unique (e.g. the transition matrix's from_label)
    for r in res.orderBy(*cols).toLocalIterator():
        print("\t".join(str(r[c]) for c in cols))


def cmd_events_transitions(args):
    """First-order Markov transition matrix
    (operators/timeseries.transition_matrix): per-key adjacent label
    pairs ordered by (ts, id), exact counts + row-normalized
    probabilities."""
    from dudb_spark.operators.timeseries import transition_matrix

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = transition_matrix(df, key_col=args.key_col,
                            label_col=args.label_col,
                            ts_col=args.ts_col, id_col=args.id_col)
    _emit_graph_result(
        args, res, ["from_label", "to_label", "n_transitions", "prob"])


def cmd_events_outliers(args):
    """Median/MAD outlier audit (operators/checks.robust_outliers):
    Hampel's rule |x − med| > --k · MAD per --group-col, both
    statistics selection-exact from the grouped-quantile operator."""
    from dudb_spark.operators.checks import robust_outliers

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = robust_outliers(df, [args.group_col], args.value_col, k=args.k)
    _emit_graph_result(
        args, res,
        [args.group_col, "n_rows", "med", "mad", "n_outliers",
         "outlier_ppm"],
    )


def cmd_events_triangles(args):
    """Triangle census over the user co-activity graph
    (pipeline/graph.triangle_counts): users sharing ≥ --min-shared
    distinct (event_type, hour) slots are connected; per-user triangle
    count + clustering coefficient via the degree-ordered wedge join
    (hub-safe: O(√m) oriented out-degrees)."""
    from dudb_spark.pipeline.graph import triangle_counts

    spark = _spark()
    res = triangle_counts(_coactivity_edges_cli(args, spark))
    _emit_graph_result(args, res, ["id", "degree", "n_tri", "clustering"])


def cmd_events_communities(args):
    """Deterministic synchronous label propagation over the co-activity
    graph (pipeline/graph.label_propagation): --rounds synchronous
    updates, ties to the smallest label."""
    from dudb_spark.pipeline.graph import label_propagation

    spark = _spark()
    res = label_propagation(_coactivity_edges_cli(args, spark),
                            rounds=args.rounds)
    _emit_graph_result(args, res, ["id", "community", "community_size"])


def cmd_events_kcore(args):
    """k-core peeling over the co-activity graph
    (pipeline/graph.k_core): --rounds deterministic peel rounds at
    --k; survivors carry their in-core degree."""
    from dudb_spark.pipeline.graph import k_core

    spark = _spark()
    res = k_core(_coactivity_edges_cli(args, spark), k=args.k,
                 rounds=args.rounds)
    _emit_graph_result(args, res, ["id", "core_degree"])


def _hll_pick_p(args) -> int:
    """Resolve the register exponent: an explicit ``--p``, or the
    smallest p meeting ``--error-target`` (HLL rel. error ≈
    1.04/sqrt(2**p)), with the state-size implication printed so a user
    never ships the 6.5% demo default unknowingly (round-10 verdict
    item 7)."""
    import math

    if args.error_target is not None:
        if args.p is not None:
            raise SystemExit(
                "pipeline cardinality: --p and --error-target are "
                "mutually exclusive"
            )
        tgt = args.error_target / 100.0
        if tgt <= 0:
            raise SystemExit("pipeline cardinality: --error-target "
                             "must be a positive percent")
        p = max(4, min(18, math.ceil(2 * math.log2(1.04 / tgt))))
        err = 1.04 / math.sqrt(1 << p) * 100
        print(
            f"# error-target {args.error_target}% -> p={p} "
            f"({1 << p} registers/group, ≈{err:.2f}% rel. error, "
            f"≈{(1 << p) * 8 // 1024 or 1} KiB shuffle state/group)",
            file=sys.stderr,
        )
        return p
    return args.p if args.p is not None else 8


def cmd_pipeline_cardinality(args):
    """HyperLogLog distinct-count per group (pipeline/sketch.py): either
    distinct TOKENS of --text-col (the oracle-certified Horner-hash
    path, q146) or distinct VALUES of --value-col (xxhash64 folded to
    52 bits — the widest hash whose register/suffix split and harmonic
    sum stay bit-deterministic, sketch._MAX_EXACT_BITS; certified by
    the pure-Python xxhash64 lockstep in test_sketch_fuzz.py).  Prints
    TSV (group, est_distinct).

    ``--method kmv`` swaps the register fold for the k-minimum-values
    theta sketch (same hash paths, state = k hash values per group):
    exact below k, enables intersection/difference set estimates
    downstream (pipeline/sketch.kmv_pair_set_estimates), rel. error
    ≈ 1/sqrt(k-2)."""
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.sketch import (
        _MAX_EXACT_BITS,
        hll_distinct,
        kmv_distinct,
    )

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    if args.method == "kmv":
        if args.p is not None:
            raise SystemExit(
                "pipeline cardinality: --p is an HLL register count; "
                "use --k with --method kmv"
            )
        if args.error_target is not None:
            if args.k is not None:
                raise SystemExit(
                    "pipeline cardinality: --k and --error-target are "
                    "alternatives"
                )
            import math

            tgt = args.error_target / 100.0
            # KMV rel. error ≈ 1/sqrt(k-2) (Beyer et al. 2007)
            args.k = math.ceil(1.0 / (tgt * tgt)) + 2
            print(f"# error-target {args.error_target}% -> k={args.k} "
                  f"({args.k} hash values/group state)")
        k = args.k or 64
        if k < 3:
            raise SystemExit("pipeline cardinality: --k must be >= 3 "
                             "(the estimator divides by k-2's error "
                             "margin; k=64 is the default)")
    else:
        if args.k is not None:
            raise SystemExit(
                "pipeline cardinality: --k is a KMV sketch size; use "
                "--p with --method hll (the default)"
            )
        args.p = _hll_pick_p(args)
    if args.value_col:
        hashed = df.select(
            args.group,
            F.pmod(F.xxhash64(F.col(args.value_col)),
                   F.lit(1 << _MAX_EXACT_BITS))
            .alias("h"),
        )
        bits = _MAX_EXACT_BITS
    else:
        from dudb_spark.pipeline.dedup import poly_token_hash_array

        hashed = df.select(
            args.group,
            F.explode(
                poly_token_hash_array(F.col(args.text_col))
            ).alias("h"),
        )
        bits = 31
    if args.method == "kmv":
        res = kmv_distinct(hashed, [args.group], "h", k=k,
                           space=(1 << bits) - (1 if bits == 31 else 0))
    else:
        res = hll_distinct(hashed, [args.group], "h", p=args.p,
                           hash_bits=bits)
    print(f"{args.group}\test_distinct")
    for r in res.orderBy(args.group).toLocalIterator():
        print(f"{r[args.group]}\t{r['est_distinct']}")


def cmd_pipeline_hardneg(args):
    """Hard-negative mining (pipeline/retrieval.hard_negatives): top-k
    BM25 negatives per query after excluding the (query_id, doc_id)
    pairs in --exclude.  Prints TSV (query_id, rank, doc_id, score)."""
    from dudb_spark.pipeline.retrieval import hard_negatives

    spark = _spark()
    docs = spark.read.parquet(expand_path(args.input))
    queries = spark.read.parquet(expand_path(args.queries))
    exclude = spark.read.parquet(expand_path(args.exclude))
    res = hard_negatives(
        docs, queries, exclude, k=args.k,
        id_col=args.id_col, text_col=args.text_col,
    )
    print("query_id\trank\tdoc_id\tscore")
    for r in res.orderBy("query_id", "rank").toLocalIterator():
        print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t{r['score']}")


def cmd_plan_lint(args):
    """Scale-audit the suite's query plans (plans/linter.py): TSV of
    (query, rule, allowed?, detail) findings; exit 1 if any finding is
    not allowlisted.  ``--collect-audit`` instead audits the package
    SOURCE for driver materializations: every .collect()/.toPandas()
    site must carry a boundedness reason in linter.COLLECT_ALLOW (the
    one 100 TB hazard no plan can show).  Dev tool — needs the suite
    registry (__spark_entry__.py at the repo root) importable."""
    import importlib

    from dudb_spark.plans.linter import lint_queries

    if getattr(args, "collect_audit", False):
        from dudb_spark.plans.linter import COLLECT_ALLOW, collect_sites

        unallowed = 0
        print("site\trule\tallowed\treason")
        for rel, qual, lineno in collect_sites():
            key = f"{rel}::{qual}"
            reason = COLLECT_ALLOW.get(key)
            ok = "yes" if reason is not None else "NO"
            if reason is None:
                unallowed += 1
            print(f"{key}:{lineno}\tbounded-collect\t{ok}"
                  f"\t{reason or 'no boundedness reason registered'}")
        print(f"# {len(collect_sites())} collect sites, "
              f"{unallowed} not allowlisted")
        if unallowed:
            raise SystemExit(1)
        return

    try:
        em = importlib.import_module("__spark_entry__")
    except ImportError:
        raise SystemExit(
            "plan-lint needs the suite registry (__spark_entry__.py) "
            "on sys.path — run from the repo root"
        )
    spark = _spark()
    qs = em.queries()
    if args.queries:
        missing = [q for q in args.queries if q not in qs]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        qs = {q: qs[q] for q in args.queries}
    results = lint_queries(
        qs, spark, expand_path(args.sf),
        allow=getattr(em, "PLAN_LINT_ALLOW", {}),
    )
    n_bad = 0
    print("query\trule\tallowed\tdetail")
    for name, fs in sorted(results.items()):
        for f in fs:
            ok = "yes" if f.allowed is not None else "NO"
            if f.allowed is None:
                n_bad += 1
            print(f"{name}\t{f.rule}\t{ok}\t{f.allowed or f.detail}")
    print(f"# {len(qs)} plans linted, "
          f"{sum(len(v) for v in results.values())} findings, "
          f"{n_bad} not allowlisted")
    if n_bad:
        raise SystemExit(1)


def cmd_pipeline_select(args):
    """Greedy token-budget selection (operators/prefix.select_to_budget):
    keep the best-scoring whole-document prefix fitting the budget."""
    from pyspark.sql import functions as F

    from dudb_spark.operators.prefix import select_to_budget

    spark = _spark()
    df = spark.read.parquet(expand_path(args.input))
    res = select_to_budget(
        df, args.score_col, args.id_col, args.tokens_col, args.budget
    )
    if args.out:
        res.write.mode("overwrite").parquet(expand_path(args.out))
    agg = res.agg(
        F.count(F.lit(1)).alias("kept"),
        F.coalesce(F.sum(args.tokens_col), F.lit(0)).alias("tokens"),
    ).collect()[0]
    print(json.dumps({
        "kept_docs": agg["kept"], "kept_tokens": agg["tokens"],
        "budget": args.budget, "out": args.out,
    }))


def cmd_pipeline_report(args):
    """Corpus dataset card: per (source, lang) doc/token/quality/dup
    stats printed as TSV."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dudb_spark.pipeline.text import fingerprint, quality_score, tokens

    spark = _spark()
    d = spark.read.parquet(expand_path(args.input))
    canon = F.min(args.id_col).over(Window.partitionBy("fp"))
    base = d.select(
        F.col(args.id_col),
        "source",
        "lang",
        F.size(tokens(F.col(args.text_col))).cast("long").alias("n_tokens"),
        F.round(quality_score(F.col(args.text_col)) * 1e6).cast("long")
        .alias("q6"),
        fingerprint(F.col(args.text_col)).alias("fp"),
    ).withColumn("is_copy", F.col(args.id_col) > canon)
    rep = (
        base.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("q6").cast("double") / F.count(F.lit(1)) / 1e6, 6)
            .alias("avg_quality"),
            F.count(F.when(F.col("is_copy"), 1)).alias("n_dup_copies"),
        )
        .orderBy("source", "lang")
    )
    print("source\tlang\tn_docs\ttotal_tokens\tavg_quality\tn_dup_copies")
    for r in rep.toLocalIterator():
        print(f"{r['source']}\t{r['lang']}\t{r['n_docs']}\t"
              f"{r['total_tokens']}\t{r['avg_quality']}\t{r['n_dup_copies']}")


def cmd_config(args):
    """Describe the engine configuration (reference: `idu config`,
    main.go:104-105) — session defaults, registered calculators and
    predicate operands, and the resolved database location."""
    from dudb_spark.functions.calculators import _REGISTRY
    from dudb_spark.session import _LOCAL_CPUS

    info = {
        "engine": "dudb_spark",
        "local_cpus": _LOCAL_CPUS,
        "calculators": sorted(_REGISTRY),
        "operands": [
            "user", "group", "name", "iname", "re", "type", "newer",
            "dir-larger", "dir-smaller", "hardlink",
        ],
        "db": args.db,
    }
    print(json.dumps(info, indent=2))


def cmd_database_locate(args):
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    cat = SnapshotCatalog(spark, args.db)
    print(json.dumps({"db": args.db, "latest": cat.latest_path(),
                      "versions": cat.versions()}))


def cmd_database_compact(args):
    from dudb_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(_spark(), args.db)
    out = cat.compact(n_files=args.files)
    print(json.dumps({"compacted": out}))


def cmd_database_diff(args):
    from dudb_spark.operators.ingest import snapshot_diff
    from dudb_spark.sources.catalog import SnapshotCatalog

    spark = _spark()
    cat = SnapshotCatalog(spark, args.db)
    versions = cat.versions()
    old = args.old or (versions[-2] if len(versions) > 1 else versions[-1])
    new = args.new or versions[-1]
    prev, cur = cat.tables(old), cat.tables(new)
    d = snapshot_diff(prev.prefixes, prev.entries, cur.prefixes, cur.entries)
    for r in d.orderBy("kind", "path").toLocalIterator():
        print(f"{r['kind']}\t{r['status']}\t{r['bytes_delta']:+d}\t{r['path']}")


def cmd_database_prune(args):
    from dudb_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(_spark(), args.db)
    removed = cat.prune(keep=args.keep)
    print(json.dumps({"removed": removed, "kept": cat.versions()}))


def _add_time_flags(p):
    p.add_argument("--since", help="duration, e.g. 24h, 30m")
    p.add_argument("--from", dest="from", help="RFC3339 or YYYY-MM-DD")
    p.add_argument("--to", help="RFC3339 or YYYY-MM-DD")


def build_parser():
    ap = argparse.ArgumentParser(
        prog="dudb_spark", description="PySpark filesystem-usage analytics"
    )
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser(
        "analyze", help="crawl a tree into the metadata DB",
        description="Walk PREFIX from this process with a thread pool "
        "(--scans directories in flight) and land the scan as a new "
        "snapshot version.  Once the DB has a version, a directory whose "
        "(mtime, mode) is unchanged is listed for its child directories "
        "only: just the files of added and changed directories are "
        "stat'ed, and the rest are carried over from the latest version.",
    )
    p.add_argument("--db", required=True)
    p.add_argument("prefix")
    p.add_argument("--exclude", action="append", help="exclusion regexp")
    p.add_argument("--scans", type=int, default=32, help="concurrent scans")
    p.add_argument(
        "--force", action="store_true",
        help="bypass the unchanged-skip: rewrite every directory's "
        "entries from this scan (corrupted-snapshot recovery; the "
        "reference analyze's full-rescan override)",
    )
    p.set_defaults(func=cmd_analyze)

    p = sub.add_parser("find", help="predicate search")
    p.add_argument("--db", help="metadata DB (omit with --live)")
    p.add_argument("prefix")
    p.add_argument("expression", nargs="*", default=[])
    p.add_argument("--l", dest="long", action="store_true", help="long listing")
    p.add_argument(
        "--live", action="store_true",
        help="scan the live filesystem (fswalk DataSource) instead of a DB",
    )
    p.set_defaults(func=cmd_find)

    p = sub.add_parser("stats", help="usage statistics")
    ssub = p.add_subparsers(dest="stats_cmd", required=True)
    pc = ssub.add_parser("compute")
    pc.add_argument("--db", required=True)
    pc.add_argument("--stats-dir", required=True)
    pc.add_argument("prefix")
    pc.add_argument("expression", nargs="*", default=[])
    pc.add_argument("--calculator", default="identity")
    pc.add_argument("--count-hardlinks-as-files", action="store_true")
    pc.add_argument(
        "--incremental", action="store_true",
        help="continue the previous stats run: refold the latest "
             "snapshot with its root/expr/calculator (a mismatch or no "
             "previous run falls back to a full compute, with a warning)",
    )
    pc.set_defaults(func=cmd_stats_compute)
    pv = ssub.add_parser("view")
    pv.add_argument("--stats-dir", required=True)
    pv.add_argument("-n", type=int, default=10)
    pv.add_argument("--user", action="store_true")
    pv.add_argument("--group", action="store_true")
    pv.add_argument(
        "--units", choices=("decimal", "binary"), default="decimal",
        help="KB (decimal) vs KiB (binary) size formatting",
    )
    pv.set_defaults(func=cmd_stats_view)

    p = sub.add_parser("reports", help="report generation")
    rsub = p.add_subparsers(dest="reports_cmd", required=True)
    rg = rsub.add_parser("generate")
    rg.add_argument("--stats-dir", required=True)
    rg.add_argument("--reports-dir", required=True)
    rg.add_argument("-n", type=int, default=20)
    rg.set_defaults(func=cmd_reports_generate)
    rl = rsub.add_parser("locate")
    rl.add_argument("--reports-dir", required=True)
    rl.add_argument("-n", type=int, default=1)
    rl.set_defaults(func=cmd_reports_locate)

    p = sub.add_parser(
        "watch", help="stream live filesystem changes (fswatch source)"
    )
    p.add_argument("prefix")
    p.add_argument("--exclude", action="append", default=None,
                   help="regexp of paths to skip")
    p.add_argument("--once", action="store_true",
                   help="print the first batch and exit (with --db: "
                   "the changes since the stored snapshot; without: "
                   "the whole tree as added)")
    p.add_argument("--interval", type=float, default=2.0,
                   help="seconds between re-walks (streaming mode)")
    p.add_argument("--max-batches", type=int, default=0,
                   help="stop after N non-empty batches (0 = run forever)")
    p.add_argument("--db", help="metadata DB whose latest snapshot "
                   "seeds the feed (the stream prints only changes "
                   "since it); required by --apply")
    p.add_argument(
        "--apply", action="store_true",
        help="apply each non-empty batch to the snapshot DB as a new "
        "version (continuous ingest; requires --db with an existing "
        "analyze snapshot)",
    )
    p.add_argument(
        "--no-prune", action="store_true",
        help="exhaustive per-file rescans (detect in-place edits "
        "immediately instead of on the directory's next churn)",
    )
    p.add_argument(
        "--stats-dir",
        help="with --apply: refold the stored stats summaries after "
        "each applied batch (continues the last `stats compute` run's "
        "fold options; requires one)",
    )
    p.add_argument(
        "--state-dir",
        help="directory for the watcher's file-row snapshot parquet "
        "(default: a temp dir removed when the watch ends; set it to "
        "keep a long-running watch's state on chosen storage)",
    )
    p.set_defaults(func=cmd_watch)
    p = sub.add_parser("du", help="recursive subtree totals (du analog)")
    p.add_argument("--db", help="metadata DB (omit with --live)")
    p.add_argument("prefix", nargs="?", default="/")
    p.add_argument(
        "--live", action="store_true",
        help="scan the live filesystem (fswalk DataSource) instead of a DB",
    )
    p.add_argument("-d", "--max-depth", type=int, default=None,
                   help="limit output to N levels below prefix")
    p.add_argument("--top", type=int, default=None,
                   help="show only the N heaviest subtrees")
    p.add_argument("--sort", default="file_bytes",
                   choices=("file_bytes", "total_bytes", "storage_bytes",
                            "n_files", "n_dirs"))
    p.add_argument("--units", choices=("decimal", "binary"),
                   default="decimal")
    p.set_defaults(func=cmd_du)

    p = sub.add_parser("errors", help="scan errors")
    p.add_argument("--db", required=True)
    p.add_argument("prefix", nargs="?", default="")
    _add_time_flags(p)
    p.set_defaults(func=cmd_errors)

    p = sub.add_parser("logs", help="analyze-run logs")
    p.add_argument("--db", required=True)
    p.add_argument("--last", action="store_true", help="newest run only")
    _add_time_flags(p)
    p.set_defaults(func=cmd_logs)

    p = sub.add_parser("database", help="database admin")
    dsub = p.add_subparsers(dest="db_cmd", required=True)
    dl = dsub.add_parser("locate")
    dl.add_argument("--db", required=True)
    dl.set_defaults(func=cmd_database_locate)
    dc = dsub.add_parser("compact", help="re-cluster the latest snapshot by path")
    dc.add_argument("--db", required=True)
    dc.add_argument("--files", type=int, default=None)
    dc.set_defaults(func=cmd_database_compact)
    dp = dsub.add_parser("prune", help="drop old snapshot versions")
    dp.add_argument("--db", required=True)
    dp.add_argument("--keep", type=int, default=2)
    dp.set_defaults(func=cmd_database_prune)

    dd = dsub.add_parser(
        "diff", help="time-travel diff between two snapshot versions"
    )
    dd.add_argument("--db", required=True)
    dd.add_argument("old", nargs="?", help="old version (default: previous)")
    dd.add_argument("new", nargs="?", help="new version (default: latest)")
    dd.set_defaults(func=cmd_database_diff)

    p = sub.add_parser(
        "pipeline",
        help="corpus-pipeline operators over parquet tables "
             "(extension beyond the reference surface)",
    )
    psub = p.add_subparsers(dest="pipeline_cmd", required=True)
    pd = psub.add_parser("dedup", help="exact/minhash/simhash/semantic dedup")
    pd.add_argument("--input", required=True, help="parquet path")
    pd.add_argument("--method", default="exact",
                    choices=["exact", "minhash", "jaccard", "containment",
                             "simhash", "semantic", "cluster"])
    pd.add_argument("--id-col", default="doc_id")
    pd.add_argument("--text-col", default="text")
    pd.add_argument("--vec-col", default="embedding")
    pd.add_argument("--threshold", type=float, default=0.8)
    pd.add_argument("--max-hamming", type=int, default=3)
    pd.add_argument("--against", default=None,
                    help="minhash only: treat --input as a NEW shard "
                         "and dedup it against this already-ingested "
                         "corpus (incremental; history never "
                         "re-sketched when --band-index is given)")
    pd.add_argument("--band-index", default=None,
                    help="persisted minhash_band_index parquet of the "
                         "--against corpus (written at ingest)")
    pd.add_argument("--out", default=None)
    pd.set_defaults(func=cmd_pipeline_dedup)
    ps = psub.add_parser("split", help="deterministic train/val/test split")
    ps.add_argument("--input", required=True)
    ps.add_argument("--id-col", default="doc_id")
    ps.add_argument("--weights", default="train=0.9,val=0.05,test=0.05")
    ps.add_argument("--salt", type=int, default=0)
    ps.add_argument("--clusters", default=None,
                    help="duplicate-clusters parquet (doc_id, cluster_id): "
                         "split by cluster representative so near-dups "
                         "never straddle splits")
    ps.add_argument("--out", default=None)
    ps.set_defaults(func=cmd_pipeline_split)
    pr = psub.add_parser("report", help="corpus dataset card (TSV)")
    pr.add_argument("--input", required=True)
    pr.add_argument("--id-col", default="doc_id")
    pr.add_argument("--text-col", default="text")
    pr.set_defaults(func=cmd_pipeline_report)
    pel = psub.add_parser(
        "excise-lines",
        help="drop lines occurring >= min-count times corpus-wide (C4 cut)",
    )
    pel.add_argument("--input", required=True)
    pel.add_argument("--id-col", default="doc_id")
    pel.add_argument("--text-col", default="text")
    pel.add_argument("--min-count", type=int, default=3)
    pel.add_argument("--out", default=None)
    pel.set_defaults(func=cmd_pipeline_excise_lines)
    ppr = psub.add_parser(
        "profile", help="per-column profile: count/nulls/min/max/mean/"
        "distinct/top-k (TSV)",
    )
    ppr.add_argument("--input", required=True)
    ppr.add_argument("--columns", default=None,
                     help="comma-separated subset (default: all)")
    ppr.add_argument("--top-k", type=int, default=3)
    ppr.set_defaults(func=cmd_pipeline_profile)
    psl = psub.add_parser(
        "select-budget",
        help="keep the best-scoring whole docs under a global token budget",
    )
    psl.add_argument("--input", required=True)
    psl.add_argument("--score-col", required=True)
    psl.add_argument("--id-col", default="doc_id")
    psl.add_argument("--tokens-col", required=True)
    psl.add_argument("--budget", type=int, required=True)
    psl.add_argument("--out", default=None)
    psl.set_defaults(func=cmd_pipeline_select)
    pe = psub.add_parser(
        "embed", help="feature-hashing embeddings (hashing trick)"
    )
    pe.add_argument("--input", required=True)
    pe.add_argument("--id-col", default="doc_id")
    pe.add_argument("--text-col", default="text")
    pe.add_argument("--dim", type=int, default=64)
    pe.add_argument("--out", default=None)
    pe.set_defaults(func=cmd_pipeline_embed)
    pk = psub.add_parser(
        "skew", help="per-key shuffle-skew profile (hot keys + salt hint)"
    )
    pk.add_argument("--input", required=True)
    pk.add_argument("--key", required=True, help="column to profile")
    pk.add_argument("--top", type=int, default=10)
    pk.set_defaults(func=cmd_pipeline_skew)
    pq = psub.add_parser(
        "quantiles", help="exact grouped quantiles (scale-safe)"
    )
    pq.add_argument("--input", required=True)
    pq.add_argument("--group", required=True, help="comma-separated group cols")
    pq.add_argument("--value", required=True)
    pq.add_argument("--ps", default="0.5,0.9,0.99")
    pq.add_argument("--sketch", default=None, metavar="LO:HI:BINS",
                    help="histogram-sketch mode: bounded groups×BINS "
                         "state, error ≤ (HI-LO)/BINS")
    pq.set_defaults(func=cmd_pipeline_quantiles)
    px = psub.add_parser(
        "spandedup", help="exact n-gram span dedup (substring dedup)"
    )
    px.add_argument("--input", required=True)
    px.add_argument("--n", type=int, default=8)
    px.add_argument("--id-col", default="doc_id")
    px.add_argument("--text-col", default="text")
    px.add_argument("--out", default=None)
    px.set_defaults(func=cmd_pipeline_spandedup)
    pck = psub.add_parser(
        "check", help="data-quality gate (completeness/unique/bounds)"
    )
    pck.add_argument("--input", required=True)
    pck.add_argument("--complete", default=None,
                     help="comma-separated columns that must be non-null")
    pck.add_argument("--unique", default=None,
                     help="comma-separated key specs, columns joined by +")
    pck.add_argument("--bounds", default=None,
                     help="comma-separated col:lo:hi (empty side = open)")
    pck.add_argument("--min-rows", type=int, default=1)
    pck.set_defaults(func=cmd_pipeline_check)
    pxe = psub.add_parser(
        "excise", help="cut reference-corpus n-gram spans out of documents"
    )
    pxe.add_argument("--input", required=True)
    pxe.add_argument("--reference", required=True,
                     help="parquet path of the eval/reference corpus")
    pxe.add_argument("--n", type=int, default=8)
    pxe.add_argument("--id-col", default="doc_id")
    pxe.add_argument("--text-col", default="text")
    pxe.add_argument("--out", default=None)
    pxe.set_defaults(func=cmd_pipeline_excise)
    pg = psub.add_parser(
        "quality", help="Gopher-style quality rules (flags + pass rate)"
    )
    pg.add_argument("--input", required=True)
    pg.add_argument("--text-col", default="text")
    pg.add_argument("--out", default=None,
                    help="write passing docs to this parquet path")
    pg.set_defaults(func=cmd_pipeline_quality)
    pbl = psub.add_parser(
        "blocklist",
        help="token-level blocklist gate (C4 bad-words, density form)",
    )
    pbl.add_argument("--input", required=True)
    pbl.add_argument("--id-col", default="doc_id")
    pbl.add_argument("--text-col", default="text")
    pbl.add_argument("--terms", default=None,
                     help="comma-separated blocklist terms")
    pbl.add_argument("--terms-file", default=None,
                     help="file with one term per line")
    pbl.add_argument("--max-density", type=float, default=0.1)
    pbl.add_argument("--max-hits", type=int, default=None)
    pbl.add_argument("--out", default=None,
                     help="write KEPT input rows to this parquet path")
    pbl.set_defaults(func=cmd_pipeline_blocklist)
    pb = psub.add_parser(
        "retrieve", help="batch BM25 retrieval over a parquet corpus"
    )
    pb.add_argument("--input", required=True)
    pb.add_argument("--id-col", default="doc_id")
    pb.add_argument("--text-col", default="text")
    pb.add_argument("--k", type=int, default=10)
    pb.add_argument("query", nargs="+", help="query strings")
    pb.set_defaults(func=cmd_pipeline_retrieve)
    ppr = psub.add_parser(
        "pagerank", help="PageRank over an undirected edge-list parquet"
    )
    ppr.add_argument("--input", required=True, help="edge parquet path")
    ppr.add_argument("--src", default="id_a")
    ppr.add_argument("--dst", default="id_b")
    ppr.add_argument("--iters", type=int, default=5)
    ppr.add_argument("--damping", type=float, default=0.85)
    ppr.add_argument("--top", type=int, default=20)
    ppr.set_defaults(func=cmd_pipeline_pagerank)
    pv = psub.add_parser(
        "vocab", help="top-V vocabulary induction + per-group OOV rate"
    )
    pv.add_argument("--input", required=True)
    pv.add_argument("--text-col", default="text")
    pv.add_argument("--group", default="lang",
                    help="subcorpus column for coverage rows")
    pv.add_argument("--top-v", type=int, default=1000)
    pv.set_defaults(func=cmd_pipeline_vocab)
    pch = psub.add_parser(
        "chunk", help="overlapping context-window chunking"
    )
    pch.add_argument("--input", required=True)
    pch.add_argument("--id-col", default="doc_id")
    pch.add_argument("--text-col", default="text")
    pch.add_argument("--size", type=int, default=64,
                     help="window length in tokens")
    pch.add_argument("--stride", type=int, default=32,
                     help="window start step (== size for no overlap)")
    pch.add_argument("--out", help="parquet output path for the chunks")
    pch.set_defaults(func=cmd_pipeline_chunk)
    pov = psub.add_parser(
        "overlap", help="cross-source n-gram leakage matrix"
    )
    pov.add_argument("--input", required=True)
    pov.add_argument("--id-col", default="doc_id")
    pov.add_argument("--text-col", default="text")
    pov.add_argument("--group", default="source",
                     help="subcorpus column for the matrix axes")
    pov.add_argument("--n", type=int, default=8, help="gram length")
    pov.set_defaults(func=cmd_pipeline_overlap)
    pct = psub.add_parser(
        "contam", help="benchmark decontamination (n-gram overlap)"
    )
    pct.add_argument("--input", required=True, help="corpus parquet")
    pct.add_argument("--eval", required=True, help="eval-set parquet")
    pct.add_argument("--id-col", default="doc_id")
    pct.add_argument("--text-col", default="text")
    pct.add_argument("--n", type=int, default=5, help="gram length")
    pct.add_argument("--bloom", default=None, metavar="M:K",
                     help="Bloom pre-filter mode: bounded M-bit "
                          "broadcast, K hashes; prints the "
                          "maybe-contaminated superset (no false "
                          "negatives)")
    pct.add_argument("--containment", type=float, default=None,
                     metavar="T",
                     help="quote-level mode: eval docs contained in "
                          "corpus docs at shingle containment >= T "
                          "(exact, zero false negatives; --n is the "
                          "shingle length)")
    pct.set_defaults(func=cmd_pipeline_contam)
    pol = psub.add_parser(
        "outliers", help="per-label embedding-centroid outliers"
    )
    pol.add_argument("--input", required=True,
                     help="parquet with id/label/embedding columns")
    pol.add_argument("--id-col", default="vec_id")
    pol.add_argument("--label", default="label")
    pol.add_argument("--vec-col", default="embedding")
    pol.add_argument("--k", type=int, default=3,
                     help="outliers to keep per label")
    pol.set_defaults(func=cmd_pipeline_outliers)
    pds = psub.add_parser(
        "dsir",
        help="DSIR importance resampling toward a target domain",
    )
    pds.add_argument("--input", required=True)
    pds.add_argument("--id-col", default="doc_id")
    pds.add_argument("--text-col", default="text")
    pds.add_argument("--target-col", required=True,
                     help="column defining the target domain")
    pds.add_argument("--target-value", required=True,
                     help="value of --target-col marking target rows")
    pds.add_argument("--k", type=int, required=True,
                     help="documents to select")
    pds.add_argument("--buckets", type=int, default=256)
    pds.add_argument("--salt", type=int, default=0)
    pds.add_argument("--no-gumbel", action="store_true",
                     help="deterministic top-k by weight instead of "
                          "Gumbel resampling")
    pds.add_argument("--out", default=None)
    pds.set_defaults(func=cmd_pipeline_dsir)
    plc = psub.add_parser(
        "labelcheck", help="kNN label-noise audit over embeddings"
    )
    plc.add_argument("--input", required=True,
                     help="parquet with id/label/embedding columns")
    plc.add_argument("--id-col", default="vec_id")
    plc.add_argument("--vec-col", default="embedding")
    plc.add_argument("--label", default="label")
    plc.add_argument("--k", type=int, default=5)
    plc.add_argument("--clusters", type=int, default=16)
    plc.add_argument("--out", default=None)
    plc.set_defaults(func=cmd_pipeline_labelcheck)
    pdr = psub.add_parser(
        "drift", help="per-group KL/TVD drift vs the corpus distribution"
    )
    pdr.add_argument("--input", required=True)
    pdr.add_argument("--text-col", default="text")
    pdr.add_argument("--group", default="source")
    pdr.add_argument("--buckets", type=int, default=256)
    pdr.set_defaults(func=cmd_pipeline_drift)
    pca = psub.add_parser(
        "cardinality", help="sketched distinct-count per group (HLL/KMV)"
    )
    pca.add_argument("--method", choices=("hll", "kmv"), default="hll",
                     help="hll: fixed 2**p-register state, union-only "
                          "merges; kmv: k-minimum-values theta sketch "
                          "(enables intersection/difference set ops)")
    pca.add_argument("--k", type=int, default=None,
                     help="KMV sketch size (default 64 ≈ 12.7%% rel. "
                          "error; rel. error ≈ 1/sqrt(k-2))")
    pca.add_argument("--input", required=True)
    pca.add_argument("--group", default="source")
    pca.add_argument("--text-col", default="text",
                     help="count distinct tokens of this column")
    pca.add_argument("--value-col", default=None,
                     help="count distinct values of this column instead "
                          "(xxhash64 path)")
    pca.add_argument("--p", type=int, default=None,
                     help="register exponent: m = 2**p registers "
                          "(default 8 ≈ 6.5%% rel. error)")
    pca.add_argument("--error-target", type=float, default=None,
                     help="target relative error in percent (e.g. 1.6); "
                          "picks the smallest p meeting it "
                          "(1.04/sqrt(2**p)) and prints the state-size "
                          "implication — mutually exclusive with --p")
    pca.set_defaults(func=cmd_pipeline_cardinality)
    phn = psub.add_parser(
        "hardneg", help="BM25 hard-negative mining with exclusions"
    )
    phn.add_argument("--input", required=True, help="corpus parquet")
    phn.add_argument("--queries", required=True,
                     help="parquet with (query_id, qtext)")
    phn.add_argument("--exclude", required=True,
                     help="parquet with (query_id, doc_id) to exclude")
    phn.add_argument("--id-col", default="doc_id")
    phn.add_argument("--text-col", default="text")
    phn.add_argument("--k", type=int, default=5)
    phn.set_defaults(func=cmd_pipeline_hardneg)
    pbm = psub.add_parser(
        "bpe", help="BPE merge-table induction over the corpus"
    )
    pbm.add_argument("--input", required=True)
    pbm.add_argument("--text-col", default="text")
    pbm.add_argument("--rounds", type=int, default=8)
    pbm.set_defaults(func=cmd_pipeline_bpe)
    plm = psub.add_parser(
        "lmscore",
        help="bigram LM quality scoring (CCNet-style head/middle/tail)",
    )
    plm.add_argument("--input", required=True)
    plm.add_argument("--id-col", default="doc_id")
    plm.add_argument("--text-col", default="text")
    plm.add_argument("--train-col", default="lang",
                     help="column selecting the reference slice")
    plm.add_argument("--train-value", default="en",
                     help="value of --train-col marking reference rows")
    plm.add_argument("--out", default=None)
    plm.set_defaults(func=cmd_pipeline_lmscore)
    psw = psub.add_parser(
        "sample-weighted",
        help="weight-proportional sample without replacement (A-ES)",
    )
    psw.add_argument("--input", required=True)
    psw.add_argument("--id-col", default="doc_id")
    psw.add_argument("--weight-col", required=True,
                     help="positive weight column; NULL/non-positive "
                          "rows are excluded (w→0 limit)")
    psw.add_argument("--n", type=int, required=True,
                     help="rows to draw (per group if --group-col)")
    psw.add_argument("--group-col", default=None)
    psw.add_argument("--salt", type=int, default=0)
    psw.add_argument("--out", default=None)
    psw.set_defaults(func=cmd_pipeline_sample_weighted)

    pse = psub.add_parser(
        "sample-exact",
        help="exact-budget stratified sample (largest remainder)",
    )
    pse.add_argument("--input", required=True)
    pse.add_argument("--id-col", default="doc_id")
    pse.add_argument("--stratum", default="source")
    pse.add_argument("--budget", type=int, required=True,
                     help="exact total rows to select (≤ population)")
    pse.add_argument("--salt", type=int, default=0)
    pse.add_argument("--alpha", type=float, default=None,
                     help="temperature exponent: allocate ∝ n**alpha "
                          "(0.5 = XLM-R-style rebalancing; default "
                          "proportional)")
    pse.add_argument("--weight-col", default=None,
                     help="mass mode: allocate the budget ∝ Σ of this "
                          "integral column per stratum and draw ∝ it "
                          "within each stratum (A-ES) — alternative "
                          "to --alpha")
    pse.add_argument("--out", default=None)
    pse.set_defaults(func=cmd_pipeline_sample_exact)

    p = sub.add_parser("events", help="event-stream analytics")
    esub = p.add_subparsers(dest="events_cmd", required=True)
    ea = esub.add_parser(
        "anomaly",
        help="rolling-window anomaly detection (integer-exact z-test)",
    )
    ea.add_argument("--input", required=True, help="event parquet")
    ea.add_argument("--key-col", default="user_id")
    ea.add_argument("--ts-col", default="ts")
    ea.add_argument("--id-col", default="event_id")
    ea.add_argument("--value-col", default="value")
    ea.add_argument("--scale", type=int, default=100,
                    help="integer quantization: value units per 1.0")
    ea.add_argument("--lookback", type=int, default=12)
    ea.add_argument("--min-prior", type=int, default=6)
    ea.add_argument("--z", type=int, default=3)
    ea.add_argument("--out", default=None)
    ea.set_defaults(func=cmd_events_anomaly)
    ei = esub.add_parser(
        "islands", help="maximal same-label runs per key (gaps & islands)"
    )
    ei.add_argument("--input", required=True, help="event parquet")
    ei.add_argument("--key-col", default="user_id")
    ei.add_argument("--ts-col", default="ts")
    ei.add_argument("--id-col", default="event_id")
    ei.add_argument("--label-col", default="event_type")
    ei.add_argument("--min-len", type=int, default=2)
    ei.add_argument("--out", default=None)
    ei.set_defaults(func=cmd_events_islands)
    et = esub.add_parser(
        "triangles",
        help="triangle census of the user co-activity graph",
    )
    et.add_argument("--input", required=True, help="event parquet")
    et.add_argument("--key-col", default="user_id")
    et.add_argument("--ts-col", default="ts")
    et.add_argument("--label-col", default="event_type")
    et.add_argument("--min-shared", type=int, default=4,
                    help="distinct (label, hour) slots two users must "
                         "share to be connected")
    et.add_argument("--out", default=None)
    et.set_defaults(func=cmd_events_triangles)
    ec = esub.add_parser(
        "communities",
        help="label-propagation communities of the co-activity graph",
    )
    ec.add_argument("--input", required=True, help="event parquet")
    ec.add_argument("--key-col", default="user_id")
    ec.add_argument("--ts-col", default="ts")
    ec.add_argument("--label-col", default="event_type")
    ec.add_argument("--min-shared", type=int, default=3,
                    help="distinct (label, hour) slots two users must "
                         "share to be connected")
    ec.add_argument("--rounds", type=int, default=4,
                    help="synchronous propagation rounds")
    ec.add_argument("--out", default=None)
    ec.set_defaults(func=cmd_events_communities)
    ek = esub.add_parser(
        "kcore",
        help="k-core peeling of the co-activity graph",
    )
    ek.add_argument("--input", required=True, help="event parquet")
    ek.add_argument("--key-col", default="user_id")
    ek.add_argument("--ts-col", default="ts")
    ek.add_argument("--label-col", default="event_type")
    ek.add_argument("--min-shared", type=int, default=3)
    ek.add_argument("--k", type=int, default=3,
                    help="minimum in-core degree")
    ek.add_argument("--rounds", type=int, default=6,
                    help="peel rounds (each strictly shrinks or is a "
                         "fixpoint)")
    ek.add_argument("--out", default=None)
    ek.set_defaults(func=cmd_events_kcore)
    eo = esub.add_parser(
        "outliers",
        help="median/MAD (Hampel) outlier audit per group",
    )
    eo.add_argument("--input", required=True, help="parquet path")
    eo.add_argument("--group-col", default="event_type")
    eo.add_argument("--value-col", default="value")
    eo.add_argument("--k", type=float, default=3.0,
                    help="MAD multiples beyond the median that flag")
    eo.add_argument("--out", default=None)
    eo.set_defaults(func=cmd_events_outliers)
    etr = esub.add_parser(
        "transitions",
        help="first-order Markov transition matrix of event labels",
    )
    etr.add_argument("--input", required=True, help="event parquet")
    etr.add_argument("--key-col", default="user_id")
    etr.add_argument("--label-col", default="event_type")
    etr.add_argument("--ts-col", default="ts")
    etr.add_argument("--id-col", default="event_id")
    etr.add_argument("--out", default=None)
    etr.set_defaults(func=cmd_events_transitions)

    p = sub.add_parser("config", help="describe the current configuration")
    p.add_argument("--db", default=None)
    p.set_defaults(func=cmd_config)

    p = sub.add_parser(
        "plan-lint",
        help="lint query plans for 100TB scale anti-patterns",
    )
    p.add_argument("queries", nargs="*",
                   help="query names from the suite registry (default all)")
    p.add_argument("--sf", default="/root/testdata/sf0.001",
                   help="table directory the plans are built against")
    p.add_argument("--collect-audit", action="store_true",
                   help="audit package source for driver "
                        "materializations instead of linting plans")
    p.set_defaults(func=cmd_plan_lint)

    p = sub.add_parser("expression-syntax", help="print the predicate grammar")
    p.set_defaults(func=lambda a: print(EXPRESSION_SYNTAX))
    return ap


def main(argv=None):
    args = build_parser().parse_args(argv)
    # F3: every configured path accepts $VAR / ~ (applied centrally so
    # each subcommand sees the resolved location)
    for attr in ("db", "prefix", "out"):
        v = getattr(args, attr, None)
        if isinstance(v, str):
            setattr(args, attr, expand_path(v))
    from dudb_spark.sources.catalog import RetiredLayoutError

    try:
        args.func(args)
    except RetiredLayoutError as e:
        raise SystemExit(str(e)) from None
    return 0


if __name__ == "__main__":
    sys.exit(main())
