"""Incremental stats maintenance: update a stored ``stats compute``
snapshot after a ``merge_scan`` without re-folding the whole tree.

The reference re-runs ``idu analyze`` incrementally (unchanged-skip,
analyze.go:226–243) but recomputes stats from scratch each time
(``idu stats compute`` walks the full stored DB, stats.go:150–209).  At
100 TB a 0.1 % nightly change makes the full refold the dominant cost —
this operator is the scale path: re-fold ONLY the directories a merge
touched, plus the closure needed to keep hardlink dedup exact, and stitch
the result onto the previous summary tables.

Exactness argument (why the closure suffices)
---------------------------------------------
The fold is per-directory-local EXCEPT for hardlink dedup: a row's
``_is_dup`` flag depends on the other members of its (device, inode)
group (lexicographically-first path wins, stats.py:105–110).  So:

1. Seed: the merge's added/changed/deleted paths (``MergeResult.touched``).
2. Support keys *I*: every (device, inode) appearing under a seed path in
   the previous OR merged snapshot — groups that gained, lost, or kept a
   member there.  Any group NOT in *I* has identical membership before
   and after the merge, so its flags are unchanged.
3a. First-round closure: seeds ∪ parents of merged rows whose key ∈ *I*.
3b. Flip-round closure: a *directory record* whose key ∈ *I* may flip its
   own dup flag (its record group gained or lost a member), and a flipped
   directory's ENTRIES enter or leave the file-dedup windows — which can
   flip file canonicals under directories nowhere near the seed.  So take
   *F* = paths of merged records with key ∈ *I* (the only records that
   can flip: record-group membership changes only under seeds), collect
   *I₂* = keys under *F* (prev OR new), and add parents of merged rows
   with key ∈ *I₂*.  No further rounds are needed: flips occur only in
   groups whose record membership changed (⊆ *I*), so after this round
   every group whose window membership changed (⊆ *I* ∪ *I₂*) has all its
   members' parents in *A*.
4. Flag support: folding *A* exactly needs the flags of every row under
   *A*; a flag is exact when the row's whole group is present.  Groups
   with a member under a seed lie entirely inside *A* (their parents are
   in *A* by step 3).  Other groups under *A* have unchanged membership —
   recomputing their flag over the full group (pulling members whose
   parents are outside *A* into the fold INPUT, discarding those parents'
   partial output rows) reproduces the stored flags.

The refold input is therefore: prefixes with path ∈ *A* plus record-key
group support, entries with key ∈ keys(entries under *A*).  Everything
else rides over from the previous summary unchanged.

Cost shape: three semi-joins on (device, inode) / path over the merged
snapshot — each a broadcast join at realistic change rates — plus a fold
over the touched slice.  Nothing scans proportional to tree size except
the narrow semi-join probes, which prune to (parent, device, inode).

Storage-layout note (the next rung at 100 TB): the probes are full
narrow scans here because localCheckpoint/plain-parquet stand-ins carry
no partition metadata.  Stored snapshots partitioned by an inode bucket
(``pmod(xxhash64(device, inode), N)``) would let the three KEY-side
probes (via/via2/support) dynamic-partition-prune to the churn's
buckets, and a path-bucket partitioning does the same for the two
path-side probes — turning probe cost from O(tree-narrow-scan) into
O(churn).  The closure algebra above is layout-independent, so this is
purely a writer-side choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dudb_spark.operators.stats import StatsOptions, StatsResult, compute_stats

_KEY = ["device", "inode"]


def incremental_stats(
    prev: StatsResult,
    prev_prefixes: DataFrame,
    prev_entries: DataFrame,
    new_prefixes: DataFrame,
    new_entries: DataFrame,
    touched: DataFrame,
    opts: StatsOptions | None = None,
    pin_inputs: bool = True,
    bounded_churn: bool = True,
    path_buckets: int | None = None,
    prev_spill: DataFrame | None = None,
    new_spill: DataFrame | None = None,
    spill_rows: int | None = None,
) -> StatsResult:
    """New summary tables after a merge, folding only the touched slice.

    ``opts`` must equal the options of the fold that produced ``prev``
    (same root/expr/calculator) — the rows carried over are reused
    verbatim.  ``touched`` is ``MergeResult.touched``.

    ``pin_inputs``: the merged snapshot feeds every later stage; when it
    is an unwritten merge DAG (the q77 gate shape) the lazy plan would
    re-execute the whole merge once per fold branch, so it is
    localCheckpoint'ed.  Pass ``False`` when ``new_prefixes``/
    ``new_entries`` are plain scans of a stored snapshot (the production
    path — the CLI does) — checkpointing would pointlessly materialize
    the full table.  The closure sets below are tiny by construction
    (change-rate × tree), so those pins are cheap at any scale.

    ``bounded_churn``: the closure build sides are churn-proportional,
    so by default they carry broadcast hints (the round-4 q77 clawback).
    A worst-case churn — a root-level touch or mass rename that pulls
    the whole tree into the closure — would make those broadcasts
    unbounded and can OOM; pass ``False`` when churn cannot be bounded
    and AQE's size-based join planning picks broadcast vs shuffle from
    the actual build-side size instead.

    ``path_buckets``: set to the snapshot's bucketed-layout width (see
    ``SnapshotCatalog.write_snapshot(layout="bucketed")``) when all four
    snapshot frames are scans of that layout and carry its ``pb``
    column.  Churn is directory-localized, so the PATH-side closure
    probes (seed keys, flip keys, fold support) then prune to the
    churn's buckets — partition-pruned scans instead of full narrow
    scans — and the flip round is skipped outright when no directory
    record sits in a seed group (one count on the pinned via set; flips
    are rare outside hardlinked-dir trees).  The KEY-side probes
    (via/via2/fold-entry membership) still scan the tree's narrow
    (device, inode) projection when no spill index is supplied: hash
    buckets cannot prune them because churn keys spread uniformly across
    buckets.

    ``prev_spill``/``new_spill``: each snapshot's hardlink SPILL INDEX
    (``SnapshotCatalog.spill_index()`` — the distinct (device, inode,
    pb) of keys with ≥2 member rows).  With both supplied, the KEY-side
    scans prune too, making the whole closure O(churn + spill hits):
    a group member outside the churn's buckets exists only if its key
    has ≥2 members in prev or new — singleton keys' only member is the
    churned row itself.  Completeness case-analysis (why prev ∪ new
    index covers every member of a seed-touched group):

    - member row r of group K under an UNTOUCHED dir is present in both
      snapshots; the seed-side member s of K is in prev (so prev index
      lists (K, bucket(r))) or was just added (new index lists it) —
      either way r's bucket is probed;
    - r under a TOUCHED dir is inside the seed buckets already;
    - a row new to the snapshot (add/move target) is always under a
      touched dir, so "r only in new and outside seed buckets" cannot
      occur.

    The same argument applies to the flip round (an untouched flip-dir's
    contents are in both snapshots) and to fold support (all-new-side
    groups).  Results are value-identical to the un-bucketed path
    (test_incremental.py: layout equivalence + the closure fuzz).

    ``spill_rows``: the spill index's row count when the caller already
    knows it (``SnapshotCatalog.layout()["spill_rows"]``, recorded at
    write time) — skips the is-it-empty probe job.  Pass the SUM over
    prev and new when both indexes are supplied.

    Driver round-trips: every synchronous action (bucket/spill
    collects, gates, checkpoints) is counted and reported in the
    result's ``meta["closure_jobs"]`` — the local latency floor is
    #jobs × per-job round-trip, which is what dominates t_inc on tiny
    local fixtures (BENCH_NOTES).  The flip round gates on RECORD-MULTI
    spill keys (index column ``rec``: keys with ≥2 prefix-record rows —
    hardlinked directories): only those records can flip their
    record-level dup flag, so trees without hardlinked dirs (the
    overwhelming majority) skip the whole flip round — its bucket
    collect, key checkpoint, and spill lookup all vanish.  Older
    indexes without ``rec`` degrade to the conservative all-keys gate.
    """
    opts = opts or StatsOptions()
    import os as _os
    import sys as _sys
    import time as _time
    _trace_on = bool(_os.environ.get("DUDB_INC_TRACE"))
    _jobs = [0]

    def _tr(label, f):
        """Count (and, under DUDB_INC_TRACE, time) the closure's
        synchronous driver actions — the label names the job being
        forced."""
        _jobs[0] += 1
        if not _trace_on:
            return f()
        t0 = _time.perf_counter()
        r = f()
        print(f"  inc[{label}]: {_time.perf_counter() - t0:.2f}s",
              file=_sys.stderr, flush=True)
        return r
    if pin_inputs:
        new_prefixes = new_prefixes.localCheckpoint()
        new_entries = new_entries.localCheckpoint()
    # touched/via stay lazy: their plans sit on the pinned inputs (or the
    # merge's cached classification join), so re-deriving them per
    # consumer is a narrow scan — a checkpoint here would cost a
    # synchronous job to save nothing (measured: each pin ≈ a full
    # job round-trip, the dominant cost of the certification fixture).
    # Every set below feeds ONLY semi/anti-join build sides, where
    # duplicates are harmless — so no intermediate .distinct() anywhere:
    # each one would add a whole AQE shuffle stage (measured ~0.2 s per
    # stage on the 29-dir gate) to shrink frames already bounded by the
    # change volume.
    touched = touched.select("path")

    def _bc(df: DataFrame) -> DataFrame:
        """Broadcast hint, gated: closure sets are churn-bounded only
        when the caller says so; otherwise AQE decides from real size."""
        return F.broadcast(df) if bounded_churn else df

    # ONE narrow membership view per snapshot side — (ppath, device,
    # inode) with ppath = the record's own path for prefixes and the
    # parent for entries — shared by every closure round below, instead
    # of re-deriving four projections per round.  ``mrows`` additionally
    # carries is_record so one semi-join answers both halves of the old
    # per-round "_via" pair.
    bucketed = path_buckets is not None
    if bucketed:
        for side in (prev_prefixes, prev_entries, new_prefixes, new_entries):
            if "pb" not in side.columns:
                raise ValueError(
                    "path_buckets set but a snapshot frame has no 'pb' "
                    "column — pass scans of a bucketed-layout snapshot "
                    "(SnapshotCatalog.write_snapshot(layout='bucketed'))"
                )

    def _pb(col):
        return F.pmod(F.xxhash64(col), F.lit(path_buckets)).cast("int")

    def _buckets(paths: DataFrame) -> list:
        """Distinct layout buckets of a churn-bounded path set (collected
        driver-side: at most ``path_buckets`` ints, from a frame bounded
        by the change volume — the same driver boundary as the CC
        convergence check)."""
        return _tr("bucket collect", lambda: [
            r[0]
            for r in paths.select(_pb(F.col("path")).alias("b"))
            .distinct()
            .collect()
        ])

    def _rows(prefixes: DataFrame, entries: DataFrame):
        extra = (["pb"] if bucketed else [])
        return prefixes.select(
            F.col("path").alias("ppath"), *_KEY,
            F.lit(True).alias("is_record"), *extra,
        ).unionByName(
            entries.select(
                F.col("parent").alias("ppath"), *_KEY,
                F.lit(False).alias("is_record"), *extra,
            )
        )

    mrows = _rows(new_prefixes, new_entries)
    probe = _rows(prev_prefixes, prev_entries).unionByName(mrows)

    def _keys_of(paths: DataFrame, path_bl: list | None = None):
        """Keys present under ``paths`` in the previous OR merged snapshot
        (as a multiset — only ever consumed as a semi-join build side).
        Under the bucketed layout the probe scan partition-prunes to the
        buckets of ``paths`` (``path_bl`` when pre-collected) — every row
        with ppath ∈ paths lives in one of those buckets by
        construction."""
        src = probe
        if bucketed:
            src = src.where(
                F.col("pb").isin(
                    _buckets(paths) if path_bl is None else path_bl
                )
            )
        return src.join(
            _bc(paths.withColumnRenamed("path", "ppath")),
            "ppath",
            "left_semi",
        ).select(*_KEY)

    spill = None
    spill_empty = True
    if bucketed and prev_spill is not None and new_spill is not None:
        spill = prev_spill.unionByName(new_spill, allowMissingColumns=True)
        # trees without hardlink groups (or whose groups were untouched
        # by compaction) have an EMPTY index: every closure member then
        # sits inside the churn's own buckets and all three index
        # lookups below vanish.  The caller usually knows the count from
        # the layout metadata; otherwise one limit(1) job on a tiny
        # table.
        if spill_rows is not None:
            spill_empty = spill_rows == 0
        else:
            spill_empty = _tr(
                "spill gate", lambda: spill.limit(1).count() == 0
            )

    def _spill_buckets(keys: DataFrame) -> list:
        """Buckets holding out-of-churn members of multi-member groups
        among ``keys`` — one scan of the tiny spill index plus a
        driver-side collect of ≤ path_buckets ints."""
        if spill_empty:
            return []
        return _tr("spill collect", lambda: [
            r[0]
            for r in spill.join(_bc(keys), _KEY, "left_semi")
            .select("pb")
            .distinct()
            .collect()
        ])

    def _key_rows(src: DataFrame, keys: DataFrame, seed_buckets) -> DataFrame:
        """Rows of ``src`` whose key ∈ ``keys``.  With a spill index the
        scan prunes to the seed buckets plus the index's member buckets
        (complete by the case analysis in the docstring); otherwise the
        full narrow frame is scanned."""
        if spill is not None:
            bl = sorted(set(seed_buckets) | set(_spill_buckets(keys)))
            src = src.where(F.col("pb").isin(bl))
        return src.join(_bc(keys), _KEY, "left_semi")

    # 2 + 3a. support keys of the seeds; merged rows in those groups
    # (entries contribute their parent, records their own path)
    seed_buckets = _buckets(touched) if bucketed else None
    seed_keys = _keys_of(touched, path_bl=seed_buckets)
    if not spill_empty:
        # consumed by the index lookup AND the via join: pin the
        # churn-bounded key set so each broadcast build reads a
        # checkpoint instead of re-running the probe scan
        seed_keys = _tr("seed_keys pin", seed_keys.localCheckpoint)
    via = _key_rows(mrows, seed_keys, seed_buckets).select(
        F.col("ppath").alias("path"), *_KEY, "is_record"
    )
    if bucketed:
        # pinned so the flip gate below is one cheap count and the
        # affected union doesn't recompute the seed round.  (The plain
        # path deliberately does NOT pin: its via branches run in
        # parallel inside the single affected job, and a pin serializes
        # that work into its own job round-trip — measured net-negative,
        # the q166-pin lesson.)
        via = _tr("via pin", via.localCheckpoint)
    via_records = via.where("is_record").select("path")

    # 3b. flip round: records in seed groups can flip their dir-level dup
    # flag, moving their entries in/out of the file-dedup windows — pull in
    # the parents of every merged row sharing a key with anything under a
    # potentially-flipping record.  One round closes the cascade (flips
    # happen only in groups whose record membership changed, i.e. seed
    # groups), restoring the exact-hardlink-closure contract for
    # dir-hardlink promotions/demotions (round-2 advice repro:
    # test_incremental.py::test_dir_hardlink_flip_cascade).
    # A record can flip ONLY when its key has ≥2 record rows in prev or
    # new (a singleton record group is always canonical), i.e. the key
    # is rec-marked in the spill index — so with an index present the
    # round gates on (and the flip seed set *F* prunes to) records with
    # rec-multi keys: trees without hardlinked DIRECTORIES skip the
    # whole round, including its bucket collect and key checkpoint.  An
    # empty index means no multi-row keys at all — no flip possible.
    run_flip = True
    flip_seed = via_records
    flip_buckets = None
    if bucketed:
        if spill is not None and spill_empty:
            run_flip = False
        else:
            if spill is not None:
                # coalesce(True): an older index without the rec column
                # (or a mixed-schema union) degrades to the conservative
                # all-spill-keys gate
                rec_keys = spill.where(
                    F.coalesce(F.col("rec"), F.lit(True))
                    if "rec" in spill.columns
                    else F.lit(True)
                ).select(*_KEY)
                flip_seed = via.where("is_record").join(
                    _bc(rec_keys), _KEY, "left_semi"
                ).select("path")
            # the bucket collect IS the gate: an empty flip seed has no
            # buckets, so ONE job answers both questions (was: a
            # limit(1) gate job, then a second bucket-collect job when
            # the flip ran)
            flip_buckets = _buckets(flip_seed)
            run_flip = len(flip_buckets) > 0
    else:
        # rec-multi gate, plain layout: only a record whose (device,
        # inode) group has ≥2 PREFIX-RECORD rows in prev or new can
        # flip its dir-level dup flag (a singleton record group is
        # always canonical) — the same argument the bucketed path's
        # spill-index ``rec`` gate already certifies.  The gate probes
        # ONLY the prefix frames (O(directories), narrow columns — one
        # ~0.2 s job), never the entry-side scans: trees without
        # hardlinked DIRECTORIES — the overwhelming majority — skip the
        # flip round's full probe + mrows re-scans inside the affected
        # job.  The ≥2 count runs PER SNAPSHOT SIDE (a record present in
        # both snapshots is still a singleton group — counting over the
        # union would double it and fire the gate on every tree).  When
        # the gate fires, the flip seed is restricted to rec-multi
        # records — value-identical (singleton-group records cannot
        # flip) and it prunes the flip round's key probe.
        def _rec_multi_of(prefixes: DataFrame) -> DataFrame:
            return (
                prefixes.select(*_KEY)
                .groupBy(*_KEY)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") >= 2)
                .select(*_KEY)
            )

        rec_multi = _rec_multi_of(prev_prefixes).unionByName(
            _rec_multi_of(new_prefixes)
        )
        run_flip = _tr(
            "flip gate", lambda: rec_multi.limit(1).count() > 0
        )
        if run_flip:
            flip_seed = via.where("is_record").join(
                _bc(rec_multi), _KEY, "left_semi"
            ).select("path")
    if run_flip:
        flip_keys = _keys_of(flip_seed, path_bl=flip_buckets)
        if not spill_empty:
            flip_keys = _tr("flip_keys pin", flip_keys.localCheckpoint)
        via2 = _key_rows(mrows, flip_keys, flip_buckets).select(
            F.col("ppath").alias("path")
        )

    # affected is a PATH set: members repeat once per row that matched a
    # group (a directory appears once per file in it), so dedup collapses
    # it by orders of magnitude before it is pinned and broadcast to the
    # stitches — the one distinct that pays for its shuffle stage.  The
    # KEY sets above stay multisets (inodes barely repeat; a distinct
    # there costs a stage to save nothing).
    affected = touched.unionByName(via.select("path"))
    if run_flip:
        affected = affected.unionByName(via2)
    _aff = affected
    affected = _tr("affected pin", _aff.distinct().localCheckpoint)

    # 4. fold input: full groups of every key present under *A*
    # (mrows restricted to *A* IS "keys under affected" on the new side);
    # the support probe prunes to A's buckets under the bucketed layout
    support_src = mrows
    aff_buckets = _buckets(affected) if bucketed else None
    if bucketed:
        support_src = support_src.where(F.col("pb").isin(aff_buckets))
    support_keys = support_src.join(
        _bc(affected.withColumnRenamed("path", "ppath")),
        "ppath",
        "left_semi",
    ).select(*_KEY)
    if not spill_empty:
        support_keys = _tr("support pin", support_keys.localCheckpoint)
    fold_src = new_entries
    if spill is not None:
        # members of support groups outside A's buckets exist only for
        # multi-member keys — prune the wide entry scan to A plus the
        # index's member buckets (same completeness argument as via)
        fold_src = fold_src.where(
            F.col("pb").isin(
                sorted(set(aff_buckets) | set(_spill_buckets(support_keys)))
            )
        )
    fold_entries = _tr(
        "fold_entries pin",
        fold_src.drop("pb").join(
            _bc(support_keys), _KEY, "left_semi"
        ).localCheckpoint,
    )
    # same collapse argument: one path per folded entry -> distinct
    fold_parents = fold_entries.select(
        F.col("parent").alias("path")
    ).unionByName(affected).distinct()
    if bucketed:
        # fold parents = A ∪ parents of group members outside A — every
        # one lives in aff_buckets or a bucket of a fold-entry parent, so
        # the FIRST prefix path-probe prunes to those buckets (the second
        # set is one cheap distinct over the pinned fold slice).  The
        # record-group support scans below stay on the FULL prefix frame:
        # a record sharing a (device, inode) group with a fold prefix can
        # live in any bucket, and prefix records are O(directories) —
        # cheap relative to the entry-side scans either way.
        parent_buckets = sorted(
            set(aff_buckets)
            | set(
                _tr("parent buckets", lambda: [
                    r[0]
                    for r in fold_entries.select(
                        _pb(F.col("parent")).alias("b")
                    )
                    .distinct()
                    .collect()
                ])
            )
        )
        prefix_probe = new_prefixes.where(
            F.col("pb").isin(parent_buckets)
        ).drop("pb")
        new_prefixes = new_prefixes.drop("pb")
    else:
        prefix_probe = new_prefixes
    fold_prefixes = prefix_probe.join(
        _bc(fold_parents), "path", "left_semi"
    )
    # prefix-record dedup groups need the same completeness
    record_keys = fold_prefixes.select(*_KEY)
    fold_prefixes = _tr(
        "fold_prefixes pin",
        new_prefixes.join(
            _bc(
                fold_prefixes.select("path").unionByName(
                    new_prefixes.join(
                        _bc(record_keys), _KEY, "left_semi"
                    ).select("path")
                )
            ),
            "path",
            "left_semi",
        ).localCheckpoint,
    )

    res = compute_stats(fold_prefixes, fold_entries, opts)

    # the previous grains ride over unchanged outside *A*; inside it the
    # fold's rows replace them (one stitch covers all three grains)
    aff = _bc(affected.withColumnRenamed("path", "prefix"))
    grains = prev.grains.join(aff, "prefix", "left_anti").unionByName(
        res.grains.join(aff, "prefix", "left_semi")
    ).select(*res.grains.columns)
    return StatsResult(
        grains, dict(prev.meta, incremental=True, closure_jobs=_jobs[0])
    )


def refold_recommended(
    touched_count: int, n_prefixes: int, threshold: float = 0.02, *,
    prunable: bool,
) -> bool:
    """Choice between the incremental closure and a plain full refold,
    made from snapshot metadata before any Spark job runs.

    Rule: ``threshold <= 0`` forces the closure (the switch that keeps
    it testable).  Otherwise refold whenever the closure cannot prune
    (``prunable`` is False: the two snapshots are not both bucketed
    with one ``path_buckets``), and on prunable snapshots refold once
    the churn fraction (touched directories / tree directories) reaches
    ``threshold``.

    Why the closure needs pruning: its probes scan BOTH whole snapshots
    on the plain layout, so it costs a refold's scans plus ~25 more
    driver-sequential jobs, and loses at every size measured on 4 vCPUs
    (local mode, warm JVM, 1% of leaf dirs churned):

    - 3.7k entries (the benchmark tree): the snapshot diff took 1.9 s
      and 6 jobs and the closure 6.4 s and 25 jobs; the refold is 8 jobs.
    - 104k entries (11.5k dirs, 118 touched; 10 groups of 1,150 leaf
      dirs of 8 files): diff + unpruned closure 8.9-9.9 s and 31 jobs,
      refold 3.4-3.8 s and 8 jobs, two runs each.  On bucketed
      snapshots of that tree the pruned closure took 12.8-17.9 s and
      63 jobs against a 3.7-4.1 s, 10-job refold.
    - ~400k entries: closure 14.1 s, refold 7.8 s.

    Why the churn gate on prunable snapshots: the bucket-pruned
    closure's cost is churn-proportional data plus a FIXED overhead of
    driver-sequential jobs, while the refold is one tree-proportional
    fold — at 18M entries it wins 1.9x at 0.6% churn and LOSES (0.66x)
    at 2.9% (BENCH_NOTES round-6/7); 2% is the shipped default.
    """
    if threshold <= 0:
        return False
    if not prunable:
        return True
    return touched_count >= threshold * max(n_prefixes, 1)
