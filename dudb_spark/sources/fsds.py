"""Filesystem walk as a native Spark Python DataSource (``fswalk``).

The reference's walk is an ingest-only pipeline (S1, analyze.go:104–123);
this module additionally exposes the SAME walk through Spark's DataSource
API (pyspark 4, SPARK-44076) so the live filesystem is directly queryable
without an ingest step::

    from dudb_spark.sources.fsds import register
    register(spark)
    df = spark.read.format("fswalk").load("/data")          # entries rows
    df.where("NOT is_dir AND size > 1024").groupBy("uid").count()

Rows carry the exact ``entries`` table schema (model.py ENTRIES_SCHEMA),
so every operator downstream of ingest — find expressions, stats folds,
calculators — runs unchanged over the live tree.

Scale shape: ``partitions()`` shards the walk at the root's first level
(one InputPartition per top-level subtree plus one for the root's own
listing), and each executor walks its subtree breadth-first with the
shared ``crawler._scan_one`` (symlinks recorded but never descended, the
S2 contract).  On a 1000-executor cluster that is the reference's
"thousands of simultaneous stat requests" issued from executors, with
Spark handling scheduling/retries, behind the engine's native source
API (predicates/column pruning arrive via the normal DataFrame planner;
pushdown into the walk itself is not needed because the walk IS the
scan).

Error channel: unreadable paths are emitted IN-BAND as rows with a
non-null ``error`` column (path/parent/name filled, stat fields null) —
mirroring the ingest path's error bucket (S9, analyze.go:141–150) so the
live route drops nothing silently.  ``live_tables`` filters them out of
the entries frame and hands back a lazy errors frame; the CLI's
``--live`` commands print the unreadable count.  Plain
``spark.read.format("fswalk")`` consumers see ``error IS NULL`` rows as
the walk result and can select the error rows explicitly.

Caveat (documented, deliberate): sharding splits at the shallowest
levels only (see ``partitions()``) — a tree that is one deep chain
still serializes into a single partition (matching the reference's own
concurrency limit on such trees).
"""

from __future__ import annotations

import os as _os
import re
import stat as stat_mod

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from dudb_spark.sources.crawler import _entry_row

_FIELDS = (
    "parent", "name", "path", "is_dir", "size", "blocks", "mode",
    "mtime", "uid", "gid", "device", "inode",
)

_DDL = (
    "parent string, name string, path string, is_dir boolean, "
    "size long, blocks long, mode long, mtime timestamp, "
    "uid long, gid long, device long, inode long, error string"
)


def _error_row(path: str, detail: str) -> tuple:
    """In-band error row: path/parent/name filled, stat fields null,
    ``detail`` in the trailing error column."""
    row = [None] * len(_FIELDS)
    row[_FIELDS.index("parent")] = _os.path.dirname(path) or None
    row[_FIELDS.index("name")] = _os.path.basename(path)
    row[_FIELDS.index("path")] = path
    return tuple(row) + (detail,)


def _stat_row(parent: str, name: str, st, is_dir: bool) -> tuple:
    """One lstat result as a row tuple (fields + null error)."""
    er = _entry_row(parent, name, st, is_dir)
    return tuple(er[f] for f in _FIELDS) + (None,)


class _Subtree(InputPartition):
    def __init__(self, root: str, recurse: bool, listed=None):
        self.root = root
        self.recurse = recurse
        # listing-only partitions peeled by partitions() carry the
        # driver's own scan result so the executor does not re-list the
        # same directory (bounded: <=3 peel levels x min_partitions dirs)
        self.listed = listed


class FsWalkReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fswalk: .load(path) is required")
        self.exclude = options.get("exclude")  # single regex, or absent
        # expand listing levels until at least this many partitions exist
        # (skewed trees: one huge top-level subtree must not serialize
        # the walk into one task)
        self.min_partitions = int(options.get("min_partitions", "16"))
        # max entries a peeled listing may carry inside the partition
        # object (larger dirs are re-listed on the executor instead of
        # pickled through the scheduler RPC)
        self.max_carried = int(options.get("max_carried", "100000"))

    def partitions(self):
        from dudb_spark.sources.crawler import _scan_one

        pats = [re.compile(self.exclude)] if self.exclude else []
        root = self.path.rstrip("/") or "/"
        _, entries, errors, children = _scan_one(root, pats)
        # the root's own listing is one (non-recursive) partition; each
        # frontier subtree walks independently on an executor.  When the
        # fan-out so far is below min_partitions (a skewed or narrow
        # tree), peel another level: each frontier dir becomes a
        # listing-only partition and its children join the frontier —
        # driver cost is one extra listdir level, bounded to 3 levels.
        # Peeled listings ride INSIDE the partition object so executors
        # never re-list a directory the driver already scanned — but
        # only up to a size cap: the peel bound limits the NUMBER of
        # dirs, not entries per dir, and a multi-million-entry directory
        # (exactly the skewed shape that triggers peeling) must not be
        # pickled through the scheduler RPC; above the cap the partition
        # ships just the path and the executor re-lists it.
        def subtree(path, listing):
            entries, errors = listing
            if len(entries) + len(errors) > self.max_carried:
                return _Subtree(path, False)
            return _Subtree(path, False, (entries, errors))

        parts = [subtree(root, (entries, errors))]
        frontier = children
        for _level in range(3):
            if len(parts) + len(frontier) >= self.min_partitions:
                break
            nxt = []
            for c in frontier:
                _, entries, errors, ch = _scan_one(c, pats)
                parts.append(subtree(c, (entries, errors)))
                nxt.extend(ch)
            if not nxt:
                frontier = []
                break
            frontier = nxt
        return parts + [_Subtree(c, True) for c in frontier]

    def read(self, partition):
        from dudb_spark.sources.crawler import _scan_one

        def emit(entries, errors):
            for e in entries:
                yield tuple(e[f] for f in _FIELDS) + (None,)
            # unreadable paths: in-band error rows (see module doc)
            for err in errors:
                yield _error_row(err["path"], err["detail"])

        if partition.listed is not None and not partition.recurse:
            yield from emit(*partition.listed)
            return
        pats = [re.compile(self.exclude)] if self.exclude else []
        level = [partition.root]
        while level:
            nxt = []
            for p in level:
                _, entries, errors, children = _scan_one(p, pats)
                yield from emit(entries, errors)
                if partition.recurse:
                    nxt.extend(children)
            level = nxt


class FsWalkDataSource(DataSource):
    @classmethod
    def name(cls):
        return "fswalk"

    def schema(self):
        return _DDL

    def reader(self, schema):
        return FsWalkReader(self.options)


def register(spark) -> None:
    """Register the ``fswalk`` format on a session (idempotent)."""
    spark.dataSource.register(FsWalkDataSource)


def live_tables(
    spark, root: str, exclude: str | None = None, cache: bool = True,
    with_errors: bool = False,
):
    """(prefixes, entries) frames over the LIVE filesystem — the ingest
    tables' shapes derived from one fswalk scan, so ``find``/``stats``
    run against the tree with no database (the CLI's ``find --live``).

    The prefixes frame is the dir rows of the scan plus the root's own
    record (stat'ed driver-side — one lstat), with ``depth`` computed
    from the path and ``n_entries`` joined back from a per-parent count
    of the same scan.  Everything else stays lazy: predicates the
    caller pushes (find expressions) filter the walk's output rows the
    moment they leave the executors.

    ``with_errors=True`` returns a third frame — the scan's unreadable
    paths (path, error), the same rows the ingest path lands in the
    error bucket — so ``--live`` consumers can report what the walk
    could not see instead of silently skipping it."""
    from pyspark.sql import functions as F

    from dudb_spark.model import PREFIXES_SCHEMA
    from dudb_spark.sources.crawler import _scan_one

    register(spark)
    reader = spark.read.format("fswalk")
    if exclude:
        reader = reader.option("exclude", exclude)
    scan = reader.load(root)
    if cache:
        # the scan's consumers (n_entries join, the prefixes projection,
        # the caller's query) would each RE-WALK the live tree — stat
        # calls dominate, so one cached walk beats three cheaper than
        # any plan trick.  MEMORY_AND_DISK: a huge tree spills instead
        # of re-walking.  Callers doing exactly one pass can opt out.
        from pyspark.storagelevel import StorageLevel

        scan = scan.persist(StorageLevel.MEMORY_AND_DISK)
    errors = scan.where(F.col("error").isNotNull()).select("path", "error")
    entries = scan.where(F.col("error").isNull()).drop("error")

    rootp = root.rstrip("/") or "/"
    # match the crawler's depth base (crawler.crawl_local): for root "/"
    # this is 0, so top-level dirs get depth 1, not the root's own 0
    rootdepth = rootp.rstrip("/").count("/")
    pats = [re.compile(exclude)] if exclude else []
    root_row, _, _, _ = _scan_one(rootp, pats)
    if root_row is None:
        raise FileNotFoundError(rootp)
    root_row["depth"] = 0

    n_by_parent = entries.groupBy(F.col("parent").alias("path")).agg(
        F.count(F.lit(1)).alias("n_entries")
    )
    # S_IFLNK check on the raw mode; scans never descend symlinks, so a
    # symlinked dir has no child rows and n_entries coalesces to 0
    dir_pfx = (
        entries.where("is_dir")
        .select(
            "path", "parent",
            (F.length(F.regexp_replace("path", "[^/]", ""))
             - F.lit(rootdepth)).cast("int").alias("depth"),
            "size", "blocks", "mode",
            (F.col("mode").bitwiseAND(0o170000) == 0o120000)
            .alias("is_symlink"),
            "mtime", "uid", "gid", "device", "inode",
        )
        .join(n_by_parent, "path", "left")
        .withColumn("n_entries", F.coalesce("n_entries", F.lit(0)))
    )
    prefixes = spark.createDataFrame(
        [root_row], PREFIXES_SCHEMA
    ).unionByName(dir_pfx.select(*[f.name for f in PREFIXES_SCHEMA.fields]))
    if with_errors:
        return prefixes, entries, errors
    return prefixes, entries


# --------------------------------------------------------------------------
# fswatch: the walk as a STREAMING source (change stream)
# --------------------------------------------------------------------------

_WATCH_DDL = "op string, " + _DDL + ", gen long"

# row-group size of the parent-sorted seed state file: each group's
# parent min/max lets _load_rows skip the groups holding none of a
# batch's parents (one group for a one-parent load)
_SEED_ROW_GROUP = 1 << 15


class FsWatchReader(SimpleDataSourceStreamReader):
    """Streaming change feed over a live tree (``fswatch``) — the
    streaming analogue of the reference's rescan loop (analyze.go:104:
    users re-run ``idu analyze`` on a schedule; here each micro-batch IS
    the rescan, emitting only what changed).  Batch 0 is the whole tree
    (every object as ``op='added'``) — UNLESS a ``seed`` is supplied
    (see :meth:`_load_seed`): then the watcher initializes from the
    stored snapshot's entries and batch 0 emits only the changes since
    it, with O(dirs)+O(churn) stat work and no tree walk (every
    ``watch --db`` start).  Every later batch
    rescans and diffs on (is_dir, size, mode, mtime, uid, gid),
    yielding ``added`` / ``changed`` / ``deleted`` rows (deleted rows
    carry the last-known stat).  Unreadable paths ride the SAME diff
    with null stats and the ``error`` column set, so a path flipping
    readable↔unreadable surfaces as ``changed``.

    Scale design — state and work are bounded by dirs + churn, never by
    total paths (round-7 fix; the previous reader held every path's stat
    in a driver dict and re-stat'ed the whole tree per batch):

    - **Driver memory is O(directories)**: one stat tuple per live dir
      (``_dirstat``) plus a dir→snapshot-file map (``_dirgen``).  File
      rows never live on the driver between batches — they are
      snapshotted to log-structured Parquet under ``state_dir``.  A
      seeded start holds the watched subtree's entries in Arrow once,
      while :meth:`_load_seed` lands them.
    - **Per-batch work is O(dirs) lstats + O(churn) everything else**
      (round-10: the earlier pass scandir'ed EVERY directory every
      batch — one getdents sweep over every dirent in the tree): the
      steady-state pass lstats each known directory directly (serial,
      ~2µs/dir locally) and enumerates a directory ONLY when its own
      (mtime, mode) moved — POSIX bumps a
      dir's mtime on every entry add/remove/rename, so a sig-unchanged
      dir's child name-set cannot have changed.  An idle batch is
      exactly one lstat per dir: zero dirent reads, zero file stats.
      File entries are re-stat'ed only inside sig-changed directories —
      the reference's unchanged-skip (J1, analyze.go:236–242) applied
      to the rescan loop.  Previous rows for exactly those dirs are
      loaded from the Parquet snapshot with a pushed-down ``parent IN
      (...)`` filter, and only those dirs' rows are rewritten;
      fully-superseded snapshot files are deleted eagerly and partial
      files compact past ``compact_every``.  Designed ceiling (PARITY
      row S1/X4): per-batch driver work is one lstat per live
      directory — at 100M dirs that is ~100M lstats per batch
      (minutes serial), so the watch interval must grow with dir
      count.  Measured: an idle batch over 8,009 dirs (408k entries)
      took 0.08–0.16 s on 4 vCPUs.
    - **Semantics under pruning match the reference's** (J1): an
      in-place file write that does not touch its directory's mtime is
      not seen until that directory next changes (at which point the
      rescan diffs it against the snapshot and emits the ``changed``
      row — eventual consistency on dir churn).  Directory rows
      themselves are always exact: every dir is lstat'ed every batch,
      so a subdir's own mtime/mode/owner drift is emitted immediately
      even when its parent is unchanged.  A listing-permission loss is
      seen when the dir's mode changes (chmod); an ACL-only revocation
      that moves neither mtime nor mode is deferred like any other
      sig-invisible change.  ``.option("prune", "false")`` restores
      exhaustive per-file rescans (every file stat'ed every batch —
      detects in-place edits immediately) while keeping driver memory
      bounded via the same disk snapshot.
    - The scan runs driver-side (the OUTPUT is churn-sized; the
      partitioned-executor walk is the batch ``fswalk`` route) and
      Spark's simple-reader checkpoint persists each batch's DATA, so
      a replayed batch never re-walks.  After a query restart the first
      batch is the whole tree again — or, SEEDED, the churn-sized
      reconciliation diff (at-least-once across restarts, exactly-once
      within a run); a no-change scan returns the same offset (no empty
      batch spam).

    ``last_batch_stats`` (dirs_walked / dirs_rescanned / files_statted
    / rows_emitted) exposes the bounded-work contract to tests and the
    bench.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fswatch: .load(path) is required")
        self.exclude = options.get("exclude")
        self.prune = str(options.get("prune", "true")).lower() != "false"
        # the caller owns the dir (makes it, removes it): a reader
        # cannot know when a query is done with its snapshot files
        self.state_dir = options.get("state_dir")
        if not self.state_dir:
            raise ValueError("fswatch: .option('state_dir', DIR) is "
                             "required (the caller owns DIR)")
        self.compact_every = int(options.get("compact_every", "16"))
        # seed: an entries-schema parquet directory holding the stored
        # snapshot's entries (the CLI passes the latest version's
        # entries.parquet — see _load_seed).  Batch 0 then emits the
        # CHANGES since that snapshot instead of the whole tree as
        # 'added', and the driver never stats the full tree.
        self.seed = options.get("seed")
        # driver state: O(dirs) — dir row tuples + dir -> snapshot file id
        self._dirstat: dict[str, tuple] | None = None
        self._rootsig: tuple | None = None
        self._dirgen: dict[str, int] = {}
        self._filectr = 0
        # snapshot files currently on disk — _gc_files iterates THIS,
        # not range(1, _filectr): the counter only grows over a
        # run-forever watch and a full-range exists() sweep per batch
        # would be O(batches²) syscalls cumulative
        self._ondisk: set[int] = set()
        self.last_batch_stats: dict[str, int] = {}

    def initialOffset(self):
        return {"gen": 0}

    # sig positions within the row tuple: everything that marks a change
    _SIG = tuple(
        _FIELDS.index(f) for f in
        ("is_dir", "size", "mode", "mtime", "uid", "gid")
    )
    _ERR_I = len(_FIELDS)  # error string rides last
    _MTIME_I = _FIELDS.index("mtime")
    _MODE_I = _FIELDS.index("mode")

    # -- snapshot store (log-structured parquet, file rows only) ----------

    def _arrow_schema(self):
        import pyarrow as pa

        return pa.schema([
            ("parent", pa.string()), ("name", pa.string()),
            ("path", pa.string()), ("is_dir", pa.bool_()),
            ("size", pa.int64()), ("blocks", pa.int64()),
            ("mode", pa.int64()),
            ("mtime", pa.timestamp("us", tz="UTC")),
            ("uid", pa.int64()), ("gid", pa.int64()),
            ("device", pa.int64()), ("inode", pa.int64()),
            ("error", pa.string()),
        ])

    def _file_path(self, fid: int) -> str:
        return _os.path.join(self.state_dir, f"s{fid}.parquet")

    def _write_rows(self, rows: list[tuple]) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self._filectr += 1
        names = _FIELDS + ("error",)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(names, r)) for r in rows],
                schema=self._arrow_schema(),
            ),
            self._file_path(self._filectr),
        )
        self._ondisk.add(self._filectr)
        return self._filectr

    def _load_rows(self, dirs) -> dict[str, tuple]:
        """path -> row tuple for the file-space rows of ``dirs``, read
        from the snapshot with a pushed-down parent filter."""
        import pyarrow.parquet as pq
        from pyarrow import compute as pc

        by_fid: dict[int, list[str]] = {}
        for d in dirs:
            fid = self._dirgen.get(d)
            if fid is not None:
                by_fid.setdefault(fid, []).append(d)
        names = _FIELDS + ("error",)
        out: dict[str, tuple] = {}
        parent = pc.field("parent")
        for fid, ds in by_fid.items():
            # pyarrow prunes row groups by their min/max on the range
            # terms, not on isin
            t = pq.read_table(
                self._file_path(fid),
                filters=parent.isin(ds) & (parent >= min(ds))
                & (parent <= max(ds)),
            )
            for r in t.to_pylist():
                out[r["path"]] = tuple(r[n] for n in names)
        return out

    def _gc_files(self):
        """Drop fully-superseded snapshot files; compact partial ones
        when the live-file count exceeds ``compact_every``."""
        live: dict[int, int] = {}
        for fid in self._dirgen.values():
            live[fid] = live.get(fid, 0) + 1
        for fid in self._ondisk - set(live):
            fp = self._file_path(fid)
            if _os.path.exists(fp):
                _os.unlink(fp)
            self._ondisk.discard(fid)
        if len(live) > self.compact_every:
            import pyarrow.parquet as pq
            from pyarrow import compute as pc

            # incremental compaction: stream each live file's still-owned
            # rows (parent's _dirgen == fid) straight into one new
            # snapshot file through a ParquetWriter — Arrow-native filter
            # + table write, never to_pylist — so the transient driver
            # cost is bounded by ONE snapshot file's rows at a time, not
            # O(total file rows) of Python tuples (keeping the documented
            # O(directories) driver-memory contract through compaction).
            by_fid: dict[int, list[str]] = {}
            for d, g in self._dirgen.items():
                by_fid.setdefault(g, []).append(d)
            self._filectr += 1
            nfid = self._filectr
            writer = pq.ParquetWriter(
                self._file_path(nfid), self._arrow_schema()
            )
            try:
                for fid in sorted(by_fid):
                    t = pq.read_table(
                        self._file_path(fid),
                        filters=pc.field("parent").isin(by_fid[fid]),
                    )
                    if t.num_rows:
                        writer.write_table(t)
            finally:
                writer.close()
            self._ondisk.add(nfid)
            for d in list(self._dirgen):
                self._dirgen[d] = nfid
            for fid in live:
                fp = self._file_path(fid)
                if _os.path.exists(fp):
                    _os.unlink(fp)
                self._ondisk.discard(fid)

    def _load_seed(self) -> None:
        """Initialize driver state + the file-row snapshot from a STORED
        entries table instead of a full tree walk.  ``seed`` is any
        entries-schema parquet directory (``watch --db`` passes the
        latest version's ``entries.parquet``); pyarrow reads the rows
        of the watched subtree (the rows ``subtree_pred(parent, path) |
        path == path`` selects) with the filter pushed into the scan.
        Dir rows become ``_dirstat`` (O(dirs) driver memory — the
        standing contract) and the file rows land as ONE snapshot file
        (Arrow filter + sort + write, no per-row Python), sorted by
        parent in row groups of :data:`_SEED_ROW_GROUP` rows: a later
        ``parent IN (...)`` load reads only the groups whose parent
        range holds one of its parents (398,810 file rows at 406,820
        entries: 13 groups; a one-parent load read 1 group in
        0.004–0.005 s against 0.030–0.055 s from one unsplit group, 80
        scattered parents still read 12–13).  Transient driver memory
        is the watched subtree's entries in Arrow: +304–305 MB of RSS
        at 406,798 entries (67 MB of Arrow buffers, copied once by the
        filter and once by the sort; PARITY row 274).

        The stream's first batch then runs the NORMAL pruned rescan
        against this state: only directories whose (mtime, mode) moved
        since the snapshot are re-stat'ed, and the emissions are
        exactly the changes since the snapshot — the restart
        reconciliation with O(dirs)+O(churn) stat work.
        ``prune=false`` restores the exhaustive per-file comparison
        (every file stat'ed once).

        An ``error`` column is optional (stored snapshots drop
        unreadable paths — they re-emit as harmless error rows when
        their directory next rescans).  ``_rootsig`` stays None, so the
        root directory always rescans on the first batch (one
        scandir)."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        from pyarrow import compute as pc

        names = _FIELDS + ("error",)
        schema = self._arrow_schema()
        src = ds.dataset(self.seed, format="parquet", partitioning="hive")
        if not src.files:
            raise ValueError(f"fswatch: empty seed {self.seed!r}")
        root = self.path.rstrip("/") or "/"
        pred = None
        if root != "/":
            pred = (
                (pc.field("parent") == root)
                | pc.starts_with(pc.field("parent"), root + "/")
                | (pc.field("path") == root)
            )
        have = set(src.schema.names)
        t = src.to_table(columns=[f.name for f in schema if f.name in have],
                         filter=pred)
        # normalize to the snapshot schema: add a null error column when
        # absent, cast mtime to µs UTC (a Spark INT96/ns write must
        # compare equal to the scan's µs datetimes)
        t = pa.Table.from_arrays(
            [t[f.name].cast(f.type) if f.name in have
             else pa.nulls(len(t), f.type) for f in schema],
            schema=schema,
        )
        is_dir = pc.fill_null(t["is_dir"], False)
        tf = t.filter(pc.invert(is_dir)).sort_by("parent")
        if tf.num_rows:
            self._filectr += 1
            pq.write_table(tf, self._file_path(self._filectr),
                           row_group_size=_SEED_ROW_GROUP)
            self._ondisk.add(self._filectr)
            for d in pc.unique(tf["parent"]).to_pylist():
                self._dirgen[d] = self._filectr
        self._dirstat = {
            r["path"]: tuple(r[n] for n in names)
            for r in t.filter(is_dir).to_pylist()
        }
        self._rootsig = None

    # -- the bounded rescan ------------------------------------------------

    def _scan(self):
        """One rescan pass.  Returns (cur_dirstat, cur_rootsig,
        listings, dead_dirs) where listings maps each RESCANNED dir to
        its current file-space rows {path: tuple}.

        Steady state (prune=true, state present) is the GETDENTS-FREE
        pruned pass: :meth:`_sweep` lstats every known directory and
        :meth:`_walk` scandirs ONLY the directories whose own (mtime,
        mode) moved, plus any newly discovered subtree.  POSIX bumps a
        directory's mtime on every entry add/remove/rename, so a
        sig-unchanged directory's child NAME SET is provably unchanged
        and enumerating it is wasted work.  An idle batch is exactly
        O(dirs) lstats, zero dirent reads, zero file stats.

        The first batch and prune=false run the exhaustive pass — the
        same walk started at the root with no known dirs, so every dir
        is scandir'ed and every entry stat'ed (in-place edits under
        unchanged dir mtimes surface immediately)."""
        root = self.path.rstrip("/") or "/"
        try:
            rst = _os.lstat(root)
            rootsig = (rst.st_mtime, rst.st_mode)
        except OSError:
            rootsig = None
        cur_dirstat: dict[str, tuple] = {}
        dead_dirs: list[str] = []  # dirs that became unlistable
        pruned = self._dirstat is not None and self.prune
        if pruned:
            known = self._dirstat
            rescan = self._sweep(root, cur_dirstat, dead_dirs)
            if rootsig is None or self._rootsig is None \
                    or rootsig != self._rootsig:
                rescan.append(root)
        else:
            known, rescan = {}, [root]
        listings, n_scandirs, n_file_stats = self._walk(
            root, rescan, known, cur_dirstat, dead_dirs
        )
        self.last_batch_stats = {
            "dirs_walked": len(cur_dirstat) + 1,
            "dirs_rescanned": len(listings),
            "files_statted": n_file_stats,
            "dir_lstats": (len(known) if pruned else len(cur_dirstat)) + 1,
            "dirs_listed": n_scandirs,
        }
        return cur_dirstat, rootsig, listings, dead_dirs

    def _sweep(self, root: str, cur_dirstat: dict, dead_dirs: list):
        """Phase 1 of the pruned pass: one direct lstat per known dir,
        no dirent enumeration (serial: ~2µs each on a local hot cache).
        Each dir's own row lands in ``cur_dirstat`` exact every batch;
        returns the dirs whose (mtime, mode) sig moved or whose error
        state cleared — the only ones whose listing can have changed.

        Semantics deltas vs the exhaustive pass, both J1-consistent
        (deferred until the dir's own sig moves): (1) a listing-
        permission loss that does not change the dir's mode/mtime (an
        ACL-only revocation) surfaces as the error row only when the
        dir next churns — a chmod is seen immediately because mode is
        in the sig; (2) a dir reachable only through a symlinked
        ancestor (the ancestor was replaced by a symlink) must leave
        dir-space even though a direct lstat still resolves — every
        known dir under a gone lineage is force-dropped."""
        gone: set[str] = set()
        rescan: list[str] = []
        for d, pv in self._dirstat.items():
            try:
                st = _os.lstat(d)
            except FileNotFoundError:
                gone.add(d)
                continue
            except OSError as e:
                cur_dirstat[d] = _error_row(d, str(e))
                dead_dirs.append(d)
                continue
            if not stat_mod.S_ISDIR(st.st_mode):
                gone.add(d)  # type flip: leaves dir-space
                continue
            row = _stat_row(_os.path.dirname(d), _os.path.basename(d),
                            st, True)
            cur_dirstat[d] = row
            if (
                row[self._MTIME_I] != pv[self._MTIME_I]
                or row[self._MODE_I] != pv[self._MODE_I]
                or pv[self._ERR_I] is not None
            ):
                rescan.append(d)

        # a dir under a gone lineage leaves dir-space even when its own
        # lstat resolved (symlinked-ancestor traversal)
        if gone:
            for d in list(cur_dirstat):
                p = d
                i = p.rfind("/")
                while i > 0 and len(p) > len(root):
                    p = p[:i]
                    if p in gone:
                        cur_dirstat.pop(d, None)
                        break
                    i = p.rfind("/")
            rescan = [d for d in rescan if d in cur_dirstat]
        return rescan

    def _walk(self, root: str, level: list, known, cur_dirstat: dict,
              dead_dirs: list):
        """The one scandir walk: list each dir in ``level``, stat its
        entries, and descend into every child dir not in ``known`` (a
        NEW dir's whole subtree is churn).  Started at the root with no
        known dirs it is the exhaustive pass; given the pruned pass's
        sig-changed dirs it is phase 2.  Child dir rows land in
        ``cur_dirstat``, unlistable dirs in ``dead_dirs``.  Returns
        (listings, dirs listed, files statted)."""
        pats = [re.compile(self.exclude)] if self.exclude else []
        listings: dict[str, dict[str, tuple]] = {}
        n_scandirs = 0
        n_file_stats = 0
        queued = set(level)
        while level:
            nxt: list[str] = []
            for d in level:
                try:
                    with _os.scandir(d) as it:
                        dents = sorted(it, key=lambda e: e.name)
                except OSError as e:
                    # unreadable dir: its row (under its parent) becomes
                    # an error row, matching _scan_one's error bucket,
                    # and its file rows leave the snapshot as deletions
                    if d != root:
                        cur_dirstat[d] = _error_row(d, str(e))
                    dead_dirs.append(d)
                    continue
                n_scandirs += 1
                listing: dict[str, tuple] = {}
                listings[d] = listing
                for de in dents:
                    child = f"{d.rstrip('/')}/{de.name}"
                    if any(x.search(child) for x in pats):
                        continue
                    try:
                        is_dirtype = de.is_dir(follow_symlinks=False)
                    except OSError:
                        is_dirtype = False
                    try:
                        st = de.stat(follow_symlinks=False)
                    except OSError as e:
                        if is_dirtype:
                            cur_dirstat[child] = _error_row(child, str(e))
                            dead_dirs.append(child)
                        else:
                            listing[child] = _error_row(child, str(e))
                        continue
                    if is_dirtype:
                        cur_dirstat[child] = _stat_row(d, de.name, st, True)
                        if (
                            not stat_mod.S_ISLNK(st.st_mode)
                            and child not in known
                            and child not in queued
                        ):
                            queued.add(child)
                            nxt.append(child)
                    else:
                        n_file_stats += 1
                        listing[child] = _stat_row(
                            d, de.name, st, stat_mod.S_ISDIR(st.st_mode)
                        )
            level = nxt
        return listings, n_scandirs, n_file_stats

    def read(self, start: dict):
        gen = int(start.get("gen", 0))
        first = self._dirstat is None
        gen_advance = False
        if first:
            # fresh run: clear any stale snapshot files in state_dir
            sd = self.state_dir
            for f in _os.listdir(sd):
                if f.startswith("s") and f.endswith(".parquet"):
                    _os.unlink(_os.path.join(sd, f))
            if self.seed:
                # seeded start: state comes from the stored snapshot and
                # this batch emits only the diff against it (see
                # _load_seed).  The batch still ADVANCES the offset even
                # when the diff is empty: holding the offset on the very
                # first read leaves Spark's simple-reader prefetch cache
                # without a batch-0 entry, and a replay then dies in
                # readBetweenOffsets (not implemented for simple
                # readers).  Later no-change batches hold as usual.
                self._load_seed()
                first = False
                gen_advance = True
        cur_dirstat, rootsig, listings, dead_dirs = self._scan()
        root = self.path.rstrip("/") or "/"
        sig, err_i = self._SIG, self._ERR_I

        def differs(a: tuple, b: tuple) -> bool:
            return (
                tuple(a[i] for i in sig) != tuple(b[i] for i in sig)
                or a[err_i] != b[err_i]
            )

        # per-path emissions; an added+deleted pair on one path (a type
        # flip between dir-space and file-space) merges into 'changed'
        emit: dict[str, list] = {}

        def add(op: str, row: tuple):
            emit.setdefault(row[_FIELDS.index("path")], []).append(
                (op, row)
            )

        prev_dirstat = self._dirstat or {}
        # dir rows: exact every batch (all dirs lstat'ed in _scan)
        for p, row in cur_dirstat.items():
            pv = prev_dirstat.get(p)
            if pv is None:
                add("added", row)
            elif differs(row, pv):
                add("changed", row)
        deleted_dirs = [p for p in prev_dirstat if p not in cur_dirstat]
        for p in deleted_dirs:
            add("deleted", prev_dirstat[p])

        # file rows: diff rescanned dirs against the disk snapshot;
        # deleted/unlistable dirs surface their last-known file rows
        gone_dirs = set(deleted_dirs) | set(dead_dirs)
        prev_rows = self._load_rows(set(listings) | gone_dirs)
        for listing in listings.values():
            for p, row in listing.items():
                pv = prev_rows.get(p)
                if pv is None:
                    add("added", row)
                elif differs(row, pv):
                    add("changed", row)
        for p, pv in prev_rows.items():
            d = pv[_FIELDS.index("parent")]
            if (d in gone_dirs) or (
                d in listings and p not in listings[d]
            ):
                add("deleted", pv)

        out = []
        for p in sorted(emit):
            ops = emit[p]
            if len(ops) == 2 and {o for o, _ in ops} == {
                "added", "deleted"
            }:
                row = next(r for o, r in ops if o == "added")
                out.append(("changed",) + row + (gen,))
            else:
                for op, row in ops:
                    out.append((op,) + row + (gen,))
        self.last_batch_stats["rows_emitted"] = len(out)

        if not out and not first and not gen_advance:
            # nothing changed: hold the offset, no empty batch — but
            # keep the fresh dir stats (they are byte-equal anyway)
            self._dirstat, self._rootsig = cur_dirstat, rootsig
            return iter(()), start

        # snapshot update: only rescanned dirs' file rows are rewritten
        if listings:
            rows = [
                r for listing in listings.values()
                for r in listing.values()
            ]
            fid = self._write_rows(rows)
            for d in listings:
                self._dirgen[d] = fid
        for p in deleted_dirs:
            self._dirgen.pop(p, None)
        for p in dead_dirs:
            self._dirgen.pop(p, None)
        self._gc_files()
        self._dirstat, self._rootsig = cur_dirstat, rootsig
        return iter(out), {"gen": gen + 1}

    def commit(self, end):
        pass


class FsWatchDataSource(DataSource):
    @classmethod
    def name(cls):
        return "fswatch"

    def schema(self):
        return _WATCH_DDL

    def simpleStreamReader(self, schema):
        return FsWatchReader(self.options)


def register_watch(spark) -> None:
    """Register the ``fswatch`` streaming format on a session."""
    spark.dataSource.register(FsWatchDataSource)
