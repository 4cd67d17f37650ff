"""Table schemas — the engine's data model.

The reference stores one nested, varint-encoded record per directory in a
key-value store (reference: internal/prefixinfo/prefixinfo.go:17–32, keyed by
path in BadgerDB buckets, internal/database/badgerdb/badgerdb.go:54–72).  The
Spark-native model normalises that into flat columnar tables (SURVEY.md §1.5):

- ``prefixes``  — one row per directory (the prefixinfo.T header fields)
- ``entries``   — one row per directory child, files AND subdirs (the
  exploded ``entries`` array + parallel inode/block arrays + uid/gid maps,
  prefixinfo.go:28–32; Parquet dictionary/RLE encoding replaces the
  hand-rolled id bitmaps)
- ``errors``    — per-path scan errors (types.go:13–17)
- ``scan_logs`` — one row per ingest run (types.go:24–27; summary struct =
  anaylzeSummary, progress.go:19–35)
- ``users``/``groups`` — tiny id→name dims, broadcast at report time
  (internal/usernames/usergroups.go:26–60)

All tables are plain Parquet directories.  Subtree queries prune row groups
via min/max stats on ``path``/``parent`` once ``database compact`` has
range-sorted a snapshot; otherwise we rely on predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import types as T

PREFIXES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("parent", T.StringType(), True),  # NULL for root
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("blocks", T.LongType(), False),
        T.StructField("mode", T.LongType(), False),  # Go fs.FileMode is uint32
        T.StructField("is_symlink", T.BooleanType(), False),
        T.StructField("mtime", T.TimestampType(), False),
        T.StructField("uid", T.LongType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("device", T.LongType(), False),
        T.StructField("inode", T.LongType(), False),
        T.StructField("n_entries", T.LongType(), False),
    ]
)

ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("parent", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("is_dir", T.BooleanType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("blocks", T.LongType(), False),
        T.StructField("mode", T.LongType(), False),  # Go fs.FileMode is uint32
        T.StructField("mtime", T.TimestampType(), False),
        T.StructField("uid", T.LongType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("device", T.LongType(), False),
        T.StructField("inode", T.LongType(), False),
    ]
)

ERRORS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("at", T.TimestampType(), False),
        T.StructField("detail", T.StringType(), False),
    ]
)

SCAN_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("operation", T.StringType(), True),
        T.StructField("command", T.StringType(), True),
        T.StructField("duration_ns", T.LongType(), True),
        T.StructField("prefixes_started", T.LongType(), True),
        T.StructField("prefixes_finished", T.LongType(), True),
        T.StructField("synchronous_scans", T.LongType(), True),
        T.StructField("slow_scans", T.LongType(), True),
        T.StructField("fs_stats", T.LongType(), True),
        T.StructField("fs_stats_total", T.LongType(), True),
        T.StructField("fs_stat_mean_latency", T.LongType(), True),
        T.StructField("files", T.LongType(), True),
        T.StructField("parent_unchanged", T.LongType(), True),
        T.StructField("children_unchanged", T.LongType(), True),
        T.StructField("errors", T.LongType(), True),
        T.StructField("prefixes_deleted", T.LongType(), True),
    ]
)

SCAN_LOGS_SCHEMA = T.StructType(
    [
        T.StructField("start", T.TimestampType(), False),
        T.StructField("stop", T.TimestampType(), False),
        T.StructField("summary", SCAN_SUMMARY_SCHEMA, True),
    ]
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

GROUPS_SCHEMA = T.StructType(
    [
        T.StructField("gid", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

# fs.FileMode type bits we care about (Go's io/fs FileMode layout; the
# reference tests mode bits via Mode/Type accessors, boolexpr/expression.go:
# 216–222).  We store the full uint32 in `mode`; these masks implement the
# `type=f|d|l|x` operand.
MODE_DIR = 1 << 31  # fs.ModeDir
MODE_SYMLINK = 1 << 27  # fs.ModeSymlink
MODE_EXEC_ANY = 0o111  # any execute bit


class FsTables:
    """Handle to one ingested filesystem-metadata database (a directory of
    Parquet tables), mirroring the reference's single BadgerDB instance per
    configured prefix (config.go:54–65)."""

    TABLE_NAMES = ("prefixes", "entries", "errors", "scan_logs", "users", "groups")

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def path(self, table: str) -> str:
        return f"{self.root}/{table}.parquet"

    # tables every snapshot writer lands with the model's schema: read
    # with it pinned, so opening a table runs no schema-inference job
    SCHEMAS = {
        "prefixes": PREFIXES_SCHEMA,
        "entries": ENTRIES_SCHEMA,
        "errors": ERRORS_SCHEMA,
    }

    def read(self, table: str):
        """Logical table view.  Snapshots once stored in a path-bucketed
        layout carry a ``pb`` partition column (Spark infers it from the
        ``pb=`` directory names even under a pinned schema); it is
        dropped so those old versions read like any other."""
        reader = self.spark.read
        if table in self.SCHEMAS:
            reader = reader.schema(self.SCHEMAS[table])
        df = reader.parquet(self.path(table))
        return df.drop("pb") if "pb" in df.columns else df

    @property
    def prefixes(self):
        return self.read("prefixes")

    @property
    def entries(self):
        return self.read("entries")

    @property
    def errors(self):
        return self.read("errors")

    @property
    def scan_logs(self):
        return self.read("scan_logs")

    @property
    def users(self):
        return self.read("users")

    @property
    def groups(self):
        return self.read("groups")
