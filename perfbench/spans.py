"""Per-layer tracing, applied from outside the program.

``Tracer.install`` wraps the public entry point of each layer (module
functions and methods the CLI reaches) in a span.  A span records its
name, layer, parent, start and end, the JVM's garbage-collection time
over it, and its own Spark job group, so the jobs and tasks it launched
are counted from ``SparkContext.statusTracker`` after the run.  A
sampler thread polls the tracker's active-job list and charges the time
a job was running to the innermost open span; the rest of a span's self
time is ``driver.wait_s``.

Spans stay in memory; ``summary`` turns them into the per-layer metrics
and ``dump`` writes them out (stderr) when the run ends.

Lazy DataFrame entry points do no Spark work themselves.  Two get more
than a span around the call:

- ``find``'s result gets a wrapped ``toLocalIterator``, so the drain the
  CLI runs afterwards is its own span (``find.drain``);
- ``snapshot_diff`` opens a phase span that stays open until the next
  traced call begins or its caller's span ends, covering the CLI's
  materialisation of the touched-dir set.

``StatsResult.save``/``totals`` are charged to the layer that produced
the result: the full fold (``stats``) or the incremental closure.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    parent: int  # index into Tracer.spans, -1 at top level
    group: str  # Spark job group
    start: float
    end: float = 0.0
    gc_s: float = 0.0
    job_s: float = 0.0  # sampled time with a Spark job running
    children_s: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    SAMPLE_S = 0.005

    def __init__(self, spark):
        self.sc = spark.sparkContext
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self._phase: int | None = None  # open snapshot_diff phase span
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sampler = None
        self._undo: list = []
        self.overhead_s = 0.0

    # -- spans -------------------------------------------------------------
    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _set_group(self, group):
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def begin(self, name: str, layer: str) -> int:
        t0 = time.perf_counter()
        self._close_phase(t0)
        with self._lock:
            idx = len(self.spans)
            parent = self.stack[-1] if self.stack else -1
            sp = Span(name, layer, parent, f"perfbench-{idx}", 0.0)
            self.spans.append(sp)
            self.stack.append(idx)
        sp.gc_s = -self._gc_s()
        self._set_group(sp.group)
        t1 = time.perf_counter()
        sp.start = t1
        self.overhead_s += t1 - t0
        return idx

    def end(self, idx: int) -> None:
        t0 = time.perf_counter()
        self._close_phase(t0)
        self._finish(idx, t0)
        self.overhead_s += time.perf_counter() - t0

    def _finish(self, idx: int, now: float) -> None:
        sp = self.spans[idx]
        sp.end = now
        with self._lock:
            self.stack.remove(idx)
            parent = self.stack[-1] if self.stack else None
        if sp.parent >= 0:
            self.spans[sp.parent].children_s += sp.end - sp.start
        sp.gc_s += self._gc_s()
        self._set_group(self.spans[parent].group if parent is not None
                        else None)

    def _close_phase(self, now: float) -> None:
        """End an open phase span: it is always the innermost span, so the
        next span to begin is its sibling and the next to end its parent."""
        if self._phase is not None:
            idx, self._phase = self._phase, None
            self._finish(idx, now)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.begin(name, layer)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    # -- job sampler ---------------------------------------------------------
    def _sample(self):
        st = self.sc.statusTracker()
        last = time.perf_counter()
        while not self._stop.wait(self.SAMPLE_S):
            active = bool(st.getActiveJobsIds())
            now = time.perf_counter()
            if active:
                with self._lock:
                    if self.stack:
                        self.spans[self.stack[-1]].job_s += now - last
            last = now

    # -- wrapping ------------------------------------------------------------
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def _wrap(self, owner, attr, layer, after=None):
        name = f"{layer}:{attr}"

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                idx = self.begin(name, layer)
                try:
                    out = orig(*a, **k)
                finally:
                    self.end(idx)
                if after is not None:
                    t0 = time.perf_counter()
                    after(self.spans[idx], a, k, out)
                    self.overhead_s += time.perf_counter() - t0
                return out
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        from pyspark.sql import SparkSession

        # import_module, not `import a.b as x`: package __init__s re-export
        # functions under their module's name (operators.find is a function)
        mod = importlib.import_module
        find_mod = mod("dudb_spark.operators.find")
        incremental = mod("dudb_spark.operators.incremental")
        ingest = mod("dudb_spark.operators.ingest")
        stats = mod("dudb_spark.operators.stats")
        reports = mod("dudb_spark.reports")
        crawler = mod("dudb_spark.sources.crawler")
        SnapshotCatalog = mod("dudb_spark.sources.catalog").SnapshotCatalog

        def crawled(sp, a, k, out):
            sp.counts["entries"] = len(out[1])

        def staged(sp, a, k, out):
            data = a[1] if len(a) > 1 else k.get("data")
            if isinstance(data, list):
                sp.counts["rows"] = len(data)

        def written(sp, a, k, out):
            sp.counts["files"] = sum(
                1 for _, _, fs in os.walk(out) for f in fs
                if f.endswith(".parquet"))

        def tag(layer):
            def after(sp, a, k, out):
                out._perfbench_layer = layer
                if layer == "incremental":
                    sp.counts["closure_jobs"] = out.meta.get("closure_jobs", 0)
            return after

        def gate(sp, a, k, out):
            sp.counts["touched"] = a[0] if a else k["touched_count"]
            sp.counts["refold"] = int(bool(out))

        self._wrap(crawler, "crawl_local", "crawler", after=crawled)
        self._wrap(SparkSession, "createDataFrame", "stage", after=staged)
        self._wrap(ingest, "merge_scan", "ingest.merge")
        self._wrap(SnapshotCatalog, "write_snapshot", "catalog.write",
                   after=written)
        self._wrap(SnapshotCatalog, "tables", "catalog.tables")
        for m in (find_mod, stats):  # each imported its own reference
            self._wrap(m, "compile_expr", "boolexpr")
        self._wrap(stats, "compute_stats", "stats.fold", after=tag("stats"))
        self._wrap(incremental, "incremental_stats", "incremental",
                   after=tag("incremental"))
        self._wrap(incremental, "refold_recommended", "incremental",
                   after=gate)
        self._wrap(reports, "write_reports", "sinks")
        self._patch_stats_result(stats.StatsResult)
        self._patch_find(find_mod)
        self._patch_diff(ingest)

    def _patch_stats_result(self, cls):
        """``save`` runs the fold's jobs; ``totals`` only plans them, and
        the CLI's ``collect`` on its result runs them."""
        tracer = self

        def layer_of(res):
            layer = getattr(res, "_perfbench_layer", None)
            return "stats.fold" if layer == "stats" else layer

        def mk_save(orig):
            @functools.wraps(orig)
            def wrapper(res, *a, **k):
                layer = layer_of(res)
                if layer is None:
                    return orig(res, *a, **k)
                with tracer.span(f"{layer}:save", layer):
                    return orig(res, *a, **k)
            return wrapper

        def mk_totals(orig):
            @functools.wraps(orig)
            def wrapper(res, *a, **k):
                df = orig(res, *a, **k)
                layer = layer_of(res)
                if layer is not None:
                    collect = df.collect

                    def traced_collect():
                        with tracer.span(f"{layer}:totals", layer):
                            return collect()

                    df.collect = traced_collect
                return df
            return wrapper

        self._patch(cls, "save", mk_save)
        self._patch(cls, "totals", mk_totals)

    def _patch_find(self, find_mod):
        tracer = self

        def mk(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                with tracer.span("find:plan", "find.plan"):
                    df = orig(*a, **k)
                drain = df.toLocalIterator

                def traced_drain(*da, **dk):
                    idx = tracer.begin("find:drain", "find.drain")
                    n = 0
                    try:
                        for row in drain(*da, **dk):
                            n += 1
                            yield row
                    finally:
                        tracer.spans[idx].counts["rows"] = n
                        tracer.end(idx)

                df.toLocalIterator = traced_drain
                return df
            return wrapper

        self._patch(find_mod, "find", mk)

    def _patch_diff(self, ingest):
        tracer = self

        def mk(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                idx = tracer.begin("diff:snapshot_diff", "diff")
                try:
                    return orig(*a, **k)
                finally:
                    # stays open: the CLI materialises the diff next
                    tracer._phase = idx
            return wrapper

        self._patch(ingest, "snapshot_diff", mk)

    def start(self) -> None:
        self.install()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def stop(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=5)
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self._set_group(None)

    # -- results -------------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Count each span's jobs and tasks from its job group."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        sp.tasks += si.numTasks
                        sp.tasks_failed += si.numFailedTasks

    def summary(self, n_commands: int, useful_entries: int) -> dict:
        """Per-layer metrics.  Busy times are self times.  A layer's figures
        are means per call of its entry point — per crawl for the crawler
        and the staging it feeds, per fold for stats (its save and totals
        included), per gate decision for the incremental layer; the
        whole-program figures are means per CLI command."""
        by: dict[str, list[Span]] = {}
        for sp in self.spans:
            by.setdefault(sp.layer, []).append(sp)

        def calls(layer, name=None):
            return len([s for s in by.get(layer, [])
                        if name is None or s.name == name])

        def mean(layer, value, n):
            return sum(value(s) for s in by.get(layer, [])) / max(n, 1)

        def self_s(s):
            return s.self_s

        def jobs(s):
            return s.jobs

        def counted(key):
            return lambda s: s.counts.get(key, 0)

        n_crawl = calls("crawler")
        n_find = calls("find.drain")
        n_fold = calls("stats.fold", "stats.fold:compute_stats")
        n_gate = calls("incremental", "incremental:refold_recommended")
        n_merge, n_write = calls("ingest.merge"), calls("catalog.write")
        n_diff, n_sink = calls("diff"), calls("sinks")
        statted = mean("crawler", counted("entries"), 1)
        every = self.spans
        return {
            "crawler.busy_s": mean("crawler", self_s, n_crawl),
            "crawler.entries_statted": statted / max(n_crawl, 1),
            "crawler.useful_stat_ratio": useful_entries / max(statted, 1),
            "stage.busy_s": mean("stage", self_s, n_crawl),
            "stage.rows": mean("stage", counted("rows"), n_crawl),
            "ingest.merge_busy_s": mean("ingest.merge", self_s, n_merge),
            "ingest.merge_jobs": mean("ingest.merge", jobs, n_merge),
            "catalog.write_busy_s": mean("catalog.write", self_s, n_write),
            "catalog.write_jobs": mean("catalog.write", jobs, n_write),
            "catalog.files_written":
                mean("catalog.write", counted("files"), n_write),
            "boolexpr.compile_s": mean("boolexpr", self_s, n_find + n_fold),
            "find.plan_s": mean("find.plan", self_s, n_find),
            "find.drain_s": mean("find.drain", self_s, n_find),
            "find.rows": mean("find.drain", counted("rows"), n_find),
            "find.jobs": mean("find.drain", jobs, n_find),
            "stats.fold_busy_s": mean("stats.fold", self_s, n_fold),
            "stats.fold_jobs": mean("stats.fold", jobs, n_fold),
            "diff.busy_s": mean("diff", self_s, n_diff),
            "diff.touched_dirs": mean("incremental", counted("touched"), n_gate),
            "incremental.busy_s": mean("incremental", self_s, n_gate),
            "incremental.jobs":
                mean("incremental", counted("closure_jobs"), n_gate),
            "incremental.refold_chosen":
                mean("incremental", counted("refold"), n_gate),
            "sinks.busy_s": mean("sinks", self_s, n_sink),
            "sinks.jobs": mean("sinks", jobs, n_sink),
            "spark.jobs": sum(s.jobs for s in every) / n_commands,
            "spark.tasks": sum(s.tasks for s in every) / n_commands,
            "spark.tasks_failed": sum(s.tasks_failed for s in every) / n_commands,
            "jvm.gc_s": sum(s.gc_s for s in every if s.parent < 0) / n_commands,
            "driver.wait_s":
                sum(max(s.self_s - s.job_s, 0.0) for s in every) / n_commands,
            "trace.overhead_s": self.overhead_s / n_commands,
        }

    def dump(self, out=sys.stderr) -> None:
        """Per-layer table over the summarised spans."""
        rows: dict[str, list] = {}
        for sp in self.spans:
            r = rows.setdefault(sp.layer, [0, 0.0, 0.0, 0, 0, 0.0, 0.0])
            r[0] += 1
            r[1] += sp.end - sp.start
            r[2] += sp.self_s
            r[3] += sp.jobs
            r[4] += sp.tasks
            r[5] += sp.gc_s
            r[6] += max(sp.self_s - sp.job_s, 0.0)
        print(f"{'layer':<16}{'calls':>6}{'total_s':>9}{'self_s':>9}"
              f"{'jobs':>6}{'tasks':>7}{'gc_s':>7}{'wait_s':>8}", file=out)
        for layer, r in sorted(rows.items(), key=lambda kv: -kv[1][2]):
            print(f"{layer:<16}{r[0]:>6}{r[1]:>9.3f}{r[2]:>9.3f}{r[3]:>6}"
                  f"{r[4]:>7}{r[5]:>7.3f}{r[6]:>8.3f}", file=out)

