"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from dudb_spark.session import get_spark

# Query families for cross-round normalization (round-8 verdict item 3:
# one 326-s suite divided by one 0.4-s microbench anchor turned a 2x
# anchor wiggle into a phantom "63% regression" — normalize per family
# against the anchor that actually tracks that family's host path).
#
# PY_FAMILY = queries whose time is dominated by Python workers (Arrow
# mapInPandas/applyInPandasWithState, streaming state stores, the
# python DataSource walk) or by long sequential driver-job choreography
# (pointer-doubling CC, BPE merge rounds, Lloyd rounds) — these drift with calib_pandas_udf_sec.  Everything else is
# JVM-bound (scan/agg/join/window inside whole-stage codegen) and
# drifts with calib_scan_agg_sec.  Classification: static call-graph
# scan for mapInPandas/applyInPandas/readStream/_stream_parts markers
# plus the known driver-loop queries (q44 CC, q124/q125 BPE, q134
# kmeans).
PY_FAMILY = frozenset((
    "q30", "q38", "q44", "q50", "q56", "q59", "q76", "q85",
    "q86", "q91", "q95", "q100", "q106", "q120", "q124",
    "q125", "q127", "q128", "q133", "q134", "q137",
    "q149",
    # round-11 additions: streaming-state gates (q155 CMS, q161
    # anomaly, q165 quantile, q169 reservoir, q171 neardup, q185
    # transitions) and the fixed-round driver-loop graph ops (q175
    # LPA, q176 peeling — localCheckpoint per round, like q106/q44)
    "q155", "q161", "q165", "q169", "q171", "q175", "q176", "q177",
    "q185", "q187", "q188",
))


def _calib_scan(spark, sf_dir: str, reps: int = 3) -> float:
    """JVM host anchor: fixed parquet scan + hash agg + sort, best-of."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .groupBy("l_orderkey").agg({"l_extendedprice": "sum"})
            .orderBy("sum(l_extendedprice)", ascending=False)
            .limit(10).collect()
        )
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _calib_pandas(spark, reps: int = 3) -> float:
    """Python-path host anchor: one Arrow mapInPandas round-trip +
    pandas groupby — captures worker spin-up, Arrow serialization, and
    pandas throughput on THIS host (the JVM anchor is blind to these)."""
    import pandas as _pd

    def _pysum(it):
        for pdf in it:
            yield _pd.DataFrame(
                {"s": [int(pdf.groupby(pdf.id % 97).id.sum().sum())]}
            )

    base = spark.range(1_000_000, numPartitions=8)
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        base.mapInPandas(_pysum, "s long").agg({"s": "sum"}).collect()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _calib_jobs(spark, reps: int = 3) -> float:
    """Job-submission host anchor (round-10): 20 SEQUENTIAL tiny jobs,
    best-of.  The q91 record closure showed suite drift concentrated in
    many-small-jobs queries (streaming gates: tens of sequential
    scheduler round-trips) while the single-job scan/pandas anchors
    moved far less — this anchor makes that drift class attributable
    in-record instead of inferable."""
    base = spark.range(1000)
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        for _k in range(20):
            base.selectExpr("sum(id)").collect()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def decode_bench() -> dict:
    """Media-decode throughput: the vectorized codecs (multimodal.py +
    the unfilter.py wavefront, exactly what decode_media's Arrow kernel
    runs) vs the round-4 per-pixel Python kernels.

    Corpus: PNGs carry the filter mix a real MSAD encoder emits per
    content type — UI/diagram content (flat + gradients, PNG's dominant
    real-world use) encodes to Sub/Up rows, photographic content to
    Average/Paeth rows — plus 24-bit BMPs and 16-bit stereo WAV audio
    (byte-wise the heavyweight of multimodal corpora).  Rate is decoded
    pixel/sample bytes per second, single core.

    Sub-metrics make the per-path story explicit: smooth PNGs and WAV
    vectorize 15-25x (smooth PNG is then zlib-inflate-bound); Paeth/
    Average PNG rows carry an inherent left-neighbor data dependency, so
    their exact decode is the batched wavefront at ~4-6x — the remaining
    gap is what Pillow's C codecs cover when installed (decode_media
    routes to them automatically)."""
    import numpy as np

    from dudb_spark.pipeline import multimodal as mm

    rng = np.random.default_rng(20260814)

    def png(w, h, kind):
        if kind == 0:  # flat (UI/diagram fill)
            px = np.full((h, w * 3), int(rng.integers(0, 256)), np.uint8)
        elif kind == 1:  # horizontal gradient
            px = np.tile(((np.arange(w * 3) // 3) % 256).astype(np.uint8), (h, 1))
        elif kind == 2:  # vertical gradient
            px = np.tile(
                ((np.arange(h) * 2) % 256).astype(np.uint8)[:, None], (1, w * 3)
            )
        elif kind == 3:  # photographic: smooth field + sensor noise
            base = np.arange(h)[:, None] * 2 + np.arange(w * 3)[None, :] // 3
            px = ((base + rng.integers(-6, 7, (h, w * 3))) % 256).astype(np.uint8)
        else:  # noise
            px = rng.integers(0, 256, (h, w * 3)).astype(np.uint8)
        return mm.synthetic_png_content(w, h, px), w * h * 3

    groups: dict[str, tuple[list, int]] = {}

    def add(group, payload_fmt, nbytes):
        lst, wk = groups.setdefault(group, ([], 0))
        groups[group] = (lst, wk + nbytes)
        lst.append(payload_fmt)

    for _ in range(8):  # UI-like smooth PNGs, Sub/Up/None filters
        for kind in (0, 1):
            p, n = png(128, 128, kind)
            add("png_smooth", (p, "png"), n)
    for _ in range(6):  # photographic PNGs, Average/Paeth filters
        for kind in (2, 3):
            p, n = png(256, 256, kind)
            add("png_paeth", (p, "png"), n)
    for _ in range(2):
        p, n = png(128, 128, 4)
        add("png_paeth", (p, "png"), n)
    for _ in range(6):
        rgb = tuple(int(x) for x in rng.integers(0, 256, 3))
        add("bmp", (mm.synthetic_bmp(128, 128, rgb), "bmp"), 128 * 128 * 3)
    for _ in range(10):  # ~7.5s of 16 kHz stereo each
        samples = rng.integers(-32768, 32768, 120000).tolist()
        add("wav", (mm.synthetic_wav(samples, channels=2), "wav"), 120000 * 2)
    # baseline JPEG through the dependency-free codec (pipeline/jpeg.py);
    # photographic 4:2:0 content, the dominant real-corpus shape.  The
    # Huffman symbol loop is the serial core (the IDCT and color path
    # are batched numpy), so this rate is the honest floor — Pillow,
    # when installed, takes over transparently for out-of-envelope
    # variants only.
    from dudb_spark.pipeline.jpeg import encode_jpeg

    for _ in range(4):
        base = np.arange(256)[:, None] * 2 + np.arange(256 * 3)[None, :] // 3
        px = ((base + rng.integers(-6, 7, (256, 256 * 3))) % 256).astype(
            np.uint8
        )
        img = px.reshape(256, 256, 3)
        add(
            "jpeg",
            (encode_jpeg(img, subsample="420"), "jpeg"),
            256 * 256 * 3,
        )
        # the SAME images spectrally split (SOF2): the progressive scan
        # path (compiled dudb_prog_segment when gcc exists, _ProgBits
        # pure-Python floor otherwise — both bit-identical, pinned in
        # test_jpeg.py); with the kernel it tracks the baseline rate
        add(
            "jpeg_progressive",
            (encode_jpeg(img, subsample="420", progressive=True), "jpeg"),
            256 * 256 * 3,
        )

    r4 = {"png": mm.decode_png_py, "bmp": mm.decode_bmp_py, "wav": mm.decode_wav_py}
    out: dict = {}
    # record which PNG unfilter path ran: the compiled per-pixel kernel
    # (png_native, bit-identical, gcc-built at first use) or the numpy
    # wavefront floor — same provenance flag as decode_jpeg_native
    from dudb_spark.pipeline import png_native

    out["decode_png_native"] = int(png_native.get_lib() is not None)
    tot_work = tot_new = tot_old = 0.0
    for group, (lst, wk) in groups.items():
        reps = 3
        # one unmeasured warm-up: the first decode in a process pays
        # one-time numpy setup + page-faulting the wavefront scratch
        # (~50% of a rep), which is startup cost, not decode throughput
        mm.decode_payloads(lst)
        t0 = time.perf_counter()
        for _ in range(reps):
            mm.decode_payloads(lst)
        t_new = (time.perf_counter() - t0) / reps
        out[f"decode_{group}_mb_per_sec"] = round(wk / t_new / 1e6, 1)
        if group == "jpeg_progressive":
            continue  # no r4/native counterpart; rate line only
        if group == "jpeg":
            # no r4 Python JPEG decoder exists; keep the aggregate
            # speedup comparable across environments with/without Pillow.
            # Record which entropy path ran: the compiled kernel
            # (jpeg_native, bit-identical, gcc-built at first use) or
            # the pure-Python fallback floor.
            from dudb_spark.pipeline import jpeg_native

            out["decode_jpeg_native"] = int(
                jpeg_native.get_lib() is not None
            )
            continue
        t0 = time.perf_counter()
        for p, f in lst:
            r4[f](p)
        t_old = time.perf_counter() - t0
        tot_work += wk
        tot_new += t_new
        tot_old += t_old
    out["decode_mb_per_sec"] = round(tot_work / tot_new / 1e6, 1)
    out["decode_mb_per_sec_r4"] = round(tot_work / tot_old / 1e6, 1)
    out["decode_speedup_vs_r4"] = round(tot_old / tot_new, 1)
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def fswatch_bench(n_dirs: int = 1500, files_per_dir: int = 40) -> dict:
    """fswatch steady-state latency on a REAL tree (round-7 verdict item
    1; tightened round-10): the reader's per-batch work must be O(dirs)
    lstats + O(churn) everything else, so the numbers that matter are
    the idle-batch floor (one direct lstat per dir, ZERO dirent reads,
    zero file stats — dirs_listed pins the getdents-free contract), its
    entry-independence (same dirs, 1/10 files → same idle cost), and
    the 1%-churn batch (only churned dirs enumerated + their files
    re-stat'ed + snapshot-diffed).  Direct reader calls — the reader
    runs driver-side under Spark streaming anyway, so this measures the
    honest per-trigger cost without memory-sink choreography."""
    import shutil
    import tempfile

    from dudb_spark.sources.fsds import FsWatchReader

    base = tempfile.mkdtemp(prefix="dudb_fswatch_bench_")
    root = os.path.join(base, "tree")

    def state(name):
        # each watcher's snapshot dir lives under base, removed below
        d = os.path.join(base, name)
        os.makedirs(d)
        return d

    try:
        for i in range(n_dirs):
            d = os.path.join(root, f"g{i // 100:02d}", f"d{i:05d}")
            os.makedirs(d)
            for j in range(files_per_dir):
                with open(os.path.join(d, f"f{j}.dat"), "w") as f:
                    f.write("x")
        n_entries = n_dirs * files_per_dir + n_dirs + n_dirs // 100 + 1

        r = FsWatchReader({"path": root, "state_dir": state("st_r")})
        t0 = time.perf_counter()
        n0 = sum(1 for _ in r.read({"gen": 0})[0])
        t_resync = time.perf_counter() - t0
        assert n0 >= n_entries - 1, (n0, n_entries)

        # idle batch, min of 3 (milliseconds-scale, scheduler-noisy).
        # Round-10 contract: GETDENTS-FREE — one lstat per dir, zero
        # dirent enumeration, zero file stats (dirs_listed pins it).
        t_idle = min(
            _timed(lambda: r.read({"gen": 1})) for _ in range(3)
        )
        idle_listed = r.last_batch_stats.get("dirs_listed")

        # entry-independence: a SECOND tree with the SAME dir count but
        # 1/10th the files must idle at ~the same cost — per-batch idle
        # work is O(dirs), not O(entries) (the old pass read every
        # dirent in the tree every batch, so this ratio was ~the entry
        # ratio)
        sparse_root = os.path.join(base, "sparse")
        for i in range(n_dirs):
            d = os.path.join(
                sparse_root, f"g{i // 100:02d}", f"d{i:05d}"
            )
            os.makedirs(d)
            for j in range(max(1, files_per_dir // 10)):
                with open(os.path.join(d, f"f{j}.dat"), "w") as f:
                    f.write("x")
        r_sp = FsWatchReader({"path": sparse_root,
                              "state_dir": state("st_sparse")})
        sum(1 for _ in r_sp.read({"gen": 0})[0])
        t_idle_sparse = min(
            _timed(lambda: r_sp.read({"gen": 1})) for _ in range(3)
        )

        churn = max(1, n_dirs // 100)
        for i in range(churn):
            with open(
                os.path.join(root, f"g{i % (n_dirs // 100):02d}",
                             f"d{i * 100:05d}", "new.bin"), "w"
            ) as f:
                f.write("z")
        t0 = time.perf_counter()
        nrows = sum(1 for _ in r.read({"gen": 1})[0])
        t_churn = time.perf_counter() - t0
        stats = dict(r.last_batch_stats)

        # SEEDED start (round-9): the same tree, 1%-churned again,
        # through a watcher initialized from a stored-snapshot seed —
        # batch 0 is the restart reconciliation as a churn-sized diff,
        # so its wall-time tracks dirs + churn, never the tree (compare
        # fswatch_resync_entries_per_sec above: the unseeded batch 0
        # stats every entry).  Seed write = fixture staging, untimed.
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dudb_spark.sources.crawler import crawl_local

        _, e0, _ = crawl_local(root)
        seed_dir = os.path.join(base, "seed")
        os.makedirs(seed_dir)
        rs_schema = r._arrow_schema()
        pq.write_table(
            pa.Table.from_pylist(
                [dict(x, error=None)
                 for x in sorted(e0, key=lambda x: x["parent"])],
                schema=rs_schema,
            ),
            os.path.join(seed_dir, "part-0.parquet"),
        )
        for i in range(max(1, n_dirs // 100)):
            with open(
                os.path.join(root, f"g{i % (n_dirs // 100):02d}",
                             f"d{i * 100:05d}", "seedchurn.bin"), "w"
            ) as f:
                f.write("s")
        rs = FsWatchReader({"path": root, "seed": seed_dir,
                            "state_dir": state("st_seeded")})
        t0 = time.perf_counter()
        ns = sum(1 for _ in rs.read({"gen": 0})[0])
        t_seeded = time.perf_counter() - t0
        seeded_stats = dict(rs.last_batch_stats)
        return {
            "fswatch_tree_entries": n_entries,
            "fswatch_resync_entries_per_sec": round(n0 / t_resync),
            "fswatch_idle_batch_sec": round(t_idle, 3),
            "fswatch_idle_batch_sec_sparse": round(t_idle_sparse, 3),
            "fswatch_idle_dirs_listed": idle_listed,
            "fswatch_churn1pct_batch_sec": round(t_churn, 3),
            "fswatch_churn_rows": nrows,
            "fswatch_churn_files_statted": stats.get("files_statted"),
            "fswatch_seeded_start_sec": round(t_seeded, 3),
            "fswatch_seeded_rows": ns,
            "fswatch_seeded_files_statted":
                seeded_stats.get("files_statted"),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # decode kernels are pure numpy/Python — measure them BEFORE the JVM
    # spins up (measured 2-3x slower when run after the 121-query suite:
    # GC and executor threads contend for cores and memory bandwidth)
    decode_metrics = decode_bench()
    decode_metrics.update(fswatch_bench())

    spark = get_spark("dudb_spark-bench")
    # warm the JVM so the first measured query isn't paying one-time JIT:
    # a real parquet scan + hash aggregate + sort exercises the codegen
    # paths the headline queries use (spark.range alone leaves the parquet
    # reader and aggregate codegen cold — measured ~2.5s attributed to q01)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.groupBy("r_name").count().orderBy("r_name").collect()
    # ... and the higher-order-function lambda codegen paths the text
    # pipeline leans on (split/filter/transform/aggregate) — otherwise the
    # first HOF query pays their one-time compilation
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).selectExpr(
        "sum(aggregate(transform(filter(split(text, '\\\\s+'), x -> x != ''),"
        " t -> length(t)), 0L, (a, v) -> a + v))"
    ).collect()
    spark.catalog.clearCache()

    try:
        load1_start = round(os.getloadavg()[0], 2)
    except OSError:
        load1_start = None

    queries = entry_mod.queries()
    times: dict[str, float] = {}
    mid_calib: dict[str, float] = {}
    mid_at = len(queries) // 2
    for qi, (name, fn) in enumerate(queries.items()):
        if qi == mid_at:
            # mid-suite noise sentinel (round-8 forensics: q37/q38/q44
            # inflated 3x in ONE committed run while both post-suite
            # anchors were the fastest ever recorded — a transient
            # mid-suite contention window is invisible to end-of-run
            # anchors).  Two cheap probes make it visible in-record.
            mid_calib["calib_scan_agg_mid_sec"] = _calib_scan(
                spark, sf_dir, reps=2
            )
            mid_calib["calib_pandas_mid_sec"] = _calib_pandas(spark, reps=2)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count() if name.startswith("_") else len(df.collect())
        times[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {times[name]}s ({n} rows)", file=sys.stderr, flush=True)
        # Drop state a query leaves behind (streaming memory-sink tables,
        # cached frames) so later queries aren't taxed by accumulated
        # executor memory pressure — each query is measured cold, like the
        # driver's per-query correctness runs.
        for tbl in spark.catalog.listTables():
            if tbl.name.startswith("dudb_q"):
                spark.catalog.dropTempView(tbl.name)
        spark.catalog.clearCache()
        # Reset the Python-level suite memos so every query's second is
        # STANDALONE (r11 verdict item: the pinned documents pair frame
        # was shared by q37/q44/q55/q58 and the staged events dir by
        # q30/q49/q50/q59 — the first consumer paid, later ones reused,
        # making those per-query seconds order-dependent).  clearCache()
        # cannot see these dicts.
        from dudb_spark.pipeline import dedup as _dedup_mod

        _dedup_mod._PIN_CACHE.clear()
        entry_mod._STAGED_EVENTS_MEMO.clear()
        # Unload state-store providers left by terminated streaming
        # queries (they stay resident in local mode): ten streaming gates
        # in the suite otherwise accumulate heap that later queries pay
        # for as GC pauses — observed as one random query per run spiking
        # 3s -> 20s while measuring 4x faster in isolation.  NOT
        # System.gc(): an explicit full GC flushes generated classes and
        # JIT code, which measured ~45% slower across the whole suite.
        try:
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception as e:
            # visible, not fatal: if this private hook moves in a Spark
            # upgrade the 3s->20s GC-pressure outliers return — a silent
            # no-op here would hide that cause
            print(f"  WARN: StateStore unload failed: {e}", file=sys.stderr)

    total = round(sum(times.values()), 3)
    # Key the JSON by the short query id (q01, q02, ...) so the single
    # output line stays inside the driver's output-tail buffer; the full
    # names are on stderr above and in __spark_entry__.queries().
    short = {name.split("_", 1)[0]: t for name, t in times.items()}
    result = {
        "metric": "headline_query_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": short if len(short) == len(times) else times,
        "sf": sf,
    }
    # ingest-side throughput anchor (BASELINE.md: reference ≈4,700 rows/s):
    # q31 pushes one stats fold over one synthetic entry per lineitem row
    n_entries = int(600_000 * (sf / 0.1)) if sf else None  # synthetic-tree rows
    if "q31_fs_stats_at_scale" in times and n_entries:
        result["stats_entries_per_sec"] = round(
            n_entries / times["q31_fs_stats_at_scale"]
        )
    if "q35_fs_rollup_at_scale" in times and n_entries:
        result["rollup_entries_per_sec"] = round(
            n_entries / times["q35_fs_rollup_at_scale"]
        )
    # incremental-ingest anchor: q87 pushes the same synthetic tree through
    # merge_scan with ~1% churn (mirrors the reference's incremental e2e,
    # analyze_test.go:262–338).  490 of 500 dirs are unchanged by
    # construction, so the staged scan re-stats only ~2% of entries —
    # that's the unchanged-skip ratio the merge exploits.
    # corpus-pipeline throughput anchor: q93 hash-embeds every document
    # (dim 32) and answers 3 exact top-5 queries in one plan
    n_docs = int(5_000 * (sf / 0.1)) if sf else None
    if "q93_hash_embed_topk" in times and n_docs:
        result["hash_embed_docs_per_sec"] = round(
            n_docs / times["q93_hash_embed_topk"]
        )
    if "q87_merge_at_scale" in times and n_entries:
        result["merge_entries_per_sec"] = round(
            n_entries / times["q87_merge_at_scale"]
        )
        result["merge_unchanged_skip_ratio"] = 0.98
    # host-speed calibration anchor: a fixed parquet scan + hash agg +
    # sort over the largest table, 3 reps, best-of.  The suite's absolute
    # numbers vary ~30-40% across rounds with BYTE-IDENTICAL code on the
    # measured paths (round-5/6 finding: single-thread decode and raw
    # disk I/O were flat while every Spark query drifted together —
    # sandbox/VM instantiation variance).  Cross-round comparisons should
    # divide by this anchor before reading a drift as a regression.
    result["calib_scan_agg_sec"] = _calib_scan(spark, sf_dir)
    # second anchor for the PYTHON side: the JVM scan anchor above missed
    # a round-7 drift that hit only Python-worker paths (streaming,
    # mapInPandas, driver choreography).  Read a drift in PY_FAMILY
    # queries against this anchor, JVM-bound ones against
    # calib_scan_agg_sec.
    result["calib_pandas_udf_sec"] = _calib_pandas(spark)
    # third anchor for JOB-SUBMISSION latency: the q91 closure (round
    # 10) found a 2x drift confined to many-small-jobs queries while
    # both anchors above moved <35%.  Streaming/choreography queries
    # (q85/q91/q100/q120) should be read against this one.
    result["calib_jobs_sec"] = _calib_jobs(spark)
    result.update(mid_calib)
    if load1_start is not None:
        result["load1_start"] = load1_start
        try:
            result["load1_end"] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
    # Per-family sums + normalized reads (round-8 verdict item 3): the
    # old suite_seconds_norm divided the whole 326-s suite by the 0.4-s
    # JVM anchor, so a 2x anchor wiggle whipsawed the headline while the
    # raw suite improved.  Retired in favor of: raw per-family sums
    # (primary cross-round read), each family's sum divided by ITS
    # anchor (secondary, host-speed-adjusted), and r4_common_sum_sec.
    # Read protocol: BENCH_NOTES.md round-9.
    py_sum = round(
        sum(t for n, t in times.items()
            if n.split("_", 1)[0] in PY_FAMILY), 1
    )
    result["suite_py_sum_sec"] = py_sum
    result["suite_jvm_sum_sec"] = round(total - py_sum, 1)
    result["suite_jvm_norm"] = round(
        result["suite_jvm_sum_sec"]
        / max(result["calib_scan_agg_sec"], 1e-9), 1
    )
    result["suite_py_norm"] = round(
        py_sum / max(result["calib_pandas_udf_sec"], 1e-9), 1
    )
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_r04.json")) as f:
            r4q = json.load(f)["parsed"]["queries"]
        result["r4_common_sum_sec"] = round(
            sum(t for qid, t in short.items() if qid in r4q), 1
        )
    except Exception:
        pass

    spark.stop()

    result.update(decode_metrics)

    # The driver records only the LAST 2000 characters of output, so the
    # single JSON line must fit inside that window — round-5's full-
    # precision line was 2378 chars and the driver recorded parsed=null.
    # Full precision goes to a sidecar file; the printed line carries
    # 2-decimal per-query times and auto-degrades to 1 decimal if the
    # suite grows past the budget again.
    # Record-grade runs only: an sf0.001 contract-check run once
    # overwrote the committed sf0.1 record and `git add -A` swept it in
    # (round 11, dfb6509/BENCH_NOTES).  The sidecar is the RECORD, so it
    # only lands for the record SF (or under an explicit env override
    # for deliberate off-SF records).
    if (
        abs(float(result.get("sf") or 0) - 0.1) < 1e-9
        or os.environ.get("SPARK_GRAFT_RECORD") == "1"
    ):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL_LOCAL.json"), "w") as f:
            json.dump(result, f, indent=1)
    else:
        print("  (non-record SF: BENCH_FULL_LOCAL.json left untouched; "
              "set SPARK_GRAFT_RECORD=1 to force)", file=sys.stderr)
    # degrade ladder: 2-dec -> 1-dec -> integer seconds (ints, not x.0 —
    # the trailing ".0" alone is ~260 chars across 130 queries), then
    # drop sidecar-covered metrics one at a time in priority order
    # (most-derivable / least-read first) until the line fits.  The
    # full-precision record ALWAYS lands in BENCH_FULL_LOCAL.json —
    # which the committed bench run writes in-repo — so nothing dropped
    # here is lost, only de-duplicated out of the driver's 2000-char
    # tail window.
    _DROP_PRIORITY = (
        "load1_start", "load1_end",
        "suite_jvm_norm", "suite_py_norm",      # = sums / anchors
        "fswatch_idle_dirs_listed",             # contract constant (0)
        "fswatch_idle_batch_sec_sparse",        # ~= idle_batch_sec
        "fswatch_seeded_rows",                  # == churn_rows
        "fswatch_tree_entries",                 # fixture constant
        "fswatch_churn_rows",
        "decode_bmp_mb_per_sec", "decode_wav_mb_per_sec",
        "decode_png_smooth_mb_per_sec",
        "calib_scan_agg_mid_sec", "calib_pandas_mid_sec",
        "fswatch_idle_batch_sec",
        "decode_png_native", "decode_jpeg_native",
        "fswatch_churn_files_statted",
        "hash_embed_docs_per_sec",
        "fswatch_churn1pct_batch_sec",
        "decode_mb_per_sec",
        "rollup_entries_per_sec",
    )
    for nd in (2, 1, None):
        qs = {
            k: (int(round(v)) if nd is None else round(v, nd))
            for k, v in short.items()
        }
        slim = dict(result, queries=qs)
        # derivable/constant metrics live in the sidecar only
        slim.pop("decode_mb_per_sec_r4", None)
        slim.pop("merge_unchanged_skip_ratio", None)
        slim.pop("decode_speedup_vs_r4", None)
        line = json.dumps(slim, separators=(",", ":"))
        if nd is None:
            for k in _DROP_PRIORITY:
                if len(line) <= 1900:
                    break
                slim.pop(k, None)
                line = json.dumps(slim, separators=(",", ":"))
        if len(line) <= 1900:
            break
    print(line)


if __name__ == "__main__":
    main()
