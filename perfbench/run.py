#!/usr/bin/env python3
"""Repository benchmark: the idu workflow through the shipped CLI.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 35 --trace 0

One process, one Spark session.  The run builds a seeded directory tree on
disk (perfbench/treegen.py) and drives ``dudb_spark.cli.main`` in-process,
stdout captured, with the arguments a user would type:

set-up    session start and a cold ``analyze`` into an empty DB
          (``setup_s``).
measured  a whole-tree ``find``, full ``stats compute`` (the baseline
          the night updates), a one-dir ``find``, one churn step at the
          workload's rate, ``analyze`` → ``stats compute --incremental``
          → ``reports generate``, and a one-group compound ``find``.
          One client sends each command when the last returns.  The
          work is fixed, not paced by the clock, so every run measures
          the same commands; on a 4-vCPU host it takes about
          ``--seconds``.

Every command's output is checked against the generator's model; a
command that raises or fails a check counts as failed.  ``--trace 1``
wraps each layer's entry points (perfbench/spans.py) and reports the
per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  The line before it records the environment.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# 8 groups x 50 leaf dirs x ~8 files: ~3.3k files, 409 dirs, the largest
# tree whose run of one night and three finds stays near a minute on 4 vCPUs
# (a 14.5k-entry tree added ~9 s; perfbench/README.md).  The 1% night
# keeps its touched set (<= 7 dirs) under stats --incremental's 2% refold
# threshold; the 25% night lands far above it.
SHAPE = {"groups": 8, "dirs_per_group": 50, "files_per_dir": 8}
WORKLOADS = {"nightly": 0.01, "high_churn": 0.25}
DRIVER_MEM_MB = 2048

E2E_UNITS = {
    "setup_s": "s", "stats_s": "s", "analyze_s": "s",
    "stats_incremental_s": "s", "reports_s": "s", "cycle_s": "s",
    "find_s": "s", "py_peak_rss_mb": "MB", "db_bytes_per_entry": "B",
}


class Run:
    """One benchmark run: its directories, the model, the tallies."""

    def __init__(self, args, base):
        import treegen

        self.tg = treegen
        self.args = args
        self.root = os.path.join(base, "tree")
        self.db = os.path.join(base, "db")
        self.stats_dir = os.path.join(base, "stats")
        self.reports_dir = os.path.join(base, "reports")
        os.makedirs(self.stats_dir)
        os.makedirs(self.reports_dir)
        self.can_chown = os.geteuid() == 0
        self.rate = WORKLOADS[args.workload]
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = {}
        self.snapshot = None
        self.totals = None

    def fail(self, msg):
        self.failed += 1
        print(f"perfbench: {msg}", file=sys.stderr)

    # -- inputs --------------------------------------------------------------
    def build_inputs(self):
        tg, seed = self.tg, self.args.seed
        args = {"seed": seed, "shape": SHAPE, "rate": self.rate,
                "can_chown": self.can_chown, "root": self.root}
        self.manifest = tg.manifest(**args)
        # again in a child under another hash seed: set and dict order
        # must not leak into the expectations
        try:
            hs = int(os.environ.get("PYTHONHASHSEED", "0"))
        except ValueError:
            hs = 0
        child = subprocess.run(
            [sys.executable, os.path.join(HERE, "treegen.py"),
             json.dumps(args)], capture_output=True, text=True, timeout=120,
            env={**os.environ, "PYTHONHASHSEED": str(hs + 1)})
        self.manifest_ok = child.stdout.strip() == self.manifest["hash"]
        if not self.manifest_ok:
            self.fail("one seed built two different manifests "
                      f"{child.stderr.strip()}")
        self.model = tg.TreeModel(self.root, seed, can_chown=self.can_chown,
                                  **SHAPE)
        tg.materialize(self.model, self.can_chown)

    # -- commands ------------------------------------------------------------
    def cli(self, label, argv, check):
        """Run one CLI command; time it, check its stdout, tally it."""
        from dudb_spark import cli

        self.attempted += 1
        buf = io.StringIO()
        span = (self.tracer.span(f"cmd:{label}", "cmd") if self.tracer
                else contextlib.nullcontext())
        try:
            t0 = time.perf_counter()
            with span, contextlib.redirect_stdout(buf):
                cli.main(argv)
            dt = time.perf_counter() - t0
            problem = check(buf.getvalue())
        except (Exception, SystemExit):  # argparse errors exit
            traceback.print_exc()
            problem = "raised"
        if problem:
            self.fail(f"{label} ({' '.join(argv)}): {problem}")
            return None
        self.times.setdefault(label, []).append(dt)
        return dt

    def analyze(self, label, expect):
        def check(out):
            s = json.loads(out.splitlines()[-1])
            got = {k: s.get(k) for k in expect}
            self.snapshot = s["snapshot"]
            return None if got == expect else f"{got} != {expect}"

        return self.cli(label, ["analyze", "--db", self.db, "--scans",
                                str(self.args.nproc), self.root], check)

    def stats(self, label, *extra):
        def check(out):
            self.totals = json.loads(out.splitlines()[-1])["totals"]
            want = self.model.totals(self.root,
                                     lambda p: os.lstat(p).st_size)
            got = {k: self.totals.get(k) for k in want}
            return None if got == want else f"totals {got} != {want}"

        return self.cli(label, ["stats", "compute", "--db", self.db,
                                "--stats-dir", self.stats_dir, *extra,
                                self.root], check)

    def reports(self):
        return self.cli("reports", ["reports", "generate", "--stats-dir",
                                    self.stats_dir, "--reports-dir",
                                    self.reports_dir], self._check_reports)

    def _check_reports(self, out):
        """tsv, json and markdown exist; markdown totals are the stats
        totals; tsv and json hold the same rows, whose largest ``bytes``
        heads the markdown top-by-bytes table."""
        rdir = json.loads(out.splitlines()[-1])["report"]
        totals, top_bytes, section = {}, None, None
        with open(os.path.join(rdir, "markdown", "report.md")) as f:
            for line in f:
                if line.startswith("#"):
                    section = line.strip()
                    continue
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                if len(cells) != 2 or not cells[1].isdigit():
                    continue
                if section == "## Totals":
                    totals[cells[0]] = int(cells[1])
                elif section.endswith("by bytes") and top_bytes is None:
                    top_bytes = int(cells[1])
        if totals != self.totals:
            return f"markdown totals {totals} != stats {self.totals}"
        rows, n_tsv = [], 0
        for name in os.listdir(os.path.join(rdir, "json")):
            if name.endswith(".json"):
                with open(os.path.join(rdir, "json", name)) as f:
                    rows += [json.loads(x) for x in f if x.strip()]
        for name in os.listdir(os.path.join(rdir, "tsv")):
            if name.endswith(".csv"):
                with open(os.path.join(rdir, "tsv", name)) as f:
                    n_tsv += sum(1 for x in f if x.strip()) - 1
        if not rows or n_tsv != len(rows):
            return f"{n_tsv} tsv rows, {len(rows)} json rows"
        if max(r["bytes"] for r in rows) != top_bytes:
            return f"json top bytes != markdown top bytes {top_bytes}"
        return None

    def find(self, root, q, hits):
        def check(out):
            got = sorted(out.splitlines())
            if len(got) != hits:
                return f"{len(got)} rows, manifest says {hits}"
            if got != sorted(self.model.find(root, q)):
                return "rows differ from the model's"
            return None

        return self.cli("find", ["find", "--db", self.db, root, q.text],
                        check)

    # -- phases --------------------------------------------------------------
    def setup(self):
        c = self.model.counts()
        return self.analyze("setup.analyze", {
            "prefixes_finished": c["dirs"], "files": c["files"]})

    def measured(self):
        t_start = time.perf_counter()
        # the finds are spread over the run, so their median samples the
        # host at three points: its speed drifts over tens of seconds
        whole, leaf, group = self.tg.find_queries(self.args.seed, self.model)
        hits = [f["hits"] for f in self.manifest["finds"]]
        self.find(*whole, hits[0])
        self.stats("stats")
        self.find(*leaf, hits[1])
        step = self.model.churn(self.rate, SHAPE["files_per_dir"])
        self.tg.apply_step(self.model, step, self.can_chown)
        want = self.manifest["step"]
        if self.model.digest() != want["digest"]:
            self.fail("churned tree differs from the manifest")
        a = self.analyze("analyze", {
            "prefixes_added": want["added"],
            "prefixes_deleted": want["deleted"],
            "prefixes_changed": want["changed"],
            "files": want["files"], "prefixes_finished": want["dirs"]})
        s = self.stats("stats_incremental", "--incremental")
        r = self.reports()
        if None not in (a, s, r):
            self.times["cycle"] = [a + s + r]
        self.find(*group, hits[2])
        return time.perf_counter() - t_start


def _vm_hwm_mb():
    """Peak RSS of this (the driver's Python) process.  The JVM's is left
    out: it follows heap sizing and GC timing, and spread 0.14-0.17
    across seeds."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _stop_spark(spark):
    """Stop the session and wait for the JVM child process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith(("ratio", "chosen")):
        return "ratio"
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "dudb_spark", "cli.py")):
        print("perfbench: no dudb_spark/ beside perfbench/; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    args.nproc = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    driver_mb = min(DRIVER_MEM_MB, mem_mb // 4)
    base = os.path.join(REPO, ".perfbench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    # dudb_spark.session reads these at import: pin them first
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(args.nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(base, "spark-local"),
        "TMPDIR": tmp,
    })
    sys.path[:0] = [REPO, HERE]
    # SIGTERM unwinds through the finally below: JVM stopped, dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load0 = os.getloadavg()
    spark = tracer = None
    try:
        run = Run(args, base)
        # the tree is written while the JVM starts; neither is timed
        # against the other
        inputs = threading.Thread(target=run.build_inputs)
        inputs.start()
        t0 = time.perf_counter()
        from dudb_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={
            # keep every job's status for the traced run's job counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # no hsperfdata under /tmp: the run writes only in its dir
            "spark.driver.extraJavaOptions":
                f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        spark_s = time.perf_counter() - t0
        inputs.join()
        a = run.setup()
        setup_s = spark_s + a if a is not None else None

        if args.trace:
            from spans import Tracer

            tracer = run.tracer = Tracer(spark)
            tracer.start()
        measured_s = run.measured()

        med = {k: statistics.median(v) for k, v in run.times.items()}
        if tracer is not None:
            time.sleep(0.5)  # let the status store record the last job
            tracer.resolve_jobs()
            metrics = tracer.summary(
                run.attempted - 1, run.manifest["step"]["useful_entries"])
            metrics["trace.cycle_s"] = med.get("cycle")
            units = {k: _layer_unit(k) for k in metrics}
            tracer.dump()
        else:
            metrics = {
                "setup_s": setup_s, "stats_s": med.get("stats"),
                "analyze_s": med.get("analyze"),
                "stats_incremental_s": med.get("stats_incremental"),
                "reports_s": med.get("reports"), "cycle_s": med.get("cycle"),
                "find_s": med.get("find"),
                "py_peak_rss_mb": _vm_hwm_mb(),
                "db_bytes_per_entry": _du(run.snapshot)
                / run.model.counts()["entries"] if run.snapshot else None,
            }
            units = E2E_UNITS
        complete = all(v is not None for v in metrics.values())
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "nproc": args.nproc, "mem_total_mb": mem_mb,
            "driver_mem_mb": driver_mb, "spark": spark.version,
            "python": sys.version.split()[0],
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "manifest_hash": run.manifest["hash"],
            "tree": run.manifest["tree"], "seconds": args.seconds,
            "measured_s": measured_s,
            "samples": {k: len(v) for k, v in run.times.items()},
            "ops_failed_frac": run.failed / max(run.attempted, 1),
        }))
        print(json.dumps({
            "correct": run.failed == 0 and run.manifest_ok and complete,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items() if v is not None},
        }))
        return 0
    finally:
        try:
            if tracer is not None:
                tracer.stop()
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(base, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(base))


if __name__ == "__main__":
    sys.exit(main())
