"""Generate PLANS.md: formatted physical plans of the headline queries with
the scale-relevant properties called out.  Re-run after plan-affecting
changes: python tools/gen_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as m
from dudb_spark.session import get_spark

SHOWCASE = {
    "q01_pricing_summary": "partial+final HashAggregate; decimal sums; scan "
    "prunes to 6 of 11 lineitem columns",
    "q03_top_orders": "TakeOrderedAndProject — bounded top-N, no global sort",
    "q05_region_revenue": "BroadcastHashJoin chain; tiny dims never shuffle "
    "the fact table",
    "q07_hardlink_style_dedup": "WindowGroupLimit pre-prunes the ranking "
    "window before the shuffle",
    "q22_fs_find": "PushedFilters: subtree StringStartsWith + uid EqualTo "
    "reach the Parquet scan",
    "q23_fs_stats_totals": "one Expand/GROUPING SETS shuffle computes all "
    "three stats grains",
    "q31_fs_stats_at_scale": "the full stats fold at 600k entries — dedup "
    "windows + grouping sets, no driver-side loops",
    "q35_fs_rollup_at_scale": "recursive rollup as ancestor-explode + ONE "
    "hash aggregate (map-side partial combine absorbs the hot root keys); "
    "no prefix-LIKE nested-loop join, no iterative self-joins",
    "q37_fingerprint_overlap": "winnowed copy detection: staged fingerprint "
    "projections, one equi-join on the fingerprint value, boilerplate "
    "buckets capped before pairing",
    "q43_asof_join": "as-of join via union–sort: ONE Exchange on the key, "
    "no range join / nested loop — hot keys degrade to a sort, not a "
    "quadratic pair blow-up",
    "q46_stratified_sample": "deterministic hash sampling: zero Exchange — "
    "a narrow filter fused into the scan stage",
    "q47_sequence_packing": "distributed prefix sum: range exchange + "
    "per-partition windows + broadcast offsets; no single-task global "
    "window over the data",
    "q51_interval_join": "bucketized range join: interval explode + "
    "equi-join on bucket id + residual filter; no nested-loop join",
    "q53_nation_volume": "multi-fact join chain, two broadcast aliases "
    "of one dim; AQE picks broadcast at this SF, SMJ at scale",
    "q54_heavy_hitter_terms": "salted two-phase count: partial agg on "
    "(term, salt) spreads stopword skew before the final term agg",
    "q71_decontamination": "eval shingle set broadcast — the corpus side "
    "is map-side joined with no corpus shuffle; only matches re-aggregate",
    "q72_repetition_signals": "(doc, bigram) partial+final HashAggregate — "
    "map-side combine collapses repetitive docs before the exchange",
    "q73_pii_scan": "regex counting + redaction fused into the scan stage "
    "(whole-stage codegen, text column only); the single Exchange is the "
    "gate's presentation orderBy, not the operator",
    "q74_bm25_terms": "the persisted (doc, term) frame feeds tf, dl, and "
    "df from one explode+shuffle; avgdl/N ride as a broadcast scalar row",
    "q79_sq8_ann": "SQ8 bounds via posexplode+groupBy(pos) (codegen-small, "
    "d rows per partition after partial agg); zip_with decode — array "
    "args evaluate once per row",
    "q80_zorder_key": "integer-exact Morton key: BIGINT normalize + bit "
    "interleave over staged attributes; layout = rangepartitioning(z)",
    "q81_token_chunking": "chunking is one scan-side Generate per doc — "
    "no shuffle; the token array rides the explode instead of re-joining",
    "q87_merge_at_scale": "incremental merge: ONE full-outer path-keyed "
    "classification join, all four counters in one count(when) job, "
    "unchanged entries reused via semi-joins",
    "q88_semantic_dedup": "SemDeDup: pairwise work confined to quantizer "
    "cells (equi-join on cell, no cartesian); vector norms materialized "
    "once behind the persist barrier",
    "q89_train_split": "split assignment is a scan-side CASE over the "
    "hash coordinate — zero Exchange, stable under corpus growth",
    "q90_corpus_report": "dataset card: fingerprint min-window + one "
    "grouped pass; averages summed as exact integer micro-units",
    "q92_salted_skew_join": "salted skew join: the dim side exploded to "
    "8 salt replicas, join key (l_partkey, _salt) — one monster key "
    "spreads across 8 ordinary partitions; result provably equals the "
    "plain join (the oracle IS the plain join)",
    "q93_hash_embed_topk": "hashing-trick embeddings: explode + two-phase "
    "pivot aggregate (map-side partials), broadcast query side, integer "
    "dot products via zip_with — no Python row path, nothing quadratic",
    "q94_skew_profile": "skew diagnosis: per-key counts, "
    "TakeOrderedAndProject for the hot keys, scalar totals BROADCAST onto "
    "them — never a global window over the billion-key count frame",
    "q143_dsir_select": "DSIR selection: log-ratio vector constant-folded "
    "into the scan-side weight fold (no join, no broadcast exchange); "
    "Gumbel-top-k compiles to TakeOrderedAndProject — bounded heaps, "
    "never a global sort",
    "q144_knn_label_noise": "kNN label audit: candidate pairs confined "
    "to quantizer cells (equi-join on cell, no cartesian); the k-nearest "
    "rank window is WindowGroupLimit-prunable; votes are bounded hash "
    "aggregates",
    "q145_corpus_drift": "drift monitor: one groups×buckets bounded-key "
    "aggregate over the corpus; reference/totals/grid ride broadcast "
    "joins; nano-quantized terms make the double sums order-free",
    "q96_clean_corpus": "end-to-end corpus cleaning: scan-side "
    "scoring/fingerprinting, ONE fingerprint-window shuffle, broadcast "
    "eval shingles for decontamination, redaction fused into the final "
    "projection — every gate a Catalyst-visible filter",
    "q98_scale_exact_percentiles": "exact quantiles from order "
    "statistics: spillable window sort + broadcast rank probes — no "
    "group-sized aggregation buffer anywhere in the plan",
    "q99_ivf_sq8_search": "compressed-index ANN: IVF cells prune the "
    "candidate set (left-semi), SQ8 int8 codes decode scan-side, ranking "
    "touches only probed cells' reconstructed vectors",
    "q101_span_dedup": "exact substring dedup: grams hash to int64 INSIDE "
    "the per-row transform (wide gram text never becomes rows), "
    "first-occurrence window partitioned by gram, covered-position "
    "explode bounded by duplicate volume, anti-join removal",
    "q103_bm25_retrieval": "batch retrieval: postings joined to BROADCAST "
    "query terms/df/constants — the corpus-side frame is never "
    "re-shuffled for scoring; per-query top-k rank window",
    "q104_shuffled_shards": "deterministic corpus shuffle: md5 order via "
    "range exchange + per-partition windows + broadcast offsets (the "
    "prefix-sum shape), no single-task global window",
    "q106_pagerank": "PageRank: one join+agg shuffle per power iteration, "
    "localCheckpoint between rounds keeps the plan flat; N rides as a "
    "broadcast scalar row",
    "q109_pq_adc_search": "PQ/ADC: codes computed scan-side over the "
    "persisted cast vector; query scoring is m element_at lookups into "
    "literal tables + TakeOrderedAndProject — no float vector touched "
    "at query time",
    "q119_ivf_pq_residual": "residual IVF,PQ: candidates pruned to the "
    "probed cells, scoring is per-cell CASE constants + m element_at "
    "lookups into literal residual-codebook tables + "
    "TakeOrderedAndProject — no raw vector touched at query time",
    "q121_chunk_windows": "context-window chunking: ONE scan-side "
    "Generate (posexplode of window starts) per doc — no shuffle, the "
    "token array never re-joins",
    "q122_source_overlap": "leakage matrix: the distinct (source, "
    "gram-hash) set is bounded by gram vocabulary, pairs come from one "
    "hash equi-join, and the Jaccard denominators arrive as broadcast "
    "per-source totals",
    "q125_bpe_encode": "BPE inference: all 8 merge folds chain into one "
    "scan-fused projection over the DISTINCT vocabulary (bounded by the "
    "lexicon, not the corpus); the word→token-count map joins back on "
    "the word key and per-doc counts aggregate with map-side partials",
    "q116_curriculum_bins": "corpus-wide deciles WITHOUT an unpartitioned "
    "window: the constant-group call routes through the two-phase "
    "range-partitioned rank (repartitionByRange + per-partition "
    "row_number + broadcast offset cumsum)",
    "q129_budget_selection": "token-budget selection: (score,id) packed "
    "into one int64 key, two-phase distributed cumsum "
    "(repartitionByRange + per-partition running totals + broadcast "
    "offsets), budget cut is a plain filter — every window keyed",
    "q134_cluster_balance": "Lloyd k-means: each round is ONE scan + a "
    "≤k-row aggregate; centroids return to the plan as literals, so "
    "assignment is a scan-side CASE chain — no per-round shuffle of the "
    "vectors, no driver-side vector math",
    "q135_watch_apply_prefixes": "continuous ingest apply: churn-sized "
    "change feed drives BROADCAST anti/semi-joins against the stored "
    "snapshot; n_entries recounts only the affected parents — nothing "
    "shuffles proportional to tree size",
    "q146_hll_cardinality": "HyperLogLog sketch: the register fold is "
    "partial+final HashAggregate over a groups×256 key — NO Expand, "
    "constant shuffle state at any corpus size (the exact-distinct arm "
    "alongside shows the Expand it replaces)",
    "q148_hard_negatives": "hard-negative mining: BM25 scoring through "
    "broadcast query/df joins, exclusions anti-joined broadcast-side "
    "BEFORE ranking — the corpus postings frame is never re-shuffled",
    "q151_sketch_source_overlap": "sketch set-ops: pairwise union "
    "estimates from ONE per-source register frame (pairs×256-row "
    "max-merge, equi-joins against the broadcast pair list) — the "
    "corpus is scanned once, never per pair",
    "q163_kmv_set_overlap": "KMV theta sketch: dense_rank ≤ k compiles "
    "to a PARTIAL-mode WindowGroupLimit BEFORE the exchange (bounded "
    "map-side heap per group — the sketch fold's shuffle is constant "
    "in corpus size); pair set-ops are equi-joins against broadcast "
    "pair/θ frames over ≤ pairs×2k sketch rows",
    "q167_weighted_mass_sample": "weight-mass allocation: quota windows "
    "run over the ≤|strata|-row counts fold; selection is ONE shuffle "
    "on the stratum key with the constant rn ≤ max(capped) bound "
    "keeping the group-limit prune, quotas broadcast",
    "q168_exact_similarity_join": "exact similarity join: candidates "
    "from an equi-join on rarest-first PREFIX tokens only (the prefix "
    "lemma bounds the index; no cartesian anywhere); df fold + per-doc "
    "scan-side sort; verification joins keyed on doc id, bounded by "
    "the candidate set",
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark("gen_plans")
    sf = "/root/testdata/sf0.01"
    sections = []
    census = []  # (query, SinglePartition exchange count) where > 0
    for name, note in SHOWCASE.items():
        df = m.QUERIES[name](spark, sf)
        plan = plan_of(df)
        n_single = plan.count("SinglePartition")
        if n_single:
            census.append((name, n_single))
        # keep the operator tree + the first scan detail blocks, cap length
        sections += [f"## {name}", "", f"**Scale property:** {note}", "",
                     "```"]
        sections += plan.splitlines()[:120]
        sections += ["```", ""]
    out = [
        "# PLANS — physical plans of headline queries",
        "",
        "Generated by `tools/gen_plans.py` (re-run after plan changes).",
        "Each plan is the `.explain('formatted')` output at sf0.01; the",
        "note above each names the property that matters at 100 TB.",
        "",
        "**SinglePartition census** (every `Exchange SinglePartition` in",
        "the showcased plans — each must be a bounded final aggregate or",
        "broadcast-scalar staging, never data-proportional):",
        "",
    ]
    for name, n in census:
        out.append(f"- {name}: {n}")
    out += ["", f"Total: {sum(n for _, n in census)} across "
            f"{len(SHOWCASE)} showcased plans.", ""]
    out += sections
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines); SinglePartition census: "
          f"{census}")


if __name__ == "__main__":
    main()
