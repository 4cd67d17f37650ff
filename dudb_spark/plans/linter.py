"""Plan linter — the 100 TB scale audit as a runnable check.

Every round of development ends with the same manual review: explain
each query, look for the handful of shapes that are fine at sf0.1 and
fatal at 100 TB.  This module encodes that review so it runs in CI and
from the CLI (``python -m dudb_spark plan-lint``), the way
tests/test_plans.py pins individual operators but across ANY query.

Rules (each names the failure mode it guards):

- ``cartesian``       CartesianProduct — all-pairs row explosion; only
                      sound against a literal few-row frame, which
                      Spark plans as BroadcastNestedLoopJoin instead.
- ``nested-loop``     BroadcastNestedLoopJoin — linear scans of the
                      broadcast side per row; acceptable ONLY for tiny
                      literal frames (scalar configs, probe lists), so
                      it must be explicitly allowlisted per query.
- ``global-window``   a Window with neither PARTITION BY nor a
                      preceding bounded aggregation — the whole dataset
                      sorts through ONE task (the q116 round-6
                      scale-killer, generalized).
- ``row-python-udf``  BatchEvalPython — row-at-a-time Python UDF in the
                      hot path; Arrow (``ArrowEvalPython`` /
                      ``mapInPandas``) is the sanctioned Python escape.
- ``single-partition-run`` more than ``max_single_partition`` Exchange
                      SinglePartition nodes — bounded final aggregates
                      legitimately collapse to one partition once or
                      twice; a run of them means data-proportional work
                      is being serialized through one task.
- ``unpruned-scan``   a Filter sitting DIRECTLY on a parquet scan whose
                      ``PushedFilters`` and ``PartitionFilters`` are
                      both empty — the predicate was pushable-shaped
                      (nothing but ColumnarToRow between them) yet the
                      scan reads every row group.  A Filter above a
                      Project is NOT flagged: Catalyst pushes filters
                      below projections whenever legal, so surviving
                      above one means the condition needs a computed
                      column and genuinely cannot reach the scan.

``lint_plan`` inspects one DataFrame; ``lint_queries`` sweeps a
queries() registry with a per-query allowlist of (rule, reason) pairs —
an allowlisted finding is REPORTED with its reason, never silently
dropped, so intentional exceptions stay visible.

The one 100 TB hazard invisible to any PLAN is a data-proportional
``collect()`` — the plan of a collected frame looks identical at every
scale.  :func:`collect_sites` / :func:`lint_collect_sites` audit the
SOURCE instead: every ``.collect()`` / ``.toPandas()`` call site in the
package must carry a written boundedness reason in
:data:`COLLECT_ALLOW`, keyed by function so line drift never churns the
registry; stale entries fail the sweep exactly like the plan allowlist.
"""

from __future__ import annotations

import ast
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from dudb_spark.plans.inspect import plan_of


@dataclass
class Finding:
    rule: str
    detail: str
    allowed: str | None = None  # reason, when allowlisted


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


_NODE_RE = re.compile(r"^(?P<pad>[\s:+*-]*)(?P<name>.*?)\s*\((?P<id>\d+)\)\s*$")

# nodes that sit between a Filter and the scan without reshaping columns
# — a Filter seen through ONLY these is "directly on the scan"
_PASSTHROUGH = {"ColumnarToRow", "InputAdapter", "WholeStageCodegen"}


def _unpruned_scans(df: DataFrame) -> list[Finding]:
    """Parse the FORMATTED physical plan: flag every parquet scan with
    empty PushedFilters AND empty PartitionFilters whose nearest
    non-passthrough ancestor is a Filter (see module doc for why a
    Filter above a Project is exempt)."""
    txt = plan_of(df, "formatted")
    head, _, details = txt.partition("\n\n")
    nodes: list[tuple[int, str, str]] = []  # (indent, name, id)
    for ln in head.splitlines():
        m = _NODE_RE.match(ln)
        if m and m.group("name"):
            nodes.append((len(m.group("pad")), m.group("name"),
                          m.group("id")))
    # parent = nearest earlier line with smaller indent
    parent: dict[int, int | None] = {}
    for i, (ind, _, _) in enumerate(nodes):
        parent[i] = next(
            (j for j in range(i - 1, -1, -1) if nodes[j][0] < ind), None
        )
    out: list[Finding] = []
    for i, (_, name, nid) in enumerate(nodes):
        if not name.startswith("Scan parquet"):
            continue
        m = re.search(
            rf"^\({nid}\) Scan parquet.*?(?=^\(\d+\) |\Z)",
            details, re.S | re.M,
        )
        block = m.group(0) if m else ""
        pushed = re.search(r"PushedFilters: \[(.*?)\]", block, re.S)
        part = re.search(r"PartitionFilters: \[(.*?)\]", block, re.S)
        if (pushed and pushed.group(1).strip()) or \
                (part and part.group(1).strip()):
            continue
        j = parent[i]
        while j is not None and nodes[j][1].split(" ")[0] in _PASSTHROUGH:
            j = parent[j]
        if j is not None and nodes[j][1].split(" ")[0] == "Filter":
            out.append(Finding(
                "unpruned-scan",
                f"Filter directly on {name} (node {nid}) with no pushed "
                "or partition filters — the scan reads every row group",
            ))
    return out


def lint_plan(
    df: DataFrame, max_single_partition: int = 2
) -> list[Finding]:
    phys = plan_of(df, "simple")
    out: list[Finding] = []
    if "CartesianProduct" in phys:
        out.append(Finding("cartesian", "CartesianProduct in physical plan"))
    if "BroadcastNestedLoopJoin" in phys:
        out.append(
            Finding("nested-loop", "BroadcastNestedLoopJoin in physical plan")
        )
    if "BatchEvalPython" in phys:
        out.append(
            Finding("row-python-udf", "row-at-a-time Python UDF (BatchEvalPython)")
        )
    n_single = phys.count("SinglePartition")
    if n_single > max_single_partition:
        out.append(
            Finding(
                "single-partition-run",
                f"{n_single} Exchange SinglePartition nodes "
                f"(cap {max_single_partition})",
            )
        )
    # unpartitioned windows, from the OPTIMIZED plan.  A Window node
    # prints `Window [exprs]` plus up to two trailing lists — partition
    # spec and/or order spec, either of which may be absent.  With both
    # present there are >= 2 `], [` separators: fine.  With one, the
    # trailing list is an ORDER spec iff it carries ASC/DESC sort
    # directions — that's an ordered window with NO partition (the
    # whole dataset sorts through one task).  A partitioned-but-
    # unordered window (count() OVER (PARTITION BY ...)) also prints
    # one separator but no sort direction: fine.  Zero separators is a
    # single global unordered group: flag.
    for ln in _optimized(df).splitlines():
        body = ln.lstrip(" +-:")
        if not body.startswith("Window ["):
            continue
        n_sep = body.count("], [")
        if n_sep >= 2:
            continue
        if n_sep == 0:
            out.append(Finding("global-window", body[:160]))
            continue
        tail = body.rsplit("], [", 1)[1]
        if " ASC" in tail or " DESC" in tail:
            out.append(Finding("global-window", body[:160]))
    out.extend(_unpruned_scans(df))
    return out


def collect_sites(
    pkg_dir: str | None = None,
    attrs: tuple[str, ...] = ("collect", "toPandas"),
) -> list[tuple[str, str, int]]:
    """Every ``.collect()`` / ``.toPandas()`` call site in the package
    source: (relpath, enclosing qualname, lineno).  AST-based, so
    comments and strings never false-positive.  ``attrs`` generalizes
    the scan (``("localCheckpoint",)`` audits the pin sites)."""
    if pkg_dir is None:
        pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sites: list[tuple[str, str, int]] = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_dir)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            stack: list[str] = []

            def visit(node):
                pushed = isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef,
                           ast.ClassDef)
                )
                if pushed:
                    stack.append(node.name)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in attrs
                ):
                    qual = ".".join(stack) or "<module>"
                    sites.append((rel, qual, node.lineno))
                for ch in ast.iter_child_nodes(node):
                    visit(ch)
                if pushed:
                    stack.pop()

            visit(tree)
    return sites


# Boundedness registry for every driver materialization in the package
# (round-10 verdict item 5a: a data-proportional collect() is invisible
# to any PLAN — the audit must read the source).  Key: relpath::qualname
# of the enclosing function; value: WHY every frame that function
# collects is bounded at 100 TB.  A new collect() in an unlisted
# function fails tests/test_plan_lint.py; a stale entry fails it too.
COLLECT_ALLOW: dict[str, str] = {
    "cli.py::cmd_stats_view":
        "per-id top-N prefix frames: at most --n rows per owner",
    "cli.py::cmd_pipeline_sample_weighted":
        "audit frame is ≤|groups| rows (1 row ungrouped): per-group "
        "count/sum aggregates only",
    "cli.py::cmd_pipeline_split":
        "one count row per split NAME (the --weights spec, 2-3 entries)",
    "cli.py::cmd_pipeline_skew":
        "skew_profile returns top_n + 1 rows by contract",
    "cli.py::cmd_pipeline_check":
        "one row per registered quality check (fixed check list)",
    "cli.py::cmd_pipeline_pagerank":
        ".limit(--top) applied before collect",
    "cli.py::cmd_pipeline_bpe":
        "one row per merge round: --rounds rows",
    "cli.py::cmd_pipeline_excise_lines":
        "one scalar summary row (count/sum agg)",
    "cli.py::cmd_pipeline_profile":
        "one row per (column, metric) — schema-bounded",
    "cli.py::cmd_pipeline_dsir":
        "k sampled rows by construction (commented at the site)",
    "cli.py::cmd_pipeline_labelcheck":
        "one scalar summary row (count/flagged agg)",
    "cli.py::cmd_pipeline_select":
        "one scalar summary row (kept docs/tokens agg)",
    "pipeline/sampling.py::weighted_exact_sample":
        "two bounded scalar jobs: a 1-row guard agg over the ≤|strata| "
        "counts fold (must run BEFORE the quota arithmetic — ANSI "
        "throws in the fold first) and the 1-row max(capped) "
        "group-limit bound",
    "pipeline/dsir.py::bucket_log_ratios":
        "<= n_buckets distribution rows (the bounded-key agg)",
    "pipeline/sampling.py::stratified_exact_sample":
        "ONE row: max(quota)+sum(n_rows) over the <=|strata| quota "
        "frame (the constant group-limit bound + feasibility check)",
    "pipeline/sampling.py::temperature_sample":
        "ONE row: max(capped) over the <=|strata| quota frame (the "
        "constant group-limit bound)",
    "pipeline/kmeans.py::lloyd_kmeans":
        "k seed rows via .limit(k), then <= k centroid rows per iter",
    "pipeline/kmeans.py::cluster_balance":
        "one row per cluster: <= k",
    "pipeline/cluster.py::connected_components":
        "one scalar (sum of labels) per round — the convergence test",
    "pipeline/pq.py::fixed_pq_codebooks":
        "ksub seed rows via .limit(ksub)",
    "pipeline/pq.py::fixed_residual_codebooks":
        "<= n_coarse x ksub codebook rows — both constants",
    "pipeline/ivf.py::fixed_cells":
        "n_clusters seed rows via .limit(); <= n_clusters means per "
        "iteration — the centroids enter the plan as literals",
    "pipeline/similarity.py::label_outliers":
        "one centroid row per label; the centroids must become plan "
        "literals for the scan-side cosine",
    "operators/stats.py::StatsResult.report_rows":
        "at most 5n ranked prefix rows (row_number <= n per metric) plus "
        "one sum row per owner and one totals row — bounded by n and the "
        "owner count, like the reference's userTotals/groupTotals maps",
}


# Spill-aware pin policy (round-11 verdict item 7).  Shared facts, stated
# once: ``localCheckpoint`` materializes at MEMORY_AND_DISK — an oversized
# frame SPILLS to executor-local disk rather than OOMing — but the storage
# is executor-local and NOT fault tolerant (a lost executor fails the job
# instead of recomputing), there is no unpersist handle (freed when the
# RDD is GC'd), and an ``eager=True`` pin costs a synchronous job at
# construction time.  Therefore every pin in the package must state below
# what bounds the pinned frame's size at 100 TB; frames bounded only by
# the corpus itself must say so explicitly and name the cluster-scale
# alternative (persist with a spill-capable level + unpersist, a reliable
# checkpoint, or a written artifact).  A new ``.localCheckpoint()`` in an
# unlisted function fails tests/test_plan_lint.py; a stale entry fails it
# too.  Key: relpath::qualname of the enclosing function.
PIN_ALLOW: dict[str, str] = {
    "operators/quantiles.py::weighted_quantiles":
        "CORPUS-SIZED: the sorted cumulative-weight frame is one row "
        "per input value by construction — any exact weighted quantile "
        "must hold it; spills to local disk, and a cluster deployment "
        "should persist(DISK_ONLY)+unpersist or pre-aggregate "
        "duplicate values first",
    "operators/quantiles.py::rank_normalize":
        "one row per (group, value) AFTER the dedup aggregation — "
        "bounded by distinct values per group",
    "operators/stats.py::StatsResult.merged_top":
        "top-N report frame, bounded by N",
    "pipeline/bpe.py::bpe_merges":
        "lazy (eager=False): token-pair counts, bounded by the merge "
        "vocabulary per round",
    "pipeline/cluster.py::connected_components":
        "symmetrized edge list — edge-sized, the frame any CC algorithm "
        "iterates over; per-round label frames are node-sized",
    "pipeline/cluster.py::_propagate":
        "per-round label frame — one row per node",
    "pipeline/dedup.py::poly_shingle_base":
        "CORPUS-SIZED: one row per doc with its distinct hashed-shingle "
        "set — the frame every candidates→verify pipeline reads twice "
        "(signatures + exact verify); callers that read it once pass "
        "materialize=False; spills to local disk at scale",
    "pipeline/dedup.py::minhash_band_index":
        "one row per doc (the signature aggregate) — corpus-row-bounded "
        "but num_perm ints wide, orders below the text it replaces",
    "pipeline/dedup.py::pinned_frame":
        "REDUCED frames only by contract (candidate pairs, cluster "
        "labels) — the docstring forbids corpus-sized builders",
    "pipeline/dedup.py::cached_fingerprint_overlap_pairs":
        "post-aggregation pair frame — candidate-bounded",
    "pipeline/graph.py::pagerank":
        "degree-annotated edge list (edge-sized, what any iterative "
        "PageRank holds) + per-iteration rank frames (node-sized)",
    "pipeline/graph.py::triangle_counts":
        "canonical + oriented edge frames — edge-sized ×2; the "
        "orientation bounds downstream wedges at O(m^1.5)",
    "pipeline/graph.py::label_propagation":
        "adjacency (edge-sized) + per-round labels (node-sized)",
    "pipeline/graph.py::k_core":
        "shrinking edge subgraph per peel round — ≤ edge-sized, "
        "monotonically decreasing",
    "pipeline/graph.py::modularity":
        "canonical undirected edge set — edge-sized",
    "pipeline/graph.py::assortativity":
        "canonical undirected edge set — edge-sized",
    "pipeline/pq.py::pq_encode":
        "one row per vector with M uint8 codes — the PQ index itself, "
        "~M bytes/vector",
    "pipeline/pq.py::pq_residual_encode":
        "same as pq_encode: the two-level code frame",
    "pipeline/retrieval.py::bm25_scored":
        "lazy (eager=False): the (doc, term) inverted index — "
        "corpus-vocabulary-bounded, what any BM25 engine holds; see the "
        "function docstring for the cluster-scale swap",
    "pipeline/sampling.py::weighted_exact_sample":
        "≤|strata| counts rows",
    "pipeline/sampling.py::stratified_exact_sample":
        "≤|strata| counts rows",
    "pipeline/similarity.py::label_outliers":
        "per-label centroid frame — one row per label",
    "streaming/dedup.py::online_dedup._batch":
        "one micro-batch's new-signature frame — trigger-bounded",
}


def lint_pin_sites(
    pkg_dir: str | None = None,
) -> tuple[dict[str, list[int]], set[str]]:
    """(unallowed, stale) for ``.localCheckpoint()`` sites vs
    :data:`PIN_ALLOW` — the spill-aware pin policy audit."""
    sites = collect_sites(pkg_dir, attrs=("localCheckpoint",))
    seen = {f"{rel}::{qual}" for rel, qual, _ in sites}
    unallowed: dict[str, list[int]] = {}
    for rel, qual, lineno in sites:
        key = f"{rel}::{qual}"
        if key not in PIN_ALLOW:
            unallowed.setdefault(key, []).append(lineno)
    stale = set(PIN_ALLOW) - seen
    return unallowed, stale


def lint_collect_sites(
    pkg_dir: str | None = None,
) -> tuple[dict[str, list[int]], set[str]]:
    """(unallowed, stale): call sites whose enclosing function carries
    no written boundedness reason, and registry entries matching no
    remaining site."""
    sites = collect_sites(pkg_dir)
    seen = {f"{rel}::{qual}" for rel, qual, _ in sites}
    unallowed: dict[str, list[int]] = {}
    for rel, qual, lineno in sites:
        key = f"{rel}::{qual}"
        if key not in COLLECT_ALLOW:
            unallowed.setdefault(key, []).append(lineno)
    stale = set(COLLECT_ALLOW) - seen
    return unallowed, stale


def lint_queries(
    queries: dict, spark, sf_dir: str,
    allow: dict[str, dict[str, str]] | None = None,
    max_single_partition: int = 2,
) -> dict[str, list[Finding]]:
    """Sweep a queries() registry.  ``allow`` maps query name →
    {rule: reason}; matching findings are marked allowed (and still
    returned).  Returns only queries with findings."""
    allow = allow or {}
    results: dict[str, list[Finding]] = {}
    for name, fn in queries.items():
        findings = lint_plan(fn(spark, sf_dir), max_single_partition)
        for f in findings:
            reason = allow.get(name, {}).get(f.rule)
            if reason is not None:
                f.allowed = reason
        if findings:
            results[name] = findings
    return results
