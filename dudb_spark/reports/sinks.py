"""Report sinks (reference S11–S14).

The reference renders a computed stats snapshot to tab-separated files
(tsv.go:22–57), JSON-lines (json.go:20–39) and a templated Markdown summary
(markdown.go:32–179), into timestamped report directories with a ``latest``
pointer, plus ``reports locate`` returning the newest N dirs
(reports.go:128–176, 257–304).

Spark shape: TSV/JSON are distributed DataFrame writes (S11/S12) — at scale
these are the real output path and parallelize across executors.  Markdown
is presentation over *post-aggregation* data (top-N rows, already tiny), so
it renders driver-side from a bounded ``toPandas()`` — the one place where
driver-side processing is correct by construction because the top-N operator
bounded the row count first.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from dudb_spark.operators.stats import METRICS, StatsResult
from dudb_spark.sources.catalog import write_pointer

TS_FORMAT = "%Y-%m-%d-%H%M%S"  # mirrors the reference's dir naming


def write_tsv_report(df: DataFrame, out_dir: str) -> None:
    """S11: header + tab-separated rows."""
    df.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(
        out_dir
    )


def write_json_report(df: DataFrame, out_dir: str) -> None:
    """S12: one JSON object per row."""
    df.write.mode("overwrite").json(out_dir)


def _summary_bundle(
    stats: StatsResult,
    display_n: int,
    users: DataFrame | None,
    groups: DataFrame | None,
) -> DataFrame:
    """The totals and id-ranking rows the Markdown template prints, as ONE
    union frame (section, key, value, name) — so the renderer pays a
    single collect instead of three plus two dim-table collects.  Each
    sequential action costs a full job submission (~hundreds of ms on a
    busy driver); the branches are TakeOrderedAndProject / single-row
    aggregates, so the union stays bounded at 2·n + 8 rows regardless of
    corpus size, and the id→name dims fold in as broadcast joins instead
    of collected dicts.  The five top-prefix tables come from the merged
    top rows instead (:func:`write_markdown_report`)."""
    from pyspark.sql import functions as F

    tot_cols = list(stats.totals().columns)
    null_name = F.lit(None).cast("string").alias("name")
    branches = [
        stats.totals().select(
            F.lit("totals").alias("section"),
            F.explode(
                F.map_from_arrays(
                    F.array(*[F.lit(c) for c in tot_cols]),
                    F.array(*[F.col(c).cast("long") for c in tot_cols]),
                )
            ).alias("key", "value"),
            null_name,
        )
    ]
    for dim, dim_df, id_col in (("user", users, "uid"), ("group", groups, "gid")):
        ids = stats.top_ids("bytes", display_n, dim)
        if dim_df is not None:
            ids = ids.join(
                F.broadcast(
                    dim_df.select(F.col(id_col).alias("id"), "name")
                ),
                "id",
                "left",
            )
        else:
            ids = ids.withColumn("name", F.lit(None).cast("string"))
        branches.append(
            ids.select(
                F.lit(f"ids:{dim}").alias("section"),
                F.col("id").cast("string").alias("key"),
                F.col("bytes").cast("long").alias("value"),
                "name",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def write_markdown_report(
    stats: StatsResult,
    path: str,
    display_n: int = 20,
    users: DataFrame | None = None,
    groups: DataFrame | None = None,
    merged: DataFrame | None = None,
) -> str:
    """S13: Markdown summary — TOC, global totals, per-metric top-N tables,
    per-user/per-group sections (markdown.go:32–179 template structure).
    The per-metric tables are cut client-side from the collected
    ``merged`` frame (``stats.merged_top(display_n)``, computed here when
    not given): it holds every prefix of every top-N ranking, so each
    table's top N by (value desc, prefix asc) over it is the top N over
    all prefixes.  Totals and id rankings arrive in one collected union
    frame (:func:`_summary_bundle`); the id→name dims (J3) ride along as
    broadcast joins.  Row order within each table is re-derived
    client-side with the same (value desc, key asc) tie-break the frames
    use, so the rendered template is byte-identical to the
    one-collect-per-table version."""
    bundle: dict[str, list] = {}
    for r in _summary_bundle(stats, display_n, users, groups).collect():
        bundle.setdefault(r["section"], []).append(r)
    if merged is None:
        merged = stats.merged_top(display_n)
    tops = merged.select("prefix", *METRICS).collect()

    lines: list[str] = []
    meta = stats.meta
    lines += [
        f"# Usage report for `{meta.get('root') or '/'}`",
        "",
        f"- expression: `{meta.get('expression') or '(all)'}`",
        f"- generated: {datetime.now(timezone.utc).isoformat()}",
        "",
        "## Contents",
        "",
        "- [Totals](#totals)",
        "- [Top prefixes](#top-prefixes)",
        "- [Per user](#per-user)",
        "- [Per group](#per-group)",
        "",
        "## Totals",
        "",
    ]
    tot = {r["key"]: r["value"] for r in bundle.get("totals", [])}
    tot_order = list(stats.totals().columns)
    lines += ["| metric | value |", "|---|---|"]
    lines += [f"| {k} | {tot[k]} |" for k in tot_order]
    lines += ["", "## Top prefixes", ""]

    for metric in METRICS:
        rows = sorted(
            ((r["prefix"], int(r[metric])) for r in tops),
            key=lambda r: (-r[1], r[0]),
        )[:display_n]
        lines += [f"### Top {display_n} by {metric}", ""]
        lines += [f"| prefix | {metric} |", "|---|---|"]
        lines += [f"| {p} | {v} |" for p, v in rows]
        lines += [""]

    for title, dim in (("Per user", "user"), ("Per group", "group")):
        lines += [f"## {title}", ""]
        rows = sorted(
            bundle.get(f"ids:{dim}", []),
            key=lambda r: (-r["value"], int(r["key"])),
        )
        lines += ["| id | name | bytes |", "|---|---|---|"]
        lines += [
            f"| {r['key']} | {r['name'] if r['name'] is not None else r['key']} | {r['value']} |"
            for r in rows
        ]
        lines += [""]

    content = "\n".join(lines)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(content)
    return content


def write_reports(
    stats: StatsResult,
    reports_root: str,
    display_n: int = 20,
    when: datetime | None = None,
    users: DataFrame | None = None,
    groups: DataFrame | None = None,
) -> str:
    """S14: write tsv/ json/ markdown into a fresh timestamped dir and
    refresh the ``latest`` marker.  Returns the report dir path."""
    when = when or datetime.now(timezone.utc)
    out = f"{reports_root.rstrip('/')}/{when.strftime(TS_FORMAT)}"
    # The sinks below fire six actions (the per-prefix and merged-top
    # pins, two merged writes, its collect, one totals + top-id bundle).
    # The merged top rows (at most 5n) are pinned so the writes and the
    # collect scan them instead of re-running five rankings.  The summary
    # frames themselves are not pinned: a loaded stats run reads its
    # written grains table, so each action scans that one table — as the
    # reference reports off the materialized .idustats snapshot
    # (reports.go:57–58) — and never re-runs the fold.
    merged = stats.merged_top(display_n).localCheckpoint()
    write_tsv_report(merged, f"{out}/tsv")
    write_json_report(merged, f"{out}/json")
    write_markdown_report(
        stats, f"{out}/markdown/report.md", display_n, users, groups,
        merged=merged,
    )
    write_pointer(f"{reports_root.rstrip('/')}/latest",
                  os.path.basename(out))
    return out


def locate_reports(reports_root: str, n: int = 1) -> list[dict]:
    """``reports locate``: newest N report dirs as JSON-able dicts
    (reports.go:257–304)."""
    try:
        names = [
            d
            for d in os.listdir(reports_root)
            if os.path.isdir(os.path.join(reports_root, d))
        ]
    except FileNotFoundError:
        return []
    names.sort(reverse=True)
    out = []
    for name in names[:n]:
        out.append(
            {
                "report": name,
                "path": os.path.join(reports_root, name),
                "when": datetime.strptime(name, TS_FORMAT)
                .replace(tzinfo=timezone.utc)
                .isoformat(),
            }
        )
    return out


def to_json_lines(df: DataFrame, limit: int = 10000) -> str:
    """Small-result JSON-lines string (driver-side, bounded)."""
    return "\n".join(json.dumps(r.asDict(), default=str) for r in df.limit(limit).collect())
