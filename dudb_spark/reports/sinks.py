"""Report sinks (reference S11–S14).

The reference renders a computed stats snapshot to tab-separated files
(tsv.go:22–57), JSON-lines (json.go:20–39) and a templated Markdown summary
(markdown.go:32–179), into timestamped report directories with a ``latest``
pointer, plus ``reports locate`` returning the newest N dirs
(reports.go:128–176, 257–304).

Shape: like the reference, which renders all three formats from one
in-memory snapshot (reports.go:98–126), every number a report prints
comes from the stats run's small reduced grains table
(:meth:`StatsResult.report_rows`): pyarrow reads ``grains.parquet``
once and computes the totals, the five top-n rankings (at most 5n
prefix rows) and the top-n owners in the driver, so a report from a
saved run starts no Spark job and needs no JVM.  The read holds
O(grain rows) — about dirs × (owners per dir + 1): 148,785 rows, 2.0 MB
on disk, +38 MB of RSS at 408k entries.  The output is bounded by n,
not by the tree, so the sinks are not distributed writes: the driver
renders TSV, JSON-lines and Markdown from those rows and writes one
part file per format in the layout Spark's writers used
(``tsv/*.csv``, ``json/*.json``, ``markdown/report.md``).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from dudb_spark.operators.stats import (
    METRICS,
    REPORT_COLUMNS,
    ReportRows,
    StatsResult,
)
from dudb_spark.sources.catalog import write_pointer

TS_FORMAT = "%Y-%m-%d-%H%M%S"  # mirrors the reference's dir naming


def _tsv_field(v) -> str:
    """One TSV field, quoted as Spark's CSV writer (sep ``\\t``) quotes:
    a value holding the separator, a quote, a line break or a leading
    ``#`` (the reader's comment char), and the empty string, goes in
    double quotes with ``\\`` and ``"`` backslash-escaped; NULL is the
    empty field.  Where Spark's writer trims leading/trailing
    whitespace, the value is quoted instead, so it reads back intact."""
    if v is None:
        return ""
    s = str(v)
    if (
        s == ""
        or s[0] <= " "
        or s[-1] <= " "
        or s[0] == "#"
        or any(c in s for c in '\t"\n\r')
    ):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def _write_part(out_dir: str, suffix: str, content: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"part-00000{suffix}"), "w",
              encoding="utf-8") as f:
        f.write(content)


def write_tsv_rows(rows: list, out_dir: str) -> None:
    """S11: header + tab-separated rows of :data:`REPORT_COLUMNS`."""
    lines = ["\t".join(REPORT_COLUMNS)]
    lines += ["\t".join(_tsv_field(r[c]) for c in REPORT_COLUMNS)
              for r in rows]
    _write_part(out_dir, ".csv", "".join(ln + "\n" for ln in lines))


def write_json_rows(rows: list, out_dir: str) -> None:
    """S12: one JSON object per row, keys in :data:`REPORT_COLUMNS`
    order and NULL fields left out, as Spark's JSON writer does."""
    _write_part(out_dir, ".json", "".join(
        json.dumps({c: r[c] for c in REPORT_COLUMNS if r[c] is not None},
                   ensure_ascii=False, separators=(",", ":")) + "\n"
        for r in rows
    ))


def write_markdown_report(
    stats: StatsResult,
    path: str,
    display_n: int = 20,
    users=None,
    groups=None,
    rows: ReportRows | None = None,
) -> str:
    """S13: Markdown summary — TOC, global totals, per-metric top-N tables,
    per-user/per-group sections (markdown.go:32–179 template structure),
    rendered from ``rows`` (``stats.report_rows(display_n, users,
    groups)``, computed here when not given).  ``users``/``groups`` name
    the owners (J3): an id→name dim frame or an id → name function; an
    owner without a name shows its id."""
    if rows is None:
        rows = stats.report_rows(display_n, users, groups)

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
    lines += ["| metric | value |", "|---|---|"]
    lines += [f"| {k} | {v} |" for k, v in rows.totals.items()]
    lines += ["", "## Top prefixes", ""]

    for metric in METRICS:
        lines += [f"### Top {display_n} by {metric}", ""]
        lines += [f"| prefix | {metric} |", "|---|---|"]
        lines += [f"| {r['prefix']} | {r[metric]} |"
                  for r in rows.top[metric]]
        lines += [""]

    for title, dim in (("Per user", "user"), ("Per group", "group")):
        lines += [f"## {title}", ""]
        lines += ["| id | name | bytes |", "|---|---|---|"]
        lines += [
            f"| {r['id']} | {r['name'] if r['name'] is not None else r['id']} | {r['bytes']} |"
            for r in rows.owners[dim]
        ]
        lines += [""]

    content = "\n".join(lines)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(content)
    return content


def write_reports(
    stats: StatsResult,
    reports_root: str,
    display_n: int = 20,
    when: datetime | None = None,
    users=None,
    groups=None,
) -> str:
    """S14: write tsv/ json/ markdown into a fresh timestamped dir and
    refresh the ``latest`` marker.  Returns the report dir path.  All
    three formats render from one :meth:`StatsResult.report_rows`
    (``users``/``groups`` as there); the pointer moves only after every
    file is written."""
    when = when or datetime.now(timezone.utc)
    out = f"{reports_root.rstrip('/')}/{when.strftime(TS_FORMAT)}"
    rows = stats.report_rows(display_n, users, groups)
    merged = rows.merged()
    write_tsv_rows(merged, f"{out}/tsv")
    write_json_rows(merged, f"{out}/json")
    write_markdown_report(
        stats, f"{out}/markdown/report.md", display_n, rows=rows,
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
