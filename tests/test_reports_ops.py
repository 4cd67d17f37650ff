"""Report sinks (S11–S14) + operational queries (errors/logs, id→name)."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from dudb_spark.model import FsTables
from dudb_spark.operators.ops import list_errors, list_logs, parse_time_range, with_names
from dudb_spark.operators.stats import (
    REPORT_COLUMNS,
    StatsOptions,
    compute_stats,
)
from dudb_spark.reports import (
    locate_reports,
    write_reports,
)


@pytest.fixture(scope="module")
def stats_result(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    return compute_stats(t.prefixes, t.entries, StatsOptions())


def test_write_reports_layout(spark, fs_dir, stats_result, tmp_path):
    t = FsTables(spark, fs_dir)
    root = str(tmp_path / "reports")
    when = datetime(2025, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    out = write_reports(
        stats_result, root, display_n=5, when=when, users=t.users, groups=t.groups
    )
    assert os.path.basename(out) == "2025-06-01-120000"
    # S11 TSV: header + tab separated
    tsv_files = [
        f for f in os.listdir(f"{out}/tsv") if f.endswith(".csv")
    ]
    content = open(f"{out}/tsv/{tsv_files[0]}").read()
    assert "\t" in content and "prefix" in content.splitlines()[0]
    # S12 JSON-lines
    json_files = [f for f in os.listdir(f"{out}/json") if f.endswith(".json")]
    assert json_files
    # S13 markdown with named users (alice from the fixture dim)
    md = open(f"{out}/markdown/report.md").read()
    assert "## Totals" in md and "alice" in md
    # S14 latest pointer + locate
    assert open(f"{root}/latest").read() == "2025-06-01-120000"
    loc = locate_reports(root, 2)
    assert loc[0]["report"] == "2025-06-01-120000"


def test_markdown_top_tables_match_rankings(spark, stats_result, tmp_path):
    """Each per-metric table, cut from the merged top rows, is exactly
    that metric's own top-N ranking over all prefixes."""
    from dudb_spark.operators.stats import METRICS
    from dudb_spark.reports.sinks import write_markdown_report

    n = 2
    md = write_markdown_report(stats_result, str(tmp_path / "r.md"), n)
    for m in METRICS:
        want = [f"| {r['prefix']} | {r[m]} |"
                for r in stats_result.top_prefixes(m, n).collect()]
        lines = md.split(f"### Top {n} by {m}\n")[1].splitlines()
        assert lines[3:3 + n + 1] == want + [""]


GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _tricky_stats(spark):
    """A stats run whose prefixes hold a tab, a quote, non-ASCII text, a
    backslash, a leading '#' and a trailing space."""
    from dudb_spark.operators.stats import GRAINS_SCHEMA, StatsResult

    pfx = ["/t", "/t/p\tq", '/t/q"r', "/t/é ü", "/t/b\\s", "/t/#h",
           "/t/sp "]
    rows = []
    for i, p in enumerate(pfx):
        c = [i % 3, 1, (7 - i) % 4, 100 + 10 * ((i * 5) % 7), 200 - i,
             4096, i % 2, 0]
        rows += [("prefix", p, None, *c), ("user", p, 1000 + i % 2, *c),
                 ("group", p, 50, *c)]
    return StatsResult(spark.createDataFrame(rows, GRAINS_SCHEMA),
                       {"root": "/t", "expression": ""})


def _case(spark, fs_dir, stats_result, case):
    """(stats, id->name dims) for one report case."""
    t = FsTables(spark, fs_dir)
    dims = {"users": t.users, "groups": t.groups}
    if case == "fixture":
        return stats_result, dims
    if case == "tricky":
        return _tricky_stats(spark), {}
    # an expression that matches nothing
    return compute_stats(t.prefixes, t.entries,
                         StatsOptions(expr="user=999999")), dims


@pytest.mark.parametrize("case", ["fixture", "tricky", "empty"])
def test_report_matches_pinned_rendering(spark, fs_dir, stats_result,
                                         tmp_path, case):
    """The Markdown report equals the pinned rendering of the Spark-side
    sinks it replaced (tests/golden/report_<case>.md), apart from its
    ``- generated:`` line.  A run with no prefix rows prints zero totals
    and empty tables, a header-only TSV and an empty JSON file."""
    res, dims = _case(spark, fs_dir, stats_result, case)
    out = write_reports(res, str(tmp_path / "r"), display_n=3, **dims)
    with open(f"{out}/markdown/report.md", encoding="utf-8") as f:
        md = [ln for ln in f.read().split("\n")
              if not ln.startswith("- generated:")]
    with open(f"{GOLDEN}/report_{case}.md", encoding="utf-8") as f:
        assert md == f.read().split("\n")
    if case == "empty":
        with open(f"{out}/tsv/part-00000.csv") as f:
            assert f.read() == "\t".join(REPORT_COLUMNS) + "\n"
        assert os.path.getsize(f"{out}/json/part-00000.json") == 0


@pytest.mark.parametrize("case,n", [("fixture", 3), ("tricky", 7)])
def test_report_rows_read_back_equal_merged_top(spark, fs_dir, stats_result,
                                                tmp_path, case, n):
    """The TSV read back by Spark's CSV reader and the JSON-lines read
    back by its JSON reader each hold exactly ``merged_top(n)``'s rows,
    tab, quote, non-ASCII and edge-whitespace prefixes included."""
    res, _ = _case(spark, fs_dir, stats_result, case)
    out = write_reports(res, str(tmp_path / "r"), display_n=n)
    want = {tuple(r) for r in
            res.merged_top(n).select(*REPORT_COLUMNS).collect()}
    tsv = (spark.read.option("sep", "\t").option("header", "true")
           .csv(f"{out}/tsv"))
    js = spark.read.json(f"{out}/json")
    for df in (tsv, js):
        got = df.select("prefix", *[F.col(c).cast("long")
                                    for c in REPORT_COLUMNS[1:]])
        assert {tuple(r) for r in got.collect()} == want
    if case == "tricky":  # every edge-case prefix is in the report
        assert len(want) == 7


def _ties_stats(spark):
    """Six prefixes equal on bytes, storage_bytes and prefix_bytes, and
    three owners equal on bytes: every ranking is decided by its
    tie-break (prefix, then id)."""
    from dudb_spark.operators.stats import GRAINS_SCHEMA, StatsResult

    rows = []
    for i, p in enumerate(["/x/f", "/x/b", "/x/e", "/x/a", "/x/d", "/x/c"]):
        c = [i % 2, 1, i % 3, 10, 10, 4, 0, 0]
        rows += [("prefix", p, None, *c), ("user", p, (5, 3, 9)[i % 3], *c),
                 ("group", p, 7, *c)]
    return StatsResult(spark.createDataFrame(rows, GRAINS_SCHEMA),
                       {"root": "/x", "expression": ""})


def _as_form(spark, res, form, tmp_path):
    """``res`` as a result never saved, saved and loaded back without a
    session, or loaded from the older three-table layout."""
    from dudb_spark.operators.stats import StatsResult

    if form == "unsaved":
        return res
    run = tmp_path / form
    if form == "saved":  # a copy: the module's fixture stays unsaved
        StatsResult(res.grains, res.meta).save(str(run))
        (run / "meta.json").write_text("{}")
        return StatsResult.load(None, str(run))
    for grain in ("prefix", "user", "group"):
        getattr(res, f"per_{grain}").write.parquet(
            str(run / f"per_{grain}.parquet"))
    (run / "meta.json").write_text("{}")
    return StatsResult.load(spark, str(run))


@pytest.mark.parametrize("case,form", [
    ("fixture", "unsaved"), ("fixture", "saved"), ("fixture", "three_table"),
    ("tricky", "unsaved"), ("tricky", "saved"), ("empty", "unsaved"),
    ("empty", "saved"), ("ties", "unsaved"), ("ties", "saved"),
])
def test_report_rows_equal_spark_references(spark, fs_dir, stats_result,
                                            tmp_path, case, form):
    """report_rows and per_id_top_rows, computed with pyarrow, equal the
    Spark references over the same run: totals(), each top_prefixes
    ranking, merged_top(n), by_id ranked by (bytes desc, id), and
    per_id_top_prefixes in (id, rank) order — for n under and over the
    prefix count."""
    from dudb_spark.operators.stats import METRICS

    if case == "ties":
        res = _ties_stats(spark)
    else:
        res = _case(spark, fs_dir, stats_result, case)[0]
    res = _as_form(spark, res, form, tmp_path)
    assert (res.path is None) == (form != "saved")
    for n in (2, 50):
        rows = res.report_rows(n)
        assert rows.totals == res.totals().collect()[0].asDict()
        for m in METRICS:
            assert [(r["prefix"], r[m]) for r in rows.top[m]] == [
                tuple(r) for r in res.top_prefixes(m, n).collect()]
        assert rows.merged() == [
            r.asDict() for r in res.merged_top(n).select(*REPORT_COLUMNS)
            .orderBy("prefix").collect()]
        for dim in ("user", "group"):
            want = sorted((r.asDict() for r in res.by_id(dim).collect()),
                          key=lambda r: (-r["bytes"], r["id"]))[:n]
            got = rows.owners[dim]
            assert [{k: r[k] for k in w} for r, w in zip(got, want)] == want
            assert len(got) == len(want)
            assert all(r["name"] is None for r in got)
            for m in METRICS:
                assert res.per_id_top_rows(m, n, dim) == [
                    r.asDict() for r in res.per_id_top_prefixes(m, n, dim)
                    .orderBy("id", "rank").collect()]
    # n over the prefix count: every prefix is in the report
    assert len(rows.merged()) == rows.totals["prefixes"]


def test_locate_orders_desc(tmp_path, spark, fs_dir, stats_result):
    t = FsTables(spark, fs_dir)
    root = str(tmp_path / "reports2")
    for d in (1, 2):
        write_reports(
            stats_result,
            root,
            display_n=2,
            when=datetime(2025, 6, d, tzinfo=timezone.utc),
        )
    loc = locate_reports(root, 5)
    assert [x["report"] for x in loc] == ["2025-06-02-000000", "2025-06-01-000000"]


def test_list_errors(spark, fs_dir):
    t = FsTables(spark, fs_dir)
    res = list_errors(t.errors, root="/tree/d0-0").collect()
    assert all(r["path"].startswith("/tree/d0-0") for r in res)
    assert len(res) > 0
    # time-bounded: all fixture errors are at BASE_TIME+1d
    none = list_errors(t.errors, from_t="2030-01-01").collect()
    assert none == []


def test_parse_time_range():
    now = datetime(2025, 1, 10, tzinfo=timezone.utc)
    start, stop = parse_time_range(since="24h", now=now)
    assert start == datetime(2025, 1, 9, tzinfo=timezone.utc) and stop is None
    start, stop = parse_time_range(from_t="2025-01-01", to_t="2025-01-05")
    assert (start.day, stop.day) == (1, 5)
    with pytest.raises(ValueError):
        parse_time_range(since="24h", from_t="2025-01-01")
    with pytest.raises(ValueError):
        parse_time_range(since="24x")


def test_list_logs(spark):
    from dudb_spark.model import SCAN_LOGS_SCHEMA

    rows = [
        {
            "start": datetime(2025, 1, d, tzinfo=timezone.utc),
            "stop": datetime(2025, 1, d, 1, tzinfo=timezone.utc),
            "summary": None,
        }
        for d in (1, 2, 3)
    ]
    logs = spark.createDataFrame(rows, SCAN_LOGS_SCHEMA)
    got = [r["start"].day for r in list_logs(logs).collect()]
    assert got == [3, 2, 1]
    last = list_logs(logs, newest_only=True).collect()
    assert len(last) == 1 and last[0]["start"].day == 3
    ranged = list_logs(logs, from_t="2025-01-02", to_t="2025-01-03").collect()
    assert [r["start"].day for r in ranged] == [2]


def test_with_names(spark, fs_dir, stats_result):
    t = FsTables(spark, fs_dir)
    named = with_names(stats_result.by_id("user"), users=t.users, dim="user")
    names = {r["id"]: r["name"] for r in named.collect()}
    assert names[100] == "alice" and names[101] == "bob"
    # fallback to numeric string when no dim provided
    bare = with_names(stats_result.by_id("user"), dim="user")
    assert {r["name"] for r in bare.collect()} == {"100", "101"}
