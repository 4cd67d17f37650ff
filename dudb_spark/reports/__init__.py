"""Report sinks: TSV, JSON-lines, Markdown + timestamped report dirs."""

from dudb_spark.reports.sinks import (  # noqa: F401
    locate_reports,
    write_markdown_report,
    write_reports,
)
