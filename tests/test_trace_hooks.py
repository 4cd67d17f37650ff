"""The benchmark's tracer (``perfbench/spans.py``) wraps package
functions by name when ``perfbench/run.py --trace 1`` starts.  A rename
or deletion in the package would break that run without failing any
other test, so install and remove the tracer here."""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def test_tracer_installs_and_restores(spark, monkeypatch):
    from dudb_spark.operators import stats
    from dudb_spark.sources.catalog import SnapshotCatalog

    monkeypatch.syspath_prepend(PERFBENCH)
    monkeypatch.delitem(sys.modules, "spans", raising=False)
    import spans

    before = (stats.compute_stats, SnapshotCatalog.write_snapshot)
    tracer = spans.Tracer(spark)
    try:
        tracer.install()
        assert stats.compute_stats is not before[0]
        assert SnapshotCatalog.write_snapshot is not before[1]
    finally:
        tracer.stop()
        sys.modules.pop("spans", None)
    assert (stats.compute_stats, SnapshotCatalog.write_snapshot) == before
