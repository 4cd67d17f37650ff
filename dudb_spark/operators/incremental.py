"""Retired: the incremental stats closure and its refold gate.

``stats compute --incremental`` refolds the latest snapshot once, as the
reference's ``stats compute`` does (stats.go:150–209).  The closure lost
to that refold at every tree size measured (3.7k to 1.53M entries), so
it went with the bucketed layout that pruned it.  Nothing in
``dudb_spark`` calls these two names; they stay only because the
benchmark's tracer (``perfbench/spans.py``) wraps them by name.  The
benchmark change of ROADMAP item 2 deletes this module with those wraps.
"""

_RETIRED = "the incremental closure was retired: stats --incremental refolds"


def incremental_stats(*args, **kwargs):
    raise RuntimeError(_RETIRED)


def refold_recommended(*args, **kwargs):
    raise RuntimeError(_RETIRED)
