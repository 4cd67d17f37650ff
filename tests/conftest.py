from __future__ import annotations

import shutil
import tempfile

import pytest

from dudb_spark.session import get_spark
from dudb_spark.sources.fixtures import SyntheticTree


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dudb_spark-tests", master="local[4]", shuffle_partitions=4)
    # Tests assert SEMANTICS and PLAN SHAPE (operator choice), neither of
    # which depends on whole-stage codegen; with it on, every distinct tiny
    # plan pays multi-second Janino compilation (the stats/incremental DAGs
    # generate huge classes — measured 52s -> 8s for one stats-maintenance
    # call, ~4x on the whole suite).  Interpreted mode is Spark's own
    # semantics-identical fallback.  Bench and the correctness gate run
    # separate sessions with codegen ON (the performance path).
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    yield s


@pytest.fixture(scope="session")
def fs_dir(spark):
    """A small synthetic tree written to Parquet once per test session."""
    d = tempfile.mkdtemp(prefix="dudb_fs_")
    tree = SyntheticTree(depth=2, breadth=2, nfiles=3)
    tree.write(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def tree():
    """The same tree as raw rows, for golden/oracle computation."""
    return SyntheticTree(depth=2, breadth=2, nfiles=3).build()
