from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from gsccca_tax_records_scraper_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # size the driver heap to the machine: with the session default (20g)
    # the heap, and the cached blocks Spark keeps in it, outgrow a small
    # box's RAM over the suite until the kernel OOM-kills the JVM and every
    # later Spark test fails; a bounded heap spills cached blocks instead
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(6144, phys_mb // 3)}m")
    s = get_spark(app_name="pytest", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def store_root(tmp_path) -> str:
    """A fresh seen-set segment store root (operators/segstore.py) for
    direct dedup-operator calls."""
    return str(tmp_path / "segments")


def explain(df) -> str:
    """The string df.explain('formatted') would print — shared by every
    plan-shape assertion (one place to adapt if the _jvm access changes)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="session")
def sf001() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01() -> str:
    return "/root/testdata/sf0.01"
