from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark_engine.runtime import TABLES, build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _stop_resident_tws_queries():
    """A tws drain leaves its streaming query running (``tws.py``,
    "Resident queries"); stop them after each test module, so they do not
    poll their sources through the later modules' tests."""
    yield
    tws = sys.modules.get("pyspark_engine.tws")
    if tws is not None:
        tws._stop_where(lambda res: True)
