import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from duckdb_gsheets_spark.plans.session import get_spark  # noqa: E402
from tests.sheets_server import SheetsServer  # noqa: E402

#: FIXTURES.md F1 `people`: header, blanks, ragged rows.
PEOPLE_GRID = [
    ["name", "age", "city"],
    ["Alice", "30", "Toronto"],
    ["Bob", "25", "New York"],
    ["Charlie", "45", "Chicago"],
    ["Drake"],
    [],
    ["Archie", "99", ""],
]


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            # Python datasource workers must import this repo's package.
            "spark.executorEnv.PYTHONPATH": REPO_ROOT,
        },
    )
    yield session


@pytest.fixture(scope="session")
def sheets_server():
    server = SheetsServer().start()
    yield server
    server.stop()


@pytest.fixture()
def people_sheet(sheets_server):
    """A fresh spreadsheet with the F1 people fixture as Sheet1."""
    sid = f"people-{len(sheets_server.stores)}"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", PEOPLE_GRID)
    return sid, store
