"""The driver-contract composites at 10x the driver's scale: the six
span-sequence, TOC, pages, sections and mega-doc keys run on the sf0.1
testdata and must match their DuckDB value-hash oracles
(``tools/check_contract.py``).  Slow (minutes): runs only under
``pytest -m slow``."""

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import check_contract  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KEYS = (
    "pipeline_span_sequence",
    "pipeline_toc_suite",
    "pipeline_pages",
    "pipeline_sections",
    "w2_mega_salted",
    "w2_mega_breakless",
)


@pytest.fixture(scope="module")
def duck():
    return check_contract.duckdb_views(SF_DIR)


@pytest.mark.slow
@pytest.mark.parametrize("name", KEYS)
def test_contract_key_at_sf01(spark, duck, name):
    ok, _, detail = check_contract.check_key(spark, duck, SF_DIR, name)
    assert ok, f"{name}: {detail}"
