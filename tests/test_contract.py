"""The contract surface inside Tier-1: every ``queries()`` entry matches
its DuckDB ``oracle_sql()`` twin (rows, columns, value hash) at the oracle
scale, through the same ``check_query`` that ``tools/check_contract.py``
runs."""

import os

import pytest

import __spark_entry__ as entrymod
from tools.check_contract import SF_DIR, check_query, open_oracle


@pytest.fixture(scope="module")
def oracle():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"contract tables not present at {SF_DIR}")
    con = open_oracle(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query_matches_oracle(spark, oracle, name):
    assert name in entrymod.oracle_sql()
    passed, report = check_query(spark, oracle, SF_DIR, name)
    assert passed, report
