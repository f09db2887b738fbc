"""Oracle checks for the plan-catalogue rows listed under this file's name
in conftest.ORACLE_ROWS_BY_TEST_FILE, under the test id they have always had."""

from __future__ import annotations

import pytest
from conftest import ORACLE_ROWS_BY_TEST_FILE, assert_oracle


@pytest.mark.parametrize("name", ORACLE_ROWS_BY_TEST_FILE["test_relational4"])
def test_relational4_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)
