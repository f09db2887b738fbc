"""The dedup module's own rows (substring blocks, incremental LSH
admission, star connected components), each against its DuckDB oracle."""

from __future__ import annotations

import pytest
from conftest import assert_oracle

from etl_addresses_spark.operators import dedup


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)
