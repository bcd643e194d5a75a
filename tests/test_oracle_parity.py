"""The correctness gate, run locally: every oracle-backed query in the
registry must match its DuckDB oracle under the parity runner's compare
(tools/parity_names.run: column names, str-exact cells, ordered where the
oracle declares a top-level ORDER BY — at least as strict as the
CORRECTNESS_r{N}.json check).

Runs at sf0.001 by default (fast); set TEST_SF_DIR/ORACLE_SF_DIR to
/root/testdata/sf0.01 for the driver-scale check.
"""

from __future__ import annotations

import pytest

import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
from databricks_spark_sql_challenge1_spark.registry import ORACLES, QUERIES
from tests.conftest import ORACLE_SF_DIR, SF_DIR
from tools.parity_names import run


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark):
    (oc,) = run(spark, [name], SF_DIR, ORACLE_SF_DIR)
    assert oc.status == "match", str(oc)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns  # schema materializes
    assert df.count() >= 0
