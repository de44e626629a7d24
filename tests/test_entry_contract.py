"""Shape checks for the driver contract (full Spark-vs-DuckDB comparison
lives in scripts/check_contract.py, run separately because it needs a JVM)."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def test_queries_have_oracles():
    """every contract query carries a DuckDB oracle, and every oracle
    belongs to a query"""
    qs = entry.queries()
    assert qs, 'queries() must not be empty'
    assert set(qs) == set(entry.oracle_sql())


def test_callables():
    for name, fn in entry.queries().items():
        assert callable(fn), name


def test_oracle_sql_is_select():
    for name, sql in entry.oracle_sql().items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ('SELECT', 'WITH'), name
