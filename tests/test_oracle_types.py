"""Oracle column types: every DuckDB oracle must yield types Spark can match.

The correctness gate hashes physical column types, so a DuckDB ``HUGEINT``
(int128, what ``SUM(BIGINT)`` returns) comes back as a float and can never
hash-match Spark's ``bigint``. ``DESCRIBE`` plans each oracle without running
it, so the sweep over the whole registry takes well under a second.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools import check_oracles


def test_no_oracle_column_is_hugeint():
    con = check_oracles._duck()
    oracles = {**entry.oracle_sql(), **entry.staged_oracle_sql()}
    hugeint = [
        (name, col)
        for name, sql in oracles.items()
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if "HUGEINT" in typ
    ]
    assert hugeint == []


@pytest.mark.parametrize(
    "spark_type, duck_type, verdict, duck_x",
    [
        pytest.param("bigint", "DOUBLE", "FAIL", "x", id="bigint-DOUBLE-FAIL"),
        pytest.param("bigint", "VARCHAR", "FAIL", "x", id="bigint-VARCHAR-FAIL"),
        pytest.param("decimal(10,0)", "DOUBLE", "OK", "x", id="decimal(10,0)-DOUBLE-OK"),
        pytest.param("int", "BIGINT", "OK", "x", id="int-BIGINT-OK"),
        # a decimal against a floating column compares as floats: 1.000
        # and 1.0 are the same value
        pytest.param("double", "DECIMAL(18,3)", "OK", "x", id="double-DECIMAL(18,3)-OK"),
        # decimal against decimal stays an exact compare: values that differ
        # only past the 9th significant digit (where floats are rounded) fail
        pytest.param(
            "decimal(20,10)",
            "DECIMAL(20,10)",
            "FAIL",
            "x + 0.0000000001",
            id="decimal(20,10)-DECIMAL(20,10)-FAIL",
        ),
    ],
)
def test_type_family_mismatch_fails_the_gate(spark, spark_type, duck_type, verdict, duck_x):
    # equal values stringify equally (1 and 1.0 both canon to "1"), so only
    # the type-family comparison can tell a bigint column from a DOUBLE one
    def frame(spark, _sf_dir):
        return spark.createDataFrame([(1,), (2,)], "x bigint").selectExpr(
            f"CAST(x AS {spark_type}) AS x"
        )

    oracle = f"SELECT CAST({duck_x} AS {duck_type}) AS x FROM (VALUES (1), (2)) v(x)"
    line = check_oracles._check_one(spark, "family", frame, oracle)
    assert line.split()[0] == verdict, line
