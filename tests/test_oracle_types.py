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
    "spark_type, duck_type, verdict",
    [
        ("bigint", "DOUBLE", "FAIL"),
        ("bigint", "VARCHAR", "FAIL"),
        ("decimal(10,0)", "DOUBLE", "OK"),
        ("int", "BIGINT", "OK"),
    ],
)
def test_type_family_mismatch_fails_the_gate(spark, spark_type, duck_type, verdict):
    # equal values stringify equally (1 and 1.0 both canon to "1"), so only
    # the type-family comparison can tell a bigint column from a DOUBLE one
    def frame(spark, _sf_dir):
        return spark.createDataFrame([(1,), (2,)], "x bigint").selectExpr(
            f"CAST(x AS {spark_type}) AS x"
        )

    oracle = f"SELECT CAST(x AS {duck_type}) AS x FROM (VALUES (1), (2)) v(x)"
    line = check_oracles._check_one(spark, "family", frame, oracle)
    assert line.split()[0] == verdict, line
