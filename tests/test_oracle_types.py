"""Oracle column types: every DuckDB oracle must yield types Spark can match.

The correctness gate hashes physical column types, so a DuckDB ``HUGEINT``
(int128, what ``SUM(BIGINT)`` returns) comes back as a float and can never
hash-match Spark's ``bigint``. ``DESCRIBE`` plans each oracle without running
it, so the sweep over the whole registry takes well under a second.
"""

from __future__ import annotations

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
