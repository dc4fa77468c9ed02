"""Local emulation of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry at sf0.01 on Spark and its
``oracle_sql()`` twin on DuckDB, compares each column's type family
(integer, floating/decimal, string, bool), row count and order-insensitive
value content (columns sorted by name, rows sorted, values stringified
with float rounding; a decimal column compared with a floating one is
read as floats on both sides, decimal against decimal stays exact).

Queries run on a thread pool (default 4): Spark job submission is
thread-safe on one session, and a query's DuckDB oracle runs while other
queries' Spark jobs execute — ~3x wall-time on the 80+-query registry.
DuckDB connections are per-thread (the module connection is not
thread-safe); the entry module's session-keyed memo caches are warmed
first so concurrent cold calls don't build the fixture pipeline twice.

Usage: python tools/check_oracles.py [--jobs N] [--staged] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from sonata_neo4j_loader_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


# type family by lower-cased base type name, Spark simpleString or DuckDB;
# any other type (dates, timestamps, nested) must match as "other"
_FAMILIES = {
    "integer": {
        "tinyint", "smallint", "int", "integer", "bigint", "hugeint",
        "utinyint", "usmallint", "uinteger", "ubigint", "uhugeint",
    },
    "floating": {"float", "real", "double", "decimal"},
    "string": {"string", "varchar"},
    "bool": {"boolean"},
}


def _base_type(type_name: str) -> str:
    return type_name.lower().split("(")[0]


def type_family(type_name: str) -> str:
    base = _base_type(type_name)
    return next((f for f, names in _FAMILIES.items() if base in names), "other")


def _decimals_as_floats(rows: list[tuple], idx: set[int]) -> list[tuple]:
    return [
        tuple(float(v) if i in idx and isinstance(v, Decimal) else v for i, v in enumerate(r))
        for r in rows
    ]


def frame_signature(cols: list[str], rows: list[tuple]) -> tuple[int, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )
    return len(rows), canon_rows


_TLS = threading.local()


def _duck() -> duckdb.DuckDBPyConnection:
    con = getattr(_TLS, "con", None)
    if con is None:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        _TLS.con = con
    return con


def _check_one(spark, name, fn, oracle_sql: str | None) -> str:
    try:
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:  # noqa: BLE001
        return f"FAIL  {name}: spark error: {e}"
    if oracle_sql is None:
        return f"rows-only  {name}: {len(srows)} rows"
    try:
        # .types, not execute().description: the latter reports every
        # numeric column as 'NUMBER'
        rel = _duck().sql(oracle_sql)
        dcols, dtypes = rel.columns, rel.types
        drows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"FAIL  {name}: duckdb error: {e}"
    if sorted(scols) != sorted(dcols):
        return f"FAIL  {name}: columns differ: {sorted(scols)} vs {sorted(dcols)}"
    stype = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    dtype = {c: str(t) for c, t in zip(dcols, dtypes, strict=True)}
    sfam = {c: type_family(t) for c, t in stype.items()}
    dfam = {c: type_family(t) for c, t in dtype.items()}
    if sfam != dfam:
        diff = sorted((c, sfam[c], dfam[c]) for c in sfam if sfam[c] != dfam[c])
        return f"FAIL  {name}: type families differ (col, spark, duckdb): {diff}"
    # canon renders Decimal('1.000') as "1.000" but the double 1.0 as "1":
    # a decimal column against a floating one (same family, other base
    # type) compares as floats; decimal against decimal stays exact
    mixed = [
        c
        for c in scols
        if len(b := {_base_type(stype[c]), _base_type(dtype[c])}) == 2 and "decimal" in b
    ]
    srows = _decimals_as_floats([tuple(r) for r in srows], {scols.index(c) for c in mixed})
    drows = _decimals_as_floats(drows, {dcols.index(c) for c in mixed})
    sn, ssig = frame_signature(scols, srows)
    dn, dsig = frame_signature(dcols, drows)
    if sn != dn:
        return f"FAIL  {name}: row count {sn} vs {dn}"
    if ssig != dsig:
        diff = [(a, b) for a, b in zip(ssig, dsig, strict=True) if a != b][:3]
        return f"FAIL  {name}: value mismatch, first diffs: {diff}"
    return f"OK    {name}: {sn} rows match"


def main() -> int:
    args = sys.argv[1:]
    jobs = 4
    if "--jobs" in args:
        i = args.index("--jobs")
        jobs = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    staged = "--staged" in args
    if staged:
        args.remove("--staged")
    only = set(args)
    spark = get_spark(app_name="check-oracles", master="local[8]", shuffle_partitions=8)
    # --staged adjudicates the queries finished this round but held out of
    # the driver registry until the next rotation window (see the staged
    # section of __spark_entry__.py) with the exact same gate
    qs = entry_mod.staged_queries() if staged else entry_mod.queries()
    oracles = entry_mod.staged_oracle_sql() if staged else entry_mod.oracle_sql()
    todo = [(n, f) for n, f in qs.items() if not only or n in only]
    # perf-only pre-warm of the session-keyed memos (the builds are
    # lock-guarded in the entry module, so concurrent cold calls are SAFE
    # — this just keeps the pool from serializing behind the first
    # consumer's heavy build). Warm only when a selected query actually
    # consumes the memo: most staged kg_* build their own inputs, but
    # staged kg_k_hop rides on _kg_outputs and staged docs_split_leakproof
    # on the minhash pair memo.
    names = {n for n, _ in todo}
    uses_kg_memo = (
        any(n.startswith("kg_") for n in names)
        if not staged
        else "kg_k_hop" in names
    )
    if uses_kg_memo and hasattr(entry_mod, "_kg_outputs"):
        entry_mod._kg_outputs(spark)
    minhash_memo_users = {
        "minhash_near_dups",
        "minhash_dup_survivors",
        "docs_split_leakproof",
    }
    if names & minhash_memo_users and hasattr(entry_mod, "_minhash_pairs"):
        entry_mod._minhash_pairs(spark, SF_DIR)

    failures = 0
    if jobs <= 1:
        results = [
            _check_one(spark, n, f, oracles.get(n)) for n, f in todo
        ]
    else:
        with ThreadPoolExecutor(max_workers=jobs) as pool:
            results = list(
                pool.map(lambda nf: _check_one(spark, nf[0], nf[1], oracles.get(nf[0])), todo)
            )
    for line in results:
        print(line)
        if line.startswith("FAIL"):
            failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
