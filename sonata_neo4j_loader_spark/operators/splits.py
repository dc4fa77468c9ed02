"""Leakage-safe train/validation/test splits.

Engine addition beyond the reference: the split-assignment stage of a
training-data pipeline. Two levels of rigor:

* :func:`assign_splits` — deterministic hash split on a key. Every row's
  split is a pure function of (key, seed), so the assignment is
  partition-invariant, reproducible across runs/clusters, and stable
  under incremental ingest (a re-crawled doc lands in the same split it
  was in last month — the property ``DataFrame.randomSplit`` cannot give,
  since its seed is per-partition).
* :func:`assign_splits_by_cluster` — the LEAKAGE-PROOF variant: near-dup
  documents must never straddle the train/eval boundary (a test doc with
  a 0.95-Jaccard twin in train is contamination exactly like a benchmark
  overlap). Given a near-dup pair frame (MinHash/SimHash/embedding — any
  of this package's detectors), the pairs close transitively into
  clusters (``canonicalize.connected_components``) and the split hashes
  the CLUSTER representative, so every member of a cluster lands in the
  same split by construction.

Scale posture:

* ``assign_splits`` is ONE narrow JVM projection — no shuffle, no UDF,
  fuses into whole-stage codegen with the scan; at 100 TB it adds zero
  passes over the data.
* ``assign_splits_by_cluster`` sizes the component mapping by
  docs-with-a-dup (typically ≪ corpus — same contract as
  ``dedup.near_dup_survivors``), broadcasts it, and LEFT-joins onto the
  corpus: the corpus itself is never shuffled. The components step
  inherits ``connected_components``' auto local/distributed strategy.

Every split hashes its key with the md5 recipe of
:func:`operators.sampling.hash_bucket_expr`, and fractions are converted
to integer thresholds over the 2^20 hash-bucket space up front, so any
SQL engine with md5 (the DuckDB oracle) reproduces the exact assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .canonicalize import apply_canonical_mapping, connected_components
from .sampling import _BUCKETS, hash_bucket_expr


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """``(name, cumulative-bucket-threshold)`` per split, insertion order.

    Fractions must be non-negative and sum to 1 (±1e-6): a split operator
    that silently drops or double-assigns rows is a data-loss bug, so the
    contract is total coverage. Rounding happens on the CUMULATIVE sums —
    per-split rounding errors cannot accumulate and the last threshold is
    pinned to the full bucket space.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    for name, f in fractions.items():
        if f < 0:
            raise ValueError(f"negative fraction for split {name!r}: {f}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    for name, f in fractions.items():
        cum += f
        out.append((name, int(round(cum * _BUCKETS))))
    # pin the last threshold: cumulative float error must never leave a
    # bucket unassigned
    out[-1] = (out[-1][0], _BUCKETS)
    return out


def split_expr(
    key_col: str | Column,
    fractions: dict[str, float],
    seed: int = 42,
) -> Column:
    """Column expression assigning a split name per row (no shuffle).

    One CASE with ascending cumulative thresholds — the first threshold
    the bucket falls under wins, the last split is the fallthrough.
    """
    bucket = hash_bucket_expr(key_col, seed, "md5")
    pairs = split_thresholds(fractions)
    if len(pairs) == 1:
        return F.lit(pairs[0][0])
    expr = F.when(bucket < F.lit(pairs[0][1]), F.lit(pairs[0][0]))
    for name, thr in pairs[1:-1]:
        expr = expr.when(bucket < F.lit(thr), F.lit(name))
    return expr.otherwise(F.lit(pairs[-1][0]))


def assign_splits(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Append ``split_col`` with a deterministic hash split on ``key_col``.

    Realized sizes converge to the fractions; every decision is a pure
    function of (key, seed) — partition-invariant and incremental-safe.
    """
    return df.withColumn(split_col, split_expr(key_col, fractions, seed))


def assign_splits_by_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    a_col: str = "id_a",
    b_col: str = "id_b",
    seed: int = 42,
    split_col: str = "split",
    group_col: str = "group_id",
) -> DataFrame:
    """Leakage-proof split: near-dup clusters never straddle splits.

    ``pairs`` is any near-dup pair frame (``a_col``/``b_col`` ids of the
    same type as ``df[id_col]``). Pairs close into connected components;
    each row's ``group_col`` is its cluster's min-id representative (its
    own id when it has no near-dup), and ``split_col`` hashes THAT — so a
    transitive chain A~B~C lands entirely in one split even when A and C
    were never directly paired. Returns ``df`` plus both columns; the
    group id doubles as the audit key (``groupBy(group_col,
    split_col).count()`` must show one split per group — pytest-pinned).
    """
    mapping = connected_components(pairs, a_col=a_col, b_col=b_col)
    grouped = apply_canonical_mapping(
        df.withColumn(group_col, F.col(id_col)), mapping, group_col
    )
    return assign_splits(grouped, group_col, fractions, seed, split_col)
