"""Sampling and node-set filtering (≙ reference extract_nodes/extract_edges).

The reference samples nodes with ``pandas.DataFrame.sample(frac, random_state
=42)`` after an optional node-set filter (``circuit/data_extraction.py:45-47,
74``), then keeps only edges whose *both* endpoints survived
(``data_extraction.py:167-173`` — Python-set ``isin`` masks, i.e. two
semi-joins materialized on the driver; that driver materialization is
exactly what cannot scale and is replaced here).

Scale-correct equivalents:

* node-set filter → predicate / left-semi join on ``population``;
* fraction sampling → **value-hash sampling**: keep a neuron iff
  ``xxhash64(neuron_id, seed) mod 2^20 < p·2^20``. Unlike
  ``DataFrame.sample``, this is deterministic under any partitioning and
  parallelism (required for the N-vs-4N scaling runs to emit identical
  triples, SURVEY.md §7.4), reproducible across runs, and consistent:
  the same neuron is kept everywhere it appears;
* edge survival → two left-semi joins against the sampled neuron set
  (broadcast when small; AQE otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1 << 20


def hash_bucket_expr(
    key_col: str | F.Column, seed: int, hash_impl: str = "xxhash64"
) -> F.Column:
    """The ONE deterministic hash-bucket scheme every per-key sampling /
    resampling / splitting decision in this package hashes with: bucket =
    hash(key, seed) mod 2^20. Shared so the operators (and their DuckDB
    md5 twins) can never drift apart on substring width, seed-prefix
    format, or bucket count.

    Two recipes, each with its callers:

    * ``hash_impl="xxhash64"`` — :func:`sample_by_hash`, the KG pipeline's
      node/edge sampler. Below proportion 1 it hashes every synapse row,
      and xxhash64 is one JVM hash where md5 is a digest plus string work.
    * ``"md5"`` — :func:`resample_by_group` and ``splits.split_expr``,
      whose outputs the DuckDB oracles reproduce: the first 8 hex chars of
      ``md5('<seed>:<key>')`` as a big-endian integer, which any SQL
      engine with md5 recomputes.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if hash_impl == "md5":
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_BUCKETS),
        )
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BUCKETS))


def sample_by_hash(
    df: DataFrame, key_col: str, proportion: float, seed: int = 42
) -> DataFrame:
    """Deterministic Bernoulli-style sample: keep iff hash bucket < p·2^20."""
    if proportion >= 1.0:
        return df
    if proportion <= 0.0:
        return df.where(F.lit(False))
    threshold = int(proportion * _BUCKETS)
    return df.where(hash_bucket_expr(key_col, seed) < threshold)


def _hash_rank(key_col: str, seed: int, rank_expr: F.Column | None) -> F.Column:
    """The exact-k samplers' rank: ``rank_expr``, else ``xxhash64(key, seed)``."""
    return rank_expr if rank_expr is not None else F.xxhash64(F.col(key_col), F.lit(seed))


def sample_exact_k(
    df: DataFrame,
    k: int,
    key_col: str,
    seed: int = 42,
    rank_expr: F.Column | None = None,
) -> DataFrame:
    """Exact-count sample: the ``k`` rows with the smallest
    ``xxhash64(key, seed)`` — deterministic under any partitioning.

    ≙ the reference's exact-k edge sample
    (``random.sample(range(total), int(total*p))``,
    data_extraction.py:119-136) and pandas' exact-count ``sample(frac)``
    (data_extraction.py:74). Hash-rank instead of ``rand(seed)``:
    ``rand`` is partitioning-dependent (seed is per-partition), so the
    same seed at N and 4N executors would pick different rows — the hash
    rank picks the same ``k`` rows everywhere, which the N-vs-4N
    determinism rule requires.

    ``orderBy().limit(k)`` plans TakeOrderedAndProject: per-partition
    top-k then a single merge of k·P rows, never a global sort.

    ``rank_expr`` overrides the default xxhash64 rank (e.g. md5 for an
    engine-portable ordering a DuckDB oracle can reproduce).
    """
    if k <= 0:
        return df.where(F.lit(False))
    return df.orderBy(_hash_rank(key_col, seed, rank_expr), F.col(key_col)).limit(k)


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str,
    seed: int = 42,
    rank_expr: F.Column | None = None,
) -> DataFrame:
    """Stratified exact-k sample: up to ``k`` rows PER GROUP, the ones
    with the smallest hash rank — deterministic under any partitioning.

    The training-data balancing primitive (equal-sized slices per
    language/source/quality bucket): a global ``sample_exact_k`` would
    keep whole groups' worth of the dominant stratum. One window shuffle
    keyed on the group; no group's rows ever leave their reducer, so
    skew is bounded by the largest stratum (same bound as any stratified
    pass). ``rank_expr`` as in :func:`sample_exact_k` (md5 for
    engine-portable oracles); ties break on ``key_col``.
    """
    from pyspark.sql import Window

    if k <= 0:
        return df.where(F.lit(False))
    w = Window.partitionBy(group_col).orderBy(
        _hash_rank(key_col, seed, rank_expr), F.col(key_col)
    )
    # fresh temp name: withColumn would silently REPLACE (and drop would
    # then delete) a caller column that happens to be named the same
    rn = "_rn"
    while rn in df.columns:
        rn += "_"
    return (
        df.withColumn(rn, F.row_number().over(w))
        .where(F.col(rn) <= k)
        .drop(rn)
    )


def resample_by_group(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 1.0,
    seed: int = 42,
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic mixture resampling: emit each row ``rate(group)``
    times in expectation — the data-MIXING primitive (e.g. 2.5× a curated
    source, 0.25× raw crawl) that turns per-source target weights into a
    concrete training corpus.

    A row whose group has rate ``r`` emits ``floor(r)`` full copies plus
    one more iff its hash bucket falls under the fractional part — so a
    group's realized factor converges to ``r`` while every decision stays
    a pure function of (key, seed): partition-invariant, reproducible,
    and consistent (the same doc is up/down-weighted identically
    everywhere it appears, unlike ``DataFrame.sample`` whose seed is
    per-partition). Copies are numbered ``0..n-1`` in ``copy_col`` so
    downstream shuffling/packing can treat them as distinct rows.

    Scale shape: one narrow JVM projection + ``explode`` — NO shuffle at
    any rate; output amplification is bounded by ``max(rates)``.
    Rows hash with the md5 recipe of :func:`hash_bucket_expr` and
    fractional thresholds are precomputed as integers against the 2^20
    hash-bucket space, so a SQL oracle with md5 reproduces the exact copy
    set.
    """
    import math

    bucket = hash_bucket_expr(key_col, seed, "md5")

    def n_copies(rate: float) -> F.Column:
        if rate < 0:
            raise ValueError(f"negative rate: {rate}")
        full = int(math.floor(rate))
        thr = int(round((rate - full) * _BUCKETS))
        if thr <= 0:
            return F.lit(full)
        return F.lit(full) + F.when(bucket < F.lit(thr), 1).otherwise(0)

    expr = n_copies(default_rate)
    for g, r in sorted(rates.items()):
        expr = F.when(F.col(group_col) == g, n_copies(r)).otherwise(expr)

    copies = F.when(expr > 0, F.sequence(F.lit(0), expr - 1)).otherwise(
        F.array().cast("array<integer>")
    )
    # explode (not explode_outer): n=0 rows are downsampled away
    return df.withColumn(copy_col, F.explode(copies))


def filter_node_set(neurons: DataFrame, node_set_pops: list[str] | None) -> DataFrame:
    """Node-set filter: keep neurons of the named populations.

    ≙ ``node_population.ids(node_set)`` (data_extraction.py:45-47) with the
    fixture's node-set → population mapping (node_sets.json: Mosaic_A →
    NodeA, Mosaic_B → NodeB). Canonical neuron ids are
    ``neuron:{pop}:{id}`` so population is derivable without a join.
    """
    if not node_set_pops:
        return neurons
    pop = F.split(F.col("neuron_id"), ":").getItem(1)
    return neurons.where(pop.isin(node_set_pops))


def restrict_edges_to_neurons(
    edges: DataFrame,
    neurons: DataFrame,
    src_col: str = "subj",
    tgt_col: str = "obj",
) -> DataFrame:
    """Keep edges whose BOTH endpoints are in ``neurons`` (two broadcast
    semi-joins: ``neurons`` is the dimension side).

    ≙ the reference's isin-mask pair (data_extraction.py:167-173), minus
    the driver-side set materialization.
    """
    n = F.broadcast(neurons.select(F.col("neuron_id")))
    return edges.join(
        n.withColumnRenamed("neuron_id", src_col), src_col, "left_semi"
    ).join(n.withColumnRenamed("neuron_id", tgt_col), tgt_col, "left_semi")
