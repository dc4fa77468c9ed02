"""Sequence packing: assign documents to fixed-token-budget training bins.

The LM-training primitive between cleaning and tokenization: documents,
taken in a deterministic global order, are concatenated into training
sequences ("bins") of ``budget`` tokens. The semantics implemented is
boundary-overflow greedy packing — a document belongs to the bin where
its starting offset falls (``bin = floor(exclusive_prefix_sum /
budget)``), so a bin may overrun the budget by at most one document's
tail (the common "pack then chunk" layout; padding-free). The whole
operator reduces to one GLOBAL EXCLUSIVE PREFIX SUM over the ordered
corpus, which is the interesting distributed part:

* the naive formulation — ``sum().over(Window.orderBy(key))`` — plans a
  single-partition window: the entire corpus funnels through ONE reducer.
  Correct at fixture scale, fatal at 10^12 docs;
* :func:`exclusive_prefix_sum` instead uses the classic two-phase scan:
  assign each row a contiguous key-range bucket, window-sum INSIDE each
  bucket (balanced shuffle), and add per-bucket offsets computed from the
  bucket totals — a dimension-sized frame (one row per bucket) aggregated
  once and broadcast back. No stage sees more than one bucket's rows.

Determinism (changed in optimization r06, closing the r05 driver-red
``packed_docs`` row): bucket identity used to come from
``repartitionByRange`` + ``spark_partition_id()``, whose SAMPLED range
boundaries were pinned only by a ``persist()`` — any recompute (cache
eviction, a second evaluation path in a harness) could resample the
boundaries and mix bucket numbering between the offsets aggregate and the
window branch. Boundaries are now computed ONCE on the driver from a
deterministic hash-ranked key sample and baked into the plan as LITERALS
(``_pid`` = number of boundary literals below the row's key), so every
evaluation of every branch sees the same bucketing under any evaluation
order, with no persist-as-correctness crutch and no retained cache.
The boundary *quality* only affects load balance, never values: the
prefix sum depends only on the global ordering by ``order_col``
(ties impossible — unique key required).

No counterpart in the reference (single-process pandas never needs a
distributed scan ≙ data_extraction.py loads whole frames); oracle: ANSI
window ``SUM ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Boundary sample size per requested bucket: enough resolution that the
# evenly-spaced cut points land near the true quantiles (64 sampled keys
# per bucket ⇒ expected bucket-size error well under 2×), small enough
# that the driver collect stays trivially bounded (num_buckets × 64 rows).
_SAMPLE_PER_BUCKET = 64


def _range_boundaries(df: DataFrame, order_col: str, n: int) -> list:
    """``n-1`` (or fewer) ascending cut keys from a deterministic sample.

    The sample is the ``n × 64`` keys with the smallest
    ``xxhash64(key)`` — a deterministic function of the DATA, not of the
    partitioning (planned as TakeOrderedAndProject: per-partition top-k,
    driver merge of k·P rows). Evenly-spaced order statistics of that
    sample become the bucket boundaries. Any boundary choice is CORRECT
    (bucketing only affects balance — see module docstring), so the
    sample being approximate is fine; determinism is what matters, and a
    pure function of the row set is deterministic under any partitioning,
    AQE decision, or recompute.
    """
    if n <= 1:
        return []
    cap = n * _SAMPLE_PER_BUCKET
    sample = (
        df.select(F.col(order_col).alias("_k"))
        .orderBy(F.xxhash64(F.col("_k").cast("string")), F.col("_k"))
        .limit(cap)
        .collect()
    )
    # Row (struct keys) is a tuple subclass, so python sort/dedup works;
    # even if python's order diverged from SQL's for some type, _pid =
    # |{b : b < key}| is monotone in the SQL order for ANY boundary set,
    # so bucket contiguity — and with it correctness — never depends on
    # this sort (it only dedups and spaces the cut points).
    keys = sorted({r["_k"] for r in sample})
    if not keys:
        return []
    bounds = {keys[(i * len(keys)) // n] for i in range(1, n)}
    return sorted(bounds)


def _boundary_lit(v):
    """A literal for a sampled boundary key; structs recurse field-wise."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return F.struct(
            *[_boundary_lit(x).alias(f) for f, x in zip(v.__fields__, v)]
        )
    return F.lit(v)


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    num_partitions: int | None = None,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Global exclusive prefix sum of ``value_col`` in ``order_col`` order.

    Scale path (see module docstring): literal range boundaries → bucket
    id per row → per-bucket window → broadcast per-bucket offsets.
    ``order_col`` must be unique (it defines the total order). Returns the
    input columns plus ``out_col``. Builds the boundary sample with one
    driver-side action at plan-construction time; holds NO persisted
    state (the r05 version leaked a persist per invocation —
    ADVICE.md r05 — and its partition identity was not recompute-stable).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bounds = _range_boundaries(df, order_col, n)
    if bounds:
        barr = F.array(*[_boundary_lit(b) for b in bounds])
        # _pid = #boundaries strictly below the key — contiguous key
        # ranges, stable under any evaluation. coalesce() keeps the column
        # non-nullable so no isnotnull(<expression tree>) constraint gets
        # inferred and pushed into the scan (see dedup.py, same trap).
        pid = F.coalesce(
            F.size(F.filter(barr, lambda b: b < F.col(order_col))), F.lit(0)
        )
    else:
        pid = F.lit(0)
    bucketed = df.withColumn("_pid", pid)
    totals = bucketed.groupBy("_pid").agg(F.sum(value_col).alias("_ptotal"))
    # one row per bucket — a single-partition window here is fine
    # (dimension-sized), unlike a corpus-wide one
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_ptotal").over(off_w), F.lit(0)).alias("_poffset")
    )
    in_w = Window.partitionBy("_pid").orderBy(order_col)
    return (
        bucketed.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            (
                F.sum(value_col).over(in_w) - F.col(value_col) + F.col("_poffset")
            ).cast("bigint"),
        )
        .drop("_pid", "_poffset")
    )


def packed_documents(
    docs: DataFrame,
    budget: int,
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each doc a training bin: ``(…, bin_id, bin_offset)``.

    ``bin_id = floor(prefix/budget)`` (boundary-overflow greedy packing in
    ``order_col`` order), ``bin_offset = prefix % budget`` — the doc's
    start position inside its bin. Documents longer than the budget get a
    bin of their own plus overflow (chunking long docs is the tokenizer's
    job downstream). ``budget`` must be positive.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    with_prefix = exclusive_prefix_sum(
        docs, order_col, token_col, num_partitions, out_col="_prefix"
    )
    return with_prefix.select(
        *docs.columns,
        F.floor(F.col("_prefix") / budget).cast("bigint").alias("bin_id"),
        F.pmod(F.col("_prefix"), F.lit(budget)).cast("bigint").alias("bin_offset"),
    )
