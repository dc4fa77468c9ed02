"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Both are implemented as compositions of existing DataFrame operators with
scale-correct shapes (per the engine rule: composition first, Pandas UDF
only when semantics demand it — here they don't):

* :func:`asof_join` — "most recent right row at or before each left row"
  via the union+window trick: tag both sides, union, one window per key
  ordered by (ts, side), carry the last-seen right payload forward with
  ``last(..., ignorenulls=True)``, keep left rows. ONE shuffle (the
  window), no range blow-up, no per-key driver loop — the shape that
  survives 10^12 rows. (A sort-merge interval join would also work; this
  form reuses the existing shuffle machinery and AQE.)
* :func:`range_join_binned` — facts joined to intervals they fall in.
  A naive ``t BETWEEN start AND end`` join plans BroadcastNestedLoop /
  cartesian; binning makes it an equi join: intervals explode to the
  fixed-width bins they overlap, facts map to exactly one bin, the join
  runs on the bin key, and an exact post-filter removes bin-edge false
  positives. Each (fact, interval) pair meets in exactly one bin (the
  fact's), so no dedup pass is needed.

DuckDB twins: native ``ASOF JOIN`` for the former, a plain inequality
join for the latter — both exact, see ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_RESERVED = {"_side", "_ts", "_asof", "_b", "_mark", "_seed", "_rn", "_carry"}


def _check_asof_columns(
    fn: str, left: DataFrame, right: DataFrame, right_payload: list[str]
) -> None:
    collisions = (set(right_payload) | {"asof_ts"}) & set(left.columns)
    internals = _RESERVED & (set(left.columns) | set(right.columns))
    if collisions or internals:
        raise ValueError(
            f"{fn} column collisions: payload/asof_ts vs left "
            f"{sorted(collisions)}, reserved internals {sorted(internals)}"
            " — alias the offending columns first"
        )


def _pad_union(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
    """Schema-align two sides with typed nulls, then union."""
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(lhs.schema[c].dataType))
    for c in rhs.columns:
        if c not in lhs.columns:
            lhs = lhs.withColumn(c, F.lit(None).cast(rhs.schema[c].dataType))
    return lhs.unionByName(rhs.select(*lhs.columns))


def _carry_right(
    unioned: DataFrame,
    partition_cols: list[str],
    right_payload: list[str],
) -> DataFrame:
    """The as-of carry: left rows pick up the most recent right row.

    Right rows sort before left rows at equal timestamps (_side 0 < 1) —
    inclusive tie semantics — and right-right (key, ts) ties resolve to
    the largest payload tuple (the trailing orderBy keys), so output is
    deterministic under any partitioning. Timestamp AND payload travel as
    ONE struct through a single last(ignorenulls): per-column carries
    would mix fields from different right rows whenever a payload value
    is null, and a null-timestamp right row must contribute nothing.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        "_ts", "_side", *right_payload
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    right_row = F.when(
        (F.col("_side") == 0) & F.col("_ts").isNotNull(),
        F.struct(F.col("_ts").alias("asof_ts"), *[F.col(c) for c in right_payload]),
    )
    carried = unioned.withColumn("_asof", F.last(right_row, ignorenulls=True).over(w))
    out = (
        carried.where(F.col("_side") == 1)
        .withColumn("asof_ts", F.col("_asof.asof_ts"))
    )
    for c in right_payload:
        out = out.withColumn(c, F.col(f"_asof.{c}"))
    return out.drop("_side", "_ts", "_asof")


def _apply_tolerance(
    out: DataFrame,
    left_ts: str,
    right_payload: list[str],
    tolerance_seconds: float | None,
) -> DataFrame:
    if tolerance_seconds is None:
        return out
    # column objects, not a raw SQL string: left_ts may need quoting
    # (spaces/dots/hyphens) that f-string interpolation would break;
    # out[left_ts] resolves the literal name (F.col would treat '.' as a
    # struct path)
    within = (
        F.col("asof_ts").isNotNull()
        & (
            (F.unix_micros(out[left_ts]) - F.unix_micros(F.col("asof_ts")))
            <= int(tolerance_seconds * 1_000_000)
        )
    )
    out = out.withColumn("asof_ts", F.when(within, F.col("asof_ts")))
    for c in right_payload:
        out = out.withColumn(c, F.when(within, F.col(c)))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.ts <= left.ts`` for the same key (backward as-of join,
    inclusive on ties; right-right ties on (key, ts) resolve to the
    largest payload tuple — deterministic). Right payload columns come
    back null when no right row precedes the left row (or none within
    ``tolerance_seconds``).

    Output: all left columns + ``asof_ts`` + the right payload columns.

    Skew note: the window partitions by ``key`` alone, so one pathological
    key's full history lands on a single reducer. Use
    :func:`asof_join_bucketed` past that point (AQE skew-split cannot help
    a window, unlike a join).
    """
    _check_asof_columns("asof_join", left, right, right_payload)
    lhs = left.withColumn("_side", F.lit(1)).withColumn("_ts", F.col(left_ts))
    rhs = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("_ts"),
            *[F.col(c) for c in right_payload],
        )
        .withColumn("_side", F.lit(0))
    )
    out = _carry_right(_pad_union(lhs, rhs), [key], right_payload)
    return _apply_tolerance(out, left_ts, right_payload, tolerance_seconds)


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    bucket_seconds: int = 24 * 3600,
) -> DataFrame:
    """Skew-proof two-phase as-of join: identical semantics to
    :func:`asof_join` without a tolerance (including the largest-payload
    tie discipline), but every window partitions on (key, time bucket),
    so one pathological key's history spreads across buckets instead of
    landing on a single reducer.

    Phase 1 (seed derivation): the last right row per (key, bucket) —
    a bounded per-bucket window — then, over the per-key *bucket summary*
    (one row per non-empty bucket, tiny relative to the data), the most
    recent summary strictly before each left bucket becomes that bucket's
    seed. Phase 2: the plain union+window carry runs per (key, bucket)
    with the seed injected as an extra right row, so a bucket whose
    right-side history lives entirely in the past still resolves.

    Right rows with a null timestamp contribute nothing (as in
    :func:`asof_join`).
    """
    _check_asof_columns("asof_join_bucketed", left, right, right_payload)

    def bucket_of(ts_col: str) -> Column:
        return F.floor(
            F.col(ts_col).cast("timestamp_ltz").cast("long") / bucket_seconds
        )

    payload_struct = F.struct(
        F.col("_ts").alias("asof_ts"), *[F.col(c) for c in right_payload]
    )
    rb = (
        right.where(F.col(right_ts).isNotNull())
        .withColumn("_ts", F.col(right_ts))
        .withColumn("_b", bucket_of(right_ts))
    )
    # phase 1a: last right row per (key, bucket) — window bounded by bucket
    wb = Window.partitionBy(key, "_b").orderBy(F.desc("_ts"), F.desc(payload_struct))
    bucket_last = (
        rb.withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") == 1)
        .select(key, "_b", payload_struct.alias("_seed"))
    )
    # phase 1b: seed per left bucket = most recent bucket_last with _b' < b.
    # Runs over the per-key bucket summary (1 row per non-empty bucket +
    # 1 per left bucket) — small by construction.
    left_buckets = (
        left.select(F.col(key), bucket_of(left_ts).alias("_b"))
        .distinct()
        .withColumn("_mark", F.lit(0))
        .withColumn("_seed", F.lit(None).cast(bucket_last.schema["_seed"].dataType))
    )
    summary = bucket_last.withColumn("_mark", F.lit(1)).unionByName(left_buckets)
    # a target-bucket row (_mark 0) sorts BEFORE its own bucket's summary
    # row (_mark 1), so the strictly-preceding lookback sees only summaries
    # of EARLIER buckets — the same bucket's right rows already participate
    # in that bucket's phase-2 window and must not also arrive as a seed
    # (a same-bucket "seed" could even postdate the left rows).
    ws = Window.partitionBy(key).orderBy("_b", "_mark").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seeds = (
        summary.withColumn("_carry", F.last("_seed", ignorenulls=True).over(ws))
        .where((F.col("_mark") == 0) & F.col("_carry").isNotNull())
        .select(
            F.col(key),
            F.col("_b"),
            F.col("_carry.asof_ts").alias("_ts"),
            *[F.col(f"_carry.{c}").alias(c) for c in right_payload],
        )
    )

    # phase 2: plain carry per (key, bucket); seeds ride as right rows
    lhs = (
        left.withColumn("_side", F.lit(1))
        .withColumn("_ts", F.col(left_ts))
        .withColumn("_b", bucket_of(left_ts))
    )
    rhs = rb.select(key, "_b", "_ts", *right_payload).withColumn("_side", F.lit(0))
    seed_rhs = seeds.withColumn("_side", F.lit(0))
    rhs_all = rhs.unionByName(seed_rhs)
    return _carry_right(_pad_union(lhs, rhs_all), [key, "_b"], right_payload).drop("_b")


def range_join_binned(
    facts: DataFrame,
    intervals: DataFrame,
    fact_ts: str,
    start_col: str,
    end_col: str,
    bin_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Inner-join facts to the intervals containing them
    (``start <= t < end``) without a cartesian/BNLJ plan.

    ``bin_seconds`` trades interval fan-out (long intervals explode into
    more bins) against bin-join selectivity; set it near the typical
    interval length. Output: fact columns + interval columns.
    """
    f_bin = F.floor(F.col(fact_ts).cast("timestamp_ltz").cast("long") / bin_seconds)
    s_long = F.col(start_col).cast("timestamp_ltz").cast("long")
    e_long = F.col(end_col).cast("timestamp_ltz").cast("long")
    binned_intervals = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(s_long / bin_seconds),
                # inclusive end bin: second-truncation of a sub-second
                # timestamp near `end` may round a fact into the end's
                # bin, and the exact post-filter discards the surplus
                F.floor(e_long / bin_seconds),
            )
        ),
    )
    binned_facts = facts.withColumn("_bin", f_bin)
    return (
        binned_facts.join(binned_intervals, "_bin")
        .where(
            (F.col(fact_ts) >= F.col(start_col)) & (F.col(fact_ts) < F.col(end_col))
        )
        .drop("_bin")
    )
