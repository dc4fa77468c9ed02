"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram-Jaccard near-dup —
all pure DataFrame/column expressions (no Python UDFs). Shingling and
SimHash use the ``transform``/``aggregate`` higher-order functions, which
Spark evaluates interpreted (they are ``CodegenFallback``); the MinHash
signature and bitmap are therefore aggregates over the exploded shingle
hashes, which run in generated code.

Scale design (the part that matters at 10^12 docs):

* candidate generation is always *bucketed* (LSH band buckets / simhash
  chunk buckets) — never an all-pairs cross join;
* within a bucket, pairs are produced by a self-equi-join on the bucket
  key with ``id_a < id_b``, so Catalyst plans a shuffle hash join on the
  bucket key; hot buckets are bounded by ``max_bucket_size`` (drop
  degenerate buckets — e.g. the empty-document shingle set — instead of
  letting one reducer explode);
* verification (true Jaccard / cosine) runs only on candidates.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import add_shingles, fingerprint

_LOG = logging.getLogger(__name__)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition compute-heavy inputs that arrive under-partitioned.

    A small parquet file scans as a single partition; shingling/hashing is
    CPU-bound, so one task would serialize the whole job. Hash-partition on
    the id so results stay deterministic. No-op when the input already has
    enough parallelism (the 10^12-doc case). The partition-count probe
    (``df.rdd.getNumPartitions()`` — there is no DataFrame-level
    equivalent) costs one driver-side plan conversion per call.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates (normalized text): one row per group with
    the surviving (min) id, member count, and member ids."""
    return (
        df.select(F.col(id_col), fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors of exact dedup: the min-id doc per normalized-text group.

    One shuffle (the groupBy); survivors come back via a self-semi-join on
    (fingerprint, id) so full rows are preserved without carrying payload
    columns through the aggregation.
    """
    keep = exact_duplicate_groups(df, id_col, text_col).select(
        "fingerprint", F.col("keep_id").alias(id_col)
    )
    return df.withColumn("fingerprint", fingerprint(text_col)).join(
        keep, ["fingerprint", id_col], "left_semi"
    ).drop("fingerprint")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine MinHash family."""
    import hashlib as _hl

    out = []
    for i in range(num_hashes):
        d = _hl.blake2b(f"minhash:{seed}:{i}".encode(), digest_size=8).digest()
        a = (int.from_bytes(d[:4], "big") % (_MERSENNE31 - 1)) + 1
        b = int.from_bytes(d[4:], "big") % _MERSENNE31
        out.append((a, b))
    return out


def _shingle_hashes(shingles: str, seed: int) -> Column:
    """One 31-bit string hash per shingle (xxhash64 masked to 31 bits) —
    the mask keeps the affine family's a_i·x inside a 64-bit long under
    ANSI mode, and the string hashing cost is paid once, not once per
    signature row."""
    return F.transform(
        shingles, lambda s: F.xxhash64(s, F.lit(seed)).bitwiseAND(F.lit(0x7FFFFFFF))
    )


# Verify-prefilter bitmap width: 32 longs = 2048 bits per document. Wide
# enough that the union-popcount upper bound (see minhash_near_duplicates)
# rejects ~99% of false LSH candidates at the bench corpus's similarity
# profile (16 words already rejected ~97%; 32 measured equal-or-faster
# end-to-end because the exact-verify join shrinks further), still small
# enough (256 B/posting) that carrying it through the band-bucket
# self-join costs ~1/6 of carrying the shingle arrays. The bound is
# lossless at ANY width — width only tunes selectivity.
_BITMAP_WORDS = 32


def _minhash_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """``(_id, n, _bm0.._bm31, band, bucket)``: one row per (doc, band).

    ``n`` is the distinct-shingle count, ``_bm*`` the shingle membership
    bitmap words, and ``bucket`` hashes the band's ``num_hashes/bands`` rows
    of the MinHash signature h_i(x) = min over shingles of
    (a_i·x + b_i) mod (2^31−1). Two docs are LSH candidates iff they share
    a (band, bucket). Columns nobody selects are pruned out of the plan, so
    :func:`banded_postings` never computes the bitmap.

    Signature and bitmap come from ONE aggregation over the exploded
    shingle hashes, not from per-row higher-order functions: Spark runs
    ``transform``/``aggregate``/``array_min`` interpreted (they are
    ``CodegenFallback``), which made 64 lambda passes per document, while
    ``min``/``bit_or`` aggregates run in generated code. ``explode_outer``
    keeps a NULL-text doc as one NULL-hash row, so its signature rows stay
    NULL and its bitmap words 0. Precondition: ids are unique — the
    aggregation groups by id, as ``jaccard_verify``'s id joins already
    assume. ``_spread``'s hash partitioning on ``_id`` satisfies the
    grouping, so it adds no exchange there.

    Aggregates and band structs are written as SQL text, one call per
    aggregate and one for all the bands: built as Column trees they cost
    hundreds of py4j calls per plan.
    """
    nbits = _BITMAP_WORDS * 64
    rows_per_band = num_hashes // bands
    # n and hs are projected before the explode, so an exploded row carries
    # two scalars and not the doc's shingle array
    hashed = add_shingles(
        _spread(df.select(F.col(id_col).alias("_id"), text_col), "_id"),
        text_col,
        shingle_k,
    ).select(
        "_id",
        F.coalesce(F.size("shingles"), F.lit(0)).alias("n"),
        _shingle_hashes("shingles", seed).alias("hs"),
    )
    sig = [
        f"min(pmod({a} * h + {b}, {_MERSENNE31})) AS _s{i}"
        for i, (a, b) in enumerate(_affine_params(num_hashes, seed))
    ]
    words = [
        f"coalesce(bit_or(if((h % {nbits}) div 64 = {w}, "
        f"shiftleft(cast(1 as bigint), cast(h % 64 as int)), NULL)), 0) AS _bm{w}"
        for w in range(_BITMAP_WORDS)
    ]
    per_doc = (
        hashed.select("_id", "n", F.explode_outer("hs").alias("h"))
        .groupBy("_id", "n")
        .agg(*[F.expr(e) for e in sig + words])
    )
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', "
        + ", ".join(f"_s{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")))"
        for b in range(bands)
    )
    return per_doc.selectExpr(
        "_id",
        "n",
        *[f"_bm{w}" for w in range(_BITMAP_WORDS)],
        f"inline(array({band_structs}))",
    )


def drop_hot_buckets(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    label: str,
    min_bucket_size: int = 2,
) -> DataFrame:
    """THE hot-bucket bound, shared by every banded candidate generator
    (MinHash-LSH bands, SimHash chunks, embedding-LSH bands) and the
    incremental index probe.

    A bucket holding p members yields p² join rows on one shuffle key, so
    web scale needs buckets bounded. Keep only keys with
    ``min_bucket_size..max`` members: in a SELF-join singletons can't pair
    (the default ``min_bucket_size=2``), while a probe against a separate
    batch CAN pair with a singleton index bucket
    (:func:`minhash_incremental_duplicates` passes 1); over-full buckets
    are degenerate content whose true near-dups usually also share a
    smaller bucket. The member count is a window over ``keys`` — the
    bucket self-join's own shuffle key — so the bound rides the join's
    exchange and the input is read once, not again in a second aggregate
    branch (guide §2.4: a same-key window needs no extra shuffle).
    ``max_bucket_size=None`` disables the bound entirely (exact
    small-scale mode — what the DuckDB brute-force oracles reproduce).
    NOT silent: opt-out parameter, plan-build log line, skew-fixture
    pytests.
    """
    if max_bucket_size is None:
        return df
    _LOG.info(
        "%s: dropping buckets larger than %d members "
        "(recall bound; pass max_bucket_size=None for exact)",
        label,
        max_bucket_size,
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        df.withColumn("_bn", n)
        .where((F.col("_bn") >= min_bucket_size) & (F.col("_bn") <= max_bucket_size))
        .drop("_bn")
    )


def banded_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded MinHash-LSH postings ``(_id, band, bucket)`` — one row per
    (doc, band), where ``bucket`` hashes the band's signature slice.

    Persisted by :func:`build_minhash_index` and probed by
    :func:`minhash_incremental_duplicates`; :func:`minhash_near_duplicates`
    builds the same postings with its verify payload attached. Ids must be
    unique: two documents sharing one would be hashed as one.
    """
    return _minhash_postings(
        df, id_col, text_col, shingle_k, num_hashes, bands, seed
    ).select("_id", "band", "bucket")


def _scored_jaccard(
    pairs: DataFrame,
    left_id: str,
    right_id: str,
    threshold: float,
    overlap: tuple[Column, Column, Column] | None = None,
) -> DataFrame:
    """THE exact-Jaccard scorer: keeps ``(left_id, right_id, jaccard)`` ≥
    threshold, with jaccard = round(m / (n_a + n_b − m), 6).

    ``overlap`` is ``(m, n_a, n_b)`` = (|A∩B|, |A|, |B|) as columns of
    ``pairs``; by default they come from the joined duplicate-free shingle
    arrays ``sh_a``/``sh_b``. Both sides are add_shingles outputs, so the
    sizes ARE set cardinalities and |A∪B| = |A| + |B| − |A∩B| needs no
    ``array_union``. The intersect size is materialized ONCE behind a
    gen_barrier: in the ``withColumn(jaccard).where(jaccard)`` shape
    Catalyst substitutes the alias into the filter, turns it into a join
    condition and the output projection recomputes it — 3 array_intersect
    per matched pair instead of 1; the barrier keeps the threshold filter
    a comparison of ints above the join.
    """
    m, n_a, n_b = overlap or (
        gen_barrier(F.size(F.array_intersect("sh_a", "sh_b"))),
        F.size("sh_a"),
        F.size("sh_b"),
    )
    scored = pairs.select(
        left_id, right_id, m.alias("_m"), n_a.alias("_na"), n_b.alias("_nb")
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("_m") / (F.col("_na") + F.col("_nb") - F.col("_m")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard")
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """True shingle-Jaccard on candidate pairs; keep pairs ≥ threshold.

    The shingle-array side meets the pairs through a forced shuffled hash
    join, the safe shape because the shingle arrays are the HEAVY side:
    the planner's size estimate of a computed array column is rows-based
    and routinely makes AQE build a broadcast HashedRelation out of the
    *arrays* (a single-threaded multi-hundred-MB build measured 23.4 s vs
    9.5 s shuffled-hash at sf1.0 — OPTIMIZATION_r06.md), and at corpus
    scale that broadcast is the 8 GB-cap wall; shuffled-hash keeps both
    sides partitioned and builds per-partition tables in parallel
    (guide §3.1).
    """
    sh = (
        add_shingles(
            _spread(df.select(F.col(id_col), text_col), id_col), text_col, shingle_k
        )
        .select(id_col, "shingles")
        .hint("shuffle_hash")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return _scored_jaccard(
        candidates.join(a, "id_a").join(b, "id_b"), "id_a", "id_b", threshold
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """MinHash-LSH candidates verified by true Jaccard ≥ threshold.

    Output is IDENTICAL to running ``jaccard_verify`` on every pair that
    shares a :func:`banded_postings` bucket of ``2..max_bucket_size``
    members — same candidate pairs, same exact string-shingle Jaccard —
    but the plan follows guide §8: decide with small rows, move
    heavy rows once. Attaching the full shingle arrays (~1.6 KB/doc) to
    EVERY candidate pair before the exact verify would move them for
    9.9 M pairs at sf1.0, of which only 2,544 are real (99.97% false
    positives paying two array joins plus a per-pair ``array_intersect``).
    Instead this plan:

    * carries a 2048-bit *shingle membership bitmap* — ``_BITMAP_WORDS``
      = 32 scalar long columns, not an array, so the pair filter stays
      inside whole-stage codegen — plus the distinct-shingle count through
      the band-bucket self-join (256 B/posting vs 1.6 KB);
    * prunes pairs with two LOSSLESS bounds evaluated per co-occurrence:
      the AllPairs size bound (J ≥ t ⇒ min(n_a,n_b) ≥ t·max(n_a,n_b)) and
      the bitmap union bound — every set bit of ``bm_a|bm_b`` is hit by ≥1
      element of A∪B, so ``popcount(bm_a|bm_b) ≤ |A∪B|``, hence
      ``m = |A∩B| = n_a+n_b−|A∪B| ≤ n_a+n_b−popcount(bm_a|bm_b) = m_ub``
      and J ≤ m_ub/(n_a+n_b−m_ub); pairs whose upper bound is below the
      threshold cannot pass the exact verify and are dropped before the
      pair ``distinct`` (sf1.0: 9.9 M → 327 K survivors);
    * exact-verifies only the survivors (``jaccard_verify``, shuffled-hash
      so the array side is never a broadcast build).

    Hot (band, bucket) keys are bounded by :func:`drop_hot_buckets`, whose
    count window rides the self-join's own exchange.

    Every derived pair-filter column is wrapped non-nullable
    (``coalesce(…, 0)``): a nullable filter column makes Catalyst infer
    ``isnotnull(<full expression tree>)`` constraints and push them into
    the scan filter, re-evaluating the shingle pipeline once per conjunct
    per row (measured 460 s+ at sf1.0 — the silent plan trap this module
    now documents).

    Measured sf1.0 (50 K docs, local[32], noop sink, min-of-2): 61.5 s →
    9.5 s, byte-identical 2,544-pair output. ``max_bucket_size=None``
    disables the bucket bound (exact small-scale mode, same contract as
    :func:`drop_hot_buckets`).
    """
    posts = drop_hot_buckets(
        _minhash_postings(df, id_col, text_col, shingle_k, num_hashes, bands, seed),
        ["band", "bucket"],
        max_bucket_size,
        "minhash_near_duplicates",
    )
    a, b = (
        posts.selectExpr(
            "band",
            "bucket",
            f"_id AS id_{side}",
            f"n AS n_{side}",
            *[f"_bm{w} AS _{side}{w}" for w in range(_BITMAP_WORDS)],
        )
        for side in "ab"
    )
    # the threshold as a double literal, the type the pruning arithmetic
    # had when it was built from Column objects
    t = f"{float(threshold)!r}D"
    size_ok = f"n_a >= n_b * {t} - 1e-9D AND n_b >= n_a * {t} - 1e-9D"
    or_pop = " + ".join(f"bit_count(_a{w} | _b{w})" for w in range(_BITMAP_WORDS))
    # Single-reference form of the union bound: with
    # m_ub = n_a+n_b−or_pop, the bound  m_ub ≥ t·(n_a+n_b−m_ub)  is
    # algebraically  or_pop ≤ (n_a+n_b)/(1+t).  The two-reference form
    # makes codegen evaluate the 32-word popcount chain TWICE per
    # co-occurring pair (the chain appears twice in the join condition);
    # this form references it once. Still lossless: for
    # any true pair J ≥ t ⇒ |A∪B| ≤ (n_a+n_b)/(1+t) and
    # or_pop ≤ popcount-bound ≤ |A∪B|; the 1e-9 slack (≥ the old form's
    # effective slack 1e-9/(1+t)) only ever ADMITS extra candidates,
    # which the exact verify rejects — output identical.
    ub_ok = (
        f"cast({or_pop} as double) <= "
        f"cast(n_a + n_b as double) / {float(1.0 + threshold)!r}D + 1e-9D"
    )
    cands = (
        a.join(b, ["band", "bucket"])
        .where(f"id_a < id_b AND {size_ok} AND {ub_ok}")
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(cands, df, id_col, text_col, shingle_k, threshold)


def build_minhash_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    num_buckets: int = 16,
) -> dict:
    """Persist the corpus's banded MinHash postings through the
    materialize sink — the historical-corpus half of INCREMENTAL dedup.

    At 10^12 docs the operational dedup question is rarely "dedup this
    corpus against itself once"; it is "dedup today's crawl batch against
    everything already ingested" — and rescanning/re-shingling the full
    history per batch is the cost that kills that. This builder pays the
    corpus-wide shingling ONCE and writes:

    * ``postings`` — ``(doc_id, band, bucket)`` rows, sink-bucketed by
      (band, bucket) so a probe for a given posting key touches exactly
      one partition (:func:`minhash_incremental_duplicates` prunes at the
      file listing, same mechanism as the IVF index's probed lists);
    * ``meta`` — one row of build parameters (shingle_k, num_hashes,
      bands, seed, num_buckets); the probe side MUST band with identical
      parameters or candidate collision is meaningless, so it reads them
      from here rather than trusting its caller.

    Resume comes free from the sink's contract: a re-run
    fingerprint-skips unchanged partitions, so appending a day's batch to
    the index rewrites only the (band, bucket) partitions whose posting
    sets changed. Returns ``{"postings": MaterializeReport}``.
    """
    from ..sinks import materialize as mat

    spark = corpus.sparkSession
    posts = banded_postings(
        corpus, id_col, text_col, shingle_k, num_hashes, bands, seed
    ).select(F.col("_id").alias("doc_id"), "band", "bucket")
    # meta commits BEFORE the postings materialize (r06, per the r05
    # advisor): a parameter-changing rebuild killed mid-build used to
    # leave new-parameter postings visible under the OLD meta, so probes
    # silently banded with stale parameters. Meta-first inverts the
    # failure: a kill between the two writes leaves new meta over
    # old-parameter postings, which the resumed build's fingerprint pass
    # rewrites — and the probe meanwhile bands with the parameters the
    # completed build WILL have, never a mixture it can't detect.
    spark.createDataFrame(
        [(int(shingle_k), int(num_hashes), int(bands), int(seed), int(num_buckets))],
        "shingle_k int, num_hashes int, bands int, seed int, num_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/meta")
    report = mat.materialize(
        posts,
        f"{index_path}/postings",
        key_cols=["band", "bucket"],
        num_buckets=num_buckets,
        stage="minhash_postings",
    )
    return {"postings": report}


def minhash_incremental_duplicates(
    spark,
    index_path: str,
    history: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dups of a NEW batch against a PRE-BUILT
    :func:`build_minhash_index` — returns ``(new_id, hist_id, jaccard)``.

    The incremental-ingest primitive: band the batch with the index's own
    parameters (read from ``meta``), equi-join its postings against the
    persisted posting table on (band, bucket), then verify candidates
    with true shingle Jaccard. Scale properties:

    * the index is read with the batch's posting keys
      (``read_materialized(keys=…)``), so ONLY the sink partitions those
      keys hash to are scanned — probe cost is proportional to the
      batch's bucket footprint, not the index;
    * ``history`` (the original corpus table) is touched ONLY to fetch
      candidate documents' text for verification — one semi-join on the
      candidate id set, never a full re-shingle of the history;
    * index-side hot buckets are bounded by ``max_bucket_size`` with
      ``min_bucket_size=1`` (unlike the self-join path, a singleton
      history bucket CAN pair with a batch doc).

    The batch's postings lineage evaluates twice (once to collect the
    ≤ num_buckets probed partition ids, once in the candidate join) —
    deliberate: the batch is the SMALL side by definition, and a
    persist() the caller never sees would leak in a long-lived session.
    Callers probing with a large batch can persist it themselves.
    """
    from ..sinks import materialize as mat

    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    new_posts = banded_postings(
        batch,
        id_col,
        text_col,
        meta.shingle_k,
        meta.num_hashes,
        meta.bands,
        meta.seed,
    ).select(F.col("_id").alias("new_id"), "band", "bucket")

    index_posts = mat.read_materialized(
        spark,
        f"{index_path}/postings",
        keys=new_posts.select("band", "bucket"),
        num_buckets=meta.num_buckets,
    ).select(F.col("doc_id").alias("hist_id"), "band", "bucket")
    index_posts = drop_hot_buckets(
        index_posts,
        ["band", "bucket"],
        max_bucket_size,
        "minhash_incremental_duplicates",
        min_bucket_size=1,
    )
    cands = (
        new_posts.join(index_posts, ["band", "bucket"])
        .where(F.col("new_id") != F.col("hist_id"))
        .select("new_id", "hist_id")
        .distinct()
    )

    new_sh = add_shingles(
        _spread(batch.select(F.col(id_col).alias("new_id"), text_col), "new_id"),
        text_col,
        meta.shingle_k,
    ).select("new_id", F.col("shingles").alias("sh_a"))
    # candidate-only verify: only history docs that appear in a candidate
    # pair are read and shingled
    hist_cand = history.select(F.col(id_col).alias("hist_id"), text_col).join(
        cands.select("hist_id").distinct(), "hist_id", "left_semi"
    )
    hist_sh = add_shingles(hist_cand, text_col, meta.shingle_k).select(
        "hist_id", F.col("shingles").alias("sh_b")
    )
    return _scored_jaccard(
        cands.join(new_sh, "new_id").join(hist_sh, "hist_id"),
        "new_id",
        "hist_id",
        threshold,
    )


def near_dup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One survivor (the min id) per near-duplicate CLUSTER.

    Pair lists from any detector (minhash/simhash/ngram/embedding) are
    edges of a similarity graph; keeping "one of each pair" is wrong when
    A~B and B~C but A!~C — the whole component must collapse to one doc.
    Components come from :func:`canonicalize.connected_components`
    (alternating-star contraction at scale, driver union-find for
    broadcast-sized pair sets); every member whose canonical is not
    itself is dropped via one anti join.

    Scale posture: the component mapping is sized by DOCS THAT HAVE A
    NEAR-DUP (usually ≪ corpus), so the anti join broadcasts when small
    and AQE handles it otherwise; the corpus is never shuffled.
    """
    from .canonicalize import connected_components

    mapping = connected_components(
        pairs.select("id_a", "id_b"), a_col="id_a", b_col="id_b"
    )
    losers = mapping.where(F.col("entity_id") != F.col("canonical_id")).select(
        F.col("entity_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_expr(shingles_col: str, seed: int = 42) -> Column:
    """64-bit SimHash of a shingle-array column, as bigint.

    Per-bit vote: sum over shingles of ±1 by bit of the shingle hash;
    bit j of the result = (vote_j > 0). Pure higher-order SQL expressions
    (the python ``shiftright`` helper only takes literal shift amounts, so
    this is authored as SQL): one ``aggregate`` over the shingle array with
    a 64-long accumulator — no explode, no shuffle.

    The shingle hash is a 60-bit value from the first 15 hex chars of the
    seed-prefixed md5, which DuckDB reproduces exactly
    (``('0x'||substr(md5('{seed}:'||s),1,15))::BIGINT``), making the
    whole simhash value cross-engine-verifiable. Bits 60-63 are always 0
    (votes stay negative), so chunk banding and Hamming math are
    unaffected.
    """
    # the seed threads into the hashed string so distinct seeds give
    # independent hash families
    hash_sql = (
        f"cast(conv(substr(md5(concat('{int(seed)}:', s)), 1, 15), 16, 10)"
        " as bigint)"
    )
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform({shingles_col}, s -> {hash_sql}),
              transform(sequence(0, 63), j -> cast(0 as bigint)),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, 63),
                          j -> if((shiftright(h, cast(j as int)) & 1) = 1,
                                  cast(1 as bigint), cast(-1 as bigint))),
                (a, v) -> a + v)
            ),
            sequence(0, 63),
            (v, j) -> if(v > 0, shiftleft(cast(1 as bigint), cast(j as int)),
                         cast(0 as bigint))
          ),
          cast(0 as bigint),
          (acc, x) -> acc | x
        )
        """
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    max_hamming: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation: 16-bit chunk banding (two signatures within
    Hamming ≤ 3 must agree on ≥1 of 4 chunks — pigeonhole); exact
    ``bit_count(xor)`` verification on candidates. The md5 shingle hash
    makes the output DuckDB-reproducible (see :func:`simhash_expr`).

    Skew bound: a (chunk, val) bucket holding p docs yields p² join rows
    on one shuffle key — short/templated corpora collapse to few simhash
    values, so web scale needs the same hot-bucket bound as
    :func:`minhash_near_duplicates`. Buckets larger than
    ``max_bucket_size`` are dropped by :func:`drop_hot_buckets`' count
    window over (chunk, val); a doc in a degenerate bucket usually shares
    a *different*, smaller chunk bucket with its true near-dups, and the
    pair survives through that one. The default 1000 is the web-scale-safe
    product setting; ``max_bucket_size=None`` disables the bound (exact
    small-scale mode — what the DuckDB oracle reproduces, keeping every
    internal pair of a cluster over 1000 members). NOT silent: dropping
    changes recall, so it is opt-out-able, logged at plan-build time, and
    the pytest skew fixture pins the behavior.
    """
    sh = add_shingles(
        _spread(df.select(F.col(id_col).alias("_id"), text_col), "_id"),
        text_col,
        shingle_k,
    ).select("_id", simhash_expr("shingles", seed).alias("sh"))
    # Join keys are COALESCED non-nullable (same plan trap as
    # minhash_near_duplicates): nullable key columns derived from `sh`
    # make Catalyst infer isnotnull(<the full simhash aggregate>) and push
    # it into the scan filter, re-evaluating the most expensive expression
    # of the operator once per conjunct per row. A null simhash (null
    # text) gets key 0, which may pair it — but every such pair is
    # removed by the null-propagating hamming filter below, exactly as
    # null join keys removed them before, so the output is identical.
    chunked = sh.select(
        "_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.coalesce(
                            F.shiftright("sh", c * 16).bitwiseAND(F.lit(0xFFFF)),
                            F.lit(0),
                        ).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cb"),
    ).select("_id", "sh", "cb.chunk", "cb.val")
    chunked = drop_hot_buckets(
        chunked, ["chunk", "val"], max_bucket_size, "simhash_near_duplicates"
    )
    # Second-level pigeonhole: joining on (chunk, val) alone is
    # quadratic in the bucket size, and corpora whose simhash
    # values cluster (low-entropy bit regions — templated text) produce
    # near-corpus-wide buckets: at 50 K docs the raw within-bucket pair
    # stream measured ~250 s in exact mode. A pair with Hamming ≤ 3 that
    # agrees on chunk c has ≤ 3 errors spread over the OTHER 48 bits, so
    # by pigeonhole it also agrees on ≥ 1 of 4 twelve-bit PIECES of that
    # complement. Refining the join key to (chunk, val, piece, pval)
    # therefore loses no qualifying pair — in bounded mode too, since the
    # bucket bound above still applies to the original (chunk, val) key —
    # while a degenerate bucket now needs 28 near-constant bits instead
    # of 16. Extra candidates were always possible and are removed by the
    # exact bit_count verify, so the output set is unchanged in both
    # modes. Measured sf1.0 exact mode: ~250 s → ~7 s, identical rows.
    refined = chunked.select(
        "_id",
        "sh",
        "chunk",
        "val",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("piece"),
    )
    # complement of chunk c = the other 48 bits (bits above 47 may carry
    # arithmetic-shift sign fill — pieces only read bits 0..47):
    # comp = (sh >> ((chunk+1)*16)) << (chunk*16)  |  (sh & ((1<<chunk*16)-1))
    refined = refined.withColumn(
        "pval",
        F.expr(
            "coalesce(shiftright("
            " shiftleft(shiftright(sh, (chunk + 1) * 16), chunk * 16)"
            "  | (sh & (shiftleft(cast(1 as bigint), chunk * 16) - 1)),"
            " piece * 12) & 4095, 0)"
        ),
    )
    a = refined.select(
        "chunk", "val", "piece", "pval", F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = refined.select(
        "chunk", "val", "piece", "pval", F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    # Hamming filter BEFORE the pair distinct: the exact bit_count(xor)
    # verify is two instructions, so it runs inside the join's codegen
    # stage and the distinct then shuffles
    # only true near-dup pairs (≤16 occurrences each) instead of the raw
    # candidate stream. Filter-then-distinct is row-identical — the
    # predicate is deterministic per row and hamming is a function of the
    # pair.
    # the hamming predicate is wrapped coalesce(..., false): null hamming
    # (a null-simhash participant) is excluded either way, and the
    # non-nullable wrapper stops the isnotnull(sh_a/sh_b) constraint —
    # i.e. isnotnull(<full simhash expr>) — from being inferred and
    # pushed into the scan (see the key coalesce note above).
    return (
        a.join(b, ["chunk", "val", "piece", "pval"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.coalesce(F.col("hamming") <= max_hamming, F.lit(False)))
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (brute within buckets) & embedding cosine near-dup
# ---------------------------------------------------------------------------

def gen_barrier(col: Column) -> Column:
    """No-op wrapper that stops Catalyst cloning an expensive array expr.

    ``explode`` of a computed array makes ``InferFiltersFromGenerate``
    (+ constraint propagation) synthesize ``size(<expr>) > 0 AND
    isnotnull(<expr>)`` filters with the FULL generating expression
    substituted — and filter pushdown then sinks them below any
    ``_spread`` repartition, so the corpus's most expensive expression
    (normalize + shingle: regex + a length(text)-element transform +
    array_distinct) runs 2 extra times per row INSIDE the single-task
    scan partition. Measured on ngram_jaccard's prefix leg at sf0.1:
    12.1 s → 1.3 s for the identical output (the inferred filters are
    pure optimizations; explode itself drops null/empty arrays).

    The guard condition is always true (``monotonically_increasing_id``
    is non-negative by construction), so the value is unchanged and
    still deterministic; but the expression is *marked* non-deterministic,
    which (a) makes InferFiltersFromGenerate skip it and (b) blocks
    predicate pushdown through the projection that computes it. Apply it
    to the array column right before an ``explode`` whose input is
    expensive to compute.
    """
    return F.when(F.monotonically_increasing_id() >= 0, col)


# Bit budget for the exact-bitmap Jaccard fast path: 1024 bits = 16 long
# words per doc. A k=1 (character-shingle) corpus's universe is its
# character set — ASCII-ish corpora sit near 40-70 — so the budget is
# generous while keeping the per-posting payload bounded.
_EXACT_JACCARD_MAX_BITS = 1024


def _exact_bitmap_universe(sh: DataFrame, max_bits: int) -> list[str] | None:
    """The corpus's distinct shingles, sorted — or None if > ``max_bits``.

    Probe for the exact-bitmap fast path of :func:`ngram_jaccard_pairs`:
    one ``collect_set`` aggregation (set-union partial aggregation per
    map task, single dimension-sized merge) — deliberately NOT
    ``distinct().limit(n).collect()``, whose ``CollectLimit`` executes
    the final aggregate's partitions incrementally (1, then 5, then 25,
    …), costing several driver round-trips per probe (measured ~1.5 s of
    the sf0.01 row vs ~0.2 s for this shape). The caller only probes
    when ``shingle_k == 1`` (universe = the corpus's character set,
    bounded by the alphabet, not the corpus), so the merged set stays
    dimension-sized at any corpus scale.
    """
    rows = (
        sh.select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .collect()
    )
    if len(rows) > max_bits:
        return None
    # GLOBAL PREFIX ORDER: (document frequency asc, shingle asc) — the
    # same total order prefix_index ranks by. Bit i ⇔ the i-th shingle in
    # that order, so "lowest set bit of bm_a & bm_b" = the pair's
    # minimal shared shingle under the prefix order (the dedup key of
    # the bitmap leg).
    return [r["s"] for r in sorted(rows, key=lambda r: (r["dfreq"], r["s"]))]


def prefix_index(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id, shingle) posting rows restricted to each doc's Jaccard prefix.

    Global order = (document frequency asc, shingle asc); a doc of n
    distinct shingles keeps its first n − ⌈t·n⌉ + 1. By the prefix-filter
    lemma (see :func:`ngram_jaccard_pairs`) every pair with J ≥ t shares
    an indexed token, so joining this index against itself is a lossless
    candidate generator — while high-frequency shingles sort last and
    drop out of almost every prefix, which is what bounds the hot keys
    of the posting join.
    """
    # `n` (the doc's distinct-shingle count) is size(shingles) on the doc
    # row — shingle arrays are array_distinct'ed, so this equals the count
    # window over the exploded postings, without a second window pass
    # over the posting set.
    posts = sh.select(
        F.col(id_col),
        F.coalesce(F.size("shingles"), F.lit(0)).alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    dfreq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    per_doc = Window.partitionBy(id_col)
    ranked = posts.join(dfreq, "shingle").withColumn(
        "rn", F.row_number().over(per_doc.orderBy("dfreq", "shingle"))
    )
    # minimum required overlap ⌈t·n⌉; the 1e-9 slack guards float error in
    # t·n upward (a too-large ceil would shorten the prefix and lose pairs;
    # a one-longer prefix merely admits extra candidates the exact verify
    # rejects)
    # `n` (the doc's distinct-shingle count) rides along so the caller can
    # apply the AllPairs SIZE filter inside the posting join
    return ranked.where(
        F.col("rn")
        <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9)) + 1
    ).select(F.col(id_col), "shingle", "n")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold via a PREFIX-FILTERED
    inverted index (AllPairs/PPJoin prefix principle).

    J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, and two sets
    sharing ≥ α tokens under one global total order must share a token
    within their (|X| − α + 1)-prefixes. So each doc indexes only its
    first |X| − ⌈t·|X|⌉ + 1 shingles in global document-frequency order
    (rarest first, ties by shingle value); the posting-list self-join
    runs on PREFIX tokens only, and candidates are verified exactly with
    ``array_intersect`` on the full shingle arrays. Output is identical
    to the all-pairs formulation for any ``threshold > 0`` — the prefix
    filter is lossless by the lemma above — but the join never keys on a
    high-frequency shingle unless a document is so small that its prefix
    covers it: the k=1 hot-key p² blowup (every doc posting 'e') is gone
    because frequent shingles sort LAST and fall outside the prefixes.

    Shingle arrays are distinct (``shingle_expr`` applies
    ``array_distinct``), so ``size(array_intersect)`` equals |A ∩ B|
    exactly. k=1 matches DuckDB's character-set ``jaccard`` for
    cross-validation. Requires ``threshold > 0``: zero-overlap pairs
    never enter the index. The per-doc prefix windows partition on the
    doc id (doc-sized groups); the document-frequency join keys on the
    shingle, whose worst key now carries only prefix occurrences.
    """
    if threshold <= 0:
        raise ValueError("inverted-index Jaccard requires threshold > 0")
    sh = add_shingles(
        _spread(df.select(F.col(id_col), text_col), id_col), text_col, shingle_k
    ).select(id_col, "shingles")
    # Exact-bitmap fast path (guide §8 — decide with small rows, never
    # move the heavy ones): when the distinct-shingle UNIVERSE fits a
    # fixed bit budget (k=1 ⇒ universe = the corpus's
    # character set, typically well under 100), assign every shingle a
    # collision-free global bit (position in the sorted universe) and
    # carry each doc's membership bitmap — a few long words — through the
    # posting self-join. ``popcount(bm_a & bm_b)`` is then |A∩B| EXACTLY
    # (no collisions by construction), so the Jaccard is scored straight
    # from the bitmaps and the two full-shingle-array attach joins plus the
    # per-pair ``array_intersect`` verify disappear from the plan
    # entirely. Output identical: same m, same |A∪B| = n_a+n_b−m, same
    # round(·, 6). Docs with a null shingle array produce no postings on
    # either path. Universes past the budget (any k ≥ 2 corpus, or a
    # k=1 corpus with > max_bits distinct characters) keep the
    # array-verify path below.
    universe = (
        _exact_bitmap_universe(sh, _EXACT_JACCARD_MAX_BITS) if shingle_k == 1 else None
    )
    if universe is not None:
        return _ngram_jaccard_pairs_bitmap(sh, universe, id_col, threshold)
    prefix = prefix_index(sh, id_col, threshold)
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle", F.col("n").alias("n_a"))
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle", F.col("n").alias("n_b"))
    # AllPairs SIZE filter, applied inside the posting join: m ≤ min(|A|,|B|)
    # and union ≥ max(|A|,|B|) give J ≤ min/max, so J ≥ t forces
    # min(|A|,|B|) ≥ t·max(|A|,|B|). Lossless (1e-9 slack admits the
    # boundary; the exact verify rejects any extras) — it prunes candidate
    # pairs BEFORE the distinct and the array_intersect verify.
    size_ok = (
        F.col("n_a") >= F.col("n_b") * F.lit(threshold) - F.lit(1e-9)
    ) & (F.col("n_b") >= F.col("n_a") * F.lit(threshold) - F.lit(1e-9))
    cands = (
        a.join(b, "shingle")
        .where((F.col("id_a") < F.col("id_b")) & size_ok)
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return _scored_jaccard(
        cands.join(sh_a, "id_a").join(sh_b, "id_b"), "id_a", "id_b", threshold
    )


def _ngram_jaccard_pairs_bitmap(
    sh: DataFrame, universe: list[str], id_col: str, threshold: float
) -> DataFrame:
    """Exact-bitmap leg of :func:`ngram_jaccard_pairs`.

    ``universe`` is the corpus's full distinct-shingle list in GLOBAL
    PREFIX ORDER — (dfreq asc, shingle asc), ≤
    ``_EXACT_JACCARD_MAX_BITS`` entries — so bit *i* ⇔ the i-th shingle
    of the prefix-filter total order, collision-free. Three structural
    consequences, each removing a whole plan phase of the array leg:

    * **No dfreq join, no rank window.** A doc's Jaccard prefix (its
      n − ⌈t·n⌉ + 1 smallest shingles under the global order) is just
      the lowest entries of its sorted bit-index array:
      ``slice(array_sort(bits), 1, p)``. The posting index is built
      per-row and keys on an *int* bit index instead of a string.
    * **Exact verify inside the join.** ``Σ_w popcount(a_w & b_w)`` is
      |A∩B| exactly (no collisions by construction), so the Jaccard
      filter + value need no full-array attach joins and no
      ``array_intersect``.
    * **No pair ``distinct``.** A pair is emitted only from its MINIMAL
      shared bit (no and-bit strictly below the matched bit): for any
      pair with J ≥ t the minimal shared shingle provably lies in both
      prefixes — if it didn't, one side would have ≥ n − ⌈t·n⌉ + 1
      non-shared shingles below it, capping m at ⌈t·n⌉ − 1 < t·n — so
      every qualifying pair is emitted EXACTLY once and the 10.7 s
      distinct over ~20 M candidate rows (sf0.1) disappears.

    Every derived column is wrapped non-nullable (``coalesce``) — the
    Catalyst isnotnull-constraint trap documented in
    :func:`minhash_near_duplicates`.
    """
    nwords = (len(universe) + 63) // 64
    bit_of = F.create_map(
        *[lit for i, s in enumerate(universe) for lit in (F.lit(s), F.lit(i))]
    )
    # gen_barrier: without it, InferFiltersFromGenerate clones the whole
    # normalize+shingle expression into scan-level filters below the
    # _spread exchange (2 extra serial evaluations per row — measured
    # 12.1 s of this operator's prefix leg alone at sf0.1; see the
    # helper's doc). Scoped to this leg: the array leg's shingle column
    # also feeds its verify joins, where the barrier interacts badly.
    shb = (
        sh.select(F.col(id_col), gen_barrier(F.col("shingles")).alias("shingles"))
        .select(
            F.col(id_col),
            F.array_sort(
                F.transform("shingles", lambda s: F.element_at(bit_of, s))
            ).alias("_bits"),
        )
        .select(
            F.col(id_col),
            F.coalesce(F.size("_bits"), F.lit(0)).alias("n"),
            "_bits",
        )
    )
    word_cols = [
        F.coalesce(
            F.expr(
                f"aggregate(_bits, cast(0 as bigint), (acc, b) -> "
                f"if(b div 64 = {w}, "
                f"acc | shiftleft(cast(1 as bigint), cast(b % 64 as int)), acc))"
            ),
            F.lit(0),
        ).alias(f"_bm{w}")
        for w in range(nwords)
    ]
    # prefix = the p = n − ⌈t·n⌉ + 1 lowest bit indexes (1e-9 slack as in
    # prefix_index); explode to int-keyed postings carrying the bitmap
    prefix_len = (
        F.col("n")
        - F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    posts = shb.select(
        F.col(id_col),
        "n",
        *word_cols,
        F.explode(F.slice("_bits", F.lit(1), prefix_len)).alias("t_bit"),
    )
    bm_names = [f"_bm{w}" for w in range(nwords)]
    a = posts.select(
        F.col(id_col).alias("id_a"),
        "t_bit",
        F.col("n").alias("n_a"),
        *[F.col(c).alias(f"a{c}") for c in bm_names],
    )
    b = posts.select(
        F.col(id_col).alias("id_b"),
        "t_bit",
        F.col("n").alias("n_b"),
        *[F.col(c).alias(f"b{c}") for c in bm_names],
    )
    size_ok = (
        F.col("n_a") >= F.col("n_b") * F.lit(threshold) - F.lit(1e-9)
    ) & (F.col("n_b") >= F.col("n_a") * F.lit(threshold) - F.lit(1e-9))
    # minimal-shared-bit test: no and-bit strictly below t_bit — per word
    # w the below-mask is all-ones left of t_bit's word, zero right of
    # it, and (1 << t_bit%64) − 1 inside it
    def below_mask(w: int) -> Column:
        return F.expr(
            f"CASE WHEN t_bit div 64 > {w} THEN cast(-1 as bigint) "
            f"WHEN t_bit div 64 < {w} THEN cast(0 as bigint) "
            f"ELSE shiftleft(cast(1 as bigint), cast(t_bit % 64 as int)) - 1 END"
        )

    is_min_shared = F.coalesce(
        sum(
            F.bit_count(
                F.col(f"a_bm{w}").bitwiseAND(F.col(f"b_bm{w}")).bitwiseAND(
                    below_mask(w)
                )
            )
            for w in range(nwords)
        ),
        F.lit(0),
    ) == 0
    m = F.coalesce(
        sum(
            F.bit_count(F.col(f"a_bm{w}").bitwiseAND(F.col(f"b_bm{w}")))
            for w in range(nwords)
        ),
        F.lit(0),
    )
    return _scored_jaccard(
        a.join(b, "t_bit").where(
            (F.col("id_a") < F.col("id_b")) & size_ok & is_min_shared
        ),
        "id_a",
        "id_b",
        threshold,
        overlap=(m, F.col("n_a"), F.col("n_b")),
    )
