"""Vocabulary construction and token-id encoding.

Engine additions beyond the reference: the tokenizer-adjacent step a
training-data pipeline runs between cleaning and packing — build a
corpus-derived term vocabulary with contiguous integer ids, then encode
every document as an ``array<bigint>`` of token ids (OOV → a sentinel
unk id). Composes directly with the rest of the stack: quality filter →
dedup → :func:`operators.sampling.resample_by_group` →
:func:`operators.splits.assign_splits` → encode →
:func:`operators.packing.packed_documents` (which bins by exactly the
``n_tokens`` this operator emits).

Tokenization reuses :func:`operators.text.word_ngrams` (lowercased,
whitespace, blank-doc guarded) so the token definition is the one the
rest of the text stack already certifies.

Scale posture:

* ``build_vocab`` — one corpus-scale map-side-combined shuffle on the
  term (a corpus-universal stopword partial-aggregates to one row per
  map task); id assignment is a GLOBAL RANK by (count desc, term asc),
  delegated to :func:`operators.packing.exclusive_prefix_sum` of 1s —
  range partition → in-partition window → broadcast offsets — so the
  vocabulary never funnels through a single-partition window even when
  it has hundreds of millions of terms.
* ``encode_documents`` — the vocabulary is dimension-sized relative to
  the corpus, so the term lookup is a BROADCAST left join onto the
  exploded (doc, pos, term) stream: no shuffle on the (violently
  Zipf-skewed) term key at all. The only exchange is the doc-keyed
  regroup, high-cardinality and naturally balanced, with the per-doc
  list bounded by document size — the same bound the parser already
  assumes. The vocabulary is always broadcast: no caller has one too
  large to broadcast, and a shuffle join on the Zipf-skewed term key
  would be the one to need skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import packing, text


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """``(term, term_id, count)`` — contiguous ids ``0..V-1`` assigned by
    (count desc, term asc), so id order is deterministic, ties are
    broken on the term string, and the most frequent term is id 0.

    ``min_count`` drops rare terms before ranking. The prefix-sum ranking
    holds no persisted state, so the result needs no cleanup.
    """
    counts = (
        df.select(F.explode(text.word_ngrams(text_col, 1)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )
    # global rank without a global window: exclusive prefix sum of 1s in
    # (count desc, term) order == the 0-based row number
    keyed = counts.select(
        "term",
        "count",
        F.struct((-F.col("count")).alias("nc"), F.col("term").alias("t")).alias(
            "_vkey"
        ),
        F.lit(1).alias("_one"),
    )
    ranked = packing.exclusive_prefix_sum(keyed, "_vkey", "_one", out_col="term_id")
    return ranked.select(
        "term", F.col("term_id").cast("bigint").alias("term_id"), "count"
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
    out_col: str = "token_ids",
) -> DataFrame:
    """Encode each document as token ids: ``(id, token_ids, n_tokens,
    n_unk)`` with ``token_ids`` in original token order and every
    out-of-vocabulary token mapped to ``unk_id``.

    One row per input document — empty/blank docs come out as
    ``([], 0, 0)`` rather than vanishing (``posexplode_outer`` keeps
    them through the explode, so no join back onto the corpus is
    needed).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(text.word_ngrams(text_col, 1)).alias("pos", "term"),
    )
    v = F.broadcast(vocab.select("term", "term_id"))
    enc = toks.join(v, "term", "left").select(
        id_col,
        "pos",
        F.coalesce("term_id", F.lit(unk_id)).cast("bigint").alias("tid"),
    )
    # collect_list skips nulls, so the empty-doc marker row (pos NULL)
    # contributes nothing to the list or the counts but keeps the doc
    present = F.col("pos").isNotNull()
    return enc.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.when(present, F.struct("pos", "tid")))
            ),
            lambda s: s["tid"],
        ).alias(out_col),
        F.count("pos").alias("n_tokens"),
        F.sum(
            F.when(present & (F.col("tid") == unk_id), 1).otherwise(0)
        ).cast("bigint").alias("n_unk"),
    )
