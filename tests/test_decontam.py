from __future__ import annotations

from sonata_neo4j_loader_spark.operators import decontam


def _frames(spark):
    train = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today"),  # shares 4-gram with eval
            (2, "dogs bark loudly at night"),  # clean
            (3, "THE CAT SAT ON something else"),  # case-insensitive hit
            (4, "cat sat on"),  # < n tokens: no grams, clean
        ],
        "doc_id bigint, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "yesterday the cat sat on a rug")],
        "doc_id bigint, text string",
    )
    return train, eval_df


def test_contamination_report(spark):
    train, eval_df = _frames(spark)
    got = {
        r.doc_id: r.n_hits
        for r in decontam.contamination_report(train, eval_df, n=4).collect()
    }
    # doc 1: "the cat sat on" + "cat sat on the"? eval has "the cat sat on"
    # and "cat sat on a" -> only the first matches; doc 3 lowercases into
    # the same "the cat sat on"
    assert got == {1: 1, 3: 1}


def test_duplicate_grams_count_once(spark):
    train = spark.createDataFrame(
        [(1, "a b a b a b")], "doc_id bigint, text string"
    )
    eval_df = spark.createDataFrame([(9, "a b a b")], "doc_id bigint, text string")
    got = decontam.contamination_report(train, eval_df, n=2).collect()
    # doc 1's distinct 2-grams {a b, b a}; eval's {a b, b a} -> 2 hits,
    # not one per occurrence
    assert {(r.doc_id, r.n_hits) for r in got} == {(1, 2)}


def test_eval_side_broadcasts_and_single_shuffle(spark):
    # the corpus-scale gram stream must be probed map-side against a
    # broadcast eval gram set; the only hash exchange is the final
    # per-doc combine
    train, eval_df = _frames(spark)
    plan = (
        decontam.contamination_report(train, eval_df, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # two hash exchanges total: the eval-side gram distinct (EVAL-sized,
    # inside the BroadcastExchange build) and the final per-doc combine —
    # the train gram stream itself is never exchanged before the join
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.index("BroadcastExchange") < plan.rindex(
        "Exchange hashpartitioning"
    ), plan
