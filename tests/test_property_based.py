"""Property-based checks (hypothesis): randomized inputs vs independent
pure-Python oracles.

* connected components (the distributed star-contraction path) against a
  from-scratch union-find on random graphs — shapes no hand-picked fixture
  covers (SURVEY.md §5: the golden layer the reference lacks);
* the per-row span-sequence invariant through ``parse_documents`` (the
  frame ``build_triples`` audits) on randomly ordered span arrays;
* the as-of join and binned range join against brute-force python
  re-derivations on random timestamp layouts (ties, duplicates, empty
  sides, sub-gap clusters).

Few examples, real Spark jobs each — keep max_examples small.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sonata_neo4j_loader_spark.operators import canonicalize, parse

_NODES = [f"n{i:02d}" for i in range(12)]

edge_lists = st.lists(
    st.tuples(st.sampled_from(_NODES), st.sampled_from(_NODES)),
    min_size=1,
    max_size=24,
)


def _union_find_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comps: dict[str, list[str]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    out = {}
    for members in comps.values():
        canon = min(members)
        for m in members:
            out[m] = canon
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists)
def test_distributed_cc_matches_union_find(spark, edges):
    want = _union_find_components(edges)
    df = spark.createDataFrame(edges, "alias_a string, alias_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in canonicalize.connected_components(df, strategy="distributed").collect()
    }
    assert got == want


span_kinds = st.sampled_from(["text", "media"])
span_lists = st.lists(
    st.tuples(span_kinds, st.text(alphabet="ab c", max_size=6)),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(span_lists, min_size=1, max_size=5), data=st.data())
def test_span_invariant_through_reassembly(spark, docs, data):
    rows = []
    for i, spans in enumerate(docs):
        seq = [
            {
                "kind": k,
                "text": t if k == "text" else "",
                "media_ref": t if k == "media" else "",
                "offset": off,
            }
            for off, (k, t) in enumerate(spans)
        ]
        stored = data.draw(st.permutations(seq))  # storage order is arbitrary
        rows.append((f"doc-{i}", stored))
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    documents = spark.createDataFrame(rows, schema)
    parsed = parse.parse_documents(documents).select("doc_id", "spans")
    assert parse.audit_span_invariant(documents, parsed).count() == 0


# ---------------------------------------------------------------------------
# temporal joins vs brute force
# ---------------------------------------------------------------------------

_EPOCH = 1_700_000_000  # any fixed base; values are second offsets from it

lefts = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000)),  # (key, ts_sec)
    min_size=1,
    max_size=15,
)
rights = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
    min_size=0,
    max_size=15,
)


def _to_ts(sec: int):
    from datetime import datetime, timedelta

    return datetime(2024, 1, 1) + timedelta(seconds=sec)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lefts=lefts, rights=rights)
def test_asof_join_matches_brute_force(spark, lefts, rights):
    from sonata_neo4j_loader_spark.operators import temporal

    # RAW rights go in — duplicate (key, ts) rows included — so the
    # documented largest-payload tie discipline is exercised, not masked;
    # the brute-force expectation applies the same max-payload reduce
    best: dict[tuple[int, int], int] = {}
    for k, t, p in rights:
        best[(k, t)] = max(best.get((k, t), -1), p)

    left_df = spark.createDataFrame(
        [(i, k, _to_ts(t)) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, ts timestamp",
    )
    right_df = spark.createDataFrame(
        [(k, _to_ts(t), p) for k, t, p in rights] or [(0, _to_ts(0), 0)],
        "k long, rts timestamp, payload long",
    )
    if not rights:
        right_df = right_df.where("k < 0")  # genuinely empty right side

    got = {
        r.lid: (r.asof_ts, r.payload)
        for r in temporal.asof_join(
            left_df, right_df, "k", "ts", "rts", ["payload"]
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [(rt, p) for (rk, rt), p in best.items() if rk == k and rt <= t]
        want = max(cands) if cands else None
        if want is None:
            assert got[i] == (None, None), i
        else:
            assert got[i] == (_to_ts(want[0]), want[1]), i


intervals = st.lists(
    st.tuples(st.integers(0, 1000), st.integers(1, 500)),  # (start, length)
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(facts=st.lists(st.integers(0, 1600), min_size=1, max_size=20), ivs=intervals)
def test_range_join_matches_brute_force(spark, facts, ivs):
    from sonata_neo4j_loader_spark.operators import temporal

    facts_df = spark.createDataFrame(
        [(i, _to_ts(t)) for i, t in enumerate(facts)], "fid long, t timestamp"
    )
    iv_df = spark.createDataFrame(
        [(j, _to_ts(s), _to_ts(s + n)) for j, (s, n) in enumerate(ivs)],
        "ivid long, s timestamp, e timestamp",
    )
    got = sorted(
        (r.fid, r.ivid)
        for r in temporal.range_join_binned(
            facts_df, iv_df, "t", "s", "e", bin_seconds=97  # awkward width
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, t in enumerate(facts)
        for j, (s, n) in enumerate(ivs)
        if s <= t < s + n
    )
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lefts=lefts, rights=rights)
def test_bucketed_asof_matches_plain(spark, lefts, rights):
    """The skew-proof two-phase as-of must be output-identical to the
    plain union+window form — tiny buckets force the cross-bucket seed
    path on nearly every example."""
    from sonata_neo4j_loader_spark.operators import temporal

    left_df = spark.createDataFrame(
        [(i, k, _to_ts(t)) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, ts timestamp",
    )
    # RAW rights — (key, ts) duplicate payloads exercise the shared
    # largest-payload tie discipline in BOTH variants
    right_df = spark.createDataFrame(
        [(k, _to_ts(t), p) for k, t, p in rights] or [(0, _to_ts(0), 0)],
        "k long, rts timestamp, payload long",
    )
    if not rights:
        right_df = right_df.where("k < 0")

    plain = {
        r.lid: (r.asof_ts, r.payload)
        for r in temporal.asof_join(
            left_df, right_df, "k", "ts", "rts", ["payload"]
        ).collect()
    }
    bucketed = {
        r.lid: (r.asof_ts, r.payload)
        for r in temporal.asof_join_bucketed(
            left_df, right_df, "k", "ts", "rts", ["payload"], bucket_seconds=97
        ).collect()
    }
    assert bucketed == plain


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcdez ", min_size=0, max_size=12),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.2, 0.34, 0.5, 0.75, 0.9, 1.0]),
)
def test_ngram_prefix_filter_matches_brute_force(spark, texts, threshold):
    """Prefix-filtered inverted-index Jaccard == all-pairs brute force for
    ANY corpus and any threshold in (0, 1] — the losslessness lemma, probed
    on random shapes (empty docs, duplicates, whitespace runs, tiny
    alphabets with extreme document frequencies) no fixture hand-picks."""
    import itertools

    from sonata_neo4j_loader_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            df, shingle_k=1, threshold=threshold
        ).collect()
    }

    # brute force over k=1 shingle semantics: distinct chars of the
    # lowercased whitespace-collapsed text; an empty normalization yields
    # the single empty-string shingle (shingle_expr's n<k branch)
    def shingles(t: str) -> set:
        norm = " ".join(t.lower().split())
        return set(norm) if norm else {""}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        j = round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
        if j >= threshold:
            want.add((a, b, j))
    assert got == want


# --- distributed prefix sum / packing vs a pure-Python scan -----------------

token_lists = st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=60)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens=token_lists, budget=st.integers(min_value=1, max_value=500))
def test_packing_matches_python_scan(spark, tokens, budget):
    from sonata_neo4j_loader_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens int"
    )
    got = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in packing.packed_documents(docs, budget, num_partitions=3).collect()
    }
    prefix = 0
    for i, t in enumerate(tokens):
        assert got[i] == (prefix // budget, prefix % budget), (i, tokens, budget)
        prefix += t


# --- stream-stream interval join vs a brute-force python join ---------------

event_sets = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # user
        st.integers(min_value=0, max_value=5000),  # seconds offset
    ),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(clicks=event_sets, purchases=event_sets)
def test_stream_join_matches_brute_force(spark, clicks, purchases, tmp_path_factory):
    from datetime import datetime, timedelta

    from sonata_neo4j_loader_spark.streaming import joins as streaming_joins

    base = datetime(2024, 6, 1)
    window_s = 600
    c_rows = [(base + timedelta(seconds=s), u, i) for i, (u, s) in enumerate(clicks)]
    p_rows = [
        (base + timedelta(seconds=s), u, 1000 + i)
        for i, (u, s) in enumerate(purchases)
    ]
    want = sorted(
        (cu, cid, pid)
        for (ct, cu, cid) in c_rows
        for (pt, pu, pid) in p_rows
        if cu == pu and ct < pt <= ct + timedelta(seconds=window_s)
    )
    tmp = tmp_path_factory.mktemp("sj_prop")
    schema = "event_time timestamp, user_id long, event_id long"
    spark.createDataFrame(c_rows or [], schema).write.mode("overwrite").parquet(
        str(tmp / "c")
    )
    spark.createDataFrame(p_rows or [], schema).write.mode("overwrite").parquet(
        str(tmp / "p")
    )
    streaming_joins.run_attribution_to_parquet(
        spark, str(tmp / "c"), str(tmp / "p"), str(tmp / "sink"), str(tmp / "ckpt"),
        window=f"{window_s} seconds",
    )
    got = sorted(
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.read.parquet(str(tmp / "sink")).collect()
    )
    assert got == want
