"""Stage 4 — canonicalization via connected components over alias edges.

Surface-form variants link to *variant* entity ids (``neuron:nodea:0``);
``alias_edges(alias_a, alias_b)`` assert equivalences. Connected
components resolve every variant to its cluster's lexicographically
smallest member (FIXTURES.md §3) — the canonical id.

Algorithm: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) expressed as DataFrame joins — O(log n) rounds on pathological
graphs, 1-2 rounds on real alias graphs (shallow stars). Each round
``localCheckpoint``s to truncate lineage (SURVEY.md §4 custom item 2);
convergence is detected with a cheap order-insensitive edge-set
fingerprint instead of a full subtract.

The reference has no canonicalization (its keys arrive clean from HDF5);
the uniqueness constraint it declares on ``(Neuron.id, population_name)``
(``scripts/load_circuit.py:30-32``) is what cluster-canonical ids enforce
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fingerprint(edges: DataFrame) -> int:
    # decimal(38,0) sum: overflow-proof under ANSI mode (Spark 4 default)
    row = edges.select(
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return hash((row["fp"], row["n"]))


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u to min(N(u) ∪ {u})."""
    pointed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = pointed.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    nbrs = pointed.union(pointed.select(F.col("u"), F.col("u").alias("v"))).distinct()
    return (
        nbrs.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


#: below this many alias edges the mapping is broadcast-dimension-sized
#: (apply_canonical_mapping broadcasts it anyway) and a driver-side
#: union-find beats ~7 shuffle stages/round of the star algorithm.
#: r06 (guide §5 — the driver should do almost no data work): lowered
#: 5M → 500K. The old bound let "auto" pull a ~100+ MB pandas frame and
#: run a 5M-element single-core union-find on a possibly small driver;
#: 500K keeps the probe ~10 MB while still covering every realistic
#: broadcastable alias set.
LOCAL_CC_MAX_EDGES = 500_000

#: bound on star-contraction rounds: real alias graphs converge in 1-2,
#: and O(log n) rounds cover any graph this engine would see
MAX_STAR_ROUNDS = 20


def _local_union_find(spark, us, vs, id_type: T.DataType) -> DataFrame:
    """Driver-side DSU with path compression over a *dimension-sized* edge set.

    Scale contract: only invoked when the alias set fits the broadcast
    budget — the very same budget `apply_canonical_mapping` already
    requires to broadcast the resulting mapping. Corpus-sized data never
    takes this path (see `connected_components` strategy='auto').
    Duplicate edges are harmless to DSU, so no distinct pass is needed.

    ``id_type`` is the INPUT edge column type: the mapping must come back
    with the same dtype as the distributed path preserves, or a caller
    joining it against the original ids forces a lossy coercion (string
    vs bigint joins compare as double — ids above 2^53 collide).
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(us, vs):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    members = set(us) | set(vs)
    rows = [(m, find(m)) for m in sorted(members)]
    schema = T.StructType(
        [
            T.StructField("entity_id", id_type, False),
            T.StructField("canonical_id", id_type, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def connected_components(
    alias_edges: DataFrame,
    a_col: str = "alias_a",
    b_col: str = "alias_b",
    strategy: str = "auto",
) -> DataFrame:
    """alias edges -> (entity_id, canonical_id) for every non-isolated node.

    ``canonical_id`` is the min member of the node's component. Isolated
    nodes (no alias) simply never appear — callers coalesce to identity.

    ``strategy``: 'auto' counts the edges and runs the driver union-find
    when there are at most ``LOCAL_CC_MAX_EDGES`` of them (≙ Spark's own
    broadcast-vs-SMJ threshold decision), else the alternating-star
    contraction; 'distributed' always runs the contraction (any scale),
    for at most ``MAX_STAR_ROUNDS`` rounds. Both paths return identical
    mappings (tested). Any other value raises ``ValueError``.
    """
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown connected_components strategy: {strategy!r}")
    raw = alias_edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).where(
        F.col("u") != F.col("v")
    )
    if strategy == "auto":
        # single size-probe job: fetch at most MAX+1 edges; a full count is
        # never needed to decide the path
        probe = raw.limit(LOCAL_CC_MAX_EDGES + 1).toPandas()
        if len(probe) <= LOCAL_CC_MAX_EDGES:
            return _local_union_find(
                raw.sparkSession,
                probe["u"].tolist(),
                probe["v"].tolist(),
                raw.schema["u"].dataType,
            )
    edges = raw.distinct().localCheckpoint(eager=True)
    prev_fp = None
    for _ in range(MAX_STAR_ROUNDS):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        fp = _fingerprint(edges)
        if fp == prev_fp:
            break
        prev_fp = fp
    # After convergence the edge set is a union of stars pointing at the
    # component minimum; one final grouping makes that explicit.
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("canonical_id")).select(
        F.col("u").alias("entity_id"), "canonical_id"
    )


def apply_canonical_mapping(
    df: DataFrame, mapping: DataFrame, col: str = "entity_id"
) -> DataFrame:
    """Rewrite ``col`` to its canonical id (identity when unmapped).

    The mapping is tiny relative to the data (alias clusters only) —
    broadcast left join, no shuffle of ``df``.
    """
    m = mapping.select(
        F.col("entity_id").alias("__alias"), F.col("canonical_id").alias("__canon")
    )
    return (
        df.join(F.broadcast(m), df[col] == m["__alias"], "left")
        .withColumn(col, F.coalesce("__canon", col))
        .drop("__alias", "__canon")
    )
