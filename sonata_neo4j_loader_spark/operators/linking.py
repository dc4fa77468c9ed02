"""Stage 3 — entity linking against a canonical dictionary.

Joins mention surfaces to ``canonical_entities(surface, entity_id,
entity_type)``. Unlinked mentions are dropped (precision: noise text never
reaches the graph). Two strategies:

* ``broadcast`` (default) — the dictionary is a dimension table; Catalyst
  plans a broadcast hash join, no shuffle of the (huge) mention side.
* ``salted`` — for dictionaries too large to broadcast, a sort-merge join
  would be skewed by hot surface forms (a handful of mtype labels appear
  in a large fraction of all documents — Zipfian). App-level salting
  (SURVEY.md §4 custom item 1): mentions get a deterministic salt in
  [0, K), the dictionary is exploded ×K, and the join key becomes
  (surface, salt) — hot keys spread over K reducers. Deterministic
  (xxhash64 of doc_id+surface), so results are identical across runs and
  parallelism levels.

Both strategies return identical rows (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# K of the salted strategy: a hot surface form spreads over K reducers
SALT_BUCKETS = 8


def link_mentions(
    mentions: DataFrame, entities: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """mentions(..., surface) ⋈ entities -> mentions + (entity_id, entity_type)."""
    if strategy == "broadcast":
        return mentions.join(F.broadcast(entities), "surface", "inner")
    if strategy == "salted":
        salted_mentions = mentions.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("surface")), F.lit(SALT_BUCKETS)).cast(
                "int"
            ),
        )
        salted_entities = entities.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
        )
        return salted_mentions.join(
            salted_entities, ["surface", "_salt"], "inner"
        ).drop("_salt")
    raise ValueError(f"unknown strategy: {strategy}")


def link_columns(
    df: DataFrame,
    entities: DataFrame,
    columns: dict[str, str],
    strategy: str = "broadcast",
) -> DataFrame:
    """Link each ``surface_col`` of ``columns`` ({surface_col: id_col}) via
    :func:`link_mentions`: the surface column is replaced by ``id_col``
    (its canonical entity id); rows with any unlinked surface are dropped."""
    for surface_col, id_col in columns.items():
        df = (
            link_mentions(df.withColumnRenamed(surface_col, "surface"), entities, strategy)
            .withColumnRenamed("entity_id", id_col)
            .drop("surface", "entity_type")
        )
    return df


def link_surfaces(
    surfaces: DataFrame, entities: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """distinct surfaces(surface) ⋈ entities. A distinct set has no hot keys
    to split (nor a ``doc_id`` to salt with): ``salted`` is a plain join."""
    if strategy == "broadcast":
        entities = F.broadcast(entities)
    return surfaces.join(entities, "surface", "inner")
