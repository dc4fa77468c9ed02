"""Simulation extension — spike sources and HAS_SPIKE triples.

Re-expresses the reference's simulation loaders (``simulation/
base_simulation_loader.py``, ``simulation/basic_simulation.py``) as
distributed reads + vectorized expressions:

* **campaign grid scan** ≙ ``load_spike_data`` (base_simulation_loader.py:
  40-63): a campaign config JSON declares a 2-D ``cell_frequency ×
  signal_frequency`` grid of data dirs, each holding a tab-separated
  ``out.dat`` of ``(spike_time, neuron_id)``. The reference loops the grid
  with ``pd.read_csv`` + concat on the driver; here each cell becomes one
  ``spark.read.csv`` tagged with its coordinates via ``lit`` columns,
  unioned — Spark parallelizes the file reads.
* **1-indexed -> 0-indexed shift** ≙ ``data["neuron_id"] -= 1``
  (base_simulation_loader.py:56).
* **distinct spikers** ≙ ``filter_spiked_neurons``
  (base_simulation_loader.py:65-66).
* **spike id mint** ≙ ``f"spike_{neuron_id}_{spike_time}"``
  (basic_simulation.py:33) — but vectorized (``format_string``), NOT the
  reference's per-row ``iterrows`` loop (banned by the north rule).
* **HAS_SPIKE triples** ≙ ``insert_spike_relationships`` Cypher
  (utils.py:84-96): MATCH neuron, MATCH spike, CREATE edge — here the
  neuron-existence inner join reproduces the MATCH drop semantics.

Reference defects deliberately NOT replicated (SURVEY.md §3.3): the
misaligned ``connecting_edges`` selection (base_simulation_loader.py:92-97)
and the same-spiked-ids-for-every-population bug (ibid. :70-79).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.populations import union_population_frames

SPIKE_SCHEMA = T.StructType(
    [
        T.StructField("spike_time", T.DoubleType(), True),
        T.StructField("neuron_id", T.LongType(), True),
    ]
)


def load_campaign_config(config_path: str) -> dict:
    """≙ ``load_config`` (base_simulation_loader.py:33-38): driver-side JSON.

    Expected shape (reference campaign config): ``attrs.target`` (node set),
    ``coords`` mapping dimension name -> list of values, ``data`` mapping
    flattened grid index -> data dir (relative to the config file).
    """
    with open(config_path) as f:
        cfg = json.load(f)
    base = os.path.dirname(os.path.abspath(config_path))
    cells = []
    coords = cfg.get("coords", {})
    dims = sorted(coords)
    data = cfg["data"]
    entries = data.items() if isinstance(data, dict) else enumerate(data)
    for idx, rel in entries:
        i = int(idx)
        cell = {"data_dir": os.path.join(base, rel)}
        stride = 1
        for d in reversed(dims):
            vals = coords[d]
            cell[d] = vals[(i // stride) % len(vals)]
            stride *= len(vals)
        cells.append(cell)
    return {"target": cfg.get("attrs", {}).get("target"), "cells": cells}


def read_spike_grid(spark: SparkSession, cells: list[dict]) -> DataFrame:
    """Grid of ``out.dat`` TSVs -> one spike DataFrame tagged with coords.

    ≙ the reference's per-cell ``pd.read_csv(sep="\\t", header=0)`` +
    driver concat (base_simulation_loader.py:50-63), including the
    1->0-indexed neuron id shift. One distributed read per grid cell;
    at real scale each cell dir holds many files and Spark splits them.
    """
    frames = []
    for cell in cells:
        path = os.path.join(cell["data_dir"], "out.dat")
        df = (
            spark.read.csv(path, sep="\t", header=True, schema=SPIKE_SCHEMA)
            .withColumn("neuron_id", F.col("neuron_id") - F.lit(1))
        )
        for k, v in cell.items():
            if k != "data_dir":
                df = df.withColumn(k, F.lit(v))
        frames.append(df)
    return union_population_frames(frames)


def distinct_spikers(spikes: DataFrame) -> DataFrame:
    """≙ ``filter_spiked_neurons`` (base_simulation_loader.py:65-66)."""
    return spikes.select("neuron_id").distinct()


def spike_nodes(spikes: DataFrame) -> DataFrame:
    """Mint deterministic spike ids; one node row per spike event.

    ≙ ``extract_spikes`` (basic_simulation.py:29-38) without the per-row
    ``iterrows`` loop: ``format_string`` runs JVM-side, whole-stage codegen.
    """
    return spikes.select(
        F.format_string(
            "spike_%d_%s", F.col("neuron_id"), F.col("spike_time").cast("string")
        ).alias("spike_id"),
        "neuron_id",
        "spike_time",
    )


def edges_between_spiked_neurons(
    edges: DataFrame,
    spikes: DataFrame,
    src_col: str = "subj",
    tgt_col: str = "obj",
) -> DataFrame:
    """End-to-end ≙ ``extract_edges_between_spiked_neurons``
    (base_simulation_loader.py:84-117): distinct spikers
    (``filter_spiked_neurons``, :65-66) → keep edges whose BOTH endpoints
    spiked (the isin-mask pair, :104) → dedupe on the endpoint pair
    (``drop_duplicates(subset=["source_node_id","target_node_id"])``, :106).

    The reference materializes the spiker set on the driver (a Python
    ``set``) — here it is two broadcast semi-joins.

    Note: when ``edges`` carries columns beyond the endpoint pair, the
    surviving row per pair is arbitrary (as in the reference, where pandas
    ``drop_duplicates`` keeps whichever row the file order put first);
    project to the endpoint pair before calling for deterministic output.
    """
    from ..operators.sampling import restrict_edges_to_neurons

    spikers = distinct_spikers(spikes)
    restricted = restrict_edges_to_neurons(edges, spikers, src_col, tgt_col)
    return restricted.dropDuplicates([src_col, tgt_col])


def has_spike_triples(spikes: DataFrame, neurons: DataFrame) -> DataFrame:
    """(neuron)-[:HAS_SPIKE]->(spike) with MATCH drop semantics.

    ≙ ``insert_spike_relationships`` (utils.py:84-96): spikes whose neuron
    is absent are silently dropped (Cypher MATCH), expressed as an inner
    join against the neuron table — broadcast when neurons are
    dimension-sized, else Catalyst picks SMJ with AQE skew handling.
    """
    nodes = spike_nodes(spikes)
    n = neurons.select(F.col("neuron_id").alias("subj"))
    return (
        nodes.join(F.broadcast(n), nodes["neuron_id"] == n["subj"], "inner")
        .select(
            "subj",
            F.lit("HAS_SPIKE").alias("pred"),
            F.col("spike_id").alias("obj"),
            "spike_time",
        )
    )
