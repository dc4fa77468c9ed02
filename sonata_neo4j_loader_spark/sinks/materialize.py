"""Stage 6 — materialize node/edge tables with per-partition lineage + resume.

Replaces the reference's destructive Bolt write path (``clear_database`` +
chunked ``UNWIND``/``MERGE`` round-trips — ``circuit/circuit_loader.py:30``,
``:45-48``, ``neo4j_operations.py:323-420``) with an idempotent, resumable
distributed write:

* the output table is **hash-bucketed** into ``part=0..N-1`` Parquet
  partitions (bucket = ``pmod(xxhash64(key_cols), N)``) — deterministic, so
  the same input row always lands in the same partition regardless of
  cluster size or task scheduling;
* each committed partition gets a **lineage manifest row**
  ``(part, input_fingerprint, row_count, wall_ms, stage, run_id)`` stored
  under ``<table>/_manifest``.  The manifest is the commit record: data
  files without a manifest row are invisible to :func:`read_materialized`
  and are simply overwritten on retry — the same visibility rule an Iceberg
  snapshot provides (this sandbox has no Iceberg runtime jar, so
  bucketed-Parquet + manifest is the documented stand-in; swapping the
  physical writer for ``df.writeTo(...).append()`` keeps every other line
  unchanged);
* **resume** = recompute per-partition input fingerprints (one map-side
  combined aggregation) and skip every partition whose manifest row already
  carries the same fingerprint.  A killed job therefore never recomputes or
  rewrites finished partitions, and a *changed input* invalidates exactly
  the partitions it touches.

Scale posture: the commit decision costs ONE fingerprint collect (a
single ``groupBy(part)`` partial+final hash aggregation, at most
``num_buckets`` rows) and ONE manifest collect; pending, skipped, vacated
and the next commit sequence are then plain set logic on the driver. The
write is ONE Spark job covering all pending partitions via dynamic
partition overwrite — never a driver-side loop of per-partition jobs. So
the input is evaluated once on an unchanged re-run and twice on a cold
commit (fingerprints, then the write).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PART_COL = "part"
MANIFEST_DIR = "_manifest"

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField(PART_COL, T.IntegerType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("committed_seq", T.LongType(), False),
    ]
)


@dataclass
class MaterializeReport:
    """Count audit ≙ the reference's ``log_entity_count`` decorator
    (neo4j_operations.py:10-57): entities before/after per write."""

    table_path: str
    stage: str
    run_id: str
    partitions_written: list[int]
    partitions_skipped: list[int]
    rows_written: int
    wall_ms: int
    # committed partitions the NEW input no longer populates at all:
    # manifest-tombstoned (row_count 0) so their stale files become
    # invisible to read_materialized — dynamic overwrite alone cannot
    # rewrite a partition it has zero rows for
    partitions_vacated: list[int] = field(default_factory=list)


def _fingerprint_col(df: DataFrame) -> F.Column:
    """Order-independent content hash of a row, stable across parallelism.

    Map columns can't be hashed by xxhash64 directly -> JSON-encode them
    (sorted map keys via to_json are deterministic for our small prop maps).
    Column order is pinned by name so schema-equal frames hash equally.
    """
    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        if field.name == PART_COL:
            continue
        c = F.col(field.name)
        if isinstance(field.dataType, T.MapType):
            # map key order is unspecified -> sort entries before hashing
            c = F.to_json(F.map_from_entries(F.array_sort(F.map_entries(c))))
        cols.append(c)
    return F.xxhash64(*cols)


def with_bucket(df: DataFrame, key_cols: list[str], num_buckets: int) -> DataFrame:
    """Deterministic hash bucket on the entity key (≙ the reference's
    uniqueness-constraint key, scripts/load_circuit.py:30-36)."""
    return df.withColumn(
        PART_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int"),
    )


def partition_fingerprints(bucketed: DataFrame) -> DataFrame:
    """(part, input_fingerprint, row_count) — one partial+final hash agg.

    SUM of per-row xxhash64 (as decimal(38,0), overflow-free) is
    commutative, so the fingerprint is identical at local[8] and local[32]
    and under any shuffle order.
    """
    return bucketed.groupBy(PART_COL).agg(
        F.sum(_fingerprint_col(bucketed).cast("decimal(38,0)"))
        .cast("string")
        .alias("input_fingerprint"),
        F.count(F.lit(1)).alias("row_count"),
    )


def _manifest_path(table_path: str) -> str:
    return f"{table_path}/{MANIFEST_DIR}"


def committed_partitions(spark: SparkSession, table_path: str) -> dict[int, Row] | None:
    """Latest manifest row per partition (highest committed_seq wins —
    ≙ Iceberg's current-snapshot view of a partition), or ``None`` before
    the first commit.

    Only a missing manifest means "nothing committed": any other read
    failure (a corrupt or foreign file under ``_manifest``) is raised, never
    mistaken for a cold table that would be re-committed from seq 1.

    A cold table is found with Hadoop's ``FileSystem.exists`` (the session's
    Hadoop conf, so any scheme Spark reads), not by reading: Spark's reader
    logs a WARN and a full ``FileNotFoundException`` trace for a missing
    path before it raises ``PATH_NOT_FOUND``. That error stays caught for a
    manifest deleted between the check and the read.
    """
    path = _manifest_path(table_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()).exists(jpath):
        return None
    try:
        rows = spark.read.schema(MANIFEST_SCHEMA).parquet(path).collect()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    return {r[PART_COL]: r for r in sorted(rows, key=lambda r: r["committed_seq"])}


def materialize(
    df: DataFrame,
    table_path: str,
    key_cols: list[str],
    num_buckets: int = 64,
    stage: str = "triples",
    limit_parts: int | None = None,
) -> MaterializeReport:
    """Write ``df`` bucketed by ``key_cols``; skip already-committed partitions.

    ``limit_parts`` is a fault-injection hook for the kill-and-resume test:
    commit at most that many pending partitions, then stop (simulating a
    job killed mid-write).
    """
    spark = df.sparkSession
    run_id = uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    bucketed = with_bucket(df, key_cols, num_buckets)
    # both dicts hold at most num_buckets entries: the commit decision
    # below is plain set logic on the driver
    fresh = {r[PART_COL]: r for r in partition_fingerprints(bucketed).collect()}
    done = committed_partitions(spark, table_path) or {}

    # a partition is done iff its committed fingerprint matches the
    # fingerprint of *today's* input for that partition
    skipped = sorted(
        p for p, r in fresh.items()
        if p in done and done[p]["input_fingerprint"] == r["input_fingerprint"]
    )
    pending_ids = sorted(fresh.keys() - set(skipped))[:limit_parts]
    # committed partitions ABSENT from the new input: dynamic overwrite can
    # only replace partitions it has rows for, so an emptied bucket keeps
    # its stale files — tombstone it in the manifest (row_count 0) instead;
    # read_materialized and the audit treat it as invisible, and a later
    # input that repopulates the bucket fingerprint-mismatches the
    # tombstone and rewrites it. row_count > 0 keeps re-runs idempotent
    # (never re-tombstone).
    vacated_ids = sorted(p for p, r in done.items() if r["row_count"] > 0 and p not in fresh)
    next_seq = max((r["committed_seq"] for r in done.values()), default=0) + 1

    rows_written = 0
    if pending_ids:
        to_write = bucketed.where(F.col(PART_COL).isin(pending_ids))
        # ONE job for every pending partition; dynamic overwrite replaces
        # only the partitions present in `to_write` (retry-safe: a partition
        # half-written by a killed run is fully replaced, never appended to)
        (
            to_write.write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(PART_COL)
            .mode("overwrite")
            .parquet(table_path)
        )
        rows_written = sum(fresh[p]["row_count"] for p in pending_ids)

    wall_ms = int((time.monotonic() - t0) * 1000)
    manifest_rows = [
        (
            p,
            fresh[p]["input_fingerprint"],
            fresh[p]["row_count"],
            wall_ms,
            stage,
            run_id,
            next_seq,
        )
        for p in pending_ids
    ] + [
        (p, "<vacated>", 0, wall_ms, stage, run_id, next_seq)
        for p in vacated_ids
    ]
    if manifest_rows:
        # the manifest append IS the commit point: written data only becomes
        # visible once its manifest rows land (and a vacated partition's
        # stale files only become INvisible once the tombstone lands)
        spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(_manifest_path(table_path))

    return MaterializeReport(
        table_path=table_path,
        stage=stage,
        run_id=run_id,
        partitions_written=pending_ids,
        partitions_skipped=skipped,
        rows_written=rows_written,
        wall_ms=int((time.monotonic() - t0) * 1000),
        partitions_vacated=vacated_ids,
    )


def read_materialized(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Read only *visible* partitions — THE visibility rule of the sink.

    A partition is visible iff its latest manifest row commits rows (a
    vacated partition, tombstoned with row_count 0, still has stale files
    on disk and stays invisible). With ``keys`` — the caller's probe rows,
    holding the table's key columns in its ``key_cols`` order, and the
    ``num_buckets`` the table was written with — only the visible
    partitions those rows hash to are read: the sink's own
    :func:`with_bucket` maps them to partition ids (one collect of at most
    ``num_buckets`` ids), so a probe costs its key footprint, not the
    table. Either way the filter is `part IN (...)` over the bucket
    column, which Spark prunes at the file listing — other partition dirs
    are never scanned.
    """
    done = committed_partitions(spark, table_path)
    if done is None:
        raise FileNotFoundError(f"no manifest at {table_path}")
    parts = {p for p, r in done.items() if r["row_count"] > 0}
    if keys is not None:
        if num_buckets is None:
            raise ValueError("reading by keys needs the table's num_buckets")
        probed = with_bucket(keys, keys.columns, num_buckets).select(PART_COL)
        parts &= {r[PART_COL] for r in probed.distinct().collect()}
    df = spark.read.parquet(table_path)
    return df.where(F.col(PART_COL).isin(sorted(parts))).drop(PART_COL)


def verify_against_manifest(spark: SparkSession, table_path: str) -> DataFrame:
    """Audit: recount committed data per partition vs manifest row_count.

    Returns the partitions whose physical row count disagrees with the
    manifest (should always be empty; ≙ the reference's before/after
    count logging, neo4j_operations.py:10-57).
    """
    done = committed_partitions(spark, table_path)
    if done is None:
        raise FileNotFoundError(f"no manifest at {table_path}")
    # tombstoned partitions are not visible, so their (dead) on-disk files
    # are not drift — audit only the partitions a read would return
    expected = spark.createDataFrame(
        [(p, r["row_count"]) for p, r in done.items() if r["row_count"] > 0],
        T.StructType([MANIFEST_SCHEMA[PART_COL], MANIFEST_SCHEMA["row_count"]]),
    )
    actual = (
        spark.read.parquet(table_path)
        .groupBy(PART_COL)
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return (
        expected.join(actual, PART_COL, "left")
        .where(
            F.col("actual_rows").isNull() | (F.col("actual_rows") != F.col("row_count"))
        )
    )
