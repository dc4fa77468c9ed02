"""Checkpoint/resume + lineage manifest tests (north rule: a killed job
resumes without recomputing finished partitions; per-partition lineage).

Fault injection: ``limit_parts`` stops the writer after K partitions,
simulating a kill mid-job. The resumed run must (a) skip all K committed
partitions, (b) finish the rest, (c) end with the exact same table a
single uninterrupted run produces.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sonata_neo4j_loader_spark.sinks import materialize as mat

N_BUCKETS = 8


def _triples(spark, n):
    # deterministic synthetic triple table with a map-typed props column
    return spark.range(0, n).select(
        F.concat(F.lit("neuron:P:"), F.col("id")).alias("subj"),
        F.lit("SYNAPSES_ONTO").alias("pred"),
        F.concat(F.lit("neuron:P:"), (F.col("id") * 7 % 500)).alias("obj"),
        F.create_map(
            F.lit("conductance"), (F.col("id") % 13).cast("double")
        ).alias("props"),
    )


@pytest.fixture(scope="module")
def triples_df(spark):
    return _triples(spark, 500).localCheckpoint()


def _sorted_rows(df):
    return sorted(
        (r.subj, r.pred, r.obj, tuple(sorted(r.props.items())))
        for r in df.collect()
    )


def test_full_write_then_noop_resume(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges")
    rep1 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert sorted(rep1.partitions_written) == list(range(N_BUCKETS))
    assert rep1.rows_written == 500

    # identical input -> every partition skipped, zero rows rewritten
    rep2 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert rep2.partitions_written == []
    assert sorted(rep2.partitions_skipped) == list(range(N_BUCKETS))
    assert rep2.rows_written == 0

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(triples_df)
    assert mat.verify_against_manifest(spark, path).count() == 0


def test_kill_and_resume_skips_finished_partitions(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_killed")
    # run 1 dies after committing 3 of 8 partitions
    rep1 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS, limit_parts=3)
    assert len(rep1.partitions_written) == 3
    # skipped means "fingerprint matched the manifest", not "not reached"
    assert rep1.partitions_skipped == []

    # resume: the 3 finished partitions are skipped, the 5 pending complete
    rep2 = mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    assert sorted(rep2.partitions_skipped) == sorted(rep1.partitions_written)
    assert len(rep2.partitions_written) == N_BUCKETS - 3
    assert set(rep2.partitions_written).isdisjoint(rep1.partitions_written)

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(triples_df)
    assert mat.verify_against_manifest(spark, path).count() == 0


def test_partial_table_is_invisible_until_committed(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_partial")
    mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS, limit_parts=2)
    # only the 2 committed partitions are readable (manifest-gated snapshot)
    out = mat.read_materialized(spark, path)
    committed = mat.committed_partitions(spark, path)
    expected = sum(r.row_count for r in committed.values())
    assert out.count() == expected < 500


def test_changed_input_invalidates_only_touched_partitions(spark, triples_df, tmp_path):
    path = str(tmp_path / "edges_changed")
    mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)

    changed = triples_df.withColumn(
        "props",
        F.when(
            F.col("subj") == "neuron:P:0",
            F.create_map(F.lit("conductance"), F.lit(99.0)),
        ).otherwise(F.col("props")),
    )
    # which bucket does the changed row live in?
    bucket = (
        mat.with_bucket(changed, ["subj", "obj"], N_BUCKETS)
        .where(F.col("subj") == "neuron:P:0")
        .select(mat.PART_COL)
        .collect()
    )
    touched = {r[mat.PART_COL] for r in bucket}

    rep = mat.materialize(changed, path, ["subj", "obj"], N_BUCKETS)
    assert set(rep.partitions_written) == touched
    assert len(rep.partitions_skipped) == N_BUCKETS - len(touched)

    out = mat.read_materialized(spark, path)
    assert _sorted_rows(out) == _sorted_rows(changed)


def test_input_evaluated_twice_cold_once_on_rerun(spark, tmp_path):
    """The commit decision is driver-side set logic over one fingerprint
    collect: a cold commit evaluates the input twice (fingerprints, then the
    write) and an unchanged re-run once (fingerprints only)."""
    evals = spark.sparkContext.accumulator(0)

    def bump(i):
        evals.add(1)
        return i

    n = 40
    tick = F.udf(bump, "long").asNondeterministic()
    # the counted column is the bucket key, so no pass can prune it away
    df = spark.range(0, n).withColumn("k", tick("id"))
    path = str(tmp_path / "counted")

    mat.materialize(df, path, ["k"], N_BUCKETS)
    assert evals.value == 2 * n

    evals.value = 0
    rep = mat.materialize(df, path, ["k"], N_BUCKETS)
    assert rep.partitions_written == []
    assert evals.value == n


def test_fingerprint_stable_across_partitioning(spark, triples_df):
    b1 = mat.partition_fingerprints(
        mat.with_bucket(triples_df.repartition(2), ["subj", "obj"], N_BUCKETS)
    )
    b2 = mat.partition_fingerprints(
        mat.with_bucket(triples_df.repartition(17, "obj"), ["subj", "obj"], N_BUCKETS)
    )
    assert sorted(map(tuple, b1.collect())) == sorted(map(tuple, b2.collect()))


def test_refresh_vacates_emptied_partitions(spark, tmp_path):
    """A bucket whose rows ALL disappear from the new input cannot be
    rewritten by dynamic overwrite (zero rows to write), so the refresh
    must manifest-tombstone it: stale rows vanish from reads, the audit
    stays clean, re-runs are idempotent, and a later repopulation
    fingerprint-mismatches the tombstone and rewrites the bucket."""
    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, payload string"
    )
    mat.materialize(v1, path, ["k"], num_buckets=4)

    bucketed = mat.with_bucket(v1, ["k"], 4)
    victim = bucketed.first()[mat.PART_COL]
    keep = bucketed.where(F.col(mat.PART_COL) != victim).drop(mat.PART_COL)

    rep = mat.materialize(keep, path, ["k"], num_buckets=4)
    assert rep.partitions_vacated == [victim]
    assert rep.partitions_written == []  # surviving buckets fingerprint-skip
    kept_keys = {r.k for r in keep.collect()}
    assert {r.k for r in mat.read_materialized(spark, path).collect()} == kept_keys
    assert mat.verify_against_manifest(spark, path).count() == 0

    # idempotent re-run: nothing re-tombstoned, nothing written
    rep2 = mat.materialize(keep, path, ["k"], num_buckets=4)
    assert rep2.partitions_vacated == [] and rep2.partitions_written == []

    # repopulating the bucket rewrites it past the tombstone
    rep3 = mat.materialize(v1, path, ["k"], num_buckets=4)
    assert rep3.partitions_written == [victim]
    assert {r.k for r in mat.read_materialized(spark, path).collect()} == set(range(40))
    assert mat.verify_against_manifest(spark, path).count() == 0


# (part, input_fingerprint, row_count) of the first 40 rows of the triple
# table at 8 buckets, as committed by the anti-join version of the sink.
# Resuming must keep matching them, or every table committed before the
# change would be rewritten from scratch.
FROZEN_MANIFEST = [
    (0, "-14354118194159953040", 5),
    (1, "608834203869406475", 4),
    (2, "3091054858677621871", 6),
    (3, "-19736775070617357972", 6),
    (4, "8386519990324772363", 1),
    (5, "-12354370361979041450", 5),
    (6, "-11603510020808720579", 7),
    (7, "4234187541074421051", 6),
]


def test_frozen_manifest_resumes_without_rewriting(spark, tmp_path):
    df = _triples(spark, 40)
    path = str(tmp_path / "frozen")
    mat.with_bucket(df, ["subj", "obj"], N_BUCKETS).write.partitionBy(mat.PART_COL).parquet(path)
    spark.createDataFrame(
        [(p, fp, n, 0, "triples", "frozen", 1) for p, fp, n in FROZEN_MANIFEST],
        mat.MANIFEST_SCHEMA,
    ).write.parquet(f"{path}/{mat.MANIFEST_DIR}")

    rep = mat.materialize(df, path, ["subj", "obj"], N_BUCKETS)
    assert rep.partitions_written == [] and rep.partitions_vacated == []
    assert rep.partitions_skipped == list(range(N_BUCKETS))
    assert _sorted_rows(mat.read_materialized(spark, path)) == _sorted_rows(df)
    assert mat.verify_against_manifest(spark, path).count() == 0

    # a cold commit today writes the same manifest rows, same schema
    fresh = str(tmp_path / "fresh")
    mat.materialize(df, fresh, ["subj", "obj"], N_BUCKETS)
    manifest = spark.read.parquet(f"{fresh}/{mat.MANIFEST_DIR}")
    # Parquet reads every column back nullable: compare names and types
    assert [(f.name, f.dataType) for f in manifest.schema] == [
        (f.name, f.dataType) for f in mat.MANIFEST_SCHEMA
    ]
    assert sorted(
        (r.part, r.input_fingerprint, r.row_count) for r in manifest.collect()
    ) == FROZEN_MANIFEST


def test_unreadable_manifest_raises_instead_of_recommitting(spark, tmp_path):
    """Only a missing manifest means "nothing committed"; a foreign file
    under ``_manifest`` must fail the commit, not restart it from seq 1."""
    path = tmp_path / "corrupt"
    (path / mat.MANIFEST_DIR).mkdir(parents=True)
    (path / mat.MANIFEST_DIR / "part-00000.parquet").write_text("not parquet\n")

    with pytest.raises(Exception):
        mat.materialize(_triples(spark, 40), str(path), ["subj", "obj"], N_BUCKETS)
    assert not any(p.name.startswith(f"{mat.PART_COL}=") for p in path.iterdir())


def test_cold_table_is_found_without_reading_the_manifest(spark, tmp_path, monkeypatch):
    """A read of the missing ``_manifest`` would log a FileNotFoundException
    trace before PATH_NOT_FOUND; a cold table must be decided without one."""
    from pyspark.sql import DataFrameReader

    def no_read(self, *paths):
        raise AssertionError(f"read {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert mat.committed_partitions(spark, str(tmp_path / "cold")) is None


def test_read_by_keys_scans_only_their_parts(spark, triples_df, tmp_path):
    import re

    path = str(tmp_path / "edges")
    mat.materialize(triples_df, path, ["subj", "obj"], N_BUCKETS)
    keys = triples_df.where(F.col("subj").isin("neuron:P:1", "neuron:P:2")).select(
        "subj", "obj"
    )
    parts = sorted(
        {r[mat.PART_COL] for r in mat.with_bucket(keys, ["subj", "obj"], N_BUCKETS).collect()}
    )
    assert 2 <= len(parts) < N_BUCKETS
    got = mat.read_materialized(spark, path, keys=keys, num_buckets=N_BUCKETS)

    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_filters = re.findall(r"FileScan[^\n]*PartitionFilters: \[([^\]]*)\]", plan)
    listed = [
        sorted(int(p) for p in m.split(","))
        for f in scan_filters
        for m in re.findall(rf"{mat.PART_COL}#\d+ IN \(([^)]*)\)", f)
    ]
    assert listed == [parts], plan
    full = mat.with_bucket(mat.read_materialized(spark, path), ["subj", "obj"], N_BUCKETS)
    want = full.where(F.col(mat.PART_COL).isin(parts)).drop(mat.PART_COL)
    assert _sorted_rows(got) == _sorted_rows(want)
