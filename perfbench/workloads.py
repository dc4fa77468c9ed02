"""The workloads, their correctness checks and the isolated per-layer profile.

Each workload generates its inputs before the session starts (untimed),
warms up as part of set-up, then measures for the requested seconds. Every
output it times is checked afterwards, outside the timed region, and each
check counts as one operation in ``attempted``/``failed``.

Timed operations are measured in wall time and in CPU seconds of the
driver JVM plus this process (``Bench.timer``). The end-to-end metrics use
CPU seconds: the machines this runs on share their cores, and the time
stolen by other tenants moves wall times by 20-40% between runs while the
CPU a fixed amount of work takes moves by a few percent. The wall times
are kept in each run's record.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from spans import spark_counts

# Input sizes. On a 4-core box one KG pass is ~45 Spark jobs whatever the
# input size, so the inputs stay small and a run's cost is mostly JVM
# start-up, code generation and those jobs.
KG_BATCH = dict(n_docs=20_000, n_pops=8, per_pop=1000)
# a 16k-neuron dictionary (48k rows, 16k alias edges) against 1000-doc drops
KG_STREAM = dict(n_docs=40_000, n_pops=16, per_pop=1000, drops=40)
NEAR_DUP = dict(n_docs=600)
COMMIT_BUCKETS = 4
NEAR_DUP_THRESHOLD = 0.6
NEAR_DUP_WARMUP_PASSES = 5
# drains in kg_batch's traced streaming profile; the first one warms up
STREAM_PROFILE_DRAINS = 3


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(rows, order-independent content hash); map columns hashed as
    key-sorted JSON so equal multisets of rows hash equally."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if f.dataType.typeName() == "map":
            c = F.to_json(F.map_from_entries(F.array_sort(F.map_entries(c))))
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string").alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def percentile_tail(values: list[float]) -> dict:
    """Highest percentile that still has >= 10 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return {"value": xs[-1] if xs else None, "percentile": 100.0, "samples": n,
                "note": "fewer than 11 samples: maximum reported"}
    k = n - 11  # 10 samples lie strictly beyond index k
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 2), "samples": n}


def _canonical_neuron(surface: F.Column) -> F.Column:
    # "pop003#12" / "Pop003#12" -> "neuron:Pop003:12": the alias edges map
    # every lowercase form onto its capitalised one
    return F.concat(F.lit("neuron:"),
                    F.regexp_replace(F.regexp_replace(surface, "^pop", "Pop"), "#", ":"))


def expected_triples(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The generator's grammar read back with plain string functions:
    (attribute triples as a set, synapse triples as a multiset). An oracle
    independent of the program's parse/extract/link/canonicalize code."""
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", F.col("s.text").alias("t"), F.col("s.media_ref").alias("m"))
    node = spans.where(F.col("doc_id").startswith("node-"))
    subj = node.where(F.col("t").startswith("neuron ")).select(
        "doc_id", _canonical_neuron(F.substring_index("t", " ", -1)).alias("subj"))
    word = F.substring_index("t", " ", 1)
    value = F.substring_index("t", " ", -1)
    pred = (F.when(word == "mtype", "HAS_MTYPE").when(word == "etype", "HAS_ETYPE")
            .when(word == "sclass", "HAS_SCLASS").when(word == "population", "BELONGS_TO")
            .when(F.col("m").startswith("morph://"), "HAS_MORPHOLOGY"))
    obj = (F.when(word == "population",
                  F.concat(F.lit("pop:"), F.regexp_replace(value, "^pop", "Pop")))
           .when(F.col("m").startswith("morph://"),
                 F.concat(F.lit("morphology:"), F.substring_index("m", "//", -1)))
           .otherwise(F.concat(word, F.lit(":"), value)))
    attr = (node.select("doc_id", pred.alias("pred"), obj.alias("obj"))
            .where(F.col("pred").isNotNull())
            .join(subj, "doc_id").select("subj", "pred", "obj").distinct())
    syn = spans.where(F.col("t").startswith("synapse ")).select(
        _canonical_neuron(F.regexp_extract("t", r"^synapse (\S+) -> ", 1)).alias("subj"),
        F.lit("SYNAPSES_ONTO").alias("pred"),
        _canonical_neuron(F.regexp_extract("t", r" -> (\S+)$", 1)).alias("obj"))
    return attr, syn


class Workload:
    """Shared scaffolding: ``b`` is the run context from ``run.py``."""

    docs_per_op = 0
    # the end-to-end figures are taken over this many timed operations, the
    # first ones after warm-up, so every run measures the same point of the
    # JVM's warm-up curve however many more fit in ``seconds``
    ops_measured = 1

    def __init__(self, b) -> None:
        self.b = b
        self.spark = b.spark
        self.timed: list = []

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inp["dir"], name))

    def measure(self, seconds: float) -> None:
        """Closed loop: passes back to back until ``seconds`` have elapsed."""
        t0 = time.perf_counter()
        n = 0
        while n < self.ops_measured or time.perf_counter() - t0 < seconds:
            self.b.trace_id = f"pass-{n}"
            before = persistent_rdds(self.spark)
            self.run_pass(n)
            self.spark.catalog.clearCache()
            self.b.check("cache.persistent_rdds_restored", persistent_rdds(self.spark) == before,
                         {"before": before, "after": persistent_rdds(self.spark)})
            n += 1

    def e2e(self) -> dict:
        cpu = statistics.median(t.cpu for t in self.timed[:self.ops_measured])
        return {"docs_per_cpu_s": self.docs_per_op / cpu}

    def details(self) -> dict:
        wall = statistics.median(t.wall for t in self.timed[:self.ops_measured])
        return {"ops": len(self.timed), "op_wall_s": wall,
                "op_cpu_s": statistics.median(t.cpu for t in self.timed[:self.ops_measured]),
                "docs_per_s": self.docs_per_op / wall}

    def fixture_gate(self) -> None:
        from sonata_neo4j_loader_spark.datagen import documents as dg
        from sonata_neo4j_loader_spark.plans import pipeline

        s = self.spark
        out = pipeline.build_triples(s, dg.fixture_documents(s), dg.fixture_entities(s),
                                     dg.fixture_alias_edges(s))
        force(pipeline.all_plain_triples(out))
        got = (out["attribute_triples"].count(), out["synapse_triples"].count(),
               out["invariant_violations"].count())
        self.b.check("setup.fixture_golden", got == (25, 16, 0), {"attr_syn_violations": got})
        s.catalog.clearCache()


# ---------------------------------------------------------------------------
# kg_batch
# ---------------------------------------------------------------------------


class KgBatch(Workload):
    sizes = KG_BATCH

    def inputs(self) -> dict:
        self.inp = gen.kg_corpus(self.b.data, self.b.seed, **self.sizes)
        self.docs_per_op = self.inp["rows"]["documents"]
        return self.inp

    def warmup(self) -> None:
        self.fixture_gate()

    def build(self) -> dict:
        from sonata_neo4j_loader_spark.plans import pipeline

        with self.b.span("pipeline.plan"):
            return pipeline.build_triples(self.spark, self.read("documents"),
                                          self.read("entities"), self.read("aliases"))

    def run_pass(self, n: int) -> None:
        from sonata_neo4j_loader_spark.plans import pipeline

        b = self.b
        with b.span("pass") as sp, b.timer("pass") as t:
            out = self.build()
            with b.span("pipeline.action"):
                force(pipeline.all_plain_triples(out))
        self.timed.append(t)
        if n == 0:
            # exact sets against the grammar; their row counts against the
            # generator's closed form (5 per neuron, one per edge document)
            exp = self.inp["expected"]
            want_attr, want_syn = expected_triples(self.read("documents"))
            for name, df, want in (("attribute", out["attribute_triples"], want_attr),
                                   ("synapse", out["synapse_triples"], want_syn)):
                g, w = fingerprint(df.select("subj", "pred", "obj")), fingerprint(want)
                b.check(f"kg_batch.{name}_triples_equal_grammar", g == w, {"got": g, "want": w})
                b.check(f"kg_batch.{name}_triples_closed_form", g[0] == exp[f"{name}_triples"],
                        {"got": g[0], "expected": exp[f"{name}_triples"]})
        # identical across passes, and across runs on the same inputs: the
        # first run of a seed leaves its fingerprint beside the inputs
        fp = list(fingerprint(pipeline.all_plain_triples(out)))
        path = os.path.join(self.inp["dir"], "triples_fingerprint.json")
        if not os.path.exists(path):
            with open(path + f".{os.getpid()}", "w") as f:
                json.dump(fp, f)
            os.replace(path + f".{os.getpid()}", path)
        with open(path) as f:
            first = json.load(f)
        b.check("kg_batch.fingerprint_stable", fp == first, {"pass": n, "fingerprint": fp})
        if sp is not None:
            b.notes.setdefault("pass_counts", []).append(b.tracer.totals(sp))
            if n == 0:
                # the sink's profile commits this pass's cached outputs
                b.trace_id = "commit"
                self.sink = materialize_profile(self, out)

    def layers(self) -> dict:
        """pipeline.* from the pass, every layer alone, the sink, and a
        short streaming profile on the kg_stream inputs of the same seed."""
        m = pipeline_span_metrics(self.b)
        m.update(pipeline_layers(self.b, self))
        m.update(self.sink)
        stream = KgStream(self.b)
        stream.inputs()
        root = os.path.dirname(os.path.dirname(self.b.data))
        self.b.notes["stream_inputs"] = {**stream.inp,
                                         "dir": os.path.relpath(stream.inp["dir"], root)}
        stream.warmup()
        for _ in range(STREAM_PROFILE_DRAINS - 1):
            stream.step()
        stream.verify()
        m.update(stream.stream_metrics())
        return m


def pipeline_span_metrics(b) -> dict:
    """pipeline.* from the traced passes' spans."""
    t = b.tracer
    plans, actions = t.find("pipeline.plan"), t.find("pipeline.action")
    counts = t.totals(t.find("pass")[-1])
    return {
        "pipeline.plan_s": statistics.median(s["end"] - s["start"] for s in plans),
        "pipeline.action_s": statistics.median(s["end"] - s["start"] for s in actions),
        "pipeline.jobs": counts["jobs"],
        "pipeline.stages": counts["stages"],
        "pipeline.tasks": counts["tasks"],
    }


def pipeline_layers(b, w: Workload) -> dict:
    """Time each layer alone: its input is the previous layer's output,
    persisted and materialized before the clock starts, with every other
    cached frame released, and each timed call forced to the noop sink."""
    from sonata_neo4j_loader_spark.operators import (
        aggregate, canonicalize, linking, mentions, parse, sampling, triples,
    )

    spark = w.spark
    held: list[DataFrame] = []

    def keep(df: DataFrame, *release: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        for r in release:
            r.unpersist(blocking=True)
            held.remove(r)
        held.append(df)
        return df

    def timed(name: str, df: DataFrame) -> float:
        with b.span(name):
            t0 = time.perf_counter()
            force(df)
            return time.perf_counter() - t0

    spark.catalog.clearCache()
    b.trace_id = "layers"
    m: dict[str, float] = {}
    docs = w.read("documents")
    m["scan.busy_s"] = timed("scan", docs)
    parsed_all = parse.parse_documents(docs)
    m["parse.busy_s"] = timed("parse", parsed_all)
    m["parse.docs_in"] = docs.count()
    parsed = keep(parsed_all.where(F.col("spans_valid")))
    m["parse.docs_invalid"] = m["parse.docs_in"] - parsed.count()

    m["mentions.busy_s"] = timed("mentions", mentions.extract_documents(parsed, impl="native"))
    extracted = keep(mentions.extract_documents(parsed, impl="native"), parsed)
    mention_rows = mentions.mentions_from_extracted(extracted)
    m["mentions.mentions_out"] = mention_rows.count()
    m["mentions.synapse_docs"] = extracted.where(F.col("synapse.src_surface").isNotNull()).count()
    m["mentions.docs_without_mention"] = extracted.where(
        F.coalesce(F.size("mentions"), F.lit(0)) == 0).count()

    aliases = keep(w.read("aliases"))
    with b.span("canonicalize"):
        t0 = time.perf_counter()
        mapping = canonicalize.connected_components(aliases)
        force(mapping)
        m["canonicalize.busy_s"] = time.perf_counter() - t0
    mapping = keep(mapping, aliases)
    m["canonicalize.alias_edges_in"] = w.read("aliases").count()
    m["canonicalize.components"] = mapping.select("canonical_id").distinct().count()
    entities = keep(canonicalize.apply_canonical_mapping(w.read("entities"), mapping, "entity_id"),
                    mapping)

    mention_rows = keep(mention_rows)
    m["linking.busy_s"] = timed("linking", linking.link_mentions(mention_rows, entities))
    linked = keep(linking.link_mentions(mention_rows, entities), mention_rows)
    m["linking.mentions_in"] = m["mentions.mentions_out"]
    m["linking.linked_out"] = linked.count()
    m["linking.link_yield"] = m["linking.linked_out"] / max(1, m["linking.mentions_in"])

    def link_as(df: DataFrame, surface: str, out: str) -> DataFrame:
        return linking.link_mentions(df.withColumnRenamed(surface, "surface"), entities) \
            .withColumnRenamed("entity_id", out).drop("surface", "entity_type")

    pairs = keep(link_as(link_as(mentions.attribute_pairs_from_extracted(extracted),
                                 "subj_surface", "subj"), "obj_surface", "obj"))
    syn_linked = keep(link_as(link_as(mentions.synapses_from_extracted(extracted),
                                      "src_surface", "src_id"), "tgt_surface", "tgt_id"))
    neurons = keep(triples.known_neurons(linked), linked, extracted)
    with b.span("triples"):
        t0 = time.perf_counter()
        with b.span("sampling"):
            sampled = sampling.sample_by_hash(neurons, "neuron_id", 1.0, 42)
            force(sampled)
        attr = triples.neuron_attribute_triples_from_pairs(pairs).join(
            F.broadcast(sampled.withColumnRenamed("neuron_id", "subj")), "subj", "left_semi")
        force(attr)
        syn = triples.synapse_triples(syn_linked, sampled, True)
        force(syn)
        m["triples.busy_s"] = time.perf_counter() - t0
    attr = keep(attr, pairs)
    syn = keep(syn, syn_linked, neurons)
    m["triples.attr_out"] = attr.count()
    m["triples.syn_out"] = syn.count()

    def groups(pred: str) -> DataFrame:
        return attr.where(F.col("pred") == pred).select(
            F.col("subj").alias("neuron_id"), F.col("obj").alias("group"))

    g_m, g_s = keep(groups("HAS_MTYPE")), keep(groups("HAS_SCLASS"))
    rich = aggregate.rich_aggregated_synapse_triples(syn, g_m, "MTYPE", True)
    plain = aggregate.aggregated_synapse_triples(syn, g_s, "SCLASS", True)
    with b.span("aggregate"):
        t0 = time.perf_counter()
        force(rich)
        force(plain)
        m["aggregate.busy_s"] = time.perf_counter() - t0
    m["aggregate.rows_out"] = rich.count() + plain.count()
    for df in list(held):
        df.unpersist(blocking=True)
    spark.catalog.clearCache()
    return m


# ---------------------------------------------------------------------------
# the sink: kg_commit and the materialize profile
# ---------------------------------------------------------------------------

# (table, key columns) exactly as pipeline.materialize_outputs commits them;
# the simulated kill commits the same frames through sinks.materialize
COMMIT_TABLES = {
    "nodes": ["entity_id"],
    "attribute_triples": ["subj"],
    "synapse_triples": ["subj", "obj"],
    "aggregate_triples": ["subj", "obj"],
}


def commit_frames(out: dict) -> dict[str, DataFrame]:
    aggs = out["aggregate_triples"]
    agg = aggs[0].select("subj", "pred", "obj")
    for a in aggs[1:]:
        agg = agg.unionByName(a.select("subj", "pred", "obj"))
    return {
        "nodes": out["nodes"],
        "attribute_triples": out["attribute_triples"],
        "synapse_triples": out["synapse_triples"].select("doc_id", "subj", "pred", "obj", "props"),
        "aggregate_triples": agg,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        if "_manifest" in root.split(os.sep):
            continue
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith(".") and not f.startswith("_"))
    return total


def check_committed(b, root: str, out: dict, label: str) -> None:
    """Every table reads back as the in-memory output; manifests are clean."""
    from sonata_neo4j_loader_spark.sinks import materialize as mat

    for t, df in commit_frames(out).items():
        got = fingerprint(mat.read_materialized(b.spark, f"{root}/{t}"))
        b.check(f"{label}.read_equals_output.{t}", got == fingerprint(df), {"read": got})
        drift = mat.verify_against_manifest(b.spark, f"{root}/{t}").count()
        b.check(f"{label}.manifest_clean.{t}", drift == 0, {"drift": drift})


def materialize_profile(w: Workload, out: dict) -> dict:
    """The sink alone: a pass's cached outputs committed into an empty root,
    then committed again into the same root, where every partition must be
    fingerprint-skipped."""
    from sonata_neo4j_loader_spark.plans import pipeline
    from sonata_neo4j_loader_spark.sinks import materialize as mat

    b = w.b
    root = os.path.join(b.run_dir, "profile-commit")
    with b.span("materialize") as sm:
        cold = pipeline.materialize_outputs(out, root, COMMIT_BUCKETS)
    with b.span("materialize.rerun") as sr:
        rerun = pipeline.materialize_outputs(out, root, COMMIT_BUCKETS)
    written = sum(len(r.partitions_written) for r in cold.values())
    skipped = sum(len(r.partitions_skipped) for r in rerun.values())
    b.check("materialize.rerun_skips_all",
            skipped == written and not any(r.partitions_written for r in rerun.values()),
            {"written": written, "skipped": skipped})
    # the full read-back gate is kg_commit's; here only the manifest audit
    for t in COMMIT_TABLES:
        drift = mat.verify_against_manifest(b.spark, f"{root}/{t}").count()
        b.check(f"materialize.manifest_clean.{t}", drift == 0, {"drift": drift})
    tot = b.tracer.totals(sm)
    m = {f"materialize.{t}.busy_s": r.wall_ms / 1000 for t, r in cold.items()}
    m.update({
        "materialize.rerun_s": sr["end"] - sr["start"],
        "materialize.jobs": tot["jobs"],
        "materialize.tasks": tot["tasks"],
        "materialize.partitions_written": written,
        "materialize.partitions_skipped": skipped,
        "materialize.rows_written": sum(r.rows_written for r in cold.values()),
        "materialize.bytes_written": dir_bytes(root),
        "materialize.skip_yield": skipped / max(1, written),
    })
    shutil.rmtree(root, ignore_errors=True)
    return m


class KgCommit(KgBatch):
    """Cold build + commit into an empty root, a simulated kill, and a
    fresh build + resume that must write exactly the missing half.

    Not in BENCHMARK.json: one cycle is two full builds and three commits,
    100+ s a run on a 4-core box, more than a listed workload can take.
    Run it by name.
    """

    def run_pass(self, n: int) -> None:
        from sonata_neo4j_loader_spark.plans import pipeline
        from sonata_neo4j_loader_spark.sinks import materialize as mat

        b, spark = self.b, self.spark
        cold = os.path.join(b.run_dir, f"commit-{n}", "cold")
        resumed = os.path.join(b.run_dir, f"commit-{n}", "resume")
        with b.span("commit.cold"), b.timer("commit.cold") as tc:
            out = self.build()
            with b.span("materialize"):
                cold_rep = pipeline.materialize_outputs(out, cold, COMMIT_BUCKETS)
        self.timed.append(tc)
        # the kill: every table of the cold build committed to half its buckets
        frames = commit_frames(out)
        killed = {t: mat.materialize(frames[t], f"{resumed}/{t}", keys, COMMIT_BUCKETS,
                                     stage=t, limit_parts=COMMIT_BUCKETS // 2)
                  for t, keys in COMMIT_TABLES.items()}
        spark.catalog.clearCache()
        with b.span("commit.resume"), b.timer("commit.resume") as tr:
            out = self.build()
            with b.span("materialize"):
                res_rep = pipeline.materialize_outputs(out, resumed, COMMIT_BUCKETS)
        for t in COMMIT_TABLES:
            missing = sorted(set(cold_rep[t].partitions_written)
                             - set(killed[t].partitions_written))
            b.check(f"kg_commit.resume_writes_missing.{t}",
                    sorted(res_rep[t].partitions_written) == missing
                    and sorted(res_rep[t].partitions_skipped)
                    == sorted(killed[t].partitions_written),
                    {"written": res_rep[t].partitions_written, "expected": missing})
        check_committed(b, resumed, out, "kg_commit")
        b.notes.setdefault("cycles", []).append({
            "commit_cold_s": tc.wall, "commit_resume_s": tr.wall, "resume_cpu_s": tr.cpu,
            "stored_bytes_per_triple": dir_bytes(cold)
            / sum(r.rows_written for r in cold_rep.values()),
        })
        shutil.rmtree(os.path.join(b.run_dir, f"commit-{n}"), ignore_errors=True)

    def details(self) -> dict:
        cycles = self.b.notes["cycles"]
        return {**super().details(),
                **{k: statistics.median(c[k] for c in cycles) for k in cycles[0]}}

    def layers(self) -> dict:
        """None of its own: kg_batch's traced run profiles the sink."""
        return {}


# ---------------------------------------------------------------------------
# kg_stream
# ---------------------------------------------------------------------------


class KgStream(Workload):
    """Closed loop of drops: land one drop file in the watched directory by
    rename, drain it with ``start_incremental_attribute_triples``, repeat.

    Each drain takes exactly one drop, so a drop's latency (landing to the
    end of the drain that committed it) is the drain time without queueing
    -- what an open loop with the interval well above the drain time gives,
    without the idle gaps. Not in BENCHMARK.json (a drain is ~40 Spark jobs
    and the first one compiles the whole path: a third listed workload would
    not fit the time all runs of the listed ones may take); kg_batch's
    traced run drains the same inputs. Run it by name.
    """

    ops_measured = 3

    def inputs(self) -> dict:
        self.inp = gen.kg_corpus(self.b.data, self.b.seed, **KG_STREAM)
        self.docs_per_op = self.inp["rows"]["documents"] // KG_STREAM["drops"]
        return self.inp

    def warmup(self) -> None:
        run = os.path.join(self.b.run_dir, "stream")
        self.watch = os.path.join(run, "watch")
        self.out_dir = os.path.join(run, "out")
        self.ckpt = os.path.join(run, "ckpt")
        os.makedirs(self.watch)
        shutil.copytree(os.path.join(self.inp["dir"], "drops"), os.path.join(run, "stage"))
        self.staged = sorted(os.path.join(run, "stage", f)
                             for f in os.listdir(os.path.join(run, "stage")))
        self.entities = self.read("entities").persist()
        self.entities.count()
        self.aliases = self.read("aliases")
        self.drains: list[dict] = []
        self.cached = persistent_rdds(self.spark)
        self.step()  # the first drop's drain compiles the path

    def processed_files(self) -> set[str]:
        """Files the streaming source has committed, from its checkpoint."""
        src = os.path.join(self.ckpt, "sources", "0")
        files: set[str] = set()
        for name in os.listdir(src) if os.path.isdir(src) else []:
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            with open(os.path.join(src, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        files.add(line.split('"path":"', 1)[1].split('"', 1)[0]
                                  .removeprefix("file://"))
        return files

    def step(self) -> None:
        """Land the next drop and drain it."""
        from sonata_neo4j_loader_spark.streaming import incremental

        b = self.b
        drop = os.path.join(self.watch, os.path.basename(self.staged[0]))
        done = set().union(*(d["files"] for d in self.drains))
        with b.span("streaming.drain") as sp, b.timer("drain") as t:
            os.rename(self.staged.pop(0), drop)
            q = incremental.start_incremental_attribute_triples(
                self.spark, self.watch, self.entities, self.aliases, self.out_dir, self.ckpt)
        counts = None
        if sp is not None:
            # the micro-batches run on the query's own thread, in a job
            # group named after its run id
            counts = b.tracer.totals(sp)
            sc = self.spark.sparkContext
            for k, v in spark_counts(sc, sc.statusTracker().getJobIdsForGroup(str(q.runId))).items():
                counts[k] += v
        self.drains.append({"drop": drop, "timer": t, "progress": q.recentProgress,
                            "counts": counts, "files": self.processed_files() - done})

    def measure(self, seconds: float) -> None:
        self.b.trace_id = "stream"
        t0 = time.perf_counter()
        while len(self.drains) <= self.ops_measured or time.perf_counter() - t0 < seconds:
            self.step()
        self.timed = [d["timer"] for d in self.drains[1:]]
        self.verify()

    def verify(self) -> None:
        from sonata_neo4j_loader_spark.streaming import incremental

        b = self.b
        b.check("cache.persistent_rdds_restored", persistent_rdds(self.spark) == self.cached,
                {"before": self.cached, "after": persistent_rdds(self.spark)})
        # each drain committed exactly its own drop, once
        b.check("kg_stream.each_drop_once", all(d["files"] == {d["drop"]} for d in self.drains),
                {"drains": len(self.drains)})
        docs = self.spark.read.parquet(*[d["drop"] for d in self.drains])
        got = fingerprint(incremental.read_incremental_triples(self.spark, self.out_dir))
        want = fingerprint(expected_triples(docs)[0])
        b.check("kg_stream.equals_grammar", got == want, {"stream": got, "want": want})
        self.docs = docs
        self.rows_appended = self.spark.read.parquet(self.out_dir).count()
        self.got = got

    def e2e(self) -> dict:
        ds = self.drains[1:1 + self.ops_measured]
        docs = sum(pq.ParquetFile(d["drop"]).metadata.num_rows for d in ds)
        return {"docs_per_cpu_s": docs / sum(d["timer"].cpu for d in ds)}

    def details(self) -> dict:
        lat = [t.wall for t in self.timed]
        return {**super().details(), "drop_latency_p50_s": statistics.median(lat),
                "drop_latency_tail": percentile_tail(lat)}

    def stream_metrics(self) -> dict:
        ds = self.drains[1:]

        def dur(key: str) -> float:
            return statistics.median(
                sum(p["durationMs"].get(key, 0) for p in d["progress"]) for d in ds)

        walls = [d["timer"].wall for d in ds]
        return {
            "streaming.drain_s": statistics.median(walls),
            "streaming.startup_s": statistics.median(w - dur("triggerExecution") / 1000
                                                     for w in walls),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.batches": statistics.median(len(d["progress"]) for d in ds),
            "streaming.rows_appended": self.rows_appended,
            "streaming.jobs": statistics.median(d["counts"]["jobs"] for d in ds),
        }

    def layers(self) -> dict:
        """The drains' metrics, the batch plan over the same docs (which
        must give the same attribute triples), and every layer alone."""
        from sonata_neo4j_loader_spark.plans import pipeline

        m = self.stream_metrics()
        out = pipeline.build_triples(self.spark, self.docs, self.read("entities"), self.aliases)
        batch = fingerprint(out["attribute_triples"].select("subj", "pred", "obj"))
        self.b.check("kg_stream.equals_batch", self.got == batch,
                     {"stream": self.got, "batch": batch})
        self.spark.catalog.clearCache()
        m.update(pipeline_layers(self.b, self))
        return m


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------


class NearDup(Workload):
    ops_measured = 3

    def inputs(self) -> dict:
        self.inp = gen.text_corpus(self.b.data, self.b.seed, **NEAR_DUP)
        self.docs_per_op = self.inp["rows"]["documents"]
        self.oracle = oracle_pairs(self.inp["dir"])
        return self.inp

    def frame(self) -> DataFrame:
        from sonata_neo4j_loader_spark.operators import dedup

        return dedup.minhash_near_duplicates(self.read("documents"), "doc_id", "text",
                                             threshold=NEAR_DUP_THRESHOLD)

    def warmup(self) -> None:
        # the JVM keeps compiling this plan for several passes: the CPU a
        # pass takes only levels off after about five
        for n in range(-NEAR_DUP_WARMUP_PASSES, 0):
            self.run_pass(n)
        self.timed.clear()

    def run_pass(self, n: int) -> None:
        # collect() forces the frame as the noop sink does; the pair set is
        # a few hundred rows, so every timed pass is also checked
        with self.b.span("dedup") as sp, self.b.timer("pass") as t:
            rows = self.frame().collect()
        self.timed.append(t)
        got = sorted((r["id_a"], r["id_b"], float(r["jaccard"])) for r in rows)
        self.b.check("near_dup.equals_exact_oracle", got == self.oracle,
                     {"pass": n, "pairs": len(got), "oracle_pairs": len(self.oracle)})
        self.pairs = len(got)
        if sp is not None and n >= 0:
            self.b.notes.setdefault("pass_counts", []).append(self.b.tracer.totals(sp))

    def layers(self) -> dict:
        from sonata_neo4j_loader_spark.operators import dedup

        b, spark = self.b, self.spark
        spark.catalog.clearCache()
        b.trace_id = "layers"
        docs = self.read("documents")
        post = dedup.banded_postings(docs, "doc_id", "text")
        with b.span("dedup.postings") as sp:
            t0 = time.perf_counter()
            force(post)
            postings_s = time.perf_counter() - t0
        post = post.persist()
        a = post.select("band", "bucket", F.col("_id").alias("id_a"))
        c = post.select("band", "bucket", F.col("_id").alias("id_b"))
        cands = a.join(c, ["band", "bucket"]).where(F.col("id_a") < F.col("id_b")) \
            .select("id_a", "id_b").distinct().count()
        post.unpersist(blocking=True)
        counts = b.notes["pass_counts"][-1]
        return {
            "dedup.postings_busy_s": postings_s,
            "dedup.busy_s": statistics.median(t.wall for t in self.timed),
            "dedup.pairs_out": self.pairs,
            "dedup.candidate_pairs": cands,
            "dedup.verify_yield": self.pairs / max(1, cands),
            "dedup.jobs": counts["jobs"],
            "dedup.tasks": counts["tasks"],
        }


def oracle_pairs(corpus_dir: str) -> list[tuple[int, int, float]]:
    """The registry's exact DuckDB pair set over the same parquet, cached
    next to the corpus."""
    cache = os.path.join(corpus_dir, "oracle_pairs.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return [tuple(p) for p in json.load(f)]
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    try:
        glob = os.path.join(corpus_dir, "documents", "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
        rows = con.execute(__spark_entry__.oracle_sql()["minhash_near_dups"]).fetchall()
    finally:
        con.close()
    pairs = sorted((int(a), int(b), float(j)) for a, b, j in rows)
    with open(cache + ".tmp", "w") as f:
        json.dump(pairs, f)
    os.rename(cache + ".tmp", cache)
    return pairs


WORKLOADS = {"kg_batch": KgBatch, "kg_commit": KgCommit, "kg_stream": KgStream, "near_dup": NearDup}
