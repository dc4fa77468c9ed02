"""KG-factory benchmark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Runs one workload against the package's public functions on
``local[<nproc>]`` and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is
the full record (seed, input row counts and fingerprints, environment,
every check, workload-specific details); the record is also written to
``perfbench/.data/results/`` and, with ``--trace 1``, the spans to
``perfbench/.data/traces/``. Exit code 1 on any failed check, 2 when the
package cannot be imported (for example in a directory holding only the
benchmark).

Workloads (inputs from ``--seed``, generated once per seed under
``perfbench/.data``; ``BENCHMARK.json`` lists the first two):

* ``kg_batch``  -- ``build_triples`` + the forced triple union to the noop
  sink; parse and extraction dominate. Warm-up: the fixture golden gate.
* ``near_dup``  -- ``minhash_near_duplicates`` (threshold 0.6), checked
  against the registry's exact DuckDB oracle. Warm-up: two passes.
* ``kg_commit`` -- cold ``build_triples`` + ``materialize_outputs`` into an
  empty root, a kill after half the buckets of every table, then a fresh
  build + ``materialize_outputs`` that must write exactly the missing half.
* ``kg_stream`` -- one drop file at a time renamed into a watched directory
  and drained by ``start_incremental_attribute_triples``.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s``: CPU seconds (driver JVM + this process) from session start
  through the end of the untimed warm-up; input generation and oracles
  are excluded. Its wall time is ``setup_wall_s`` in the record.
* ``docs_per_cpu_s``: documents per CPU second of the workload's timed
  operation (median over the run's operations): one pass (kg_batch,
  near_dup), the cold commit (kg_commit), one drain (kg_stream).
CPU seconds rather than wall time, because the cores are shared: see
``workloads.py``. Wall times (``op_wall_s``, ``docs_per_s``, drop latency,
commit and resume times) are in the record's ``details``, and
``peak_rss_mb`` (VmHWM of the driver JVM plus this process) in its
``end_to_end``: with the JVM sizing its heap by its own heuristics it moves
by 10-20% between runs, too much to carry a bound.

``--trace 1`` runs the workload with spans around every call into a layer,
then times each layer alone, and prints the per-layer metrics (0 for a layer
the workload does not exercise). The record of a traced run also holds its
own end-to-end values, so the tracing overhead is the difference from an
untraced run of the same seed (``sweep.py --compare`` reports it).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_seconds(pid: int | None) -> float:
    """User+system CPU of this process plus the JVM ``pid`` (if any)."""
    t = os.times()
    total = t.user + t.system
    if pid is not None:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def steal_seconds() -> float:
    """Host-wide CPU time stolen from this machine by the hypervisor."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class OpTimer:
    """Times one operation (wall, CPU, host steal) into ``bench.ops``."""

    def __init__(self, bench: "Bench", op: str) -> None:
        self.bench, self.op = bench, op

    def __enter__(self) -> "OpTimer":
        self.w0, self.c0 = time.perf_counter(), cpu_seconds(self.bench.jvm_pid)
        self.s0 = steal_seconds()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.w0
        self.cpu = cpu_seconds(self.bench.jvm_pid) - self.c0
        self.bench.ops.append({"op": self.op, "wall": self.wall, "cpu": self.cpu,
                               "steal": steal_seconds() - self.s0})


class Bench:
    """Run context handed to a workload: session, checks, spans, notes."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.data = DATA
        self.run_dir = os.path.join(DATA, "runs", f"{args.workload}-{os.getpid()}")
        self.checks: list[dict] = []
        self.notes: dict = {}
        self.tracer = None
        self.spark = None
        self.jvm_pid: int | None = None
        self.ops: list[dict] = []

    def timer(self, op: str) -> "OpTimer":
        return OpTimer(self, op)

    @property
    def trace_id(self) -> str:
        return self.tracer.trace_id if self.tracer else ""

    @trace_id.setter
    def trace_id(self, value: str) -> None:
        if self.tracer:
            self.tracer.trace_id = value

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def check(self, name: str, ok: bool, detail: dict) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def start_session(self, cpus: int):
        from sonata_neo4j_loader_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every temporary file inside the checkout: pyspark's gateway
        # hand-off (tempfile), Spark's local dirs, the JVM's tmpdir, and no
        # /tmp/hsperfdata file for the JVM's monitoring counters
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            # the same settings as bench.py's session
            shuffle_partitions=max(cpus, 16),
            extra_conf={
                "spark.sql.files.maxPartitionBytes": "8m",
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit.

        No ``gateway.shutdown()``: after a streaming query with
        ``foreachBatch`` it can block for good joining py4j's callback
        threads. Closing the JVM's stdin ends it, and ``main`` leaves
        through ``os._exit`` so no leftover py4j thread can hold the
        interpreter open.
        """
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def environment(spark, cpus: int) -> dict:
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "machine": platform.machine(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import sonata_neo4j_loader_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    spec = load_spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    b = Bench(args)
    shutil.rmtree(b.run_dir, ignore_errors=True)
    os.makedirs(b.run_dir)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace}
    e2e: dict = {}
    layers: dict = {}
    try:
        w = workloads.WORKLOADS[args.workload](b)
        t_gen = time.perf_counter()
        inputs = w.inputs()
        record["inputs"] = {**inputs, "dir": os.path.relpath(inputs["dir"], ROOT)}
        record["input_s"] = time.perf_counter() - t_gen

        t0, c0 = time.perf_counter(), cpu_seconds(None)
        spark = b.start_session(cpus)
        w.spark = spark
        if b.trace:
            b.tracer = Tracer(spark.sparkContext)
        w.warmup()
        e2e["setup_s"] = cpu_seconds(b.jvm_pid) - c0
        record["setup_wall_s"] = time.perf_counter() - t0
        record["environment"] = environment(spark, cpus)
        record["workload_sizes"] = {k: v for k, v in vars(workloads).items()
                                    if k.isupper() and isinstance(v, (int, float, dict))}

        w.measure(args.seconds)
        e2e.update(w.e2e())
        record["details"] = w.details()
        if b.trace:
            layers = w.layers()
    except Exception:
        traceback.print_exc()
        b.check("run.completed", False, {"error": traceback.format_exc(limit=3)})
    finally:
        rss = vm_hwm_mb("self")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            rss += vm_hwm_mb(proc.pid)
        e2e["peak_rss_mb"] = rss
        try:
            b.stop_session()
        finally:
            shutil.rmtree(b.run_dir, ignore_errors=True)

    failed = sum(not c["ok"] for c in b.checks)
    names = [m["name"] for m in spec["per_layer" if b.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = layers if b.trace else e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    record.update({"end_to_end": e2e, "per_layer": layers, "checks": b.checks,
                   "ops": b.ops, "notes": b.notes})
    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(DATA, "results", stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if b.tracer is not None:
        os.makedirs(os.path.join(DATA, "traces"), exist_ok=True)
        b.tracer.write(os.path.join(DATA, "traces", stamp + ".json"))
    correct = failed == 0 and all(n in values for n in names if not b.trace)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": correct, "attempted": max(1, len(b.checks)),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
