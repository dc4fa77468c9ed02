"""Capture .explain('formatted') for queries into plans/r06/<name>_<tag>.txt.

Usage: python tools/capture_plans.py <tag> [query ...]
  tag      = 'before' | 'after' (file suffix)
  queries  = names from __spark_entry__.queries(), or ``entry`` for the
             flagship KG query; default = bench HEADLINE plus the
             cold-minhash build.

Next to each formatted plan it writes ``<name>_<tag>.optimized.txt``: the
optimized logical plan with expression ids (``#12``, ``#12L``),
``plan_id=N`` and lambda variable numbers (``lambda x_12``) stripped. Those
numbers differ between processes even for an identical plan (lambda
variables are numbered by a session-wide counter, so any lambda built
earlier shifts them), so two checkouts' stripped plans compare with ``diff``.

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) with the same
session config bench.py uses, so plan shapes match the measured runs.
"""

from __future__ import annotations

import os
import re
import sys

# repo-relative so a worktree capture imports the WORKTREE's code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from sonata_neo4j_loader_spark.operators import dedup  # noqa: E402
from sonata_neo4j_loader_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_unshipped_orders",
    "q5_nation_revenue",
    "q16_supplier_variety",
    "q18_large_orders",
    "q21_late_sole_suppliers",
    "top_orders_per_customer",
    "events_sessions",
    "text_stats",
    "dedup_exact_groups",
    "minhash_near_dups",
    "ann_brute_topk",
    "ngram_jaccard_near_dups",
    "packed_docs",
]


def cold_minhash(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.6)


def normalized_optimized_plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"(lambda x_)\d+", r"\1", plan)
    return re.sub(r"plan_id=\d+", "", re.sub(r"#\d+L?", "", plan))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.sql.files.maxPartitionBytes": "8m"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name == "entry":
            df = entry_mod.entry(spark)
        elif name == "minhash_near_dups":
            df = cold_minhash(spark, sf_dir)
        else:
            df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        with open(os.path.join(out_dir, f"{name}_{tag}.optimized.txt"), "w") as f:
            f.write(normalized_optimized_plan(df))


if __name__ == "__main__":
    main()
