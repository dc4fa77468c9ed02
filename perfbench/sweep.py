"""Run the benchmark over several seeds and summarize, or compare two sweeps.

    python3 perfbench/sweep.py --tag base-a --seeds 1-10
    python3 perfbench/sweep.py --tag base-a-traced --seeds 1-2 --trace 1
    python3 perfbench/sweep.py --compare perfbench/results/a.json perfbench/results/b.json

A sweep runs ``BENCHMARK.json``'s command once per (workload, seed), one
process at a time, and writes ``perfbench/results/<tag>.json``: every run's
result line and full record (seed, input fingerprints, environment, checks),
and per workload and metric the median, quartiles and spread (interquartile
distance / median), from ``statistics.quantiles(values, n=4)``.
``--compare`` prints, per workload and end-to-end metric, how far the second
sweep's median moved against the first's and whether that stays within the
metric's bound. Given an untraced and a traced sweep, it compares the
untraced medians with the end-to-end values the traced runs recorded for
themselves: the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def run_sweep(args, spec: dict) -> dict:
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = []
    for seed in seeds(args.seeds):
        for w in workloads:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            record = json.loads(lines[-2]) if len(lines) > 1 and lines[-2].startswith("{") else None
            if record:
                checks = record.pop("checks")
                record["checks"] = {"run": len(checks),
                                    "failed": [c["name"] for c in checks if not c["ok"]]}
            runs.append({"workload": w, "seed": seed, "trace": args.trace, "exit": p.returncode,
                         "wall_s": wall, "result": result, "record": record})
            print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s "
                  f"{json.dumps(result['metrics'] if result else p.stderr[-400:])}", flush=True)
    summary: dict = {}
    for w in workloads:
        rs = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        summary[w] = {m: summarize([r["metrics"][m]["value"] for r in rs])
                      for m in (rs[0]["metrics"] if rs else {})}
        summary[w]["_correct"] = all(r["correct"] for r in rs) and len(rs) == len(
            [r for r in runs if r["workload"] == w])
    return {"tag": args.tag, "command": spec["command"], "run_seconds": spec["run_seconds"],
            "trace": args.trace, "runs": runs, "summary": summary}


def traced_e2e(sweep: dict) -> dict:
    """A traced sweep's own end-to-end values, summarized like a sweep."""
    out: dict = {}
    for r in sweep["runs"]:
        for m, v in (r["record"] or {}).get("end_to_end", {}).items():
            out.setdefault(r["workload"], {}).setdefault(m, []).append(v)
    return {w: {m: summarize(vs) for m, vs in ms.items()} for w, ms in out.items()}


def compare(a_path: str, b_path: str, spec: dict) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if b["trace"] and not a["trace"]:
        # same seeds on both sides: the untraced runs of the traced seeds
        seeds_b = {r["seed"] for r in b["runs"]}
        a["summary"] = {w: {m: summarize([r["result"]["metrics"][m]["value"]
                                          for r in a["runs"] if r["workload"] == w
                                          and r["seed"] in seeds_b and r["result"]])
                            for m in ms if not m.startswith("_")}
                        for w, ms in a["summary"].items()}
        b["summary"] = traced_e2e(b)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worst = 0
    for w, metrics in a["summary"].items():
        for m, sa in metrics.items():
            sb = b["summary"].get(w, {}).get(m)
            if m.startswith("_") or sb is None:
                continue
            rel = (sb["median"] - sa["median"]) / sa["median"] if sa["median"] else 0.0
            info = bounds.get(m)
            worse = rel if info and info["better"] == "lower" else -rel
            flag = ""
            if info:
                flag = "ok" if worse <= info["bound"] else "WORSE THAN BOUND"
                worst |= flag != "ok"
            print(f"{w:10s} {m:40s} {sa['median']:14.4f} -> {sb['median']:14.4f} "
                  f"({rel:+.2%}) spread {sa['spread'] or 0:.3f}/{sb['spread'] or 0:.3f} {flag}")
    return 1 if worst else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tag")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.compare:
        return compare(*args.compare, spec)
    out = run_sweep(args, spec)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    for w, ms in out["summary"].items():
        for m, s in ms.items():
            if not m.startswith("_"):
                print(f"{w:10s} {m:40s} median {s['median']:.4f} spread {s['spread'] or 0:.3f}")
    print(path)
    return 0 if all(s["_correct"] for s in out["summary"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
