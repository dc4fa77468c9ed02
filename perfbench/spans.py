"""In-memory spans around the benchmark's calls into the program.

A span records its name, start, end, parent span and the trace id of the
pass it belongs to, plus the Spark jobs, stages and tasks that ran inside
it. Job counts come from outside the program: each span sets its own job
group, and the span's jobs are read back with
``statusTracker().getJobIdsForGroup`` when it closes (the parent's group is
restored, so a parent's own jobs exclude its children's). Spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; yields the span record (callers may add counts)."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            **attrs,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(spark_counts(self.sc, self.sc.statusTracker().getJobIdsForGroup(group)))

    def totals(self, rec: dict) -> dict:
        """Jobs/stages/tasks of a span including all of its descendants."""
        out = {k: rec.get(k, 0) for k in ("jobs", "stages", "tasks")}
        for child in self.spans:
            if child["parent"] == rec["id"]:
                for k, v in self.totals(child).items():
                    out[k] += v
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it covered by child spans."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {
                **s,
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def spark_counts(sc, job_ids) -> dict:
    """Jobs, stages that ran tasks, and tasks completed for ``job_ids``."""
    st = sc.statusTracker()
    stages = tasks = 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}
