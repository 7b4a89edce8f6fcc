"""Tracing for the benchmark's traced run.

Spans come only from the benchmark's side: it times its own calls into
each layer and wraps the public methods of the objects it holds (the
builder's catalog, the builder, ``operators.upsert.append_run``). No
engine code changes. Spark job and stage metrics come from each
operation's job group, through ``statusTracker()`` and the local UI
REST API; Python kernel time comes from Spark's UDF profiler dump.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import pstats
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.

    ``active`` switches recording off for the untraced operations that
    the traced run interleaves to measure its own overhead."""

    def __init__(self, enabled: bool) -> None:
        self.active = enabled
        self.op: str | None = None
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str,
             annotate: Callable[..., None] | None = None) -> None:
        """Replace ``owner.attr`` with a spanned version of itself.
        ``annotate(rec, out, *args, **kwargs)`` adds counts to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and annotate is not None:
                    annotate(rec, out, *args, **kwargs)
            return out

        setattr(owner, attr, traced)

    # -- analysis -----------------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        return kids

    def subtree(self, root: dict, kids: dict[int, list[dict]]) -> list[dict]:
        out, todo = [], list(kids.get(root["id"], []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def self_time_table(self) -> list[dict[str, Any]]:
        """Per span name: calls, total seconds and self seconds, where a
        span's self time is its duration minus the part of it that its
        child spans cover."""
        kids = self.children()
        agg: dict[str, dict[str, Any]] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            )
            row = agg.setdefault(
                s["name"], {"span": s["name"], "calls": 0, "total_s": 0.0,
                            "self_s": 0.0}
            )
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
        return sorted(agg.values(), key=lambda r: -r["self_s"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _rest_time(stamp: str) -> float:
    return dt.datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkJobs:
    """Job groups per operation; with ``rest`` on, per-group job and
    stage metrics from the UI REST API (the UI runs in traced runs only)."""

    STAGE_SUMS = {
        "task_run_s": ("executorRunTime", 1e-3),
        "task_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "input_bytes": ("inputBytes", 1),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spill_bytes": ("diskBytesSpilled", 1),
        "tasks": ("numCompleteTasks", 1),
    }

    def __init__(self, spark, rest: bool) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            if rest else None
        )

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def metrics(self, group: str) -> dict[str, float]:
        """Summed job/stage metrics of one group, plus ``spark_s``: the
        length of the union of its job intervals."""
        ids = self.job_ids(group)
        out = {"jobs": len(ids), "stages": 0, "spark_s": 0.0,
               **{k: 0.0 for k in self.STAGE_SUMS}}
        if not ids or self.base is None:
            return out
        jobs = [self._await_job(j) for j in ids]
        out["spark_s"] = _union_length(
            [(_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
             for j in jobs]
        )
        for stage_id in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{stage_id}"):
                if att["status"] != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                for key, (field, scale) in self.STAGE_SUMS.items():
                    out[key] += att.get(field, 0) * scale
        return out

    def _await_job(self, job_id: int) -> dict:
        # the UI store is fed by an asynchronous listener bus: wait until
        # it has seen the job end before reading its metrics
        deadline = time.monotonic() + 30
        while True:
            job = self._get(f"/jobs/{job_id}")
            if job["status"] != "RUNNING" and "completionTime" in job:
                return job
            if time.monotonic() > deadline:
                raise TimeoutError(f"job {job_id} never completed in the UI")
            time.sleep(0.05)


#: UDF function name in the profiler dump → kernel metric name
KERNELS = {
    "gen": "kernel.decode_score_s",  # _bucketed_contribs' scoring kernel
    "reduce_topk": "kernel.reduce_topk_s",
    "_pack_partition": "kernel.pack_partition_s",
    "number": "kernel.assign_ords_s",  # assign_doc_ords' numbering kernel
}


def kernel_seconds(spark, dump_dir: str) -> dict[str, float]:
    """Cumulative seconds per engine kernel over every UDF the profiler
    saw, read from ``spark.profile.dump`` with pstats."""
    spark.profile.dump(dump_dir)
    out = {name: 0.0 for name in KERNELS.values()}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for (filename, _, func), row in pstats.Stats(path).stats.items():
            # workers see the pickled kernels' file by its base name
            if func in KERNELS and os.path.basename(filename) == "build.py":
                out[KERNELS[func]] += row[3]
    return out
