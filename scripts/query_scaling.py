"""Controlled BM25 query-scaling measurement (N vs 4N cores).

Isolates QUERY scaling from build scaling and from cross-JVM state: one
JVM builds the packed index on tmpfs, then fresh child JVMs (local[4N],
local[N]) each run the identical 100-query batch against the SAME index
files. Efficiency = (T_N / T_4N) / 4.

Noise model (measured on this box, see BENCH/BASELINE.md): the dominant
"noise" is other tenants' memory-bus traffic — multiplicative,
minutes-scale swings (the same config measures 2-3x apart between
consecutive runs). Three defenses, all recorded in the artifact:

1. INTERLEAVED pairs with alternating order: each rep runs both levels
   back-to-back ((4N,N) on even reps, (N,4N) on odd), one warmup + one
   measured run per child — the shortest pair the workload allows, so
   both levels share a noise window; the per-pair ratio cancels the
   common factor and alternation cancels monotone drift.
2. A DRAM-bandwidth PROBE (numpy stream GB/s, ~1 s) before each child
   tags the noise window. The "quiet" estimator uses only pairs whose
   two probes both reach 80% of the session's best observed bandwidth;
   the all-pairs median is reported alongside for transparency.
3. WORK-CONSERVATION check from Spark's own metrics: each measured run
   reports the sum of task executorRunTime over its stages. If total
   task-time is level-independent (ratio ~1), the engine schedules the
   same work at both levels and wall-clock differences are scheduling +
   contention, not algorithmic divergence — the scaling claim then
   rests on walls from quiet windows only.

Usage:  python scripts/query_scaling.py            # full experiment
        (child mode: --child build|query CPUS, used internally)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CORES = int(os.environ.get("SPARK_GRAFT_SCALING_N", "4"))
N4_CORES = 4 * N_CORES
N_CONVS = int(os.environ.get("SPARK_GRAFT_QSCALE_CONVS", "150000"))
N_QUERIES = 100
ROOT = os.environ.get("SPARK_GRAFT_QSCALE_ROOT", "/dev/shm/qscale_idx")
PROBE_QUIET_FRAC = 0.8


_PROBE_BUFS = None


def mem_probe_gbps(n_bytes: int = 256 * 1024 * 1024) -> float:
    """Streaming DRAM bandwidth right now (GB/s): triad passes over
    PREALLOCATED, pre-touched float64 buffers (``np.add(a, b, out=c)``)
    — single-threaded, no allocation in the timed region. Fresh
    allocation must stay out of the loop: first-touch page-fault
    throughput on this VM intermittently drops to ~10 MB/s (measured: a
    512 MB ``np.ones`` triad took >75 s on an otherwise idle box), so a
    probe that allocates measures the fault path, not the bus. Best of
    2 passes (contention only ever slows a pass down)."""
    global _PROBE_BUFS
    import numpy as np

    n = n_bytes // 8
    if _PROBE_BUFS is None:
        a, b, c = np.ones(n), np.ones(n), np.zeros(n)
        c[:] = 1.0  # pre-touch every page of the output buffer
        _PROBE_BUFS = (a, b, c)
    a, b, c = _PROBE_BUFS
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        np.add(a, b, out=c)
        best = min(best, time.perf_counter() - t0)
    return round(3 * n * 8 / best / 1e9, 2)


def _stage_task_time_ms(spark, after_stage: int) -> tuple[int, int]:
    """(sum executorRunTime ms, max stage id) over completed stages with
    id > after_stage, from the local UI REST API."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages") as r:
        stages = json.loads(r.read())
    total = 0
    max_id = after_stage
    for s in stages:
        sid = s.get("stageId", -1)
        if sid > after_stage and s.get("status") == "COMPLETE":
            total += int(s.get("executorRunTime", 0))
            max_id = max(max_id, sid)
    return total, max_id


def child(mode: str, cpus: int) -> None:
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.session import get_spark
    from antidb_spark.synth import query_set, synth_transcripts

    spark = get_spark(
        master=f"local[{cpus}]", extra_conf={"spark.ui.enabled": "true"}
    )
    b = IndexBuilder(spark, ROOT)
    if mode == "build_timed":
        # build-scaling child: cache+materialize the corpus (untimed),
        # build into a FRESH work root, report wall + task-time
        import shutil as _sh
        import tempfile as _tmp

        t = synth_transcripts(spark, n_convs=N_CONVS).cache()
        n = t.count()
        root = _tmp.mkdtemp(prefix="qscale_build_", dir="/dev/shm")
        try:
            bb = IndexBuilder(spark, root)
            _, last = _stage_task_time_ms(spark, -1)  # exclude the count
            t0 = time.time()
            bb.build(t)
            wall = round(time.time() - t0, 2)
            task_ms, _ = _stage_task_time_ms(spark, last)
            print(json.dumps({
                "mode": "build_timed", "cpus": cpus, "n_turns": n,
                "seconds": wall,
                "task_time_s": round(task_ms / 1000, 2),
            }))
        finally:
            _sh.rmtree(root, ignore_errors=True)
    elif mode == "build":
        t = synth_transcripts(spark, n_convs=N_CONVS).cache()
        n = t.count()
        t0 = time.time()
        b.build(t)
        print(json.dumps({"mode": "build", "cpus": cpus, "n_turns": n,
                          "seconds": round(time.time() - t0, 2)}))
    else:
        qs = query_set(N_QUERIES)
        # block fan-out: at or under WARM_MAX_BLOCKS (a small
        # SPARK_GRAFT_QSCALE_CONVS) the batch runs on the driver, and
        # the two levels measure no Spark scaling at all
        fan_out = b._plan_queries(qs)["fan_out"]
        # warmup: JIT + page cache + builder metadata caches (discarded)
        t0 = time.time()
        b.query_batch(qs, k=10).count()
        warm_s = round(time.time() - t0, 2)
        _, last_stage = _stage_task_time_ms(spark, -1)
        t0 = time.time()
        b.query_batch(qs, k=10).count()
        meas_s = round(time.time() - t0, 2)
        task_ms, _ = _stage_task_time_ms(spark, last_stage)
        print(json.dumps({
            "mode": "query", "cpus": cpus, "seconds": meas_s,
            "warmup_s": warm_s, "task_time_s": round(task_ms / 1000, 2),
            "fan_out": fan_out,
        }))
    spark.stop()


def run_child(mode: str, cpus: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", mode, str(cpus)],
        capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.strip().startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"child {mode}@{cpus} failed:\n{proc.stderr[-2000:]}")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]))
        return
    import shutil
    import statistics

    # SPARK_GRAFT_QSCALE_MODE=build measures INDEX-BUILD scaling with
    # the same probe-tagged alternating-pair protocol (each child builds
    # into a fresh tmpfs root; the shared query index is not touched)
    child_mode = os.environ.get("SPARK_GRAFT_QSCALE_MODE", "query")
    keep = os.environ.get("SPARK_GRAFT_QSCALE_KEEP") == "1"
    if child_mode == "build":
        b = {"n_turns": None, "mode": "build"}
    elif keep and os.path.exists(
        os.path.join(ROOT, "blocks", "_manifest.json")
    ):
        b = {"n_turns": None, "reused": True}
        print(f"reusing index at {ROOT}", file=sys.stderr)
    else:
        shutil.rmtree(ROOT, ignore_errors=True)
        print(f"building shared index at {ROOT} ...", file=sys.stderr)
        b = run_child("build", N4_CORES)
        print(json.dumps(b), file=sys.stderr)

    reps = int(os.environ.get("SPARK_GRAFT_QSCALE_REPEATS", "12"))
    pairs: list[dict] = []
    for rep in range(reps):
        order = (N4_CORES, N_CORES) if rep % 2 == 0 else (N_CORES, N4_CORES)
        pair: dict = {"rep": rep, "order": list(order)}
        for cpus in order:
            gbps = mem_probe_gbps()
            print(f"rep {rep}: probe {gbps} GB/s, query at local[{cpus}] ...",
                  file=sys.stderr)
            r = run_child(
                "build_timed" if child_mode == "build" else "query", cpus
            )
            print(json.dumps(r), file=sys.stderr)
            pair[str(cpus)] = {**r, "probe_gbps": gbps}
        pair["ratio"] = round(
            pair[str(N_CORES)]["seconds"] / pair[str(N4_CORES)]["seconds"], 3
        )
        pair["task_time_ratio"] = round(
            pair[str(N_CORES)]["task_time_s"]
            / max(1e-9, pair[str(N4_CORES)]["task_time_s"]), 3
        )
        pairs.append(pair)

    best_gbps = max(p[str(c)]["probe_gbps"]
                    for p in pairs for c in (N_CORES, N4_CORES))
    quiet = [p for p in pairs
             if min(p[str(N_CORES)]["probe_gbps"],
                    p[str(N4_CORES)]["probe_gbps"])
             >= PROBE_QUIET_FRAC * best_gbps]
    ratios_all = [p["ratio"] for p in pairs]
    ratios_quiet = [p["ratio"] for p in quiet]

    def summarize(rs: list[float]) -> dict | None:
        if not rs:
            return None
        med = statistics.median(rs)
        qs = statistics.quantiles(rs, n=4) if len(rs) >= 4 else None
        return {
            "n_pairs": len(rs),
            "speedup": round(med, 2),
            "efficiency": round(med / 4.0, 3),
            "ratio_iqr": [round(qs[0], 2), round(qs[2], 2)] if qs else None,
        }

    walls = {str(c): [p[str(c)]["seconds"] for p in pairs]
             for c in (N_CORES, N4_CORES)}
    if b.get("n_turns") is None and pairs:
        b["n_turns"] = pairs[0][str(N_CORES)].get("n_turns")
    out = {
        "mode": child_mode,
        "n_turns": b.get("n_turns"),
        "n_queries": N_QUERIES,
        "levels": [N_CORES, N4_CORES],
        "pairs": pairs,
        "best_probe_gbps": best_gbps,
        "quiet_threshold_gbps": round(PROBE_QUIET_FRAC * best_gbps, 2),
        "all_pairs": summarize(ratios_all),
        "quiet_pairs": summarize(ratios_quiet),
        "task_time_ratio_median": round(
            statistics.median(p["task_time_ratio"] for p in pairs), 3
        ),
        "wall_floors_s": {c: min(v) for c, v in walls.items()},
        "qps_at_floor": (
            {c: round(N_QUERIES / min(v), 2) for c, v in walls.items()}
            if child_mode != "build" else None
        ),
        "turns_per_sec_at_floor": (
            {c: round(b["n_turns"] / min(v), 1) for c, v in walls.items()}
            if child_mode == "build" and b.get("n_turns") else None
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    stem = "build_scaling" if child_mode == "build" else "query_scaling"
    name = (
        f"{stem}.json"
        if N_CORES == 4 and child_mode != "build"
        else f"{stem}_{N_CORES}to{N4_CORES}.json"
    )
    with open(os.path.join(REPO, "BENCH", name), "w") as f:
        json.dump(out, f, indent=1)
    if not keep:
        shutil.rmtree(ROOT, ignore_errors=True)
    print(json.dumps({k: out[k] for k in
                      ("all_pairs", "quiet_pairs", "task_time_ratio_median",
                       "wall_floors_s", "qps_at_floor")}))


if __name__ == "__main__":
    main()
