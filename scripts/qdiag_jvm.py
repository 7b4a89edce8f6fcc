"""Diagnose the bimodal local[1] query walls (BENCH/BASELINE.md §1→4).

Same committed index (reuses /dev/shm/qscale_idx), same 100-query
batch, local[1] children only — alternating JVM configs: default vs a
pinned initial heap (-Xms == -Xmx). If the slow mode (task_time ~2×)
disappears with the pinned heap, the bimodality is heap-growth
first-touch faulting (see the page-fault hazard note in BASELINE.md);
if not, it's JIT/GC mode luck and stays documented as measurement
spread.

Usage: python scripts/qdiag_jvm.py [reps_per_config]
       (child mode: --child OPTS_JSON, used internally)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROOT = os.environ.get("SPARK_GRAFT_QSCALE_ROOT", "/dev/shm/qscale_idx")

CONFIGS = {
    "default": {},
    "xms10g": {"spark.driver.extraJavaOptions": "-Xms10g"},
}


def child(conf_json: str) -> None:
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.session import get_spark
    from antidb_spark.synth import query_set

    extra = json.loads(conf_json)
    extra["spark.ui.enabled"] = "true"
    spark = get_spark(master="local[1]", extra_conf=extra)
    from scripts.query_scaling import _stage_task_time_ms

    b = IndexBuilder(spark, ROOT)
    qs = query_set(100)
    # block fan-out: at or under WARM_MAX_BLOCKS the batch runs on the
    # driver, with no task time to diagnose
    fan_out = b._plan_queries(qs)["fan_out"]
    t0 = time.time()
    b.query_batch(qs, k=10).count()
    warm = round(time.time() - t0, 2)
    _, last = _stage_task_time_ms(spark, -1)
    t0 = time.time()
    b.query_batch(qs, k=10).count()
    meas = round(time.time() - t0, 2)
    task_ms, _ = _stage_task_time_ms(spark, last)
    print(json.dumps({"warmup_s": warm, "seconds": meas,
                      "task_time_s": round(task_ms / 1000, 2),
                      "fan_out": fan_out}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2])
        return
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    if not os.path.exists(os.path.join(ROOT, "blocks", "_manifest.json")):
        raise SystemExit(f"no index at {ROOT} — run query_scaling.py "
                         "with SPARK_GRAFT_QSCALE_KEEP=1 first")
    results: dict[str, list[dict]] = {k: [] for k in CONFIGS}
    for rep in range(reps):
        for name, conf in CONFIGS.items():
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child",
                 json.dumps(conf)],
                capture_output=True, text=True, timeout=1800, cwd=REPO,
            )
            line = next((ln for ln in
                         reversed(proc.stdout.strip().splitlines())
                         if ln.startswith("{")), None)
            if line is None:
                print(f"{name} rep {rep}: CHILD FAILED\n"
                      f"{proc.stderr[-1000:]}", file=sys.stderr)
                continue
            r = json.loads(line)
            results[name].append(r)
            print(f"{name} rep {rep}: {r}", file=sys.stderr)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
