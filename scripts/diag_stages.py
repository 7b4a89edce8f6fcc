"""Per-stage comparison of the 100-query batch at local[1] vs local[4].

Reuses /dev/shm/qscale_idx. For each level: fresh JVM, one warmup run,
one measured run, then dump per-stage numTasks / executorRunTime /
input / shuffle bytes from the UI REST API for the measured run.

Usage: python scripts/diag_stages.py [cpus ...]   (default: 1 4)
       (child mode: --child CPUS)
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


def child(cpus: int) -> None:
    import urllib.request

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.session import get_spark
    from antidb_spark.synth import query_set

    spark = get_spark(master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "true"})
    b = IndexBuilder(spark, ROOT)
    qs = query_set(100)
    # block fan-out: at or under WARM_MAX_BLOCKS the batch runs on the
    # driver and there are no stages to compare
    fan_out = b._plan_queries(qs)["fan_out"]
    t0 = time.time()
    b.query_batch(qs, k=10).count()
    warm = round(time.time() - t0, 2)

    def stages():
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages"
        ) as r:
            return json.loads(r.read())

    seen = {s["stageId"] for s in stages()}
    t0 = time.time()
    b.query_batch(qs, k=10).count()
    meas = round(time.time() - t0, 2)
    rows = []
    for s in stages():
        if s["stageId"] in seen or s.get("status") != "COMPLETE":
            continue
        rows.append({
            "id": s["stageId"],
            "name": s.get("name", "")[:60],
            "tasks": s.get("numCompleteTasks"),
            "runTime_s": round(s.get("executorRunTime", 0) / 1000, 2),
            "cpuTime_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
            "gcTime_s": round(s.get("jvmGcTime", 0) / 1000, 2),
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
        })
    print(json.dumps({"cpus": cpus, "warmup_s": warm, "seconds": meas,
                      "fan_out": fan_out, "stages": rows}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
        return
    levels = [int(a) for a in sys.argv[1:]] or [1, 4]
    for cpus in levels:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus)],
            capture_output=True, text=True, timeout=1800, cwd=REPO,
        )
        line = next((ln for ln in reversed(proc.stdout.strip().splitlines())
                     if ln.startswith("{")), None)
        if line is None:
            print(f"cpus={cpus} FAILED\n{proc.stderr[-1500:]}")
            continue
        d = json.loads(line)
        print(f"\n== local[{cpus}]  warmup {d['warmup_s']}s  "
              f"measured {d['seconds']}s  fan-out {d['fan_out']} blocks")
        tot = 0.0
        for s in d["stages"]:
            tot += s["runTime_s"]
            print(f"  stage {s['id']:>4} tasks={s['tasks']:>3} "
                  f"run={s['runTime_s']:>7}s cpu={s['cpuTime_s']:>7}s "
                  f"gc={s['gcTime_s']:>5}s in={s['input_mb']:>7}MB "
                  f"shR={s['sh_read_mb']:>6}MB shW={s['sh_write_mb']:>6}MB "
                  f" {s['name']}")
        print(f"  total task runTime {round(tot, 2)}s")


if __name__ == "__main__":
    main()
