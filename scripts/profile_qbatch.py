"""One-off: phase breakdown of query_batch's serial driver fraction.

Builds (or reuses) the scaling corpus index on tmpfs, then times the
driver-side planning phases vs the Spark action for a 100-query batch
at a chosen parallelism, printing a per-phase JSON line. The line
carries the batch's block fan-out: below ``WARM_MAX_BLOCKS`` (small
``n_convs``) ``query_batch`` scores on the driver and runs no Spark
action, so read ``fan_out`` before the Spark numbers.

Usage: python scripts/profile_qbatch.py [cpus] [n_convs]
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
N_CONVS = int(sys.argv[2]) if len(sys.argv) > 2 else 150_000
ROOT = "/dev/shm/profile_qbatch_idx"

from antidb_spark.operators.build import IndexBuilder  # noqa: E402
from antidb_spark.session import get_spark  # noqa: E402
from antidb_spark.synth import query_set, synth_transcripts  # noqa: E402

spark = get_spark(master=f"local[{CPUS}]")
b = IndexBuilder(spark, ROOT)
if not os.path.exists(os.path.join(ROOT, "_tables", "blocks")):
    t = synth_transcripts(spark, n_convs=N_CONVS).cache()
    print("turns:", t.count(), file=sys.stderr)
    t0 = time.time()
    b.build(t)
    print("build s:", round(time.time() - t0, 1), file=sys.stderr)

qs = query_set(100)

phases: dict[str, float] = {}


def clock(name):
    class _C:
        def __enter__(self):
            self.t0 = time.time()

        def __exit__(self, *a):
            phases[name] = phases.get(name, 0.0) + time.time() - self.t0

    return _C()


for rep in range(3):
    phases.clear()
    t_all = time.time()
    with clock("plan_queries"):
        plan = b._plan_queries(qs)
    with clock("blocks_scan"):
        terms = plan["terms"]
        import pyspark.sql.functions as F

        blocks = b._blocks_scan(terms).filter(F.col("term").isin(terms))
    with clock("query_batch_total"):
        out = b.query_batch(qs, k=10)
        n = out.count()
    total = time.time() - t_all
    print(json.dumps({
        "rep": rep, "cpus": CPUS, "rows": n,
        "phases": {k: round(v, 2) for k, v in phases.items()},
        "n_terms": len(terms),
        "est_blocks": plan["est_blocks"],
        "fan_out": plan["fan_out"],
        "tier": "driver" if b._batch_on_driver(plan) else "spark",
        "total": round(total, 2),
    }))

spark.stop()
