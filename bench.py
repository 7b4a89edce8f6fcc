"""Per-round benchmark harness (driver contract).

Runs the engine's headline workloads at ``$SPARK_GRAFT_SF_DIR`` (default:
the ``sf0.1`` test data) on ``local[$SPARK_GRAFT_CPUS]`` and prints two
JSON lines: the full record, then a compact headline (under 1,500 chars,
so a harness that keeps only the output's tail can still parse it)::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "floor": {...},
     "turns_per_sec": ..., "build_phases": {...}}

Headline workloads (BASELINE.json metric = index-build throughput +
top-k BM25 query latency):

- ``index_build``  — synth transcripts → postings/stats/blocks physical
  index written Iceberg-style (the reference's Idx.idx() analog at
  idx.py:85-92, distributed); also reports turns/sec.
- ``bm25_batch``   — 100-query seeded batch of top-k BM25 over the built
  index (driver-planned single-job path); also reports q/s.
- ``keyed_build`` / ``eq_warm`` — persisted covering token index build +
  warm driver-side point lookups (no Spark job; reports median ms).
- ``topk_docs``    — flagship single query over sf documents.parquet.
- ``eq_lookup`` / ``rng_lookup`` — antidb-parity point/range lookups
  (Prs.eq/rng analog, prs.py:86-131).
- ``dedup_minhash`` / ``text_quality`` — training-pipeline operators over
  documents.

Noise protocol: the whole suite is repeated ``$SPARK_GRAFT_BENCH_REPEATS``
times (default 3) INTERLEAVED — every phase runs once per repeat, so a
noisy host window taxes all phases alike instead of whichever phase it
landed on — and the reported number is the per-phase MEDIAN, with the
relative spread ((max-min)/median) emitted beside it. Build phases get a
fresh work root each repeat (no resumed stages across repeats).

Scaling evidence (local[8] vs local[32]) is produced separately by
``scripts/scaling_bench.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
# Bench corpus: ~425k turns at default; override for scaling runs.
N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "50000"))
N_QUERIES = int(os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "100"))
# comma-list of phases to run ("all" = everything) — the scaling harness
# restricts to the scalable phases to keep interleaved repeats short
PHASES = (os.environ.get("SPARK_GRAFT_BENCH_PHASES") or "all").split(",")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def phase_on(name: str) -> bool:
    return "all" in PHASES or name in PHASES


def run_suite(spark, docs, transcripts, n_turns):
    """One interleaved pass over every gated phase.

    Phases declare their dependencies here: anything a gated phase needs
    (a built index, a keyed store) is built UNTIMED when its own phase
    gate is off, so any single-phase ``SPARK_GRAFT_BENCH_PHASES`` value
    runs clean. Returns (timings, extras, sub) where ``sub`` holds
    per-build-phase seconds for the index build.
    """
    from pyspark.sql import functions as F

    from antidb_spark.functions.analyze import distinct_tokens, tokens
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.dedup import minhash_near_dups
    from antidb_spark.operators.lookup import KeyedIndex
    from antidb_spark.operators.textstats import quality_scores
    from antidb_spark.operators.topk import bm25_topk_pinned
    from antidb_spark.synth import query_set, vocabulary

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    sub: dict[str, float] = {}
    # index tables on tmpfs by default: single-disk write bandwidth is
    # shared host state that a real cluster's aggregate storage scales;
    # tmpfs levels that field AND removes disk-contention noise
    work_root = tempfile.mkdtemp(
        prefix="antidb_bench_",
        dir=os.environ.get("SPARK_GRAFT_BENCH_WORKDIR")
        or ("/dev/shm" if os.path.isdir("/dev/shm") else None),
    )

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 4)
        return out

    def warm_median(name: str, probes, fn):
        fn(probes[0])  # warm manifest / dataset metadata, untimed
        lat = []
        for p in probes:
            t0 = time.perf_counter()
            fn(p)
            lat.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(lat), 4)

    # --- index build over synthetic transcripts (north-rule flagship) ---
    index_phases = ("index_build", "bm25_batch", "stopword_batch",
                    "bm25_warm", "grouped",
                    "pos_build", "phrase_warm", "snippet_warm", "near_warm",
                    "slop_warm", "prefix_warm", "wildcard_warm",
                    "fuzzy_warm", "upsert_delta")
    builder = None
    if any(phase_on(p) for p in index_phases):
        builder = IndexBuilder(spark, os.path.join(work_root, "idx"))
        if phase_on("index_build"):
            metrics = timed("index_build", lambda: builder.build(transcripts))
            sub.update(
                {p["phase"]: p["seconds"] for p in metrics["phases"]}
            )
        else:
            builder.build(transcripts)

    if phase_on("bm25_batch"):
        queries = query_set(N_QUERIES)
        timed("bm25_batch", lambda: builder.query_batch(queries, k=10).count())
        # block fan-out decides the query_batch tier: at or under
        # WARM_MAX_BLOCKS (small SPARK_GRAFT_BENCH_CONVS) the batch is
        # scored on the driver, with no Spark action
        extras["bm25_batch_fan_out"] = builder._plan_queries(queries)["fan_out"]

    if phase_on("stopword_batch"):
        # the degenerate all-equal-key nightmare (reference tests.py:432-477,
        # every row under ONE key): a batch of queries made ONLY of the
        # corpus's top-df terms — the postings skew the exact block scan
        # and the bucketed blob shuffle must bound. Target: within ~3× of the
        # mixed-frequency bm25_batch floor.
        top_terms = [
            r["term"]
            for r in builder.catalog.read("terms")
            .orderBy(F.desc("df"), "term").limit(8).collect()
        ]
        stop_qs = [
            f"{top_terms[i % 8]} {top_terms[(i + 3) % 8]}"
            for i in range(N_QUERIES)
        ]
        timed("stopword_batch",
              lambda: builder.query_batch(stop_qs, k=10).count())
        extras["stopword_batch_fan_out"] = (
            builder._plan_queries(stop_qs)["fan_out"]
        )

    if phase_on("bm25_warm"):
        v = vocabulary(2000)
        warm_qs = [" ".join(v[i::997][:2]) for i in range(10)] * 2
        warm_median("bm25_warm", warm_qs, lambda q: builder.query_warm(q, k=10))

    if phase_on("grouped"):
        # conversation-level rollup from the committed index: scores
        # every matching turn, one group shuffle keyed by conv_id
        v = vocabulary(2000)
        timed("grouped", lambda: builder.query_grouped(
            f"the {v[200]} {v[1000]}", ["conv_id"], k=10
        ).count())

    # --- persisted positional index: build + warm phrase queries --------
    if (phase_on("pos_build") or phase_on("phrase_warm")
            or phase_on("snippet_warm") or phase_on("near_warm")
            or phase_on("slop_warm") or phase_on("prefix_warm")):
        from antidb_spark.operators.phrase import (
            build_positional_index,
            near_warm,
            phrase_slop_warm,
            phrase_warm,
            term_positions_warm,
        )

        if phase_on("pos_build"):
            timed("pos_build",
                  lambda: build_positional_index(builder, transcripts))
        else:
            build_positional_index(builder, transcripts)
        if phase_on("phrase_warm"):
            v = vocabulary(2000)
            # mid/rare-frequency pairs — the interactive warm regime
            # (stopword-heavy phrases fall back to the distributed path
            # via PHRASE_WARM_MAX_BLOCKS and would measure a Spark job)
            phrases = [f"{v[i]} {v[i + 37]}" for i in range(300, 310)] + [
                f"{v[i]} {v[i + 11]}" for i in range(900, 910)
            ]
            warm_median("phrase_warm", phrases,
                        lambda p: phrase_warm(builder, p))
        if phase_on("snippet_warm"):
            v = vocabulary(2000)
            snip_qs = [f"{v[i]} {v[i + 53]}" for i in range(400, 410)] * 2
            warm_median("snippet_warm", snip_qs,
                        lambda q: term_positions_warm(builder, q, k=10))
        if phase_on("near_warm"):
            v = vocabulary(2000)
            near_pairs = [(v[i], v[i + 101]) for i in range(500, 510)] * 2
            warm_median("near_warm", near_pairs,
                        lambda p: near_warm(builder, p[0], p[1], 5))
        if phase_on("slop_warm"):
            v = vocabulary(2000)
            slop_ps = [f"{v[i]} {v[i + 61]}" for i in range(700, 710)] * 2
            warm_median("slop_warm", slop_ps,
                        lambda p: phrase_slop_warm(builder, p, 3))
        if phase_on("prefix_warm"):
            v = vocabulary(2000)
            prefs = [v[i][:4] for i in range(600, 610)] * 2
            warm_median("prefix_warm", prefs,
                        lambda p: builder.query_prefix_warm(p, k=10))

    if phase_on("wildcard_warm"):
        # leading-wildcard probes: suffix anchors range-prune the
        # reversed dictionary (terms_rev builds in the untimed
        # warm-up call); no positional layer needed
        v = vocabulary(2000)
        pats = [f"*{v[i][-3:]}" for i in range(800, 810)] * 2
        warm_median("wildcard_warm", pats,
                    lambda p: builder.query_wildcard_warm(p, k=10))

    if phase_on("fuzzy_warm"):
        # edit-distance-1 probes with the FIRST char substituted (no
        # prefix prune could serve them): expansion is a SymSpell
        # deletion-neighborhood point read (terms_del builds in the
        # untimed warm-up call), scoring is the shared warm core —
        # zero Spark jobs end to end
        v = vocabulary(2000)
        fprobes = [
            ("x" if v[i][0] != "x" else "y") + v[i][1:]
            for i in range(850, 860)
        ] * 2
        warm_median("fuzzy_warm", fprobes,
                    lambda p: builder.query_fuzzy_warm(p, k=10))

    # --- O(delta) upsert: replace ~0.1% of the committed corpus ---------
    # LAST of the index-dependent phases: it mutates the builder (old
    # generations tombstoned, a second blocks run appended), so every
    # phase above measures the pristine single-run index
    if phase_on("upsert_delta"):
        delta = transcripts.filter(
            F.col("conv_id") < "conv_00000063"
        ).withColumn("text", F.concat(F.lit("upserted "), F.col("text")))
        extras["n_upsert_docs"] = delta.count()  # outside the timer
        if not builder.catalog.exists("pos_blocks"):
            # keep the measured work constant regardless of which other
            # phases ran: upsert maintains the positional layer too
            from antidb_spark.operators.phrase import build_positional_index

            build_positional_index(builder, transcripts)
        timed("upsert_delta", lambda: builder.upsert_docs(delta))

    # --- flagship documents query ---------------------------------------
    if phase_on("topk_docs"):
        timed(
            "topk_docs",
            lambda: bm25_topk_pinned(
                docs, "spark query join performance", k=10, id_cols=("doc_id",)
            ).collect(),
        )

    # --- hybrid sparse+dense fusion over documents + embeddings ----------
    if phase_on("hybrid") or phase_on("ann_warm") or phase_on("hybrid_warm"):
        from antidb_spark.operators.hybrid import hybrid_topk

        vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        probes_pdf = (
            vecs.filter(F.col("vec_id") < 20).toPandas()
            .sort_values("vec_id").reset_index(drop=True)
        )
        vec_probes = [
            [float(x) for x in e] for e in probes_pdf["embedding"]
        ]
        if phase_on("hybrid"):
            timed(
                "hybrid",
                lambda: hybrid_topk(
                    docs, vecs, "spark query join performance",
                    vec_probes[0], k=10,
                ).collect(),
            )
        if phase_on("ann_warm") or phase_on("hybrid_warm"):
            from antidb_spark.operators.ann import AnnIndexStore
            from antidb_spark.operators.hybrid import hybrid_warm

            ann_store = AnnIndexStore(spark, os.path.join(work_root, "ann"))
            ann_idx = ann_store.build_lsh("vecs", vecs)
            if phase_on("ann_warm"):
                warm_median("ann_warm", vec_probes,
                            lambda p: ann_idx.topk_local(p, k=10))
            if phase_on("hybrid_warm"):
                # needs the BM25 warm tier too: a doc_id-keyed builder
                # over documents (untimed dependency build)
                hyb_builder = IndexBuilder(
                    spark, os.path.join(work_root, "hyb_idx"),
                    id_cols=("doc_id",),
                )
                hyb_builder.build(docs)
                from antidb_spark.synth import vocabulary as _vocab

                v = _vocab(2000)
                hqueries = [f"{v[i]} {v[i + 61]}" for i in range(700, 710)] * 2
                warm_median(
                    "hybrid_warm",
                    list(zip(hqueries, (vec_probes * 2)[: len(hqueries)])),
                    lambda qp: hybrid_warm(
                        hyb_builder, ann_idx, qp[0], qp[1], k=10
                    ),
                )

    # --- persisted keyed index: build + lookups served FROM THE INDEX ---
    # (the reference's workload shape: build the .adb once, then answer
    # every eq/rng from it)
    lookup_phases = (
        "keyed_build", "eq_warm", "eq_lookup", "rng_lookup", "eq_batch",
        "eq_batch_mem",
    )
    if any(phase_on(p) for p in lookup_phases):
        from antidb_spark.operators.keyed import KeyedIndexStore

        store = KeyedIndexStore(spark, os.path.join(work_root, "keyed"))

        def build_keyed():
            return store.build(
                "doc_tokens", docs, distinct_tokens("text"),
                id_cols=["doc_id"], multi=True,
            )

        if phase_on("keyed_build"):
            timed("keyed_build", build_keyed)
        else:
            build_keyed()
        pidx = store.open("doc_tokens")
        if phase_on("eq_lookup"):
            timed("eq_lookup",
                  lambda: pidx.eq("spark", "zzzmiss", "data").count())
        if phase_on("rng_lookup"):
            timed("rng_lookup", lambda: pidx.rng("query", "sort").count())
        if phase_on("eq_batch"):
            # the reference's annotation workload shape: a large batch of
            # point lookups (README.md:180,209 — 2,842 probes, 114 q/s);
            # one Spark job over the covering index amortizes scheduling
            probes = vocabulary(1000)
            timed("eq_batch_1000", lambda: pidx.eq(*probes).count())
            # the same 1000 probes through the warm tier (one pruned
            # pyarrow read + one vectorized merge, zero Spark jobs) —
            # the apples-to-apples single-node shape vs the reference's
            # single-threaded annotation numbers
            pidx.eq_local(probes[0])  # warm dataset metadata
            timed("eq_batch_local", lambda: len(pidx.eq_local(*probes)))
        if phase_on("eq_batch_mem"):
            # parity-semantics reference point: the index-free in-memory
            # KeyedIndex (rescans + re-tokenizes the base per call)
            midx = KeyedIndex(docs, distinct_tokens("text"),
                              id_cols=["doc_id"], multi=True)
            probes = vocabulary(1000)
            timed("eq_batch_mem", lambda: midx.eq(*probes).count())
        if phase_on("eq_warm"):
            # the reference's warm point-query class (README.md:43,
            # 0.015 s): driver-side pyarrow reads of manifest-pruned
            # files — no Spark job. Median over mixed-frequency probes.
            probes = (vocabulary(1000)[-8:] + ["data", "query"]) * 2
            warm_median("eq_warm", probes, pidx.eq_local)

    # --- training-pipeline operators ------------------------------------
    if phase_on("dedup_minhash"):
        timed("dedup_minhash",
              lambda: minhash_near_dups(docs, id_col="doc_id").count())
    if phase_on("text_quality"):
        timed("text_quality", lambda: quality_scores(docs).count())
    if phase_on("repetition"):
        from antidb_spark.operators.textstats import repetition_stats

        timed("repetition", lambda: repetition_stats(docs).count())
    if phase_on("decontam"):
        from antidb_spark.operators.dedup import decontaminate

        bench_set = docs.filter(F.col("doc_id") % 50 == 7).select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(F.slice(tokens("text"), 4, 10), " ").alias("bench_text"),
        )
        timed("decontam", lambda: decontaminate(docs, bench_set).count())
    if phase_on("sketches"):
        # HLL registers + CMS grid over the full corpus token stream —
        # the bounded-state aggregates (≤256 / ≤4096 result rows at any
        # corpus size); one timed pass covers both
        from antidb_spark.operators.sketches import cms_sketch, hll_registers

        sk_toks = docs.select(F.explode(tokens("text")).alias("term"))
        timed("sketches",
              lambda: (hll_registers(sk_toks).count()
                       + cms_sketch(sk_toks).count()))
    if phase_on("asof"):
        from antidb_spark.operators.temporal import asof_join

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        clicks = ev.filter(F.col("event_type") == "click")
        views = ev.filter(F.col("event_type") == "view")
        timed("asof",
              lambda: asof_join(clicks, views, key="user_id").count())

    # --- clustering / compressed-vector ANN -------------------------------
    if any(phase_on(p) for p in ("kmeans", "pq_build", "pq_warm")):
        from antidb_spark.operators.cluster import kmeans_assign
        from antidb_spark.operators.pq import build_pq

        vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        if phase_on("kmeans"):
            timed("kmeans",
                  lambda: kmeans_assign(vecs, k=16, iters=2).count())
        if phase_on("pq_build") or phase_on("pq_warm"):
            def bpq():
                return build_pq(
                    spark, os.path.join(work_root, "pq"), "pq", vecs,
                    m=8, k=16, iters=1,
                )

            pqi = timed("pq_build", bpq) if phase_on("pq_build") else bpq()
            if phase_on("pq_warm"):
                probe_rows = vecs.orderBy("vec_id").limit(20).collect()
                probes = [[float(v) for v in r["embedding"]]
                          for r in probe_rows]
                warm_median("pq_warm", probes,
                            lambda p: pqi.topk_local(p, k=10))

    shutil.rmtree(work_root, ignore_errors=True)
    return timings, extras, sub


def main() -> None:
    from antidb_spark.session import get_spark
    from antidb_spark.synth import synth_transcripts

    spark = get_spark(master=f"local[{CPUS}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()  # warm the scan / JVM

    transcripts, n_turns = None, 0
    index_phases = ("index_build", "bm25_batch", "stopword_batch",
                    "bm25_warm", "grouped",
                    "pos_build", "phrase_warm", "snippet_warm", "near_warm",
                    "slop_warm", "prefix_warm", "wildcard_warm",
                    "fuzzy_warm", "upsert_delta")
    if any(phase_on(p) for p in index_phases):
        transcripts = synth_transcripts(spark, n_convs=N_CONVS).cache()
        n_turns = transcripts.count()  # materialize outside any timer

    reps: list[dict[str, float]] = []
    subs: list[dict[str, float]] = []
    run_extras: dict = {}
    for _ in range(max(1, REPEATS)):
        t, e, s = run_suite(spark, docs, transcripts, n_turns)
        reps.append(t)
        subs.append(s)
        run_extras.update(e)

    def med(vals):
        return statistics.median(vals)

    timings = {
        k: round(med([r[k] for r in reps]), 4) for k in reps[0]
    }
    spread = {
        k: round(
            (max(v) - min(v)) / med(v) if med(v) > 0 else 0.0, 3
        )
        for k, v in ((k, [r[k] for r in reps]) for k in reps[0])
    }
    # floor = min across repeats: host noise (GC, JIT, neighbors' bus
    # traffic) is one-sided — it only ever inflates — so the floor is
    # the stable cross-run comparable on this shared box
    floor = {k: round(min(r[k] for r in reps), 4) for k in reps[0]}
    # every repeat in run order: tells the cold first repeat (first
    # Spark action of the process) apart from host noise
    per_repeat = {k: [r[k] for r in reps] for k in reps[0]}
    extras: dict = {"repeats": len(reps), "spread": spread, "floor": floor,
                    "per_repeat": per_repeat, **run_extras}
    if "upsert_delta" in timings and "n_upsert_docs" in extras:
        extras["upsert_docs_per_sec"] = round(
            extras["n_upsert_docs"] / timings["upsert_delta"], 1
        )
    if "index_build" in timings:
        extras["turns_per_sec"] = round(n_turns / timings["index_build"], 1)
        extras["n_turns"] = n_turns
        extras["build_phases"] = {
            p: round(med([s[p] for s in subs]), 2) for p in subs[0]
        }
    if "bm25_batch" in timings:
        extras["queries_per_sec"] = round(N_QUERIES / timings["bm25_batch"], 2)
    if "stopword_batch" in timings:
        extras["stopword_queries_per_sec"] = round(
            N_QUERIES / timings["stopword_batch"], 2
        )
    if "fuzzy_warm" in timings:
        extras["fuzzy_warm_ms"] = round(1000 * timings["fuzzy_warm"], 2)
    if "bm25_warm" in timings:
        extras["bm25_warm_ms"] = round(1000 * timings["bm25_warm"], 2)
    if "phrase_warm" in timings:
        extras["phrase_warm_ms"] = round(1000 * timings["phrase_warm"], 2)
    if "snippet_warm" in timings:
        extras["snippet_warm_ms"] = round(1000 * timings["snippet_warm"], 2)
    if "near_warm" in timings:
        extras["near_warm_ms"] = round(1000 * timings["near_warm"], 2)
    if "prefix_warm" in timings:
        extras["prefix_warm_ms"] = round(1000 * timings["prefix_warm"], 2)
    if "wildcard_warm" in timings:
        extras["wildcard_warm_ms"] = round(
            1000 * timings["wildcard_warm"], 2
        )
    if "eq_batch_1000" in timings:
        extras["point_lookups_per_sec_spark"] = round(
            1000 / timings["eq_batch_1000"], 1
        )
    if "eq_batch_local" in timings:
        extras["point_lookups_per_sec"] = round(
            1000 / timings["eq_batch_local"], 1
        )
    if "eq_warm" in timings:
        extras["eq_warm_ms"] = round(1000 * timings["eq_warm"], 2)
    if "ann_warm" in timings:
        extras["ann_warm_ms"] = round(1000 * timings["ann_warm"], 2)
    if "hybrid_warm" in timings:
        extras["hybrid_warm_ms"] = round(1000 * timings["hybrid_warm"], 2)

    record = {
        "metric": "headline-suite wall time (index build + BM25 batch "
        "+ lookups + pipeline ops; median of interleaved repeats)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extras,
    }
    spark.stop()  # before printing: nothing may follow the headline
    print(json.dumps(record))
    headline = ("metric", "value", "unit", "sf", "floor", "turns_per_sec",
                "build_phases")
    print(json.dumps({k: record[k] for k in headline if k in record},
                     separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
