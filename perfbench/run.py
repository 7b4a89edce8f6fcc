"""Benchmark of the engine core: index build, ``query_batch``, the warm
tier and the multi-table commit path.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0

Run it from the repository root. One closed-loop client in one process
drives the blocking library API on ``local[<cores>]``. Every answer on a
seeded sample is checked against an independent numpy BM25 oracle. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it is a compact headline, and the full per-run record is written under
``.bench_work/results/``. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from oracle import Bm25Oracle, same_results  # noqa: E402
from tracing import SparkJobs, Tracer, kernel_seconds  # noqa: E402

from antidb_spark.operators import upsert as upsert_mod  # noqa: E402
from antidb_spark.operators.build import IndexBuilder  # noqa: E402
from antidb_spark.session import get_spark  # noqa: E402
from antidb_spark.synth import (  # noqa: E402
    query_set,
    synth_transcripts,
    vocabulary,
    zipf_probs,
)

WORKLOADS = ("interactive", "ingest")
N_CONVS = 1200          # ≈ 10k turns, ≈ 2.2 MB of text
BATCH_QUERIES = 20      # queries per query_batch call
TOP_K = 10
# interactive runs whole episodes, each from a fresh builder (empty driver
# caches): a pool of distinct queries asked once (first touch), then once
# more (served from the caches the first round filled). The two rounds are
# reported apart; no repeat ratio is assumed. Fixed episodes fix how much
# of the caches each first touch finds filled; in an open-ended stream
# that share grows with every query run, so engine speed would decide it.
# Every pool is asked in SWEEPS episodes, one per sweep over all pools, so
# a query's episodes lie far apart in the run; its latency is its fastest
# episode, which a burst of load from other tenants of the host rarely hits
# every time. The pool count comes from --seconds, never from how fast the
# engine runs, so every engine measures the same queries the same way
POOL_QUERIES = 50
POOL_ROUNDS = 2
SWEEPS = 8
EPISODE_S = 0.6         # nominal episode wall on 4 vCPU, sizes the pool count
INGEST_CYCLES = 3
BATCHES_PER_CYCLE = 2   # query_batch calls after each upsert
# traced ingest: traced/untraced cycles in ABBA order, so that the
# overhead estimate cancels the index's linear drift
TRACED_INGEST = (True, False, False, True)
UPSERT_CONVS = 3        # 0.25 % of the conversations per upsert
ORACLE_SAMPLE = 120     # queries checked against the oracle per run
PROFILER = "spark.sql.pyspark.udf.profiler"
NO_MATCH_QUERY = "zzwarmup"  # synth words alternate consonant and vowel


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _batch_rows(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            ((r["conv_id"], int(r["turn_idx"])), float(r["score"]))
        )
    return out


def _warm_rows(pdf) -> list:
    return [
        ((c, int(t)), float(s))
        for c, t, s in zip(pdf["conv_id"], pdf["turn_idx"], pdf["score"])
    ]


class Bench:
    """One run of one workload: set-up, timed closed loop, checks."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.traced = bool(args.trace)
        base = os.path.join(ROOT, ".bench_work")
        self.work = os.path.join(
            base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )
        self.results = os.path.join(base, "results")
        self.tracer = Tracer(self.traced)
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.extra_checks = 0
        self.failed_checks = 0
        self.notes: list[str] = []
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None

    # -- set-up ---------------------------------------------------------------

    def _phase(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.setup[name] = time.perf_counter() - t0
        return out

    def start_session(self):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark"),
            # no hsperfdata file in /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.traced else "false",
        }
        return get_spark(master=f"local[{self.cores}]",
                         app_name="perfbench", extra_conf=conf)

    def make_corpus(self):
        corpus = synth_transcripts(
            self.spark, n_convs=N_CONVS, seed=self.args.seed
        ).cache()
        from pyspark.sql import functions as F

        row = corpus.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("text")).alias("b"),
        ).first()
        self.n_turns, self.text_bytes = int(row["n"]), int(row["b"])
        return corpus

    def build_index(self, corpus) -> dict:
        builder = IndexBuilder(self.spark, os.path.join(self.work, "index"))
        self._wrap_catalog(builder.catalog)
        self.jobs.start("build")
        if self.traced:
            self.spark.conf.set(PROFILER, "perf")
        out = builder.build(corpus)
        self.spark.conf.unset(PROFILER)
        return out

    def set_up(self) -> None:
        self.spark = self._phase("session.start", self.start_session)
        self.jobs = SparkJobs(self.spark, rest=self.traced)
        self.jobs.start("setup")
        self.corpus = self._phase("synth.corpus", self.make_corpus)
        built = self._phase("setup.build", lambda: self.build_index(self.corpus))
        self.build_phases = {p["phase"]: p["seconds"] for p in built["phases"]}
        self.index_bytes = _dir_bytes(os.path.join(self.work, "index"))
        if self.traced:
            self.build_spark = self.jobs.metrics("build")
        self._phase("setup.prepare", self.prepare)

    def prepare(self) -> None:
        self.builder = self.open_builder()
        if self.args.workload == "ingest":
            self._wrap_upsert(self.builder)
            self.prepare_ingest()
            # the first upsert in a session is ≈ 1.6× the later ones while
            # its code paths warm up; a session pays that once, in set-up
            _, self.warmup_part = self.slices.pop(0)
            self.builder.upsert_docs(self.spark.createDataFrame(
                self.warmup_part, schema=self.corpus.schema))

    # -- tracing hooks (traced run only) ----------------------------------------

    def _wrap_catalog(self, cat) -> None:
        if not self.traced:
            return
        manifest = cat.manifest
        seen = {
            (name, e["path"])
            for name in os.listdir(cat.root) if cat.exists(name)
            for e in manifest(name)["files"]
        }

        def written(rec, man, df, name, *a, **kw):
            new = [e["path"] for e in man["files"]
                   if (name, e["path"]) not in seen]
            seen.update((name, p) for p in new)
            rec["bytes"] = sum(
                os.path.getsize(os.path.join(cat.table_dir(name), p))
                for p in new
            )

        def pruned(rec, paths, name, *a, **kw):
            rec["files_total"] = len(manifest(name)["files"])
            rec["files_read"] = (
                rec["files_total"] if paths is None else len(paths)
            )

        for meth, note in (("write", written), ("replace", written),
                           ("pruned_file_paths", pruned)):
            self.tracer.wrap(cat, meth, f"catalog.{meth}", note)
        for meth in ("commit", "manifest", "read", "read_arrow",
                     "read_pruned_arrow"):
            self.tracer.wrap(cat, meth, f"catalog.{meth}")

    def _wrap_upsert(self, builder) -> None:
        if not self.traced:
            return
        self.tracer.wrap(builder, "delete_docs", "builder.delete_docs")
        self._append_run = upsert_mod.append_run
        self.tracer.wrap(upsert_mod, "append_run", "upsert.append_run")

    # -- operations -------------------------------------------------------------

    def op(self, kind: str, fn, traced: bool, **info) -> tuple:
        """One timed client call under its own job group. Exceptions are
        counted as failed operations, never raised."""
        group = f"{kind}-{len(self.ops)}"
        self.jobs.start(group)
        self.tracer.active = traced
        self.tracer.op = group
        profile = traced and kind != "query_warm"
        if profile:
            self.spark.conf.set(PROFILER, "perf")
        rec = {"kind": kind, "group": group, "traced": traced,
               "failed": False, **info}
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind) as span:
                out = fn()
            rec["span"] = span["id"] if span else None
        except Exception:
            traceback.print_exc()
            rec["failed"] = True
            rec["why"] = "exception"
        rec["wall_s"] = time.perf_counter() - t0
        self.jobs.start("client")  # later untimed work stays out of the group
        if profile:
            self.spark.conf.unset(PROFILER)
        self.tracer.active = self.traced
        self.tracer.op = None
        if kind == "query_warm" and self.jobs.job_ids(group):
            rec["failed"] = True
            rec["why"] = "warm call ran a Spark job"
        if traced and kind != "query_warm":
            rec["spark"] = self.jobs.metrics(group)
        self.ops.append(rec)
        return out, rec

    # -- workloads ------------------------------------------------------------

    def make_inputs(self) -> None:
        """Everything the client sends, from the seed alone."""
        seed, w = self.args.seed, self.args.workload
        if w == "interactive":
            pools = max(2, round(self.args.seconds / (SWEEPS * EPISODE_S)))
            self.queries = query_set(POOL_QUERIES * pools, seed=seed)
        else:
            cycles = len(TRACED_INGEST) if self.traced else INGEST_CYCLES
            self.rng = np.random.default_rng([seed, 2024])
            convs = self.rng.choice(  # one more slice for set-up's upsert
                N_CONVS, size=(cycles + 1) * UPSERT_CONVS, replace=False
            )
            self.upsert_convs = [f"conv_{int(c):08d}" for c in convs]
            self.vocab = np.array(vocabulary(), dtype=object)
            self.queries = query_set(
                BATCH_QUERIES * BATCHES_PER_CYCLE * cycles, seed=seed
            )

    def open_builder(self) -> IndexBuilder:
        """A fresh builder on the index: the client starts with empty
        driver caches."""
        # the last episode's caches are freed here, untimed, not by a
        # collection that happens to run inside a timed call
        self.builder = None
        gc.collect()
        builder = IndexBuilder(self.spark, os.path.join(self.work, "index"))
        self._wrap_catalog(builder.catalog)
        if self.args.workload == "interactive":
            # the first query_warm of a builder infers the docmap schema
            # with one Spark job; a query with no indexed term pays that
            # untimed and fills no posting, df or docmap cache
            self.jobs.start("client")
            builder.query_warm(NO_MATCH_QUERY, k=TOP_K)
        return builder

    def run_interactive(self) -> None:
        # a fixed amount of work, sized from --seconds in make_inputs. A
        # traced run traces pool p in sweep s when s + p is even: every
        # pool is asked traced and untraced equally often, in alternating
        # order, so the overhead compares the same queries
        pools = len(self.queries) // POOL_QUERIES
        for s in range(SWEEPS):
            for p in range(pools):
                if s or p:
                    self.builder = self.open_builder()
                traced = self.traced and (s + p) % 2 == 0
                pool = self.queries[p * POOL_QUERIES:(p + 1) * POOL_QUERIES]
                for r in range(POOL_ROUNDS):
                    for j, q in enumerate(pool):
                        pdf, rec = self.op(
                            "query_warm",
                            lambda q=q: self.builder.query_warm(q, k=TOP_K),
                            traced=traced, queries=[q], round=r, sweep=s,
                            query=(p, j),
                        )
                        if pdf is not None:
                            rec["results"] = {0: _warm_rows(pdf)}

    def prepare_ingest(self) -> None:
        from pyspark.sql import functions as F

        names = self.upsert_convs
        rows = (
            self.corpus.filter(F.col("conv_id").isin(names))
            .toPandas().sort_values(["conv_id", "turn_idx"])
        )
        probs = zipf_probs()
        self.slices = []
        for c in range(len(names) // UPSERT_CONVS):
            part = rows[rows["conv_id"].isin(
                names[c * UPSERT_CONVS:(c + 1) * UPSERT_CONVS]
            )].copy()
            marker = f"zzup{self.args.seed}c{c}"
            part["text"] = [
                " ".join(self.rng.choice(
                    self.vocab, size=max(1, int(self.rng.normal(40, 13))),
                    p=probs,
                )) + f" {marker}"
                for _ in range(len(part))
            ]
            self.slices.append((marker, part))

    def run_ingest(self) -> None:
        # a fixed cycle count, not a time bound: every upsert adds a run
        # and tombstones, so later cycles are slower and a speed-bound
        # count would make a faster engine measure a heavier index
        schema = self.corpus.schema
        order = TRACED_INGEST if self.traced else (False,) * INGEST_CYCLES
        for c, (marker, part) in enumerate(self.slices):
            docs = self.spark.createDataFrame(part, schema=schema)
            _, up = self.op("upsert_docs", lambda d=docs: self.builder.upsert_docs(d),
                            traced=order[c], cycle=c,
                            user_bytes=sum(len(t.encode()) for t in part["text"]))
            for b in range(BATCHES_PER_CYCLE):
                lo = (c * BATCHES_PER_CYCLE + b) * BATCH_QUERIES
                batch = self.queries[lo:lo + BATCH_QUERIES]
                rows, rec = self.op(
                    "query_batch",
                    lambda b=batch: self.builder.query_batch(b, k=TOP_K).collect(),
                    traced=order[c], cycle=c, queries=batch,
                )
                self.jobs.start(f"check-{c}")
                if rows is not None:
                    rec["results"] = _batch_rows(rows)
                    self.cross_check(rec)
            # untimed: the upserted documents' new token must be found
            found = self.builder.query_warm(marker, k=TOP_K)
            ids = {(a, int(b)) for a, b in zip(found["conv_id"], found["turn_idx"])}
            want = {(a, int(b)) for a, b in zip(part["conv_id"], part["turn_idx"])}
            self.extra_checks += 1
            if not ids or not ids <= want or len(ids) != min(TOP_K, len(want)):
                self.failed_checks += 1
                self.notes.append(f"cycle {c}: new token {marker} not found")

    # -- checks -----------------------------------------------------------------

    def check(self) -> None:
        """Oracle checks, outside every timed region."""
        oracle = Bm25Oracle()
        pdf = self.corpus.toPandas().sort_values(["conv_id", "turn_idx"])
        for c, t, x in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            oracle.add(c, t, x)
        rng = np.random.default_rng([self.args.seed, 31337])
        checked = 0
        if self.args.workload == "ingest":
            for cid, t, x in zip(self.warmup_part["conv_id"],
                                 self.warmup_part["turn_idx"],
                                 self.warmup_part["text"]):
                oracle.add(cid, t, x)
            for c, (_, part) in enumerate(self.slices):
                for cid, t, x in zip(part["conv_id"], part["turn_idx"], part["text"]):
                    oracle.add(cid, t, x)
                for rec in self.ops:
                    if rec.get("cycle") == c and "results" in rec:
                        checked += self._check_op(oracle, rec, range(len(rec["queries"])))
        else:
            pairs = [(i, j) for i, rec in enumerate(self.ops) if "results" in rec
                     for j in range(len(rec["queries"]))]
            pick = rng.choice(len(pairs), size=min(ORACLE_SAMPLE, len(pairs)),
                              replace=False)
            by_op: dict[int, list[int]] = {}
            for p in pick:
                by_op.setdefault(pairs[p][0], []).append(pairs[p][1])
            for i, js in by_op.items():
                checked += self._check_op(oracle, self.ops[i], js)
        self.oracle_checked = checked

    def _check_op(self, oracle: Bm25Oracle, rec: dict, which) -> int:
        for j in which:
            got = rec["results"].get(j, [])
            want = oracle.top_k(rec["queries"][j], k=TOP_K)
            if not same_results(got, want):
                rec["failed"] = True
                rec["why"] = f"oracle mismatch on {rec['queries'][j]!r}"
        return len(which)

    def cross_check(self, rec: dict) -> None:
        """Warm-tier answers must equal the batch answers of the same
        queries on the same index state (untimed)."""
        for j, q in enumerate(rec["queries"]):
            warm = _warm_rows(self.builder.query_warm(q, k=TOP_K))
            self.extra_checks += 1
            if not same_results(warm, rec["results"].get(j, [])):
                self.failed_checks += 1
                self.notes.append(f"warm != batch on {q!r}")

    # -- metrics ----------------------------------------------------------------

    def walls(self, role: str, traced: bool | None = None) -> list[float]:
        """Seconds per call of one role. ``query``: the first touch of a
        pool query (``interactive``) or a ``query_batch`` (``ingest``);
        ``hit_or_upsert``: the repeat of a pool query, served from the
        caches (``interactive``), or an ``upsert_docs`` (``ingest``).
        On ``interactive`` each pool query gives one value: the fastest of
        its episodes."""
        pick = [r for r in self.ops if traced is None or r["traced"] == traced]
        if self.args.workload == "ingest":
            kind = "query_batch" if role == "query" else "upsert_docs"
            return [r["wall_s"] for r in pick if r["kind"] == kind]
        rnd = 0 if role == "query" else 1
        best: dict[tuple, float] = {}
        for r in pick:
            if r["round"] == rnd:
                best[r["query"]] = min(best.get(r["query"], r["wall_s"]),
                                       r["wall_s"])
        return list(best.values())

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": sum(self.setup.values()),
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
            "query_p50_ms": 1e3 * _median(self.walls("query")),
            "hit_or_upsert_p50_ms": 1e3 * _median(self.walls("hit_or_upsert")),
            "driver_peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, names: list[str]) -> dict[str, float]:
        m = dict.fromkeys(names, 0.0)
        m["session.start_s"] = self.setup["session.start"]
        m["synth.corpus_s"] = self.setup["synth.corpus"]
        m["setup.build_s"] = self.setup["setup.build"]
        m["build.turns_per_s"] = self.n_turns / self.setup["setup.build"]
        for phase, secs in self.build_phases.items():
            m[f"build.{phase}_s"] = secs
        for key in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                    "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.build.{key}"] = self.build_spark[key]

        kids = self.tracer.children()
        spans = self.tracer.spans
        traced = [r for r in self.ops if r["traced"] and r.get("span") is not None]

        def sub(rec):
            return self.tracer.subtree(spans[rec["span"]], kids)

        def catalog_s(rec):
            return sum(
                s["end"] - s["start"] for s in sub(rec)
                if s["name"].startswith("catalog.")
                and not spans[s["parent"]]["name"].startswith("catalog.")
            )

        def count(rec, *names_):
            return sum(1 for s in sub(rec) if s["name"] in names_)

        qb = [r for r in traced if r["kind"] == "query_batch"]
        if qb:
            walls = [r["wall_s"] for r in qb]
            m["query_batch.wall_s"] = _median(walls)
            m["query_batch.catalog_s"] = _median([catalog_s(r) for r in qb])
            m["query_batch.spark_s"] = _median([r["spark"]["spark_s"] for r in qb])
            m["query_batch.driver_s"] = _median([
                max(0.0, r["wall_s"] - catalog_s(r) - r["spark"]["spark_s"])
                for r in qb
            ])
            for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                        "gc_s", "input_bytes", "shuffle_write_bytes"):
                m[f"spark.query_batch.{key}"] = _median([r["spark"][key] for r in qb])
            m["spark.query_batch.noncpu_s"] = _median(
                [r["spark"]["task_run_s"] - r["spark"]["task_cpu_s"] for r in qb]
            )
            m["spark.query_batch.slot_idle"] = _median([
                1.0 - r["spark"]["task_run_s"] / (self.cores * r["spark"]["spark_s"])
                for r in qb if r["spark"]["spark_s"] > 0
            ])

        # the warm tier's own work (pyarrow reads, decode) is in first
        # touches; repeats are counted in the catalog totals below
        warm = [r for r in traced
                if r["kind"] == "query_warm" and r["round"] == 0]
        if warm:
            m["query_warm.wall_s"] = _median([r["wall_s"] for r in warm])
            m["query_warm.catalog_s"] = _median([catalog_s(r) for r in warm])
            m["query_warm.catalog_reads_per_query"] = statistics.mean(
                count(r, "catalog.read_arrow", "catalog.read_pruned_arrow")
                for r in warm
            )
        m["query_warm.spark_jobs"] = sum(
            len(self.jobs.job_ids(r["group"]))
            for r in self.ops if r["kind"] == "query_warm"
        )

        ups = [r for r in traced if r["kind"] == "upsert_docs"]
        if ups:
            m["upsert.wall_s"] = _median([r["wall_s"] for r in ups])
            m["upsert.catalog_commits"] = statistics.mean(
                count(r, "catalog.commit") for r in ups
            )
            m["upsert.bytes_written_per_user_byte"] = sum(
                s.get("bytes", 0) for r in ups for s in sub(r)
            ) / sum(r["user_bytes"] for r in ups)
            m["spark.upsert.jobs"] = _median([r["spark"]["jobs"] for r in ups])
            m["spark.upsert.task_run_s"] = _median(
                [r["spark"]["task_run_s"] for r in ups]
            )

        if traced:
            every = [s for r in traced for s in sub(r)]
            n = len(traced)

            def tot(*names_):
                hit = [s for s in every if s["name"] in names_]
                return len(hit) / n, sum(s["end"] - s["start"] for s in hit) / n

            m["catalog.write_calls"], m["catalog.write_s"] = tot(
                "catalog.write", "catalog.replace")
            m["catalog.bytes_written"] = sum(s.get("bytes", 0) for s in every) / n
            m["catalog.arrow_reads"], m["catalog.arrow_read_s"] = tot(
                "catalog.read_arrow", "catalog.read_pruned_arrow")
            m["catalog.manifest_reads"], m["catalog.manifest_s"] = tot(
                "catalog.manifest")
            pruned = [s for s in every if "files_total" in s]
            if pruned:
                m["catalog.files_read_ratio"] = sum(
                    s["files_read"] for s in pruned
                ) / sum(s["files_total"] for s in pruned)

        kernels = kernel_seconds(self.spark, os.path.join(self.work, "profile"))
        writes = 1 + len(ups)  # the set-up build plus traced upserts
        m["kernel.decode_score_s"] = kernels["kernel.decode_score_s"] / max(1, len(qb))
        m["kernel.reduce_topk_s"] = kernels["kernel.reduce_topk_s"] / max(1, len(qb))
        m["kernel.pack_partition_s"] = kernels["kernel.pack_partition_s"] / writes
        m["kernel.assign_ords_s"] = kernels["kernel.assign_ords_s"] / writes

        on, off = self._overhead_sides()
        m["trace.overhead_ms"] = 1e3 * (_median(on) - _median(off))
        m["trace.overhead_frac"] = (
            (_median(on) - _median(off)) / _median(off) if off else 0.0
        )
        return m

    def _overhead_sides(self) -> tuple[list[float], list[float]]:
        """Walls of the traced and the untraced operations: ingest cycles
        (``upsert_docs`` plus ``query_batch``), or first touches of the
        same pool queries in paired episodes."""
        if self.args.workload == "ingest":
            walls = {}
            for r in self.ops:
                key = (r["traced"], r["cycle"])
                walls[key] = walls.get(key, 0.0) + r["wall_s"]
            return ([w for (t, _), w in walls.items() if t],
                    [w for (t, _), w in walls.items() if not t])
        return (self.walls("query", traced=True),
                self.walls("query", traced=False))

    # -- driver -----------------------------------------------------------------

    def run(self, spec: dict) -> dict:
        os.makedirs(self.work)
        os.makedirs(self.results, exist_ok=True)
        try:
            self.make_inputs()
            self.set_up()
            getattr(self, f"run_{self.args.workload}")()
            self.peak_rss_mb = (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            )
            self.check()
            if self.traced:
                names = [m["name"] for m in spec["per_layer"]]
                metrics = self.per_layer(names)
                units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            else:
                metrics = self.end_to_end()
                units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            return self.report(metrics, units)
        finally:
            self.stop()

    def report(self, metrics: dict[str, float], units: dict[str, str]) -> dict:
        failed = sum(r["failed"] for r in self.ops) + self.failed_checks
        attempted = len(self.ops) + self.extra_checks
        stem = os.path.join(
            self.results,
            f"{self.args.workload}_seed{self.args.seed}_trace{self.args.trace}",
        )
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cores": self.cores, "n_convs": N_CONVS, "n_turns": self.n_turns,
            "text_bytes": self.text_bytes, "index_bytes": self.index_bytes,
            "setup": self.setup, "build_phases": self.build_phases,
            "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted,
            "oracle_checked": self.oracle_checked, "notes": self.notes,
            "latency": self._latency_summary(),
            "metrics": metrics,
            "ops": [{k: v for k, v in r.items() if k != "results"}
                    for r in self.ops],
        }
        if self.traced:
            table = self.tracer.self_time_table()
            record["self_times"] = table
            self.tracer.write(stem + ".spans.jsonl")
            with open(stem + ".layers.txt", "w") as f:
                f.write(f"{'span':32} {'calls':>7} {'total_s':>10} {'self_s':>10}\n")
                for row in table:
                    f.write(f"{row['span']:32} {row['calls']:>7} "
                            f"{row['total_s']:>10.4f} {row['self_s']:>10.4f}\n")
                f.write(f"tracing overhead per op: "
                        f"{metrics['trace.overhead_ms']:.3f} ms "
                        f"({100 * metrics['trace.overhead_frac']:.1f} %)\n")
            with open(stem + ".layers.txt") as f:
                sys.stdout.write(f.read())
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        lat = record["latency"]
        head = " ".join(f"{k}={v:.6g}{units[k]}" for k, v in metrics.items()
                        if not self.traced or v)
        print(f"perfbench {self.args.workload} seed={self.args.seed} "
              f"ops={lat['n']} tail=p{lat['tail_pct']}:{lat['tail_ms']:.4g}ms "
              f"queries_per_s={lat['queries_per_s']:.4g} "
              f"error_rate={record['error_rate']:.4g} {head} "
              f"record={os.path.relpath(stem, ROOT)}.json"[:1490])
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def _latency_summary(self) -> dict:
        """Median query call, the highest percentile with ≥ 10 samples
        above it, and queries answered per second of query-call wall."""
        walls = sorted(w * 1e3 for w in self.walls("query"))
        tail_pct = 50
        for pct in (99, 95, 90, 75):
            if len(walls) * (100 - pct) / 100 >= 10:
                tail_pct = pct
                break
        tail = float(np.percentile(walls, tail_pct)) if walls else 0.0
        queries = [r for r in self.ops if r["kind"] != "upsert_docs"]
        return {"n": len(walls), "p50_ms": _median(walls),
                "tail_pct": tail_pct, "tail_ms": tail,
                "queries_per_s": sum(len(r["queries"]) for r in queries)
                / sum(r["wall_s"] for r in queries)}

    def stop(self) -> None:
        if hasattr(self, "_append_run"):
            upsert_mod.append_run = self._append_run
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = Bench(args).run(spec)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
