"""Physical-plan audit → PLANS.md.

Dumps `explain("formatted")` for the engine's headline query shapes and
asserts the plan properties the 100 TB design depends on:

- parquet scans carry PushedFilters / pruned ReadSchema (no full-width
  scans for narrow projections),
- small sides broadcast (no shuffle join against query terms/stats),
- the only wide shuffles are the ones the algorithm requires
  (tf groupBy, range partition for block packing, final per-query agg),
- WholeStageCodegen spans cover the scoring arithmetic.

Usage: python scripts/explain_audit.py  (writes PLANS.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from antidb_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from antidb_spark.functions.analyze import distinct_tokens
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.lookup import KeyedIndex
    from antidb_spark.operators.stats import build_postings
    from antidb_spark.operators.topk import bm25_topk_pinned
    from antidb_spark.synth import synth_transcripts

    spark = get_spark(master="local[8]", app_name="explain_audit")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    sections: list[tuple[str, str, str]] = []

    post = build_postings(docs, id_cols=("doc_id",))
    sections.append((
        "postings build (tokenize→explode→tf groupBy)",
        "ONE shuffle (the tf groupBy with map-side partial aggregation); "
        "tokenizer is JVM split/filter inside WholeStageCodegen — no "
        "Python in the path; scan reads only (doc_id, text).",
        plan_of(post),
    ))

    topk = bm25_topk_pinned(docs, "spark query join performance",
                            k=10, id_cols=("doc_id",))
    sections.append((
        "BM25 top-k, index-free (flagship `entry`)",
        "Query terms / df / corpus stats all broadcast; TakeOrdered for "
        "the limit — no global sort materialization.",
        plan_of(topk),
    ))

    idx = KeyedIndex(docs, distinct_tokens("text"), id_cols=["doc_id"],
                     multi=True)
    sections.append((
        "eq lookup (KeyedIndex point query)",
        "Tiny query side broadcast against the entries relation; the "
        "row fetch is a join back to the base table on doc_id.",
        plan_of(idx.eq("spark", "data")),
    ))

    # physical-index query path: needs a built index. query_batch is
    # driver-planned + eager (above the warm block budget one Spark
    # action and a tiny driver merge; within it no Spark job at all),
    # so the audit captures its Spark tier's chain: manifest-pruned blocks
    # scan → decode+score Arrow stage → ONE hash shuffle on doc_ord →
    # reducer top-k. No dfs/stats joins appear anywhere: df/idf/avgdl
    # ride in the stage closures from driver-side pyarrow reads.
    with tempfile.TemporaryDirectory(prefix="audit_idx_") as root:
        t = synth_transcripts(spark, n_convs=200).cache()
        t.count()
        b = IndexBuilder(spark, root)
        b.build(t)
        plan = b._plan_queries(["the kemuba0 data"])
        blocks = b._blocks_scan(plan["terms"]).filter(
            F.col("term").isin(plan["terms"])
        )
        n_part = spark.sparkContext.defaultParallelism
        bucketed = b._bucketed_contribs(blocks, plan, n_part)
        chain = bucketed.repartition(n_part, "bucket")
        sections.append((
            "indexed BM25 batch (blocks scan → decode+score+pack → one "
            "blob shuffle)",
            "The blocks scan must show PushedFilters: In(term, …) — "
            "file-level manifest pruning happened before the plan (path "
            "list), row-group stats prune inside files. The ONLY exchange "
            "is hashpartitioning(bucket) moving a few hundred packed "
            "binary blob rows (per map-partition, per doc-range bucket) — "
            "not per-posting rows; scoring constants (idf/avgdl) travel "
            "in the closure, never as wide joins.",
            plan_of(chain),
        ))

        b.build_doc_meta(
            t.withColumn(
                "age_days", ((F.col("turn_idx") * 37) % 365).cast("int")
            ),
            ["role", "age_days"],
        )
        sections.append((
            "metadata-filtered BM25 (docmeta late materialization)",
            "The predicate must appear as PushedFilters on the NARROW "
            "docmeta parquet scan (doc_ord + meta cols only — never the "
            "corpus); candidates semi-join docmeta on the dense ordinal "
            "(shuffle sized by candidates + matching docs, broadcast "
            "would be wrong at 10^12 docs); the final docmap resolve "
            "broadcasts only the k winners.",
            plan_of(b.query_filtered("the kemuba0 data", "role = 'user'",
                                     k=5)),
        ))

        sections.append((
            "recency-decayed BM25 (reciprocal age boost)",
            "The decay factor is ONE codegen projection over the "
            "candidate-sized doc_ord join; the docmeta scan must read "
            "ONLY (doc_ord, age_days) — column pruning reaches the "
            "parquet footer, the corpus is never touched — and the "
            "boosted cut stays TakeOrdered (no global sort).",
            plan_of(b.query_decayed("the kemuba0 data", k=5)),
        ))

        sections.append((
            "wildcard top-k (reversed-dictionary expansion)",
            "Expansion is DRIVER-side metadata: the glob's literal "
            "anchor range-prunes the term-sorted terms table (leading "
            "literal) or the rterm-sorted terms_rev reversed dictionary "
            "(trailing literal) via manifest stats + pyarrow — no Spark "
            "job and never an O(vocabulary) scan. The scoring plan is "
            "then identical to the prefix/pinned disjunct: a blocks "
            "scan pruned to the expansions (In(term,…) pushdown), "
            "codegen scoring, TakeOrdered.",
            plan_of(b.query_wildcard("*a3", k=5)),
        ))

        from antidb_spark.operators.phrase import (
            build_positional_index,
            term_positions,
        )

        build_positional_index(b, t)
        sections.append((
            "snippet highlights (term_positions from pos_blocks)",
            "Both block scans prune on term (manifest path list + "
            "In(term,…) row-group pushdown); the top-k doc set is a "
            "k-row BroadcastExchange into the decoded position stream, "
            "so the per-(doc, term) agg moves O(k · positions/doc) rows "
            "regardless of corpus size.",
            plan_of(term_positions(b, "the kemuba0 data", k=5)),
        ))

        probe_ids = [
            (r["conv_id"], int(r["turn_idx"]))
            for r in t.select("conv_id", "turn_idx").limit(2).collect()
        ]
        sections.append((
            "term vectors (doc-keyed termvecs layer probe)",
            "The termvecs scan must be the PRUNED committed layer "
            "(doc_ord-range-sorted files; a 2-doc probe touches a file "
            "subset, never a term-keyed index scan), the k-doc ordinal "
            "relation and per-term hit set ride BroadcastExchanges into "
            "the joins, and no sort-merge join appears anywhere.",
            plan_of(b.term_vectors(probe_ids)),
        ))

        from antidb_spark.operators.keyed import KeyedIndexStore

        st = KeyedIndexStore(spark, os.path.join(root, "keyed"))
        kidx = st.build("doc_tokens", docs, distinct_tokens("text"),
                        id_cols=["doc_id"], multi=True)
        sections.append((
            "persisted keyed eq (covering index)",
            "ONE parquet scan — the committed covering index table (path "
            "list already manifest-pruned to the probe keys); the probe "
            "side is a broadcast of literals; NO base-table scan anywhere.",
            plan_of(kidx.eq("spark", "data")),
        ))

        from antidb_spark.operators.ann import AnnIndexStore

        vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ast = AnnIndexStore(spark, os.path.join(root, "ann"))
        lsh = ast.build_lsh("lsh", vecs, n_partitions=4)
        probe = [float(v) for v in
                 vecs.filter(F.col("vec_id") == 0).first()["embedding"]]
        sections.append((
            "persisted LSH ANN probe",
            "Scan of the committed bucket table only (files pruned by "
            "bkey manifest stats, In(bkey,…) pushed to row groups); "
            "cosine + top-k are codegen'd expressions over the pruned "
            "candidates — no full vectors scan.",
            plan_of(lsh.topk(probe, k=5)),
        ))

        from antidb_spark.operators.federate import federated_topk

        fa = IndexBuilder(spark, os.path.join(root, "fed_a"))
        fa.build(t.filter(F.col("conv_id") < "conv_00000100"))
        fb = IndexBuilder(spark, os.path.join(root, "fed_b"))
        fb.build(t.filter(F.col("conv_id") >= "conv_00000100"))
        sections.append((
            "federated shard search (two segments, global stats)",
            "One manifest-pruned blocks scan PER SEGMENT with In(term,…) "
            "pushdown, scored by the single-index pinned core; the "
            "global df (driver-computed Σ segment dfs), avgdl and N ride "
            "as literals — no terms/stats scan, no df join; each segment "
            "cuts a local top-k on the narrow (doc_ord, score) relation "
            "before its k rows broadcast-join the docmap; the "
            "cross-segment merge is "
            "TakeOrdered over ≤ k·segments rows — nothing global ever "
            "materializes.",
            plan_of(federated_topk(spark, [fa, fb],
                                   "the kemuba0 data", k=5)),
        ))
        t.unpersist()

        sections.append((
            "grouped rollup (conversation-level query_grouped)",
            "Term-pruned blocks scan (In(term,…) pushdown) → decode+score "
            "→ docmap join on doc_ord to resolve the group columns → ONE "
            "map-side-combinable hash aggregate keyed by groups → "
            "TakeOrdered over groups. No corpus scan, no global sort.",
            plan_of(b.query_grouped("the kemuba0 data", ["conv_id"], k=5)),
        ))

        sections.append((
            "per-group top hits (group_top_hits two-phase top-n)",
            "Term-pruned scoring feeds TWO row_number windows: the first "
            "partitioned by (group, shuffle-partition id) — spreading a "
            "hot group across tasks before any per-group sort — the "
            "second (exact) sees only the ≤ n·n_part remnant. The "
            "k_groups winners arrive as a BroadcastExchange filter "
            "BEFORE both windows; the final order is over ≤ k·n rows.",
            plan_of(b.group_top_hits("the kemuba0 data", "conv_id",
                                     n_per_group=2, k_groups=5)),
        ))

        sections.append((
            "rescore window (query_rescored phrase rerank)",
            "The base top-window resolves first (TakeOrdered on the "
            "narrow scored relation); the positional evidence is a "
            "pos_blocks scan with In(term,…) pushdown whose phrase "
            "relation is inner-joined to the broadcast window ids "
            "BEFORE the left join — proximity rows for unranked docs "
            "never cross an exchange; the rescored cut is TakeOrdered.",
            plan_of(b.query_rescored("the kemuba0 data", "the data",
                                     window=20, k=5)),
        ))
        t.unpersist()

    from antidb_spark.operators.dedup import minhash_signatures

    from antidb_spark.sources.catalog import Catalog

    with tempfile.TemporaryDirectory(prefix="audit_tt_") as troot:
        cat = Catalog(spark, troot)
        m1 = cat.write(docs.filter(F.col("doc_id") % 3 == 0), "tt",
                       stats_cols=["doc_id"])
        cat.write(docs.filter(F.col("doc_id") % 3 == 1), "tt",
                  mode="append")
        sections.append((
            "time-travel read (snapshot AS OF)",
            "Snapshot isolation is BY PLAN CONSTRUCTION: the scan's file "
            "index holds exactly the v1 manifest's files (the v2 delta "
            "files never enter the plan) — no filter, no tombstone "
            "anti-join, no runtime cost over a plain scan. The same "
            "mechanism makes uncommitted/crashed-append files invisible "
            "to head reads.",
            plan_of(cat.read_at("tt", m1["snapshot_id"])),
        ))

    sections.append((
        "minhash signatures (JVM aggregate path)",
        "Shingle explode → one xxhash64 per shingle → 64 min-aggregates "
        "with map-side partial aggregation; ONE shuffle keyed on doc_id, "
        "no Python anywhere.",
        plan_of(minhash_signatures(docs)),
    ))

    from antidb_spark.operators.cluster import kmeans_assign
    from antidb_spark.operators.pq import build_pq

    kvecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with tempfile.TemporaryDirectory(prefix="audit_pq_") as pqroot:
        pq = build_pq(spark, pqroot, "pq", kvecs, m=8, k=16, iters=0)
        probe = [float(v) for v in
                 kvecs.filter(F.col("vec_id") == 0).first()["embedding"]]
        pq_plan_df = pq.topk(probe, k=5)
        sections.append((
            "PQ probe (asymmetric-distance scan of the codes table)",
            "A probe is a ZERO-JOIN scan of the narrow committed codes "
            "relation (id + m small ints — ~50× narrower than the "
            "vectors): the m distance tables ride as ONE BROADCAST into "
            "an Arrow-batched numpy kernel (veccarrier.adc_score — plan "
            "size O(1) at any m·k; literals would blow 64 KB codegen at "
            "production m=64/k=256), the cut is TakeOrdered. No vector "
            "bytes are read at query time.",
            plan_of(pq_plan_df),
        ))
        pq_plan = plan_of(pq_plan_df)

    from antidb_spark.operators.pq import build_ivfpq

    with tempfile.TemporaryDirectory(prefix="audit_ivfpq_") as iroot:
        ipq = build_ivfpq(spark, iroot, "ivfpq", kvecs,
                          n_cells=4, coarse_iters=0, m=8, k=16, iters=0)
        probe = [float(v) for v in
                 kvecs.filter(F.col("vec_id") == 0).first()["embedding"]]
        ipq_df = ipq.topk(probe, k=5, n_probe=2)
        sections.append((
            "IVF-PQ probe (cell-pruned residual ADC)",
            "Each probed cell is a SEPARATE manifest-pruned scan of the "
            "cell-sorted codes table — the cell predicate must show as "
            "PushedFilters so row groups outside the probed cells never "
            "decode; per-cell residual distance tables ride as per-cell "
            "broadcasts into the Arrow ADC kernel, the union of n_probe "
            "scans is cut by TakeOrdered. No vector bytes, no joins at "
            "query time.",
            plan_of(ipq_df),
        ))
        ivfpq_plan = plan_of(ipq_df)
    sections.append((
        "k-means assignment (exact-integer Lloyd step)",
        "The k centroids ride ONE BROADCAST into an Arrow-batched int64 "
        "argmin kernel (veccarrier.assign_min_cell): ZERO exchanges "
        "before the final orderBy — the previous crossJoin+groupBy "
        "carrier re-shuffled all N rows per Lloyd round, and literal "
        "centroids would grow the plan by k·dim ints. Update-step sums "
        "(not shown: driver-collected k·dim rows) stay map-combinable.",
        plan_of(kmeans_assign(kvecs, k=4, iters=0)),
    ))

    # Production-shape plan-size ceiling (round-4 verdict): the broadcast
    # carrier must keep the PLAN O(1) at real PQ/IVF sizes — m=64, k=256,
    # dsub=16 (262,144 codebook ints) and 256×1024 kmeans centroids —
    # shapes that as Catalyst literals blew 64 KB JVM codegen limits.
    import numpy as _np

    from antidb_spark.functions.veccarrier import (
        adc_score,
        assign_min_cell,
        pq_encode,
    )

    rng = _np.random.default_rng(0)
    wide = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(1024)),
            lambda i: (i * 2654435761 % 1000003).cast("long"),
        ).alias("qv"),
    )
    enc = pq_encode(
        spark, rng.integers(-1000, 1000, size=(64, 256, 16)).tolist())
    prod_enc_plan = plan_of(
        wide.select("vec_id", enc(F.col("qv")).alias("codes")))
    score_of = adc_score(
        spark, rng.integers(0, 10**6, size=(64, 256)).tolist())
    prod_adc_plan = plan_of(
        wide.select("vec_id", enc(F.col("qv")).alias("codes"))
        .select("vec_id", score_of(F.col("codes")).alias("qdist")))
    cell_of = assign_min_cell(
        spark, rng.integers(-1000, 1000, size=(256, 1024)).tolist())
    prod_asn_plan = plan_of(
        wide.select("vec_id", cell_of(F.col("qv")).alias("cell")))
    sections.append((
        "production-shape PQ/kmeans plans (m=64, k=256, dsub=16)",
        "The 262k-int codebook, 16k-int ADC tables, and 256×1024 "
        "centroid matrix are ABSENT from the plans (broadcast-carried); "
        "each plan stays a few hundred bytes of scan→ArrowEval→project "
        "regardless of codebook shape.",
        f"encode plan {len(prod_enc_plan)} chars / adc plan "
        f"{len(prod_adc_plan)} chars / assign plan "
        f"{len(prod_asn_plan)} chars\n\n" + prod_enc_plan,
    ))

    from antidb_spark.operators.hybrid import hybrid_topk

    vecs_all = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe_all = [float(v) for v in
                 vecs_all.filter(F.col("vec_id") == 0).first()["embedding"]]
    sections.append((
        "hybrid RRF fusion (BM25 × cosine)",
        "Each candidate list is cut to depth with TakeOrdered BEFORE its "
        "single-partition rank window (the window sorts ≤ depth rows, "
        "never the corpus); the fusion join runs over ≤ 2·depth rows and "
        "the final cut is TakeOrdered again. The expensive subtrees "
        "(scoring, cosine) keep their own pruned/codegen shapes.",
        plan_of(hybrid_topk(docs, vecs_all, "spark query join performance",
                            probe_all, k=5)),
    ))

    from antidb_spark.operators.events import sessionize, tumbling_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sections.append((
        "sessionize (gap sessions per user)",
        "ONE exchange keyed on user_id feeds both window stages (lag, "
        "running sum) AND the (user, session) aggregate — "
        "hashpartitioning(user_id) satisfies the refined clustering, so "
        "no second shuffle; per-user sort is the only sort.",
        plan_of(sessionize(ev)),
    ))
    sections.append((
        "tumbling rollup (events)",
        "Pure scan → project (integer bucket arithmetic, codegen) → one "
        "map-side-combinable hash aggregate. Narrow ReadSchema (ts, "
        "event_type, value only).",
        plan_of(tumbling_counts(ev)),
    ))
    from antidb_spark.operators.events import sliding_counts

    sections.append((
        "sliding rollup (hopping windows, events)",
        "Scan → codegen sequence/explode fan-out (exactly width/slide "
        "rows per event, no post-filter) → ONE map-side-combinable "
        "hash aggregate; the shuffle carries pre-aggregated partials, "
        "not the fan-out. Narrow ReadSchema.",
        plan_of(sliding_counts(ev, 60, 15)),
    ))

    from antidb_spark.functions.analyze import tokens
    from antidb_spark.operators.dedup import decontaminate
    from antidb_spark.operators.textstats import redact_pii, repetition_stats

    sections.append((
        "repetition stats (Gopher rules)",
        "Duplicate fractions are per-row array expressions on the scan "
        "side (no shuffle); the top-2-gram coverage is explode → "
        "groupBy(doc, gram) → groupBy(doc) max, then a doc_id join back "
        "— every aggregate map-side combinable, no Python anywhere.",
        plan_of(repetition_stats(docs)),
    ))
    sections.append((
        "PII redaction",
        "Pure scan → project: regex counts and replacements are codegen "
        "expressions; zero exchanges.",
        plan_of(redact_pii(docs)),
    ))
    bench_set = docs.filter(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 4, 10), " ").alias("bench_text"),
    )
    sections.append((
        "decontamination (corpus vs benchmark 5-grams)",
        "Corpus grams dedupe with one doc-keyed aggregate; the benchmark "
        "side and the hot-gram cap are BROADCAST (left_anti + inner) — "
        "the contamination join never shuffles the corpus gram stream.",
        plan_of(decontaminate(docs, bench_set)),
    ))

    from antidb_spark.operators.datasets import dataset_split
    from antidb_spark.operators.dedup import resolve_exact_dups
    from antidb_spark.operators.textstats import top_terms

    sections.append((
        "dataset split (hash bucket assignment)",
        "Pure scan → project: md5 bucket + when-chain are codegen "
        "expressions, zero exchanges — split assignment never moves "
        "data.",
        plan_of(dataset_split(docs)),
    ))
    sections.append((
        "exact-dup resolution (canonical keep)",
        "ONE digest-keyed exchange feeds the min window; no join back "
        "to the corpus.",
        plan_of(resolve_exact_dups(docs)),
    ))
    sections.append((
        "tf-idf keywords (per-doc top-m)",
        "tf groupBy is the only corpus-wide shuffle; the (term, df) "
        "aggregate joins via AQE (broadcast at this vocabulary size), "
        "n_docs is a broadcast single row, and the per-doc cut is a "
        "row_number window on the doc key.",
        plan_of(top_terms(docs)),
    ))

    from antidb_spark.operators.datasets import (
        pack_sequences,
        stratified_sample,
    )

    sections.append((
        "stratified sampling (per-stratum hash rates)",
        "Pure scan → project → filter: bucket md5 and the threshold "
        "when-chain are codegen expressions, zero exchanges — "
        "rebalancing never moves data.",
        plan_of(stratified_sample(
            docs, {"en": 0.5, "de": 1.0}, "lang", default_rate=0.1,
        )),
    ))
    sections.append((
        "sequence packing (concat-and-chunk)",
        "ONE range exchange on doc_id (the prefix-sum sort); the cumsum "
        "itself is a single Arrow mapInPandas over the sorted "
        "partitions (per-partition offsets arrive from a one-row-per-"
        "partition driver collect, never a single-partition window), "
        "and the pack slicing is codegen sequence/explode arithmetic.",
        plan_of(pack_sequences(docs, budget=256)),
    ))

    from antidb_spark.operators.datasets import mix_epochs

    sections.append((
        "epoch mixing (per-stratum repetition weights)",
        "Zero exchanges: the epoch count is a codegen when-chain + "
        "bucket comparison and the repetition is sequence/explode with "
        "fan-out ceil(w) per row — mixture reweighting never shuffles.",
        plan_of(mix_epochs(
            docs, {"en": 2.5, "de": 1.0, "fr": 0.25}, "lang",
            default_weight=0.5,
        )),
    ))

    from antidb_spark.operators.datasets import (
        assemble_packs,
        shuffle_order,
    )

    sections.append((
        "pack assembly (training-example materialization)",
        "ONE pack-keyed hash aggregate over the slice relation (counts "
        "and sums partial/map-side; sort_array replaces a per-group "
        "window) on top of packing's single range exchange.",
        plan_of(assemble_packs(pack_sequences(docs, budget=256))),
    ))
    sections.append((
        "training-order shuffle (md5-ranked positions)",
        "ONE range exchange on the md5 key (the ordinal numbering "
        "pass); positions come from the Arrow cumsum, never a "
        "single-partition row_number window.",
        plan_of(shuffle_order(docs)),
    ))

    from antidb_spark.operators.stats import exact_quantiles

    sections.append((
        "exact quantiles (order statistics by rank)",
        "ONE range exchange on the value column (the ordinal numbering "
        "pass), target ranks arrive as a BROADCAST hash join — no "
        "single-reducer percentile buffer, per-partition work bounded "
        "at any scale.",
        plan_of(exact_quantiles(docs, "n_chars", (0.5, 0.9, 0.99))),
    ))

    from antidb_spark.operators.percolate import percolate

    perc_queries = spark.createDataFrame(
        [("q1", "spark join"), ("q2", "window merge sort")],
        "query_id string, query_text string",
    )
    sections.append((
        "percolate (standing-query matching)",
        "The registered query side broadcasts twice (terms, term "
        "counts); the only exchange is the doc-keyed match aggregate — "
        "per-batch cost is O(batch tokens), never O(corpus). The same "
        "broadcast shape is pinned at 10,000 registered queries by "
        "tests/test_explain_percolate.py::"
        "test_percolate_scale_broadcast_and_correct (BroadcastHashJoin, "
        "no SortMergeJoin, ≤2 hash exchanges — the match aggregate's "
        "partial/final pair).",
        plan_of(percolate(docs, perc_queries)),
    ))

    from antidb_spark.functions.analyze import tokens
    from antidb_spark.operators.sketches import (
        bloom_bits,
        bloom_check,
        cms_estimate,
        cms_sketch,
        hll_registers,
    )

    sk_toks = docs.select(F.explode(tokens("text")).alias("term"))
    sections.append((
        "HLL registers (bounded-state distinct sketch)",
        "ONE exchange: the bucket groupBy with map-side partial_max — "
        "every partition reduces to ≤256 rows before the shuffle, so "
        "shuffle volume and result size are O(256) at any input size; "
        "no Python anywhere.",
        plan_of(hll_registers(sk_toks)),
    ))
    sections.append((
        "Count-Min grid (bounded-state frequency sketch)",
        "ONE exchange: the (row, cell) groupBy with map-side "
        "partial_sum — the grid is 4×1024 cells, so the shuffle writes "
        "≤4096 rows per partition regardless of corpus size.",
        plan_of(cms_sketch(sk_toks)),
    ))
    sk_probes = spark.createDataFrame([("spark",), ("join",)], ["term"])
    sections.append((
        "sketch probes (CMS point estimate + Bloom membership)",
        "Probe sides BROADCAST into the fixed-size sketch relations; "
        "no sort-merge join can appear at any probe-set size.",
        plan_of(cms_estimate(cms_sketch(sk_toks), sk_probes))
        + plan_of(bloom_check(bloom_bits(sk_toks), sk_probes)),
    ))

    from antidb_spark.operators.datasets import chunk_docs

    sections.append((
        "doc chunking (RAG-style overlap windows)",
        "ZERO exchanges: tokenize → sequence/explode chunk enumeration "
        "→ slice/array_join rematerialization is one codegen "
        "scan→project; the scan reads only (doc_id, text); no Python.",
        plan_of(chunk_docs(docs, chunk_tokens=32, overlap=8)),
    ))

    from antidb_spark.operators.temporal import asof_join, banded_range_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click")
    views = events.filter(F.col("event_type") == "view")
    sections.append((
        "as-of join (latest right ≤ left per key)",
        "Union-tag + last-ignore-nulls window: ONE hash exchange on the "
        "key (the same a groupBy would pay), O(1) window state per row, "
        "NO join operator — a range join would explode, a per-key loop "
        "wouldn't distribute.",
        plan_of(asof_join(clicks, views, key="user_id")),
    ))
    purchases = events.filter(F.col("event_type") == "purchase")
    errors = events.filter(F.col("event_type") == "error")
    sections.append((
        "banded range join (|Δts| ≤ band per key)",
        "Bucketized equi-join: left fans out ×3 on the band-width time "
        "bucket, join key is (key, bucket), exact band filter "
        "post-join. Shuffle volume 3×|left| + |right| — never the "
        "O(n·m) a naive range predicate degenerates to.",
        plan_of(banded_range_join(purchases, errors, key="user_id",
                                  band_seconds=600)),
    ))

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — physical-plan audit of headline queries\n\n")
        f.write("Generated by `scripts/explain_audit.py` "
                f"(sf_dir={sf_dir}).\n\n")
        for title, note, plan in sections:
            f.write(f"## {title}\n\n{note}\n\n```\n{plan}\n```\n\n")
        # quick property asserts, recorded in the artifact
        by_title = {t: p for t, _n, p in sections}
        checks = []
        blocks_plan = by_title[
            "indexed BM25 batch (blocks scan → decode+score+pack → one "
            "blob shuffle)"
        ]
        checks.append(("blocks scan has term pushdown",
                       "In(term" in blocks_plan
                       or "EqualTo(term" in blocks_plan))
        checks.append(("indexed batch: one bucket blob exchange, no wide "
                       "joins",
                       blocks_plan.count("hashpartitioning(bucket") == 1
                       and "SortMergeJoin" not in blocks_plan))
        topk_plan = by_title["BM25 top-k, index-free (flagship `entry`)"]
        checks.append(("topk uses TakeOrdered",
                       "TakeOrdered" in topk_plan))
        checks.append(("topk broadcasts stats",
                       "BroadcastExchange" in topk_plan))
        post_plan = by_title["postings build (tokenize→explode→tf groupBy)"]
        checks.append(("postings one Exchange only",
                       post_plan.count("+- Exchange") +
                       post_plan.count(":- Exchange") <= 2))
        keyed_plan = by_title["persisted keyed eq (covering index)"]
        checks.append(("keyed eq: single covering scan, probe broadcast",
                       keyed_plan.count("Location: InMemoryFileIndex") == 1
                       and "BroadcastExchange" in keyed_plan))
        lsh_plan = by_title["persisted LSH ANN probe"]
        checks.append(("lsh probe: bkey pushdown",
                       "In(bkey" in lsh_plan))
        mh_plan = by_title["minhash signatures (JVM aggregate path)"]
        checks.append(("minhash: no Python eval in plan",
                       "Python" not in mh_plan and "ArrowEval" not in mh_plan))
        filt_plan = by_title[
            "metadata-filtered BM25 (docmeta late materialization)"
        ]
        checks.append(("filtered: predicate pushed into docmeta scan",
                       "EqualTo(role,user)" in filt_plan))
        checks.append(("filtered: k-row docmap resolve broadcasts",
                       "BroadcastExchange" in filt_plan))
        dec_plan = by_title["recency-decayed BM25 (reciprocal age boost)"]
        checks.append(("decay: docmeta scan pruned to doc_ord+age_days",
                       "age_days:int" in dec_plan
                       and "role" not in dec_plan))
        checks.append(("decay: boosted cut is TakeOrdered",
                       "TakeOrderedAndProject" in dec_plan))
        snip_plan = by_title[
            "snippet highlights (term_positions from pos_blocks)"
        ]
        checks.append(("snippet: term pushdown on pos_blocks scan",
                       "In(term" in snip_plan
                       or "EqualTo(term" in snip_plan))
        checks.append(("snippet: top-k doc set broadcast into positions",
                       "BroadcastExchange" in snip_plan))
        fed_plan = by_title[
            "federated shard search (two segments, global stats)"
        ]
        checks.append(("federated: term pushdown on BOTH segment scans",
                       fed_plan.count("In(term") >= 2
                       or fed_plan.count("EqualTo(term") >= 2))
        checks.append(("federated: k-row docmap resolve broadcasts, no "
                       "sort-merge join",
                       "BroadcastExchange" in fed_plan
                       and "SortMergeJoin" not in fed_plan))
        checks.append(("federated: cross-segment merge is TakeOrdered",
                       "TakeOrdered" in fed_plan))
        grp_plan = by_title[
            "grouped rollup (conversation-level query_grouped)"
        ]
        checks.append(("grouped: term pushdown on blocks scan",
                       "In(term" in grp_plan or "EqualTo(term" in grp_plan))
        checks.append(("grouped: group cut is TakeOrdered, no global sort",
                       "TakeOrderedAndProject" in grp_plan))
        hyb_plan = by_title["hybrid RRF fusion (BM25 × cosine)"]
        checks.append(("hybrid: both lists depth-cut via TakeOrdered "
                       "before the rank windows",
                       hyb_plan.count("TakeOrderedAndProject") >= 3
                       and hyb_plan.count("Window") >= 2))
        sess_plan = by_title["sessionize (gap sessions per user)"]
        checks.append(("sessionize: ONE exchange serves windows AND the "
                       "session aggregate",
                       sess_plan.count("+- Exchange") +
                       sess_plan.count(":- Exchange") == 1))
        checks.append(("sessionize: narrow ReadSchema (3 cols)",
                       "struct<event_id:bigint,ts:timestamp_ntz,"
                       "user_id:bigint>" in sess_plan))
        tum_plan = by_title["tumbling rollup (events)"]
        checks.append(("tumbling: single map-combinable aggregate",
                       tum_plan.count("+- Exchange") +
                       tum_plan.count(":- Exchange") == 1
                       and "partial_sum" in tum_plan))
        sld_plan = by_title["sliding rollup (hopping windows, events)"]
        checks.append(("sliding: one map-combinable aggregate, explode "
                       "fan-out stays pre-shuffle",
                       sld_plan.count("+- Exchange") +
                       sld_plan.count(":- Exchange") == 1
                       and "partial_sum" in sld_plan
                       and "Generate" in sld_plan))
        chk_plan = by_title["doc chunking (RAG-style overlap windows)"]
        checks.append(("chunking: zero exchanges, no Python, narrow scan",
                       "Exchange" not in chk_plan
                       and "Python" not in chk_plan
                       and "struct<doc_id:bigint,text:string>" in chk_plan))
        tv_plan = by_title["term vectors (doc-keyed termvecs layer probe)"]
        checks.append(("term vectors: broadcast joins only (no "
                       "sort-merge), doc_ord pushdown on the termvecs "
                       "scan",
                       "BroadcastExchange" in tv_plan
                       and "SortMergeJoin" not in tv_plan
                       and "In(doc_ord" in tv_plan))
        rep_plan = by_title["repetition stats (Gopher rules)"]
        checks.append(("repetition: no Python eval in plan",
                       "Python" not in rep_plan
                       and "ArrowEval" not in rep_plan))
        checks.append(("repetition: scan reads only (doc_id, text)",
                       "struct<doc_id:bigint,text:string>" in rep_plan))
        pii_plan = by_title["PII redaction"]
        checks.append(("pii: zero exchanges (scan→project only)",
                       "Exchange" not in pii_plan))
        dec_plan = by_title["decontamination (corpus vs benchmark 5-grams)"]
        checks.append(("decontam: benchmark+cap joins broadcast, no "
                       "sort-merge join",
                       "BroadcastExchange" in dec_plan
                       and "SortMergeJoin" not in dec_plan))
        spl_plan = by_title["dataset split (hash bucket assignment)"]
        checks.append(("dataset split: zero exchanges",
                       "Exchange" not in spl_plan))
        res_plan = by_title["exact-dup resolution (canonical keep)"]
        checks.append(("dedup resolve: one fp-keyed exchange, no joins",
                       res_plan.count("+- Exchange") +
                       res_plan.count(":- Exchange") == 1
                       and "Join" not in res_plan))
        kw_plan = by_title["tf-idf keywords (per-doc top-m)"]
        checks.append(("keywords: no Python eval, window cut present",
                       "Python" not in kw_plan and "ArrowEval" not in kw_plan
                       and "Window" in kw_plan))
        perc_plan = by_title["percolate (standing-query matching)"]
        checks.append(("percolate: query side broadcast, no sort-merge "
                       "join",
                       "BroadcastExchange" in perc_plan
                       and "SortMergeJoin" not in perc_plan))
        gth_plan = by_title["per-group top hits (group_top_hits "
                            "two-phase top-n)"]
        checks.append(("group_top_hits: two-phase windows + broadcast "
                       "winners, no sort-merge join",
                       gth_plan.count("Window") >= 2
                       and "BroadcastExchange" in gth_plan
                       and "SortMergeJoin" not in gth_plan))
        res_plan2 = by_title["rescore window (query_rescored phrase "
                             "rerank)"]
        checks.append(("rescored: pos_blocks term pushdown, window ids "
                       "broadcast, TakeOrdered cut",
                       "pos_blocks" in res_plan2
                       and "BroadcastExchange" in res_plan2
                       and "TakeOrderedAndProject" in res_plan2
                       and "SortMergeJoin" not in res_plan2))
        checks.append(("pq probe: zero-join codes scan, TakeOrdered, "
                       "Arrow-batched ADC (no row-at-a-time Python)",
                       "Join" not in pq_plan
                       and "TakeOrderedAndProject" in pq_plan
                       and "BatchEvalPython" not in pq_plan
                       and "ArrowEvalPython" in pq_plan))
        checks.append(("ivfpq probe: cell pushdown on the codes scans, "
                       "TakeOrdered, no joins",
                       "PushedFilters: [IsNotNull(cell), EqualTo(cell"
                       in ivfpq_plan
                       and "TakeOrderedAndProject" in ivfpq_plan
                       and "Join" not in ivfpq_plan))
        km_plan = by_title["k-means assignment (exact-integer Lloyd step)"]
        checks.append(("kmeans: broadcast-carrier argmin — zero "
                       "exchanges before the output sort, Arrow-batched "
                       "kernel, no joins, no row-at-a-time Python",
                       "Join" not in km_plan
                       and "ArrowEvalPython" in km_plan
                       and "BatchEvalPython" not in km_plan
                       and km_plan.count("Exchange") <= 2))
        checks.append(("production shape (m=64,k=256,dsub=16): plans "
                       "stay O(1) — no codebook/centroid literals",
                       len(prod_enc_plan) < 8000
                       and len(prod_adc_plan) < 8000
                       and len(prod_asn_plan) < 8000
                       and "ArrowEvalPython" in prod_enc_plan))
        hll_plan = by_title["HLL registers (bounded-state distinct sketch)"]
        checks.append(("hll: one map-combinable exchange (partial_max), "
                       "no Python",
                       hll_plan.count("+- Exchange") +
                       hll_plan.count(":- Exchange") == 1
                       and "partial_max" in hll_plan
                       and "Python" not in hll_plan))
        cmsg_plan = by_title["Count-Min grid (bounded-state frequency "
                             "sketch)"]
        checks.append(("cms grid: one map-combinable exchange "
                       "(partial_sum), no Python",
                       cmsg_plan.count("+- Exchange") +
                       cmsg_plan.count(":- Exchange") == 1
                       and "partial_sum" in cmsg_plan
                       and "Python" not in cmsg_plan))
        skp_plan = by_title["sketch probes (CMS point estimate + Bloom "
                            "membership)"]
        checks.append(("sketch probes: broadcast joins only, no "
                       "sort-merge join",
                       "BroadcastExchange" in skp_plan
                       and "SortMergeJoin" not in skp_plan))
        asof_plan = by_title["as-of join (latest right ≤ left per key)"]
        checks.append(("asof: one key exchange, window composition, "
                       "no join operator",
                       asof_plan.count("hashpartitioning(user_id") == 1
                       and "Join" not in asof_plan
                       and "Window" in asof_plan))
        rng_plan = by_title["banded range join (|Δts| ≤ band per key)"]
        checks.append(("range join: equi-join on (key, bucket), no "
                       "cartesian / broadcast-nested-loop",
                       "CartesianProduct" not in rng_plan
                       and "BroadcastNestedLoopJoin" not in rng_plan))
        pinned = [
            "metadata-filtered BM25 (docmeta late materialization)",
            "recency-decayed BM25 (reciprocal age boost)",
            "grouped rollup (conversation-level query_grouped)",
            "wildcard top-k (reversed-dictionary expansion)",
            "snippet highlights (term_positions from pos_blocks)",
            "federated shard search (two segments, global stats)",
            "per-group top hits (group_top_hits two-phase top-n)",
            "rescore window (query_rescored phrase rerank)",
        ]
        meta_scan = re.compile(r"InMemoryFileIndex \[[^\]]*/(terms|stats)/")
        checks.append(("pinned family: df/N/avgdl are literals — no terms "
                       "or stats table scan in filtered, decayed, "
                       "grouped, wildcard, snippet, federated, "
                       "group_top_hits or rescored",
                       not any(meta_scan.search(by_title[t])
                               for t in pinned)))
        f.write("## Property checks\n\n")
        for name, ok in checks:
            f.write(f"- {'PASS' if ok else 'FAIL'}: {name}\n")
    print(f"wrote {out}")
    bad = [n for n, ok in checks if not ok]
    if bad:
        print("FAILED checks:", bad)
        sys.exit(1)


if __name__ == "__main__":
    main()
