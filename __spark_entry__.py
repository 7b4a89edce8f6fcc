"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Cross-engine float discipline: every query whose output contains doubles
pins the association order of float sums (sorted-term fixed-order adds)
and rounds at the output boundary, so Spark and DuckDB produce identical
values (see antidb_spark.operators.topk.bm25_topk_pinned).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import (
    distinct_tokens,
    py_tokens,
    sql_tokens,
    tokens,
)
from antidb_spark.functions.bm25 import sql_contribution
from antidb_spark.operators.lookup import (
    KeyedIndex,
    annotate,
    lookup_with_fallback,
)
from antidb_spark.operators.stats import (
    build_postings,
    corpus_stats,
    doc_lengths,
    term_dfs,
)
from antidb_spark.operators.topk import bm25_topk_pinned

DOC_ID = ("doc_id",)
FLAGSHIP_QUERY = "spark query join performance"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# DuckDB CTE producing the same (doc_id, term) token stream as the Spark
# analyzer (shared-analyzer invariant).
def _tok_cte(src: str = "documents") -> str:
    return (
        f"tok AS (SELECT doc_id, t.term AS term FROM {src}, "
        f"unnest({sql_tokens('text')}) AS t(term) WHERE t.term <> '')"
    )


TOK_CTE = _tok_cte()
POST_CTE = (
    "post AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok "
    "GROUP BY term, doc_id)"
)
DL_CTE = "dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM post GROUP BY doc_id)"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents."""
    corpus = _docs(spark, "/root/testdata/sf0.001")
    return bm25_topk_pinned(corpus, FLAGSHIP_QUERY, k=10, id_cols=DOC_ID)


# --- queries ------------------------------------------------------------


def _q_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P6: tokenize → explode → count per term."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_postings(_docs(spark, sf_dir), id_cols=DOC_ID)


def _q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_dfs(build_postings(_docs(spark, sf_dir), id_cols=DOC_ID))


def _q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_lengths(
        build_postings(_docs(spark, sf_dir), id_cols=DOC_ID), id_cols=DOC_ID
    )


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = corpus_stats(
        doc_lengths(
            build_postings(_docs(spark, sf_dir), id_cols=DOC_ID), id_cols=DOC_ID
        )
    )
    return st.select("n_docs", F.round("avgdl", 6).alias("avgdl"))


def _q_topk_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk_pinned(_docs(spark, sf_dir), FLAGSHIP_QUERY, k=10, id_cols=DOC_ID)


def _doc_index(spark: SparkSession, sf_dir: str) -> KeyedIndex:
    """Inverted index over documents: KeyedIndex with deduplicated token
    keys (the reference's test_mtd shape, tests.py:689-693)."""
    return KeyedIndex(
        _docs(spark, sf_dir), distinct_tokens("text"), id_cols=["doc_id"],
        multi=True,
    )


EQ_PROBES = ["spark", "zzzmiss", "data"]
DUMP_PROBES = ["spark", "sprk", "zzz", "data"]
FB_PROBES = ["spark", "sprk", "zzz"]
FB_SYNONYMS = [("sprk", "spark"), ("zzz", "nothing")]
RNG_LO, RNG_HI = "query", "sort"


def _q_eq_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4/Q5: batch point lookup, per-query groups, join back to base."""
    return _doc_index(spark, sf_dir).eq(*EQ_PROBES)


def _q_rng_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: inclusive range over the term space (multiset: one row per
    matching (term, doc) pair)."""
    return _doc_index(spark, sf_dir).rng(RNG_LO, RNG_HI)


def _q_lookup_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 dump side: probes with no posting (left-anti)."""
    probes = spark.createDataFrame([(p,) for p in DUMP_PROBES], "probe string")
    _ann, dump = annotate(probes, "probe", _doc_index(spark, sf_dir))
    return dump


def _q_fallback_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: lookup with synonym fallback, first hit wins."""
    probes = spark.createDataFrame([(p,) for p in FB_PROBES], "probe string")
    syn = spark.createDataFrame(FB_SYNONYMS, "syn_from string, syn_to string")
    return lookup_with_fallback(probes, "probe", _doc_index(spark, sf_dir), syn)


def _q_interval_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 interval expansion at the relational level: one row per covered
    day per order, then per-day coverage counts."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.select(
            F.explode(
                F.expr(
                    "sequence(to_date(o_orderdate), "
                    "date_add(to_date(o_orderdate), cast(o_orderkey % 4 as int)), "
                    "interval 1 day)"
                )
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- physical-index path (M2): build in a temp dir, query pinned ----


def _q_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Idx→Prs analog: build the packed posting-block index over
    documents (shared committed build, the build-once/query-many
    shape), then answer the flagship query from the index tables.
    Must be value-identical to `topk_bm25` (same oracle)."""
    return _entry_index(spark, sf_dir).query_pinned(FLAGSHIP_QUERY, k=10)


_ENTRY_IDX: dict[str, object] = {}


def _entry_index(spark: SparkSession, sf_dir: str):
    """Shared committed index over documents for the index-served
    entries (filtered / conjunctive / snippet): base tables +
    ``docmeta(lang, source)`` + ``pos_blocks``, built ONCE per sf_dir in
    a process-lifetime temp dir — the build-once/query-many Idx→Prs
    shape (idx.py:85-92 ↔ prs.py:27-38) without re-paying the build per
    entry."""
    b = _ENTRY_IDX.get(sf_dir)
    if b is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.operators.build import IndexBuilder
        from antidb_spark.operators.phrase import build_positional_index

        root = tempfile.mkdtemp(prefix="antidb_entry_shared_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        b = IndexBuilder(spark, root, id_cols=DOC_ID)
        d = _docs(spark, sf_dir)
        b.build(d)
        # deterministic per-doc age (days) for recency-decayed ranking;
        # doc_id % 365 so the DuckDB oracle recomputes it exactly
        b.build_doc_meta(
            d.withColumn(
                "age_days", (F.col("doc_id") % F.lit(365)).cast("int")
            ),
            ["lang", "source", "n_chars", "age_days"],
        )
        build_positional_index(b, d)
        _ENTRY_IDX[sf_dir] = b
    return b


FILTER_WHERE = "lang = 'en'"
CONJ_QUERY = "spark query"


def _q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search: top-k BM25 restricted to docs matching a
    metadata predicate evaluated on the committed ``docmeta`` table
    (late materialization; ranking stats stay corpus-global). The
    unfiltered flagship top-10 is language-mixed, so the predicate
    provably changes the result set."""
    return _entry_index(spark, sf_dir).query_filtered(
        FLAGSHIP_QUERY, FILTER_WHERE, k=10
    )


def _q_conjunctive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND mode: only docs containing EVERY query term rank
    (309 matching docs at sf0.01 — non-vacuous)."""
    return _entry_index(spark, sf_dir).query_pinned(
        CONJ_QUERY, k=10, require_all=True
    )


NOT_TERM = "join"


def _q_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean NOT: flagship ranking with docs containing an excluded
    term anti-joined out ("spark query performance -join"); excluded
    docs sit in the unfiltered top-10, so the exclusion provably
    changes the result."""
    return _entry_index(spark, sf_dir).query_pinned(
        FLAGSHIP_QUERY, k=10, exclude=NOT_TERM
    )


# must/should/must_not chosen so every clause provably bites at
# sf0.01 (verified against the oracle): the rare high-IDF "dup"
# (df=25) dominates the disjunctive ranking, so requiring the dense
# "spark" drops dup-docs lacking it from the top-10, and excluding
# "join" knocks out further survivors — plain, must-only, and full
# bool top-10s are pairwise distinct, and the result still has 10 rows.
BOOL_MUST, BOOL_SHOULD, BOOL_NOT = "spark", "dup query", "join"


def _q_bool_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed bool query (the search-DSL must/should/must_not shape):
    docs MUST contain 'spark', 'dup query' only adds score, docs with
    'join' are excluded."""
    return _entry_index(spark, sf_dir).query_bool(
        must=BOOL_MUST, should=BOOL_SHOULD, must_not=BOOL_NOT, k=10
    )


# min_should_match=2 over optional terms {dup, query} with must=spark:
# the candidate set shrinks from the ~385 spark-docs to the 15 docs
# containing all three terms — the knob provably bites while the
# top-10 stays full (verified at sf0.01).
BOOL_MSM = 2


def _q_bool_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_should_match (the Lucene/ES knob): docs MUST contain
    'spark' AND at least 2 distinct optional terms of {dup, query};
    all three terms score."""
    return _entry_index(spark, sf_dir).query_bool(
        must=BOOL_MUST, should=BOOL_SHOULD, k=10,
        min_should_match=BOOL_MSM,
    )


# synonym groups chosen so BOTH sides of the blending contract show at
# sf0.01: "join" absorbs the dense "merge" (docs matching only via
# merge join the candidate set — 5 of 10 top-10 positions change vs the
# plain flagship), while "query" absorbs the rare "dup" (df=25) WITHOUT
# upsetting the ranking — under per-term scoring dup's inflated idf
# dominates (see BOOL_SHOULD above); blended df keeps the group's idf
# at "query" grade, which is exactly what SynonymQuery semantics are
# for.
SYNONYMS = {"query": ["dup"], "join": ["merge"]}


def _q_synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synonym-group ranking (Lucene SynonymQuery contract): each query
    token + its synonyms score as ONE logical term — tf summed over
    members per doc, df = docs containing ANY member."""
    return _entry_index(spark, sf_dir).query_synonyms(
        FLAGSHIP_QUERY, synonyms=SYNONYMS, k=10
    )


# BM25F over (text, source): "src2" matches ONLY via the source field
# (the text vocabulary has no srcN tokens), so the fielded blend
# provably reshapes the flagship ranking — docs from source src2 get a
# constant pseudo-tf boost saturated through the shared k1, while text
# terms keep differentiating within them.
BM25F_FIELDS = ["text", "source"]
BM25F_WEIGHTS = {"text": 1.0, "source": 1.5}
BM25F_QUERY = f"{FLAGSHIP_QUERY} src2"

_FIELDED_IDX: dict[str, object] = {}


def _entry_fielded(spark: SparkSession, sf_dir: str):
    """Per-field committed sub-indexes over documents (text + source),
    built once per process — the multi-index-coexistence shape
    (idx.py:56-61) lifted to fielded search."""
    fx = _FIELDED_IDX.get(sf_dir)
    if fx is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.operators.fielded import FieldedIndex

        root = tempfile.mkdtemp(prefix="antidb_entry_fielded_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        fx = FieldedIndex(spark, root, fields=BM25F_FIELDS, id_cols=DOC_ID)
        fx.build(_docs(spark, sf_dir))
        _FIELDED_IDX[sf_dir] = fx
    return fx


def _q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field BM25F ranking: per-field length-normalized tfs
    blended into one pseudo-frequency before a single document-level
    idf (the Lucene/Robertson BM25F contract) — served from per-field
    committed indexes."""
    return _entry_fielded(spark, sf_dir).query_bm25f(
        BM25F_QUERY, weights=BM25F_WEIGHTS, k=10
    )


_DEL_IDX: dict[str, object] = {}
N_DELETED = 3  # the flagship top-3 get tombstoned in the delete entry


def _entry_deleted_index(spark: SparkSession, sf_dir: str):
    """A COPY of the shared entry index with the flagship query's top-3
    docs tombstoned (O(delta) deletes, build.py delete_docs): built once
    per process so the shared index other entries use stays pristine."""
    b = _DEL_IDX.get(sf_dir)
    if b is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.operators.build import IndexBuilder

        src = _entry_index(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="antidb_entry_del_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        shutil.rmtree(root)
        shutil.copytree(src.root, root)
        b = IndexBuilder(spark, root, id_cols=DOC_ID)
        top = src.query_pinned(FLAGSHIP_QUERY, k=N_DELETED).toPandas()
        n = b.delete_docs([(int(d),) for d in top["doc_id"]])
        assert n == N_DELETED
        _DEL_IDX[sf_dir] = b
    return b


def _q_deleted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone deletes: the flagship ranking after its own top-3 docs
    are deleted (segment-style visibility — results exclude them
    instantly, ranking statistics stay as-built until purge, which is
    exactly what the oracle recomputes: full-corpus df/avgdl/N with the
    deleted ids filtered from the result set)."""
    return _entry_deleted_index(spark, sf_dir).query_pinned(
        FLAGSHIP_QUERY, k=10
    )


def _q_snippet_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highlight positions for the flagship top-10, served from the
    committed positional index (what a result-snippet renderer
    consumes): (doc_id, term, first_pos, n_hits)."""
    from antidb_spark.operators.phrase import term_positions

    return term_positions(_entry_index(spark, sf_dir), FLAGSHIP_QUERY, k=10)


PREFIX_PAT = "s"  # expands to scan/slow/small/sort/spark/stream at test SF


def _q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix/wildcard search ("s*"): driver-side expansion from the
    range-pruned terms table (B+tree-descent analog), each expansion
    scored with its own idf — multi-term disjunct over the committed
    index."""
    return _entry_index(spark, sf_dir).query_prefix(PREFIX_PAT, k=10)


WILDCARD_PAT = "*eam"  # trailing-literal anchor → reversed dictionary


def _q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-wildcard search ("*eam"): expansion served by a manifest
    RANGE prune over the committed rterm-sorted reversed dictionary
    (``terms_rev``, the Lucene reversed-wildcard-field technique — no
    O(vocabulary) scan), each expansion scored with its own idf."""
    b = _entry_index(spark, sf_dir)
    b._ensure_terms_rev()
    return b.query_wildcard(WILDCARD_PAT, k=10)


MLT_DOC, MLT_M = 7, 3


def _q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-document: the m most characteristic terms of doc 7
    (source tf × corpus idf, Lucene MLT selection) become the ranking
    disjunct. Term selection is driver-side from the committed terms/
    stats tables; the oracle recomputes the selection in SQL."""
    b = _entry_index(spark, sf_dir)
    text = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") == MLT_DOC)
        .select("text")
        .collect()[0]["text"]
    )
    return b.more_like_this(text, m=MLT_M, k=10)


def _q_paged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-after paging: page 2 of the flagship ranking, requested
    with the (score, doc_id) cursor of page 1's last row — the
    deep-pagination contract (no OFFSET recompute). Oracle = the same
    ranking with OFFSET 10, proving cursor == offset semantics."""
    b = _entry_index(spark, sf_dir)
    page1 = b.query_pinned(FLAGSHIP_QUERY, k=10).collect()
    last = page1[-1]
    return b.query_pinned(
        FLAGSHIP_QUERY, k=10, after=(last["score"], last["doc_id"])
    )


def _q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-facet aggregation: per-language doc counts over every doc
    matching the flagship query (scoring skipped — candidates from
    pruned postings, facet values from the committed docmeta table)."""
    return _entry_index(spark, sf_dir).facet_counts(FLAGSHIP_QUERY, "lang")


NEAR_A, NEAR_B, NEAR_W = "table", "hash", 5


def _q_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity NEAR(table, hash, 5) from the committed positional
    index — strictly contains the exact-phrase "table hash" result set
    (window 1, ordered ⊂ window 5, unordered), so the window provably
    matters."""
    from antidb_spark.operators.phrase import near_query

    return near_query(_entry_index(spark, sf_dir), NEAR_A, NEAR_B, NEAR_W)


SLOP_PHRASE, SLOP = "table hash value", 3  # 11 docs vs 2 at slop 0


def _q_slop_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy (ordered-window) phrase from the committed positional
    index: terms in order with ≤ 3 interleaved tokens — 11 matching
    docs at sf0.01 vs 2 for the exact phrase, so the slop provably
    matters."""
    from antidb_spark.operators.phrase import phrase_slop_query

    return phrase_slop_query(_entry_index(spark, sf_dir), SLOP_PHRASE, SLOP)


FUZZY_TERM, FUZZY_EDITS = "pat", 2  # expands to a/data/fast/part at test SF


def _q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy search ("pat"~2): distributed Levenshtein expansion over
    the committed terms table (4 expansions at test SF, none equal to
    the probe itself — pure fuzzy matches), each scored with its own
    idf in the pinned disjunct."""
    return _entry_index(spark, sf_dir).query_fuzzy(
        FUZZY_TERM, k=10, max_edits=FUZZY_EDITS
    )


REGEX_PAT = "s.*a.*"  # expands to scan/small/spark/stream at test SF


def _q_regex_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex term search: anchored vocabulary match (4 expansions at
    test SF, a strict superset of no single prefix) ranked as the
    pinned multi-term disjunct."""
    return _entry_index(spark, sf_dir).query_regex(REGEX_PAT, k=10)


# weights chosen so the boosted top-10 provably reorders the flagship
# ranking (spark demoted, join promoted)
BOOST_WEIGHTS = {"spark": 0.25, "query": 1.0, "join": 3.0}


def _q_boosted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time boosting ("spark^0.25 query join^3"): per-term BM25
    contributions scaled before the pinned sorted-term sum."""
    return _entry_index(spark, sf_dir).query_boosted(BOOST_WEIGHTS, k=10)


DECAY_HALF_LIFE = 30.0


def _q_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-boosted ranking: BM25 × reciprocal age decay
    1/(1 + age_days/30) with the deterministic per-doc age
    (doc_id % 365 days) committed in docmeta — Solr's classic
    recip(ms(NOW,date),m,a,b) boost. Reciprocal (not exp) keeps the
    factor inside correctly-rounded IEEE ops so both engines agree
    bit-for-bit; the decay provably re-ranks the flagship top-10."""
    return _entry_index(spark, sf_dir).query_decayed(
        FLAGSHIP_QUERY, k=10, half_life_days=DECAY_HALF_LIFE
    )


def _q_hit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-hits header for the flagship query: count of distinct
    matching docs over pruned postings, scoring skipped."""
    return _entry_index(spark, sf_dir).hit_count(FLAGSHIP_QUERY)


def _q_merged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment merge (Lucene-style): the corpus split into two id-range
    segments, indexed independently, then folded together O(src) with a
    head-varint ordinal remap — no re-tokenization, no touched
    destination file. The merged index answers the flagship query with
    the SAME oracle as `indexed_topk`, proving
    merge(build(A), build(B)) ≡ build(A ∪ B) end-to-end."""
    import shutil
    import tempfile

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.merge import merge_index

    docs = _docs(spark, sf_dir)
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="antidb_entry_merge_")
    try:
        dst = IndexBuilder(spark, os.path.join(root, "a"), id_cols=DOC_ID)
        dst.build(docs.filter(F.col("doc_id") <= mid))
        src = IndexBuilder(spark, os.path.join(root, "b"), id_cols=DOC_ID)
        src.build(docs.filter(F.col("doc_id") > mid))
        merge_index(spark, dst, src)
        out = dst.query_pinned(FLAGSHIP_QUERY, k=10).cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SUGGEST_PROBE = "qery"


def _q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean: the 5 vocabulary terms closest to a misspelled
    probe, ranked (distance, df desc, term) from the committed terms
    table — the direct-spellcheck surface a search box needs."""
    return _entry_index(spark, sf_dir).suggest(SUGGEST_PROBE, k=5,
                                               max_edits=2)


def _q_federated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard search: the corpus split into two id-range segments built
    independently, then queried TOGETHER at query time under global
    statistics (operators/federate.py) — no physical merge, no touched
    segment file. Same oracle as `indexed_topk`/`merged_topk`, proving
    federated(build(A), build(B)) ≡ build(A ∪ B) without the fold."""
    import shutil
    import tempfile

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.federate import federated_topk

    docs = _docs(spark, sf_dir)
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="antidb_entry_fed_")
    try:
        a = IndexBuilder(spark, os.path.join(root, "a"), id_cols=DOC_ID)
        a.build(docs.filter(F.col("doc_id") <= mid))
        b = IndexBuilder(spark, os.path.join(root, "b"), id_cols=DOC_ID)
        b.build(docs.filter(F.col("doc_id") > mid))
        out = federated_topk(spark, [a, b], FLAGSHIP_QUERY, k=10).cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


UPSERT_SENT = "zzupserted"
UPSERT_ROWS = [
    (7, f"{UPSERT_SENT} spark replacement window text"),
    (13, f"{UPSERT_SENT} query join {UPSERT_SENT} performance"),
    (900000, f"{UPSERT_SENT} brand new spark doc"),
]
# the post-upsert logical corpus: originals minus the replaced ids,
# plus the upserted generations — what a user who re-ran their pipeline
# over the mutated corpus would index from scratch
UPSERT_LOGICAL_SQL = (
    "SELECT doc_id, text FROM documents WHERE doc_id NOT IN (7, 13) "
    "UNION ALL SELECT * FROM (VALUES "
    + ", ".join(f"(CAST({i} AS BIGINT), '{t}')" for i, t in UPSERT_ROWS)
    + ") v(doc_id, text)"
)


def _upserted_index(spark: SparkSession, sf_dir: str, root: str):
    """Committed index over documents with one O(delta) upsert applied:
    docs 7 and 13 replaced (old generations tombstoned, new ones
    appended as a second blocks run) and one brand-new doc inserted
    (operators/upsert.py; no reference analog — idx.py:85-92 rebuilds
    the whole archive for any corpus change)."""
    from antidb_spark.operators.build import IndexBuilder

    b = IndexBuilder(spark, root, id_cols=DOC_ID)
    b.build(_docs(spark, sf_dir))
    b.upsert_docs(
        spark.createDataFrame(UPSERT_ROWS, "doc_id long, text string")
    )
    return b


def _q_upsert_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups on the PRE-purge upserted index (multi-run blocks,
    tombstones live): replaced generations must be invisible, the new
    generations and the insert must serve — value-identical to the same
    lookup over the logical corpus."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="antidb_entry_upsert_")
    try:
        b = _upserted_index(spark, sf_dir, root)
        out = b.eq_terms(UPSERT_SENT, "window").cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purge-after-upsert: physically drop the superseded generations
    and recompute exact statistics — the flagship ranking must equal a
    from-scratch build over the logical corpus (upsert ∘ purge ≡
    rebuild, the invariant that makes O(delta) updates trustworthy)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="antidb_entry_upsertq_")
    try:
        b = _upserted_index(spark, sf_dir, root)
        b.purge_deleted()
        out = b.query_pinned(FLAGSHIP_QUERY, k=10).cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_keyed_persisted(spark: SparkSession, sf_dir: str, op: str) -> DataFrame:
    """Persisted covering index over document tokens (KeyedIndexStore
    build → reopen → query; the Idx→Prs .adb round-trip, idx.py:41-92 ↔
    prs.py:27-38). Must answer identically to the in-memory KeyedIndex
    path (same oracles as eq_lookup / rng_lookup)."""
    import shutil
    import tempfile

    from antidb_spark.operators.keyed import KeyedIndexStore

    root = tempfile.mkdtemp(prefix="antidb_entry_keyed_")
    try:
        store = KeyedIndexStore(spark, root)
        store.build(
            "doc_tokens", _docs(spark, sf_dir), distinct_tokens("text"),
            id_cols=["doc_id"], multi=True,
        )
        idx = KeyedIndexStore(spark, root).open("doc_tokens")  # reopen
        if op == "eq":
            out = idx.eq(*EQ_PROBES)
        else:
            out = idx.rng(RNG_LO, RNG_HI)
        out = out.cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_keyed_eq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_keyed_persisted(spark, sf_dir, "eq")


def _q_keyed_rng_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_keyed_persisted(spark, sf_dir, "rng")


# --- training-pipeline operators ----------------------------------------


PHRASE_QUERY = "table hash"


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search SERVED FROM THE COMMITTED INDEX: the
    shared build commits docmap + positional-blocks once, queries
    answer from manifest-pruned ``pos_blocks`` files (build-once/
    query-many, idx.py:85-92 ↔ prs.py:27-38) — the corpus is never
    re-tokenized at query time. Same oracle as the ad-hoc
    ``phrase_search`` definition."""
    from antidb_spark.operators.phrase import phrase_query

    return phrase_query(_entry_index(spark, sf_dir), PHRASE_QUERY)


def _q_phrase_adhoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ad-hoc corpus-level phrase operator (tokenize per call) —
    the oracle-checkable semantic definition the indexed path must
    match."""
    from antidb_spark.operators.phrase import phrase_search

    return phrase_search(_docs(spark, sf_dir), PHRASE_QUERY, id_cols=DOC_ID)


def _phrase_oracle(phrase: str) -> str:
    terms = py_tokens(phrase)
    uniq = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    inter = "p0.positions"
    for i in range(1, len(terms)):
        inter = (
            f"list_intersect({inter}, "
            f"list_transform(p{i}.positions, x -> x - {i}))"
        )
    joins = " ".join(
        f"JOIN pp p{i} ON p0.doc_id = p{i}.doc_id AND p{i}.term = '{t}'"
        for i, t in enumerate(terms)
        if i > 0
    )
    return f"""
WITH {TOKARR_CTE},
pos AS (SELECT doc_id, i.i - 1 AS p, toks[i.i] AS term
        FROM tokarr, unnest(generate_series(1, len(toks))) AS i(i)),
pp AS (SELECT doc_id, term, list_sort(list(p)) AS positions
       FROM pos WHERE term IN ({uniq}) GROUP BY 1, 2)
SELECT p0.doc_id AS doc_id, len({inter})::BIGINT AS phrase_freq
FROM pp p0 {joins}
WHERE p0.term = '{terms[0]}' AND len({inter}) > 0
"""


# 'table s*' completes through ALL SIX s-expansions at sf0.01
# (scan/stream/small/spark/slow/sort; 141 docs, 164 anchors) — the
# expansion genuinely drives the result, not one lucky term.
PHRASE_PREFIX = "table s"


def _q_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase_prefix (search-as-you-type): docs where 'table' is
    immediately followed by ANY term starting with 's', served from
    the committed positional index with the prefix expanded against
    the term dictionary."""
    from antidb_spark.operators.phrase import phrase_prefix_query

    return phrase_prefix_query(_entry_index(spark, sf_dir), PHRASE_PREFIX)


def _phrase_prefix_oracle(phrase: str) -> str:
    """match_phrase_prefix oracle: the `_phrase_oracle` position-
    intersection with the LAST slot matched by LIKE prefix%. The
    engine's max_expansions cap (128) exceeds the 6 matching vocab
    terms at sf0.01, so the uncapped LIKE is the same set; the capped
    behavior is pinned by unit tests."""
    terms = py_tokens(phrase)
    head, pref = terms[:-1], terms[-1]
    assert head, "oracle covers the head+prefix shape"
    uniq = ", ".join(f"'{t}'" for t in sorted(set(head)))
    inter = "p0.positions"
    for i in range(1, len(head)):
        inter = (
            f"list_intersect({inter}, "
            f"list_transform(p{i}.positions, x -> x - {i}))"
        )
    inter = (
        f"list_intersect({inter}, "
        f"list_transform(pl.positions, x -> x - {len(head)}))"
    )
    joins = " ".join(
        f"JOIN pp p{i} ON p0.doc_id = p{i}.doc_id AND p{i}.term = '{t}'"
        for i, t in enumerate(head)
        if i > 0
    )
    return f"""
WITH {TOKARR_CTE},
pos AS (SELECT doc_id, i.i - 1 AS p, toks[i.i] AS term
        FROM tokarr, unnest(generate_series(1, len(toks))) AS i(i)),
pp AS (SELECT doc_id, term, list_sort(list(p)) AS positions
       FROM pos WHERE term IN ({uniq}) GROUP BY 1, 2),
pl AS (SELECT doc_id, list_sort(list(p)) AS positions
       FROM pos WHERE term LIKE '{pref}%' GROUP BY 1)
SELECT p0.doc_id AS doc_id, len({inter})::BIGINT AS phrase_freq
FROM pp p0 {joins} JOIN pl ON p0.doc_id = pl.doc_id
WHERE p0.term = '{head[0]}' AND len({inter}) > 0
"""


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import fingerprint

    return _docs(spark, sf_dir).select("doc_id", fingerprint("text").alias("fp"))


def _docs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ∪ derived exact copies (every doc_id % 50 == 0 re-issued at
    doc_id + 1_000_000). The raw sf corpora contain no duplicate
    fingerprints, which made the dedup checks vacuous (0 rows on both
    engines); the SQL oracle mirrors this derivation exactly."""
    d = _docs(spark, sf_dir)
    copies = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return d.unionByName(copies)


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import exact_dups

    return exact_dups(_docs_planted(spark, sf_dir)).select("fp", "group_size")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import ngram_jaccard_pairs

    # max_shingle_df=None: the SQL oracle generates candidates uncapped,
    # so the oracled entry runs the fully-exact configuration — operator
    # and oracle compute the same function in principle, not just on the
    # sf corpora (the capped default stays the documented scale path)
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.7, max_shingle_df=None
    )


def _q_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(_docs(spark, sf_dir), threshold=0.7)


def _q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_docs(spark, sf_dir), max_distance=3)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def _q_clone_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import clone_candidates

    # max_fp_df=None: the oracle generates candidates uncapped, so the
    # oracled entry runs the fully-exact configuration (the capped
    # default is the documented scale path, tested with planted skew)
    return clone_candidates(_docs(spark, sf_dir), min_shared=2, max_fp_df=None)


# Planted repetition: synthetic word-soup docs almost never repeat a
# 5-gram internally, which would leave dup_5gram_frac vacuously 0 —
# every 20th doc gets its text doubled so the gram-level rules have
# real signal (derived identically in the SQL oracle).
def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import repetition_stats

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 3,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(d)


# Deterministic PII augmentation: the synthetic corpus has no emails or
# phone numbers, so the entry plants one of each per doc from doc_id —
# derivable identically in SQL, making the redacted TEXT hash-checkable.
def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import redact_pii

    return redact_pii(_pii_augmented(spark, sf_dir))


# Deterministic benchmark set for decontamination: every 50th doc
# (doc_id % 50 == 7) contributes a 10-token snippet (tokens 4..13) as
# an "eval item" — source docs are guaranteed contaminated, and the
# derivation is SQL-expressible for the oracle.
def _q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 4, 10), " ").alias("bench_text"),
    )
    # max_gram_df=None: fully-exact configuration for the oracle (the
    # capped default is the documented scale path, as clone_candidates)
    return decontaminate(docs, bench, n=5, max_gram_df=None)


def _q_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BM25 factor breakdown for the flagship query's top-10,
    served from the shared committed index (Lucene Explanation analog;
    consistent with query_pinned by construction)."""
    return _entry_index(spark, sf_dir).explain(FLAGSHIP_QUERY, k=10)


# Standing queries for the percolator entry: two conjunctive alerts
# that fire on the synthetic vocabulary, one that can never fire (term
# absent from the corpus), one single-term rule.
PERC_QUERIES: list[tuple[str, str]] = [
    ("alert_spark_join", "spark join"),
    ("alert_window_merge", "window merge sort"),
    ("alert_never", "qzxv spark"),
    ("alert_vector", "vector"),
]


def _q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.percolate import percolate

    qdf = spark.createDataFrame(
        PERC_QUERIES, "query_id string, query_text string"
    )
    return percolate(_docs(spark, sf_dir), qdf)


def _q_facet_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram facet (the date_histogram analog) over doc length:
    matching-doc counts per aligned 100-char n_chars bucket, served
    from the committed docmeta table."""
    return _entry_index(spark, sf_dir).facet_histogram(
        FLAGSHIP_QUERY, "n_chars", 100
    )


# sources with a dup-containing doc: 17 of 20 at sf0.01 — the clause
# conjunction provably drops groups; k=10 also cuts.
GROUP_CLAUSES = ("dup", "join merge")


def _q_group_must(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_child-style group boolean: sources having BOTH a doc
    containing 'dup' AND a doc containing join∧merge (different docs
    may satisfy different clauses), ranked by the sum of per-clause
    best member scores."""
    return _entry_index(spark, sf_dir).group_must_match(
        list(GROUP_CLAUSES), "source", k=10
    )


def _group_must_oracle(
    clauses: tuple[str, ...], group: str, k: int
) -> str:
    """group_must_match oracle: shared tok/post/dl/st CTEs, one
    all-terms-filtered score CTE + group-max per clause, inner joins
    across clauses = the conjunction, fixed-order sum of the 4dp
    maxes rounded once."""
    parts = [
        TOK_CTE, POST_CTE, DL_CTE,
        "st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl "
        "FROM dl)",
    ]
    for i, clause in enumerate(clauses):
        terms = sorted(set(py_tokens(clause)))
        in_list = ", ".join(f"'{t}'" for t in terms)
        contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                                   avgdl="s.avgdl", n="s.n_docs")
        sums = " + ".join(
            f"coalesce(sum(CASE WHEN p.term = '{t}' THEN {contrib} "
            "END), 0.0)"
            for t in terms
        )
        parts.append(
            f"dfs{i} AS (SELECT term, count(*)::BIGINT AS df FROM post "
            f"WHERE term IN ({in_list}) GROUP BY term)"
        )
        parts.append(
            f"""sc{i} AS (SELECT p.doc_id AS doc_id, round({sums}, 4) AS score
  FROM post p JOIN dfs{i} d ON p.term = d.term
  JOIN dl l ON p.doc_id = l.doc_id CROSS JOIN st s
  GROUP BY p.doc_id
  HAVING count(DISTINCT p.term) = {len(terms)})"""
        )
        parts.append(
            f"""g{i} AS (SELECT doc.{group} AS grp, max(sc.score) AS best_{i}
  FROM sc{i} sc JOIN documents doc ON doc.doc_id = sc.doc_id
  WHERE doc.{group} IS NOT NULL GROUP BY 1)"""
        )
    joins = "g0" + "".join(
        f" JOIN g{i} USING (grp)" for i in range(1, len(clauses))
    )
    bests = ", ".join(
        f"g{i}.best_{i} AS best_{i}" for i in range(len(clauses))
    )
    total = " + ".join(f"g{i}.best_{i}" for i in range(len(clauses)))
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT g0.grp AS {group}, {bests}, round({total}, 4) AS score
FROM {joins}
ORDER BY score DESC, {group} ASC
LIMIT {k}
"""


def _q_facet_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality aggregation (exact): distinct source values + doc
    count over the flagship query's matching docs, served from the
    committed docmeta table."""
    return _entry_index(spark, sf_dir).facet_cardinality(
        FLAGSHIP_QUERY, "source"
    )


def _facet_card_oracle(query: str, col: str) -> str:
    in_list = ", ".join(f"'{t}'" for t in sorted(set(py_tokens(query))))
    return f"""
WITH {TOK_CTE}
SELECT count(DISTINCT d.{col})::BIGINT AS n_values,
       count(*)::BIGINT AS n_docs
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM tok WHERE term IN ({in_list}))
"""


# foreground = the 25 docs containing the rare 'dup' (df=25 of 500):
# a small, distinctive result set whose term distribution measurably
# diverges from the corpus background — JLH scores are non-degenerate.
SIG_QUERY = "dup"
SIG_MIN_DC = 3


def _q_sig_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms aggregation: terms overrepresented in the
    docs matching 'dup' vs the whole corpus, JLH-scored top-10."""
    return _entry_index(spark, sf_dir).significant_terms(
        SIG_QUERY, k=10, min_doc_count=SIG_MIN_DC
    )


# 's' matches 6 vocab terms (scan slow small sort spark stream);
# k=4 makes the top-k cut provably bite (2 dropped).
COMPLETE_PREFIX = "s"
COMPLETE_K = 4


def _q_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion suggester: index terms under prefix 's' ranked by
    document frequency (df desc, term asc), via the manifest
    range-pruned terms table."""
    return _entry_index(spark, sf_dir).complete(
        COMPLETE_PREFIX, k=COMPLETE_K
    )


# 20 sources at sf0.01 — k_groups=3 and n_per_group=3 both cut.
GROUP_HITS_COL, GROUP_HITS_N, GROUP_HITS_K = "source", 3, 3


def _q_group_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms-agg + top_hits: the 3 best-scoring sources for the
    flagship query, each with its 3 best member docs."""
    return _entry_index(spark, sf_dir).group_top_hits(
        FLAGSHIP_QUERY, GROUP_HITS_COL,
        n_per_group=GROUP_HITS_N, k_groups=GROUP_HITS_K,
    )


# 'table table' occurs inside the flagship top-50 window and the
# +0.05/occurrence boost provably reorders the top-10 (probed at
# sf0.01: two boosted docs re-rank).
RESCORE_PHRASE, RESCORE_W, RESCORE_WT = "table table", 50, 0.05


def _q_rescored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescore window: the flagship BM25 top-50 re-ranked by exact
    'table table' phrase occurrences from the positional index
    (rescored = round(score + 0.05·phrase_freq, 4))."""
    return _entry_index(spark, sf_dir).query_rescored(
        FLAGSHIP_QUERY, RESCORE_PHRASE,
        window=RESCORE_W, weight=RESCORE_WT, k=10,
    )


TEMP_TAU, TEMP_FRAC = 0.5, 0.5


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling over the skewed lang
    strata (en 218 vs fr 64 at sf0.01): tau=0.5 sqrt-flattens the mix,
    upweighting minority languages at a 50% overall budget; rates are
    derived from the observed counts, thresholds applied through the
    deterministic split_bucket hash."""
    from antidb_spark.operators.datasets import temperature_mix

    return temperature_mix(
        _docs(spark, sf_dir), "lang", tau=TEMP_TAU,
        target_frac=TEMP_FRAC, salt="t1",
    ).select("doc_id", "lang", "bucket")


# mirrors datasets.temperature_mix at tau=0.5: sqrt weights (IEEE
# correctly-rounded, cross-engine exact), Z folded in sorted-stratum
# order via list_sum(list(... ORDER BY st)), the same left-assoc
# rate expression, floor-threshold over the split_bucket hash.
_TEMP_MIX_ORACLE = f"""
WITH counts AS (SELECT lang AS st, count(*)::BIGINT AS n
                FROM documents GROUP BY 1),
z AS (SELECT list_sum(list(sqrt(n::DOUBLE) ORDER BY st)) AS z,
             sum(n)::BIGINT AS tot FROM counts),
thr AS (SELECT st,
        CAST(floor(least(1.0,
             {TEMP_FRAC} * tot * sqrt(n::DOUBLE) / z / n)
             * 10000.0) AS BIGINT) AS t
        FROM counts, z)
SELECT d.doc_id AS doc_id, d.lang AS lang,
       ('0x' || substr(md5('t1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
           % 10000 AS bucket
FROM documents d JOIN thr ON thr.st = d.lang
WHERE ('0x' || substr(md5('t1:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
          % 10000 < thr.t
"""


KMEANS_K, KMEANS_ITERS = 10, 2


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (topic clustering / domain mixing): every
    embedding labeled with its Lloyd-converged cluster — exact
    integer arithmetic end-to-end (quantize → int64 distances/sums →
    one floor-div per centroid component) so the unrolled SQL oracle
    reproduces all 500 labels bit-for-bit."""
    from antidb_spark.operators.cluster import kmeans_assign

    vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_assign(vec, k=KMEANS_K, iters=KMEANS_ITERS)


_QUANTIZE_CTE = (
    "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv "
    "FROM embeddings)"
)


def _lloyd_assign_cte(name: str, src: str, cents: str) -> str:
    """One exact-int argmin assignment pass (ties → smallest cell)."""
    return f"""{name} AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_sum(list_transform(generate_series(1, len(q.qv)),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) ASC,
             c.cell ASC) AS rn
    FROM {src} q, {cents} c) t WHERE rn = 1)"""


def _lloyd_ctes(p: str, src: str, k: int, iters: int) -> tuple[str, str]:
    """The unrolled Lloyd chain over an (vec_id, qv) CTE ``src``
    (mirrors operators/cluster.py::lloyd_centroids): md5-ranked init,
    int64 squared-L2 argmin with ties to the smallest cell, exact
    per-(cell, component) integer sums, floor(sum/count) update, empty
    cells keeping their previous centroid. Returns (cte_body,
    final_centroids_cte_name); all internal names carry prefix ``p``
    so several chains (the PQ subspaces) coexist in one query."""
    parts = [
        f"""{p}c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, vec_id) - 1
              AS cell, qv AS cv
       FROM (SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS h
             FROM {src} ORDER BY h, vec_id LIMIT {k}) t)""",
    ]
    for t in range(1, iters + 1):
        parts.append(_lloyd_assign_cte(f"{p}a{t}", src, f"{p}c{t - 1}"))
        parts.append(
            f"""{p}s{t} AS MATERIALIZED (SELECT a.cell, i.i AS idx,
                sum(q.qv[i.i])::BIGINT AS s, count(*)::BIGINT AS cnt
         FROM {p}a{t} a JOIN {src} q USING (vec_id),
              unnest(generate_series(1, len(q.qv))) AS i(i)
         GROUP BY 1, 2)"""
        )
        parts.append(
            f"""{p}m{t} AS MATERIALIZED (SELECT cell,
                list(CAST(floor(s / cnt) AS BIGINT) ORDER BY idx) AS cv
         FROM {p}s{t} GROUP BY cell)"""
        )
        parts.append(
            f"""{p}c{t} AS MATERIALIZED (SELECT p.cell, coalesce(m.cv, p.cv) AS cv
         FROM {p}c{t - 1} p LEFT JOIN {p}m{t} m USING (cell))"""
        )
    return ",\n".join(parts), f"{p}c{iters}"


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd in SQL (mirrors cluster.py::kmeans_assign)."""
    chain, cents = _lloyd_ctes("", "q", k, iters)
    final = _lloyd_assign_cte("af", "q", cents)
    return f"""
WITH {_QUANTIZE_CTE},
{chain},
{final}
SELECT vec_id, cell::INT AS cluster FROM af ORDER BY vec_id
"""


def _pq_oracle(
    m: int, k: int, iters: int, dsub: int, probe_id: int, topk: int,
) -> str:
    """Product quantization oracle (mirrors operators/pq.py): per
    subspace, the SAME unrolled Lloyd over the slice trains the
    codebook, an int argmin assigns the code, and the ADC score is the
    exact int64 sum of probe-slice→codeword distances — no float
    anywhere after quantization, so every ranking value is
    bit-reproducible."""
    parts = [_QUANTIZE_CTE]
    d_terms = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        parts.append(
            f"q{j} AS MATERIALIZED (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM q)"
        )
        chain, cents = _lloyd_ctes(f"b{j}", f"q{j}", k, iters)
        parts.append(chain)
        parts.append(_lloyd_assign_cte(f"cd{j}", f"q{j}", cents))
        parts.append(
            f"""d{j} AS MATERIALIZED (SELECT cd.vec_id,
        list_sum(list_transform(generate_series(1, {dsub}),
          i -> (p.qv[i] - cb.cv[i]) * (p.qv[i] - cb.cv[i]))) AS d
      FROM cd{j} cd JOIN {cents} cb USING (cell),
           (SELECT qv[{lo}:{hi}] AS qv FROM q
            WHERE vec_id = {probe_id}) p)"""
        )
        d_terms.append(f"d{j}.d")
    joins = "d0" + "".join(
        f" JOIN d{j} USING (vec_id)" for j in range(1, m)
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT vec_id, ({' + '.join(d_terms)})::BIGINT AS qdist
FROM {joins}
ORDER BY qdist ASC, vec_id ASC
LIMIT {topk}
"""


def _q_cluster_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced mixing, end-to-end: k-means labels every doc's
    embedding (vec_id ≡ doc_id), then temperature_mix resamples with
    the CLUSTER as the stratum — the composed curation move
    ("cluster the corpus, flatten the topic mix") with both stages
    oracled as one SQL recompute."""
    from antidb_spark.operators.cluster import kmeans_assign
    from antidb_spark.operators.datasets import temperature_mix

    vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = kmeans_assign(
        vec, k=KMEANS_K, iters=KMEANS_ITERS
    ).withColumnRenamed("vec_id", "doc_id")
    joined = _docs(spark, sf_dir).join(labels, "doc_id")
    return temperature_mix(
        joined, "cluster", tau=TEMP_TAU, target_frac=TEMP_FRAC,
        salt="c1",
    ).select("doc_id", "cluster", "bucket")


def _cluster_mix_oracle(
    k: int, iters: int, frac: float, salt: str
) -> str:
    """kmeans ∘ temperature_mix composed in SQL: the unrolled Lloyd
    labels feed the same sqrt/fold/floor-threshold rate derivation,
    with the cluster id as the stratum."""
    inner = _kmeans_oracle(k, iters).strip()
    return f"""
WITH lab AS ({inner}),
counts AS (SELECT l.cluster AS st, count(*)::BIGINT AS n
           FROM lab l JOIN documents d ON d.doc_id = l.vec_id
           GROUP BY 1),
z AS (SELECT list_sum(list(sqrt(n::DOUBLE) ORDER BY st)) AS z,
             sum(n)::BIGINT AS tot FROM counts),
thr AS (SELECT st,
        CAST(floor(least(1.0,
             {frac} * tot * sqrt(n::DOUBLE) / z / n)
             * 10000.0) AS BIGINT) AS t
        FROM counts, z)
SELECT d.doc_id AS doc_id, l.cluster AS cluster,
       ('0x' || substr(md5('{salt}:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
           % 10000 AS bucket
FROM documents d
JOIN lab l ON l.vec_id = d.doc_id
JOIN thr ON thr.st = l.cluster
WHERE ('0x' || substr(md5('{salt}:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
          % 10000 < thr.t
"""


IVFPQ_CELLS, IVFPQ_NPROBE = 8, 2


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the canonical large-scale ANN layout): coarse Lloyd
    cells make the probe sublinear, residual-encoded PQ codes make
    what it reads ~50× narrower — the probe scans only its 2 nearest
    cells' manifest-pruned files and ranks by exact-int64 residual
    ADC."""
    probe = _probe_vec(spark, sf_dir)
    idx = _entry_ivfpq(spark, sf_dir)
    return idx.topk(probe, k=10, n_probe=IVFPQ_NPROBE)


_IVFPQ_IDX: dict[str, object] = {}


def _entry_ivfpq(spark: SparkSession, sf_dir: str):
    """Shared committed IVF-PQ index, built once per sf_dir in a
    process-lifetime temp dir (same shape as ``_entry_pq``). The dir
    outlives the returned DataFrame's lazy plan — an eagerly-removed
    dir made cache-evicted partitions recompute against deleted files
    (flaky FileNotFoundError under memory pressure)."""
    idx = _IVFPQ_IDX.get(sf_dir)
    if idx is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.operators.pq import build_ivfpq

        root = tempfile.mkdtemp(prefix="antidb_entry_ivfpq_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        idx = build_ivfpq(
            spark, root, "ivfpq", _vecs(spark, sf_dir),
            n_cells=IVFPQ_CELLS, coarse_iters=KMEANS_ITERS,
            m=PQ_M, k=PQ_K, iters=PQ_ITERS,
        )
        _IVFPQ_IDX[sf_dir] = idx
    return idx


def _ivfpq_oracle(
    n_cells: int, coarse_iters: int, m: int, k: int, iters: int,
    dsub: int, probe_id: int, n_probe: int, topk: int,
) -> str:
    """IVF-PQ oracle (mirrors operators/pq.py::build_ivfpq/
    IvfPqIndex.topk): the coarse Lloyd chain assigns cells, residuals
    (int64 subtraction) feed per-subspace Lloyd codebooks, the probe's
    n_probe nearest cells gate the candidates, and the ADC score is
    the exact int64 sum of (probe − cell-centroid − codeword)² over
    the subspaces — the whole structure re-derived from the base
    table."""
    parts = [_QUANTIZE_CTE]
    coarse_chain, gcents = _lloyd_ctes("g", "q", n_cells, coarse_iters)
    parts.append(coarse_chain)
    parts.append(_lloyd_assign_cte("ga", "q", gcents))
    parts.append(
        f"""r AS MATERIALIZED (SELECT q.vec_id, a.cell,
        list_transform(generate_series(1, len(q.qv)),
          i -> q.qv[i] - cc.cv[i]) AS qv
      FROM q JOIN ga a USING (vec_id)
      JOIN {gcents} cc ON cc.cell = a.cell)"""
    )
    d_terms = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        parts.append(
            f"r{j} AS MATERIALIZED (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM r)"
        )
        chain, cents = _lloyd_ctes(f"b{j}", f"r{j}", k, iters)
        parts.append(chain)
        parts.append(_lloyd_assign_cte(f"cd{j}", f"r{j}", cents))
        parts.append(
            f"""d{j} AS MATERIALIZED (SELECT cd.vec_id,
        list_sum(list_transform(generate_series(1, {dsub}),
          i -> ((p.qv[{lo} + i - 1] - cc.cv[{lo} + i - 1]) - cb.cv[i])
             * ((p.qv[{lo} + i - 1] - cc.cv[{lo} + i - 1]) - cb.cv[i])))
          AS d
      FROM cd{j} cd
      JOIN ga ON ga.vec_id = cd.vec_id
      JOIN pc ON pc.cell = ga.cell
      JOIN {gcents} cc ON cc.cell = ga.cell
      JOIN {cents} cb ON cb.cell = cd.cell,
      p)"""
        )
        d_terms.append(f"d{j}.d")
    probe_ctes = f"""p AS MATERIALIZED (SELECT qv FROM q WHERE vec_id = {probe_id}),
pc AS MATERIALIZED (SELECT cell FROM (
    SELECT c.cell, row_number() OVER (ORDER BY
      list_sum(list_transform(generate_series(1, len(p.qv)),
        i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) ASC,
      c.cell ASC) AS rn
    FROM {gcents} c, p) t WHERE rn <= {n_probe})"""
    # pc must precede the d{j} CTEs that reference it
    parts.insert(4, probe_ctes)
    joins = "d0" + "".join(
        f" JOIN d{j} USING (vec_id)" for j in range(1, m)
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT vec_id, ({' + '.join(d_terms)})::BIGINT AS qdist
FROM {joins}
ORDER BY qdist ASC, vec_id ASC
LIMIT {topk}
"""


def _q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS from pairwise minhash verdicts: connected
    components (min-label propagation) over the minhash_dups pair
    graph; group_id = canonical (smallest) member."""
    from antidb_spark.operators.dedup import (
        connected_dup_groups,
        minhash_near_dups,
    )

    pairs = minhash_near_dups(_docs(spark, sf_dir), threshold=0.7)
    return connected_dup_groups(pairs, out_id_col="doc_id")


def _q_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel over the planted-copies corpus:
    quality ≥ 0.6 → English only → exact-dedup canonical survivors →
    split assignment (every stage non-vacuous: und-language docs and
    planted copies both get dropped)."""
    from antidb_spark.operators.datasets import curate

    return curate(_docs_planted(spark, sf_dir), min_quality=0.6,
                  langs=("en",))


def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import dataset_split

    return dataset_split(_docs(spark, sf_dir))


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.stats import exact_quantiles

    return exact_quantiles(
        _docs(spark, sf_dir), "n_chars",
        (0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0),
    )


def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=256)


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 1.0}, "lang",
        salt="s1", default_rate=0.1,
    ).select("doc_id", "lang", "bucket")


def _q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import mix_epochs

    return mix_epochs(
        _docs(spark, sf_dir), {"en": 2.5, "de": 1.0, "fr": 0.25}, "lang",
        salt="m1", default_weight=0.5,
    ).select("doc_id", "lang", "epoch")


def _q_packed_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import assemble_packs, pack_sequences

    ex = assemble_packs(pack_sequences(_docs(spark, sf_dir), budget=256))
    # parts rendered as one ';'-joined string for the cross-engine
    # compare (structs stringify differently in Spark vs DuckDB, and the
    # gate's canonicalizer takes scalar columns only); order is the
    # operator's
    return ex.select(
        "pack_id", "n_docs", "pack_len",
        F.array_join(
            F.transform(
                "parts",
                lambda p: F.format_string(
                    "%d:%d:%d:%d",
                    p["pack_offset"], p["doc_id"], p["doc_offset"],
                    p["slice_len"],
                ),
            ),
            ";",
        ).alias("parts"),
    )


def _q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.datasets import shuffle_order

    return shuffle_order(_docs(spark, sf_dir), salt="sh1")


def _q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.dedup import resolve_exact_dups

    return resolve_exact_dups(_docs_planted(spark, sf_dir))


def _q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.textstats import top_terms

    return top_terms(_docs(spark, sf_dir), m=5)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _probe_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = _vecs(spark, sf_dir).filter(F.col("vec_id") == 0).first()
    return [float(v) for v in row["embedding"]]


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap):
    one hash shuffle on user_id, per-user time sort — the batch form
    of Structured Streaming's session_window."""
    from antidb_spark.operators.events import sessionize

    return sessionize(
        spark.read.parquet(f"{sf_dir}/events.parquet"), gap_minutes=30
    )


def _q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 60-min rollup of events: map-side-combinable counts +
    exact integer-cents sums per (window, event_type)."""
    from antidb_spark.operators.events import tumbling_counts

    return tumbling_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet"), width_minutes=60
    )


SLIDE_WIDTH_MIN, SLIDE_STEP_MIN = 60, 15


def _q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (60-min windows every 15 min): exact
    4-window fan-out per event via codegen sequence/explode, then one
    map-side-combinable groupBy — the batch form of Structured
    Streaming's window(ts, '60 minutes', '15 minutes')."""
    from antidb_spark.operators.events import sliding_counts

    return sliding_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        width_minutes=SLIDE_WIDTH_MIN, slide_minutes=SLIDE_STEP_MIN,
    )


_STREAM_SESS: dict[str, DataFrame] = {}
_STREAM_FLUSH_USER = 999_999_999


def _q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-sessionize the events table fed through a bounded file-source
    stream in THREE out-of-order micro-batches — per-user state buffers
    watermark-unfinalized events, folds the finalized prefix each
    batch, and closes sessions by event or by event-time timeout. The
    oracle is the SAME SQL as the batch sessionize entry: the streaming
    fold must reproduce the batch windows row for row."""
    got = _STREAM_SESS.get(sf_dir)
    if got is None:
        import atexit
        import shutil
        import tempfile

        import pandas as pd

        from antidb_spark.streaming.sessions import run_sessionize_stream

        root = tempfile.mkdtemp(prefix="antidb_stream_sess_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        src = os.path.join(root, "src")
        os.makedirs(src)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "ts", "user_id"
        )
        # three id-sliced files → micro-batches that interleave the
        # whole time range (the disorder-buffer path, not just in-order
        # ingestion); the far-future flusher advances the watermark
        # past every real session's timeout
        for i in range(3):
            ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
                .write.parquet(os.path.join(src, f"part{i}"))
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        spark.createDataFrame(
            pd.DataFrame({
                "event_id": [10**12],
                "ts": [max_ts + pd.Timedelta(days=8000)],
                "user_id": [_STREAM_FLUSH_USER],
            }),
            "event_id long, ts timestamp, user_id long",
        ).coalesce(1).write.parquet(os.path.join(src, "zflush"))
        import glob
        import shutil as sh
        import time

        # the file source orders files by modification time: stamp them
        # strictly increasing, flusher last, so that order cannot depend
        # on how fast the writes above happened to land
        t0 = time.time()
        n = 0
        for p in sorted(glob.glob(f"{src}/part*/part-*.parquet")) + sorted(
            glob.glob(f"{src}/zflush/part-*.parquet")
        ):
            dst = os.path.join(src, f"{n:03d}.parquet")
            sh.move(p, dst)
            os.utime(dst, (t0 + n, t0 + n))
            n += 1
        for d in glob.glob(f"{src}/part*") + [f"{src}/zflush"]:
            sh.rmtree(d, ignore_errors=True)
        got = run_sessionize_stream(
            spark, src, os.path.join(root, "ckpt"),
            table_name=f"stream_sessions_{abs(hash(sf_dir)) % 10**8}",
            gap_minutes=30, watermark_delay="3650 days",
            max_files_per_trigger=1,
        ).filter(F.col("user_id") != _STREAM_FLUSH_USER)
        _STREAM_SESS[sf_dir] = got
    return got


CHUNK_TOKS, CHUNK_OVERLAP = 32, 8


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style per-document chunking: 32-token windows with 8-token
    overlap, zero shuffle (pure codegen fan-out ≤ ceil(n/24)/doc);
    chunks never straddle documents (the retrieval shape, vs
    pack_sequences' cross-doc training-example packing)."""
    from antidb_spark.operators.datasets import chunk_docs

    return chunk_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        chunk_tokens=CHUNK_TOKS, overlap=CHUNK_OVERLAP,
    )


TERMVEC_PROBES = (3, 41, 77)


def _q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term vectors (the ES _termvectors API shape): tf,
    dl, and corpus df for every term of 3 probe docs, served from the
    committed DOC-keyed termvecs layer — manifest-pruned to the probe
    ordinals' files, never a term-keyed index scan."""
    b = _entry_index(spark, sf_dir)
    return b.term_vectors([(i,) for i in TERMVEC_PROBES])


def _q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level rollup ranking: rank GROUPS (here: documents
    by ``source``; for transcripts the group is conv_id) by their best
    member's BM25 score — the per-group winner can sit below the global
    top-k cut, so this scores every matching doc (bm25_scores_pinned)
    before one map-combinable group rollup."""
    from antidb_spark.operators.topk import bm25_grouped_topk

    return bm25_grouped_topk(
        _docs(spark, sf_dir), FLAGSHIP_QUERY, "source", k=10,
        id_cols=DOC_ID,
    )


def _q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse+dense hybrid: BM25 candidates fused with exact-cosine
    candidates (aligned vec_id = doc_id) via reciprocal-rank fusion
    (RRF, c=60, depth=50) — the BM25 engine and the ANN layer
    composed into one query."""
    from antidb_spark.operators.hybrid import hybrid_topk

    return hybrid_topk(
        _docs(spark, sf_dir), _vecs(spark, sf_dir), FLAGSHIP_QUERY,
        _probe_vec(spark, sf_dir), k=10,
    )


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.similarity import cosine_topk

    probe = _probe_vec(spark, sf_dir)
    return cosine_topk(_vecs(spark, sf_dir), probe, k=10)


def _q_ann_persisted(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """ANN top-k served from a COMMITTED index table (AnnIndexStore
    build → open → probe reads manifest-pruned bucket/cell files only),
    not a per-query full scan."""
    import shutil
    import tempfile

    from antidb_spark.operators.ann import AnnIndexStore

    probe = _probe_vec(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="antidb_entry_ann_")
    try:
        store = AnnIndexStore(spark, root)
        if kind == "lsh":
            idx = store.build_lsh("vecs", _vecs(spark, sf_dir))
        else:
            idx = store.build_ivf("vecs", _vecs(spark, sf_dir))
        out = idx.topk(probe, k=10).cache()
        out.count()  # materialize before the temp dir is removed
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_ann_persisted(spark, sf_dir, "lsh")


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_ann_persisted(spark, sf_dir, "ivf")


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation (the retrieval-pipeline metric): recall@10
    of the persisted multiprobe-LSH probe against the exact cosine
    top-10 — |approx ∩ exact| / k over the two k-row result relations.
    Composes two already-oracled queries; the DuckDB oracle recomputes
    BOTH sides and the intersection in one statement."""
    a = _q_ann_lsh_topk(spark, sf_dir).select("vec_id")
    e = _q_ann_cosine_topk(spark, sf_dir).select("vec_id")
    n = a.join(e, "vec_id").count()  # k-row ∩ k-row — bounded
    return spark.createDataFrame(
        [(10, n, n / 10.0)], "k long, n_hits long, recall double"
    )


PQ_M, PQ_K, PQ_ITERS = 8, 16, 2
PQ_SHORTLIST = 50
_PQ_IDX: dict[str, object] = {}


def _entry_pq(spark: SparkSession, sf_dir: str):
    """Shared committed PQ index over the sf embeddings, built ONCE
    per sf_dir in a process-lifetime temp dir (the build-once /
    query-many shape `_entry_index` uses for the text index)."""
    idx = _PQ_IDX.get(sf_dir)
    if idx is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.operators.pq import build_pq

        root = tempfile.mkdtemp(prefix="antidb_entry_pq_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        idx = build_pq(
            spark, root, "pq", _vecs(spark, sf_dir),
            m=PQ_M, k=PQ_K, iters=PQ_ITERS,
        )
        _PQ_IDX[sf_dir] = idx
    return idx


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-vector ANN (product quantization): 64-float vectors
    stored as 8 codebook codes; probe = ADC scan of the narrow codes
    table with exact-int64 distance tables — the vec_id=0 probe's own
    vector must rank first (a duplicate attains the minimum possible
    ADC distance, the PQ invariant)."""
    probe = _probe_vec(spark, sf_dir)
    return _entry_pq(spark, sf_dir).topk(probe, k=10)


def _q_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed two-stage ANN shape: ADC shortlist-50 from the
    codes table, then an exact-int64 re-rank of ONLY those ids
    against the base vectors — recall@k equals shortlist recall, the
    refine cost is O(shortlist)."""
    probe = _probe_vec(spark, sf_dir)
    return _entry_pq(spark, sf_dir).topk_refined(
        probe, _vecs(spark, sf_dir), k=10, shortlist=PQ_SHORTLIST
    )


def _pq_refined_oracle(
    m: int, k: int, iters: int, dsub: int, probe_id: int,
    shortlist: int, topk: int,
) -> str:
    """Two-stage oracle: the full PQ oracle at LIMIT ``shortlist``
    gates an exact quantized re-rank."""
    inner = _pq_oracle(m, k, iters, dsub, probe_id, shortlist).strip()
    return f"""
WITH short AS ({inner}),
qx AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
       x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
     FROM embeddings),
px AS MATERIALIZED (SELECT qv FROM qx WHERE vec_id = {probe_id})
SELECT qx.vec_id,
       list_sum(list_transform(generate_series(1, len(qx.qv)),
         i -> (qx.qv[i] - px.qv[i]) * (qx.qv[i] - px.qv[i])))::BIGINT
           AS qdist
FROM qx JOIN short USING (vec_id), px
ORDER BY qdist ASC, vec_id ASC
LIMIT {topk}
"""


def _vecs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors ∪ exact copies (vec_id % 100 == 0 at vec_id + 100_000):
    the sf embeddings have no natural cosine ≥ 0.95 pairs, so without
    planted duplicates the near-dup check constrained nothing."""
    v = _vecs(spark, sf_dir)
    copies = v.filter(F.col("vec_id") % 100 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100_000)
    )
    return v.unionByName(copies)


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_vecs_planted(spark, sf_dir), threshold=0.95)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.multimodal import as_media_table

    return as_media_table(_docs(spark, sf_dir))


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir)
    return m.select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake decode (sha256-derived 8×8 pixels) + real
    feature plumbing (mean/std/phash over mapInPandas). The fake's
    derivation is ANSI-SQL-expressible, so the oracle recomputes the
    same statistics from the text without running the UDF. Float stats
    are rounded 6dp at the comparison boundary on both sides."""
    from antidb_spark.operators.multimodal import extract_features

    f = extract_features(_media(spark, sf_dir))
    return f.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round("mean_px", 6).alias("mean_px"),
        F.round("std_px", 6).alias("std_px"),
        "phash",
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from antidb_spark.operators.multimodal import sample_frames

    return sample_frames(_media(spark, sf_dir), every_n=4)


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip: genuine PNG/WAV/MP4 payloads encoded
    from sha256-derived bytes, decoded with the pure-stdlib decoders
    (pixels/samples for PNG/WAV; ISO-BMFF box parse — mvhd duration,
    tkhd width/height, track count, mdat stats — for MP4); the oracle
    recomputes the statistics from the derivation WITHOUT decoding,
    so hash equality proves decode(encode(x)) == x."""
    from antidb_spark.operators.multimodal import decode_media, real_media_table

    return decode_media(real_media_table(_docs(spark, sf_dir)))


MEDIA_DECODE_ORACLE = """
WITH h AS (SELECT doc_id, sha256(text) || sha256(text || 'x') AS hx
           FROM documents),
b AS (SELECT doc_id, i.i AS i,
             ('0x' || substr(hx, 2 * i.i + 1, 2))::INT AS byte
      FROM h, unnest(generate_series(0, 63)) AS i(i)),
img AS (SELECT doc_id, round(avg(byte), 6) AS mv FROM b
        WHERE doc_id % 3 = 0 GROUP BY doc_id),
sraw AS (SELECT doc_id, i // 2 AS si,
                CASE WHEN i % 2 = 0 THEN byte ELSE byte * 256 END AS part
         FROM b WHERE doc_id % 3 = 1),
sval AS (SELECT doc_id, si, sum(part) AS v FROM sraw GROUP BY 1, 2),
ssgn AS (SELECT doc_id, si,
                CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv
         FROM sval),
wav AS (SELECT doc_id, round(avg(abs(sv)), 6) AS mv FROM ssgn
        GROUP BY doc_id),
mp4 AS (SELECT doc_id,
               max(CASE WHEN i = 0 THEN byte END) AS b0,
               max(CASE WHEN i = 1 THEN byte END) AS b1,
               max(CASE WHEN i = 2 THEN byte END) AS b2,
               max(CASE WHEN i = 3 THEN byte END) AS b3,
               round(avg(byte), 6) AS mv
        FROM b WHERE doc_id % 3 = 2 GROUP BY doc_id)
SELECT doc_id::BIGINT AS media_id, 'image/png' AS media_type,
       8 AS width, 8 AS height, NULL::INT AS n_samples,
       NULL::INT AS duration_ms, NULL::INT AS n_tracks, mv AS mean_val
FROM img
UNION ALL
SELECT doc_id::BIGINT, 'audio/wav', NULL, NULL, 32, NULL, NULL, mv
FROM wav
UNION ALL
SELECT doc_id::BIGINT, 'video/mp4',
       (16 * (1 + b2 % 64))::INT, (16 * (1 + b3 % 64))::INT, NULL,
       (1000 + (b0 + 256 * b1) % 60000)::INT, 1::INT, mv
FROM mp4
"""


# The fake decoder derives the 8×8 'pixels' as sha256(payload) ‖
# sha256(payload) (multimodal._fake_decode), payload = utf-8 text, so
# every feature is recomputable in SQL: parse the 32 digest bytes from
# the hex, duplicate, take mean/std (population, like np.std) and the
# mean-threshold 64-bit phash (HUGEINT accumulation, two's-complement
# reinterpreted to BIGINT like the Spark side).
MEDIA_FEATURES_ORACLE = """
WITH h AS (SELECT doc_id, octet_length(text::BLOB)::BIGINT AS n_bytes,
                  sha256(text) AS hx
           FROM documents),
b AS (SELECT doc_id, i.i AS i,
             ('0x' || substr(hx, 2 * (i.i % 32) + 1, 2))::INT AS byte
      FROM h, unnest(generate_series(0, 63)) AS i(i)),
m AS (SELECT doc_id, avg(byte) AS mean_px FROM b GROUP BY doc_id),
s AS (SELECT b.doc_id,
             sqrt(avg((byte - mean_px) * (byte - mean_px))) AS std_px,
             sum(CASE WHEN byte > mean_px
                      THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS ph
      FROM b JOIN m ON b.doc_id = m.doc_id
      GROUP BY b.doc_id)
SELECT h.doc_id::BIGINT AS media_id,
       CASE h.doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       h.n_bytes,
       round(m.mean_px, 6) AS mean_px,
       round(s.std_px, 6) AS std_px,
       (CASE WHEN s.ph >= (1::HUGEINT << 63)
             THEN s.ph - (1::HUGEINT << 64) ELSE s.ph END)::BIGINT AS phash
FROM h JOIN m ON h.doc_id = m.doc_id JOIN s ON h.doc_id = s.doc_id
"""

# sample_frames' fake frame = 16-byte payload slice at chunk indices
# 0, 4, 8, … < max(1, n_bytes // 16), frame id = sha256(slice). Text is
# ASCII in the fixture tables, so character positions == byte offsets
# and VARCHAR substr + sha256(VARCHAR) reproduce the byte-slice hashes.
FRAME_SAMPLE_ORACLE = """
SELECT doc_id::BIGINT AS media_id,
       (start // 4)::INT AS frame_idx,
       sha256(substr(text, (start * 16 + 1)::INT, 16)) AS frame_sha256
FROM (SELECT doc_id, text,
             unnest(range(0, greatest(1, length(text) // 16), 4)) AS start
      FROM documents WHERE doc_id % 3 = 2)
"""


# --- catalog time travel (Iceberg snapshot-log parity) ------------------

_TT_STATE: dict[str, tuple[object, str]] = {}


def _q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation under time travel: commit v1 (doc_id % 3 == 0),
    append v2 (doc_id % 3 == 1), then aggregate the table AS OF the v1
    snapshot id. The oracle recomputes the aggregate over the v1 subset
    alone, so a hash match proves the manifest-resolved ``read_at``
    serves exactly the pre-append file set (catalog.py; reference
    analog: root-last archive commit, idx.py:260-261, which likewise
    leaves readers on the previous complete tree)."""
    hit = _TT_STATE.get(sf_dir)
    if hit is None:
        import atexit
        import shutil
        import tempfile

        from antidb_spark.sources.catalog import Catalog

        root = tempfile.mkdtemp(prefix="antidb_tt_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        cat = Catalog(spark, root)
        d = _docs(spark, sf_dir)
        m1 = cat.write(
            d.filter(F.col("doc_id") % 3 == 0), "docs_tt",
            stats_cols=["doc_id"],
        )
        cat.write(
            d.filter(F.col("doc_id") % 3 == 1), "docs_tt", mode="append",
        )
        hit = (cat, m1["snapshot_id"])
        _TT_STATE[sf_dir] = hit
    cat, sid = hit
    return (
        cat.read_at("docs_tt", sid)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_id"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_TIME_TRAVEL_ORACLE = """
SELECT lang,
       COUNT(*)::BIGINT AS n_docs,
       SUM(doc_id)::BIGINT AS sum_id,
       SUM(n_chars)::BIGINT AS sum_chars
FROM documents
WHERE doc_id % 3 = 0
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Sketches (operators/sketches.py): bounded-state aggregates for the scales
# where exact global state stops being an option. Registers / counters /
# bit positions are all md5-derived integers, so the DuckDB oracles
# re-derive them bit-for-bit; the HLL estimate is a dyadic-rational sum
# that doubles represent exactly in any order (module docstring).
# ---------------------------------------------------------------------------


def _sk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(F.explode(tokens("text")).alias("term"))


def _q_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256 HyperLogLog registers of the corpus token stream (vocabulary
    cardinality sketch): (bucket, rho)."""
    from antidb_spark.operators.sketches import hll_registers

    return hll_registers(_sk_tokens(spark, sf_dir))


def _q_hll_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-HLL vocabulary estimate next to the exact distinct count:
    (n_registers, est_distinct, exact_distinct, rel_err)."""
    from antidb_spark.operators.sketches import hll_estimate

    return hll_estimate(_sk_tokens(spark, sf_dir))


def _sk_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 highest-total-tf terms (ties → term asc): the deterministic
    probe set for the CMS / Bloom entries."""
    return (
        _sk_tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_tf"))
        .orderBy(F.desc("exact_tf"), "term")
        .limit(10)
    )


def _q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point estimates for the top-10 terms beside the exact
    counts: (term, est, exact_tf); est ≥ exact_tf always (CMS one-sided
    error is part of the checked contract)."""
    from antidb_spark.operators.sketches import cms_estimate, cms_sketch

    toks = _sk_tokens(spark, sf_dir)
    probes = _sk_top_terms(spark, sf_dir)
    est = cms_estimate(cms_sketch(toks), probes.select("term"))
    return est.join(F.broadcast(probes), "term").select(
        "term", "est", "exact_tf"
    )


def _q_bloom_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership verdicts for 10 present + 5 absent probes:
    (term, bloom_hit, present); present probes are NEVER missed."""
    from antidb_spark.operators.sketches import bloom_bits, bloom_check

    toks = _sk_tokens(spark, sf_dir)
    bits = bloom_bits(toks)
    probes = _sk_top_terms(spark, sf_dir).select("term").union(
        spark.createDataFrame(
            [(f"xqzzyv{i}",) for i in range(5)], ["term"]
        )
    )
    vocab = toks.distinct().withColumn("_in", F.lit(True))
    return (
        bloom_check(bits, probes)
        .join(vocab, "term", "left")
        .select(
            "term",
            "bloom_hit",
            F.coalesce(F.col("_in"), F.lit(False)).alias("present"),
        )
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets per doc under the analyzer AND a BPE-ish
    pretokenizer: (doc_id, n_ws_tokens, n_bpe_tokens, chars_per_bpe)."""
    from antidb_spark.operators.textstats import token_count_stats

    return token_count_stats(_docs(spark, sf_dir))


def _token_stats_oracle() -> str:
    from antidb_spark.operators.textstats import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return f"""
SELECT doc_id,
  len(list_filter({sql_tokens("text")}, t -> t <> ''))::BIGINT
    AS n_ws_tokens,
  len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_bpe_tokens,
  round(CASE WHEN len(regexp_extract_all(text, '{pat}')) > 0
        THEN length(text)::DOUBLE / len(regexp_extract_all(text, '{pat}'))
        ELSE 0.0 END, 6) AS chars_per_bpe
FROM documents
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's latest view at-or-before it
    (as-of join): (user_id, click_id, view_id, gap_us). Spark side is
    the union-tag + last-ignore-nulls window composition (ONE shuffle);
    the oracle is DuckDB's NATIVE ASOF LEFT JOIN — semantically
    independent formulations."""
    from antidb_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    return asof_join(clicks, views, key="user_id").select(
        "user_id",
        F.col("left_id").alias("click_id"),
        F.col("right_id").alias("view_id"),
        "gap_us",
    )


ASOF_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
v AS (SELECT user_id, ts, max(event_id) AS event_id FROM events
      WHERE event_type = 'view' GROUP BY user_id, ts)
SELECT c.user_id,
       c.event_id AS click_id,
       v.event_id AS view_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM c ASOF LEFT JOIN v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within ±10 minutes of a purchase by the same user (banded
    range join): (user_id, purchase_id, error_id, delta_us). Spark side
    is the bucketized equi-join (shuffle 3×|left| + |right|, never a
    cartesian); the oracle is DuckDB's native range-predicate join."""
    from antidb_spark.operators.temporal import banded_range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    return banded_range_join(
        purchases, errors, key="user_id", band_seconds=600
    ).select(
        "user_id",
        F.col("left_id").alias("purchase_id"),
        F.col("right_id").alias("error_id"),
        "delta_us",
    )


RANGE_ORACLE = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       x.event_id AS error_id,
       epoch_us(x.ts) - epoch_us(p.ts) AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') x
  ON p.user_id = x.user_id
 AND x.ts BETWEEN p.ts - INTERVAL 600 SECOND
              AND p.ts + INTERVAL 600 SECOND
"""


def _sk_oracles() -> dict[str, str]:
    """DuckDB twins for the sketch entries, composed from the SAME
    constants/fragments the Spark side uses (sketches.sql_h48 etc.)."""
    from antidb_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        CMS_DEPTH,
        CMS_WIDTH,
        HLL_ALPHA,
        HLL_M,
        HLL_P,
        sql_h48,
        sql_hll_rho,
    )

    h = sql_h48("term", "hll1")
    regs = (
        f"regs AS (SELECT ({h}) % {HLL_M} AS bucket, "
        f"max({sql_hll_rho(f'({h}) >> {HLL_P}')}) AS rho "
        "FROM tok GROUP BY 1)"
    )
    # alpha * m^2 as the exact shortest-round-trip decimal of the Python
    # double, so DuckDB parses the identical IEEE value the Spark literal
    # carries
    a_m2 = repr(HLL_ALPHA * HLL_M * HLL_M)
    est = (
        f"{a_m2} / ({HLL_M}::DOUBLE - n_registers + s_present)"
    )
    cms_grid = (
        f"grid AS (SELECT i.i AS row, "
        f"('0x' || substr(md5('cms' || i.i || ':' || t.term), 1, 12))::BIGINT"
        f" % {CMS_WIDTH} AS cell, count(*)::BIGINT AS cnt "
        f"FROM tok t, unnest(generate_series(0, {CMS_DEPTH - 1})) AS i(i) "
        "GROUP BY 1, 2)"
    )
    cms_cells = (
        f"cells AS (SELECT p.term, i.i AS row, "
        f"('0x' || substr(md5('cms' || i.i || ':' || p.term), 1, 12))::BIGINT"
        f" % {CMS_WIDTH} AS cell "
        f"FROM probes p, unnest(generate_series(0, {CMS_DEPTH - 1})) AS i(i))"
    )
    top_terms = (
        "cnt AS (SELECT term, count(*)::BIGINT AS exact_tf "
        "FROM tok GROUP BY term), "
        "probes AS (SELECT term, exact_tf FROM cnt "
        "ORDER BY exact_tf DESC, term LIMIT 10)"
    )
    bloom_hashes = ", ".join(
        f"('0x' || substr(md5('blm' || {i} || ':' || term), 1, 12))::BIGINT"
        f" % {BLOOM_BITS}"
        for i in range(BLOOM_K)
    )
    return {
        "hll_vocab": f"WITH {TOK_CTE}, {regs} SELECT bucket, rho FROM regs",
        "hll_card": f"""
WITH {TOK_CTE}, {regs},
agg AS (SELECT count(*)::BIGINT AS n_registers,
               sum(1.0::DOUBLE / ((1::BIGINT << rho)::DOUBLE)) AS s_present
        FROM regs),
ex AS (SELECT count(DISTINCT term)::BIGINT AS exact_distinct FROM tok)
SELECT n_registers,
       round({est}, 4) AS est_distinct,
       exact_distinct,
       round(({est} - exact_distinct) / exact_distinct, 4) AS rel_err
FROM agg, ex
""",
        "cms_counts": f"""
WITH {TOK_CTE}, {top_terms}, {cms_grid}, {cms_cells}
SELECT c.term,
       min(coalesce(g.cnt, 0))::BIGINT AS est,
       any_value(p.exact_tf) AS exact_tf
FROM cells c
LEFT JOIN grid g ON g.row = c.row AND g.cell = c.cell
JOIN probes p ON p.term = c.term
GROUP BY c.term
""",
        "bloom_check": f"""
WITH {TOK_CTE}, {top_terms},
allp AS (SELECT term FROM probes
         UNION ALL
         SELECT 'xqzzyv' || i::VARCHAR FROM unnest(generate_series(0, 4)) AS s(i)),
bits AS (SELECT DISTINCT b.bit
         FROM (SELECT DISTINCT term FROM tok) v,
              unnest([{bloom_hashes}]) AS b(bit)),
pc AS (SELECT p.term, b.bit
       FROM allp p, unnest([{bloom_hashes}]) AS b(bit)),
verdict AS (SELECT pc.term,
                   (min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 1)
                     AS bloom_hit
            FROM pc LEFT JOIN bits ON bits.bit = pc.bit
            GROUP BY pc.term)
SELECT v.term, v.bloom_hit,
       (t.term IS NOT NULL) AS present
FROM verdict v
LEFT JOIN (SELECT DISTINCT term FROM tok) t ON t.term = v.term
""",
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ATTESTATION ROTATION NOTE: the driver records correctness rows
    for only the FIRST 50 dict entries, so entry order rotates each
    round, least-recently-driver-attested first. Current order: the 43
    entries outside the last two windows (fingerprints …
    temperature_mix), then upsert_eq, upsert_topk, merged_topk,
    deleted_topk, phrase_search, snippet_hits and federated_topk, so the
    window attests upsert, purge, merge and the positional build. The
    rest keep their previous order: cluster_mix … hybrid_topk (the last
    window) and sessionize … phrase_prefix (the window before). The
    next rotation should move cluster_mix … hybrid_topk (the entries of
    the last window not in this one) to the front."""
    return {
        # --- outside the last two driver windows
        "fingerprints": _q_fingerprints,
        "exact_dup_groups": _q_exact_dup_groups,
        "ngram_jaccard": _q_ngram_jaccard,
        "packed_examples": _q_packed_examples,
        "frame_sample": _q_frame_sample,
        "media_features": _q_media_features,
        "media_decode": _q_media_decode,
        "media_meta": _q_media_meta,
        "embedding_dups": _q_embedding_dups,
        "doc_chunks": _q_doc_chunks,
        "sliding_counts": _q_sliding_counts,
        "term_vectors": _q_term_vectors,
        "stream_sessions": _q_stream_sessions,
        "ann_recall": _q_ann_recall,
        "hll_vocab": _q_hll_vocab,
        "token_stats": _q_token_stats,
        "asof_join": _q_asof_join,
        "range_join": _q_range_join,
        "hll_card": _q_hll_card,
        "cms_counts": _q_cms_counts,
        "bloom_check": _q_bloom_check,
        "repetition": _q_repetition,
        "pii_redact": _q_pii_redact,
        "decontam": _q_decontam,
        "dataset_split": _q_dataset_split,
        "packed_sequences": _q_packed_sequences,
        "length_quantiles": _q_length_quantiles,
        "epoch_mix": _q_epoch_mix,
        "shuffle_order": _q_shuffle_order,
        "stratified_sample": _q_stratified_sample,
        "dedup_resolve": _q_dedup_resolve,
        "keywords": _q_keywords,
        "score_explain": _q_score_explain,
        "percolate": _q_percolate,
        "facet_hist": _q_facet_hist,
        "facet_card": _q_facet_card,
        "group_must": _q_group_must,
        "sig_terms": _q_sig_terms,
        "complete_prefix": _q_complete,
        "group_hits": _q_group_hits,
        "rescored_topk": _q_rescored_topk,
        "kmeans_clusters": _q_kmeans,
        "temperature_mix": _q_temperature_mix,
        # --- upsert, purge, merge and the positional build
        "upsert_eq": _q_upsert_eq,
        "upsert_topk": _q_upsert_topk,
        "merged_topk": _q_merged_topk,
        "deleted_topk": _q_deleted_topk,
        "phrase_search": _q_phrase_search,
        "snippet_hits": _q_snippet_hits,
        "federated_topk": _q_federated_topk,
        # ---- driver window (50) ends here ----
        # --- in the last driver window
        "cluster_mix": _q_cluster_mix,
        "dup_groups": _q_dup_groups,
        "curated": _q_curated,
        "pq_topk": _q_pq_topk,
        "pq_refined": _q_pq_refined,
        "ivfpq_topk": _q_ivfpq_topk,
        "time_travel": _q_time_travel,
        "minhash_dups": _q_minhash_dups,
        "simhash_dups": _q_simhash_dups,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "clone_candidates": _q_clone_candidates,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "fuzzy_topk": _q_fuzzy_topk,
        "keyed_eq_persisted": _q_keyed_eq_persisted,
        "keyed_rng_persisted": _q_keyed_rng_persisted,
        "eq_lookup": _q_eq_lookup,
        "rng_lookup": _q_rng_lookup,
        "term_counts": _q_term_counts,
        "postings_tf": _q_postings,
        "term_df": _q_term_df,
        "doc_lengths": _q_doc_lengths,
        "corpus_stats": _q_corpus_stats,
        "topk_bm25": _q_topk_bm25,
        "indexed_topk": _q_indexed_topk,
        "filtered_topk": _q_filtered_topk,
        "conjunctive_topk": _q_conjunctive_topk,
        "not_topk": _q_not_topk,
        "bool_topk": _q_bool_topk,
        "bool_msm": _q_bool_msm,
        "synonym_topk": _q_synonym_topk,
        "bm25f_topk": _q_bm25f_topk,
        "prefix_topk": _q_prefix_topk,
        "wildcard_topk": _q_wildcard_topk,
        "near_search": _q_near_search,
        "slop_phrase": _q_slop_phrase,
        "facet_counts": _q_facet_counts,
        "paged_topk": _q_paged_topk,
        "more_like_this": _q_more_like_this,
        "regex_topk": _q_regex_topk,
        "boosted_topk": _q_boosted_topk,
        "decay_topk": _q_decay_topk,
        "hit_count": _q_hit_count,
        "grouped_topk": _q_grouped_topk,
        "hybrid_topk": _q_hybrid_topk,
        # --- in the window before the last
        "sessionize": _q_sessionize,
        "tumbling_counts": _q_tumbling_counts,
        "spell_suggest": _q_spell_suggest,
        "lookup_dump": _q_lookup_dump,
        "fallback_join": _q_fallback_join,
        "interval_days": _q_interval_days,
        "phrase_adhoc": _q_phrase_adhoc,
        "phrase_prefix": _q_phrase_prefix,
    }


# --- oracle SQL ---------------------------------------------------------


def _topk_oracle(
    query: str, k: int, where: str | None = None,
    require_all: bool = False, exclude: str | None = None,
    offset: int = 0, must: str | None = None, delete_top: int = 0,
    corpus_sql: str | None = None, min_should_match: int = 0,
) -> str:
    """BM25 top-k oracle; ``where`` restricts the RESULT docs via a
    predicate over the documents row (alias ``doc``) while df/avgdl/N
    stay corpus-global (mirrors ``IndexBuilder.query_filtered``);
    ``require_all`` keeps only docs containing every query term
    (mirrors ``require_all=True``); ``must`` keeps only docs containing
    every term of THAT subset while the rest of ``query`` merely scores
    (mirrors ``query_bool``); ``exclude`` removes docs containing
    any excluded term (mirrors ``exclude=...``); ``delete_top`` removes
    the query's own top-N docs from the RESULT while df/avgdl/N stay
    computed over the full corpus (mirrors tombstone deletes' stale-
    statistics visibility contract — ``delete_docs`` + requery)."""
    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    per_term_sums = " + ".join(
        f"coalesce(sum(CASE WHEN p.term = '{t}' THEN {contrib} END), 0.0)"
        for t in terms
    )
    doc_join = (
        "JOIN documents doc ON doc.doc_id = p.doc_id" if where else ""
    )
    preds = []
    if where:
        preds.append(f"({where})")
    if delete_top:
        inner = _topk_oracle(query, delete_top)
        preds.append(
            f"p.doc_id NOT IN (SELECT doc_id FROM ({inner}) _deleted)"
        )
    if exclude:
        ex_list = ", ".join(
            f"'{t}'" for t in sorted(set(py_tokens(exclude)))
        )
        preds.append(
            "p.doc_id NOT IN "
            f"(SELECT doc_id FROM post WHERE term IN ({ex_list}))"
        )
    where_clause = f"WHERE {' AND '.join(preds)}" if preds else ""
    having = (
        f"HAVING count(DISTINCT p.term) = {len(terms)}" if require_all else ""
    )
    if must:
        must_terms = sorted(set(py_tokens(must)))
        must_list = ", ".join(f"'{t}'" for t in must_terms)
        having = (
            "HAVING count(DISTINCT CASE WHEN p.term IN "
            f"({must_list}) THEN p.term END) = {len(must_terms)}"
        )
    if min_should_match:
        # optional terms = query terms not already required by must
        opt = sorted(set(terms) - set(py_tokens(must or "")))
        opt_list = ", ".join(f"'{t}'" for t in opt)
        msm_cond = (
            "count(DISTINCT CASE WHEN p.term IN "
            f"({opt_list}) THEN p.term END) >= {int(min_should_match)}"
        )
        having = (
            f"{having} AND {msm_cond}" if having else f"HAVING {msm_cond}"
        )
    lead = (
        f"logical AS ({corpus_sql}), {_tok_cte('logical')}"
        if corpus_sql else TOK_CTE
    )
    return f"""
WITH {lead}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term IN ({in_list}) GROUP BY term)
SELECT p.doc_id AS doc_id, round({per_term_sums}, 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
{doc_join}
{where_clause}
GROUP BY p.doc_id
{having}
ORDER BY score DESC, doc_id ASC
LIMIT {k}{f" OFFSET {offset}" if offset else ""}
"""


def _score_ctes(query: str) -> str:
    """Shared WITH-body producing ``sc(doc_id, score)`` — per-doc
    pinned BM25 scores for every doc matching ≥ 1 query term, the
    SQL mirror of ``bm25_scores_pinned`` (sorted-term fixed-order
    float fold, rounded 4dp)."""
    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    per_term_sums = " + ".join(
        f"coalesce(sum(CASE WHEN p.term = '{t}' THEN {contrib} END), 0.0)"
        for t in terms
    )
    return f"""{TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term IN ({in_list}) GROUP BY term),
sc AS (SELECT p.doc_id AS doc_id, round({per_term_sums}, 4) AS score
       FROM post p
       JOIN dfs d ON p.term = d.term
       JOIN dl l ON p.doc_id = l.doc_id
       CROSS JOIN st s
       GROUP BY p.doc_id)"""


def _grouped_oracle(query: str, group: str, k: int) -> str:
    """Group-rollup oracle (``bm25_grouped_topk``): order-free
    aggregates (count, max) over the rounded per-doc scores."""
    return f"""
WITH {_score_ctes(query)}
SELECT doc.{group} AS {group}, count(*)::BIGINT AS n_hits,
       max(sc.score) AS best_score
FROM sc JOIN documents doc ON doc.doc_id = sc.doc_id
GROUP BY doc.{group}
ORDER BY best_score DESC, {group} ASC
LIMIT {k}
"""


def _hybrid_oracle(query: str, k: int, c: int = 60, depth: int = 50) -> str:
    """RRF fusion oracle (``hybrid_topk``): sparse list = pinned BM25
    top-``depth``, dense list = exact cosine vs the vec_id=0 probe
    (the ann_cosine_topk math), ranks by (score DESC, id ASC),
    contributions added sparse-then-dense, rounded 6dp."""
    return f"""
WITH {_score_ctes(query)},
sp AS (SELECT doc_id, score FROM sc
       ORDER BY score DESC, doc_id ASC LIMIT {depth}),
spr AS (SELECT doc_id,
        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM sp),
pv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
dcos AS (SELECT e.vec_id AS doc_id,
  round(list_sum(list_transform(generate_series(1, len(e.embedding)),
        i -> e.embedding[i]::DOUBLE * pv.v[i]::DOUBLE))
   / (sqrt(list_sum(list_transform(e.embedding,
            x -> x::DOUBLE * x::DOUBLE)))
      * sqrt(list_sum(list_transform(pv.v,
              x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos
  FROM embeddings e, pv),
dn AS (SELECT doc_id, cos FROM dcos
       ORDER BY cos DESC, doc_id ASC LIMIT {depth}),
dnr AS (SELECT doc_id,
        row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r FROM dn)
SELECT coalesce(spr.doc_id, dnr.doc_id) AS doc_id,
       round(coalesce(1.0 / ({c} + spr.r), 0.0)
             + coalesce(1.0 / ({c} + dnr.r), 0.0), 6) AS rrf
FROM spr FULL OUTER JOIN dnr ON spr.doc_id = dnr.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {k}
"""


# Event-stream oracles (operators/events.py): exact epoch-microsecond
# integer math end-to-end — gap flags via lag, session ids via the
# running sum, money as integer cents — so DuckDB reproduces every
# value bit-for-bit (no float seconds anywhere).
_SESSIONIZE_ORACLE = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us
           FROM events),
flags AS (SELECT user_id, event_id, us,
  CASE WHEN lag(us) OVER w IS NULL
         OR us - lag(us) OVER w > 1800000000
       THEN 1 ELSE 0 END AS ns
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sess AS (SELECT user_id, us,
  sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
  FROM flags)
SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
       min(us) AS first_us, max(us) AS last_us,
       max(us) - min(us) AS duration_us
FROM sess
GROUP BY user_id, session_idx
"""

def _sliding_oracle(width_min: int, slide_min: int) -> str:
    """sliding_counts oracle: each event fans out to the width/slide
    aligned window starts in (us - width, us], as the entry does."""
    slide_us = slide_min * 60_000_000
    return f"""
WITH e AS (SELECT epoch_us(ts)::BIGINT AS us, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
x AS (SELECT us - (us % {slide_us}) - i * {slide_us} AS win_start_us,
             event_type, cents
      FROM e, unnest(generate_series(0, {width_min // slide_min - 1}))
              AS g(i))
SELECT win_start_us, event_type,
       count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS sum_cents
FROM x
GROUP BY win_start_us, event_type
"""


def _doc_chunks_oracle(chunk: int, overlap: int) -> str:
    """chunk_docs oracle: the same analyzer token array, the same
    clamped int window math (DuckDB ``//`` is floor division — the
    greatest(0, ·) clamp removes the one negative-operand case where
    floor and Spark's trunc ``DIV`` disagree), list_slice re-joined
    with single spaces."""
    stride = chunk - overlap
    return f"""
WITH t AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS toks
      FROM documents),
s AS (SELECT doc_id, toks, len(toks)::BIGINT AS n
      FROM t WHERE len(toks) > 0)
SELECT doc_id, i::BIGINT AS chunk_idx, (i * {stride})::BIGINT AS start_tok,
       least({chunk}, n - i * {stride})::BIGINT AS n_toks,
       array_to_string(
         list_slice(toks, i * {stride} + 1,
                    i * {stride} + least({chunk}, n - i * {stride})),
         ' ') AS chunk_text
FROM s, unnest(generate_series(
        0, greatest(0, (n - {chunk} + {stride - 1}) // {stride}))) AS g(i)
"""


def _term_vectors_oracle(probes: tuple[int, ...]) -> str:
    """term_vectors oracle: per-(probe doc, term) tf + doc length +
    corpus-wide df, all re-derived from the raw documents (the engine
    serves the same values from its committed doc-keyed termvecs layer
    + terms dictionary)."""
    vals = ", ".join(f"({i})" for i in probes)
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
dfv AS (SELECT term, count(*)::BIGINT AS df
        FROM (SELECT DISTINCT term, doc_id FROM tok) GROUP BY term),
probes(doc_id) AS (VALUES {vals})
SELECT post.doc_id, post.term, post.tf, dl.dl, dfv.df
FROM post
JOIN probes USING (doc_id)
JOIN dl USING (doc_id)
JOIN dfv USING (term)
"""


_TUMBLING_ORACLE = """
WITH e AS (SELECT epoch_us(ts)::BIGINT AS us, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events)
SELECT us - (us % 3600000000) AS win_start_us, event_type,
       count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS sum_cents
FROM e
GROUP BY win_start_us, event_type
"""


def _synonym_oracle(
    query: str, synonyms: dict[str, list[str]], k: int
) -> str:
    """Synonym-group BM25 oracle (blended statistics): member terms map
    to their group representative, the group's per-doc tf is the summed
    member tf and its df counts docs containing ANY member; one row per
    (doc, rep) after grouping, so DuckDB's ordered aggregate reproduces
    the engine's sorted-rep float fold exactly (``query_synonyms``)."""
    reps = sorted(set(py_tokens(query)))
    pairs = []
    for r in reps:
        members = {r}
        for s in synonyms.get(r, ()):
            members.update(py_tokens(s))
        pairs.extend((m, r) for m in sorted(members))
    values = ", ".join(f"('{m}', '{r}')" for m, r in pairs)
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
grp(term, rep) AS (VALUES {values}),
gp AS (SELECT g.rep AS rep, p.doc_id AS doc_id, sum(p.tf)::BIGINT AS tf
       FROM post p JOIN grp g ON p.term = g.term
       GROUP BY g.rep, p.doc_id),
gdf AS (SELECT rep, count(*)::BIGINT AS df FROM gp GROUP BY rep)
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.rep), 4) AS score
FROM gp p
JOIN gdf d ON p.rep = d.rep
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _bm25f_oracle(query: str, k: int) -> str:
    """BM25F oracle for the (text, source) fielded entry: per-field
    token/tf/dl/avgdl CTEs (avgdl over docs HAVING the field — the
    sub-index stats convention), per-field weighted normalized tf,
    blended source-then-text (the engine's sorted-field fold), one
    document-level df per term over the blended candidates, and the
    ordered per-term float fold rounded at the boundary."""
    qt = ", ".join(f"('{t}')" for t in sorted(set(py_tokens(query))))
    w_text, w_src = BM25F_WEIGHTS["text"], BM25F_WEIGHTS["source"]
    return f"""
WITH
tok_t AS (SELECT doc_id, t.term AS term FROM documents,
          unnest({sql_tokens('text')}) AS t(term) WHERE t.term <> ''),
post_t AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok_t
           GROUP BY term, doc_id),
dl_t AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM post_t GROUP BY doc_id),
av_t AS (SELECT avg(dl) AS avgdl FROM dl_t),
tok_s AS (SELECT doc_id, t.term AS term FROM documents,
          unnest({sql_tokens('source')}) AS t(term) WHERE t.term <> ''),
post_s AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok_s
           GROUP BY term, doc_id),
dl_s AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM post_s GROUP BY doc_id),
av_s AS (SELECT avg(dl) AS avgdl FROM dl_s),
nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
qt(term) AS (VALUES {qt}),
wtf_s AS (SELECT p.term, p.doc_id,
          {w_src} * p.tf / (1.0 - 0.75 + 0.75 * l.dl / a.avgdl) AS wtf
          FROM post_s p JOIN qt USING (term) JOIN dl_s l USING (doc_id)
          CROSS JOIN av_s a),
wtf_t AS (SELECT p.term, p.doc_id,
          {w_text} * p.tf / (1.0 - 0.75 + 0.75 * l.dl / a.avgdl) AS wtf
          FROM post_t p JOIN qt USING (term) JOIN dl_t l USING (doc_id)
          CROSS JOIN av_t a),
blend AS (SELECT coalesce(s.term, t.term) AS term,
          coalesce(s.doc_id, t.doc_id) AS doc_id,
          coalesce(s.wtf, 0.0) + coalesce(t.wtf, 0.0) AS tfn
          FROM wtf_s s FULL OUTER JOIN wtf_t t
          ON s.term = t.term AND s.doc_id = t.doc_id),
gdf AS (SELECT term, count(*)::BIGINT AS df FROM blend GROUP BY term)
SELECT b.doc_id AS doc_id,
       round(sum(ln(1.0 + (n.n_docs - g.df + 0.5) / (g.df + 0.5))
                 * b.tfn / (1.2 + b.tfn) ORDER BY b.term), 4) AS score
FROM blend b JOIN gdf g USING (term) CROSS JOIN nn n
GROUP BY b.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _prefix_oracle(prefix: str, k: int, max_terms: int = 128) -> str:
    """Prefix-expansion BM25 oracle: term set = index terms LIKE
    'prefix%' (lexicographically-first ``max_terms`` — the operator's
    deterministic cap), score = contributions summed ORDER BY term (one
    posting row per (doc, term), so DuckDB's ordered aggregate
    reproduces ``_pinned_doc_scores``' sorted-term float fold
    exactly)."""
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term LIKE '{prefix}%' GROUP BY term
        ORDER BY term LIMIT {max_terms})
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _wildcard_oracle(pattern: str, k: int, max_terms: int = 128) -> str:
    """Wildcard-expansion BM25 oracle: glob → SQL LIKE (* → %, ? → _;
    token alphabet has no literal %/_ to escape), lexicographic cap,
    then the same ordered-aggregate float fold as the prefix oracle."""
    like = pattern.lower().replace("*", "%").replace("?", "_")
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term LIKE '{like}' GROUP BY term
        ORDER BY term LIMIT {max_terms})
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _fuzzy_oracle(term: str, max_edits: int, k: int,
                  max_terms: int = 64) -> str:
    """Fuzzy-expansion BM25 oracle: term set = index terms within
    ``max_edits`` Levenshtein distance (DuckDB's ``levenshtein`` and
    Spark's ``F.levenshtein`` both compute the standard edit distance),
    capped (distance asc, term asc) — the operator's deterministic cap
    — then the same ordered-aggregate float fold as the prefix
    oracle."""
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    q = term.lower().strip()
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE length(term) BETWEEN {len(q) - max_edits}
                                AND {len(q) + max_edits}
          AND levenshtein(term, '{q}') <= {max_edits}
        GROUP BY term
        ORDER BY levenshtein(term, '{q}'), term LIMIT {max_terms})
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _regex_oracle(pattern: str, k: int, max_terms: int = 128) -> str:
    """Regex-expansion BM25 oracle: anchored full-term match
    (``regexp_full_match`` ↔ Spark's ``rlike('^(?:pat)$')`` on the
    shared literal/class/quantifier subset), lexicographic cap, ordered
    float fold."""
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE regexp_full_match(term, '{pattern}') GROUP BY term
        ORDER BY term LIMIT {max_terms})
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _boosted_oracle(weights: dict[str, float], k: int) -> str:
    """Boosted BM25 oracle: per-row contribution scaled by the term's
    weight inside the ordered aggregate. Each (doc, term) has exactly
    one posting row, so the per-row multiply is bit-identical to
    Spark's aggregate-then-scale (weight 1.0 multiplies exactly)."""
    norm: dict[str, float] = {}
    for key, w in weights.items():
        for tok in py_tokens(key):
            norm[tok] = float(w)
    terms = sorted(norm)
    in_list = ", ".join(f"'{t}'" for t in terms)
    w_case = "CASE p.term " + " ".join(
        f"WHEN '{t}' THEN {norm[t]!r}" for t in terms
    ) + " END"
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term IN ({in_list}) GROUP BY term)
SELECT p.doc_id AS doc_id,
       round(sum({contrib} * {w_case} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _decay_oracle(query: str, half_life: float, k: int) -> str:
    """Recency-decay oracle: the UNROUNDED pinned BM25 ordered sum
    multiplied by the reciprocal factor recomputed from doc_id, rounded
    ONCE at the boundary — mirrors `query_decayed` exactly (rounding
    the already-4dp score again would land products on .00005 ties
    where the engines' rounding modes diverge)."""
    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term IN ({in_list}) GROUP BY term)
SELECT p.doc_id AS doc_id,
       round(sum({contrib} ORDER BY p.term)
             * (1.0 / (1.0 + (p.doc_id % 365) / {half_life!r})), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _hitcount_oracle(query: str) -> str:
    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {TOK_CTE}, {POST_CTE}
SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
FROM post WHERE term IN ({in_list})
"""


def _mlt_oracle(doc_id: int, m: int, k: int) -> str:
    """More-like-this oracle: recompute the m-term selection (source
    tf × idf, ties term-asc) and the pinned-float ranking entirely in
    SQL — both engines derive the query from the data, so the hash
    check covers selection AND scoring."""
    contrib = sql_contribution(tf="p.tf", df="d.df", dl="l.dl",
                               avgdl="s.avgdl", n="s.n_docs")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
src AS (SELECT term, count(*)::DOUBLE AS qtf FROM tok
        WHERE doc_id = {doc_id} GROUP BY term),
alldf AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term),
dfs AS (SELECT s.term, a.df
        FROM src s JOIN alldf a ON s.term = a.term CROSS JOIN st
        ORDER BY s.qtf * ln(1.0 + (st.n_docs - a.df + 0.5) / (a.df + 0.5))
                 DESC, s.term ASC
        LIMIT {m})
SELECT p.doc_id AS doc_id, round(sum({contrib} ORDER BY p.term), 4) AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
CROSS JOIN st s
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _facet_oracle(query: str, facet_col: str) -> str:
    """Facet-count oracle: distinct matching docs joined back to the
    documents row for the facet value."""
    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {TOK_CTE}, {POST_CTE},
cand AS (SELECT DISTINCT doc_id FROM post WHERE term IN ({in_list}))
SELECT doc.{facet_col} AS facet, count(*)::BIGINT AS n_docs
FROM documents doc JOIN cand ON doc.doc_id = cand.doc_id
GROUP BY 1
ORDER BY n_docs DESC, facet ASC
"""


def _near_oracle(term_a: str, term_b: str, window: int) -> str:
    """NEAR/w oracle: all qualifying occurrence pairs from the same
    0-based token-position stream as the phrase oracle."""
    return f"""
WITH {TOKARR_CTE},
pos AS (SELECT doc_id, i.i - 1 AS p, toks[i.i] AS term
        FROM tokarr, unnest(generate_series(1, len(toks))) AS i(i)),
pa AS (SELECT doc_id, p FROM pos WHERE term = '{term_a}'),
pb AS (SELECT doc_id, p FROM pos WHERE term = '{term_b}')
SELECT pa.doc_id AS doc_id, min(abs(pa.p - pb.p))::BIGINT AS min_dist,
       count(*)::BIGINT AS n_pairs
FROM pa JOIN pb ON pa.doc_id = pb.doc_id
WHERE abs(pa.p - pb.p) <= {window}
GROUP BY 1
"""


def _slop_oracle(phrase: str, slop: int) -> str:
    """Sloppy-phrase oracle: the same greedy (span-minimal) chain as
    phrase_slop_query, one min-aggregated step CTE per later term."""
    terms = py_tokens(phrase)
    n = len(terms)
    ctes = [
        TOKARR_CTE,
        "pos AS (SELECT doc_id, i.i - 1 AS p, toks[i.i] AS term\n"
        "        FROM tokarr, unnest(generate_series(1, len(toks))) AS i(i))",
        f"c1 AS (SELECT doc_id, p AS p1, p AS cur FROM pos "
        f"WHERE term = '{terms[0]}')",
    ]
    for i, t in enumerate(terms[1:], start=2):
        ctes.append(
            f"c{i} AS (SELECT a.doc_id, a.p1, min(b.p) AS cur "
            f"FROM c{i-1} a JOIN pos b ON b.doc_id = a.doc_id "
            f"AND b.term = '{t}' AND b.p > a.cur GROUP BY 1, 2)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, count(*)::BIGINT AS n_matches, "
        f"min(cur - p1 - {n - 1})::BIGINT AS min_disp "
        f"FROM c{n} WHERE cur - p1 - {n - 1} <= {slop} GROUP BY 1"
    )


def _snippet_oracle(query: str, k: int) -> str:
    """Per-(top-k doc, query term) first position + hit count, from the
    same token stream as the phrase oracle; the top-k subquery is the
    unfiltered ``_topk_oracle`` SQL nested as a CTE."""
    terms = sorted(set(py_tokens(query)))
    uniq = ", ".join(f"'{t}'" for t in terms)
    inner = _topk_oracle(query, k).strip()
    return f"""
WITH {TOKARR_CTE},
pos AS (SELECT doc_id, i.i - 1 AS p, toks[i.i] AS term
        FROM tokarr, unnest(generate_series(1, len(toks))) AS i(i)),
topk AS ({inner})
SELECT pos.doc_id AS doc_id, pos.term AS term,
       min(pos.p)::BIGINT AS first_pos, count(*)::BIGINT AS n_hits
FROM pos JOIN topk ON pos.doc_id = topk.doc_id
WHERE pos.term IN ({uniq})
GROUP BY 1, 2
"""


DTOK_CTE = "dtok AS (SELECT DISTINCT term, doc_id FROM tok)"

# toks as a list column (for shingle / per-doc list ops)
TOKARR_CTE = (
    "tokarr AS (SELECT doc_id, text, list_filter("
    f"{sql_tokens('text')}, t -> t <> '') AS toks FROM documents)"
)
# word 3-gram shingles, distinct per doc (mirrors dedup.shingles(n=3))
SHINGLE_CTE = """sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i.i:i.i+2], ' ') AS sh
  FROM tokarr, unnest(generate_series(1, len(toks)-2)) AS i(i)
  WHERE len(toks) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(toks, ' ') FROM tokarr
  WHERE len(toks) < 3
)"""
# canonical content fingerprint (mirrors dedup.norm_text/fingerprint)
SQL_FP = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"

# corpus with planted exact copies (mirrors _docs_planted)
AUG_DOCS_CTE = (
    "aug AS (SELECT * FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 50 = 0)"
)


# Gopher-style repetition rules (mirrors textstats.repetition_stats:
# per-row duplicate fractions + explode/groupBy 2-gram char coverage).
_REPETITION_ORACLE = f"""
WITH rdocs AS (SELECT doc_id,
       CASE WHEN doc_id % 20 = 3 THEN text || ' ' || text ELSE text END AS text
       FROM documents),
tokarr AS (SELECT doc_id, text,
       list_filter({sql_tokens('text')}, t -> t <> '') AS toks FROM rdocs),
g5 AS (SELECT doc_id, array_to_string(toks[i.i:i.i+4], ' ') AS g
       FROM tokarr, unnest(generate_series(1, len(toks)-4)) AS i(i)
       WHERE len(toks) >= 5
       UNION ALL
       SELECT doc_id, array_to_string(toks, ' ') FROM tokarr
       WHERE len(toks) > 0 AND len(toks) < 5),
g5s AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dis
        FROM g5 GROUP BY 1),
g2 AS (SELECT doc_id, array_to_string(toks[i.i:i.i+1], ' ') AS g
       FROM tokarr, unnest(generate_series(1, len(toks)-1)) AS i(i)
       WHERE len(toks) >= 2
       UNION ALL
       SELECT doc_id, array_to_string(toks, ' ') FROM tokarr
       WHERE len(toks) > 0 AND len(toks) < 2),
cov AS (SELECT doc_id, max(cnt * length(g)) AS cov FROM
        (SELECT doc_id, g, count(*) AS cnt FROM g2
         WHERE g <> '' GROUP BY 1, 2) GROUP BY 1)
SELECT t.doc_id,
  len(toks)::BIGINT AS n_tokens,
  round(CASE WHEN len(toks) > 0
        THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
        ELSE 0.0 END, 6) AS dup_token_frac,
  round(CASE WHEN len(toks) > 0
        THEN 1.0 - s.dis::DOUBLE / s.tot ELSE 0.0 END, 6) AS dup_5gram_frac,
  round(coalesce(c.cov / greatest(length(t.text), 1)::DOUBLE, 0.0), 6)
    AS top_2gram_frac
FROM tokarr t LEFT JOIN g5s s USING (doc_id) LEFT JOIN cov c USING (doc_id)
"""


def _pii_redact_oracle() -> str:
    """Same augmentation + redaction as _q_pii_redact, in RE2 SQL."""
    from antidb_spark.operators.textstats import EMAIL_RE, PHONE_RE

    return f"""
WITH aug AS (SELECT doc_id,
  text || ' contact user' || doc_id::VARCHAR || '@example.com or 555-'
       || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents),
e AS (SELECT doc_id, text,
  len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS n_emails,
  regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS no_em
  FROM aug)
SELECT doc_id, regexp_replace(no_em, '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
  n_emails,
  len(regexp_extract_all(no_em, '{PHONE_RE}'))::BIGINT AS n_phones
FROM e
"""


# Benchmark decontamination (mirrors dedup.decontaminate n=5 over the
# deterministic every-50th-doc snippet benchmark in _q_decontam).
_DECONTAM_ORACLE = f"""
WITH {TOKARR_CTE},
bench AS (SELECT doc_id AS bench_id,
          array_to_string(toks[4:13], ' ') AS btext
          FROM tokarr WHERE doc_id % 50 = 7),
btok AS (SELECT bench_id,
         list_filter({sql_tokens('btext')}, t -> t <> '') AS btoks
         FROM bench),
bg AS (SELECT DISTINCT bench_id, array_to_string(btoks[i.i:i.i+4], ' ') AS g
       FROM btok, unnest(generate_series(1, len(btoks)-4)) AS i(i)
       WHERE len(btoks) >= 5
       UNION ALL
       SELECT DISTINCT bench_id, array_to_string(btoks, ' ') FROM btok
       WHERE len(btoks) < 5),
cg AS (SELECT DISTINCT doc_id, array_to_string(toks[i.i:i.i+4], ' ') AS g
       FROM tokarr, unnest(generate_series(1, len(toks)-4)) AS i(i)
       WHERE len(toks) >= 5
       UNION ALL
       SELECT DISTINCT doc_id, array_to_string(toks, ' ') FROM tokarr
       WHERE len(toks) < 5)
SELECT c.doc_id, b.bench_id, count(DISTINCT c.g)::BIGINT AS n_shared
FROM cg c JOIN bg b ON c.g = b.g AND c.g <> '' AND b.g <> ''
GROUP BY 1, 2
"""


# Deterministic split assignment (mirrors datasets.dataset_split:
# bucket = first 8 md5 hex digits of 'v1:id' mod 10000; 0.8/0.1/0.1).
_DATASET_SPLIT_ORACLE = """
WITH b AS (SELECT doc_id,
  ('0x' || substr(md5('v1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
    AS bucket
  FROM documents)
SELECT doc_id, bucket,
  CASE WHEN bucket < 8000 THEN 'train'
       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
FROM b
"""

# Concat-and-chunk sequence packing (mirrors datasets.pack_sequences:
# exclusive prefix sum of token counts in doc_id order, 256-token
# packs, straddling docs sliced at pack boundaries; all-int64 math).
_PACKED_SEQ_ORACLE = f"""
WITH tk AS (SELECT doc_id,
  len(list_filter({sql_tokens('text')}, t -> t <> ''))::BIGINT AS n_toks
  FROM documents),
nz AS (SELECT doc_id, n_toks,
  COALESCE(sum(n_toks) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
  FROM tk WHERE n_toks > 0),
spans AS (SELECT doc_id, n_toks, start,
  unnest(generate_series(start // 256, (start + n_toks - 1) // 256))
    AS pack_id
  FROM nz)
SELECT pack_id, doc_id,
  greatest(pack_id * 256, start) - start AS doc_offset,
  greatest(pack_id * 256, start) - pack_id * 256 AS pack_offset,
  least((pack_id + 1) * 256, start + n_toks)
    - greatest(pack_id * 256, start) AS slice_len
FROM spans
"""

# Exact order statistics (mirrors stats.exact_quantiles: value at
# ascending rank floor(q*(n-1)); rank join, no interpolation).
_LENGTH_QUANTILES_ORACLE = """
WITH s AS (SELECT n_chars AS value,
  row_number() OVER (ORDER BY n_chars) - 1 AS r FROM documents),
n AS (SELECT count(*)::BIGINT AS c FROM documents),
qs(q) AS (VALUES (0.0), (0.25), (0.5), (0.75), (0.9), (0.99), (1.0))
SELECT CAST(q AS DOUBLE) AS q, value
FROM qs, n JOIN s
  ON s.r = CAST(floor(CAST(q AS DOUBLE) * (c - 1)) AS BIGINT)
"""

# Stratified hash sampling (mirrors datasets.stratified_sample:
# same md5 bucket as dataset_split, per-lang keep thresholds).
_STRAT_SAMPLE_ORACLE = """
WITH b AS (SELECT doc_id, lang,
  ('0x' || substr(md5('s1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
    AS bucket
  FROM documents)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 5000
                         WHEN 'de' THEN 10000 ELSE 1000 END
"""

# Pack assembly over the packed_sequences spans (mirrors
# datasets.assemble_packs: parts ordered by pack_offset, counts+len).
_PACKED_EXAMPLES_ORACLE = f"""
WITH tk AS (SELECT doc_id,
  len(list_filter({sql_tokens('text')}, t -> t <> ''))::BIGINT AS n_toks
  FROM documents),
nz AS (SELECT doc_id, n_toks,
  COALESCE(sum(n_toks) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
  FROM tk WHERE n_toks > 0),
spans AS (SELECT doc_id, n_toks, start,
  unnest(generate_series(start // 256, (start + n_toks - 1) // 256))
    AS pack_id
  FROM nz),
sl AS (SELECT pack_id, doc_id,
  greatest(pack_id * 256, start) - start AS doc_offset,
  greatest(pack_id * 256, start) - pack_id * 256 AS pack_offset,
  least((pack_id + 1) * 256, start + n_toks)
    - greatest(pack_id * 256, start) AS slice_len
  FROM spans)
SELECT pack_id, count(*)::BIGINT AS n_docs,
  sum(slice_len)::BIGINT AS pack_len,
  array_to_string(list(format('{{}}:{{}}:{{}}:{{}}', pack_offset, doc_id,
                             doc_offset, slice_len) ORDER BY pack_offset),
                  ';') AS parts
FROM sl GROUP BY pack_id
"""

# Deterministic training-order shuffle (mirrors datasets.shuffle_order:
# dense positions in md5(sh1:id) order, id tiebreak).
_SHUFFLE_ORDER_ORACLE = """
WITH h AS (SELECT doc_id, md5('sh1:' || doc_id::VARCHAR) AS _h
           FROM documents)
SELECT doc_id, row_number() OVER (ORDER BY _h, doc_id) - 1 AS shuffle_pos
FROM h
"""

# Per-stratum epoch mixing (mirrors datasets.mix_epochs: floor(w)
# guaranteed epochs + one extra below the frac(w) bucket threshold;
# en 2.5 / de 1.0 / fr 0.25, default 0.5, salt m1).
_EPOCH_MIX_ORACLE = """
WITH b AS (SELECT doc_id, lang,
  ('0x' || substr(md5('m1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
    AS bucket
  FROM documents),
n AS (SELECT doc_id, lang,
  CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'fr' THEN 0 ELSE 0 END
  + CASE WHEN bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 0
                                 WHEN 'fr' THEN 2500 ELSE 5000 END
         THEN 1 ELSE 0 END AS n_epochs
  FROM b)
SELECT doc_id, lang, unnest(generate_series(0, n_epochs - 1))::INT AS epoch
FROM n WHERE n_epochs > 0
"""

# Exact-dup resolution over the planted-copies corpus (mirrors
# dedup.resolve_exact_dups: min id per fingerprint group survives).
_DEDUP_RESOLVE_ORACLE = f"""
WITH {AUG_DOCS_CTE},
fp AS (SELECT doc_id, {SQL_FP} AS fp FROM aug)
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY fp) AS keep_id,
  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
FROM fp
"""

# Per-doc tf·idf keyword extraction (mirrors textstats.top_terms m=5:
# score rounded 6dp BEFORE ranking, ties broken term-asc).
_KEYWORDS_ORACLE = f"""
WITH {TOK_CTE}, {POST_CTE},
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
sc AS (SELECT post.doc_id, post.term,
       round(post.tf * ln(1 + n.n / dfs.df), 6) AS score
       FROM post JOIN dfs USING (term) CROSS JOIN n),
rk AS (SELECT doc_id, term, score,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term ASC) AS rnk
       FROM sc)
SELECT doc_id, term, score, rnk::BIGINT AS "rank" FROM rk WHERE rnk <= 5
"""


def _explain_oracle(query: str, k: int) -> str:
    """Per-term BM25 factor breakdown of the query's top-k (mirrors
    IndexBuilder.explain: 4dp pinned score from the top-k subquery,
    6dp factor columns)."""
    from antidb_spark.functions.bm25 import SQL_IDF, SQL_TFW

    terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    inner = _topk_oracle(query, k).strip()
    idf = SQL_IDF.format(n="s.n_docs", df="d.df")
    tfw = SQL_TFW.format(tf="p.tf", dl="l.dl", avgdl="s.avgdl")
    return f"""
WITH {TOK_CTE}, {POST_CTE}, {DL_CTE},
st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post
        WHERE term IN ({in_list}) GROUP BY term),
topk AS ({inner})
SELECT p.doc_id AS doc_id, p.term AS term,
  p.tf::BIGINT AS tf, l.dl::BIGINT AS dl, d.df AS df,
  round({idf}, 6) AS idf,
  round({tfw}, 6) AS tf_weight,
  round(({idf}) * ({tfw}), 6) AS contribution,
  t.score AS score
FROM post p
JOIN dfs d ON p.term = d.term
JOIN dl l ON p.doc_id = l.doc_id
JOIN topk t ON p.doc_id = t.doc_id
CROSS JOIN st s
WHERE p.term IN ({in_list})
"""


def _percolate_oracle() -> str:
    """Conjunctive standing-query matching over the registered
    PERC_QUERIES (mirrors percolate.percolate require_all=True)."""
    vals = ", ".join(f"('{i}', '{t}')" for i, t in PERC_QUERIES)
    return f"""
WITH {TOK_CTE}, {DTOK_CTE},
q(query_id, query_text) AS (VALUES {vals}),
qt AS (SELECT DISTINCT query_id, u.tt AS term
       FROM q, unnest({sql_tokens('query_text')}) AS u(tt)
       WHERE u.tt <> ''),
qn AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY 1),
hits AS (SELECT d.doc_id, qt.query_id, count(*)::BIGINT AS n_matched
         FROM dtok d JOIN qt ON d.term = qt.term GROUP BY 1, 2)
SELECT h.doc_id, h.query_id, h.n_matched, qn.n_terms
FROM hits h JOIN qn USING (query_id)
WHERE h.n_matched = qn.n_terms
"""


def _facet_hist_oracle(query: str, col: str, width: int) -> str:
    """Aligned-bucket histogram over docs matching >= 1 query term
    (mirrors IndexBuilder.facet_histogram, disjunctive)."""
    in_list = ", ".join(f"'{t}'" for t in sorted(set(py_tokens(query))))
    return f"""
WITH {TOK_CTE}
SELECT ({col} - {col} % {width})::BIGINT AS bucket,
       count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM tok WHERE term IN ({in_list}))
GROUP BY 1
"""


def _sig_terms_oracle(query: str, k: int, min_dc: int) -> str:
    """significant_terms JLH oracle (mirrors
    IndexBuilder.significant_terms): foreground = docs containing any
    query term; per-term fg_df vs corpus bg_df; score =
    (fg% − bg%)·(fg%/bg%) with the SAME parse shape as the Spark
    expression (single per-row fold over exact BIGINT counts, 6dp)."""
    q_terms = sorted(set(py_tokens(query)))
    in_list = ", ".join(f"'{t}'" for t in q_terms)
    return f"""
WITH {TOK_CTE}, {POST_CTE},
fg AS (SELECT DISTINCT doc_id FROM post WHERE term IN ({in_list})),
nfg AS (SELECT count(*)::BIGINT AS n_fg FROM fg),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
fgdf AS (
  SELECT p.term, count(*)::BIGINT AS fg_df
  FROM post p JOIN fg USING (doc_id)
  WHERE p.term NOT IN ({in_list})
  GROUP BY p.term
  HAVING count(*) >= {int(min_dc)}),
bg AS (SELECT term, count(*)::BIGINT AS bg_df FROM post GROUP BY term)
SELECT f.term AS term, f.fg_df AS fg_df, b.bg_df AS bg_df,
       round(((f.fg_df / n.n_fg) - (b.bg_df / d.n_docs))
             * ((f.fg_df / n.n_fg) / (b.bg_df / d.n_docs)), 6) AS score
FROM fgdf f JOIN bg b USING (term), nfg n, nd d
ORDER BY score DESC, term ASC
LIMIT {k}
"""


def _group_hits_oracle(query: str, group: str, n: int, kg: int) -> str:
    """terms-agg + top_hits oracle (mirrors
    IndexBuilder.group_top_hits): top-kg groups by best member score,
    each group's top-n member docs via a per-group row_number."""
    return f"""
WITH {_score_ctes(query)},
gsc AS (SELECT doc.{group} AS grp, sc.doc_id, sc.score
        FROM sc JOIN documents doc ON doc.doc_id = sc.doc_id
        WHERE doc.{group} IS NOT NULL),
g AS (SELECT grp, max(score) AS best_score FROM gsc
      GROUP BY grp ORDER BY best_score DESC, grp ASC LIMIT {kg}),
ranked AS (SELECT gsc.grp, gsc.doc_id, gsc.score,
                  row_number() OVER (PARTITION BY gsc.grp
                                     ORDER BY gsc.score DESC,
                                              gsc.doc_id ASC) AS rank
           FROM gsc JOIN g USING (grp))
SELECT r.grp AS {group}, g.best_score AS best_score, r.rank::INT AS rank,
       r.doc_id AS doc_id, r.score AS score
FROM ranked r JOIN g USING (grp)
WHERE r.rank <= {n}
ORDER BY best_score DESC, {group} ASC, rank ASC
"""


def _rescored_oracle(
    query: str, phrase: str, window: int, weight: float, k: int,
) -> str:
    """Rescore-window oracle (mirrors IndexBuilder.query_rescored):
    BM25 top-``window`` left-joined to the phrase-frequency relation,
    rescored with the same parse shape and one 4dp boundary round."""
    return f"""
WITH base AS ({_topk_oracle(query, window)}),
ph AS ({_phrase_oracle(phrase)})
SELECT b.doc_id AS doc_id, b.score AS score,
       round(b.score + {weight} * coalesce(ph.phrase_freq, 0), 4)
           AS rescored
FROM base b LEFT JOIN ph USING (doc_id)
ORDER BY rescored DESC, doc_id ASC
LIMIT {k}
"""


def _complete_oracle(prefix: str, k: int) -> str:
    """Completion-suggester oracle (mirrors IndexBuilder.complete):
    vocabulary terms under ``prefix`` ranked df desc, term asc."""
    return f"""
WITH {TOK_CTE}, {POST_CTE},
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term)
SELECT term, df FROM dfs
WHERE term LIKE '{prefix}%'
ORDER BY df DESC, term ASC
LIMIT {k}
"""


def _dup_groups_oracle(threshold: float) -> str:
    """Transitive closure (recursive CTE) over the minhash near-dup
    pairs — min reachable id per node (mirrors
    dedup.connected_dup_groups over minhash_near_dups)."""
    inner = _minhash_dups_oracle(threshold).strip()
    return f"""
WITH RECURSIVE
pairs AS ({inner}),
e(a, b) AS (SELECT id_a, id_b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
nodes(id) AS (SELECT DISTINCT a FROM e),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a
)
SELECT id AS doc_id, min(r)::BIGINT AS group_id FROM reach GROUP BY 1
"""


def _curated_oracle(min_quality: float, langs: tuple[str, ...]) -> str:
    """The full curation funnel in SQL over the planted corpus
    (mirrors datasets.curate: quality gate → language filter →
    canonical-survivor dedup among the FILTERED docs → split)."""
    lang_list = ", ".join(f"'{lg}'" for lg in langs)
    return f"""
WITH {AUG_DOCS_CTE},
tokarr AS (SELECT doc_id, text,
       list_filter({sql_tokens('text')}, t -> t <> '') AS toks FROM aug),
f AS (SELECT doc_id,
  len(toks) AS n_tok,
  CASE WHEN length(text) > 0
       THEN length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
            / length(text)
       ELSE 0.0 END AS alpha_ratio,
  CASE WHEN len(toks) > 0
       THEN {_sql_lang_hits('en')}::DOUBLE / len(toks)
       ELSE 0.0 END AS stop_ratio
  FROM tokarr),
qual AS (SELECT doc_id,
  round(greatest(0.0, least(1.0,
    0.4 * least(n_tok::DOUBLE / 20.0, 1.0)
    + 0.3 * alpha_ratio
    + 0.3 * greatest(1.0 - abs(stop_ratio - 0.4) / 0.4, 0.0))), 6) AS quality
  FROM f),
h AS (SELECT doc_id,
  {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('en')} AS h_en,
  {_sql_lang_hits('es')} AS h_es, {_sql_lang_hits('fr')} AS h_fr
  FROM tokarr),
g AS (SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM h),
lng AS (SELECT doc_id,
  CASE WHEN best = 0 THEN 'und'
       WHEN h_de = best THEN 'de' WHEN h_en = best THEN 'en'
       WHEN h_es = best THEN 'es' ELSE 'fr' END AS pred_lang
  FROM g),
ql AS (SELECT q.doc_id, lng.pred_lang, q.quality
       FROM qual q JOIN lng USING (doc_id)
       WHERE q.quality >= {min_quality} AND lng.pred_lang IN ({lang_list})),
fp AS (SELECT a.doc_id, {SQL_FP} AS fp
       FROM aug a JOIN ql USING (doc_id)),
canon AS (SELECT doc_id FROM
          (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS k FROM fp)
          WHERE doc_id = k),
sp AS (SELECT doc_id,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id,
             ('0x' || substr(md5('v1:' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 10000 AS bucket FROM aug))
SELECT c.doc_id, ql.pred_lang, ql.quality, sp.split
FROM canon c JOIN ql USING (doc_id) JOIN sp USING (doc_id)
"""


def _simhash_dups_oracle(max_distance: int = 3) -> str:
    """Brute-force simhash Hamming pairs, computed from the SAME
    md5-hex-digit bit definition as dedup.term_bit — Spark's 4-band
    pigeonhole query is EXACT for distance ≤ 3, so brute force is the
    oracle. simhash-0 docs (all bits zero) are excluded from pairing,
    mirroring the operator's empty-doc guard."""
    bit = (
        "((strpos('0123456789abcdef', substr(md5(term), b.b // 4 + 1, 1)) - 1)"
        " >> (b.b % 4)) & 1"
    )
    return f"""
WITH {TOK_CTE},
tcnt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
bser AS (SELECT unnest(generate_series(0, 63)) AS b),
vbit AS (
  SELECT doc_id, b.b AS b,
         CASE WHEN sum(CASE WHEN {bit} = 1 THEN tf ELSE -tf END) > 0
              THEN 1 ELSE 0 END AS bit
  FROM tcnt CROSS JOIN bser b GROUP BY doc_id, b.b),
bits AS (
  SELECT d.doc_id, b.b, coalesce(v.bit, 0) AS bit
  FROM documents d CROSS JOIN bser b
  LEFT JOIN vbit v ON v.doc_id = d.doc_id AND v.b = b.b),
nz AS (SELECT doc_id FROM bits GROUP BY doc_id HAVING sum(bit) > 0)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id
WHERE x.doc_id IN (SELECT doc_id FROM nz)
  AND y.doc_id IN (SELECT doc_id FROM nz)
GROUP BY 1, 2
HAVING sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) <= {max_distance}
"""


def _clone_candidates_oracle(min_shared: int = 2, k: int = 5, w: int = 4) -> str:
    """Winnowing in pure SQL (same k-gram md5-prefix hash and
    min-per-window semantics as textstats._winnow_flat)."""
    return f"""
WITH {TOKARR_CTE},
grams AS (
  SELECT doc_id, i.i AS gi, array_to_string(toks[i.i:i.i+{k - 1}], ' ') AS g
  FROM tokarr, unnest(generate_series(1, len(toks) - {k - 1})) AS i(i)
  WHERE len(toks) >= {k}
  UNION ALL
  SELECT doc_id, 1, array_to_string(toks, ' ') FROM tokarr
  WHERE len(toks) BETWEEN 1 AND {k - 1}),
hs AS (
  SELECT doc_id, gi, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM grams),
wins AS (
  SELECT doc_id, gi, ng,
         min(h) OVER (PARTITION BY doc_id ORDER BY gi
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM hs),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins
  WHERE gi <= greatest(ng - {w - 1}, 1))
SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*)::BIGINT AS shared_fps
FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


def _sql_dot(vec_expr: str, other_expr: str, dim: int) -> str:
    """Left-fold dot product — the list_sum ≡ F.aggregate ≡ seq_dot
    association order all float-bearing oracles rely on."""
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> ({vec_expr})[i]::DOUBLE * ({other_expr})[i]::DOUBLE))"
    )


def _sql_cos(vec_expr: str, other_expr: str, dim: int) -> str:
    return (
        f"({_sql_dot(vec_expr, other_expr, dim)} / "
        f"(sqrt({_sql_dot(vec_expr, vec_expr, dim)}) * "
        f"sqrt({_sql_dot(other_expr, other_expr, dim)})))"
    )


def _ann_lsh_oracle(k: int = 10, n_planes: int = 8, n_tables: int = 4,
                    dim: int = 64, seed: int = 42) -> str:
    """Persisted-LSH top-k: candidate iff some table's bucket is within
    Hamming distance 1 of the probe's bucket (≡ multiprobe over the
    probe bucket + its n_planes neighbors), then exact cosine top-k."""
    from antidb_spark.operators.similarity import _hyperplanes

    def bucket(vec_expr: str, t: int) -> str:
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        return " + ".join(
            f"(CASE WHEN {_sql_dot(vec_expr, '[' + ', '.join(repr(float(x)) for x in p) + ']', dim)}"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    cond = " OR ".join(
        f"bit_count(xor((({bucket('e.embedding', t)}))::BIGINT, "
        f"(({bucket('p.pv', t)}))::BIGINT)) <= 1"
        for t in range(n_tables)
    )
    return f"""
WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
cand AS (SELECT e.vec_id, e.embedding FROM embeddings e, p WHERE {cond})
SELECT c.vec_id, round({_sql_cos('c.embedding', 'p.pv', dim)}, 6) AS cos
FROM cand c, p ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def _ann_ivf_oracle(k: int = 10, n_cells: int = 16, n_probe: int = 4,
                    dim: int = 64, seed: int = 42) -> str:
    """Persisted-IVF top-k: centroids = the n_cells lowest-md5(id·seed)
    vectors within the md5-starts-with-'0' slice (mirrors
    similarity.sample_centroids), assignment = per-vector argmax cosine
    (ties → lower cell), probe reads its top n_probe cells."""
    return f"""
WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
sl AS (SELECT vec_id, embedding, md5(vec_id::VARCHAR || '{seed}') AS h
       FROM embeddings),
cent AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
                embedding AS cv
         FROM sl WHERE substr(h, 1, 1) = '0' ORDER BY h, vec_id
         LIMIT {n_cells}),
pairs AS (SELECT e.vec_id, e.embedding, c.cell,
                 {_sql_cos('e.embedding', 'c.cv', dim)} AS s
          FROM embeddings e CROSS JOIN cent c),
asg AS (SELECT vec_id, embedding, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, cell ASC) AS rn
          FROM pairs) WHERE rn = 1),
pcell AS (SELECT c.cell FROM cent c, p
          ORDER BY {_sql_cos('c.cv', 'p.pv', dim)} DESC, c.cell ASC
          LIMIT {n_probe}),
cand AS (SELECT a.vec_id, a.embedding FROM asg a
         WHERE a.cell IN (SELECT cell FROM pcell))
SELECT c.vec_id, round({_sql_cos('c.embedding', 'p.pv', dim)}, 6) AS cos
FROM cand c, p ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def _embedding_dups_oracle(threshold: float = 0.95, n_planes: int = 8,
                           n_tables: int = 2, dim: int = 64,
                           seed: int = 42) -> str:
    """Multi-table LSH-bucketed cosine near-dup pairs with the
    hyperplanes inlined as double literals (same seeded planes as
    similarity._hyperplanes per table — seed + 1000·t — same fold order
    as the Spark dot/l2norm expressions; the ann_cosine_topk oracle
    already pins that list_sum ≡ F.aggregate). Candidates = same bucket
    in ANY table (DISTINCT over the per-table union ≡ Spark's exploded
    (table, bucket) equi-join + distinct)."""
    from antidb_spark.operators.similarity import _hyperplanes

    def bucket(t: int) -> str:
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        lits = [
            "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes
        ]
        return " + ".join(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> embedding[i]::DOUBLE * ({pl})[i])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, pl in enumerate(lits)
        )

    bucket_cols = ", ".join(f"({bucket(t)}) AS b{t}" for t in range(n_tables))
    any_table = " OR ".join(f"x.b{t} = y.b{t}" for t in range(n_tables))
    return f"""
WITH aug AS (SELECT * FROM embeddings UNION ALL
             SELECT vec_id + 100000 AS vec_id, embedding, label
             FROM embeddings WHERE vec_id % 100 = 0),
b AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
             {bucket_cols}
      FROM aug)
SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       round(list_sum(list_transform(generate_series(1, {dim}),
             i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
             / (x.nrm * y.nrm), 6) AS cos
FROM b x JOIN b y ON ({any_table}) AND x.vec_id < y.vec_id
WHERE round(list_sum(list_transform(generate_series(1, {dim}),
            i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
            / (x.nrm * y.nrm), 6) >= {threshold}
"""


def _minhash_dups_oracle(threshold: float = 0.7, seed: int = 42) -> str:
    """MinHash+LSH in pure SQL: the SAME 28-bit md5-prefix base hash,
    the SAME seeded affine permutation family (literals inlined from
    dedup._minhash_coeffs), the SAME 16×4 banding (candidate iff some
    band's 4-tuple matches), and the SAME exact-Jaccard verify — so the
    probabilistic operator is hash-checked end-to-end, not rows-only."""
    from antidb_spark.operators.dedup import (
        MINHASH_P,
        N_BANDS,
        N_HASHES,
        ROWS_PER_BAND,
        _minhash_coeffs,
    )

    a, b = _minhash_coeffs(seed)
    mins = ", ".join(
        f"min(({a[i]} * h + {b[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(N_HASHES)
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"x.h{t * ROWS_PER_BAND + r} = y.h{t * ROWS_PER_BAND + r}"
            for r in range(ROWS_PER_BAND)
        )
        + ")"
        for t in range(N_BANDS)
    )
    return f"""
WITH {TOKARR_CTE}, {SHINGLE_CTE},
hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
         FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ({band_eq})),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.id_a, c.id_b, round(s.c::DOUBLE / (x.n + y.n - s.c), 6) AS jaccard
FROM cand c
JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
WHERE round(s.c::DOUBLE / (x.n + y.n - s.c), 6) >= {threshold}
"""


def _sql_lang_hits(lang: str) -> str:
    from antidb_spark.operators.textstats import LANG_STOPWORDS

    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


def _values(rows) -> str:
    def lit(v):
        return f"'{v}'" if isinstance(v, str) else str(v)

    return ", ".join(
        "(" + ", ".join(lit(c) for c in (r if isinstance(r, tuple) else (r,)))
        + ")"
        for r in rows
    )


def oracle_sql() -> dict[str, str]:
    out = {
        **_sk_oracles(),
        "token_stats": _token_stats_oracle(),
        "asof_join": ASOF_ORACLE,
        "range_join": RANGE_ORACLE,
        "term_counts": (
            f"WITH {TOK_CTE} SELECT term, count(*)::BIGINT AS n FROM tok "
            "GROUP BY term"
        ),
        "postings_tf": f"WITH {TOK_CTE} SELECT term, doc_id, count(*)::BIGINT "
                       "AS tf FROM tok GROUP BY term, doc_id",
        "term_df": (
            f"WITH {TOK_CTE}, {POST_CTE} "
            "SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term"
        ),
        "doc_lengths": f"WITH {TOK_CTE}, {POST_CTE} "
                       "SELECT doc_id, sum(tf)::BIGINT AS dl FROM post GROUP BY doc_id",
        "corpus_stats": (
            f"WITH {TOK_CTE}, {POST_CTE}, {DL_CTE} "
            "SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM dl"
        ),
        "topk_bm25": _topk_oracle(FLAGSHIP_QUERY, 10),
        "eq_lookup": f"""
WITH {TOK_CTE}, {DTOK_CTE},
q(query_ord, term) AS (VALUES {_values(list(enumerate(EQ_PROBES)))})
SELECT q.query_ord, d.* FROM q
JOIN dtok t ON q.term = t.term
JOIN documents d ON t.doc_id = d.doc_id
""",
        "rng_lookup": f"""
WITH {TOK_CTE}, {DTOK_CTE}
SELECT d.* FROM dtok t JOIN documents d ON t.doc_id = d.doc_id
WHERE t.term >= '{RNG_LO}' AND t.term <= '{RNG_HI}'
""",
        "lookup_dump": f"""
WITH {TOK_CTE}, {DTOK_CTE}
SELECT p.probe FROM (VALUES {_values(DUMP_PROBES)}) p(probe)
WHERE p.probe NOT IN (SELECT term FROM dtok)
""",
        "fallback_join": f"""
WITH {TOK_CTE}, {DTOK_CTE},
probes(probe) AS (VALUES {_values(FB_PROBES)}),
syn(syn_from, syn_to) AS (VALUES {_values(FB_SYNONYMS)}),
hits AS (
  SELECT p.probe, d.doc_id, 0 AS path, NULL AS syn
  FROM probes p JOIN dtok d ON p.probe = d.term
  UNION ALL
  SELECT p.probe, d.doc_id, 1, s.syn_to
  FROM probes p JOIN syn s ON p.probe = s.syn_from
  JOIN dtok d ON s.syn_to = d.term),
first_hit AS (
  SELECT probe, doc_id FROM (
    SELECT probe, doc_id,
           row_number() OVER (PARTITION BY probe
                              ORDER BY path, syn NULLS FIRST, doc_id) rn
    FROM hits) WHERE rn = 1)
SELECT p.probe AS probe, f.doc_id AS doc_id
FROM probes p LEFT JOIN first_hit f USING (probe)
""",
        "interval_days": """
SELECT d::date AS d, count(*)::BIGINT AS n_orders
FROM orders, unnest(generate_series(
    o_orderdate::date,
    o_orderdate::date + (o_orderkey % 4)::int * interval 1 day,
    interval 1 day)) AS g(d)
GROUP BY d::date
""",
        "indexed_topk": _topk_oracle(FLAGSHIP_QUERY, 10),
        "filtered_topk": _topk_oracle(FLAGSHIP_QUERY, 10, where=FILTER_WHERE),
        "conjunctive_topk": _topk_oracle(CONJ_QUERY, 10, require_all=True),
        "not_topk": _topk_oracle(FLAGSHIP_QUERY, 10, exclude=NOT_TERM),
        "bool_topk": _topk_oracle(
            f"{BOOL_MUST} {BOOL_SHOULD}", 10,
            must=BOOL_MUST, exclude=BOOL_NOT,
        ),
        "bool_msm": _topk_oracle(
            f"{BOOL_MUST} {BOOL_SHOULD}", 10,
            must=BOOL_MUST, min_should_match=BOOL_MSM,
        ),
        "synonym_topk": _synonym_oracle(FLAGSHIP_QUERY, SYNONYMS, 10),
        "bm25f_topk": _bm25f_oracle(BM25F_QUERY, 10),
        "deleted_topk": _topk_oracle(
            FLAGSHIP_QUERY, 10, delete_top=N_DELETED
        ),
        "prefix_topk": _prefix_oracle(PREFIX_PAT, 10),
        "wildcard_topk": _wildcard_oracle(WILDCARD_PAT, 10),
        "near_search": _near_oracle(NEAR_A, NEAR_B, NEAR_W),
        "slop_phrase": _slop_oracle(SLOP_PHRASE, SLOP),
        "facet_counts": _facet_oracle(FLAGSHIP_QUERY, "lang"),
        "paged_topk": _topk_oracle(FLAGSHIP_QUERY, 10, offset=10),
        "more_like_this": _mlt_oracle(MLT_DOC, MLT_M, 10),
        "fuzzy_topk": _fuzzy_oracle(FUZZY_TERM, FUZZY_EDITS, 10),
        "regex_topk": _regex_oracle(REGEX_PAT, 10),
        "boosted_topk": _boosted_oracle(BOOST_WEIGHTS, 10),
        "decay_topk": _decay_oracle(FLAGSHIP_QUERY, DECAY_HALF_LIFE, 10),
        "hit_count": _hitcount_oracle(FLAGSHIP_QUERY),
        "merged_topk": _topk_oracle(FLAGSHIP_QUERY, 10),
        "federated_topk": _topk_oracle(FLAGSHIP_QUERY, 10),
        "spell_suggest": f"""
WITH {TOK_CTE}, {POST_CTE},
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term)
SELECT term AS suggestion, levenshtein(term, '{SUGGEST_PROBE}')::INT AS dist,
       df
FROM dfs
WHERE levenshtein(term, '{SUGGEST_PROBE}') <= 2
  AND term <> '{SUGGEST_PROBE}'
ORDER BY dist, df DESC, term
LIMIT 5
""",
        "upsert_eq": f"""
WITH logical AS ({UPSERT_LOGICAL_SQL}), {_tok_cte('logical')}, {POST_CTE},
probes(query_ord, term) AS (VALUES (0, '{UPSERT_SENT}'), (1, 'window'))
SELECT p.query_ord AS query_ord, post.doc_id AS doc_id, post.tf AS tf
FROM probes p JOIN post ON post.term = p.term
""",
        "upsert_topk": _topk_oracle(
            FLAGSHIP_QUERY, 10, corpus_sql=UPSERT_LOGICAL_SQL
        ),
        "snippet_hits": _snippet_oracle(FLAGSHIP_QUERY, 10),
        "fingerprints": f"SELECT doc_id, {SQL_FP} AS fp FROM documents",
        "exact_dup_groups": f"""
WITH {AUG_DOCS_CTE}
SELECT fp, count(*)::BIGINT AS group_size
FROM (SELECT {SQL_FP} AS fp FROM aug)
GROUP BY fp HAVING count(*) > 1
""",
        "ngram_jaccard": f"""
WITH {TOKARR_CTE}, {SHINGLE_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(c::DOUBLE / (x.n + y.n - c), 6) AS jaccard
FROM shared JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE round(c::DOUBLE / (x.n + y.n - c), 6) >= 0.7
""",
        "lang_id": f"""
WITH {TOKARR_CTE},
h AS (SELECT doc_id,
  {_sql_lang_hits('de')} AS h_de, {_sql_lang_hits('en')} AS h_en,
  {_sql_lang_hits('es')} AS h_es, {_sql_lang_hits('fr')} AS h_fr
  FROM tokarr),
g AS (SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM h)
SELECT doc_id,
  CASE WHEN best = 0 THEN 'und'
       WHEN h_de = best THEN 'de' WHEN h_en = best THEN 'en'
       WHEN h_es = best THEN 'es' ELSE 'fr' END AS pred_lang,
  best::BIGINT AS hits
FROM g
""",
        "quality": f"""
WITH {TOKARR_CTE},
f AS (SELECT doc_id,
  len(toks) AS n_tok,
  CASE WHEN len(toks) > 0
       THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
       ELSE 0.0 END AS mean_len,
  CASE WHEN length(text) > 0
       THEN length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
            / length(text)
       ELSE 0.0 END AS alpha_ratio,
  CASE WHEN len(toks) > 0
       THEN {_sql_lang_hits('en')}::DOUBLE / len(toks)
       ELSE 0.0 END AS stop_ratio
  FROM tokarr)
SELECT doc_id,
  n_tok::BIGINT AS n_tokens,
  round(mean_len, 6) AS mean_tok_len,
  round(alpha_ratio, 6) AS alpha_ratio,
  round(stop_ratio, 6) AS stopword_ratio,
  round(greatest(0.0, least(1.0,
    0.4 * least(n_tok::DOUBLE / 20.0, 1.0)
    + 0.3 * alpha_ratio
    + 0.3 * greatest(1.0 - abs(stop_ratio - 0.4) / 0.4, 0.0))), 6) AS quality
FROM f
""",
        "ann_cosine_topk": """
WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
d AS (SELECT e.vec_id,
  list_sum(list_transform(generate_series(1, len(e.embedding)),
           i -> e.embedding[i]::DOUBLE * p.pv[i]::DOUBLE)) AS dp,
  sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
  sqrt(list_sum(list_transform(p.pv, x -> x::DOUBLE * x::DOUBLE))) AS nb
  FROM embeddings e, p)
SELECT vec_id, round(dp / (na * nb), 6) AS cos
FROM d ORDER BY cos DESC, vec_id ASC LIMIT 10
""",
        "media_meta": """
SELECT doc_id::BIGINT AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS media_type,
  octet_length(text::BLOB)::BIGINT AS n_bytes,
  md5(text) AS payload_md5
FROM documents
""",
        "media_features": MEDIA_FEATURES_ORACLE,
        "frame_sample": FRAME_SAMPLE_ORACLE,
    }
    # the persisted-index paths must answer exactly like the in-memory
    # KeyedIndex paths → same oracles
    out["phrase_search"] = _phrase_oracle(PHRASE_QUERY)
    out["phrase_prefix"] = _phrase_prefix_oracle(PHRASE_PREFIX)
    out["phrase_adhoc"] = _phrase_oracle(PHRASE_QUERY)
    out["media_decode"] = MEDIA_DECODE_ORACLE
    out["keyed_eq_persisted"] = out["eq_lookup"]
    out["keyed_rng_persisted"] = out["rng_lookup"]
    out["grouped_topk"] = _grouped_oracle(FLAGSHIP_QUERY, "source", 10)
    out["hybrid_topk"] = _hybrid_oracle(FLAGSHIP_QUERY, 10)
    out["sessionize"] = _SESSIONIZE_ORACLE
    # the streaming fold must reproduce the batch windows row for row —
    # same oracle (flusher row excluded on the Spark side)
    out["stream_sessions"] = _SESSIONIZE_ORACLE
    out["tumbling_counts"] = _TUMBLING_ORACLE
    out["sliding_counts"] = _sliding_oracle(SLIDE_WIDTH_MIN, SLIDE_STEP_MIN)
    out["doc_chunks"] = _doc_chunks_oracle(CHUNK_TOKS, CHUNK_OVERLAP)
    out["term_vectors"] = _term_vectors_oracle(TERMVEC_PROBES)
    out["simhash_dups"] = _simhash_dups_oracle(3)
    out["minhash_dups"] = _minhash_dups_oracle(0.7)
    out["clone_candidates"] = _clone_candidates_oracle(2)
    out["embedding_dups"] = _embedding_dups_oracle(0.95)
    out["ann_lsh_topk"] = _ann_lsh_oracle(10)
    # recall@10 of the LSH probe vs exact cosine: both sides recomputed
    # (nested-WITH CTEs), intersection / k; n/k division identical IEEE
    # in both engines
    out["ann_recall"] = f"""
WITH a AS ({_ann_lsh_oracle(10)}),
     e AS ({out["ann_cosine_topk"]})
SELECT 10::BIGINT AS k, count(*)::BIGINT AS n_hits,
       count(*) / 10.0 AS recall
FROM a JOIN e USING (vec_id)
"""
    out["ann_ivf_topk"] = _ann_ivf_oracle(10)
    out["repetition"] = _REPETITION_ORACLE
    out["pii_redact"] = _pii_redact_oracle()
    out["decontam"] = _DECONTAM_ORACLE
    out["dataset_split"] = _DATASET_SPLIT_ORACLE
    out["packed_sequences"] = _PACKED_SEQ_ORACLE
    out["length_quantiles"] = _LENGTH_QUANTILES_ORACLE
    out["epoch_mix"] = _EPOCH_MIX_ORACLE
    out["packed_examples"] = _PACKED_EXAMPLES_ORACLE
    out["shuffle_order"] = _SHUFFLE_ORDER_ORACLE
    out["stratified_sample"] = _STRAT_SAMPLE_ORACLE
    out["dedup_resolve"] = _DEDUP_RESOLVE_ORACLE
    out["keywords"] = _KEYWORDS_ORACLE
    out["score_explain"] = _explain_oracle(FLAGSHIP_QUERY, 10)
    out["percolate"] = _percolate_oracle()
    out["facet_hist"] = _facet_hist_oracle(FLAGSHIP_QUERY, "n_chars", 100)
    out["facet_card"] = _facet_card_oracle(FLAGSHIP_QUERY, "source")
    out["group_must"] = _group_must_oracle(GROUP_CLAUSES, "source", 10)
    out["sig_terms"] = _sig_terms_oracle(SIG_QUERY, 10, SIG_MIN_DC)
    out["complete_prefix"] = _complete_oracle(COMPLETE_PREFIX, COMPLETE_K)
    out["group_hits"] = _group_hits_oracle(
        FLAGSHIP_QUERY, GROUP_HITS_COL, GROUP_HITS_N, GROUP_HITS_K
    )
    out["rescored_topk"] = _rescored_oracle(
        FLAGSHIP_QUERY, RESCORE_PHRASE, RESCORE_W, RESCORE_WT, 10
    )
    out["kmeans_clusters"] = _kmeans_oracle(KMEANS_K, KMEANS_ITERS)
    out["temperature_mix"] = _TEMP_MIX_ORACLE
    out["cluster_mix"] = _cluster_mix_oracle(
        KMEANS_K, KMEANS_ITERS, TEMP_FRAC, "c1"
    )
    out["pq_topk"] = _pq_oracle(PQ_M, PQ_K, PQ_ITERS, 64 // PQ_M, 0, 10)
    out["pq_refined"] = _pq_refined_oracle(
        PQ_M, PQ_K, PQ_ITERS, 64 // PQ_M, 0, PQ_SHORTLIST, 10
    )
    out["ivfpq_topk"] = _ivfpq_oracle(
        IVFPQ_CELLS, KMEANS_ITERS, PQ_M, PQ_K, PQ_ITERS,
        64 // PQ_M, 0, IVFPQ_NPROBE, 10,
    )
    out["dup_groups"] = _dup_groups_oracle(0.7)
    out["curated"] = _curated_oracle(0.6, ("en",))
    out["time_travel"] = _TIME_TRAVEL_ORACLE
    return out
