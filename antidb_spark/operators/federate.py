"""Federated multi-segment search: query-time fan-out over N committed
index segments with GLOBAL statistics — the shard-search architecture.

At web scale an index lives as many independently-built segments
(per-day builds, per-tenant shards, the outputs of parallel ingest
jobs). ``merge_index`` folds them physically (O(src) but it rewrites
manifests and is one segment at a time); this module answers queries
across ALL of them with no physical merge at all: per-segment scoring
under shared global statistics + a k-row-per-segment merge.

Exactness invariant (the same one ``merge_index`` proves physically):
for id-disjoint segments, ``federated_topk([build(A), build(B)], q) ≡
build(A ∪ B).query_pinned(q)`` — including ties. Why it holds:

- global n_docs = Σ n_i and global Σ dl = Σ sum_dl_i (integers), so
  the merged corpus's avgdl is exactly recoverable from per-segment
  stats;
- global df(t) = Σ df_i(t) (a doc lives in exactly one segment);
- a doc's (tf, dl) lives wholly in its segment, so its pinned BM25
  score is computable segment-locally once the global (df, avgdl,
  n_docs) are injected;
- the global top-k is contained in the union of per-segment top-ks, so
  cutting k rows per segment before the merge loses nothing, and the
  merge ranks by (score desc, *id_cols asc) — the same tiebreak the
  single-index path uses (its doc_ord order IS id order).

Scale shape: planning is driver-side pyarrow over each segment's
committed metadata (no Spark jobs); each segment scores through the
single-index pinned core (``build.pinned_scores``) with the global
df/N/avgdl as literals — this module holds no BM25 arithmetic — and
reads only its manifest-pruned block files for the query's terms;
``_resolve_topk`` cuts a segment-local top-k, and the merge moves k
rows per segment. Nothing touches a segment's files.

Statistics contract with deletes/upserts: per-segment stats count dead
generations until that segment's ``purge_deleted`` — identical to the
single-index stale-stats contract (tombstoned docs never appear in
results; they keep weighing on df/avgdl/N until purge).

Reference analog: none — the reference holds one archive per .adb file
and queries them independently (prs.py:27-38); cross-archive search
with correct global ranking is what a fleet of those archives needs.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import py_tokens
from antidb_spark.operators.build import literal_dfs, pinned_scores


def federated_stats(builders) -> tuple[int, float]:
    """Global (n_docs, avgdl) across segments, driver-side only: each
    segment's exact ``sum_dl`` adds up integer-exact, so the global
    avgdl is bit-identical to a union build's."""
    n_docs, total_dl = 0, 0.0
    for b in builders:
        row = b.catalog.read_arrow("stats").to_pylist()[0]
        n_docs += int(row["n_docs"])
        total_dl += float(row["sum_dl"])
    return n_docs, (total_dl / n_docs if n_docs else 0.0)


def federated_dfs(builders, terms: Sequence[str]) -> dict[str, int]:
    """Global per-term document frequency = Σ segment dfs (id-disjoint
    segments), from manifest-pruned pyarrow reads — no Spark jobs."""
    out: dict[str, int] = {}
    for b in builders:
        for t, d in b._term_dfs(list(terms)).items():
            out[t] = out.get(t, 0) + d
    return out


def federated_topk(
    spark: SparkSession,
    builders,
    query: str,
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 across id-disjoint committed segments under global
    statistics. Returns (*id_cols, score) — value-identical (ties
    included) to ``query_pinned`` on a single index built over the
    union of the segments' corpora.

    Each segment contributes at most k candidate rows (its local top-k
    under the GLOBAL stats, tiebroken on doc_ord = segment id order);
    the final rank is (score desc, *id_cols asc), the single-index
    tiebreak. ``spark`` is not used: each segment plans on its own
    builder's session."""
    if not builders:
        raise ValueError("federated_topk needs at least one segment")
    id_cols = list(builders[0].id_cols)
    for b in builders[1:]:
        if list(b.id_cols) != id_cols:
            raise ValueError("segments disagree on id_cols")
    q_terms = sorted(set(py_tokens(query)))
    if not q_terms:
        return builders[0]._empty_topk()
    gdfs = federated_dfs(builders, q_terms)
    if not gdfs:
        return builders[0]._empty_topk()
    n_docs, avgdl = federated_stats(builders)
    outs = [
        b._resolve_topk(
            pinned_scores(
                b._term_postings(sorted(gdfs)), q_terms, literal_dfs(gdfs),
                n_docs, avgdl,
            ).select("doc_ord", "score"),
            k,
        )
        for b in builders
    ]
    merged = reduce(lambda a, c: a.unionByName(c), outs)
    return merged.orderBy(
        F.desc("score"), *[F.asc(c) for c in id_cols]
    ).limit(k)
