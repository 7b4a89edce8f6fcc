"""Fielded (multi-field) indexing and BM25F ranking.

A document here is not one bag of words: transcripts carry `text`,
`role`, and `tool`; web documents carry `text` and `source`. Lucene
models this as per-field term spaces with per-field length norms, and
ranks multi-field queries with BM25F — per-field length-normalized term
frequencies are BLENDED into one pseudo-frequency BEFORE a single
document-level idf saturates it. That is materially different from
summing independent per-field BM25 scores: a term matching twice in two
fields saturates like one strong match, and a rare-in-one-field term
cannot mint itself an inflated per-field idf.

Architecture: one committed sub-index PER FIELD (`IndexBuilder` in a
subdirectory — the multi-index-coexistence shape, reference
idx.py:56-61), each fully reusing the existing build/resume/prune
machinery. Sub-indexes do NOT share ordinal space (a doc with an empty
field is absent from that field's docmap), so cross-field blending
joins on the user id columns — the only new moving part. A tiny
`fielded.json` written root-last (the manifest-last commit protocol,
reference idx.py:225-226 analog) records the collection size N and the
field list; per-field avgdl lives in each sub-index's own stats table.

Scale notes (100 TB lens):
- build = F independent single-field builds — same shuffle profile as
  the main path, each resumable from its own catalog.
- query touches only the query terms' manifest-pruned blocks per
  field; the per-field docmap join (ordinal → ids) shuffles candidate
  rows (≈ the query terms' postings), never the corpus, and the
  docmap side is doc_ord-range row-grouped so AQE sizes it; the
  cross-field blend is ONE groupBy on (term, *id_cols).
- df/idf are document-level (docs containing the term in ANY field),
  computed as a tiny per-term aggregate over the blended candidates
  and broadcast back.

Float discipline: per (term, doc, field) there is exactly one posting,
so the field blend folds coalesced per-field columns in sorted-field
order; per-doc scores fold per-term partials in sorted-term order and
round to 4dp at the boundary (`build.fold_pinned`, the pinned contract
of `query_pinned`), so a DuckDB ordered aggregate reproduces the scores
bit-for-bit.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from functools import reduce
import operator as _op

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import py_tokens
from antidb_spark.functions.bm25 import B, K1, idf
from antidb_spark.operators.build import IndexBuilder, fold_pinned
from antidb_spark.schema import DOC_ID_COLS

META_NAME = "fielded.json"


class FieldedIndex:
    """A family of per-field committed indexes + BM25F ranking.

    ``fields`` are column names of the corpus; each gets its own
    sub-index under ``root/f_<name>`` built with that column as the
    analyzed text. Field-scoped single-field search (`query_field`)
    delegates to the sub-index untouched (full query surface: pinned /
    filtered / phrase / ... all work per field).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fields: Sequence[str],
        id_cols: Sequence[str] = DOC_ID_COLS,
    ):
        if not fields:
            raise ValueError("fields must be non-empty")
        self.spark = spark
        self.root = root
        self.fields = list(dict.fromkeys(fields))
        self.id_cols = list(id_cols)
        self.sub: dict[str, IndexBuilder] = {
            f: IndexBuilder(
                spark, os.path.join(root, f"f_{f}"),
                id_cols=id_cols, text_col=f,
            )
            for f in self.fields
        }
        self._meta: dict | None = None

    # -- build ------------------------------------------------------------

    def build(self, corpus: DataFrame | None = None) -> dict:
        """Build every field sub-index (each independently resumable),
        then commit the collection metadata root-last. ``corpus=None``
        is allowed when every sub-build is already committed."""
        metrics: dict[str, dict] = {}
        for f, b in self.sub.items():
            metrics[f] = b.build(corpus)
        meta_path = os.path.join(self.root, META_NAME)
        if not os.path.exists(meta_path):
            if corpus is None:
                raise ValueError(
                    "corpus is required unless fielded metadata is committed"
                )
            # collection N for idf: every corpus document counts, even
            # one with all fields empty (it can never match, but it IS
            # part of the collection the way Lucene's docCount is)
            n_docs = corpus.select(*self.id_cols).distinct().count()
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"n_docs": n_docs, "fields": self.fields}, fh)
            os.replace(tmp, meta_path)
        self._meta = None
        return metrics

    def _collection_meta(self) -> dict:
        if self._meta is None:
            with open(os.path.join(self.root, META_NAME)) as fh:
                self._meta = json.load(fh)
        return self._meta

    # -- query ------------------------------------------------------------

    def query_field(self, field: str, query: str, k: int = 10) -> DataFrame:
        """Field-scoped search (`field:term` semantics): rank within
        one field's sub-index using its own statistics."""
        return self.sub[field].query_pinned(query, k=k)

    def query_bm25f(
        self,
        query: str,
        weights: dict[str, float] | None = None,
        bs: dict[str, float] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """BM25F top-k over all fields.

        Per field f with weight w_f and length-norm slope b_f:
            B_f(d)  = 1 - b_f + b_f * dl_f(d) / avgdl_f
            tfn(t,d) = Σ_f  w_f * tf_{t,f,d} / B_f(d)
        and per term, with document-level df (term in ANY field) and
        collection size N:
            score(d) = Σ_t  idf(df_t, N) * tfn / (k1 + tfn)
        (the standard Lucene/Robertson BM25F; like Lucene, no (k1+1)
        numerator factor — rank-preserving). avgdl_f averages over docs
        that HAVE the field (the sub-index stats convention, = Lucene's
        per-field norm over docCount(field)).

        A one-field index with w=1, b=B ranks identically to
        `query_pinned` (scores differ by the (k1+1) factor only).
        """
        weights = dict(weights or {})
        bs = dict(bs or {})
        reps = sorted(set(py_tokens(query)))
        if not reps:
            return self._empty_topk()
        n_docs = int(self._collection_meta()["n_docs"])

        per_field: list[DataFrame] = []
        for f in self.fields:
            w = float(weights.get(f, 1.0))
            if w == 0.0:
                continue
            b = self.sub[f]
            b_f = float(bs.get(f, B))
            _, avgdl = b._corpus_stats()
            post = b._term_postings(reps)
            norm = F.lit(1.0 - b_f) + F.lit(b_f) * (
                F.col("dl").cast("double") / F.lit(float(avgdl))
            )
            docmap = b.catalog.read("docmap").select("doc_ord", *self.id_cols)
            per_field.append(
                post.withColumn(
                    "wtf", F.lit(w) * F.col("tf").cast("double") / norm
                )
                .join(docmap, "doc_ord")
                .select(
                    "term", *self.id_cols,
                    F.lit(f).alias("field"), "wtf",
                )
            )
        if not per_field:
            return self._empty_topk()
        cand = reduce(DataFrame.unionByName, per_field)

        # blend: one row per (term, doc, field) → per-field pivot folded
        # in sorted-field order (pinned float association)
        forder = sorted(self.fields)
        fald = [
            F.sum(F.when(F.col("field") == f, F.col("wtf"))).alias(f"w{i}")
            for i, f in enumerate(forder)
        ]
        blended = cand.groupBy("term", *self.id_cols).agg(*fald).withColumn(
            "tfn",
            reduce(_op.add, [
                F.coalesce(F.col(f"w{i}"), F.lit(0.0))
                for i in range(len(forder))
            ]),
        )
        gdf = blended.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = blended.join(F.broadcast(gdf), "term").withColumn(
            "contrib",
            idf(F.col("df"), F.lit(n_docs))
            * F.col("tfn") / (F.lit(float(K1)) + F.col("tfn")),
        )
        top = fold_pinned(scored, reps, by=self.id_cols)
        order = [F.col("score").desc()] + [F.col(c).asc() for c in self.id_cols]
        return top.select(*self.id_cols, "score").orderBy(*order).limit(k)

    def _empty_topk(self) -> DataFrame:
        return self.sub[self.fields[0]]._empty_topk()
