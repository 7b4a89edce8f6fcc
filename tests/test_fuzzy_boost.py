"""Fuzzy/regex term expansion, query-time boosting, and hit counts,
against brute-force references computed from the corpus token stream.

`expand_fuzzy` must equal the brute-force Levenshtein vocabulary filter
(with the (distance, term) deterministic cap), `expand_regex` the
re.fullmatch filter; the query variants must equal `query_pinned` run
over the literal expansion set (same scoring core). `query_boosted`
must equal an independent pandas weighted-BM25 reference, and weights
of 1.0 must reproduce `query_pinned` exactly.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import py_tokens
from antidb_spark.functions.bm25 import B, K1
from antidb_spark.operators.build import IndexBuilder


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from antidb_spark.synth import synth_transcripts

    corpus = synth_transcripts(spark, n_convs=40, seed=13).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("fzidx")))
    b.build(corpus)
    yield b, corpus
    corpus.unpersist()


def _vocab(corpus) -> list[str]:
    return [
        r["t"]
        for r in corpus.select(
            F.explode(F.expr(
                "filter(split(regexp_replace(lower(text), "
                "'[^a-z0-9]+', ' '), ' '), x -> x <> '')"
            )).alias("t")
        ).distinct().collect()
    ]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# --- fuzzy expansion ------------------------------------------------------


def _fuzzy_probe(vocab: list[str]) -> str:
    """A deterministic probe NOT in the vocabulary but at distance 1
    from a word in it — first char substituted, so no prefix-prune
    could have found it."""
    base = sorted(t for t in vocab if len(t) >= 4)[0]
    probe = ("x" if base[0] != "x" else "y") + base[1:]
    assert probe not in vocab
    return probe


@pytest.mark.parametrize("d", [1, 2])
def test_expand_fuzzy_matches_bruteforce(built, d):
    b, corpus = built
    vocab = _vocab(corpus)
    probe = _fuzzy_probe(vocab)
    ranked = sorted((_lev(probe, t), t) for t in vocab
                    if _lev(probe, t) <= d)
    want = sorted(t for _, t in ranked[:IndexBuilder.MAX_FUZZY_EXPANSIONS])
    got = b.expand_fuzzy(probe, max_edits=d)
    assert got == want
    assert len(got) > 0  # distance-1 neighbor planted by construction


def test_expand_fuzzy_cap_is_distance_then_lex(built):
    b, corpus = built
    vocab = _vocab(corpus)
    probe, d = _fuzzy_probe(vocab), 2
    ranked = sorted((_lev(probe, t), t) for t in vocab
                    if _lev(probe, t) <= d)
    assert len(ranked) > 2
    want = sorted(t for _, t in ranked[:2])
    assert b.expand_fuzzy(probe, max_edits=d, max_terms=2) == want


def test_expand_fuzzy_case_and_empty(built):
    b, _ = built
    assert b.expand_fuzzy("THE", max_edits=1) == b.expand_fuzzy("the", 1)
    assert b.expand_fuzzy("", max_edits=1) == []
    assert b.expand_fuzzy("qqqqqqqq", max_edits=1) == []


def test_query_fuzzy_equals_pinned_over_expansion(built):
    b, corpus = built
    probe = _fuzzy_probe(_vocab(corpus))
    exp = b.expand_fuzzy(probe, max_edits=2)
    assert exp
    got = b.query_fuzzy(probe, k=10, max_edits=2).toPandas()
    want = b.query_pinned(" ".join(exp), k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_symspell_equals_distributed_scan(built):
    """The deletion-neighborhood point read must return EXACTLY the
    distributed length-banded Levenshtein scan's expansion (the
    SymSpell theorem guarantees the candidate superset; the shared
    verify+cap make the outputs identical)."""
    b, corpus = built
    vocab = _vocab(corpus)
    probe = _fuzzy_probe(vocab)
    for d in (1, 2):
        sym = b.expand_fuzzy(probe, max_edits=d)
        scan = b._expand_fuzzy_scan(
            probe, d, IndexBuilder.MAX_FUZZY_EXPANSIONS)
        assert sym == scan
    # common in-vocabulary word too (dense neighborhood)
    word = sorted(t for t in vocab if len(t) >= 4)[0]
    assert b.expand_fuzzy(word, max_edits=1) == b._expand_fuzzy_scan(
        word, 1, IndexBuilder.MAX_FUZZY_EXPANSIONS)


def test_query_fuzzy_warm_matches_spark_path(built, pin_batch_tier):
    """Same contract as the prefix/wildcard warm tiers: bit-identical
    to query_batch over the expansion, rank-identical to the pinned
    query_fuzzy."""
    b, corpus = built
    probe = _fuzzy_probe(_vocab(corpus))
    exp = b.expand_fuzzy(probe, max_edits=2)
    warm = b.query_fuzzy_warm(probe, k=10, max_edits=2)
    pin_batch_tier("spark")
    batch = b.query_batch([exp], k=10).toPandas().drop(columns=["query_id"])
    assert warm.values.tolist() == batch.values.tolist()  # bit-identical
    pinned = b.query_fuzzy(probe, k=10, max_edits=2).toPandas()
    assert warm[["conv_id", "turn_idx"]].values.tolist() == \
        pinned[["conv_id", "turn_idx"]].values.tolist()  # rank-identical
    assert b.query_fuzzy_warm("qqqqqqqq", k=10).empty


def test_suggest_symspell_equals_scan_ranking(built):
    """SymSpell-served suggestions must reproduce the distributed
    scan's (dist asc, df desc, term asc) ranking exactly."""
    b, corpus = built
    vocab = _vocab(corpus)
    probe = _fuzzy_probe(vocab)
    got = [tuple(r) for r in b.suggest(probe, k=5, max_edits=2).collect()]
    dist = F.levenshtein(F.col("term"), F.lit(probe))
    want = [
        tuple(r)
        for r in b.catalog.read("terms")
        .filter((dist <= 2) & (F.col("term") != probe))
        .select(F.col("term").alias("suggestion"), dist.alias("dist"), "df")
        .orderBy("dist", F.desc("df"), "suggestion")
        .limit(5)
        .collect()
    ]
    assert got == want


def test_terms_del_resyncs_after_vocab_change(spark, tmp_path):
    """A vocabulary-changing mutation must invalidate the committed
    deletion table (src_snapshot pin) so fuzzy sees the new terms."""
    import pandas as pd

    from antidb_spark.synth import synth_transcripts

    corpus = synth_transcripts(spark, n_convs=6, seed=21)
    b = IndexBuilder(spark, str(tmp_path / "fz2"))
    b.build(corpus)
    assert b.expand_fuzzy("zzglorp", max_edits=1) == []
    assert b.catalog.exists("terms_del")
    b.upsert_docs(
        spark.createDataFrame(pd.DataFrame([{
            "conv_id": "c-new", "turn_idx": 0,
            "role": "user", "text": "zzglorq zzglorq arrives",
        }])),
    )
    assert b.expand_fuzzy("zzglorp", max_edits=1) == ["zzglorq"]


def test_query_fuzzy_no_match_is_empty(built):
    b, _ = built
    out = b.query_fuzzy("qqqqqqqq", k=10, max_edits=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields[-1:]] == ["score"]


# --- regex expansion ------------------------------------------------------


@pytest.mark.parametrize("pat", ["s.*a.*", "[st].{2,4}", "zzz.*"])
def test_expand_regex_matches_fullmatch(built, pat):
    b, corpus = built
    vocab = _vocab(corpus)
    want = sorted(t for t in vocab if re.fullmatch(pat, t))
    want = want[:IndexBuilder.MAX_REGEX_EXPANSIONS]
    assert b.expand_regex(pat) == want


def test_expand_regex_cap_is_lexicographic(built):
    b, _ = built
    full = b.expand_regex("s.*")
    assert len(full) > 2
    assert b.expand_regex("s.*", max_terms=2) == full[:2]


def test_query_regex_equals_pinned_over_expansion(built):
    b, _ = built
    exp = b.expand_regex("s.*a.*")
    got = b.query_regex("s.*a.*", k=10).toPandas()
    want = b.query_pinned(" ".join(exp), k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


# --- boosting -------------------------------------------------------------


def _pandas_boosted(corpus_pd, weights: dict[str, float], k: int):
    """Independent weighted-BM25 reference (sorted-term float fold,
    4dp rounding at the boundary — the engine's pinned discipline)."""
    tok_lists = corpus_pd["text"].map(py_tokens)
    n_docs = len(corpus_pd)
    dl = tok_lists.map(len).to_numpy(dtype=np.float64)
    avgdl = dl.mean()
    scores = np.zeros(n_docs)
    for term in sorted(weights):
        w = weights[term]
        tf = np.array([t.count(term) for t in tok_lists], dtype=np.float64)
        df_t = int((tf > 0).sum())
        if df_t == 0:
            continue
        idf_t = np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        tfw = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        scores += np.where(tf > 0, idf_t * tfw, 0.0) * w
    out = corpus_pd[["conv_id", "turn_idx"]].copy()
    out["score"] = np.round(scores, 4)
    return out.sort_values(
        by=["score", "conv_id", "turn_idx"], ascending=[False, True, True]
    ).head(k).reset_index(drop=True)


def test_query_boosted_matches_pandas_reference(built):
    b, corpus = built
    weights = {"the": 0.25, "of": 3.0, "to": 1.5}
    got = b.query_boosted(weights, k=10).toPandas()
    want = _pandas_boosted(
        corpus.orderBy("conv_id", "turn_idx").toPandas(), weights, 10
    )
    assert got[["conv_id", "turn_idx"]].values.tolist() == \
        want[["conv_id", "turn_idx"]].values.tolist()
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)


def test_query_boosted_unit_weights_equal_pinned(built):
    b, _ = built
    q = "the of and"
    got = b.query_boosted({t: 1.0 for t in py_tokens(q)}, k=10).toPandas()
    want = b.query_pinned(q, k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_query_boosted_reorders(built):
    b, _ = built
    base = b.query_pinned("the of", k=5).toPandas()
    skew = b.query_boosted({"the": 0.01, "of": 100.0}, k=5).toPandas()
    assert base[["conv_id", "turn_idx"]].values.tolist() != \
        skew[["conv_id", "turn_idx"]].values.tolist()


def test_query_boosted_empty_weights(built):
    b, _ = built
    assert b.query_boosted({}, k=5).count() == 0


# --- hit count ------------------------------------------------------------


def test_hit_count_matches_bruteforce(built):
    b, corpus = built
    q = "the of zzzmiss"
    terms = set(py_tokens(q))
    want = sum(
        1 for r in corpus.select("text").collect()
        if terms & set(py_tokens(r["text"]))
    )
    got = b.hit_count(q).collect()
    assert got[0]["n_docs"] == want and want > 0


def test_hit_count_empty_query(built):
    b, _ = built
    assert b.hit_count("").collect()[0]["n_docs"] == 0


# --- did-you-mean suggestions --------------------------------------------


def test_suggest_matches_bruteforce(built):
    b, corpus = built
    vocab = _vocab(corpus)
    dfs = {
        r["term"]: r["df"]
        for r in b.catalog.read("terms").collect()
    }
    for probe, me in (("qery", 2), ("the", 1), ("daat", 2)):
        want = sorted(
            (
                (_lev(t, probe), -dfs[t], t)
                for t in vocab
                if t != probe and _lev(t, probe) <= me
            ),
        )[:5]
        got = b.suggest(probe, k=5, max_edits=me).collect()
        assert [
            (r["dist"], -r["df"], r["suggestion"]) for r in got
        ] == want, probe
        # df column is the committed document frequency
        assert all(r["df"] == dfs[r["suggestion"]] for r in got)


def test_suggest_excludes_exact_and_handles_misses(built):
    b, _ = built
    # a correctly-spelled frequent term never suggests itself
    got = b.suggest("the", k=5, max_edits=2).collect()
    assert all(r["suggestion"] != "the" for r in got)
    assert b.suggest("zzzzzzzzzzz", k=5).count() == 0
    assert b.suggest("", k=5).count() == 0
    assert b.suggest("  ", k=5).count() == 0
