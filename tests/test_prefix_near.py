"""Prefix/wildcard search and NEAR proximity, against brute-force
references computed from the corpus token stream.

`query_prefix` must equal `query_pinned` run over the literal expansion
set (same scoring core), and the expansion itself must equal the
brute-force vocabulary filter. `near_query` must equal a pandas
pairwise reference over per-doc positions, and must strictly contain
the exact-phrase result set for the same term pair.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import py_tokens
from antidb_spark.operators.build import IndexBuilder
from antidb_spark.operators.phrase import (
    build_positional_index,
    near_query,
    phrase_search,
)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from antidb_spark.synth import synth_transcripts

    corpus = synth_transcripts(spark, n_convs=40, seed=11).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("pnidx")))
    b.build(corpus)
    build_positional_index(b, corpus)
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


def test_expand_prefix_matches_vocabulary(built):
    b, corpus = built
    vocab = _vocab(corpus)
    for prefix in ("s", "th", "zzz"):
        want = sorted(t for t in vocab if t.startswith(prefix))
        assert b.expand_prefix(prefix) == want


def test_expand_prefix_cap_is_lexicographic(built):
    b, _ = built
    full = b.expand_prefix("s")
    assert len(full) > 2
    assert b.expand_prefix("s", max_terms=2) == full[:2]


def test_expand_prefix_normalizes_case_and_empty(built):
    b, _ = built
    assert b.expand_prefix("S") == b.expand_prefix("s")
    assert b.expand_prefix("") == []


def test_query_prefix_equals_pinned_over_expansion(built):
    b, _ = built
    exp = b.expand_prefix("s")
    got = b.query_prefix("s", k=10).toPandas()
    want = b.query_pinned(" ".join(exp), k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_query_prefix_warm_matches_batch_and_ranks(built, pin_batch_tier):
    b, _ = built
    pin_batch_tier("spark")  # warm vs the independent Spark tier
    exp = b.expand_prefix("s")
    warm = b.query_prefix_warm("s", k=10)
    batch = b.query_batch([exp], k=10).toPandas().drop(columns=["query_id"])
    assert warm.values.tolist() == batch.values.tolist()  # bit-identical
    pinned = b.query_prefix("s", k=10).toPandas()
    assert warm[["conv_id", "turn_idx"]].values.tolist() == \
        pinned[["conv_id", "turn_idx"]].values.tolist()  # rank-identical
    assert len(warm) == 10
    assert b.query_prefix_warm("qqqxyz", k=10).empty


def test_query_prefix_no_match_is_empty(built):
    b, _ = built
    out = b.query_prefix("qqqxyz", k=10)
    assert out.count() == 0
    assert [f.name for f in out.schema] == [*b.id_cols, "score"]


def _positions(corpus, term: str) -> pd.DataFrame:
    toks = corpus.select(
        "conv_id", "turn_idx",
        F.posexplode(F.expr(
            "filter(split(regexp_replace(lower(text), "
            "'[^a-z0-9]+', ' '), ' '), x -> x <> '')"
        )).alias("pos", "t"),
    )
    return toks.filter(F.col("t") == term).select(
        "conv_id", "turn_idx", "pos"
    ).toPandas()


def test_near_matches_bruteforce_pairs(built):
    b, corpus = built
    ta, tb, w = "from", "has", 4  # co-occur in 6 docs at this seed/scale
    pa = _positions(corpus, ta).rename(columns={"pos": "pa"})
    pb = _positions(corpus, tb).rename(columns={"pos": "pb"})
    pairs = pa.merge(pb, on=["conv_id", "turn_idx"])
    pairs["dist"] = (pairs["pa"] - pairs["pb"]).abs()
    pairs = pairs[pairs["dist"] <= w]
    want = (
        pairs.groupby(["conv_id", "turn_idx"], as_index=False)
        .agg(min_dist=("dist", "min"), n_pairs=("dist", "size"))
        .sort_values(["min_dist", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = near_query(b, ta, tb, w).toPandas()
    assert got["min_dist"].is_monotonic_increasing
    assert (
        got.sort_values(["min_dist", "conv_id", "turn_idx"])
        .reset_index(drop=True)
        .astype({"min_dist": "int64", "n_pairs": "int64"})
        .values.tolist()
        == want.astype({"min_dist": "int64", "n_pairs": "int64"})
        .values.tolist()
    )
    assert len(got) > 0


def test_near_contains_exact_phrase(built):
    b, corpus = built
    phrase = phrase_search(
        corpus, "from has", id_cols=("conv_id", "turn_idx")
    ).toPandas()
    near = near_query(b, "from", "has", 1).toPandas()
    pk = set(map(tuple, phrase[["conv_id", "turn_idx"]].values.tolist()))
    nk = set(map(tuple, near[["conv_id", "turn_idx"]].values.tolist()))
    assert pk <= nk
    # wider windows only grow the result set
    wide = near_query(b, "from", "has", 4).toPandas()
    wk = set(map(tuple, wide[["conv_id", "turn_idx"]].values.tolist()))
    assert nk <= wk and len(wk) > 0


def test_near_warm_matches_distributed(built):
    from antidb_spark.operators import phrase as ph

    b, _ = built
    for w in (1, 4, 9):
        want = ph.near_query(b, "from", "has", w).toPandas()
        got = ph.near_warm(b, "from", "has", w)
        assert got.astype({"min_dist": "int64", "n_pairs": "int64"}) \
            .values.tolist() == want.astype(
            {"min_dist": "int64", "n_pairs": "int64"}).values.tolist()
    assert len(ph.near_warm(b, "from", "has", 4)) > 0
    # miss term → empty with the right columns
    empty = ph.near_warm(b, "from", "zzznotaword0", 4)
    assert empty.empty and list(empty.columns) == [
        "conv_id", "turn_idx", "min_dist", "n_pairs"
    ]


def test_near_warm_fallback_path(built, monkeypatch):
    from antidb_spark.operators import phrase as ph

    b, _ = built
    want = ph.near_warm(b, "from", "has", 4)
    monkeypatch.setattr(ph, "PHRASE_WARM_MAX_BLOCKS", 0)
    got = ph.near_warm(b, "from", "has", 4)  # forced distributed fallback
    assert got.astype({"min_dist": "int64", "n_pairs": "int64"}) \
        .values.tolist() == want.astype(
        {"min_dist": "int64", "n_pairs": "int64"}).values.tolist()


def test_near_validates_arguments(built):
    b, _ = built
    from antidb_spark.operators.phrase import near_warm

    for fn in (near_query, near_warm):
        with pytest.raises(ValueError):
            fn(b, "table", "table", 3)
        with pytest.raises(ValueError):
            fn(b, "two words", "hash", 3)
    assert py_tokens("Table!") == ["table"]


# ----------------------------------------------------------- slop phrase


def _brute_slop(corpus, terms, slop):
    """Greedy-chain python reference over the raw token stream."""
    import bisect

    texts = corpus.select("conv_id", "turn_idx", "text").collect()
    out = {}
    for r in texts:
        toks = py_tokens(r["text"])
        pos = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        if terms[0] not in pos:
            continue
        disps = []
        for p1 in pos[terms[0]]:
            cur, ok = p1, True
            for t in terms[1:]:
                ps = pos.get(t, [])
                j = bisect.bisect_right(ps, cur)
                if j == len(ps):
                    ok = False
                    break
                cur = ps[j]
            if ok:
                d = cur - p1 - (len(terms) - 1)
                if d <= slop:
                    disps.append(d)
        if disps:
            out[(r["conv_id"], r["turn_idx"])] = (len(disps), min(disps))
    return out


def test_phrase_slop_matches_bruteforce(built):
    from antidb_spark.operators.phrase import phrase_slop_query

    b, corpus = built
    for phrase, slop in (("the to", 2), ("a the a", 4), ("to the", 0)):
        got = {
            (r["conv_id"], r["turn_idx"]): (r["n_matches"], r["min_disp"])
            for r in phrase_slop_query(b, phrase, slop).collect()
        }
        want = _brute_slop(corpus, py_tokens(phrase), slop)
        assert got == want, (phrase, slop)
        assert want  # non-vacuous at this seed/scale


def test_phrase_slop_zero_equals_exact_phrase(built):
    from antidb_spark.operators.phrase import phrase_query, phrase_slop_query

    b, _ = built
    phrase = "the to"
    exact = {
        (r["conv_id"], r["turn_idx"]): r["phrase_freq"]
        for r in phrase_query(b, phrase).collect()
    }
    slop0 = {
        (r["conv_id"], r["turn_idx"]): r["n_matches"]
        for r in phrase_slop_query(b, phrase, 0).collect()
    }
    assert exact and slop0 == exact  # the documented degenerate form


def test_phrase_slop_is_ordered_and_validates(built, spark):
    from antidb_spark.operators.phrase import phrase_slop_query

    b, corpus = built
    # ordered: reversing the phrase changes the result set (unlike NEAR)
    fwd = {(r["conv_id"], r["turn_idx"])
           for r in phrase_slop_query(b, "the to", 1).collect()}
    rev = {(r["conv_id"], r["turn_idx"])
           for r in phrase_slop_query(b, "to the", 1).collect()}
    assert fwd != rev
    # widening the slop only adds docs
    wide = {(r["conv_id"], r["turn_idx"])
            for r in phrase_slop_query(b, "the to", 6).collect()}
    assert fwd <= wide and len(wide) > len(fwd)
    with pytest.raises(ValueError, match="slop"):
        phrase_slop_query(b, "the to", -1)
    with pytest.raises(ValueError, match="two terms"):
        phrase_slop_query(b, "the", 2)


def test_phrase_slop_warm_matches_distributed(built):
    from antidb_spark.operators.phrase import (
        phrase_slop_query,
        phrase_slop_warm,
    )

    b, _ = built
    for phrase, slop in (("the to", 2), ("a the a", 4), ("to the", 0)):
        dist = (
            phrase_slop_query(b, phrase, slop)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        warm = (
            phrase_slop_warm(b, phrase, slop)
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        assert warm.astype(dist.dtypes.to_dict()).values.tolist() == \
            dist.values.tolist(), (phrase, slop)
        assert len(dist)  # non-vacuous
    # unknown term -> empty frame, right columns
    missing = phrase_slop_warm(b, "zzzqq the", 3)
    assert len(missing) == 0
    assert list(missing.columns) == ["conv_id", "turn_idx", "n_matches",
                                     "min_disp"]
