"""Wildcard search over the forward + reversed term dictionaries.

Contract (operators/build.py): ``expand_wildcard`` matches glob
patterns (* / ?) against the committed vocabulary via a RANGE prune of
whichever dictionary the longer literal anchor selects — the
term-sorted ``terms`` table for leading literals, the rterm-sorted
``terms_rev`` reversed dictionary (Lucene reversed-wildcard-field
analog) for trailing literals — never an O(vocabulary) regex scan.
``terms_rev`` re-syncs automatically when the terms snapshot drifts
(upserts/appends change the vocabulary). Warm tier bit-identical to
the distributed path.
"""

from __future__ import annotations

import fnmatch

import pandas as pd
import pytest

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.synth import synth_transcripts, vocabulary


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = synth_transcripts(spark, n_convs=12, seed=3).cache()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("wcidx")))
    b.build(corpus, n_partitions=4)
    vocab = [r["term"] for r in b.catalog.read("terms").select("term").collect()]
    yield b, corpus, vocab
    corpus.unpersist()


def _brute(vocab, pat, cap=128):
    return sorted(t for t in vocab if fnmatch.fnmatch(t, pat))[:cap]


@pytest.mark.parametrize("pat", ["s*", "*a3", "s*3", "?he", "t?e", "s?p*"])
def test_expansion_matches_bruteforce(built, pat):
    b, _, vocab = built
    assert b.expand_wildcard(pat) == _brute(vocab, pat)


def test_expansion_cap_is_lexicographic(built):
    b, _, vocab = built
    assert b.expand_wildcard("s*", max_terms=7) == _brute(vocab, "s*", 7)


def test_reversed_dictionary_is_synced_and_sorted(built):
    b, _, vocab = built
    b._ensure_terms_rev()
    man = b.catalog.manifest("terms_rev")
    assert man["props"]["src_snapshot"] == (
        b.catalog.manifest("terms")["snapshot_id"]
    )
    rows = b.catalog.read_arrow("terms_rev").to_pydict()
    assert sorted(rows["term"]) == sorted(vocab)
    assert all(r == t[::-1] for r, t in zip(rows["rterm"], rows["term"]))


def test_query_wildcard_matches_expanded_batch(built, pin_batch_tier):
    b, _, _ = built
    pin_batch_tier("spark")
    exp = b.expand_wildcard("*a3")
    assert exp
    via_wild = b.query_wildcard("*a3", k=10).toPandas()
    via_batch = (
        b.query_batch([exp], k=10).toPandas().drop(columns=["query_id"])
    )
    pd.testing.assert_frame_equal(
        via_wild.reset_index(drop=True), via_batch.reset_index(drop=True)
    )


def test_warm_matches_distributed(built, pin_batch_tier):
    """Warm tier bit-identical to the distributed batch path on the
    same expansion (the prefix-warm contract); the PINNED path rounds
    to 4dp before ranking, so it's compared on the rounded order."""
    b, _, _ = built
    pin_batch_tier("spark")  # the distributed side, not the warm kernel
    for pat in ("*a3", "s*", "?he"):
        exp = b.expand_wildcard(pat)
        warm = b.query_wildcard_warm(pat, k=10)
        batch = (
            b.query_batch([exp], k=10).toPandas().drop(columns=["query_id"])
        )
        assert warm.values.tolist() == batch.values.tolist()  # bit-identical
        pinned = b.query_wildcard(pat, k=10).toPandas()
        assert sorted(
            map(tuple, warm[["conv_id", "turn_idx"]].values.tolist())
        ) == sorted(
            map(tuple, pinned[["conv_id", "turn_idx"]].values.tolist())
        )


def test_validation_and_degenerates(built):
    b, _, vocab = built
    with pytest.raises(ValueError):
        b.expand_wildcard("*")
    with pytest.raises(ValueError):
        b.expand_wildcard("*?*")
    with pytest.raises(ValueError):
        b.expand_wildcard("*iba?")  # ? is not a literal anchor
    assert b.expand_wildcard("") == []
    assert b.expand_wildcard("the") == ["the"]  # no glob → exact term
    assert b.expand_wildcard("zz*qq") == []  # no match → empty
    assert len(b.query_wildcard("zz*qq", k=5).toPandas()) == 0


def test_terms_rev_resyncs_after_upsert(spark, tmp_path):
    """Vocabulary drift: an upserted doc introduces a brand-new term;
    the reversed dictionary is stale (src_snapshot mismatch) and must
    rebuild transparently inside expand_wildcard."""
    v = vocabulary(3000)
    corpus = synth_transcripts(spark, n_convs=8, seed=11)
    b = IndexBuilder(spark, str(tmp_path / "idx"))
    b.build(corpus, n_partitions=4)
    b._ensure_terms_rev()
    assert b.expand_wildcard("*zzq") == []
    b.upsert_docs(
        spark.createDataFrame(
            pd.DataFrame([{
                "conv_id": "conv_new", "turn_idx": 0, "role": "user",
                "text": f"freshzzq {v[5]}",
            }])
        ),
        n_partitions=2,
    )
    assert b.expand_wildcard("*zzq") == ["freshzzq"]
    got = b.query_wildcard("*zzq", k=5).toPandas()
    assert got["conv_id"].tolist() == ["conv_new"]
