"""Doc-keyed term-vectors layer (IndexBuilder.build_term_vectors /
term_vectors) — the Lucene/ES stored-term-vectors analog: per-doc
(term, tf, dl, df) served from manifest-pruned doc_ord files, with the
shared tombstone/upsert visibility contract and the terms_rev-style
src-snapshot auto-resync. The cross-engine DuckDB oracle lives in
__spark_entry__.py (term_vectors entry)."""

from __future__ import annotations

import collections

import pandas as pd
import pytest

from antidb_spark.functions.analyze import py_tokens
from antidb_spark.operators.build import IndexBuilder
from antidb_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = synth_transcripts(spark, n_convs=24, seed=19).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("tvidx")))
    b.build(corpus, n_partitions=4)
    yield b, corpus
    corpus.unpersist()


def _brute(corpus_pdf, probes):
    """Python reference: per-probe (term, tf, dl) + corpus df."""
    df_all = collections.Counter()
    tfs = {}
    for _, row in corpus_pdf.iterrows():
        toks = py_tokens(row["text"])
        tfs[(row["conv_id"], row["turn_idx"])] = (
            collections.Counter(toks), len(toks)
        )
        for t in set(toks):
            df_all[t] += 1
    want = []
    for cid, tix in probes:
        cnt, dl = tfs[(cid, tix)]
        for t in sorted(cnt):
            want.append((cid, tix, t, cnt[t], dl, df_all[t]))
    return pd.DataFrame(
        want, columns=["conv_id", "turn_idx", "term", "tf", "dl", "df"]
    )


def test_term_vectors_matches_bruteforce(built):
    b, corpus = built
    probes = [
        (r["conv_id"], int(r["turn_idx"]))
        for r in corpus.select("conv_id", "turn_idx").limit(3).collect()
    ]
    got = (
        b.term_vectors(probes)
        .orderBy("conv_id", "turn_idx", "term")
        .toPandas()
    )
    want = _brute(corpus.toPandas(), probes)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        want.sort_values(["conv_id", "turn_idx", "term"])
        .reset_index(drop=True),
        check_dtype=False,
    )


def test_term_vectors_accepts_dataframe_and_misses(built):
    b, corpus = built
    ids = corpus.select("conv_id", "turn_idx").limit(2)
    via_df = b.term_vectors(ids).count()
    via_list = b.term_vectors(
        [(r["conv_id"], int(r["turn_idx"])) for r in ids.collect()]
    ).count()
    assert via_df == via_list > 0
    assert b.term_vectors([]).count() == 0
    assert b.term_vectors([("no_such_conv", 0)]).count() == 0
    # empty results still carry the full output schema
    assert b.term_vectors([]).columns == [
        "conv_id", "turn_idx", "term", "tf", "dl", "df"
    ]


def test_term_vectors_snapshot_pin_no_rebuild(built):
    """A second request against an unmoved blocks snapshot must reuse
    the committed layer (no replace), like terms_rev."""
    b, corpus = built
    probe = [
        (r["conv_id"], int(r["turn_idx"]))
        for r in corpus.select("conv_id", "turn_idx").limit(1).collect()
    ]
    b.term_vectors(probe)
    snap = b.catalog.manifest("termvecs")["snapshot_id"]
    b.term_vectors(probe)
    assert b.catalog.manifest("termvecs")["snapshot_id"] == snap


def test_term_vectors_upsert_and_delete_visibility(spark, tmp_path):
    """Upsert: only the new generation's terms are served (superseded
    ordinals are tombstoned), the layer auto-resyncs off the moved
    blocks snapshot; delete: the doc vanishes from the response."""
    corpus = synth_transcripts(spark, n_convs=8, seed=5).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "tv_upsert"))
    b.build(corpus, n_partitions=2)
    row = corpus.limit(1).collect()[0]
    probe = (row["conv_id"], int(row["turn_idx"]))
    before = b.term_vectors([probe]).count()
    assert before > 0
    sent = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [probe[0]],
                "turn_idx": [probe[1]],
                "role": ["user"],
                "text": ["zzzsentinel only tokens here"],
                "tool": [None],
                "ts": [row["ts"]],
            }
        )
    )
    b.upsert_docs(sent)
    got = b.term_vectors([probe]).orderBy("term").toPandas()
    assert got["term"].tolist() == ["here", "only", "tokens", "zzzsentinel"]
    assert (got["dl"] == 4).all()
    b.delete_docs([probe])
    assert b.term_vectors([probe]).count() == 0
    corpus.unpersist()


def test_term_vectors_pruned_read(built):
    """The termvecs request must NOT read every committed file: the
    manifest prune on doc_ord selects a strict subset for a 1-doc
    probe (the layer is range-sorted on doc_ord with per-file stats)."""
    b, corpus = built
    probe = [
        (r["conv_id"], int(r["turn_idx"]))
        for r in corpus.select("conv_id", "turn_idx").limit(1).collect()
    ]
    b.term_vectors(probe)  # ensures the layer exists
    man = b.catalog.manifest("termvecs")
    assert man["stats_cols"] == ["doc_ord"]
    n_files = len(man["files"])
    if n_files > 1:
        ords = [
            r["doc_ord"]
            for r in b.catalog.read("docmap")
            .join(
                b.spark.createDataFrame(probe, "conv_id string, turn_idx int"),
                ["conv_id", "turn_idx"],
                "left_semi",
            )
            .collect()
        ]
        pruned = b.catalog.pruned_file_paths("termvecs", "doc_ord",
                                             values=ords)
        assert pruned is not None and 0 < len(pruned) < n_files


def test_term_vectors_caps_request_batch(built, monkeypatch):
    """The id batch is collected driver-side, so it is capped: at the
    cap the call answers, one id over it raises instead of falling back
    to a full docmap read and an unbounded ordinal collect."""
    b, corpus = built
    monkeypatch.setattr(b, "DELETE_PRUNE_MAX_IDS", 2)
    ids = [
        (r["conv_id"], int(r["turn_idx"]))
        for r in corpus.select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx").limit(3).collect()
    ]
    got = b.term_vectors(ids[:2]).select("conv_id", "turn_idx").distinct()
    assert sorted(map(tuple, got.collect())) == sorted(ids[:2])
    with pytest.raises(ValueError, match="at most 2"):
        b.term_vectors(ids)
