"""Document upserts: O(delta) insert-or-replace by id.

Contract (operators/upsert.py): old generations become invisible
instantly (tombstones), the new generation appends as fresh ordinals
(committed index files untouched), positional/docmeta side layers are
maintained from the raw rows, and ranking statistics stay intentionally
stale until ``purge_deleted`` — which must then match a from-scratch
build over the logical (post-upsert) corpus exactly. The reference has
no analog: any corpus change rebuilds the whole archive (idx.py:85-92).

Pins: replace + insert semantics on every query path; warm == batch on
the resulting multi-run index (the round-4 advisory fix); phrase and
facet layers serve the NEW generation only; purge-after-upsert ==
fresh build (results AND statistics); full streaming compaction after
upserts reconstructs alive postings (no generation merge/double-drop);
the has_upserts marker propagates through segment merge and clears on
rebuild; duplicate-id input rejected.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.operators.phrase import (
    build_positional_index,
    phrase_query,
    phrase_warm,
)
from antidb_spark.operators.stats import build_postings
from antidb_spark.operators.upsert import UPSERT_MARK
from antidb_spark.streaming.incremental import (
    PostingsDeltaSink,
    compact_incremental,
)
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(5000)
QUERY = f"the {_V[200]} {_V[1000]}"


def _pick_sentinels(corpus_pdf, n=2):
    """Vocabulary words absent from the base corpus (deterministic)."""
    present = set()
    for t in corpus_pdf["text"]:
        present.update(t.split())
    out = [w for w in _V[4000:] if w not in present]
    assert len(out) >= n
    return out[:n]


def _answers(b, q):
    """(query_warm rows, query_batch rows) of ``q`` on builder ``b``."""
    batch = b.query_batch([q], k=10).toPandas().drop(columns=["query_id"])
    return b.query_warm(q, k=10).values.tolist(), batch.values.tolist()


def _new_text(sent, i):
    # two fixed bigrams per doc: (sent, marker) and (marker, filler)
    return f"{sent} {_V[300 + i]} {_V[600]} {_V[601]} {sent}"


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    """Index (docmeta + positional) over 16 convs; 3 existing docs are
    REPLACED (role flipped to 'tool', text rewritten around a sentinel
    word) and 2 brand-new docs INSERTED in one upsert call. A second
    builder on the same root (``reader``) queries before the upsert, so
    its driver caches hold the pre-upsert state."""
    corpus = synth_transcripts(spark, n_convs=16, seed=7).cache()
    corpus_pdf = corpus.toPandas()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("upsidx")))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    build_positional_index(b, corpus, n_partitions=4)
    pre_all = b.query_pinned(QUERY, k=1_000_000).toPandas()
    reader = IndexBuilder(spark, b.root)
    _answers(reader, QUERY)
    sent, sent2 = _pick_sentinels(corpus_pdf)
    top3 = pre_all.head(3)
    replaced = [
        (str(r.conv_id), int(r.turn_idx)) for r in top3.itertuples()
    ]
    rows = [
        {"conv_id": c, "turn_idx": t, "role": "tool",
         "text": _new_text(sent, i)}
        for i, (c, t) in enumerate(replaced)
    ] + [
        {"conv_id": "conv_zz_new", "turn_idx": t, "role": "tool",
         "text": _new_text(sent, 10 + t)}
        for t in (0, 1)
    ]
    m = b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                      n_partitions=4)
    yield (b, corpus, corpus_pdf, pre_all, replaced, rows, sent, sent2, m,
           reader)
    corpus.unpersist()


def test_upsert_replaces_and_inserts(upserted):
    b, _, corpus_pdf, pre_all, replaced, rows, sent, _, m, _ = upserted
    assert m["mode"] == "upsert"
    assert m["n_replaced"] == 3
    assert m["pos_mode"] == "append"
    assert m["meta_mode"] == "append"
    assert b.ckpt.is_done(UPSERT_MARK)
    # the sentinel query returns exactly the 5 upserted docs
    got = b.query_pinned(sent, k=100).toPandas()
    want_ids = {(r["conv_id"], r["turn_idx"]) for r in rows}
    assert set(
        map(tuple, got[["conv_id", "turn_idx"]].values.tolist())
    ) == want_ids
    # old generations invisible: the replaced docs were the pre-upsert
    # top-3 of QUERY, and their OLD text no longer matches it
    post = b.query_pinned(QUERY, k=1_000_000).toPandas()
    ids_now = set(map(tuple, post[["conv_id", "turn_idx"]].values.tolist()))
    for rid in replaced:
        assert rid not in ids_now
    # untouched docs all still match (the replaced ids are the only
    # ones that left the result set)
    survivor_ids = {
        (r.conv_id, r.turn_idx)
        for r in pre_all.itertuples()
    } - set(replaced)
    assert survivor_ids <= ids_now
    # statistics contract: the appended generation counts immediately,
    # the dead generations keep counting until purge — n_docs is
    # base + 5 (3 replaced-doc ghosts + their 3 new gens + 2 inserts,
    # minus nothing)
    n_docs, _ = b._corpus_stats()
    assert n_docs == len(corpus_pdf) + 5


@pytest.mark.parametrize("scale", ["dense", "sparse"])
def test_warm_matches_batch_on_multirun_index(upserted, monkeypatch, scale):
    b, *_, sent, _, _, _ = upserted
    if scale == "sparse":
        # the large-corpus branches: sparse warm scorer (with the
        # tombstone bitmap) and pruned-read id resolve
        monkeypatch.setattr(b, "DENSE_WARM_MAX_DOCS", 0)
        monkeypatch.setattr(b, "DOCMAP_CACHE_MAX_DOCS", 0)
    # upserts create a second blocks run — the exact layout where the
    # advisory's per-term segment-overwrite bug dropped postings
    for q in (QUERY, sent, f"the {sent}"):
        batch = (
            b.query_batch([q], k=10).toPandas().drop(columns=["query_id"])
        )
        warm = b.query_warm(q, k=10)
        assert warm.values.tolist() == batch.values.tolist(), q
    # pruning stays lossless (disarmed while tombstones exist)
    pruned = (
        b.query_batch([QUERY], k=10, prune=True)
        .toPandas().drop(columns=["query_id"])
    )
    batch = b.query_batch([QUERY], k=10).toPandas().drop(columns=["query_id"])
    assert pruned.values.tolist() == batch.values.tolist()


def test_live_reader_sees_upsert(upserted):
    """A builder that queried before another builder's upsert answers
    like a fresh one afterwards: every driver cache entry is keyed by
    the snapshot it was read under, so none can pair new df with old
    (n_docs, avgdl)."""
    b, *_, sent, _, _, reader = upserted
    fresh = IndexBuilder(b.spark, b.root)
    for q in (QUERY, sent):
        assert _answers(reader, q) == _answers(fresh, q), q


def test_live_reader_sees_rollback(spark, tmp_path):
    """Same contract for a writer-side rollback: a reader that cached
    the upserted state serves the restored one afterwards."""
    corpus = synth_transcripts(spark, n_convs=16, seed=7)
    w = IndexBuilder(spark, str(tmp_path / "rb_idx"))
    w.build(corpus, n_partitions=4)
    pins = w.pin()
    rows = [
        {"conv_id": "conv_zz_new", "turn_idx": t, "text": f"{QUERY} {t}"}
        for t in range(3)
    ]
    w.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)), n_partitions=4)
    reader = IndexBuilder(spark, w.root)
    upserted_answers = _answers(reader, QUERY)
    w.rollback(pins)
    got = _answers(reader, QUERY)
    assert got == _answers(IndexBuilder(spark, w.root), QUERY)
    assert got != upserted_answers


def test_positional_layer_serves_new_generation(upserted):
    b, _, corpus_pdf, _, replaced, rows, sent, _, _, _ = upserted
    # a bigram of the NEW text finds the replaced doc, warm == batch
    new_phrase = " ".join(rows[0]["text"].split()[:2])
    got = phrase_query(b, new_phrase).toPandas()
    ids = set(map(tuple, got[["conv_id", "turn_idx"]].values.tolist()))
    assert replaced[0] in ids
    warm = phrase_warm(b, new_phrase)
    assert warm.values.tolist() == got.values.tolist()
    # a bigram of the OLD text no longer returns the replaced doc
    texts = corpus_pdf.set_index(["conv_id", "turn_idx"])["text"]
    for rid in replaced:
        words = texts.loc[rid].split()
        if len(words) < 2:
            continue
        old = phrase_query(b, f"{words[0]} {words[1]}").toPandas()
        old_ids = set(
            map(tuple, old[["conv_id", "turn_idx"]].values.tolist())
        )
        assert rid not in old_ids


def test_docmeta_serves_new_generation(upserted):
    b, *_, sent, _, _, _ = upserted
    got = b.facet_counts(sent, "role").toPandas()
    assert list(map(tuple, got.values.tolist())) == [("tool", 5)]


def test_duplicate_ids_rejected(upserted):
    b, *_ = upserted
    dup = b.spark.createDataFrame(
        pd.DataFrame(
            [
                {"conv_id": "x", "turn_idx": 0, "text": "a b"},
                {"conv_id": "x", "turn_idx": 0, "text": "c d"},
            ]
        )
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        b.upsert_docs(dup)


def test_upsert_requires_built_index(spark, tmp_path):
    b = IndexBuilder(spark, str(tmp_path / "empty_idx"))
    docs = spark.createDataFrame(
        pd.DataFrame([{"conv_id": "x", "turn_idx": 0, "text": "a b"}])
    )
    with pytest.raises(ValueError, match="committed index"):
        b.upsert_docs(docs)


def _logical_corpus(spark, corpus, rows):
    """The post-upsert corpus: originals minus replaced ids, plus the
    upserted rows (id + text only — what a ranking rebuild needs)."""
    ups = spark.createDataFrame(
        pd.DataFrame(rows)[["conv_id", "turn_idx", "text"]]
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    keep = corpus.select("conv_id", "turn_idx", "text").join(
        ups.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"],
        "left_anti",
    )
    return keep.unionByName(ups)


def test_purge_after_upsert_matches_fresh_build(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=10, seed=13).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "pu_idx"))
    b.build(corpus, n_partitions=4)
    pre = b.query_pinned(QUERY, k=2).toPandas()
    rows = [
        {"conv_id": str(r.conv_id), "turn_idx": int(r.turn_idx),
         "text": f"{_V[600]} {_V[601]} replaced"}
        for r in pre.itertuples()
    ] + [{"conv_id": "conv_zz_new", "turn_idx": 0,
          "text": f"{_V[600]} fresh doc"}]
    m = b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                      n_partitions=4)
    assert m["n_replaced"] == 2
    p = b.purge_deleted(n_partitions=4)
    assert p == {"mode": "purged", "n_purged": 2}
    assert not b.ckpt.is_done(UPSERT_MARK)  # marker clears with the reset
    ref = IndexBuilder(spark, str(tmp_path / "pu_ref"))
    ref.build(_logical_corpus(spark, corpus, rows), n_partitions=4)
    for q in (QUERY, _V[600], "the will", _V[1000]):
        got = b.query_pinned(q, k=20).toPandas()
        want = ref.query_pinned(q, k=20).toPandas()
        assert got.values.tolist() == want.values.tolist(), q
    assert b._corpus_stats() == ref._corpus_stats()
    corpus.unpersist()


def test_reupsert_same_id_last_writer_wins(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=6, seed=21).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "re_idx"))
    b.build(corpus, n_partitions=4)
    rid = corpus.select("conv_id", "turn_idx").orderBy(
        "conv_id", "turn_idx"
    ).first()
    s2, s3 = _pick_sentinels(corpus.toPandas(), 2)
    gen2 = [{"conv_id": rid["conv_id"], "turn_idx": int(rid["turn_idx"]),
             "text": f"{s2} gen two"}]
    gen3 = [{"conv_id": rid["conv_id"], "turn_idx": int(rid["turn_idx"]),
             "text": f"{s3} gen three"}]
    assert b.upsert_docs(
        spark.createDataFrame(pd.DataFrame(gen2)))["n_replaced"] == 1
    assert b.upsert_docs(
        spark.createDataFrame(pd.DataFrame(gen3)))["n_replaced"] == 1
    # only the last generation is visible
    assert b.query_pinned(s2, k=10).count() == 0
    got = b.query_pinned(s3, k=10).toPandas()
    assert set(
        map(tuple, got[["conv_id", "turn_idx"]].values.tolist())
    ) == {(rid["conv_id"], rid["turn_idx"])}
    # purge reconciles all three generations down to the last
    b.purge_deleted(n_partitions=4)
    ref = IndexBuilder(spark, str(tmp_path / "re_ref"))
    ref.build(_logical_corpus(spark, corpus, gen3), n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    got = b.query_pinned(QUERY, k=20).toPandas()
    want = ref.query_pinned(QUERY, k=20).toPandas()
    assert got.values.tolist() == want.values.tolist()
    corpus.unpersist()


def test_full_compaction_after_upsert_reconstructs_alive(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=8, seed=17).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "fc_idx"))
    b.build(corpus, n_partitions=4)
    pre = b.query_pinned(QUERY, k=1).toPandas()
    (s8,) = _pick_sentinels(corpus.toPandas(), 1)
    rows = [{"conv_id": str(pre.iloc[0]["conv_id"]),
             "turn_idx": int(pre.iloc[0]["turn_idx"]),
             "text": f"{s8} upserted gen"}]
    b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                  n_partitions=4)
    # a delta updating a DIFFERENT alive doc forces the full rebuild,
    # which must use alive_postings (not the generation-ambiguous
    # id-keyed table)
    victim = (
        corpus.join(
            spark.createDataFrame(
                pd.DataFrame(rows)[["conv_id", "turn_idx"]]
            ).withColumn("turn_idx", F.col("turn_idx").cast("int")),
            ["conv_id", "turn_idx"], "left_anti",
        )
        .orderBy("conv_id", "turn_idx").limit(1)
    )
    vrow = victim.first()
    sink = PostingsDeltaSink(str(tmp_path / "fc_sink"))
    sink(victim, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "full"
    assert not b.ckpt.is_done(UPSERT_MARK)
    assert not b.catalog.exists("tombstones")
    # upserted generation (and ONLY it) present; the streaming-update
    # contract is additive, so the victim's tf doubled — rebuild the
    # reference corpus the same way
    assert b.query_pinned(s8, k=10).count() == 1
    logical = _logical_corpus(spark, corpus, rows)
    dup_victim = logical.join(
        victim.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"]
    ).withColumn("text", F.concat_ws(" ", "text", "text"))
    ref_corpus = logical.join(
        victim.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"],
        "left_anti",
    ).unionByName(dup_victim)
    ref = IndexBuilder(spark, str(tmp_path / "fc_ref"))
    ref.build(ref_corpus, n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    for q in (QUERY, s8):
        got = b.query_pinned(q, k=20).toPandas()
        want = ref.query_pinned(q, k=20).toPandas()
        assert got.values.tolist() == want.values.tolist(), q
    assert vrow is not None
    corpus.unpersist()


def test_merge_propagates_upsert_marker(spark, tmp_path):
    from antidb_spark.operators.merge import merge_index

    corpus = synth_transcripts(spark, n_convs=8, seed=19).cache()
    corpus.count()
    a = corpus.filter(F.col("conv_id") < "conv_00000004")
    c = corpus.filter(F.col("conv_id") >= "conv_00000004")
    dst = IndexBuilder(spark, str(tmp_path / "mu_dst"))
    dst.build(a, n_partitions=4)
    src = IndexBuilder(spark, str(tmp_path / "mu_src"))
    src.build(c, n_partitions=4)
    srow = c.orderBy("conv_id", "turn_idx").first()
    (s9,) = _pick_sentinels(corpus.toPandas(), 1)
    src.upsert_docs(
        spark.createDataFrame(
            pd.DataFrame(
                [{"conv_id": srow["conv_id"],
                  "turn_idx": int(srow["turn_idx"]),
                  "text": f"{s9} merged gen"}]
            )
        ),
        n_partitions=4,
    )
    assert not dst.ckpt.is_done(UPSERT_MARK)
    merge_index(spark, dst, src, n_partitions=4)
    # marker must follow the superseded generations into dst, so dst's
    # later purge/full-rebuild takes the alive_postings path
    assert dst.ckpt.is_done(UPSERT_MARK)
    got = dst.query_pinned(s9, k=10).toPandas()
    assert set(
        map(tuple, got[["conv_id", "turn_idx"]].values.tolist())
    ) == {(srow["conv_id"], srow["turn_idx"])}
    # and the purge indeed reconciles: old generation stays gone
    dst.purge_deleted(n_partitions=4)
    assert dst.query_pinned(s9, k=10).count() == 1
    post = build_postings(
        dst.catalog.read("docmap").select("conv_id", "turn_idx").join(
            corpus, ["conv_id", "turn_idx"]
        )
    )
    assert post is not None  # docmap ids all resolve against the corpus
    corpus.unpersist()


def _file_hashes(root):
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, fnames in os.walk(root):
        for fn in fnames:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                with open(p, "rb") as f:
                    out[p] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_streaming_upsert_mode_is_o_delta(spark, tmp_path):
    """``compact_incremental(update_mode='upsert')``: a delta updating
    existing docs no longer costs an O(corpus) full rebuild — old
    generations tombstone, everything appends (committed block files
    byte-identical), content is last-writer-wins across the window's
    micro-batches, and positional + docmeta layers follow."""
    import os

    from antidb_spark.operators.phrase import phrase_query, phrase_warm

    corpus = synth_transcripts(spark, n_convs=12, seed=29).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "su_idx"))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    build_positional_index(b, corpus, n_partitions=4)
    s1, s2, s3 = _pick_sentinels(corpus.toPandas(), 3)
    vic = corpus.select("conv_id", "turn_idx").orderBy(
        "conv_id", "turn_idx"
    ).first()
    vid = (vic["conv_id"], int(vic["turn_idx"]))

    def _batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows)
        ).withColumn("turn_idx", F.col("turn_idx").cast("int"))

    sink = PostingsDeltaSink(str(tmp_path / "su_sink"), meta_cols=["role"])
    # batch 0 rewrites the victim (v1) + inserts doc A; batch 1 rewrites
    # the victim AGAIN (v2 — must win) + inserts doc B
    sink(_batch([
        {"conv_id": vid[0], "turn_idx": vid[1], "role": "tool",
         "text": f"{s1} version one"},
        {"conv_id": "conv_zz_a", "turn_idx": 0, "role": "tool",
         "text": f"{s3} inserted a"},
    ]), batch_id=0)
    sink(_batch([
        {"conv_id": vid[0], "turn_idx": vid[1], "role": "user",
         "text": f"{s2} version two wins"},
        {"conv_id": "conv_zz_b", "turn_idx": 0, "role": "tool",
         "text": f"{s3} inserted b"},
    ]), batch_id=1)

    before = _file_hashes(os.path.join(b.root, "blocks"))
    before_pos = _file_hashes(os.path.join(b.root, "pos_blocks"))
    m = compact_incremental(
        spark, sink, b, n_partitions=4, update_mode="upsert"
    )
    assert m["mode"] == "upsert"
    assert m["n_replaced"] == 1
    assert m["pos_mode"] == "append" and m["meta_mode"] == "append"
    assert b.ckpt.is_done(UPSERT_MARK)
    # O(delta): every committed block/pos_block file byte-identical
    after = _file_hashes(os.path.join(b.root, "blocks"))
    after_pos = _file_hashes(os.path.join(b.root, "pos_blocks"))
    assert {p: h for p, h in before.items() if p in after} == before
    assert {p: h for p, h in before_pos.items() if p in after_pos} \
        == before_pos
    assert len(after) > len(before)

    # last-writer-wins: v2 visible, v1 never was
    assert b.query_pinned(s1, k=10).count() == 0
    got = b.query_pinned(s2, k=10).toPandas()
    assert set(
        map(tuple, got[["conv_id", "turn_idx"]].values.tolist())
    ) == {vid}
    # inserts from both batches present
    ids3 = set(map(tuple, b.query_pinned(s3, k=10).toPandas()[
        ["conv_id", "turn_idx"]].values.tolist()))
    assert ids3 == {("conv_zz_a", 0), ("conv_zz_b", 0)}
    # positional layer serves the winning generation
    ph = phrase_query(b, "version two").toPandas()
    assert vid in set(
        map(tuple, ph[["conv_id", "turn_idx"]].values.tolist())
    )
    assert phrase_warm(b, "version two").values.tolist() \
        == ph.values.tolist()
    assert phrase_query(b, "version one").count() == 0
    # docmeta follows LWW too (victim's role flipped tool→user)
    fc = b.facet_counts(s2, "role").toPandas()
    assert list(map(tuple, fc.values.tolist())) == [("user", 1)]
    # warm == batch on the multi-run index
    warm = b.query_warm(QUERY, k=10)
    batch = b.query_batch([QUERY], k=10).toPandas().drop(
        columns=["query_id"]
    )
    assert warm.values.tolist() == batch.values.tolist()
    # purge reconciles to a fresh build over the logical corpus
    b.purge_deleted(n_partitions=4)
    rows = [
        {"conv_id": vid[0], "turn_idx": vid[1],
         "text": f"{s2} version two wins"},
        {"conv_id": "conv_zz_a", "turn_idx": 0, "text": f"{s3} inserted a"},
        {"conv_id": "conv_zz_b", "turn_idx": 0, "text": f"{s3} inserted b"},
    ]
    ref = IndexBuilder(spark, str(tmp_path / "su_ref"))
    ref.build(_logical_corpus(spark, corpus, rows), n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    got = b.query_pinned(QUERY, k=20).toPandas()
    want = ref.query_pinned(QUERY, k=20).toPandas()
    assert got.values.tolist() == want.values.tolist()
    # exactly-once: a second upsert-mode compaction is a noop
    assert compact_incremental(
        spark, sink, b, update_mode="upsert"
    )["mode"] == "noop"
    corpus.unpersist()


def test_streaming_upsert_mode_pure_insert_appends(spark, tmp_path):
    """update_mode='upsert' with only NEW docs behaves like the append
    path (no tombstones, no marker) — the mode is safe as a default."""
    corpus = synth_transcripts(spark, n_convs=8, seed=37).cache()
    corpus.count()
    base = corpus.filter(F.col("conv_id") < "conv_00000006")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000006")
    b = IndexBuilder(spark, str(tmp_path / "pi_idx"))
    b.build(base, n_partitions=4)
    sink = PostingsDeltaSink(str(tmp_path / "pi_sink"))
    sink(tail, batch_id=0)
    m = compact_incremental(
        spark, sink, b, n_partitions=4, update_mode="upsert"
    )
    assert m["mode"] == "upsert" and m["n_replaced"] == 0
    assert not b.ckpt.is_done(UPSERT_MARK)
    assert b._n_tombstones() == 0
    ref = IndexBuilder(spark, str(tmp_path / "pi_ref"))
    ref.build(corpus, n_partitions=4)
    got = b.query_pinned(QUERY, k=20).toPandas()
    want = ref.query_pinned(QUERY, k=20).toPandas()
    assert got.values.tolist() == want.values.tolist()
    assert b._corpus_stats() == ref._corpus_stats()
    corpus.unpersist()


def test_docmeta_dropped_when_upsert_lacks_meta_cols(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=6, seed=23).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "dm_idx"))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    rows = [{"conv_id": "conv_zz_new", "turn_idx": 0,
             "text": f"{_V[950]} no meta"}]
    m = b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                      n_partitions=4)
    # better absent than silently missing the appended doc
    assert m["meta_mode"] == "invalidated"
    assert not b.catalog.exists("docmeta")
    assert not b.ckpt.is_done("docmeta")
    corpus.unpersist()
