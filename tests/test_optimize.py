"""Force-merge (`IndexBuilder.optimize`): rebuild the packed layers
into a single blocks run after O(delta) appends/upserts scattered a
term's postings across runs. Never required for correctness (every
query path is multi-run-exact) — the pins here are that the rebuild
restores single-run layout AND exact statistics, answers stay
value-identical to a from-scratch build, and a single-run index is a
noop."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.streaming.incremental import (
    PostingsDeltaSink,
    compact_incremental,
)
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(2000)
QUERY = f"the {_V[200]} {_V[1000]}"


def _n_runs(b) -> int:
    return int(b.catalog.manifest("blocks")["props"].get("n_runs", 1))


def test_optimize_after_append_and_upsert(spark, tmp_path, pin_batch_tier):
    corpus = synth_transcripts(spark, n_convs=12, seed=33).cache()
    corpus.count()
    base = corpus.filter(F.col("conv_id") < "conv_00000008")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000008")
    b = IndexBuilder(spark, str(tmp_path / "opt_idx"))
    b.build(base, n_partitions=4)
    # run 2: streaming append; run 3: an upsert (brings a tombstone)
    sink = PostingsDeltaSink(str(tmp_path / "opt_sink"))
    sink(tail, batch_id=0)
    assert compact_incremental(spark, sink, b, n_partitions=4)["mode"] \
        == "append"
    vic = base.select("conv_id", "turn_idx").orderBy(
        "conv_id", "turn_idx"
    ).first()
    rows = [{"conv_id": vic["conv_id"], "turn_idx": int(vic["turn_idx"]),
             "text": f"{_V[300]} optimized generation"}]
    b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                  n_partitions=4)
    assert _n_runs(b) == 3

    m = b.optimize(n_partitions=4)
    assert m["mode"] == "optimized"
    assert m["n_runs_before"] == 3
    assert m["n_purged"] == 1  # the upsert's tombstone expunged
    assert _n_runs(b) == 1
    assert not b.catalog.exists("tombstones")

    # value-identical to a fresh build over the logical corpus,
    # statistics exact (the purge contract), warm == batch
    logical = corpus.join(
        spark.createDataFrame(
            pd.DataFrame(rows)[["conv_id", "turn_idx"]]
        ).withColumn("turn_idx", F.col("turn_idx").cast("int")),
        ["conv_id", "turn_idx"], "left_anti",
    ).select("conv_id", "turn_idx", "text").unionByName(
        spark.createDataFrame(
            pd.DataFrame(rows)
        ).withColumn("turn_idx", F.col("turn_idx").cast("int"))
    )
    ref = IndexBuilder(spark, str(tmp_path / "opt_ref"))
    ref.build(logical, n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    for q in (QUERY, _V[300], "the will"):
        got = b.query_pinned(q, k=20).toPandas()
        want = ref.query_pinned(q, k=20).toPandas()
        assert got.values.tolist() == want.values.tolist(), q
    warm = b.query_warm(QUERY, k=10)
    pin_batch_tier("spark")  # warm vs the independent Spark tier
    batch = b.query_batch([QUERY], k=10).toPandas().drop(
        columns=["query_id"]
    )
    assert warm.values.tolist() == batch.values.tolist()
    # single-run again → further optimize is a noop
    assert b.optimize() == {"mode": "noop", "n_runs_before": 1}
    corpus.unpersist()


def test_optimize_append_only_no_tombstones(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=10, seed=35).cache()
    corpus.count()
    base = corpus.filter(F.col("conv_id") < "conv_00000007")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000007")
    b = IndexBuilder(spark, str(tmp_path / "ao_idx"))
    b.build(base, n_partitions=4)
    sink = PostingsDeltaSink(str(tmp_path / "ao_sink"))
    sink(tail, batch_id=0)
    compact_incremental(spark, sink, b, n_partitions=4)
    assert _n_runs(b) == 2
    m = b.optimize(n_partitions=4)
    assert m == {"mode": "optimized", "n_runs_before": 2}
    assert _n_runs(b) == 1
    ref = IndexBuilder(spark, str(tmp_path / "ao_ref"))
    ref.build(corpus, n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    got = b.query_pinned(QUERY, k=20).toPandas()
    want = ref.query_pinned(QUERY, k=20).toPandas()
    assert got.values.tolist() == want.values.tolist()
    corpus.unpersist()


def test_optimize_fresh_build_is_noop(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=4, seed=39).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "np_idx"))
    b.build(corpus, n_partitions=2)
    pre = b.query_pinned(QUERY, k=10).toPandas()
    assert b.optimize() == {"mode": "noop", "n_runs_before": 1}
    post = b.query_pinned(QUERY, k=10).toPandas()
    assert pre.values.tolist() == post.values.tolist()
    corpus.unpersist()


def test_rebuild_preserves_layers_by_remap(spark, tmp_path):
    """purge/optimize keep committed pos_blocks + docmeta through the
    ordinal renumbering (decode → old→new map join → repack): phrase,
    NEAR, snippet, and filtered service continue with NO corpus
    re-scan, value-identical to layers rebuilt from scratch over the
    logical corpus — and an upserted id's dead generation never leaks
    its positions/metadata onto the new ordinal."""
    from antidb_spark.operators.phrase import (
        build_positional_index,
        near_query,
        phrase_query,
        phrase_warm,
    )

    corpus = synth_transcripts(spark, n_convs=10, seed=41).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "lp_idx"))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    build_positional_index(b, corpus, n_partitions=4)
    # an upsert creates a dead generation (old positions/meta must not
    # survive) + a multi-run layout
    vic = corpus.select("conv_id", "turn_idx", "text").orderBy(
        "conv_id", "turn_idx"
    ).first()
    rows = [{"conv_id": vic["conv_id"], "turn_idx": int(vic["turn_idx"]),
             "role": "tool", "text": f"{_V[500]} remapped {_V[501]}"}]
    b.upsert_docs(spark.createDataFrame(pd.DataFrame(rows)),
                  n_partitions=4)

    m = b.optimize(n_partitions=4)
    assert m["mode"] == "optimized"
    assert m["pos_layer"] == "remapped"
    assert m["meta_layer"] == "remapped"
    assert b.catalog.exists("pos_blocks") and b.catalog.exists("docmeta")

    # reference: fresh build + fresh layers over the logical corpus
    logical = corpus.filter(
        ~((F.col("conv_id") == vic["conv_id"])
          & (F.col("turn_idx") == vic["turn_idx"]))
    ).select("conv_id", "turn_idx", "role", "text").unionByName(
        spark.createDataFrame(pd.DataFrame(rows)).withColumn(
            "turn_idx", F.col("turn_idx").cast("int")
        ).select("conv_id", "turn_idx", "role", "text")
    )
    ref = IndexBuilder(spark, str(tmp_path / "lp_ref"))
    ref.build(logical, n_partitions=4)
    ref.build_doc_meta(logical, ["role"])
    build_positional_index(ref, logical, n_partitions=4)

    # positional service: new generation's phrase found, old one's not
    new_phrase = f"{_V[500]} remapped"
    old_words = vic["text"].split()[:2]
    for phrase in (new_phrase, " ".join(old_words), "the a"):
        got = phrase_query(b, phrase).toPandas()
        want = phrase_query(ref, phrase).toPandas()
        assert got.values.tolist() == want.values.tolist(), phrase
        warm = phrase_warm(b, phrase)
        assert warm.values.tolist() == got.values.tolist(), phrase
    na = near_query(b, "the", "a", 5).toPandas()
    nb = near_query(ref, "the", "a", 5).toPandas()
    assert na.values.tolist() == nb.values.tolist()
    # filtered service: docmeta remapped (upserted row's role = tool)
    got = b.query_filtered(QUERY, "role = 'user'", k=10).toPandas()
    want = ref.query_filtered(QUERY, "role = 'user'", k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()
    fc = b.facet_counts(_V[500], "role").toPandas()
    fr = ref.facet_counts(_V[500], "role").toPandas()
    assert fc.values.tolist() == fr.values.tolist()
    assert ("tool", 1) in map(tuple, fc.values.tolist())
    corpus.unpersist()
