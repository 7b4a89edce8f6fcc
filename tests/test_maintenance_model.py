"""Model-based maintenance test: a seeded random sequence of index
maintenance operations (streaming appends, streaming upsert-mode
updates, batch upserts, deletes, force-merge) applied to ONE live
index, checked against a plain-dict model of the corpus.

Mid-sequence checks pin the visibility contract (replaced/deleted
content invisible, new content findable — statistics intentionally
stale); the final ``optimize()`` purges, after which every query path
must be VALUE-identical (scores included) to a fresh build over the
model corpus. This is the end-to-end guarantee that makes O(delta)
maintenance trustworthy: any op sequence reconciles to rebuild."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.streaming.incremental import (
    PostingsDeltaSink,
    compact_incremental,
)
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(3000)
QUERIES = [f"the {_V[200]} {_V[1000]}", "the a", _V[900]]


def _df(spark, model, ids):
    rows = [
        {"conv_id": c, "turn_idx": t, "text": model[(c, t)]}
        for c, t in sorted(ids)
    ]
    return spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )


def _fresh_text(rng):
    return " ".join(rng.choice(_V[33:]) for _ in range(rng.randint(3, 12)))


@pytest.mark.parametrize("seed", [101, 202])
def test_random_maintenance_reconciles_to_rebuild(
    spark, tmp_path, seed, pin_batch_tier
):
    rng = random.Random(seed)
    corpus = synth_transcripts(spark, n_convs=8, seed=seed).cache()
    pdf = corpus.toPandas()
    model = {
        (r.conv_id, int(r.turn_idx)): r.text for r in pdf.itertuples()
    }
    b = IndexBuilder(spark, str(tmp_path / "mm_idx"))
    b.build(corpus, n_partitions=4)
    sink = PostingsDeltaSink(str(tmp_path / "mm_sink"))
    next_batch = 0
    next_new = 0

    for step in range(6):
        op = rng.choice(["append", "stream_upsert", "batch_upsert",
                         "delete", "optimize", "merge"])
        alive = sorted(model)
        if op == "append":
            new_ids = []
            for _ in range(rng.randint(1, 3)):
                nid = (f"conv_zz_{next_new:04d}", 0)
                next_new += 1
                model[nid] = _fresh_text(rng)
                new_ids.append(nid)
            sink(_df(spark, model, new_ids), batch_id=next_batch)
            next_batch += 1
            m = compact_incremental(spark, sink, b, n_partitions=4,
                                    update_mode="upsert")
            assert m["mode"] == "upsert"
        elif op == "stream_upsert":
            ids = rng.sample(alive, k=min(2, len(alive)))
            for i in ids:
                model[i] = _fresh_text(rng)
            sink(_df(spark, model, ids), batch_id=next_batch)
            next_batch += 1
            m = compact_incremental(spark, sink, b, n_partitions=4,
                                    update_mode="upsert")
            assert m["mode"] == "upsert"
        elif op == "batch_upsert":
            ids = rng.sample(alive, k=min(2, len(alive)))
            for i in ids:
                model[i] = _fresh_text(rng)
            m = b.upsert_docs(_df(spark, model, ids), n_partitions=4)
            assert m["mode"] == "upsert"
        elif op == "delete":
            ids = rng.sample(alive, k=min(2, len(alive) - 1))
            for i in ids:
                del model[i]
            b.delete_docs([(c, int(t)) for c, t in ids])
        elif op == "merge":
            # segment merge: a disjoint mini-index folds into the live
            # one (merge_index requires disjoint doc sets)
            from antidb_spark.operators.merge import merge_index

            new_ids = []
            for _ in range(rng.randint(1, 2)):
                nid = (f"conv_mg_{next_new:04d}", 0)
                next_new += 1
                model[nid] = _fresh_text(rng)
                new_ids.append(nid)
            src = IndexBuilder(
                spark, str(tmp_path / f"mm_src_{step}")
            )
            src.build(_df(spark, model, new_ids), n_partitions=2)
            merge_index(spark, b, src, n_partitions=4)
        else:
            b.optimize(n_partitions=4)

        # blocks + docmap are the only committed postings: no operation
        # leaves the stage-0 build scratch behind
        assert not b.catalog.exists("postings"), (seed, step, op)
        # visibility contract after every step: the alive id set of an
        # exhaustive stopword query equals the model's docs containing
        # the term (stats may be stale; membership may not)
        got = b.query_pinned("the", k=1_000_000).toPandas()
        got_ids = set(
            map(tuple, got[["conv_id", "turn_idx"]].values.tolist())
        )
        want_ids = {
            i for i, txt in model.items() if "the" in txt.split()
        }
        assert got_ids == want_ids, (seed, step, op)
        # grouped rollup sees the same alive membership (conv set AND
        # per-conv hit counts — the n_hits leak a tombstone bug shows)
        g = b.query_grouped("the", ["conv_id"], k=1_000_000).toPandas()
        want_groups = {}
        for c, _t in want_ids:
            want_groups[c] = want_groups.get(c, 0) + 1
        assert dict(zip(g["conv_id"], g["n_hits"])) == want_groups, (
            seed, step, op,
        )
        # federated consumer sees the same alive membership (it decodes
        # postings through its own path — the chokepoint check that
        # caught the round-4 query_grouped tombstone leak must cover
        # every scoring consumer)
        from antidb_spark.operators.federate import federated_topk

        fed = federated_topk(spark, [b], "the", k=1_000_000).toPandas()
        fed_ids = set(
            map(tuple, fed[["conv_id", "turn_idx"]].values.tolist())
        )
        assert fed_ids == want_ids, (seed, step, op)

    # final reconcile: optimize purges everything; every query path now
    # VALUE-identical to a fresh build over the model corpus
    b.optimize(n_partitions=4)
    assert not b.catalog.exists("postings"), seed
    ref = IndexBuilder(spark, str(tmp_path / "mm_ref"))
    ref.build(_df(spark, model, sorted(model)), n_partitions=4)
    assert b._corpus_stats() == ref._corpus_stats()
    for q in QUERIES:
        got = b.query_pinned(q, k=50).toPandas()
        want = ref.query_pinned(q, k=50).toPandas()
        assert got.values.tolist() == want.values.tolist(), (seed, q)
    gg = b.query_grouped(QUERIES[0], ["conv_id"], k=50).toPandas()
    gw = ref.query_grouped(QUERIES[0], ["conv_id"], k=50).toPandas()
    assert gg.values.tolist() == gw.values.tolist(), seed
    warm = b.query_warm(QUERIES[0], k=10)
    pin_batch_tier("spark")  # warm vs the independent Spark tier
    batch = b.query_batch([QUERIES[0]], k=10).toPandas().drop(
        columns=["query_id"]
    )
    assert warm.values.tolist() == batch.values.tolist()
    corpus.unpersist()
