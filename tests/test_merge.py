"""Segment merge (`operators/merge.py`): merge(build(A), build(B)) must
be indistinguishable from build(A ∪ B).

The split is an id-RANGE split (conv_id below/above a cut), so merged
doc ordinals stay in global id order and results — including score
ties — must be IDENTICAL to the from-scratch union build (dl sums are
integer-exact in doubles, so avgdl and every BM25 contribution is
bit-identical regardless of partitioning). Also pinned: committed
destination files are byte-untouched, overlapping doc sets raise, and
the positional / docmeta layers merge or invalidate per the contract.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.operators.merge import merge_index
from antidb_spark.operators.phrase import build_positional_index, phrase_query

QUERIES = ["the of", "a to and", "the is it for on"]
META = ["role"]


def _file_hashes(root: str) -> dict[str, str]:
    out = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        with open(p, "rb") as f:
            out[os.path.relpath(p, root)] = hashlib.sha1(f.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    from antidb_spark.synth import synth_transcripts

    full = synth_transcripts(spark, n_convs=40, seed=17).cache()
    full.count()
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    cut = convs[len(convs) // 2]
    part_a = full.filter(F.col("conv_id") < cut)
    part_b = full.filter(F.col("conv_id") >= cut)

    def build(name, corpus):
        b = IndexBuilder(spark, str(tmp_path_factory.mktemp(name)))
        b.build(corpus)
        b.build_doc_meta(corpus, META)
        build_positional_index(b, corpus)
        return b

    dst = build("mrg_a", part_a)
    src = build("mrg_b", part_b)
    ref = build("mrg_union", full)

    pre_hashes = _file_hashes(dst.root)
    info = merge_index(spark, dst, src)
    yield dst, src, ref, info, pre_hashes, full
    full.unpersist()


def test_merge_reports_full_layer_merge(merged):
    dst, _, _, info, _, _ = merged
    assert info["mode"] == "merge"
    assert info["pos_blocks"] == "merged"
    assert info["docmeta"] == "merged"
    # blocks + docmap are dst's only committed postings after the merge
    assert not dst.catalog.exists("postings")


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_merged_equals_union_build(merged, qi):
    dst, _, ref, _, _, _ = merged
    got = dst.query_pinned(QUERIES[qi], k=10).toPandas()
    want = ref.query_pinned(QUERIES[qi], k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_merged_stats_equal_union(merged):
    dst, _, ref, _, _, _ = merged
    a = dst.catalog.read("stats").collect()[0]
    b = ref.catalog.read("stats").collect()[0]
    assert a["n_docs"] == b["n_docs"]
    assert a["avgdl"] == b["avgdl"]  # integer dl sums: bit-identical
    ta = dst.catalog.read("terms").orderBy("term").collect()
    tb = ref.catalog.read("terms").orderBy("term").collect()
    assert [(r["term"], r["df"]) for r in ta] == [
        (r["term"], r["df"]) for r in tb
    ]


def test_merge_never_touches_committed_files(merged):
    dst, _, _, _, pre_hashes, _ = merged
    post = _file_hashes(dst.root)
    changed = {
        p for p in pre_hashes
        if p in post and post[p] != pre_hashes[p]
    }
    # data files are append-only; only metadata tables (terms/stats,
    # rewritten via fresh generation dirs) may disappear or appear
    touched_blocks = {
        p for p in changed
        if "/blocks/" in f"/{p}" or "/pos_blocks/" in f"/{p}"
        or "/docmap/" in f"/{p}" or "/postings/" in f"/{p}"
        or "/docmeta/" in f"/{p}"
    }
    assert touched_blocks == set()


def test_merged_warm_matches_pinned(merged):
    dst, _, ref, _, _, _ = merged
    got = dst.query_warm(QUERIES[0], k=10)
    want = ref.query_warm(QUERIES[0], k=10)
    assert got.values.tolist() == want.values.tolist()


def test_merged_phrase_matches_union(merged):
    dst, _, ref, _, _, full = merged
    # pick a phrase that actually occurs: first two tokens of some turn
    from antidb_spark.functions.analyze import py_tokens

    row = full.orderBy("conv_id", "turn_idx").select("text").collect()[0]
    toks = py_tokens(row["text"])[:2]
    phrase = " ".join(toks)
    got = phrase_query(dst, phrase).orderBy("conv_id", "turn_idx").toPandas()
    want = phrase_query(ref, phrase).orderBy("conv_id", "turn_idx").toPandas()
    assert got.values.tolist() == want.values.tolist()
    assert len(got) > 0


def test_merged_filtered_matches_union(merged):
    dst, _, ref, _, _, _ = merged
    got = dst.query_filtered(QUERIES[0], "role = 'user'", k=10).toPandas()
    want = ref.query_filtered(QUERIES[0], "role = 'user'", k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()


def test_merge_rejects_overlap(spark, merged, tmp_path_factory):
    dst, src, _, _, _, _ = merged
    with pytest.raises(ValueError, match="disjoint"):
        merge_index(spark, dst, src)  # src docs are now IN dst


def test_merge_rejects_uncommitted(spark, merged, tmp_path_factory):
    dst, _, _, _, _, _ = merged
    empty = IndexBuilder(spark, str(tmp_path_factory.mktemp("mrg_empty")))
    with pytest.raises(ValueError, match="no committed blocks"):
        merge_index(spark, dst, empty)
