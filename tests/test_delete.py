"""Tombstone deletes: O(delta) document deletion with segment-style
visibility — results exclude deleted docs instantly, ranking statistics
(df/avgdl/n_docs) keep counting them until ``purge_deleted`` or a full
rebuild (the standard delete-visibility contract; what keeps a delete
O(delta) instead of the reference's from-scratch rebuild, idx.py:85-92).

Pins: every query path excludes deleted docs; surviving docs' SCORES are
bit-identical to pre-delete (the stale-stats contract is observable);
warm == batch after deletes, on both ``query_batch`` tiers;
deletes survive O(delta) appends and segment merges; purge and full
rebuilds physically remove the docs and restore exact statistics.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from antidb_spark.operators.build import IndexBuilder
from antidb_spark.operators.federate import federated_topk
from antidb_spark.operators.phrase import (
    build_positional_index,
    near_query,
    near_warm,
    phrase_query,
    phrase_warm,
    term_positions,
)
from antidb_spark.operators.stats import build_postings
from antidb_spark.streaming.incremental import (
    PostingsDeltaSink,
    compact_incremental,
)
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(2000)
# stopword + mid + rare — mixed selectivity (same shape as test_filtered)
QUERY = f"the {_V[200]} {_V[1000]}"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Index (docmeta + positional layers) over 24 convs; the top-3 docs
    of QUERY are deleted AFTER capturing pre-delete ground truth."""
    corpus = synth_transcripts(spark, n_convs=24, seed=11).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("delidx")))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    build_positional_index(b, corpus, n_partitions=4)
    pre_all = b.query_pinned(QUERY, k=1_000_000).toPandas()
    top3 = pre_all.head(3)
    deleted = set(map(tuple, top3[["conv_id", "turn_idx"]].values.tolist()))
    n = b.delete_docs([(c, int(t)) for c, t in sorted(deleted)])
    assert n == 3
    yield b, corpus, pre_all, deleted
    corpus.unpersist()


def _drop_deleted(pdf, deleted, id_cols=("conv_id", "turn_idx")):
    mask = [
        tuple(getattr(r, c) for c in id_cols) not in deleted
        for r in pdf.itertuples()
    ]
    return pdf[mask]


def test_pinned_excludes_deleted_scores_unchanged(built):
    b, _, pre_all, deleted = built
    got = b.query_pinned(QUERY, k=10).toPandas()
    want = (
        _drop_deleted(pre_all, deleted)
        .sort_values(["score", "conv_id", "turn_idx"],
                     ascending=[False, True, True])
        .head(10)
    )
    # deleted docs gone AND surviving scores bit-identical to
    # pre-delete (stats intentionally stale until purge)
    assert got.values.tolist() == want.values.tolist()
    assert not any(
        (r.conv_id, r.turn_idx) in deleted for r in got.itertuples()
    )
    # non-vacuous: the pre-delete top-10 contained the deleted docs
    assert any(
        (r.conv_id, r.turn_idx) in deleted
        for r in pre_all.head(10).itertuples()
    )


def test_batch_and_warm_match_after_delete(built, pin_batch_tier):
    b, _, _, deleted = built
    pinned = b.query_pinned(QUERY, k=10).toPandas()
    batch = b.query_batch([QUERY], k=10).toPandas().drop(columns=["query_id"])
    assert not any(
        (r.conv_id, r.turn_idx) in deleted for r in batch.itertuples()
    )
    # batch/warm rank by unrounded scores while the pinned family rounds
    # to 4dp before ranking (pre-existing contract), so compare the two
    # families only ABOVE the rounded-tie boundary of the 10th score
    cut = pinned["score"].min()
    br = batch.assign(score=batch["score"].round(4))

    def norm(df):
        # within a rounded-score tie group batch orders by the raw
        # float, pinned by ids — normalize the within-group order
        return (
            df[df["score"] > cut]
            .sort_values(["score", "conv_id", "turn_idx"],
                         ascending=[False, True, True])
            .values.tolist()
        )

    assert norm(br) == norm(pinned)
    assert len(norm(br)) > 0
    warm = b.query_warm(QUERY, k=10)
    assert warm.values.tolist() == batch.values.tolist()
    # the Spark tier drops the tombstoned docs too: a batch pinned to
    # it returns the identical result
    pin_batch_tier("spark")
    on_spark = (
        b.query_batch([QUERY], k=10).toPandas().drop(columns=["query_id"])
    )
    assert on_spark.values.tolist() == batch.values.tolist()


def test_match_paths_exclude_deleted(built):
    b, corpus, _, deleted = built
    # hit_count: distinct matching docs minus the deleted ones
    post = build_postings(corpus).filter(
        F.col("term").isin(sorted(set(QUERY.split())))
    )
    match_docs = set(
        map(tuple, post.select("conv_id", "turn_idx").toPandas().values)
    )
    want_n = len(match_docs - deleted)
    assert b.hit_count(QUERY).collect()[0]["n_docs"] == want_n
    assert len(match_docs) > want_n  # deletion actually bites
    # facet_counts: per-role counts over alive matches only
    meta = corpus.select("conv_id", "turn_idx", "role").toPandas()
    alive = meta[
        [tuple(v) in (match_docs - deleted)
         for v in meta[["conv_id", "turn_idx"]].values.tolist()]
    ]
    want = sorted(
        alive.groupby("role").size().items(), key=lambda kv: (-kv[1], kv[0])
    )
    got = b.facet_counts(QUERY, "role").toPandas()
    assert list(map(tuple, got.values.tolist())) == [
        (r, int(n)) for r, n in want
    ]
    # eq_terms: postings lookups never return deleted docs
    t = QUERY.split()[0]
    got_eq = b.eq_terms(t).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) in deleted for r in got_eq.itertuples()
    )
    term_docs = set(
        map(tuple, post.filter(F.col("term") == t)
            .select("conv_id", "turn_idx").toPandas().values)
    )
    assert set(
        map(tuple, got_eq[["conv_id", "turn_idx"]].values.tolist())
    ) == term_docs - deleted


def _paged_pinned(built):
    """query_pinned that also excludes a term and pages after a row."""
    b = built[0]
    last = b.query_pinned(QUERY, k=3).collect()[-1]
    args = dict(k=5, exclude=_V[200],
                after=(last.score, last.conv_id, last.turn_idx))
    return lambda: b.query_pinned(QUERY, **args)


def _alive_pair(built):
    """The first two words of the first alive doc with two different
    ones: an adjacent pair, so a phrase and a NEAR both match."""
    _, corpus, _, deleted = built
    for r in corpus.orderBy("conv_id", "turn_idx").collect():
        words = r.text.split()
        if (r.conv_id, r.turn_idx) not in deleted and len(words) >= 2 \
                and words[0] != words[1]:
            return words[0], words[1]
    raise AssertionError("no doc with two different words")


def _phrase(built):
    phrase = " ".join(_alive_pair(built))
    return lambda: phrase_query(built[0], phrase)


def _near(built):
    ta, tb = _alive_pair(built)
    return lambda: near_query(built[0], ta, tb, 3)


_DEFINE = {
    "query_pinned": _paged_pinned,
    "query_bool": lambda built: lambda: built[0].query_bool(
        must="the", should=f"{_V[200]} {_V[1000]}", must_not=_V[300]),
    "query_grouped": lambda built: lambda: built[0].query_grouped(
        QUERY, ["conv_id"], k=5),
    "group_top_hits": lambda built: lambda: built[0].group_top_hits(
        QUERY, "conv_id", n_per_group=2, k_groups=5),
    "explain": lambda built: lambda: built[0].explain(QUERY, k=5),
    "query_synonyms": lambda built: lambda: built[0].query_synonyms(
        QUERY, {_V[200]: [_V[300]]}, k=5),
    "facet_counts": lambda built: lambda: built[0].facet_counts(
        QUERY, "role"),
    "significant_terms": lambda built: lambda: built[0].significant_terms(
        QUERY),
    "hit_count": lambda built: lambda: built[0].hit_count(QUERY),
    "eq_terms": lambda built: lambda: built[0].eq_terms("the", "data"),
    "rng_terms": lambda built: lambda: built[0].rng_terms("a", "z"),
    "phrase_query": _phrase,
    "near_query": _near,
    "term_positions": lambda built: lambda: term_positions(
        built[0], QUERY, k=5),
    "query_filtered": lambda built: lambda: built[0].query_filtered(
        QUERY, "role = 'user'", k=5, exclude=_V[300]),
    "query_prefix": lambda built: lambda: built[0].query_prefix("th", k=5),
    "more_like_this": lambda built: lambda: built[0].more_like_this(
        QUERY, m=2, k=5),
    "query_boosted": lambda built: lambda: built[0].query_boosted(
        {"the": 0.5, _V[200]: 2.0}, k=5),
    "federated_topk": lambda built: lambda: federated_topk(
        built[0].spark, [built[0]], QUERY, k=5),
}


@pytest.mark.parametrize("method", list(_DEFINE))
def test_defines_without_a_job(built, method):
    """On a warm builder over a tombstoned index with docmeta and
    pos_blocks, every index read takes the catalog's cached Spark
    schema: defining the query runs no Spark job, and it collects the
    rows of the first call."""
    b = built[0]
    define = _DEFINE[method](built)
    want = define().collect()  # warms the schemas
    sc = b.spark.sparkContext
    sc.setJobGroup(f"define_{method}", f"define {method}")
    try:
        df = define()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(f"define_{method}") == []
    assert want and df.collect() == want


def test_pinned_family_reads_no_terms_or_stats(built):
    """The pinned family takes df, N and avgdl as driver-planned
    literals: none of these plans scans the terms or stats table."""
    b = built[0]
    shapes = {
        "query_pinned": b.query_pinned(QUERY, k=5),
        "query_synonyms": b.query_synonyms(QUERY, {_V[200]: [_V[300]]}, k=5),
        "explain": b.explain(QUERY, k=5),
        "term_positions": term_positions(b, QUERY, k=5),
        "federated_topk": federated_topk(b.spark, [b], QUERY, k=5),
    }
    meta = tuple(
        os.path.realpath(b.catalog.table_dir(t)) + os.sep
        for t in ("terms", "stats")
    )
    for name, df in shapes.items():
        read = [os.path.realpath(urlparse(f).path) for f in df.inputFiles()]
        assert read, name
        assert not [f for f in read if f.startswith(meta)], name


def test_positional_paths_exclude_deleted(built):
    b, corpus, _, deleted = built
    # pick a phrase present in at least one deleted doc
    texts = corpus.toPandas().set_index(["conv_id", "turn_idx"])["text"]
    phrase = None
    for d in sorted(deleted):
        words = texts.loc[d].split()
        if len(words) >= 2:
            phrase = f"{words[0]} {words[1]}"
            break
    assert phrase is not None
    got = phrase_query(b, phrase).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) in deleted for r in got.itertuples()
    )
    warm = phrase_warm(b, phrase)
    assert warm.values.tolist() == got.values.tolist()
    ta, tb = phrase.split()
    if ta != tb:
        near = near_query(b, ta, tb, 5).toPandas()
        assert not any(
            (r.conv_id, r.turn_idx) in deleted for r in near.itertuples()
        )
        nwarm = near_warm(b, ta, tb, 5)
        assert nwarm.values.tolist() == near.values.tolist()
    # snippet positions follow the (already-filtered) top-k
    snip = term_positions(b, QUERY, k=10).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) in deleted for r in snip.itertuples()
    )


def test_delete_validation_and_idempotence(built):
    b, corpus, _, deleted = built
    # re-delete and unknown ids are no-ops
    assert b.delete_docs([(c, int(t)) for c, t in sorted(deleted)]) == 0
    assert b.delete_docs([("conv_zz_nope", 0)]) == 0
    assert b.delete_docs([]) == 0
    # DataFrame input (extra columns ignored) — delete one more live doc
    extra = (
        b.query_pinned(QUERY, k=1).toPandas()
        .rename(columns={"score": "ignored"})
    )
    df = b.spark.createDataFrame(extra)
    assert b.delete_docs(df) == 1
    gone = (extra.iloc[0]["conv_id"], extra.iloc[0]["turn_idx"])
    got = b.query_pinned(QUERY, k=10).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) == gone for r in got.itertuples()
    )


def test_purge_restores_exact_stats(spark, tmp_path, pin_batch_tier):
    corpus = synth_transcripts(spark, n_convs=10, seed=5).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "purge_idx"))
    b.build(corpus, n_partitions=4)
    doomed = b.query_pinned(QUERY, k=2).toPandas()
    ids = [(r.conv_id, int(r.turn_idx)) for r in doomed.itertuples()]
    assert b.delete_docs(ids) == 2
    m = b.purge_deleted(n_partitions=4)
    assert m == {"mode": "purged", "n_purged": 2}
    assert not b.catalog.exists("tombstones")
    # results + statistics identical to a from-scratch build over the
    # filtered corpus (scores now reflect the TRUE df/avgdl/n_docs)
    keep = corpus.filter(
        ~F.struct("conv_id", "turn_idx").isin(
            [F.struct(F.lit(c), F.lit(t)) for c, t in ids]
        )
    )
    ref = IndexBuilder(spark, str(tmp_path / "ref_idx"))
    ref.build(keep, n_partitions=4)
    for q in [QUERY, "the will", _V[1000]]:
        got = b.query_pinned(q, k=20).toPandas()
        want = ref.query_pinned(q, k=20).toPandas()
        assert got.values.tolist() == want.values.tolist(), q
    assert b._corpus_stats() == ref._corpus_stats()
    # both query_batch tiers agree on the purged index
    pin_batch_tier("spark")
    p_spark = b.query_batch([QUERY], k=10).toPandas()
    pin_batch_tier("driver")
    p_driver = b.query_batch([QUERY], k=10).toPandas()
    assert p_spark.values.tolist() == p_driver.values.tolist()
    assert b.purge_deleted() == {"mode": "noop"}
    corpus.unpersist()


def test_deletes_survive_append_compaction(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=16, seed=9).cache()
    corpus.count()
    base = corpus.filter(F.col("conv_id") < "conv_00000012")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000012")
    b = IndexBuilder(spark, str(tmp_path / "app_idx"))
    b.build(base, n_partitions=4)
    doomed = b.query_pinned(QUERY, k=1).toPandas()
    gone = (doomed.iloc[0]["conv_id"], int(doomed.iloc[0]["turn_idx"]))
    assert b.delete_docs([gone]) == 1
    sink = PostingsDeltaSink(str(tmp_path / "app_sink"))
    sink(tail, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append"
    # tombstones intact (committed ordinals never move on append)
    assert b._n_tombstones() == 1
    got = b.query_pinned(QUERY, k=1_000_000).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) == gone for r in got.itertuples()
    )
    # appended docs searchable; warm == batch on the appended index
    tail_ids = set(
        map(tuple, tail.select("conv_id", "turn_idx").toPandas().values)
    )
    assert any(
        (r.conv_id, r.turn_idx) in tail_ids for r in got.itertuples()
    )
    warm = b.query_warm(QUERY, k=10)
    batch = b.query_batch([QUERY], k=10).toPandas().drop(columns=["query_id"])
    assert warm.values.tolist() == batch.values.tolist()
    corpus.unpersist()


def test_full_rebuild_purges_deleted(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=10, seed=3).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "fr_idx"))
    b.build(corpus, n_partitions=4)
    doomed = b.query_pinned(QUERY, k=1).toPandas()
    gone = (doomed.iloc[0]["conv_id"], int(doomed.iloc[0]["turn_idx"]))
    assert b.delete_docs([gone]) == 1
    n0, _ = b._corpus_stats()
    # a delta that UPDATES an existing (different, alive) doc forces the
    # full-rebuild path, which physically purges tombstoned docs
    victim = corpus.filter(
        ~((F.col("conv_id") == gone[0]) & (F.col("turn_idx") == gone[1]))
    ).orderBy("conv_id", "turn_idx").limit(1)
    sink = PostingsDeltaSink(str(tmp_path / "fr_sink"))
    sink(victim, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "full"
    assert not b.catalog.exists("tombstones")
    got = b.query_pinned(QUERY, k=1_000_000).toPandas()
    assert not any(
        (r.conv_id, r.turn_idx) == gone for r in got.itertuples()
    )
    n1, _ = b._corpus_stats()
    assert n1 == n0 - 1  # the purged doc left the statistics too
    corpus.unpersist()


def test_merge_carries_tombstones(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=12, seed=8).cache()
    corpus.count()
    a = corpus.filter(F.col("conv_id") < "conv_00000006")
    c = corpus.filter(F.col("conv_id") >= "conv_00000006")
    from antidb_spark.operators.merge import merge_index

    dst = IndexBuilder(spark, str(tmp_path / "m_dst"))
    dst.build(a, n_partitions=4)
    src = IndexBuilder(spark, str(tmp_path / "m_src"))
    src.build(c, n_partitions=4)
    d0 = dst.query_pinned(QUERY, k=1).toPandas().iloc[0]
    s0 = src.query_pinned(QUERY, k=1).toPandas().iloc[0]
    gone_dst = (str(d0["conv_id"]), int(d0["turn_idx"]))
    gone_src = (str(s0["conv_id"]), int(s0["turn_idx"]))
    assert dst.delete_docs([gone_dst]) == 1
    assert src.delete_docs([gone_src]) == 1
    m = merge_index(spark, dst, src, n_partitions=4)
    assert m["tombstones"] == "merged"
    assert dst._n_tombstones() == 2
    got = dst.query_pinned(QUERY, k=1_000_000).toPandas()
    ids = set(map(tuple, got[["conv_id", "turn_idx"]].values.tolist()))
    assert gone_dst not in ids and gone_src not in ids
    # both segments' alive docs present
    assert any(i[0] < "conv_00000006" for i in ids)
    assert any(i[0] >= "conv_00000006" for i in ids)
    corpus.unpersist()


def test_delete_everything_empties_results(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=4, seed=2).cache()
    corpus.count()
    b = IndexBuilder(spark, str(tmp_path / "all_idx"))
    b.build(corpus, n_partitions=2)
    n = corpus.count()
    ids = [
        (r.conv_id, int(r.turn_idx))
        for r in corpus.select("conv_id", "turn_idx").toPandas().itertuples()
    ]
    assert b.delete_docs(ids) == n
    assert b.query_pinned(QUERY, k=10).count() == 0
    assert b.query_warm(QUERY, k=10).empty
    assert b.hit_count(QUERY).collect()[0]["n_docs"] == 0
    assert b.eq_terms("the").count() == 0
    corpus.unpersist()


def test_grouped_excludes_tombstoned_docs(spark, tmp_path):
    """query_grouped counts/ranks ALIVE docs only: deleting every turn
    of the winning conversation removes the group, and partial deletes
    shrink n_hits."""
    import tempfile

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=10, seed=3).cache()
    t.count()
    b = IndexBuilder(spark, str(tmp_path / "gidx"))
    b.build(t)
    g0 = b.query_grouped("the", ["conv_id"], k=5).toPandas()
    top = g0["conv_id"].iloc[0]
    b.delete_docs(t.filter(t.conv_id == top).select("conv_id", "turn_idx"))
    g1 = b.query_grouped("the", ["conv_id"], k=5).toPandas()
    assert top not in set(g1["conv_id"])
    # a partial delete shrinks the group's hit count, never grows it
    nxt = g1["conv_id"].iloc[0]
    before = int(g1.set_index("conv_id").loc[nxt, "n_hits"])
    one = t.filter(t.conv_id == nxt).select("conv_id", "turn_idx").limit(1)
    b.delete_docs(one)
    g2 = b.query_grouped("the", ["conv_id"], k=5).toPandas()
    after = g2.set_index("conv_id")["n_hits"].get(nxt, 0)
    assert after == before - 1
    t.unpersist()


def test_grouped_over_docmeta_column(spark, tmp_path):
    """query_grouped groups by a docmeta attribute (the group_top_hits
    resolution rule), matching the ad-hoc rollup."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.topk import bm25_grouped_topk
    from antidb_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=10, seed=5).cache()
    t.count()
    b = IndexBuilder(spark, str(tmp_path / "gmeta"))
    b.build(t)
    b.build_doc_meta(t, ["role"])
    got = b.query_grouped("the", ["role"], k=5).toPandas()
    want = bm25_grouped_topk(t, "the", "role", k=5).toPandas()
    assert got.values.tolist() == want.values.tolist()
    with _pt.raises(ValueError, match="docmeta"):
        b.query_grouped("the", ["nope"], k=5)
    t.unpersist()


# -- interrupted purges: the catalog is the only record of progress -------

_KILL_QUERIES = [QUERY, "the will", _V[1000]]


@pytest.fixture(scope="module")
def purge_pair(spark, tmp_path_factory):
    """A small index with docmeta, positions and 3 deleted docs
    (``root``), and a copy of it purged without interruption (``ref``).
    Every killed purge below runs on its own copy of ``root``."""
    corpus = synth_transcripts(spark, n_convs=12, seed=17).cache()
    corpus.count()
    base = tmp_path_factory.mktemp("killed")
    root = str(base / "idx")
    b = IndexBuilder(spark, root)
    b.build(corpus, n_partitions=2)
    b.build_doc_meta(corpus, ["role"])
    build_positional_index(b, corpus, n_partitions=2)
    doomed = b.query_pinned(QUERY, k=3).toPandas()
    assert b.delete_docs(
        [(r.conv_id, int(r.turn_idx)) for r in doomed.itertuples()]) == 3
    shutil.copytree(root, str(base / "ref"))
    ref = IndexBuilder(spark, str(base / "ref"))
    ref.purge_deleted(n_partitions=2)
    yield root, ref, corpus
    corpus.unpersist()


def _killed_copy(spark, root, tmp_path, monkeypatch, method, table):
    """A builder over a copy of ``root`` whose catalog raises as
    ``method`` is called on ``table`` — a process killed at that call."""
    b = IndexBuilder(spark, shutil.copytree(root, str(tmp_path / "copy")))
    real = getattr(b.catalog, method)

    def kill(*args, **kwargs):
        if table in [a for a in args if isinstance(a, str)]:
            raise RuntimeError(f"killed at {method}({table!r})")
        return real(*args, **kwargs)

    monkeypatch.setattr(b.catalog, method, kill)
    return b


def _answers(b) -> list:
    return [b.query_batch(_KILL_QUERIES, k=10).toPandas().values.tolist()] + [
        b.query_pinned(q, k=10).toPandas().values.tolist()
        for q in _KILL_QUERIES
    ]


@pytest.mark.parametrize("table", ["tombstones", "terms"])
def test_killed_purge_resumes_from_the_catalog(spark, purge_pair, tmp_path,
                                               monkeypatch, table):
    """A purge killed at a drop, after its stage-0 ``postings`` write and
    after some derived tables are gone, is finished by ``build(None)``:
    the resumed index answers as an uninterrupted purge does."""
    root, ref, _ = purge_pair
    b = _killed_copy(spark, root, tmp_path, monkeypatch, "drop", table)
    with pytest.raises(RuntimeError, match="killed"):
        b.purge_deleted(n_partitions=2)
    resumed = IndexBuilder(spark, b.root)
    resumed.build(None)
    assert not resumed.catalog.exists("postings")
    assert not resumed.catalog.exists("tombstones")
    assert _answers(resumed) == _answers(ref)


def test_optimize_killed_at_the_pos_remap_leaves_layers_unbuilt(
        spark, purge_pair, tmp_path, monkeypatch):
    """A kill once the base rebuild committed leaves the ordinal-keyed
    side layers unbuilt — never served under the renumbered ordinals —
    until they are rebuilt."""
    root, ref, corpus = purge_pair
    b = _killed_copy(spark, root, tmp_path, monkeypatch, "replace",
                     "pos_blocks")
    with pytest.raises(RuntimeError, match="killed"):
        b.optimize(n_partitions=2)
    assert _answers(b) == _answers(ref)
    with pytest.raises(ValueError, match="positional index not built"):
        phrase_query(b, "the a")
    with pytest.raises(ValueError, match="docmeta not built"):
        b.query_filtered(QUERY, "role = 'user'", k=10)
    build_positional_index(b, corpus, n_partitions=2)
    want = phrase_query(ref, "the a").toPandas().values.tolist()
    assert want
    assert phrase_query(b, "the a").toPandas().values.tolist() == want
