"""Physical index (M2) + resumability (M4).

Correctness bar: the indexed query path must be rank-identical to the
index-free DataFrame path (which tests/test_bm25.py already pins to the
pandas oracle) on both ``query_batch`` tiers, and a resumed build must
skip committed stages and produce identical answers.
"""

from __future__ import annotations

import os

import pytest

from antidb_spark.operators.build import IndexBuilder, assign_doc_ords
from antidb_spark.operators.stats import build_postings
from antidb_spark.operators.topk import bm25_topk_batch
from antidb_spark.synth import synth_transcripts

QUERIES = [
    "the kemuba0 of",          # stopwords + rare
    "data kemuba0",
    "bacoca0 bemuda4 the",
    "zzzznotaterm",            # miss → empty
    "the of to and in",        # all stopwords (skew)
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_transcripts(spark, n_convs=40, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    b = IndexBuilder(spark, root)
    metrics = b.build(corpus)
    return b, metrics


def test_build_tables_committed(built):
    b, metrics = built
    units = [r["unit"] for r in metrics["lineage"]]
    for tbl in ("docmap", "stats", "terms", "blocks"):
        assert b.catalog.exists(tbl), tbl
        assert tbl in units
    # stage 0 committed, then dropped once blocks did: build scratch
    assert "postings" in units
    assert not b.catalog.exists("postings")
    # the catalog is the only record of progress: no marker files
    assert not os.path.exists(os.path.join(b.root, "_checkpoints"))
    phases = [p["phase"] for p in metrics["phases"]]
    assert phases == ["postings", "docmap", "terms", "blocks"]
    assert all(p["ok"] for p in metrics["phases"])
    assert len(metrics["lineage"]) == 5  # stats committed within docmap phase


def test_doc_ords_dense_and_ordered(spark, corpus, built):
    b, _ = built
    dm = b.catalog.read("docmap").orderBy("doc_ord").toPandas()
    assert list(dm["doc_ord"]) == list(range(len(dm)))
    # ordinal order == (conv_id, turn_idx) order
    resorted = dm.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(resorted["doc_ord"]) == list(range(len(dm)))


def test_blocks_roundtrip_postings(spark, corpus, built):
    """Decoding every block must reproduce the postings relation exactly."""
    b, _ = built
    blocks = b.catalog.read("blocks")
    decoded = (
        b._decoded_postings(blocks)
        .join(b.catalog.read("docmap").select("doc_ord", "conv_id", "turn_idx"),
              "doc_ord")
        .select("term", "conv_id", "turn_idx", "tf")
    )
    orig = build_postings(corpus)
    sym_diff = decoded.exceptAll(orig).union(orig.exceptAll(decoded))
    assert sym_diff.count() == 0
    # block invariant: every block ≤ BLOCK_SIZE docs, min/max consistent
    bad = blocks.filter(
        (blocks.n_docs > 128) | (blocks.min_ord > blocks.max_ord)
    )
    assert bad.count() == 0


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_indexed_equals_dataframe_path(spark, corpus, built, pin_batch_tier,
                                       tier):
    b, _ = built
    pin_batch_tier(tier)
    idx_out = b.query_batch(QUERIES, k=10).toPandas()
    df_out = bm25_topk_batch(corpus, QUERIES, k=10).toPandas()
    assert len(idx_out) == len(df_out)
    for (_, ri), (_, rd) in zip(idx_out.iterrows(), df_out.iterrows()):
        assert ri["query_id"] == rd["query_id"]
        assert ri["conv_id"] == rd["conv_id"]
        assert ri["turn_idx"] == rd["turn_idx"]
        assert abs(ri["score"] - rd["score"]) < 1e-9


def test_reducer_slabs_identical(spark, built, pin_batch_tier):
    """Shrinking the reducer geometry (forcing many tiny doc-range
    buckets, hence many blob rows and partition-boundary doc splits)
    must not change any answer — the partitioning is an implementation
    detail, not semantics."""
    pin_batch_tier("spark")  # the reducers are the Spark tier's
    b, _ = built
    queries = QUERIES * 3  # 15 queries
    base = b.query_batch(queries, k=5).toPandas()
    old = b.TARGET_DOCS_PER_REDUCER
    try:
        b.TARGET_DOCS_PER_REDUCER = 7  # dozens of buckets on the fixture
        small = b.query_batch(queries, k=5).toPandas()
    finally:
        b.TARGET_DOCS_PER_REDUCER = old
    assert small[["query_id", "conv_id", "turn_idx"]].values.tolist() == \
        base[["query_id", "conv_id", "turn_idx"]].values.tolist()
    assert (abs(small["score"] - base["score"]) < 1e-9).all()


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_query_batch_bit_deterministic(spark, built, pin_batch_tier, tier):
    """Reducer blobs concatenate sorted by source map partition and each
    query sums its terms in ascending-term order, so repeated identical
    batches are BIT-identical — exact float equality, not a tolerance —
    regardless of shuffle arrival order; and the driver tier, which
    sums in the same order, gives the same bits as the Spark tier."""
    b, _ = built
    pin_batch_tier(tier)
    a = b.query_batch(QUERIES, k=5).toPandas()
    c = b.query_batch(QUERIES, k=5).toPandas()
    assert a[["query_id", "conv_id", "turn_idx"]].values.tolist() == \
        c[["query_id", "conv_id", "turn_idx"]].values.tolist()
    assert (a["score"].to_numpy() == c["score"].to_numpy()).all()
    pin_batch_tier("spark" if tier == "driver" else "driver")
    other = b.query_batch(QUERIES, k=5).toPandas()
    assert other.values.tolist() == a.values.tolist()  # exact floats


@pytest.mark.parametrize("tier", ["driver", "spark"])
def test_query_warm_matches_batch(spark, built, pin_batch_tier, tier):
    """The driver-side interactive path (no Spark job) must be rank- and
    value-identical to both batch tiers, across the warm regime, the
    fallback regime, and misses."""
    b, _ = built
    pin_batch_tier(tier)
    for q in ["kemuba0 data", "the of to and in", "bacoca0"]:
        warm = b.query_warm(q, k=5)
        batch = b.query_batch([q], k=5).toPandas()
        assert warm[["conv_id", "turn_idx"]].values.tolist() == \
            batch[["conv_id", "turn_idx"]].values.tolist(), q
        assert (abs(warm["score"] - batch["score"]) < 1e-9).all(), q
    assert len(b.query_warm("zzzznotaterm")) == 0
    assert len(b.query_warm("...!!!")) == 0


def _job_count(spark, group, fn):
    """(result of ``fn()``, Spark jobs it ran) under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_batch_driver_tier_runs_no_spark_job(spark, built):
    """A batch within the warm block budget is scored on the driver: on
    a builder whose docmap schema is cached, defining and collecting it
    runs no Spark job."""
    b, _ = built
    fresh = IndexBuilder(spark, b.root)
    assert fresh._batch_on_driver(fresh._plan_queries(QUERIES))
    want = fresh.query_batch(QUERIES, k=5).collect()  # caches the schema
    got, jobs = _job_count(
        spark, "driver_tier_batch",
        lambda: fresh.query_batch(QUERIES, k=5).collect(),
    )
    assert jobs == 0
    assert got == want and len(got) > 0


def test_query_batch_gate_sends_big_fan_out_to_spark(spark, built,
                                                     monkeypatch):
    """The tier gate is the batch's block fan-out against the warm block
    budget: one block under the fan-out sends the batch to Spark, at
    the fan-out it stays on the driver, and both answer the same."""
    b, _ = built
    fan_out = b._plan_queries(QUERIES)["fan_out"]
    assert fan_out > 1
    monkeypatch.setattr(b, "WARM_MAX_BLOCKS", fan_out)
    b.query_batch(QUERIES, k=5).collect()
    drv, drv_jobs = _job_count(
        spark, "gate_at", lambda: b.query_batch(QUERIES, k=5).collect()
    )
    monkeypatch.setattr(b, "WARM_MAX_BLOCKS", fan_out - 1)
    spk, spk_jobs = _job_count(
        spark, "gate_below", lambda: b.query_batch(QUERIES, k=5).collect()
    )
    assert drv_jobs == 0 and spk_jobs > 0
    assert spk == drv


def test_first_query_warm_runs_no_spark_job(spark, built):
    b, _ = built
    fresh = IndexBuilder(spark, b.root)
    sc = spark.sparkContext
    sc.setJobGroup("first_query_warm", "first query_warm, fresh builder")
    try:
        got = fresh.query_warm("kemuba0 data", k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("first_query_warm") == []
    assert got.values.tolist() == \
        b.query_warm("kemuba0 data", k=5).values.tolist()


def test_df_cache_bounded_by_vocabulary(spark, built):
    """Absent query terms leave miss markers; their number stays within
    the committed vocabulary size however many distinct misses arrive."""
    b, _ = built
    fresh = IndexBuilder(spark, b.root)
    vocab = sum(e["rows"] for e in b.catalog.manifest("terms")["files"])
    absent = [f"zzabsent{i}q" for i in range(vocab + 500)]
    for i in range(0, len(absent), 500):
        assert len(fresh.query_warm(" ".join(absent[i:i + 500]))) == 0
    assert len(fresh._dfs) <= vocab
    assert fresh.query_warm("kemuba0 data", k=5).values.tolist() == \
        b.query_warm("kemuba0 data", k=5).values.tolist()


def test_miss_is_empty(spark, built):
    b, _ = built
    out = b.query_batch(["zzzznotaterm"], k=10)
    assert out.count() == 0


def test_resume_skips_committed_stages(spark, corpus, built):
    b, _ = built
    b2 = IndexBuilder(spark, b.root)
    m2 = b2.build(corpus)
    assert m2["phases"] == []  # everything committed → nothing re-ran


def test_resume_after_partial_failure(spark, corpus, built, tmp_path,
                                      monkeypatch):
    """Kill-in-stage-2 simulation: the terms write raises on a fresh
    root; the resumed build must run exactly the missing stages and
    answer identically."""
    b, _ = built
    b2 = IndexBuilder(spark, str(tmp_path / "idx2"))
    real = b2.catalog.write

    def crash_on_terms(df, name, *args, **kwargs):
        if name == "terms":
            raise RuntimeError("killed in the terms stage")
        return real(df, name, *args, **kwargs)

    monkeypatch.setattr(b2.catalog, "write", crash_on_terms)
    with pytest.raises(RuntimeError, match="killed"):
        b2.build(corpus)
    monkeypatch.setattr(b2.catalog, "write", real)
    m2 = IndexBuilder(spark, b2.root).build(corpus)
    assert [p["phase"] for p in m2["phases"]] == ["terms", "blocks"]
    a = b.query_batch(QUERIES[:2], k=5).toPandas()
    c = b2.query_batch(QUERIES[:2], k=5).toPandas()
    assert a.values.tolist() == c.values.tolist()


def test_assign_doc_ords_deterministic(spark, corpus):
    d1 = assign_doc_ords(
        corpus.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], 4
    ).orderBy("doc_ord").toPandas()
    d2 = assign_doc_ords(
        corpus.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], 9
    ).orderBy("doc_ord").toPandas()
    assert d1.values.tolist() == d2.values.tolist()
