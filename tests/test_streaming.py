"""Structured-Streaming incremental index: exactly-once delta ingestion,
compaction equivalence with the batch build, watermarked windows."""

from __future__ import annotations

import os

import pytest

from antidb_spark.schema import TRANSCRIPTS_SCHEMA
from antidb_spark.operators.stats import build_postings
from antidb_spark.streaming.incremental import (
    PostingsDeltaSink,
    compact,
    run_ingestion,
    stream_postings,
    turn_rates,
)
from antidb_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_transcripts(spark, n_convs=20, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def source_dir(spark, corpus, tmp_path_factory):
    """Transcripts written as three file 'arrivals' for the file source."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    from pyspark.sql import functions as F

    for i in range(3):
        chunk = corpus.filter(F.crc32(F.col("conv_id")) % 3 == i)
        chunk.coalesce(1).write.mode("append").parquet(d)
    return d


def _read_stream(spark, source_dir):
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def test_incremental_matches_batch(spark, corpus, source_dir, tmp_path):
    root = str(tmp_path / "stream_idx")
    sink = PostingsDeltaSink(root)
    q = run_ingestion(_read_stream(spark, source_dir), sink,
                      os.path.join(root, "ckpt"))
    q.awaitTermination(120)
    assert len(sink.committed_batches()) >= 2  # maxFilesPerTrigger=1 → ≥3

    merged = sink.deltas(spark)
    batch = build_postings(corpus)
    from pyspark.sql import functions as F

    merged_tf = merged.groupBy("term", "conv_id", "turn_idx").agg(
        F.sum("tf").alias("tf")
    )
    diff = merged_tf.exceptAll(batch).union(batch.exceptAll(merged_tf))
    assert diff.count() == 0


def test_ingestion_idempotent_on_restart(spark, source_dir, tmp_path):
    """Re-running the same bounded stream with the same checkpoint must
    not duplicate postings (re-delivered batches skipped)."""
    root = str(tmp_path / "stream_idx2")
    sink = PostingsDeltaSink(root)
    ck = os.path.join(root, "ckpt")
    q = run_ingestion(_read_stream(spark, source_dir), sink, ck)
    q.awaitTermination(120)
    n1 = sink.deltas(spark).count()
    batches1 = sink.committed_batches()
    # restart: same checkpoint → source replays nothing new; same ledger
    q2 = run_ingestion(_read_stream(spark, source_dir), sink, ck)
    q2.awaitTermination(120)
    assert sink.committed_batches() == batches1
    assert sink.deltas(spark).count() == n1


def test_compact_answers_equal_batch_index(spark, corpus, source_dir, tmp_path):
    root = str(tmp_path / "stream_idx3")
    sink = PostingsDeltaSink(root)
    q = run_ingestion(_read_stream(spark, source_dir), sink,
                      os.path.join(root, "ckpt"))
    q.awaitTermination(120)
    b = compact(spark, sink, str(tmp_path / "compacted"))

    from antidb_spark.operators.build import IndexBuilder

    b2 = IndexBuilder(spark, str(tmp_path / "batch_idx"))
    b2.build(corpus)
    queries = ["the kemuba0", "data bacoca0 of"]
    a = b.query_batch(queries, k=5).toPandas()
    c = b2.query_batch(queries, k=5).toPandas()
    assert a.values.tolist() == c.values.tolist()


def _file_hashes(root: str) -> dict[str, str]:
    import hashlib

    out = {}
    for dirpath, _dirs, fnames in os.walk(root):
        for fn in fnames:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                with open(p, "rb") as f:
                    out[p] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_incremental_compaction_appends_only(spark, corpus, tmp_path,
                                             pin_batch_tier):
    """O(delta) compaction: new-conversation deltas append files; every
    pre-existing BLOCK file stays byte-identical; answers equal a full
    batch build of the whole corpus (appended convs sort after the base,
    so even the doc_ord tiebreak order matches)."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "inc_idx"))
    b.build(base, n_partitions=4)

    sink = PostingsDeltaSink(str(tmp_path / "inc_sink"))
    sink(tail, batch_id=0)
    before = _file_hashes(os.path.join(b.root, "blocks"))

    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append"
    after = _file_hashes(os.path.join(b.root, "blocks"))
    unchanged = {p: h for p, h in before.items() if p in after}
    assert unchanged == {p: h for p, h in before.items()}  # none touched
    assert len(after) > len(before)  # new block files appended

    b2 = IndexBuilder(spark, str(tmp_path / "inc_batch"))
    b2.build(corpus, n_partitions=4)
    queries = ["the kemuba0", "data bacoca0 of", "zzzznotaterm"]
    a = b.query_batch(queries, k=5).toPandas()
    c = b2.query_batch(queries, k=5).toPandas()
    assert a.values.tolist() == c.values.tolist()
    # the Spark tier agrees over the appended index (scores from
    # current stats, not build-time stats)
    pin_batch_tier("spark")
    p = b.query_batch(queries, k=5).toPandas()
    assert p.values.tolist() == c.values.tolist()
    # a second compaction with nothing new is a no-op
    assert compact_incremental(spark, sink, b)["mode"] == "noop"


def test_query_warm_matches_batch_after_append(
    spark, corpus, tmp_path, pin_batch_tier
):
    """Warm-tier postings cache over a MULTI-RUN blocks table (base +
    appended run): a query term's blocks from different runs interleave
    with other terms in the pruned read stream, so the per-term slicing
    must accumulate segments, not overwrite (ADVICE r03 high). Asserts
    postings-count parity per term and rank/value parity vs the batch
    path, for queries whose terms straddle both runs."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "warm_app_idx"))
    b.build(base, n_partitions=4)
    sink = PostingsDeltaSink(str(tmp_path / "warm_app_sink"))
    sink(tail, batch_id=0)
    assert compact_incremental(spark, sink, b, n_partitions=4)[
        "mode"] == "append"

    # Whether the two runs' files actually interleave in the pruned
    # stream depends on lexicographic part-file UUID luck — pyarrow
    # guarantees NO cross-file order. Pin the worst case: permute the
    # blocks batch rows (evens then odds) so every multi-block term is
    # split into non-adjacent segments, deterministically.
    real = b.catalog.read_pruned_arrow

    def shuffled(name, *args, **kwargs):
        tbl = real(name, *args, **kwargs)
        if name == "blocks" and tbl.num_rows > 1:
            idx = list(range(0, tbl.num_rows, 2)) + \
                list(range(1, tbl.num_rows, 2))
            tbl = tbl.take(idx)
        return tbl

    b.catalog.read_pruned_arrow = shuffled

    post = build_postings(corpus)  # base + tail, independent of the index
    pin_batch_tier("spark")  # the batch side reads blocks through Spark
    for q in ["the data", "a the of kemuba0", "data bacoca0 of"]:
        plan = b._plan_queries([q])
        assert plan is not None and plan["est_blocks"] <= b.WARM_MAX_BLOCKS
        cached = b._warm_postings(plan["terms"], plan["avgdl"])
        for t in plan["terms"]:  # no silently dropped postings
            want = post.filter(F.col("term") == t).count()
            assert cached[t][0].size == want, (q, t)
        warm = b.query_warm(q, k=5)
        batch = b.query_batch([q], k=5).toPandas()
        assert warm[["conv_id", "turn_idx"]].values.tolist() == \
            batch[["conv_id", "turn_idx"]].values.tolist(), q
        assert (abs(warm["score"] - batch["score"]) < 1e-9).all(), q


def test_positional_appends_only(spark, corpus, tmp_path):
    """O(delta) positional appends (VERDICT r03 #6): the sink persists
    position deltas, compaction appends pos_blocks runs — every
    pre-existing pos_blocks file stays byte-identical — and phrase
    queries (distributed + warm) stay green across the compaction,
    matching the ad-hoc corpus-level semantics on the merged corpus."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.phrase import (
        build_positional_index,
        phrase_query,
        phrase_search,
        phrase_warm,
    )
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "pos_idx"))
    b.build(base, n_partitions=4)
    build_positional_index(b, base, n_partitions=4)

    sink = PostingsDeltaSink(str(tmp_path / "pos_sink"))
    sink(tail, batch_id=0)
    before = _file_hashes(os.path.join(b.root, "pos_blocks"))
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append" and m["pos_mode"] == "append"
    after = _file_hashes(os.path.join(b.root, "pos_blocks"))
    assert {p: h for p, h in before.items() if p in after} == before
    assert len(after) > len(before)  # new pos_block files appended
    assert b.catalog.exists("pos_blocks")  # layer never invalidated

    # phrase parity on phrases hitting base-only, tail-only, and both
    for phrase in ["the data", "of the", "kemuba0", "no such phrase zz"]:
        want = phrase_search(corpus, phrase).toPandas()
        got = phrase_query(b, phrase).toPandas()
        assert got.values.tolist() == want.values.tolist(), phrase
        warm = phrase_warm(b, phrase)
        assert warm.values.tolist() == want.values.tolist(), phrase

    assert compact_incremental(spark, sink, b)["mode"] == "noop"


def test_positional_append_without_pos_deltas_invalidates(
    spark, corpus, tmp_path
):
    """Consumed batches that predate positional capture (no positions
    dir) must invalidate the layer, never append a hole into it."""
    import shutil

    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.phrase import build_positional_index
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "hole_idx"))
    b.build(base, n_partitions=4)
    build_positional_index(b, base, n_partitions=4)
    sink = PostingsDeltaSink(str(tmp_path / "hole_sink"))
    sink(tail, batch_id=0)
    shutil.rmtree(os.path.join(sink.pos_dir, "batch_id=0"))
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append" and m["pos_mode"] == "invalidated"
    assert not b.catalog.exists("pos_blocks")


def test_docmeta_appends_with_meta_deltas(spark, corpus, tmp_path):
    """Filtered search survives appends O(delta): the sink persists
    per-doc metadata rows, compaction appends docmeta rows keyed to the
    new ordinals, and query_filtered over the appended index equals the
    brute-force filter over the MERGED corpus."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "meta_idx"))
    b.build(base, n_partitions=4)
    b.build_doc_meta(base, ["role"])
    sink = PostingsDeltaSink(str(tmp_path / "meta_sink"),
                             meta_cols=["role"])
    sink(tail, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append" and m["meta_mode"] == "append"
    assert b.catalog.exists("docmeta")
    # docmeta covers every doc in the appended docmap (no silent holes)
    assert b.catalog.read("docmeta").count() == \
        b.catalog.read("docmap").count()

    q = "the kemuba0"
    got = b.query_filtered(q, "role = 'assistant'", k=10).toPandas()
    allsc = b.query_pinned(q, k=1_000_000).toPandas()
    meta = corpus.select("conv_id", "turn_idx", "role").toPandas()
    merged = allsc.merge(meta, on=["conv_id", "turn_idx"])
    want = (
        merged[merged["role"] == "assistant"]
        .sort_values(["score", "conv_id", "turn_idx"],
                     ascending=[False, True, True])
        .head(10)[["conv_id", "turn_idx", "score"]]
    )
    assert got.values.tolist() == want.values.tolist()
    # tail docs must actually be reachable through the filter
    assert (got["conv_id"] >= "conv_00000015").any()


def test_docmeta_props_survive_consecutive_appends(spark, corpus, tmp_path):
    """Regression: an append rewrites the manifest, and table props
    (docmeta's meta_cols) must ride along — without that, the SECOND
    append finds no meta_cols and wrongly invalidates the layer."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000012")
    mid = corpus.filter(
        (F.col("conv_id") >= "conv_00000012")
        & (F.col("conv_id") < "conv_00000016")
    )
    tail = corpus.filter(F.col("conv_id") >= "conv_00000016")
    b = IndexBuilder(spark, str(tmp_path / "mp_idx"))
    b.build(base, n_partitions=4)
    b.build_doc_meta(base, ["role"])
    sink = PostingsDeltaSink(str(tmp_path / "mp_sink"),
                             meta_cols=["role"])
    sink(mid, batch_id=0)
    m1 = compact_incremental(spark, sink, b, n_partitions=4)
    assert m1["meta_mode"] == "append"
    assert b.catalog.manifest("docmeta")["props"].get("meta_cols") \
        == ["role"]
    sink(tail, batch_id=1)
    m2 = compact_incremental(spark, sink, b, n_partitions=4)
    assert m2["meta_mode"] == "append"  # the regression made this drop
    assert b.catalog.exists("docmeta")
    assert b.catalog.read("docmeta").count() == \
        b.catalog.read("docmap").count()


def test_docmeta_append_without_meta_deltas_invalidates(
    spark, corpus, tmp_path
):
    """A sink without meta capture must INVALIDATE docmeta on
    compaction — filtered search raises instead of silently serving a
    result set that excludes the appended docs."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    base = corpus.filter(F.col("conv_id") < "conv_00000015")
    tail = corpus.filter(F.col("conv_id") >= "conv_00000015")
    b = IndexBuilder(spark, str(tmp_path / "metainv_idx"))
    b.build(base, n_partitions=4)
    b.build_doc_meta(base, ["role"])
    sink = PostingsDeltaSink(str(tmp_path / "metainv_sink"))
    sink(tail, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "append" and m["meta_mode"] == "invalidated"
    assert not b.catalog.exists("docmeta")
    with pytest.raises(ValueError, match="docmeta"):
        b.query_filtered("the", "role = 'user'")


def test_docmeta_dropped_on_full_rebuild(spark, corpus, tmp_path):
    """The update-fallback full rebuild renumbers ordinals; docmeta
    (whose pre-existing docs' metadata is not in the sink) must drop
    with the other derived tables."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    b = IndexBuilder(spark, str(tmp_path / "metafull_idx"))
    b.build(corpus, n_partitions=4)
    b.build_doc_meta(corpus, ["role"])
    upd = corpus.filter(F.col("conv_id") == "conv_00000003")
    sink = PostingsDeltaSink(str(tmp_path / "metafull_sink"),
                             meta_cols=["role"])
    sink(upd, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "full"
    assert not b.catalog.exists("docmeta")
    assert not b.catalog.exists("docmeta")
    with pytest.raises(ValueError, match="docmeta"):
        b.query_filtered("the", "role = 'user'")


def test_incremental_compaction_update_falls_back(spark, corpus, tmp_path):
    """A delta touching an ALREADY-INDEXED doc (its dl is packed into
    every posting) must trigger the full-rebuild path and still answer
    like a batch build over the merged postings."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.stats import build_postings
    from antidb_spark.streaming.incremental import compact_incremental

    b = IndexBuilder(spark, str(tmp_path / "upd_idx"))
    b.build(corpus, n_partitions=4)
    # delta = extra occurrences of existing turns (doc mutation)
    upd = corpus.filter(F.col("conv_id") == "conv_00000003")
    sink = PostingsDeltaSink(str(tmp_path / "upd_sink"))
    sink(upd, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "full"

    merged = (
        build_postings(corpus)
        .unionByName(build_postings(upd))
        .groupBy("term", "conv_id", "turn_idx")
        .agg(F.sum("tf").alias("tf"))
    )
    got = b._alive_postings()  # decoded from the rebuilt blocks
    diff = got.exceptAll(merged).union(merged.exceptAll(got))
    assert diff.count() == 0
    assert b.query_batch(["the kemuba0"], k=3).count() == 3


def test_stream_postings_plan_is_streaming(spark, source_dir):
    sp = stream_postings(_read_stream(spark, source_dir))
    assert sp.isStreaming


def test_turn_rates_watermark(spark, corpus, source_dir, tmp_path):
    """Windowed counts over the bounded stream == batch windowed counts
    (no late data in the fixture, so the watermark drops nothing)."""
    out = str(tmp_path / "rates_out")
    q = (
        # complete mode: append would hold back trailing windows the
        # final watermark never passes in a bounded run
        turn_rates(_read_stream(spark, source_dir), watermark="1 hour",
                   window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rates")
        .option("checkpointLocation", str(tmp_path / "rates_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM rates").collect()
    }
    from pyspark.sql import functions as F

    want = {
        (r["ws"], r["role"]): r["n"]
        for r in corpus.groupBy(
            F.window("ts", "1 hour").alias("w"), "role"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .collect()
    }
    assert got == want
    assert out  # silence unused


def test_full_compaction_invalidates_live_builder_caches(
    spark, corpus, tmp_path
):
    """A builder that served queries BEFORE a full (doc-mutating)
    compaction must answer with POST-compaction stats afterwards — the
    cached (n_docs, avgdl) would otherwise yield stale idf/avgdl scores
    (ADVICE r02)."""
    from pyspark.sql import functions as F

    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.streaming.incremental import compact_incremental

    b = IndexBuilder(spark, str(tmp_path / "inval_idx"))
    b.build(corpus, n_partitions=4)
    q = ["the kemuba0"]
    b.query_batch(q, k=3).count()  # populate the driver caches

    upd = corpus.filter(F.col("conv_id") == "conv_00000003")
    sink = PostingsDeltaSink(str(tmp_path / "inval_sink"))
    sink(upd, batch_id=0)
    m = compact_incremental(spark, sink, b, n_partitions=4)
    assert m["mode"] == "full"

    got = b.query_batch(q, k=3).toPandas()
    fresh = IndexBuilder(spark, str(tmp_path / "inval_idx"))
    want = fresh.query_batch(q, k=3).toPandas()
    assert got.values.tolist() == want.values.tolist()
