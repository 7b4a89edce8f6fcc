"""The two upsert tiers commit the same index.

``upsert_docs`` commits a batch of at most ``DELETE_PRUNE_MAX_IDS`` rows
from the driver (one bounded Spark action, pyarrow writes) and bigger
batches through Spark. Pins: the same three upserts (replace, insert,
re-upsert of an id) applied to two copies of one index — one copy on
each tier — leave equal docmap, postings, terms, stats, tombstones,
decoded blocks / pos_blocks and docmeta; every table reads back the
same through Spark and through pyarrow; warm == batch on both copies;
a small upsert on the driver tier runs at most two Spark jobs — none
from a pandas-born input, one from a file-backed one; its bounded read
brings the same tokens as ``toArrow`` and the same timestamps in any
Python time zone; and the first query after it infers no schema.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from antidb_spark.functions.analyze import tokens
from antidb_spark.operators.build import (
    _BLOCKS_OUT,
    IndexBuilder,
    _decode_table,
    _pack_partition,
    _packed,
)
from antidb_spark.operators.phrase import (
    _POS_BLOCKS_OUT,
    _pack_pos_partition,
    _decode_pos_batch,
    build_positional_index,
    phrase_query,
)
from antidb_spark.operators.upsert import _read_delta
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(5000)
META = ["role", "ts"]
QUERIES = [f"the {_V[200]} {_V[1000]}", f"{_V[4990]} {_V[600]}", _V[601],
           "the of"]


def _ups(corpus_pdf):
    """Three upsert batches: replace two docs + insert one, insert a new
    conversation (one turn without tokens), re-upsert an id the first
    batch replaced."""
    base = corpus_pdf.sort_values(["conv_id", "turn_idx"]).iloc[[0, 5]]
    ts = base["ts"].iloc[0]
    replace = [
        {"conv_id": r.conv_id, "turn_idx": int(r.turn_idx), "role": "tool",
         "text": f"{_V[4990]} {_V[600]} {_V[601]} {_V[4990]}", "ts": ts}
        for r in base.itertuples()
    ] + [{"conv_id": "conv_zz_a", "turn_idx": 0, "role": "user",
          "text": f"{_V[600]} fresh Doc", "ts": ts}]
    insert = [
        {"conv_id": "conv_zz_b", "turn_idx": t, "role": "assistant",
         "text": f"{_V[601]} {_V[600 + t]} the the", "ts": ts}
        for t in range(3)
    ] + [{"conv_id": "conv_zz_b", "turn_idx": 3, "role": "user",
          "text": "?!", "ts": ts}]  # no tokens: no postings, no ordinal
    reupsert = [dict(replace[0], text=f"{_V[601]} third generation",
                     role="user")]
    return [replace, insert, reupsert]


@pytest.fixture(scope="module")
def copies(spark, tmp_path_factory):
    corpus = synth_transcripts(spark, n_convs=4, seed=11).cache()
    corpus_pdf = corpus.toPandas()
    root = str(tmp_path_factory.mktemp("tiers") / "driver")
    b = IndexBuilder(spark, root)
    b.build(corpus, n_partitions=2)
    b.build_doc_meta(corpus, META)
    build_positional_index(b, corpus, n_partitions=2)
    shutil.copytree(root, root[:-len("driver")] + "spark")
    drv = IndexBuilder(spark, root)
    spk = IndexBuilder(spark, root[:-len("driver")] + "spark")
    spk.DELETE_PRUNE_MAX_IDS = 0  # every batch is over the cap
    outs = {"driver": [], "spark": []}
    for rows in _ups(corpus_pdf):
        for name, builder in (("driver", drv), ("spark", spk)):
            docs = spark.createDataFrame(
                pd.DataFrame(rows, columns=corpus.columns),
                schema=corpus.schema)
            outs[name].append(builder.upsert_docs(docs, n_partitions=2))
    yield drv, spk, outs
    corpus.unpersist()


def _rows(b, table, cols=None):
    t = b.catalog.read_arrow(table).to_pandas()
    return sorted(map(tuple, t[cols or list(t.columns)].values.tolist()))


def _blocks(b):
    tbl = b.catalog.read_arrow("blocks")
    counts, ords, tfs, dls = _decode_table(tbl)
    terms = np.repeat(tbl.column("term").to_numpy(), counts)
    return sorted(zip(terms, ords.tolist(), tfs.tolist(), dls.tolist()))


def _pos_blocks(b):
    uniq, tids, ords, pos = _decode_pos_batch(
        b.catalog.read_arrow("pos_blocks"))
    return sorted(zip(uniq[tids], ords.tolist(), pos.tolist()))


def test_each_copy_took_its_tier(copies):
    _, _, outs = copies
    assert [o["tier"] for o in outs["driver"]] == ["driver"] * 3
    assert [o["tier"] for o in outs["spark"]] == ["spark"] * 3
    for o in outs["driver"] + outs["spark"]:
        assert o["pos_mode"] == o["meta_mode"] == "append"
    for tier in outs.values():
        assert [o["n_replaced"] for o in tier] == [2, 0, 1]
        assert [o["run"] for o in tier] == [1, 2, 3]


def test_tiers_commit_equal_tables(copies):
    drv, spk, _ = copies
    for table in ("docmap", "terms", "tombstones", "docmeta"):
        assert _rows(drv, table) == _rows(spk, table), table
    assert (drv.catalog.read_arrow("stats").to_pylist()
            == spk.catalog.read_arrow("stats").to_pylist())
    assert drv._corpus_stats() == spk._corpus_stats()
    assert _blocks(drv) == _blocks(spk)
    assert _pos_blocks(drv) == _pos_blocks(spk)


def test_packed_is_byte_identical_on_both_tiers(spark):
    """One delta packed by ``_packed`` as a pyarrow table (the driver
    tier) and as a one-partition Spark relation (the Spark tier) yields
    the same ``blocks`` and ``pos_blocks`` rows, byte for byte."""
    rng = np.random.default_rng(3)
    lens = [3, 130, 300]  # one partial block, a full one + 2, several
    terms = np.repeat(["a", "b", "the"], lens)
    ords = np.concatenate(
        [np.sort(rng.choice(2**34, n, replace=False)) for n in lens])
    post = pa.table({"term": terms, "doc_ord": ords,
                     "tf": rng.integers(1, 5, ords.size),
                     "dl": rng.integers(5, 60, ords.size)})
    pos = pa.table({"term": np.repeat(terms, 2),
                    "doc_ord": np.repeat(ords, 2),
                    "pos": pa.array(np.tile([3, 70], ords.size), pa.int32())})
    for rel, sort_cols, kernel, schema in (
        (post, ["term", "doc_ord"], _pack_partition, _BLOCKS_OUT),
        (pos, ["term", "doc_ord", "pos"], _pack_pos_partition,
         _POS_BLOCKS_OUT),
    ):
        rel = rel.take(rng.permutation(rel.num_rows))  # _packed sorts
        args = (sort_cols, kernel, 5 << 48, schema, 1)
        local = _packed(rel, *args)
        dist = _packed(spark.createDataFrame(rel), *args).toArrow()
        assert local.num_rows == 6
        assert local.to_pylist() == dist.to_pylist()


def test_tables_read_back_through_spark_and_arrow(copies):
    for b in copies[:2]:
        for table in b.INDEX_TABLES:
            if not b.catalog.exists(table):
                continue
            via_spark = b.catalog.read(table).toPandas()
            via_arrow = b.catalog.read_arrow(table).to_pandas()
            assert list(via_spark.columns) == list(via_arrow.columns), table
            assert len(via_spark) == len(via_arrow), table
        for table in ("docmap", "terms", "stats", "tombstones"):
            s = b.catalog.read(table).toPandas()
            assert (sorted(map(tuple, s.values.tolist()))
                    == _rows(b, table, list(s.columns))), table
        meta = b.catalog.read("docmeta").toPandas().sort_values("doc_ord")
        arrow = b.catalog.read_arrow("docmeta").to_pandas() \
            .sort_values("doc_ord")
        assert meta["role"].tolist() == arrow["role"].tolist()
        assert (pd.to_datetime(meta["ts"]).dt.tz_localize(None).tolist()
                == pd.to_datetime(arrow["ts"]).dt.tz_localize(None)
                .tolist())


def test_queries_agree_across_tiers_and_paths(copies, pin_batch_tier):
    drv, spk, _ = copies
    pin_batch_tier("spark")  # warm vs the query_batch Spark tier
    batch = {}
    for name, b in (("driver", drv), ("spark", spk)):
        got = b.query_batch(QUERIES, k=10).toPandas()
        for qid, q in enumerate(QUERIES):
            rows = got[got["query_id"] == qid].drop(columns=["query_id"])
            warm = b.query_warm(q, k=10)
            assert warm.values.tolist() == rows.values.tolist(), (name, q)
        batch[name] = got.values.tolist()
    assert batch["driver"] == batch["spark"]
    phrase = f"{_V[600]} {_V[601]}"
    got = phrase_query(drv, phrase).toPandas().values.tolist()
    assert got and got == phrase_query(spk, phrase).toPandas().values.tolist()


def test_small_upsert_runs_at_most_two_jobs(spark, tmp_path):
    corpus = synth_transcripts(spark, n_convs=4, seed=3)
    b = IndexBuilder(spark, str(tmp_path / "jobs"))
    b.build(corpus, n_partitions=2)
    pdf = corpus.toPandas()
    part = pdf[pdf["conv_id"].isin(sorted(set(pdf["conv_id"]))[:3])].copy()
    part["text"] = [f"{_V[4990]} {t}" for t in part["text"]]
    docs = spark.createDataFrame(part, schema=corpus.schema)
    sc = spark.sparkContext
    sc.setJobGroup("upsert-tier-jobs", "small upsert")
    try:
        out = b.upsert_docs(docs)
    finally:
        sc.setJobGroup("upsert-tier-after", "after")
    assert out["tier"] == "driver"
    assert out["n_replaced"] == len(part)
    assert len(sc.statusTracker().getJobIdsForGroup("upsert-tier-jobs")) <= 2
    hits = b.query_warm(_V[4990], k=100)
    assert set(zip(hits["conv_id"], hits["turn_idx"])) == set(
        zip(part["conv_id"], part["turn_idx"]))


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    """A 4-conversation index and three of its conversations re-texted
    with a new token: a driver-tier upsert batch."""
    corpus = synth_transcripts(spark, n_convs=4, seed=3)
    b = IndexBuilder(spark, str(tmp_path_factory.mktemp("jobless")))
    b.build(corpus, n_partitions=2)
    pdf = corpus.toPandas()
    part = pdf[pdf["conv_id"].isin(sorted(set(pdf["conv_id"]))[:3])].copy()
    part["text"] = [f"{_V[4990]} {t}" for t in part["text"]]
    return b, part, corpus.schema


def _upsert_jobs(b, docs, group):
    sc = b.spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = b.upsert_docs(docs)
    finally:
        sc.setJobGroup(f"{group}-after", "after")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pandas_born_small_upsert_runs_no_job(spark, small):
    b, part, schema = small
    docs = spark.createDataFrame(part, schema=schema)
    out, jobs = _upsert_jobs(b, docs, "upsert-pandas")
    assert out["tier"] == "driver" and jobs == 0
    hits = b.query_warm(_V[4990], k=100)
    assert set(zip(hits["conv_id"], hits["turn_idx"])) == set(
        zip(part["conv_id"], part["turn_idx"]))


def test_parquet_backed_small_upsert_runs_one_job(spark, small, tmp_path):
    """A file-backed input is read in one bounded job, however many
    files it has (a limited ``collect`` would run one per scale-up)."""
    b, part, schema = small
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(part, schema=schema).repartition(3) \
        .write.parquet(path)
    docs = spark.read.schema(schema).parquet(path)
    assert len(docs.inputFiles()) == 3
    out, jobs = _upsert_jobs(b, docs, "upsert-parquet")
    assert out["tier"] == "driver" and jobs == 1
    assert out["n_replaced"] == len(part)


def test_driver_tier_timestamps_in_a_non_utc_zone(spark, tmp_path):
    """``collect`` turns a timestamp into a naive datetime in the Python
    process's zone; the driver tier must still commit the same docmeta
    ``ts`` as the Spark tier when that zone is not UTC."""
    corpus = synth_transcripts(spark, n_convs=2, seed=13)
    root = str(tmp_path / "driver")
    b = IndexBuilder(spark, root)
    b.build(corpus, n_partitions=2)
    b.build_doc_meta(corpus, META)
    shutil.copytree(root, str(tmp_path / "spark"))
    drv = IndexBuilder(spark, root)
    spk = IndexBuilder(spark, str(tmp_path / "spark"))
    spk.DELETE_PRUNE_MAX_IDS = 0
    pdf = corpus.toPandas().iloc[:3]
    docs = spark.createDataFrame(pdf, schema=corpus.schema)
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    try:
        assert time.timezone == -19800  # UTC+05:30 took effect
        outs = [x.upsert_docs(docs) for x in (drv, spk)]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert [o["tier"] for o in outs] == ["driver", "spark"]
    assert [o["meta_mode"] for o in outs] == ["append", "append"]
    assert _rows(drv, "docmeta") == _rows(spk, "docmeta")
    new_ts = drv.catalog.read_arrow("docmeta").to_pandas() \
        .sort_values("doc_ord")["ts"].tail(len(pdf))
    assert (sorted(pd.to_datetime(new_ts).dt.tz_localize(None))
            == sorted(pd.to_datetime(pdf["ts"])))


_SAMPLES = ["", " ", "?!", "--", "İstanbul ǅemal ß ﬁx K",
            "ÀÉÎ õü Σίσυφος", "a\u00a0b\tc\nd", "x\x00y"]
_TEXT = st.one_of(st.none(), st.text(max_size=40), st.sampled_from(_SAMPLES))


@settings(max_examples=30, deadline=None)
@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
def test_bounded_read_tokens_match_to_arrow(spark, texts):
    """The driver tier's bounded read (raw texts tokenized by
    ``py_tokens``; jobless for a local input, ``toArrow`` otherwise)
    brings exactly the token lists a ``toArrow`` of ``tokens`` brings:
    empty and punctuation-only docs give [], a null text stays null."""
    docs = spark.createDataFrame(
        pd.DataFrame({"conv_id": [f"c{i}" for i in range(len(texts))],
                      "turn_idx": range(len(texts)), "text": texts}),
        schema="conv_id string, turn_idx int, text string")
    want = docs.select("conv_id", "turn_idx",
                       tokens("text").alias("_tokens")).toArrow()
    for d in (docs, docs.repartition(2)):  # jobless read, toArrow read
        got = _read_delta(d, ["conv_id", "turn_idx"], "text", [], 10)
        assert got.column_names == want.column_names
        assert (sorted(got.to_pylist(), key=lambda r: r["turn_idx"])
                == want.to_pylist())


def test_tiers_agree_on_non_ascii_text(spark, tmp_path, monkeypatch):
    """The driver tier tokenizes with ``py_tokens``, the Spark tier with
    the JVM ``tokens()``: an upsert of the sample texts (non-ASCII
    letters, NBSP, NUL, empty, null) commits the same docmap, terms and
    blocks rows on both tiers."""
    corpus = synth_transcripts(spark, n_convs=2, seed=17)
    root = str(tmp_path / "driver")
    IndexBuilder(spark, root).build(corpus, n_partitions=1)
    shutil.copytree(root, str(tmp_path / "spark"))
    drv, spk = (IndexBuilder(spark, str(tmp_path / n))
                for n in ("driver", "spark"))
    monkeypatch.setattr(spk, "DELETE_PRUNE_MAX_IDS", 0)
    texts = [*_SAMPLES, None]
    docs = spark.createDataFrame(
        pd.DataFrame({"conv_id": "conv_zz_u", "turn_idx": range(len(texts)),
                      "text": texts}),
        schema="conv_id string, turn_idx int, text string")
    outs = [b.upsert_docs(docs) for b in (drv, spk)]
    assert [o["tier"] for o in outs] == ["driver", "spark"]
    for table in ("docmap", "terms"):
        assert _rows(drv, table) == _rows(spk, table), table
    assert _blocks(drv) == _blocks(spk)
    new = {t for t, *_ in _rows(drv, "terms")} - set(_V)
    assert {"stanbul", "k", "x", "y"} <= new


def test_query_after_upsert_infers_no_schema(spark, tmp_path, pin_batch_tier):
    """An upsert keeps every table's schema, so the builder's cached
    Spark schemas stay valid: the first query_batch after it runs the
    same jobs as a repeat of that query, no schema-inference job."""
    pin_batch_tier("spark")  # the blocks scan is the Spark tier's
    corpus = synth_transcripts(spark, n_convs=4, seed=7)
    b = IndexBuilder(spark, str(tmp_path / "schema"))
    b.build(corpus, n_partitions=2)
    queries = QUERIES[:2]
    want = b.query_batch(queries, k=5).collect()
    pdf = corpus.toPandas()
    part = pdf[pdf["conv_id"] == pdf["conv_id"].iloc[0]].copy()
    part["text"] = [f"{_V[4990]} {t}" for t in part["text"]]
    b.upsert_docs(spark.createDataFrame(part, schema=corpus.schema))
    sc = spark.sparkContext
    jobs = []
    for g in ("after-upsert", "repeat"):
        sc.setJobGroup(g, g)
        try:
            got = b.query_batch(queries, k=5).collect()
        finally:
            sc.setJobGroup("schema-after", "after")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(g)))
    assert jobs[0] == jobs[1]
    assert got != want  # the upserted token now matches
    warm = b.query_warm(queries[1], k=5)
    assert sorted(zip(warm["conv_id"], warm["turn_idx"])) == sorted(
        (r["conv_id"], r["turn_idx"]) for r in got if r["query_id"] == 1)


@pytest.mark.parametrize("null_row", [(None, 0), ("conv_zz_n", None)])
def test_null_ids_rejected_on_both_tiers(copies, null_row):
    drv, spk, _ = copies
    for b in (drv, spk):
        before = (b.pin(), _rows(b, "docmap"))
        docs = b.spark.createDataFrame(
            [(*null_row, "fresh words"), ("conv_zz_n", 1, "more words")],
            "conv_id string, turn_idx int, text string")
        with pytest.raises(ValueError, match="duplicate ids"):
            b.upsert_docs(docs)
        assert b.delete_docs([null_row]) == 0
        assert (b.pin(), _rows(b, "docmap")) == before


def test_over_cap_delete_reads_pruned_docmap(spark, tmp_path, monkeypatch):
    """A delete over the cap in id tuples but within it in conversations
    runs in Spark over a manifest-pruned docmap, not a full scan."""
    corpus = synth_transcripts(spark, n_convs=8, seed=5)
    b = IndexBuilder(spark, str(tmp_path / "prune"))
    b.build(corpus, n_partitions=4)
    pdf = corpus.toPandas()
    conv = pdf["conv_id"].value_counts().index[0]
    turns = pdf[pdf["conv_id"] == conv][["conv_id", "turn_idx"]]
    assert len(turns) > 3
    monkeypatch.setattr(b, "DELETE_PRUNE_MAX_IDS", 3)
    reads, pruned = [], []
    real_read, real_pruned = b.catalog.read, b.catalog.read_pruned
    monkeypatch.setattr(b.catalog, "read",
                        lambda name, *a, **k: reads.append(name)
                        or real_read(name, *a, **k))

    def spy(name, *a, **k):
        df = real_pruned(name, *a, **k)
        pruned.append((name, len(df.inputFiles())))
        return df

    monkeypatch.setattr(b.catalog, "read_pruned", spy)
    n = b.delete_docs(spark.createDataFrame(turns))
    assert n == len(turns)
    n_files = len(b.catalog.manifest("docmap")["files"])
    want = len(b.catalog.pruned_file_paths("docmap", "conv_id", [conv]))
    assert pruned == [("docmap", want)] and want < n_files
    assert "docmap" not in reads
    hits = b.query_warm(" ".join(_V[:40]), k=1000)
    assert conv not in set(hits["conv_id"])
