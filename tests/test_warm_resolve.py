"""Driver-side id resolution of the warm tiers and of ``query_batch``.

``IndexBuilder._ids_of`` maps doc ordinals to ids through one
doc_ord-sorted copy of the docmap held on the driver, extended in place
when the docmap (and, beside it, the tombstone state) only gained
appended files. Pins: answers equal a pyarrow docmap-join reference on
a tombstoned multi-run index (dtypes included), an unknown ordinal
raises, an upsert is read back O(delta), every other kind of commit
(optimize, rollback) reloads, and ``query_batch``'s driver tier runs no
Spark job and answers as its Spark tier does.
"""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from antidb_spark.functions.packing import unpack_postings, varint_decode
from antidb_spark.operators.build import IndexBuilder, _decode_table
from antidb_spark.operators.phrase import (
    build_positional_index,
    phrase_warm,
    term_positions_warm,
)
from antidb_spark.synth import synth_transcripts, vocabulary

_V = vocabulary(5000)
PHRASE = f"{_V[4990]} {_V[600]}"
QUERIES = [f"the {_V[200]} {_V[1000]}", PHRASE, _V[601], "zzzznotaterm"]


def _upsert(b, spark, rows):
    b.upsert_docs(spark.createDataFrame(pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "text"])))


def _answers(b):
    """Every warm surface whose ids come from ``_ids_of``."""
    return (
        [b.query_warm(q, k=8) for q in QUERIES]
        + [phrase_warm(b, PHRASE)]
        + [term_positions_warm(b, q, k=8) for q in QUERIES[:3]]
    )


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    """A positional index over 12 conversations, then an upsert that
    replaces two docs and adds one, a second upsert, and a delete —
    with the warm tiers queried after each step, so the builder's
    driver caches take the append path every time."""
    corpus = synth_transcripts(spark, n_convs=12, seed=5).cache()
    ids = corpus.select("conv_id", "turn_idx").orderBy(
        "conv_id", "turn_idx").toPandas()
    root = str(tmp_path_factory.mktemp("resolve") / "idx")
    b = IndexBuilder(spark, root)
    b.build(corpus, n_partitions=2)
    build_positional_index(b, corpus, n_partitions=2)
    _answers(b)
    first = [(r.conv_id, int(r.turn_idx)) for r in ids.iloc[[0, 7]].itertuples()]
    _upsert(b, spark, [(c, t, f"{PHRASE} {_V[601]} {_V[4990]}")
                       for c, t in first] + [("conv_zz", 0, f"{PHRASE} new")])
    _answers(b)
    _upsert(b, spark, [("conv_zz", 1, f"{_V[601]} {PHRASE} {PHRASE}"),
                       (first[0][0], first[0][1], f"{_V[601]} again")])
    _answers(b)
    r = ids.iloc[3]
    assert b.delete_docs([(r.conv_id, int(r.turn_idx))]) == 1
    _answers(b)
    yield b
    corpus.unpersist()


def _join_ids(self, ords):
    """Reference resolver: a pyarrow join of the ordinals against the
    whole docmap, back in request order."""
    dm = self.catalog.read_arrow("docmap", columns=["doc_ord", *self.id_cols])
    want = pa.table({"doc_ord": pa.array(np.asarray(ords), pa.int64()),
                     "_at": np.arange(len(ords))})
    got = want.join(dm, "doc_ord").sort_by("_at").to_pandas()
    assert len(got) == len(ords)
    return {c: got[c].to_numpy() for c in self.id_cols}


def _equal(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.equals(w), (g, w)


def test_unknown_ordinal_raises(idx):
    b = idx
    n_ords = sum(e["rows"] for e in b.catalog.manifest("docmap")["files"])
    ok = b._ids_of(np.array([n_ords - 1, 0, n_ords - 1]))
    assert ok["conv_id"][0] == ok["conv_id"][2]
    for bad in ([n_ords], [-1], [0, n_ords + 7]):
        with pytest.raises(KeyError):
            b._ids_of(np.array(bad))


def test_decode_table_equals_per_block_reference(idx):
    """The one decode adapter of the Spark kernels and the driver tiers
    decodes each block as ``unpack_postings`` does, over a RecordBatch,
    a multi-chunk (multi-file) Table and an offset slice."""
    tbl = idx.catalog.read_arrow("blocks")
    assert tbl.column("docs_packed").num_chunks > 1
    whole = tbl.combine_chunks().to_batches()[0]
    for part in (whole, tbl, whole.slice(1, tbl.num_rows - 2)):
        rows = part.to_pylist()
        ref = [unpack_postings(r["docs_packed"], r["tfs_packed"])
               + (varint_decode(r["dls_packed"]),) for r in rows]
        want = [np.array([r["n_docs"] for r in rows]),
                *(np.concatenate(c) for c in zip(*ref))]
        got = _decode_table(part)
        assert len(got) == len(want) == 4
        for g, w in zip(got, want):
            np.testing.assert_array_equal(g, w)


def test_warm_answers_equal_docmap_join(spark, idx, monkeypatch):
    b = idx
    got = _answers(b)
    warm = got[0]
    assert list(warm.dtypes.astype(str)) == ["object", "int32", "float64"]
    assert any(len(g) for g in got[4:])  # phrase + snippets non-vacuous
    assert "conv_zz" in set(got[1]["conv_id"])  # an appended doc
    monkeypatch.setattr(IndexBuilder, "_ids_of", _join_ids)
    _equal(got, _answers(IndexBuilder(spark, b.root)))


def test_query_after_upsert_reads_only_new_files(spark, idx, tmp_path,
                                                 monkeypatch):
    root = str(tmp_path / "idx")
    shutil.copytree(idx.root, root)
    b = IndexBuilder(spark, root)
    b.query_warm(QUERIES[1], k=8)  # loads docmap ids + tombstones
    before = {t: {e["path"] for e in b.catalog.manifest(t)["files"]}
              for t in ("docmap", "tombstones")}
    _upsert(b, spark, [("conv_zz", 0, f"{PHRASE} replaced")])
    new = {t: sorted({e["path"] for e in b.catalog.manifest(t)["files"]}
                     - before[t]) for t in before}
    assert all(new.values())
    reads = []
    read_arrow = b.catalog.read_arrow

    def spy(name, columns=None, files=None):
        reads.append((name, files))
        return read_arrow(name, columns=columns, files=files)

    monkeypatch.setattr(b.catalog, "read_arrow", spy)
    out = b.query_warm(QUERIES[1], k=8)
    assert sorted(r for r in reads if r[0] in new) == [
        ("docmap", new["docmap"]), ("tombstones", new["tombstones"])]
    assert out.equals(IndexBuilder(spark, root).query_warm(QUERIES[1], k=8))


def test_append_path_tolerates_files_already_read(spark, idx):
    """A load that races a commit can read files past the file list it
    caches under; extending by them again must not count them twice."""
    b = IndexBuilder(spark, idx.root)
    want = _answers(b)
    for key, (_, files, value) in list(b._heads.items()):
        if key[0] in ("docmap", "tombstones"):
            assert len(files) > 1
            b._heads[key] = ("racing", files[:-1], value)
    _equal(_answers(b), want)
    cached = {k[0]: v for k, (_, _, v) in b._heads.items()}
    for ords in (cached["docmap"][0], cached["tombstones"][1]):
        assert (np.diff(ords) > 0).all()


def test_ids_after_rollback_and_optimize(spark, idx, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(idx.root, root)
    b = IndexBuilder(spark, root)
    pins = b.pin()
    pre = _answers(b)
    top = pre[1].iloc[0]
    _upsert(b, spark, [(top.conv_id, int(top.turn_idx), "zzrolled back")])
    assert not _answers(b)[1].equals(pre[1])
    b.rollback(pins)
    _equal(_answers(b), _answers(IndexBuilder(spark, root)))
    _equal(_answers(b), pre)
    assert b.optimize()["mode"] == "optimized"
    _equal(_answers(b), _answers(IndexBuilder(spark, root)))


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_tier_runs_no_job_and_equals_spark_tier(spark, idx,
                                                       pin_batch_tier):
    b = idx
    assert b._batch_on_driver(b._plan_queries(QUERIES))
    b.query_batch(QUERIES, k=5).collect()  # caches the docmap schema
    for qs in (QUERIES, ["zzzznotaterm"]):
        rows, jobs = _job_count(
            spark, "resolve_driver_tier",
            lambda: b.query_batch(qs, k=5).collect(),
        )
        assert jobs == 0
        drv = b.query_batch(qs, k=5).toPandas()
        pin_batch_tier("spark")
        spk = b.query_batch(qs, k=5).toPandas()
        pin_batch_tier("driver")
        assert drv.equals(spk), (drv, spk)
        assert len(rows) == len(drv)
    assert len(drv) == 0
