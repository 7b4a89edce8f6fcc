"""Snapshot history, time travel, restore, and expiry (Iceberg parity).

Contract (sources/catalog.py): every commit lands in the snapshot log
with a parent link; ``read``/``read_at`` resolve through the manifest's
explicit file list (uncommitted files are invisible — the isolation the
reference gets from writing the B+tree root last, idx.py:260-261);
``restore`` re-heads an old snapshot non-destructively; append commits
harvest only the delta's footers (O(delta) metadata, carried entries
byte-identical); ``expire_snapshots`` bounds retention and reclaims
files no retained snapshot references. Builder level: ``pin`` +
``rollback`` revert a whole index across an upsert, caches included.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from antidb_spark.err import SnapshotExpiredError, UnknownSnapshotError
from antidb_spark.operators.build import IndexBuilder
from antidb_spark.sources.catalog import Catalog
from antidb_spark.synth import synth_transcripts, vocabulary


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def _t(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def test_time_travel_read_and_history(spark, cat):
    m1 = cat.write(_t(spark, 0, 5), "t", stats_cols=["k"])
    m2 = cat.write(_t(spark, 5, 8), "t", stats_cols=["k"], mode="append")
    assert cat.read("t").count() == 8
    assert cat.read_at("t", m1["snapshot_id"]).count() == 5
    assert cat.read_at("t", m2["snapshot_id"]).count() == 8
    hist = cat.history("t")
    assert [h["op"] for h in hist] == ["write", "append"]
    assert hist[1]["parent_id"] == m1["snapshot_id"]
    assert hist[0]["parent_id"] is None
    with pytest.raises(UnknownSnapshotError):
        cat.read_at("t", "deadbeef")


def test_uncommitted_files_invisible(spark, cat):
    cat.write(_t(spark, 0, 5), "t")
    # crashed append: parquet files land in the data dir, no commit
    _t(spark, 100, 104).write.mode("append").parquet(
        os.path.join(cat.table_dir("t"), "data")
    )
    assert cat.read("t").count() == 5
    # and the NEXT committed append does not resurrect them
    cat.write(_t(spark, 5, 7), "t", mode="append")
    assert cat.read("t").count() == 7


def test_append_harvest_is_incremental(spark, cat):
    m1 = cat.write(_t(spark, 0, 5), "t", stats_cols=["k"])
    m2 = cat.write(_t(spark, 5, 8), "t", stats_cols=["k"], mode="append")
    # carried entries are the previous manifest's, byte-identical
    assert m2["files"][: len(m1["files"])] == m1["files"]
    new = m2["files"][len(m1["files"]):]
    assert new and all(e["min_k"] >= 5 for e in new if e["rows"])
    # file-stat pruning still sees every file
    assert cat.read_pruned("t", "k", values=[6]).count() >= 1


def test_restore_and_expire(spark, cat):
    m1 = cat.write(_t(spark, 0, 5), "t", stats_cols=["k"])
    m2 = cat.write(_t(spark, 5, 8), "t", stats_cols=["k"], mode="append")
    m3 = cat.restore("t", m1["snapshot_id"])
    assert m3["op"] == "restore"
    assert m3["parent_id"] == m2["snapshot_id"]
    assert cat.read("t").count() == 5
    # non-destructive: the abandoned branch stays readable…
    assert cat.read_at("t", m2["snapshot_id"]).count() == 8
    # …until expiry reclaims it (head + last-1 retained here)
    rep = cat.expire_snapshots("t", keep_last=1)
    assert rep["expired_snapshots"] >= 1 and rep["removed_files"] >= 1
    with pytest.raises((UnknownSnapshotError, SnapshotExpiredError)):
        cat.read_at("t", m2["snapshot_id"]).count()
    assert cat.read("t").count() == 5  # head intact
    # appending after a restore extends the restored line only
    cat.write(_t(spark, 20, 22), "t", stats_cols=["k"], mode="append")
    assert cat.read("t").count() == 7


def test_replace_retains_all_pinned_generations(spark, cat):
    """Generation GC is deferred to expire_snapshots: a snapshot pinned
    BEFORE two replace-bearing mutations stays readable and restorable
    (the multi-snapshot retention contract restore() documents)."""
    m1 = cat.replace(_t(spark, 0, 5), "t", stats_cols=["k"])
    cat.replace(_t(spark, 10, 20), "t", stats_cols=["k"])
    cat.replace(_t(spark, 30, 45), "t", stats_cols=["k"])
    # two replaces later, the original snapshot is intact…
    assert cat.read_at("t", m1["snapshot_id"]).count() == 5
    # …and restorable
    cat.restore("t", m1["snapshot_id"])
    assert cat.read("t").count() == 5
    # expire with keep_last=1 reclaims the abandoned generations
    cat.expire_snapshots("t", keep_last=1)
    gens = [d for d in os.listdir(cat.table_dir("t"))
            if d == "data" or d.startswith("data-")]
    assert len(gens) == 1  # only the restored head's generation survives
    assert cat.read("t").count() == 5


def test_append_inherits_stats_cols(spark, cat):
    """A bare append must not reset the table's stats columns — doing so
    would disable manifest file pruning for ALL files (ADVICE r4)."""
    cat.write(_t(spark, 0, 5), "t", stats_cols=["k"])
    m2 = cat.write(_t(spark, 5, 8), "t", mode="append")  # no stats_cols
    assert m2["stats_cols"] == ["k"]
    new = [e for e in m2["files"] if e["rows"] and e.get("min_k", 0) >= 5]
    assert new, "delta files were harvested with the inherited stats col"
    assert cat.read_pruned("t", "k", values=[6]).count() >= 1


def test_expire_aborts_on_unreadable_retained_snapshot(spark, cat):
    """A retained snapshot whose manifest can't be parsed must abort the
    sweep — a metadata read error must never become data loss."""
    m1 = cat.write(_t(spark, 0, 5), "t", stats_cols=["k"])
    cat.write(_t(spark, 5, 8), "t", stats_cols=["k"], mode="append")
    spath = os.path.join(cat.table_dir("t"), "_snapshots",
                         f"{m1['snapshot_id']}.json")
    with open(spath, "w") as f:
        f.write("{corrupt")
    with pytest.raises(RuntimeError, match="unreadable"):
        cat.expire_snapshots("t", keep_last=3)
    assert cat.read("t").count() == 8  # nothing was deleted


def test_partitioned_table_keeps_partition_columns(spark, cat):
    """Explicit-file-list reads anchor at the generation dir via
    basePath, so Hive partition columns survive (ADVICE r4)."""
    from pyspark.sql import functions as F

    df = _t(spark, 0, 10).withColumn("p", (F.col("k") % 2).cast("int"))
    cat.write(df, "t", partition_by=["p"])
    got = cat.read("t")
    assert "p" in got.columns
    assert got.filter(F.col("p") == 1).count() == 5


def test_head_reads_infer_each_schema_once(spark, cat):
    """A catalog infers a table's Spark schema once per head arrow
    schema: a second read defines its scan with no Spark job, a replace
    that adds a column shows it on the next read, a time-travel read of
    the older snapshot keeps that snapshot's columns, and a partitioned
    table keeps its partition column on a cached-schema read."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    m1 = cat.write(_t(spark, 0, 5), "t")
    assert cat.read("t").columns == ["k"]
    sc.setJobGroup("second_read", "second read")
    try:
        again = cat.read("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("second_read") == []
    assert again.count() == 5
    cat.replace(_t(spark, 0, 5).withColumn("x", F.col("k") * 2), "t")
    assert cat.read("t").columns == ["k", "x"]
    assert cat.read_at("t", m1["snapshot_id"]).columns == ["k"]
    df = _t(spark, 0, 10).withColumn("p", (F.col("k") % 2).cast("int"))
    cat.write(df, "part", partition_by=["p"])
    cat.read("part")  # caches the schema
    got = cat.read("part")
    assert "p" in got.columns
    assert got.filter(F.col("p") == 1).count() == 5


def test_snapshot_log_files_on_disk(spark, cat):
    m1 = cat.write(_t(spark, 0, 3), "t")
    sdir = os.path.join(cat.table_dir("t"), "_snapshots")
    snap = json.load(open(os.path.join(sdir, f"{m1['snapshot_id']}.json")))
    assert snap["files"] == m1["files"]
    # head manifest and snapshot copy agree
    assert cat.manifest("t")["snapshot_id"] == m1["snapshot_id"]


def test_builder_pin_rollback_across_upsert(spark, tmp_path):
    """An upsert gone wrong is fully revertible: pin → upsert →
    rollback returns every query surface to the pre-upsert state
    (results AND statistics), with driver caches flushed."""
    v = vocabulary(5000)
    corpus = synth_transcripts(spark, n_convs=12, seed=3).cache()
    b = IndexBuilder(spark, str(tmp_path / "idx"))
    b.build(corpus, n_partitions=4)
    query = f"the {v[200]} {v[1000]}"
    pre = b.query_pinned(query, k=20).toPandas()
    pre_warm = b.query_warm(query, k=20)
    pins = b.pin()
    assert set(pins) >= {"docmap", "blocks", "terms", "stats"}

    present = set()
    for t in corpus.toPandas()["text"]:
        present.update(t.split())
    sent = next(w for w in v[4000:] if w not in present)
    top = pre.iloc[0]
    b.upsert_docs(
        spark.createDataFrame(pd.DataFrame([{
            "conv_id": str(top.conv_id), "turn_idx": int(top.turn_idx),
            "role": "tool", "text": f"{sent} {sent} {v[600]}",
        }])),
        n_partitions=4,
    )
    assert len(b.query_pinned(sent, k=10).toPandas()) == 1  # visible

    b.rollback(pins)
    post = b.query_pinned(query, k=20).toPandas()
    pd.testing.assert_frame_equal(pre, post)
    assert len(b.query_pinned(sent, k=10).toPandas()) == 0  # gone
    # warm tier serves the restored snapshot too (caches invalidated)
    post_warm = b.query_warm(query, k=20)
    pd.testing.assert_frame_equal(
        pre_warm.reset_index(drop=True), post_warm.reset_index(drop=True)
    )
    # tombstones born after the pin were dropped outright
    assert not b.catalog.exists("tombstones")
    corpus.unpersist()


def test_rollback_checks_every_pin_before_moving_a_head(spark, tmp_path):
    """A pin that can no longer be restored — here docmeta, dropped by
    an upsert whose rows lack its column — fails the whole rollback
    before any head moves, instead of half-way after the base tables
    were already restored."""
    corpus = synth_transcripts(spark, n_convs=6, seed=9)
    b = IndexBuilder(spark, str(tmp_path / "idx"))
    b.build(corpus, n_partitions=2)
    b.build_doc_meta(corpus, ["role"])
    pins = b.pin()
    assert "docmeta" in pins
    top = corpus.select("conv_id", "turn_idx").orderBy(
        "conv_id", "turn_idx").first()
    b.upsert_docs(spark.createDataFrame(pd.DataFrame([{
        "conv_id": top["conv_id"], "turn_idx": int(top["turn_idx"]),
        "text": "replaced without its role",
    }])))
    assert not b.catalog.exists("docmeta")
    heads = b.pin()
    with pytest.raises(UnknownSnapshotError):
        b.rollback(pins)
    assert b.pin() == heads


def test_commit_cost_does_not_grow_with_history(cat, monkeypatch):
    """A commit appends one snapshot-log row and reads no snapshot: after
    200 commits, a replace and an append open the same files as they did
    after 1 — no ``_snapshots/*.json``, the log only to append to it —
    and the log still lists every commit until expiry trims it."""
    import pyarrow as pa

    from antidb_spark.sources import catalog as catalog_mod

    opened = []

    def spy(path, *a, **k):
        opened.append((str(path), a[0] if a else k.get("mode", "r")))
        return open(path, *a, **k)

    def replace_and_append():
        monkeypatch.setattr(catalog_mod, "open", spy, raising=False)
        opened.clear()
        cat.replace(pa.table({"k": [1, 2]}), "t", stats_cols=["k"])
        cat.write(pa.table({"k": [3]}), "t", mode="append")
        monkeypatch.delattr(catalog_mod, "open")
        return list(opened)

    cat.write(pa.table({"k": [0]}), "t", stats_cols=["k"])
    early = replace_and_append()
    for i in range(197):
        cat.replace(pa.table({"k": [i]}), "t", stats_cols=["k"])
    late = replace_and_append()  # the 201st and 202nd commits
    assert len(late) == len(early)
    assert not [p for p, _ in late
                if os.path.basename(os.path.dirname(p)) == "_snapshots"
                and p.endswith(".json")]
    assert [m for p, m in late if p.endswith("_history.jsonl")] == ["a"] * 2
    hist = cat.history("t")
    assert len({h["snapshot_id"] for h in hist}) == len(hist) == 202
    assert [h["op"] for h in hist[-2:]] == ["replace", "append"]
    assert hist[-1]["parent_id"] == hist[-2]["snapshot_id"]
    cat.expire_snapshots("t", keep_last=1)
    assert [h["snapshot_id"] for h in cat.history("t")] == [
        hist[-1]["snapshot_id"]]
    gens = [d for d in os.listdir(cat.table_dir("t"))
            if d == "data" or d.startswith("data-")]
    assert len(gens) == 1
    assert sorted(cat.read_arrow("t")["k"].to_pylist()) == [1, 2, 3]


def test_history_skips_a_torn_row(spark, cat):
    """A crash mid-append can leave a partial last row in the log: the
    next commit's row still reads back, and the torn one is skipped."""
    m1 = cat.write(_t(spark, 0, 3), "t")
    with open(os.path.join(cat.table_dir("t"), "_history.jsonl"), "a") as f:
        f.write('\n{"snapshot_id": "torn')
    m2 = cat.write(_t(spark, 3, 5), "t", mode="append")
    assert [h["snapshot_id"] for h in cat.history("t")] == [
        m1["snapshot_id"], m2["snapshot_id"]]
