"""Incremental index maintenance over Structured Streaming.

The reference is single-shot batch (SURVEY §1.4); this module is the
engine's forward extension (§7.6) for transcript streams: new turns
arrive continuously, postings deltas are appended exactly-once, and a
periodic compaction folds deltas into the packed block index.

Design (idiomatic Structured Streaming):

- ``stream_postings``: the SAME tokenize→explode→(term, id, tf) plan as
  batch — stateless narrow ops, so it runs unchanged on a streaming
  DataFrame (shared-analyzer invariant extends to streams).
- ``PostingsDeltaSink``: a ``foreachBatch`` sink appending per-batch
  postings to a ``postings_delta`` catalog table, partitioned by
  ``batch_id``. Exactly-once: ``foreachBatch`` can re-deliver a batch
  after recovery, so the sink skips batch_ids already recorded in the
  checkpoint ledger (idempotent sink + replayable source = the
  streaming analog of the build's resume protocol).
- ``compact``: merges main postings + all deltas, re-aggregates tf
  (a doc's turns may span batches — tf sums associatively), and runs
  the ordinary ``IndexBuilder`` over the merged relation into a fresh
  index root (the full, from-scratch level).
- ``compact_incremental``: the O(delta) level — appends new-doc
  docmap/block/pos_block FILES to the committed index (no
  existing block file is touched; stats-independent block metadata
  keeps them valid as corpus stats drift), rewrites only the small
  terms/stats tables, and retires consumed delta batches in the sink
  ledger; falls back to the full rebuild when a delta mutates an
  already-indexed doc. The sink persists row-level position deltas
  beside tf deltas, so the positional layer appends O(delta) too.
- ``turn_rates``: watermarked tumbling-window aggregate (turns/min per
  role) — late data beyond the watermark is dropped, demonstrating the
  engine's event-time handling on the ``ts`` column.

Scale notes: delta append is a map-only job per micro-batch (one
shuffle for the per-batch tf groupBy, bounded by batch size, never by
corpus size); compaction cost is proportional to total postings and
runs out-of-band. No driver-side state beyond the batch ledger.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import tokens
from antidb_spark.schema import DOC_ID_COLS


def stream_postings(
    stream: DataFrame, id_cols=DOC_ID_COLS, text_col: str = "text"
) -> DataFrame:
    """Streaming (term, *id_cols, tf) — same plan as the batch builder."""
    return (
        stream.select(*id_cols, F.explode(tokens(text_col)).alias("term"))
        .groupBy("term", *id_cols)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


class PostingsDeltaSink:
    """Exactly-once foreachBatch sink for postings deltas.

    ``meta_cols`` (e.g. ``["role", "ts"]``) additionally persists
    per-doc metadata rows each batch, which is what lets
    ``compact_incremental`` append the ``docmeta`` filtered-search
    table O(delta); without them a compaction INVALIDATES docmeta
    (filtered queries raise until ``build_doc_meta`` re-runs) rather
    than silently serving filtered results that miss appended docs."""

    def __init__(
        self,
        root: str,
        id_cols=DOC_ID_COLS,
        text_col: str = "text",
        meta_cols=None,
    ):
        self.root = root
        self.id_cols = list(id_cols)
        self.text_col = text_col
        self.meta_cols = list(meta_cols) if meta_cols else []
        self.delta_dir = os.path.join(root, "postings_delta")
        self.pos_dir = os.path.join(root, "positions_delta")
        self.meta_dir = os.path.join(root, "meta_delta")
        self.ledger = os.path.join(root, "_delta_ledger.json")
        os.makedirs(self.delta_dir, exist_ok=True)
        os.makedirs(self.pos_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    def _ledger(self) -> dict:
        if not os.path.exists(self.ledger):
            return {"batches": [], "compacted": []}
        with open(self.ledger) as f:
            d = json.load(f)
        d.setdefault("compacted", [])
        return d

    def committed_batches(self) -> set[int]:
        return set(self._ledger()["batches"])

    def uncompacted_batches(self) -> set[int]:
        d = self._ledger()
        return set(d["batches"]) - set(d["compacted"])

    def mark_compacted(self, batch_ids: set[int]) -> None:
        d = self._ledger()
        d["compacted"] = sorted(set(d["compacted"]) | set(batch_ids))
        tmp = self.ledger + ".tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, self.ledger)

    def _record(self, batch_id: int, rows: int) -> None:
        d = self._ledger()
        d["batches"] = sorted(set(d["batches"]) | {batch_id})
        d["last_rows"] = rows
        tmp = self.ledger + ".tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, self.ledger)  # atomic commit, data written first

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed_batches():
            return  # re-delivered after recovery → idempotent skip
        # positions delta: row-level (term, *id, pos) — a MAP-ONLY job
        # (no aggregation), bounded by batch size. Persisting positions
        # here is what lets compact_incremental append pos_blocks runs
        # O(delta) instead of invalidating the positional layer.
        posd = batch_df.select(
            *self.id_cols,
            F.posexplode(tokens(self.text_col)).alias("pos", "term"),
        ).select("term", *self.id_cols, "pos")
        pout = os.path.join(self.pos_dir, f"batch_id={batch_id}")
        posd.write.mode("overwrite").option("compression", "zstd").parquet(
            pout
        )
        if self.meta_cols:
            meta = batch_df.select(
                *self.id_cols, *self.meta_cols
            ).dropDuplicates(self.id_cols)
            mout = os.path.join(self.meta_dir, f"batch_id={batch_id}")
            meta.write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(mout)
        post = (
            batch_df.select(
                *self.id_cols, F.explode(tokens(self.text_col)).alias("term")
            )
            .groupBy("term", *self.id_cols)
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        out = os.path.join(self.delta_dir, f"batch_id={batch_id}")
        post.write.mode("overwrite").option("compression", "zstd").parquet(out)
        self._record(batch_id, -1)  # ledger LAST: both deltas re-deliverable

    def deltas(
        self,
        spark: SparkSession,
        batch_ids: set[int] | None = None,
        tag_batch: bool = False,
    ) -> DataFrame | None:
        """Committed delta postings; ``batch_ids`` restricts to a subset
        (incremental compaction reads only not-yet-compacted batches).
        ``tag_batch`` adds a ``_batch`` column (which micro-batch
        delivered the row — what upsert-mode compaction's last-writer-
        wins filter keys on)."""
        pairs = [
            (int(d.split("=", 1)[1]), os.path.join(self.delta_dir, d))
            for d in sorted(os.listdir(self.delta_dir))
            if d.startswith("batch_id=")
            and (
                batch_ids is None
                or int(d.split("=", 1)[1]) in batch_ids
            )
        ]
        if not pairs:
            return None
        if not tag_batch:
            return spark.read.parquet(*[p for _, p in pairs]).select(
                "term", *self.id_cols, "tf"
            )
        return self._union_tagged(
            spark, pairs, ["term", *self.id_cols, "tf"]
        )

    @staticmethod
    def _union_tagged(spark, pairs, cols) -> DataFrame:
        out = None
        for bid, path in pairs:
            part = spark.read.parquet(path).select(*cols).withColumn(
                "_batch", F.lit(bid)
            )
            out = part if out is None else out.unionByName(part)
        return out

    def pos_deltas(
        self,
        spark: SparkSession,
        batch_ids: set[int] | None = None,
        tag_batch: bool = False,
    ) -> DataFrame | None:
        """Committed row-level position deltas (term, *id_cols, pos) for
        ``batch_ids``. Returns None when ANY requested batch lacks a
        positions dir (a sink upgraded mid-stream has tf deltas without
        positions for old batches) — the caller must then invalidate the
        positional layer instead of appending a hole into it.
        ``tag_batch`` adds a ``_batch`` column."""
        want = batch_ids if batch_ids is not None else self.committed_batches()
        have = {
            int(d.split("=", 1)[1])
            for d in os.listdir(self.pos_dir)
            if d.startswith("batch_id=")
        }
        if not want or not want <= have:
            return None
        pairs = [
            (b, os.path.join(self.pos_dir, f"batch_id={b}"))
            for b in sorted(want)
        ]
        if not tag_batch:
            return spark.read.parquet(*[p for _, p in pairs]).select(
                "term", *self.id_cols, "pos"
            )
        return self._union_tagged(
            spark, pairs, ["term", *self.id_cols, "pos"]
        )

    def meta_deltas(
        self,
        spark: SparkSession,
        batch_ids: set[int] | None = None,
        tag_batch: bool = False,
    ) -> DataFrame | None:
        """Committed per-doc metadata deltas (*id_cols, *meta_cols) for
        ``batch_ids``; None when ANY requested batch lacks one (same
        all-or-invalidate contract as ``pos_deltas``). Deduplicated on
        id_cols across batches — a doc re-delivered in a later batch
        keeps its first metadata row (metadata is per-doc-constant).
        ``tag_batch`` skips the dedup and adds ``_batch`` instead, so
        upsert-mode compaction can keep the LAST delivery's row."""
        want = batch_ids if batch_ids is not None else self.committed_batches()
        have = {
            int(d.split("=", 1)[1])
            for d in os.listdir(self.meta_dir)
            if d.startswith("batch_id=")
        }
        if not want or not want <= have:
            return None
        pairs = [
            (b, os.path.join(self.meta_dir, f"batch_id={b}"))
            for b in sorted(want)
        ]
        if not tag_batch:
            return spark.read.parquet(
                *[p for _, p in pairs]
            ).dropDuplicates(self.id_cols)
        cols = [*self.id_cols, *self.meta_cols]
        return self._union_tagged(spark, pairs, cols)


def run_ingestion(
    stream: DataFrame,
    sink: PostingsDeltaSink,
    checkpoint_dir: str,
) -> Any:
    """Start the ingestion query (availableNow for bounded test runs;
    a production stream drops that trigger)."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact(
    spark: SparkSession,
    sink: PostingsDeltaSink,
    index_root: str,
    base_postings: DataFrame | None = None,
):
    """Fold all deltas (+ optional existing postings) into a fresh packed
    index at ``index_root``; returns the IndexBuilder over it."""
    from antidb_spark.operators.build import IndexBuilder

    parts = [d for d in (base_postings, sink.deltas(spark)) if d is not None]
    if not parts:
        raise ValueError("nothing to compact")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    postings = merged.groupBy("term", *sink.id_cols).agg(
        F.sum("tf").alias("tf")
    )
    b = IndexBuilder(spark, index_root, id_cols=sink.id_cols)
    # hand the builder pre-tokenized postings: write stage 0 directly,
    # then let the normal resumable pipeline derive the rest
    if not (b.catalog.exists("postings") or b.catalog.exists("blocks")):
        b.catalog.write(postings, "postings")
    b.build(corpus=None)
    return b


def compact_incremental(
    spark: SparkSession,
    sink: PostingsDeltaSink,
    builder,
    n_partitions: int | None = None,
    update_mode: str = "rebuild",
) -> dict:
    """Fold NOT-YET-COMPACTED deltas into an already-committed index,
    O(delta) instead of O(total index).

    Append path (every delta doc is NEW — the streaming norm: new turns
    / new conversations): appends files to the docmap, blocks, and
    pos_blocks tables (never touching a committed block file —
    appended blocks get a fresh ``run_base`` so block_ids can't collide, and
    block metadata is stats-independent so existing blocks stay valid
    as df/avgdl/N grow), renumbers only the new docs after the
    committed max ordinal, and rewrites just the small metadata tables
    (terms, stats).

    ``update_mode`` picks what happens when a delta touches an EXISTING
    doc (its dl — packed into every one of its postings — would change):

    - ``"rebuild"`` (default): FULL rebuild, ADDITIVE tf semantics —
      the delta's rows merge into the doc's committed content (a doc's
      turns may arrive as fragments across batches). O(total index).
      The positional and docmeta layers drop before its stage-0
      ``postings`` write; a crash after that write is finished by
      ``IndexBuilder.build(None)``.
    - ``"upsert"``: REPLACE semantics, O(delta) — each delivered doc's
      content is taken whole from its LAST delivering micro-batch
      (last-writer-wins within the window), prior generations are
      tombstoned (``delete_docs``), and everything appends as fresh
      ordinals via the shared upsert core. Ranking statistics keep
      counting the dead generations until ``purge_deleted`` (the
      documented upsert visibility contract, operators/upsert.py).

    Falls back to the full batch build when the builder has no
    committed index yet (either mode).

    Not crash-atomic across tables (single-writer batch context, same
    as the reference's build); exactly-once ACROSS compactions comes
    from the sink's compacted-batch ledger. Returns {"mode":
    "append"|"upsert"|"full"|"noop", ...}.
    """
    from antidb_spark.operators.build import IndexBuilder
    from antidb_spark.operators.upsert import append_run

    if update_mode not in ("rebuild", "upsert"):
        raise ValueError(f"unknown update_mode {update_mode!r}")
    b: IndexBuilder = builder
    todo = sink.uncompacted_batches()
    delta = sink.deltas(spark, todo)
    if delta is None or not todo:
        return {"mode": "noop"}
    n_part = n_partitions or spark.sparkContext.defaultParallelism
    delta_post = delta.groupBy("term", *sink.id_cols).agg(
        F.sum("tf").alias("tf")
    )

    if not b.catalog.exists("blocks"):
        # no committed index yet → this IS the initial batch build
        compact(spark, sink, b.root)
        sink.mark_compacted(todo)
        return {"mode": "full", "reason": "no committed index"}

    docmap = b.catalog.read("docmap")
    delta_ids = delta_post.select(*sink.id_cols).distinct()
    n_updates = delta_ids.join(docmap, sink.id_cols).count()

    if update_mode == "upsert":
        # REPLACE semantics, O(delta): last-writer-wins within the
        # window (each doc's content comes whole from its highest
        # delivering batch), old generations tombstoned, everything
        # appended as fresh ordinals — no committed file touched.
        tagged = sink.deltas(spark, todo, tag_batch=True)
        last = tagged.groupBy(*sink.id_cols).agg(
            F.max("_batch").alias("_batch")
        )
        key = [*sink.id_cols, "_batch"]
        delta_post = tagged.join(last, key).select(
            "term", *sink.id_cols, "tf"
        )
        n_replaced = 0
        if n_updates > 0:
            # BEFORE the append: delete resolves ids→ordinals via the
            # committed docmap; appending first would tombstone the
            # fresh generation too
            n_replaced = b.delete_docs(
                delta_ids.join(docmap, sink.id_cols, "left_semi")
            )
        pos_delta = None
        if b.catalog.exists("pos_blocks"):
            tp = sink.pos_deltas(spark, todo, tag_batch=True)
            if tp is not None:
                pos_delta = tp.join(last, key).select(
                    "term", *sink.id_cols, "pos"
                )
        meta_delta = None
        if b.catalog.exists("docmeta"):
            tm = sink.meta_deltas(spark, todo, tag_batch=True)
            if tm is not None:
                meta_delta = (
                    tm.join(last, key).drop("_batch")
                    .dropDuplicates(sink.id_cols)
                )
        out = append_run(
            b, delta_post, pos_delta=pos_delta, meta_delta=meta_delta,
            n_partitions=n_part,
        )
        sink.mark_compacted(todo)
        return {
            "mode": "upsert", "n_replaced": n_replaced,
            "batches": sorted(todo), "run": out["run"],
            "pos_mode": out["pos_mode"], "meta_mode": out["meta_mode"],
        }

    if n_updates > 0:
        # full rebuild in place, PURGING tombstoned docs: only alive
        # postings merge (a delta that re-writes a deleted doc
        # re-creates it with the delta's content alone); stage 0 is
        # written before its source tables drop
        merged = (
            b._alive_postings()
            .unionByName(delta_post)
            .groupBy("term", *sink.id_cols)
            .agg(F.sum("tf").alias("tf"))
        )
        # the side layers drop FIRST: the rebuild renumbers doc
        # ordinals and reads neither, and docmeta for pre-existing docs
        # is not in the sink — phrase / filtered queries raise until
        # build_positional_index / build_doc_meta re-run over the
        # corpus. A crash after the postings write resumes with
        # build(None).
        for tbl in ("pos_blocks", "docmeta"):
            b.catalog.drop(tbl)
        b.catalog.write(merged, "postings")
        for tbl in ("docmap", "stats", "terms", "blocks", "tombstones"):
            b.catalog.drop(tbl)
        b.build(corpus=None, n_partitions=n_part)
        sink.mark_compacted(todo)
        return {"mode": "full", "reason": f"{n_updates} existing docs updated"}

    # ---- append path: every delta doc is new -----------------------------
    pos_delta = (
        sink.pos_deltas(spark, todo) if b.catalog.exists("pos_blocks")
        else None
    )
    meta_delta = (
        sink.meta_deltas(spark, todo) if b.catalog.exists("docmeta")
        else None
    )
    out = append_run(
        b, delta_post, pos_delta=pos_delta, meta_delta=meta_delta,
        n_partitions=n_part,
    )
    sink.mark_compacted(todo)
    return {
        "mode": "append", "batches": sorted(todo), "run": out["run"],
        "pos_mode": out["pos_mode"], "meta_mode": out["meta_mode"],
    }


def turn_rates(
    stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "1 minute",
) -> DataFrame:
    """Watermarked tumbling-window turns-per-window per role; late rows
    beyond the watermark are dropped (event time = ``ts``)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
        )
    )
