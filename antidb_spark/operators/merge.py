"""Segment merge: fold one committed index into another, O(src index).

Lucene-style segment merging. The reference rebuilds its archive from
scratch for any corpus change (idx.py:85-92); at the 10^12-turn design
point, sub-corpora are indexed independently (per day, per shard, per
tenant) and folded together WITHOUT re-tokenizing: ``merge_index``
appends the source index's packed block files to the destination with
the source doc ordinals shifted past the destination's max.

Why this is cheap: packed posting payloads are delta-encoded with the
block's FIRST ordinal absolute and every later doc a gap
(``functions/packing.pack_postings``), so a uniform ordinal shift
rewrites only the head varint of each block — a few bytes per ~128-doc
block; gaps, tf/dl payloads and position payloads are untouched.
The remap runs as one ``mapInArrow`` pass over the source blocks scan:
one head rewrite per block and no re-encode, where the build's
``_pack_partition`` encodes every posting, one whole Arrow batch at a
time.

Contract (mirrors the streaming append path in
``streaming/incremental.py``):

- The two doc sets must be DISJOINT (checked with one docmap join):
  an overlapping doc would change dl inside packed postings — that is
  the full-rebuild case, and the merge raises instead of guessing.
- No committed destination file is ever touched; appended blocks get a
  fresh ``run_base`` so block_ids cannot collide. terms df sums and
  stats recompute the batch way (exact equivalence with a from-scratch
  build over the union), via crash-atomic ``Catalog.replace``.
- Ordinal-order caveat, same as appends: merged ordinals are dense but
  id-ordered only per segment, so score TIES may break differently
  than a from-scratch build unless the segments are id-range-disjoint
  in order (the natural time/shard split), in which case results are
  identical including ties.
- Side layers: ``pos_blocks`` merges when BOTH sides committed it
  (same head-varint remap); ``docmeta`` merges when both sides
  committed it with the same meta_cols. Otherwise the destination's
  layer is INVALIDATED (dropped + unmarked) rather than silently
  serving results that miss merged docs.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from antidb_spark.functions.packing import varint_decode, varint_encode
from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES


def _shift_head(buf: bytes, offset: int) -> bytes:
    """Rewrite the first varint of a delta-packed doc stream by
    ``+offset`` (the block's absolute first ordinal); later bytes are
    gaps and stay byte-identical."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    end = int(np.flatnonzero((raw & 0x80) == 0)[0])
    first = int(varint_decode(buf[: end + 1])[0])
    head = varint_encode(np.array([first + offset], dtype=np.uint64))
    return head + buf[end + 1 :]


def _remap_partition(
    batches: Iterator[pa.RecordBatch], offset: int, run_base: int
) -> Iterator[pa.RecordBatch]:
    """Shift one partition of source blocks, Arrow batches in and out:
    docs_packed head varint, min/max ordinal metadata, and a fresh
    collision-free block_id (``run_base | pid << 32 | seq`` — the
    build's layout)."""
    seq = 0
    pid = None
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        if pid is None:
            pid = batch.column("_pid")[0].as_py()
        cols = {c: batch.column(c) for c in batch.schema.names if c != "_pid"}
        cols["docs_packed"] = pa.array(
            [_shift_head(b, offset) for b in cols["docs_packed"].to_pylist()],
            pa.binary())
        for c in ("min_ord", "max_ord"):
            cols[c] = np.asarray(cols[c]) + offset
        cols["block_id"] = run_base | (pid << 32) | np.arange(
            seq, seq + n, dtype=np.int64)
        seq += n
        yield pa.RecordBatch.from_pydict(cols)


def _remapped(src, table: str, offset: int, run_base: int):
    """``src``'s committed block ``table`` through ``_remap_partition``,
    one scan partition per pid."""
    return (
        src.catalog.read(table)
        .withColumn("_pid", F.spark_partition_id())
        .mapInArrow(
            partial(_remap_partition, offset=offset, run_base=run_base),
            schema=src.catalog.spark_schema(table),
        )
    )


def merge_index(
    spark: SparkSession,
    dst,
    src,
    n_partitions: int | None = None,
) -> dict[str, Any]:
    """Fold ``src``'s committed index into ``dst``'s (both
    ``IndexBuilder``s over committed roots). Returns a summary dict.
    ``n_partitions`` is unused: the remap keeps the source scan's
    partitions."""
    if tuple(dst.id_cols) != tuple(src.id_cols):
        raise ValueError(
            f"id_cols differ: {dst.id_cols} vs {src.id_cols}"
        )
    for side, b in (("dst", dst), ("src", src)):
        if not b.catalog.exists("blocks"):
            raise ValueError(f"{side} index has no committed blocks")
    id_cols = list(dst.id_cols)

    dst_docmap = dst.catalog.read("docmap")
    src_docmap = src.catalog.read("docmap")
    n_overlap = src_docmap.select(*id_cols).join(
        dst_docmap.select(*id_cols), id_cols
    ).count()
    if n_overlap:
        raise ValueError(
            f"{n_overlap} docs exist in both indexes; merge requires "
            "disjoint doc sets (rebuild over the union instead)"
        )

    offset = int(
        max(
            e["max_doc_ord"]
            for e in dst.catalog.manifest("docmap")["files"]
            if e.get("max_doc_ord") is not None
        )
    ) + 1

    # docmap: append with shifted ordinals
    dst.catalog.write(
        src_docmap.withColumn("doc_ord", F.col("doc_ord") + F.lit(offset)),
        "docmap", stats_cols=["doc_ord", dst.id_cols[0]],
        mode="append",
    )

    # terms: df sums (full outer — either side may own a term alone)
    merged_terms = (
        dst.catalog.read("terms").withColumnRenamed("df", "df_a")
        .join(
            src.catalog.read("terms").withColumnRenamed("df", "df_b"),
            "term", "full_outer",
        )
        .select(
            "term",
            (
                F.coalesce(F.col("df_a"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            ).alias("df"),
        )
    )
    dst.catalog.replace(merged_terms, "terms", stats_cols=["term"],
                        row_group_bytes=LEAF_ROW_GROUP_BYTES)

    # stats: recomputed the batch way over the merged docmap (exact
    # equivalence with a from-scratch build over the union); sum_dl
    # rides along so later appends stay O(delta)
    stats = dst.catalog.read("docmap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("sum_dl"),
    )
    dst.catalog.replace(stats, "stats")

    # blocks: head-varint remap, fresh run_base, appended files only
    n_runs = int(dst.catalog.manifest("blocks")["props"].get("n_runs", 1))
    remapped = _remapped(src, "blocks", offset, n_runs << 48)
    dst.catalog.write(
        remapped, "blocks", stats_cols=["term"], mode="append",
        props={"n_runs": n_runs + 1},
        row_group_bytes=LEAF_ROW_GROUP_BYTES,
    )

    # positional layer: merge when both sides have it, else invalidate
    pos_mode = "absent"
    if dst.catalog.exists("pos_blocks"):
        if src.catalog.exists("pos_blocks"):
            pn_runs = int(
                dst.catalog.manifest("pos_blocks")["props"].get("n_runs", 1)
            )
            pos_remapped = _remapped(src, "pos_blocks", offset,
                                     pn_runs << 48)
            dst.catalog.write(
                pos_remapped, "pos_blocks", stats_cols=["term"],
                mode="append", props={"n_runs": pn_runs + 1},
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
            pos_mode = "merged"
        else:
            dst.catalog.drop("pos_blocks")
            pos_mode = "invalidated"

    # docmeta: merge only on identical meta_cols, else invalidate
    meta_mode = "absent"
    if dst.catalog.exists("docmeta"):
        same_meta = (
            src.catalog.exists("docmeta")
            and src.catalog.manifest("docmeta")["props"].get("meta_cols")
            == dst.catalog.manifest("docmeta")["props"].get("meta_cols")
        )
        if same_meta:
            dst.catalog.write(
                src.catalog.read("docmeta").withColumn(
                    "doc_ord", F.col("doc_ord") + F.lit(offset)
                ),
                "docmeta", stats_cols=["doc_ord"], mode="append",
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
            meta_mode = "merged"
        else:
            dst.catalog.drop("docmeta")
            meta_mode = "invalidated"

    # tombstones: dst's stay valid (its ordinals never move); src's
    # shift by the same offset as its docs — deletes survive the merge
    tomb_mode = "absent"
    src_tomb = src._tombstones_df()
    if src_tomb is not None:
        dst.catalog.write(
            src_tomb.withColumn("doc_ord", F.col("doc_ord") + F.lit(offset)),
            "tombstones", stats_cols=["doc_ord"], mode="append",
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
        )
        tomb_mode = "merged"
    elif dst._n_tombstones():
        tomb_mode = "kept"

    return {
        "mode": "merge",
        "offset": offset,
        "pos_blocks": pos_mode,
        "docmeta": meta_mode,
        "tombstones": tomb_mode,
    }
