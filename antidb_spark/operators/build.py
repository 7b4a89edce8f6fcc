"""Physical index build + indexed query path (SURVEY M2 + M5).

Distributed analog of the reference's ``Idx.idx()`` (idx.py:85-92): one
resumable build job producing four Iceberg-style tables —

- ``docmap``  (doc_ord, *id_cols, dl): doc ordinal ↔ id mapping + doc
  length. Ordinals are dense uint64 assigned in (*id_cols) order, so the
  final rank tiebreak can sort by ordinal alone.
- ``terms``   (term, df): exact document frequencies.
- ``stats``   (n_docs, avgdl): single-row corpus stats.
- ``blocks``  (term, block_id, n_docs, min_ord, max_ord, tfs_front,
  dls_front, docs_packed, tfs_packed, dls_packed): posting lists cut
  into ~128-doc blocks, docID gaps delta+varint-packed into binary
  cells (the reference's zstd-pickled columnar leaves, idx.py:160-173,
  upgraded per the north rule). Pruning metadata is the block's
  STATS-INDEPENDENT (tf, dl) Pareto front; the exact BM25 block max is
  derived at query time from current df/avgdl/N (tfw is monotone ↑tf
  ↓dl, so the max is always on the front), which keeps committed
  blocks valid under incremental appends.

Scale design (10^12 turns, 1000 executors):

- **Doc ordinals without a global window**: the classic two-pass
  zipWithIndex — range-repartition by id, sort within partitions,
  persist (pins partition contents so both passes see identical data),
  count rows per partition (tiny driver-side collect: one row per
  partition), then assign ``offset[pid] + local_pos`` in a single
  mapInPandas. No single-partition global sort anywhere.
- **Skew without salting**: blocks are packed from postings
  range-partitioned by the COMPOSITE key (term, doc_ord). A stopword
  whose posting list spans 10^11 docs is automatically spread across
  many partitions — each partition packs its own run of blocks, and
  block_id embeds the partition id, so no two partitions collide and no
  per-term shuffle ever concentrates a hot term on one task. (SURVEY
  §4.3 proposed salting; ranging on the composite key subsumes it.)
- **Resumable**: each stage commits its table via the catalog's
  manifest-last protocol and records a checkpoint marker + lineage row;
  a restarted build skips committed stages (idx.py:85-92 analog, at
  stage granularity with per-partition durability inside each stage from
  Spark task retry + atomic snapshot commit).
- **Query-time pruning**: file-level min/max skipping on ``term``
  replaces the reference's B+tree descent (prs.py:57-77); block-max
  pruning (M5) then skips blocks that provably cannot contribute a
  top-k document.

Block-max pruning invariant (why skipped blocks cannot hide a winner):
let m(b) = idf · max-over-front tfw — the EXACT max contribution in b
under current stats — M_t = max m over query term t's blocks, and θ =
a LOWER bound on the true k-th best score (from pass-1 exact partial
scores, or from block metadata alone — see _meta_thresholds). A block
b of term t is skipped only when ``m(b) + Σ_{t'≠t} M_{t'} < θ``. Any
doc d with a posting in b has true score ≤ m(b) + Σ_{t'≠t} M_{t'} < θ,
so d cannot be in the top k — hence every true top-k doc has ALL its
blocks decoded and its exact score computed; docs partially scored
because one of their blocks was skipped rank strictly below θ and
cannot displace a winner.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from antidb_spark.functions.analyze import tokens
from antidb_spark.functions.bm25 import contribution
from antidb_spark.functions.packing import (
    pack_postings,
    unpack_postings,
    varint_decode,
    varint_encode,
)
from antidb_spark.operators.stats import build_postings
from antidb_spark.schema import DOC_ID_COLS
from antidb_spark.session import INDEX_SCAN_SPLIT_BYTES, scoped_conf
from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES, Catalog
from antidb_spark.sources.checkpoint import BuildCheckpoint, PhaseTimer

BLOCK_SIZE = 128


def assign_doc_ords(
    docs: DataFrame,
    id_cols: Sequence[str],
    n_partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Dense uint64 ordinals in (*id_cols) order — distributed zipWithIndex.

    Returns the input columns + ``doc_ord`` (long), numbering from
    ``start`` (incremental appends number new docs after the committed
    max). Deterministic for a given input; no global single-partition
    sort.
    """
    spark = docs.sparkSession
    n_part = n_partitions or spark.sparkContext.defaultParallelism
    sorted_df = (
        docs.repartitionByRange(n_part, *id_cols)
        .sortWithinPartitions(*id_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in sorted_df.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = T.StructType(
        list(sorted_df.drop("_pid").schema.fields)
        + [T.StructField("doc_ord", T.LongType(), False)]
    )

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for batch in batches:
            if len(batch) == 0:
                continue  # never init pos from an empty batch (no _pid)
            if pos is None:
                pos = offsets[int(batch["_pid"].iloc[0])]
            batch = batch.drop(columns=["_pid"])
            batch["doc_ord"] = np.arange(pos, pos + len(batch), dtype=np.int64)
            pos += len(batch)
            yield batch

    out = sorted_df.mapInPandas(number, schema=out_schema)
    # caller unpersists after materializing `out` (kept pinned until then
    # so pass 2 sees the exact partition contents pass 1 counted)
    out._ord_source = sorted_df  # type: ignore[attr-defined]
    return out


# Blocks are SELF-CONTAINED: per-posting doc length travels in a third
# varint column (~1 byte/posting), so query-time scoring never joins the
# docmap — the classic impact-style posting design; the only docmap join
# left anywhere is resolving the final k ids.
_BLOCKS_OUT = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("min_ord", T.LongType(), False),
        T.StructField("max_ord", T.LongType(), False),
        T.StructField("tfs_front", T.ArrayType(T.LongType()), False),
        T.StructField("dls_front", T.ArrayType(T.LongType()), False),
        T.StructField("docs_packed", T.BinaryType(), False),
        T.StructField("tfs_packed", T.BinaryType(), False),
        T.StructField("dls_packed", T.BinaryType(), False),
    ]
)

_POSTINGS_OUT = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_ord", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)


def _pack_partition(
    batches: Iterator[pd.DataFrame], run_base: int = 0
) -> Iterator[pd.DataFrame]:
    """Pack one sorted (term, doc_ord) partition into blocks.

    Input batches are Arrow slices of a partition sorted by
    (term, doc_ord); a term's run may span batches, so a per-term
    remainder is carried until the term changes or the partition ends.
    block_id = run_base | pid << 32 | seq keeps ids unique without
    coordination (run_base = compaction run number << 48, so appended
    runs never collide with committed blocks).
    """
    pending: pd.DataFrame | None = None
    seq = 0
    pid = None

    def cut(frame: pd.DataFrame, flush: bool) -> Iterator[tuple]:
        nonlocal seq
        for term, grp in frame.groupby("term", sort=False):
            is_last_term = term == frame["term"].iloc[-1]
            n_full = len(grp) // BLOCK_SIZE
            end = len(grp) if (flush or not is_last_term) else n_full * BLOCK_SIZE
            for s in range(0, end, BLOCK_SIZE):
                chunk = grp.iloc[s : s + BLOCK_SIZE]
                if not (flush or not is_last_term) and len(chunk) < BLOCK_SIZE:
                    break
                ords = chunk["doc_ord"].to_numpy(dtype=np.int64)
                tfs = chunk["tf"].to_numpy(dtype=np.int64)
                dls = chunk["dl"].to_numpy(dtype=np.int64)
                docs_b, tfs_b = pack_postings(
                    ords.astype(np.uint64), tfs.astype(np.uint64)
                )
                dls_b = varint_encode(dls.astype(np.uint64))
                # (tf, dl) Pareto front: tfw is monotone ↑tf ↓dl for ANY
                # avgdl, so the block's exact max contribution is always
                # achieved at a front point — exact, stats-independent
                # block-max metadata (front is tiny, typically ≤ 5 pts)
                order = np.lexsort((dls, -tfs))
                sdl = dls[order]
                prev_min = np.concatenate(
                    ([np.iinfo(np.int64).max],
                     np.minimum.accumulate(sdl)[:-1])
                )
                keep = sdl < prev_min
                yield (
                    term,
                    run_base | (pid << 32) | seq,
                    len(chunk),
                    int(ords[0]),
                    int(ords[-1]),
                    tfs[order][keep].tolist(),
                    sdl[keep].tolist(),
                    docs_b,
                    tfs_b,
                    dls_b,
                )
                seq += 1

    for batch in batches:
        if len(batch) == 0:
            continue
        if pid is None:
            pid = int(batch["_pid"].iloc[0])
        frame = batch if pending is None else pd.concat([pending, batch])
        last_term = frame["term"].iloc[-1]
        rows = list(cut(frame, flush=False))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in _BLOCKS_OUT.fields])
        # keep the unpacked tail of the last term for the next batch
        tail = frame[frame["term"] == last_term]
        n_packed = (len(tail) // BLOCK_SIZE) * BLOCK_SIZE
        pending = tail.iloc[n_packed:] if n_packed < len(tail) else None
    if pending is not None and len(pending):
        rows = list(cut(pending, flush=True))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in _BLOCKS_OUT.fields])


def _decode_batch(batch: pd.DataFrame) -> tuple[np.ndarray, ...]:
    """Vectorized whole-batch block decode → (term_rep, ords, tfs, dls).

    One varint pass over the CONCATENATED buffers of all blocks in the
    Arrow batch (instead of a per-block Python loop), then segment-wise
    delta reconstruction: with cs = global cumsum of deltas and
    excl = cs - deltas (exclusive prefix), the absolute ordinal at
    position i of a block starting at s is cs[i] - excl[s] — because the
    first delta of every block is its absolute first ordinal.
    """
    counts = batch["n_docs"].to_numpy(dtype=np.int64)
    # decode the three streams SEPARATELY: tfs (and often dls) are
    # all-single-byte buffers that take varint_decode's O(1-pass) fast
    # path; concatenating them with the multi-byte doc deltas would
    # force everything onto the general path (measured 2× slower)
    deltas = varint_decode(b"".join(batch["docs_packed"])).astype(np.int64)
    tfs = varint_decode(b"".join(batch["tfs_packed"]))
    dls = varint_decode(b"".join(batch["dls_packed"]))
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cs = np.cumsum(deltas)
    base = np.repeat(cs[starts] - deltas[starts], counts)
    ords = cs - base
    term_rep = np.repeat(batch["term"].to_numpy(), counts)
    return term_rep, ords, tfs, dls


def _alive_bits(bits: np.ndarray, ords: np.ndarray) -> np.ndarray:
    """Boolean mask over ``ords``: True where the ordinal is NOT set in
    the packed little-endian tombstone bitmap ``bits``. Ordinals past
    the bitmap's end are alive (the bitmap only spans up to the max
    deleted ordinal — appended docs need no bitmap growth)."""
    m = np.ones(ords.size, dtype=bool)
    if bits.size == 0:
        return m
    idx = ords >> 3
    in_r = idx < bits.size
    o = ords[in_r]
    m[in_r] = ((bits[o >> 3] >> (o & 7)) & 1) == 0
    return m


def _decode_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """blocks → (term, doc_ord, tf, dl) posting rows, vectorized."""
    for batch in batches:
        if len(batch) == 0:
            continue
        term_rep, ords, tfs, dls = _decode_batch(batch)
        yield pd.DataFrame(
            {
                "term": term_rep,
                "doc_ord": ords,
                "tf": tfs.astype(np.int64),
                "dl": dls.astype(np.int64),
            }
        )


class _SnapshotLRU:
    """Per-term driver cache valid for one snapshot key: cleared when
    the key changes, bounded by the total ``weight`` of its values, and
    least-recently-used first out — except the terms of the call being
    served, which a single call may keep above the bound."""

    def __init__(self, weight: Callable[[Any], int] = lambda v: 1):
        self._weight = weight
        self._key: Any = None
        self._items: OrderedDict[Any, Any] = OrderedDict()
        self._total = 0

    def __len__(self) -> int:
        return len(self._items)

    def get(
        self,
        key: Any,
        terms: Sequence[Any],
        load: Callable[[list], dict],
        cap: int,
    ) -> dict:
        """{term: value} for ``terms``. ``load(missing)`` reads the
        uncached terms in one go; a term it returns nothing for caches
        None (a miss marker, so repeated misses do no IO). Read ``key``
        before anything ``load`` reads, so a racing commit can only
        cache newer data under an older key."""
        if key != self._key:
            self._key, self._total = key, 0
            self._items.clear()
        missing = [t for t in dict.fromkeys(terms) if t not in self._items]
        if missing:
            got = load(missing)
            for t in missing:
                self._items[t] = v = got.get(t)
                self._total += self._weight(v)
        for t in terms:
            self._items.move_to_end(t)
        live = set(terms)
        while self._total > cap:
            t = next(iter(self._items))
            if t in live:  # only the live terms remain
                break
            self._total -= self._weight(self._items.pop(t))
        return {t: self._items[t] for t in terms}


class IndexBuilder:
    """Build and query the physical inverted index (Idx/Prs analog)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_cols: Sequence[str] = DOC_ID_COLS,
        text_col: str = "text",
    ):
        self.spark = spark
        self.root = root
        self.id_cols = list(id_cols)
        self.text_col = text_col
        self.catalog = Catalog(spark, root)
        self.ckpt = BuildCheckpoint(root)
        self.timer = PhaseTimer()
        # Driver caches. Every entry is keyed by the snapshot id of the
        # table(s) it was read from and reloads once that id moves, so a
        # commit by this builder or by another one on the same root
        # (upsert, compaction, merge, rollback) reaches the next query
        # with no caller invalidating anything. Whole-table values —
        # corpus stats, tombstone state, docmap frame and schema — live
        # in _heads (see _at_head); per-term values in bounded LRUs:
        # df (terms table), block fronts and pruned scan relations
        # (blocks table), and decoded warm postings with their tf
        # weights (blocks table + the avgdl those weights used) — the
        # reference likewise keeps decompressed leaves in-process.
        self._heads: dict[tuple[str, Any], tuple[str, Any]] = {}
        self._dfs = _SnapshotLRU()
        self._fronts = _SnapshotLRU(lambda v: 0 if v is None else v[1].size)
        self._postings = _SnapshotLRU(lambda v: v[0].size)
        self._scans = _SnapshotLRU()

    SCAN_CACHE_MAX = 64
    # posting-list cache ceiling: 8M postings ≈ 130 MB of driver arrays
    # (int64 ords + int32 tf/dl). Each cached term is itself bounded by
    # the WARM_MAX_BLOCKS gate (~640k postings), so the cache holds the
    # working set of hot terms without ever approaching corpus size.
    POSTINGS_CACHE_MAX = 8_000_000
    # ~50M front points ≈ 1.2 GB of driver arrays at float64×3 — the
    # ceiling for cached per-term block fronts
    FRONT_CACHE_MAX_ELEMS = 50_000_000

    # -- build ------------------------------------------------------------

    def build(
        self, corpus: DataFrame | None, n_partitions: int | None = None
    ) -> dict:
        """Resumable 5-stage build; returns build metrics.

        Stage 0 tokenizes the corpus exactly ONCE into a ``postings``
        table (the dominant cost — the reference's 41-min presrt_idxs,
        README.md:185-191); every later stage derives from that table,
        so a resume after the tokenize stage never re-reads the corpus.
        ``corpus=None`` is allowed when stage 0 is already committed
        (e.g. the streaming compactor hands in pre-built postings).
        """
        n_part = n_partitions or self.spark.sparkContext.defaultParallelism

        if not self.ckpt.is_done("postings"):
            if corpus is None:
                raise ValueError(
                    "corpus is required unless the postings stage is committed"
                )
            # a from-scratch build renumbers every ordinal: tombstones
            # from a previous generation would delete arbitrary docs
            self.catalog.drop("tombstones")
            with self.timer.phase("postings"):
                postings = build_postings(
                    corpus, id_cols=self.id_cols, text_col=self.text_col
                )
                man = self.catalog.write(postings, "postings")
            self.ckpt.mark_done(
                "postings", rows=sum(e["rows"] for e in man["files"]),
                snapshot=man["snapshot_id"],
                seconds=self.timer.phases[-1]["seconds"],
            )

        if not (self.ckpt.is_done("docmap") and self.ckpt.is_done("stats")):
            # one phase writes both: stats is a single-row agg over the
            # docmap relation — folding it here avoids a separate stage
            # and a full docmap table re-read (one saved pass at scale)
            with self.timer.phase("docmap"):
                postings = self.catalog.read("postings")
                dl = postings.groupBy(*self.id_cols).agg(F.sum("tf").alias("dl"))
                docmap = assign_doc_ords(dl, self.id_cols, n_part)
                man = self.catalog.write(
                    docmap, "docmap",
                    stats_cols=["doc_ord", self.id_cols[0]],
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
                # sum_dl rides along so appends can update stats
                # ARITHMETICALLY (O(delta), no docmap re-scan): dl are
                # ints, so the double sum is exact below 2^53 and
                # avgdl = sum_dl/n_docs is bit-identical to F.avg
                stats = self.catalog.read("docmap").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("sum_dl"),
                )
                man_s = self.catalog.write(stats, "stats")
                src = getattr(docmap, "_ord_source", None)
                if src is not None:
                    src.unpersist()
            self.ckpt.mark_done(
                "docmap", rows=sum(e["rows"] for e in man["files"]),
                snapshot=man["snapshot_id"],
                seconds=self.timer.phases[-1]["seconds"],
            )
            self.ckpt.mark_done("stats", snapshot=man_s["snapshot_id"],
                                seconds=0.0)

        if not self.ckpt.is_done("terms"):
            with self.timer.phase("terms"):
                postings = self.catalog.read("postings")
                # range-sorted dictionary: hash-partitioned groupBy
                # output would leave every file spanning ~the whole term
                # range, defeating the manifest/row-group prune that
                # expand_prefix/_term_dfs rely on; one extra
                # vocabulary-sized exchange buys real tree descent
                dfs = (
                    postings.groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .repartitionByRange(F.col("term"))
                    .sortWithinPartitions("term")
                )
                man = self.catalog.write(
                    dfs, "terms", stats_cols=["term"],
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
            self.ckpt.mark_done("terms", snapshot=man["snapshot_id"],
                                seconds=self.timer.phases[-1]["seconds"])

        if not self.ckpt.is_done("blocks"):
            with self.timer.phase("blocks"):
                postings = self.catalog.read("postings")
                docmap = self.catalog.read("docmap")
                # blocks carry (max_tf, min_dl), not a precomputed
                # score, so packing needs NO df/stats join — the BM25
                # bound is derived at query time from current stats
                # (see _meta_thresholds); this also keeps appended
                # blocks valid after df/avgdl/N drift.
                enriched = postings.join(docmap, self.id_cols).select(
                    "term", "doc_ord", "tf", "dl"
                )
                # block_id layout: run_base(16 bits, <<48) | pid(16, <<32)
                # | seq(32). Enforce the pid width HERE, where the layout
                # is established — an unchecked >=2^16-partition build
                # would overlap appended-run id space (pruning-only
                # weakening, but the invariant belongs at the source).
                assert n_part < (1 << 16), (
                    "block_id layout assumes < 2^16 pack partitions"
                )
                packed = (
                    enriched.repartitionByRange(n_part, "term", "doc_ord")
                    .sortWithinPartitions("term", "doc_ord")
                    .withColumn("_pid", F.spark_partition_id())
                    .mapInPandas(_pack_partition, schema=_BLOCKS_OUT)
                )
                man = self.catalog.write(
                    packed, "blocks", stats_cols=["term"],
                    props={"n_runs": 1},
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
            self.ckpt.mark_done(
                "blocks", rows=sum(e["rows"] for e in man["files"]),
                snapshot=man["snapshot_id"],
                seconds=self.timer.phases[-1]["seconds"],
            )

        metrics = {
            "phases": self.timer.phases,
            "lineage": self.ckpt.lineage_rows(),
        }
        return metrics

    # -- query ------------------------------------------------------------

    def _decoded_postings(self, blocks: DataFrame) -> DataFrame:
        return blocks.select(
            "term", "n_docs", "docs_packed", "tfs_packed", "dls_packed"
        ).mapInPandas(_decode_blocks, schema=_POSTINGS_OUT)

    def _scored(self, post: DataFrame, qt: DataFrame) -> DataFrame:
        """(query_id, doc_ord, score) exact BM25 from decoded postings.

        No docmap join: decoded blocks carry dl per posting (the
        self-contained block design), so scoring is joins against tiny
        broadcast relations plus one aggregation."""
        dfs = self.catalog.read("terms")
        stats = self.catalog.read("stats")
        return (
            post.join(F.broadcast(qt), "term")
            .join(F.broadcast(dfs.join(qt.select("term").distinct(), "term")), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "contrib",
                contribution(F.col("tf"), F.col("df"), F.col("dl"),
                             F.col("avgdl"), F.col("n_docs")),
            )
            .groupBy("query_id", "doc_ord")
            .agg(F.sum("contrib").alias("score"))
        )

    # Below this many candidate blocks, θ-pruning saves less than its
    # metadata read costs under prune="auto" (decode-all of a few
    # thousand 128-doc blocks is a sub-second map stage).
    AUTO_PRUNE_MIN_BLOCKS = 5_000
    # Above this many candidate blocks, per-block (term, max_score)
    # metadata no longer belongs on the driver; block-max pruning then
    # runs as the distributed two-pass plan (_pruned_blocks).
    META_MAX_BLOCKS = 2_000_000
    # reducer memory bounds, independent of data scale AND parallelism
    # level (the SAME algorithm must run at every level, or cross-level
    # comparisons measure the code path, not scaling):
    TARGET_DOCS_PER_REDUCER = 100_000  # data-sized reducer tasks

    def _blocks_scan(self, q_terms: Sequence[str]) -> DataFrame:
        """Manifest-pruned blocks relation, cached by resolved file list
        (repeat batches over the same files skip re-planning the scan)."""
        snap = self.catalog.manifest("blocks")["snapshot_id"]
        paths = self.catalog.pruned_file_paths("blocks", "term", list(q_terms))
        if paths is None:
            return self.catalog.read("blocks")
        if not paths:
            return self.catalog.read("blocks").limit(0)
        key = tuple(sorted(paths))
        return self._scans.get(
            snap, [key], lambda _: {key: self.spark.read.parquet(*paths)},
            self.SCAN_CACHE_MAX,
        )[key]

    def _term_dfs(self, terms: Sequence[str]) -> dict[str, int]:
        """{term: df} for the subset of ``terms`` present in the index,
        served from the per-term cache; only never-seen terms touch the
        terms table (manifest-pruned pyarrow read). Miss markers for
        absent terms count toward the cache bound, the committed
        vocabulary size, so user input cannot grow it past that."""
        man = self.catalog.manifest("terms")

        def load(missing: list[str]) -> dict:
            tbl = self.catalog.read_pruned_arrow(
                "terms", "term", missing, columns=["term", "df"]
            )
            return dict(
                zip(tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist())
            )

        got = self._dfs.get(
            man["snapshot_id"], terms, load,
            sum(e["rows"] for e in man["files"]),
        )
        return {t: d for t, d in got.items() if d is not None}

    def _term_fronts(self, terms: Sequence[str]) -> dict[str, tuple]:
        """{term: (lens, ftf, fdl)} — per-block Pareto-front arrays of
        the term's blocks, concatenated (lens = front sizes per block),
        from the per-term cache. The fronts are stats-INDEPENDENT, so
        the cache stays valid within a snapshot regardless of df/avgdl
        drift; the avgdl-dependent tfw is computed per batch. Bounded
        by total front elements (a stopword's fronts at 10^11 docs are
        ~10^9 points)."""

        def load(missing: list[str]) -> dict:
            meta = self.catalog.read_pruned_arrow(
                "blocks", "term", missing,
                columns=["term", "tfs_front", "dls_front"],
            ).to_pandas()
            out = {}
            for t, g in meta.groupby("term"):
                lens = g["tfs_front"].map(len).to_numpy(dtype=np.int64)
                out[t] = (
                    lens,
                    np.concatenate(g["tfs_front"].to_numpy()).astype(
                        np.float64
                    ),
                    np.concatenate(g["dls_front"].to_numpy()).astype(
                        np.float64
                    ),
                )
            return out

        got = self._fronts.get(
            self.catalog.manifest("blocks")["snapshot_id"], terms, load,
            self.FRONT_CACHE_MAX_ELEMS,
        )
        return {t: v for t, v in got.items() if v is not None}

    def _at_head(self, table: str, load: Callable[[], Any]) -> Any:
        """``load()`` as of the head snapshot of ``table``, cached until
        the table commits another. The snapshot id is read BEFORE
        loading, so a commit racing the load caches newer data under
        the older id — the next call reloads once — never stale data
        under the newer id. One entry per loader (keyed by its code),
        so ``load`` must depend on nothing but the table."""
        snap = self.catalog.manifest(table)["snapshot_id"]
        key = (table, load.__code__)
        hit = self._heads.get(key)
        if hit is None or hit[0] != snap:
            hit = self._heads[key] = (snap, load())
        return hit[1]

    def _docmap_schema(self) -> T.StructType:
        """Spark schema of the docmap (one schema-inference job per
        docmap snapshot)."""
        return self._at_head(
            "docmap", lambda: self.catalog.read("docmap").schema
        )

    #: every table an index may commit, in rollback order
    INDEX_TABLES = ("docmap", "postings", "terms", "terms_rev",
                    "terms_del", "stats", "blocks", "pos_blocks",
                    "docmeta", "tombstones", "termvecs")

    #: delete batches up to this many distinct first-id values resolve
    #: ordinals via a manifest-PRUNED docmap read (values-list prune is
    #: O(files × ids) driver work); bigger deletes full-scan instead
    DELETE_PRUNE_MAX_IDS = 4096

    def pin(self) -> dict[str, str]:
        """Snapshot-id pin of every committed index table — take one
        before a risky mutation (upsert, delete, merge, compaction) and
        hand it to :meth:`rollback` to revert the whole index atomically
        per table. Pure metadata: O(#tables) manifest reads, no jobs."""
        return {
            t: self.catalog.manifest(t)["snapshot_id"]
            for t in self.INDEX_TABLES
            if self.catalog.exists(t)
        }

    def rollback(self, pins: dict[str, str]) -> None:
        """Restore every index table to its pinned snapshot (catalog
        time travel) and drop tables born after the pin (e.g. a delete's
        first tombstones table); the next query of any builder on this
        root serves the restored state. Non-destructive at the catalog
        level — the abandoned snapshots stay readable until
        ``expire_snapshots``."""
        for t, sid in pins.items():
            if self.catalog.manifest(t)["snapshot_id"] != sid:
                self.catalog.restore(t, sid)
        for t in self.INDEX_TABLES:
            if t not in pins and self.catalog.exists(t):
                self.catalog.drop(t)
                self.ckpt.unmark(t)

    def _corpus_stats(self) -> tuple[int, float]:
        """(n_docs, avgdl) from the committed stats table — driver-side
        single-row pyarrow read, cached per stats snapshot (no Spark
        job)."""

        def load() -> tuple[int, float]:
            t = self.catalog.read_arrow("stats")
            return (
                int(t.column("n_docs")[0].as_py()),
                float(t.column("avgdl")[0].as_py()),
            )

        return self._at_head("stats", load)

    # -- deletes (tombstones) ----------------------------------------------

    def _n_tombstones(self) -> int:
        """Committed tombstone count from the manifest alone (the table
        holds DISTINCT ordinals by construction — delete_docs anti-joins
        what is already tombstoned before appending)."""
        if not self.catalog.exists("tombstones"):
            return 0
        return sum(
            e["rows"] for e in self.catalog.manifest("tombstones")["files"]
        )

    def _tombstones_df(self) -> DataFrame | None:
        """The deleted-ordinal relation, or None when nothing is deleted
        (every caller skips its anti-join then — zero plan overhead on
        an index without deletes)."""
        if not self._n_tombstones():
            return None
        return self.catalog.read("tombstones").select("doc_ord")

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """Anti-join a doc_ord-bearing relation against the tombstones
        table (no-op without deletes). The tombstone side is small
        relative to the corpus, so Catalyst broadcasts it."""
        tomb = self._tombstones_df()
        return df if tomb is None else df.join(tomb, "doc_ord", "left_anti")

    def _tomb_state(self) -> tuple[np.ndarray, np.ndarray] | None:
        """(packed bitmap, sorted dead ordinals) for the numpy-side
        paths (warm tiers, batch reducer), snapshot-cached. The bitmap
        is 1 bit per doc up to the MAX deleted ordinal — at 10^9 docs
        fully riddled with deletes that is 125 MB, a broadcastable
        payload; with few/low deletes it is proportionally tiny."""
        if not self._n_tombstones():
            return None

        def load() -> tuple[np.ndarray, np.ndarray]:
            t = self.catalog.read_arrow("tombstones", columns=["doc_ord"])
            dead = np.unique(t.column("doc_ord").to_numpy())
            bits = np.zeros((int(dead[-1]) >> 3) + 1, dtype=np.uint8)
            np.bitwise_or.at(
                bits, dead >> 3, (1 << (dead & 7)).astype(np.uint8)
            )
            return bits, dead

        return self._at_head("tombstones", load)

    def delete_docs(self, docs) -> int:
        """Tombstone documents by id — O(|docs| + tombstones), no index
        file touched (segment-style deletes): the ordinals land in a
        committed ``tombstones`` table and every query path drops them
        before returning results. Ranking statistics (df, avgdl,
        n_docs) intentionally KEEP counting deleted docs until
        ``purge_deleted`` or the next full rebuild — the standard
        delete-visibility contract (deletes are instant, statistics
        heal at merge), and what keeps the delete O(delta). Block-max
        pruning disarms while tombstones exist (a threshold fed by
        deleted docs' scores could prune blocks holding alive results);
        purging re-arms it.

        ``docs``: a DataFrame carrying ``id_cols`` (extra columns
        ignored) or an iterable of id tuples. Unknown ids are ignored;
        re-deleting is a no-op. Returns the number of NEWLY tombstoned
        docs. Tombstones survive O(delta) appends and merges (committed
        ordinals never move) and are consumed by full rebuilds.

        Reference analog: none — the reference rebuilds its archive
        from scratch for any corpus change (idx.py:85-92), the
        round-trip the 10^12-turn design point cannot afford."""
        if not isinstance(docs, DataFrame):
            rows = [
                tuple(r) if isinstance(r, (tuple, list)) else (r,)
                for r in docs
            ]
            if not rows:
                return 0
            dm_schema = self._docmap_schema()
            docs = self.spark.createDataFrame(
                rows, T.StructType([dm_schema[c] for c in self.id_cols])
            )
        ids = docs.select(*self.id_cols).distinct()
        # resolve ordinals from a PRUNED docmap scan when possible: the
        # docmap is range-sorted by id_cols and its manifest carries
        # min/max of the first id col, so a bounded delete batch (the
        # upsert regime) reads only the files whose id range can hold a
        # probe — the full O(corpus) docmap scan is the fallback for
        # huge deletes and pre-stats snapshots. Pruning by the first id
        # col alone is safe: a pruned-out file contains no probe value
        # of that col, so no row in it can match the full-id semi-join.
        c0 = self.id_cols[0]
        dm = None
        if c0 in self.catalog.manifest("docmap")["stats_cols"]:
            probe = ids.select(c0).distinct().limit(
                self.DELETE_PRUNE_MAX_IDS + 1
            ).collect()
            if len(probe) <= self.DELETE_PRUNE_MAX_IDS:
                vals = sorted({r[0] for r in probe if r[0] is not None})
                if vals:
                    dm = self.catalog.read_pruned("docmap", c0, values=vals)
        if dm is None:
            dm = self.catalog.read("docmap")
        hits = (
            dm.join(ids, list(self.id_cols), "left_semi")
            .select("doc_ord")
        )
        prev = self._tombstones_df()
        if prev is not None:
            hits = hits.join(prev, "doc_ord", "left_anti")
        before = self._n_tombstones()
        self.catalog.write(
            hits, "tombstones", stats_cols=["doc_ord"], mode="append",
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
        )
        return self._n_tombstones() - before

    def upsert_docs(self, docs: DataFrame,
                    n_partitions: int | None = None) -> dict:
        """Insert-or-replace documents by id, O(delta) — tombstone the
        old generations, append the new ones as fresh ordinals. See
        ``operators/upsert.upsert_docs`` for the full contract."""
        from antidb_spark.operators import upsert as _upsert

        return _upsert.upsert_docs(self, docs, n_partitions=n_partitions)

    def purge_deleted(self, n_partitions: int | None = None) -> dict:
        """Physically remove tombstoned docs: rebuild the index from the
        committed postings minus the deleted docs' rows (O(total
        postings) — the merge/expunge step). Exact statistics are
        restored (df/avgdl/n_docs over the survivors), block-max
        pruning re-arms, and ordinals renumber densely. Committed
        positional and docmeta side layers SURVIVE the renumbering via
        ordinal remap (see ``_rebuild_from``) — no corpus re-scan;
        dead generations drop from the layers in the same pass."""
        tomb = self._tombstones_df()
        if tomb is None:
            return {"mode": "noop"}
        n_part = n_partitions or self.spark.sparkContext.defaultParallelism
        from antidb_spark.operators.upsert import UPSERT_MARK, alive_postings

        if self.ckpt.is_done(UPSERT_MARK):
            # upserts happened: the id-keyed postings table holds
            # superseded generations of the same id (dropping by dead
            # IDS would also drop the alive replacement generation) —
            # reconstruct alive rows from the ordinal-keyed blocks
            # instead (see operators/upsert.py module docstring)
            n_dead = tomb.count()
            merged = alive_postings(self).localCheckpoint()
        else:
            dead_ids = (
                self.catalog.read("docmap")
                .join(tomb, "doc_ord", "left_semi")
                .select(*self.id_cols)
            )
            n_dead = dead_ids.count()
            merged = (
                self.catalog.read("postings")
                .join(dead_ids, list(self.id_cols), "left_anti")
                .localCheckpoint()
            )
        layers = self._rebuild_from(merged, n_part)
        return {"mode": "purged", "n_purged": n_dead, **layers}

    def _rebuild_from(self, merged: DataFrame, n_part: int) -> dict:
        """Shared in-place rebuild core of ``purge_deleted`` /
        ``optimize``: rewrite stage-0 postings as ``merged`` and rebuild
        the derived layers — PRESERVING committed pos_blocks / docmeta
        by ORDINAL REMAP (decode → old→new ordinal map join → repack)
        instead of dropping them. The rebuild renumbers ordinals, but
        the layers' content is already in the committed tables, so no
        corpus re-scan is needed: phrase and filtered service survive a
        purge/force-merge on a standalone index. Dead generations drop
        from the layers automatically: the ordinal map is built from the
        TOMBSTONE-DROPPED old docmap, so a dead ordinal (deleted doc, or
        an upserted id's superseded generation) has no map entry and its
        rows vanish at the inner join — they can never remap onto the
        id's new ordinal. Cost: O(layer) decode + two shuffles of the
        position rows — the same class as the base rebuild, with no
        re-tokenize."""
        from antidb_spark.operators.phrase import (
            _decode_pos_blocks,
            _pack_pos_partition,
            _POS_BLOCKS_OUT,
        )

        keep_pos = self.ckpt.is_done("pos_blocks")
        keep_meta = self.ckpt.is_done("docmeta")
        meta_cols = (
            self.catalog.manifest("docmeta").get("props", {}).get("meta_cols")
            if keep_meta else None
        )
        old_map = None
        if keep_pos or keep_meta:
            # materialized BEFORE the docmap files drop; the layer
            # sources stay lazy — their generation dir survives the
            # upcoming replace (deferred one-generation GC)
            old_map = (
                self._drop_tombstones(self.catalog.read("docmap"))
                .select(F.col("doc_ord").alias("_old"), *self.id_cols)
                .localCheckpoint()
            )
        pos_src = (
            self.catalog.read("pos_blocks").mapInPandas(
                _decode_pos_blocks,
                schema="term string, doc_ord long, pos long",
            )
            if keep_pos else None
        )
        meta_src = self.catalog.read("docmeta") if keep_meta else None

        for tbl in ("postings", "docmap", "stats", "terms", "terms_rev",
                    "terms_del", "blocks", "tombstones", "termvecs"):
            self.catalog.drop(tbl)
        self.ckpt.reset()
        man = self.catalog.write(merged, "postings")
        self.ckpt.mark_done(
            "postings", rows=sum(e["rows"] for e in man["files"]),
            snapshot=man["snapshot_id"], seconds=0.0,
        )
        self.build(corpus=None, n_partitions=n_part)

        out: dict = {}
        if old_map is not None:
            new_map = self.catalog.read("docmap").select(
                *self.id_cols, F.col("doc_ord").alias("_new")
            )
            ord_map = old_map.join(new_map, list(self.id_cols)).select(
                "_old", "_new"
            )
            if keep_pos:
                new_pos = (
                    pos_src.withColumnRenamed("doc_ord", "_old")
                    .join(ord_map, "_old")
                    .select("term", F.col("_new").alias("doc_ord"), "pos")
                )
                packed = (
                    new_pos.repartitionByRange(n_part, "term", "doc_ord")
                    .sortWithinPartitions("term", "doc_ord", "pos")
                    .withColumn("_pid", F.spark_partition_id())
                    .mapInPandas(_pack_pos_partition, schema=_POS_BLOCKS_OUT)
                )
                pman = self.catalog.replace(
                    packed, "pos_blocks", stats_cols=["term"],
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
                self.ckpt.mark_done(
                    "pos_blocks",
                    rows=sum(e["rows"] for e in pman["files"]),
                    snapshot=pman["snapshot_id"], seconds=0.0,
                )
                out["pos_layer"] = "remapped"
            if keep_meta and meta_cols:
                new_meta = (
                    meta_src.withColumnRenamed("doc_ord", "_old")
                    .join(ord_map, "_old")
                    .select(F.col("_new").alias("doc_ord"), *meta_cols)
                    .repartitionByRange(n_part, "doc_ord")
                    .sortWithinPartitions("doc_ord")
                )
                mman = self.catalog.replace(
                    new_meta, "docmeta", stats_cols=["doc_ord"],
                    props={"meta_cols": list(meta_cols)},
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
                self.ckpt.mark_done(
                    "docmeta",
                    rows=sum(e["rows"] for e in mman["files"]),
                    snapshot=mman["snapshot_id"], seconds=0.0,
                )
                out["meta_layer"] = "remapped"
            old_map.unpersist()
        return out

    def optimize(self, n_partitions: int | None = None) -> dict:
        """Force-merge (the Lucene forceMerge analog): rebuild the
        derived layers from the committed stage-0 postings into a
        SINGLE blocks run, restoring the locality that O(delta)
        appends/upserts trade away — after many compactions a term's
        postings are scattered across runs, which costs extra block
        reads and per-segment decode overhead per query. O(total
        index), out-of-band, never required for correctness (every
        query path is multi-run-exact); run it when the runs count
        grows. With tombstones present this IS ``purge_deleted``
        (physical expunge + exact stats + pruning re-armed). Committed
        pos_blocks / docmeta layers SURVIVE via ordinal remap
        (``_rebuild_from``) — phrase and filtered service continue with
        no corpus re-scan."""
        n_runs = int(
            self.catalog.manifest("blocks")["props"].get("n_runs", 1)
        )
        if self._n_tombstones():
            out = self.purge_deleted(n_partitions)
            return {**out, "mode": "optimized", "n_runs_before": n_runs}
        if n_runs <= 1:
            return {"mode": "noop", "n_runs_before": n_runs}
        n_part = n_partitions or self.spark.sparkContext.defaultParallelism
        merged = self.catalog.read("postings").localCheckpoint()
        layers = self._rebuild_from(merged, n_part)
        return {"mode": "optimized", "n_runs_before": n_runs, **layers}

    def _plan_queries(self, queries: Sequence[str]) -> dict | None:
        """Driver-side query planning, ZERO Spark jobs (this is what
        kills the per-batch serial floor: the old path spent jobs on
        query tokenization, df lookup, and stats reads before any real
        work). Tokenizes with the shared analyzer, resolves per-term df
        (manifest-pruned pyarrow read of the terms table) and corpus
        stats, and precomputes idf per term + the term → query fan-out
        map shipped into the scoring stage's closure."""
        import math

        from antidb_spark.functions.analyze import py_tokens

        # a query is a string (tokenized here) or a pre-expanded term
        # list (prefix/wildcard expansion — already analyzer-normal)
        per_query = [
            sorted(set(q if isinstance(q, (list, tuple)) else py_tokens(q)))
            for q in queries
        ]
        q_terms = sorted({t for ts in per_query for t in ts})
        if not q_terms:
            return None
        dfs = self._term_dfs(q_terms)
        if not dfs:
            return None
        n_docs, avgdl = self._corpus_stats()
        # same association order as functions.bm25.idf (rank identity)
        idf = {
            t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()
        }
        qmap: dict[str, list[int]] = {}
        for qid, ts in enumerate(per_query):
            for t in ts:
                if t in dfs:
                    qmap.setdefault(t, []).append(qid)
        return {
            "per_query": per_query,
            "terms": sorted(qmap),
            "dfs": dfs,
            "idf": idf,
            "qmap": {t: np.asarray(v, dtype=np.int64) for t, v in qmap.items()},
            "n_docs": n_docs,
            "avgdl": avgdl,
            # per-term ceil(df/BLOCK_SIZE): candidate-block estimate for
            # the prune cost gate (undercounts partition-boundary partial
            # blocks — fine for a gate)
            "est_blocks": int(
                sum((d + BLOCK_SIZE - 1) // BLOCK_SIZE for d in dfs.values())
            ),
        }

    @staticmethod
    def _tfw(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
        from antidb_spark.functions.bm25 import B, K1

        return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + (B * dl) / avgdl))

    def _meta_thresholds(self, plan: dict, k: int) -> dict[str, float]:
        """Metadata-only block-max pruning thresholds, driver-side.

        Blocks store the stats-independent (tf, dl) PARETO FRONT of
        their postings; with CURRENT corpus stats the block's exact max
        contribution is ``m(b) = idf · max over front of tfw(tf, dl,
        avgdl)`` (tfw is monotone ↑tf ↓dl, so the max over all postings
        is achieved on the front) — exact even after incremental
        appends changed df/avgdl/N since the block was packed.

        θ_q lower bound WITHOUT decoding any block: each m(b) is
        achieved by a REAL posting whose doc's total score ≥ m(b), and
        a term's blocks partition its postings into distinct docs — so
        the k-th largest m over a single term's blocks lower-bounds the
        true k-th best score of any query containing the term; θ_q =
        max over q's terms (None if every term has < k blocks). A block
        b of term t is then skippable for q when m(b) + Σ_{t'≠t} M_{t'}
        < θ_q (module-docstring invariant). The per-TERM keep threshold
        (min over queries containing the term) is returned on the tfw
        SCALE (thr/idf, one ulp down per rearrangement) so the scan
        filter is a pure expression over the front arrays and the avgdl
        literal — no joins.
        """
        fronts = self._term_fronts(plan["terms"])
        avgdl = plan["avgdl"]
        big_m: dict[str, float] = {}
        kth: dict[str, float | None] = {}
        for t, (lens, ftf, fdl) in fronts.items():
            tfw_flat = self._tfw(ftf, fdl, avgdl)
            n_blocks = lens.size
            max_tfw = np.full(n_blocks, float("-inf"))
            np.maximum.at(
                max_tfw, np.repeat(np.arange(n_blocks), lens), tfw_flat
            )
            m = plan["idf"][t] * max_tfw
            big_m[t] = float(m.max())
            kth[t] = (
                float(np.partition(m, m.size - k)[m.size - k])
                if m.size >= k else None
            )
        neg_inf = float("-inf")
        thr: dict[str, float] = {}
        for ts in plan["per_query"]:
            pts = [t for t in ts if t in big_m]
            if not pts:
                continue
            thetas = [kth[t] for t in pts if kth[t] is not None]
            if not thetas:
                # < k guaranteed docs from metadata alone → no pruning
                # for ANY of this query's terms
                for t in pts:
                    thr[t] = neg_inf
                continue
            theta = max(thetas)
            m_sum = sum(big_m[t] for t in pts)
            for t in pts:
                cand = np.nextafter(theta - (m_sum - big_m[t]), neg_inf)
                thr[t] = min(thr.get(t, float("inf")), float(cand))
        # m scale → tfw scale (m = idf·tfw, idf > 0), one more ulp of
        # slack against the rearrangement
        out: dict[str, float] = {}
        for t, v in thr.items():
            if v == neg_inf:
                out[t] = neg_inf
            else:
                out[t] = float(np.nextafter(v / plan["idf"][t], neg_inf))
        return out

    def _bucketed_contribs(
        self, blocks: DataFrame, plan: dict, n_part: int
    ) -> DataFrame:
        """blocks → ONE packed row per (map partition, reducer bucket):
        whole-batch varint decode + numpy BM25 contributions
        (bit-identical expression order to functions.bm25.contribution),
        bucketed by dense doc_ord range and serialized as raw numpy
        bytes.

        Shuffling 10^7+ individual (doc_ord, term_id, contrib) rows costs
        more in Arrow→InternalRow→Arrow conversion than the decode and
        scoring combined (measured ~25 s for 22M rows vs ~12 s of real
        work at this corpus size). Packing each bucket's arrays into
        binary cells moves the SAME bytes through the exchange as a few
        hundred blob rows — row-codec cost vanishes and the stage is
        pure memory bandwidth. Per-map-partition memory is bounded by
        the input split size (a partition's postings as numpy arrays,
        ~20 B each). The ``src`` column (map partition id) lets the
        reducer concatenate blobs in deterministic order, making float
        summation order reproducible run-to-run."""
        from antidb_spark.functions.bm25 import B, K1

        idf, avgdl = plan["idf"], plan["avgdl"]
        n_docs = plan["n_docs"]
        term_ids = {t: i for i, t in enumerate(plan["terms"])}
        out_schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType(), False),
                T.StructField("src", T.IntegerType(), False),
                T.StructField("ords", T.BinaryType(), False),
                T.StructField("tids", T.BinaryType(), False),
                T.StructField("contribs", T.BinaryType(), False),
            ]
        )

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ords_l: list[np.ndarray] = []
            tids_l: list[np.ndarray] = []
            con_l: list[np.ndarray] = []
            src = -1
            for batch in batches:
                if len(batch) == 0:
                    continue
                src = int(batch["_pid"].iloc[0])
                _term_rep, ords, tfs, dls = _decode_batch(batch)
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                uniq, inv = np.unique(
                    batch["term"].to_numpy(), return_inverse=True
                )
                idf_u = np.array([idf[t] for t in uniq], dtype=np.float64)
                tid_u = np.array([term_ids[t] for t in uniq], dtype=np.int32)
                per_post = np.repeat(
                    inv, batch["n_docs"].to_numpy(dtype=np.int64)
                )
                tfw = (tf * (K1 + 1.0)) / (
                    tf + K1 * (1.0 - B + (B * dl) / avgdl)
                )
                ords_l.append(ords.astype(np.int64, copy=False))
                tids_l.append(tid_u[per_post])
                con_l.append(idf_u[per_post] * tfw)
            if not ords_l:
                return
            ords = np.concatenate(ords_l)
            tids = np.concatenate(tids_l)
            cons = np.concatenate(con_l)
            # dense-ordinal range buckets (docmap ords are 0..n_docs-1):
            # contiguous doc ranges per reducer keep the dense score
            # matrix small and the unique() cheap
            bucket = (ords * n_part) // max(1, n_docs)
            order = np.argsort(bucket, kind="stable")
            ords, tids, cons, bucket = (
                ords[order], tids[order], cons[order], bucket[order]
            )
            ub, starts = np.unique(bucket, return_index=True)
            ends = np.append(starts[1:], bucket.size)
            yield pd.DataFrame(
                {
                    "bucket": ub.astype(np.int32),
                    "src": np.full(ub.size, src, dtype=np.int32),
                    "ords": [
                        ords[s:e].tobytes() for s, e in zip(starts, ends)
                    ],
                    "tids": [
                        tids[s:e].tobytes() for s, e in zip(starts, ends)
                    ],
                    "contribs": [
                        cons[s:e].tobytes() for s, e in zip(starts, ends)
                    ],
                }
            )

        return blocks.select(
            "term", "n_docs", "docs_packed", "tfs_packed", "dls_packed",
            F.spark_partition_id().alias("_pid"),
        ).mapInPandas(gen, schema=out_schema)

    def query_batch(
        self, queries: Sequence[str], k: int = 10,
        prune: bool | str = "auto",
    ) -> DataFrame:
        """Batch top-k BM25 over the physical index.

        Returns (query_id, *id_cols, score) with per-query rank order;
        deterministic tiebreak on doc_ord (= (*id_cols) order).

        One-job architecture (the whole batch is planned driver-side
        from committed metadata, then runs as a single Spark action plus
        a tiny driver merge — no per-batch metadata jobs):

        1. ``_plan_queries``: tokenize + df/idf/stats, pyarrow only.
        2. manifest file pruning on term + (``prune``) metadata-only
           block-max θ thresholds pushed into the scan filter
           (``_meta_thresholds`` — provably lossless, results identical
           with pruning on or off). Above ``META_MAX_BLOCKS`` candidates
           the distributed two-pass pruning plan is used instead.
        3. ``_bucketed_contribs``: decode + score in one Arrow stage,
           packed into per-(map-partition, doc-range-bucket) binary
           blob rows → the ONE shuffle moves a few hundred blobs
           instead of 10^7+ posting rows (row-codec cost was larger
           than the decode+score work itself).
        4. tree top-k: per-bucket dense accumulation + top-k (numpy,
           deterministic blob order) → driver merge of
           ≤ k·|queries|·n_partitions rows → id resolution against the
           docmap via manifest-pruned pyarrow (no docmap scan job).
        """
        plan = self._plan_queries(queries)
        dm_schema = self._docmap_schema()
        out_schema = T.StructType(
            [T.StructField("query_id", T.IntegerType(), False)]
            + [dm_schema[c] for c in self.id_cols]
            + [T.StructField("score", T.DoubleType(), True)]
        )
        if plan is None:
            return self.spark.createDataFrame([], out_schema)
        terms = plan["terms"]
        blocks = self._blocks_scan(terms).filter(F.col("term").isin(terms))
        # tombstones disarm block-max pruning even when requested: the
        # θ thresholds estimate the k-th best score from metadata that
        # still counts deleted docs, so θ can exceed the true alive
        # k-th best and prune blocks holding alive results. Deletes
        # trade pruning for instant visibility; purge_deleted re-arms.
        ts = self._tomb_state()
        if ts is not None:
            prune = False
        tomb_bc = (
            self.spark.sparkContext.broadcast(ts[0])
            if ts is not None else None
        )
        if prune == "auto":
            prune = plan["est_blocks"] >= self.AUTO_PRUNE_MIN_BLOCKS
        if prune and plan["est_blocks"] <= self.META_MAX_BLOCKS:
            thr = {
                t: v for t, v in self._meta_thresholds(plan, k).items()
                if v != float("-inf")
            }
            if thr:
                from antidb_spark.functions.bm25 import tf_weight

                # exact per-block max tfw from the (tf, dl) Pareto front
                # and the current-avgdl literal; thresholds arrive via a
                # broadcast hash join (a create_map of 2·|terms| literals
                # is rebuilt PER ROW by codegen — measurable at 10^5
                # block rows × 10^3 query terms)
                thr_df = self.spark.createDataFrame(
                    list(thr.items()), "term string, _thr double"
                )
                block_tfw = F.array_max(
                    F.zip_with(
                        F.col("tfs_front"),
                        F.col("dls_front"),
                        lambda tf, dl: tf_weight(tf, dl, F.lit(plan["avgdl"])),
                    )
                )
                blocks = (
                    blocks.join(F.broadcast(thr_df), "term", "left")
                    .filter(
                        block_tfw
                        >= F.coalesce(F.col("_thr"), F.lit(float("-inf")))
                    )
                    .drop("_thr")
                )
        elif prune:
            from antidb_spark.operators.topk import query_terms_df

            qt = query_terms_df(self.spark, queries)
            blocks = self._pruned_blocks(blocks, qt, k)
        # reducer partition count is DATA-sized, not core-sized: target
        # ~TARGET_DOCS_PER_REDUCER candidate docs per task so the dense
        # slab geometry (and therefore per-core work) is the same at any
        # parallelism level; excess tasks just queue over the cores
        cand_docs = min(plan["n_docs"], plan["est_blocks"] * BLOCK_SIZE)
        n_part = max(
            self.spark.sparkContext.defaultParallelism,
            -(-cand_docs // self.TARGET_DOCS_PER_REDUCER),
        )
        bucketed = self._bucketed_contribs(blocks, plan, n_part)
        qmap_by_tid = [plan["qmap"][t] for t in plan["terms"]]
        topk_schema = T.StructType(
            [
                T.StructField("query_id", T.IntegerType(), False),
                T.StructField("doc_ord", T.LongType(), False),
                T.StructField("score", T.DoubleType(), True),
            ]
        )

        n_queries = len(plan["per_query"])
        # query -> ascending term-id list (sorted-term order — the same
        # pinned float-summation order the oracles use)
        per_q_tids: list[list[int]] = [[] for _ in range(n_queries)]
        for t_i, qids in enumerate(qmap_by_tid):
            for q in qids:
                per_q_tids[int(q)].append(t_i)

        def reduce_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # bucket partitioning co-locates ALL of a doc's term
            # contributions, so per-(query, doc) sums are complete here
            # and the partition-local top-k is exact for its docs. Blob
            # rows are concatenated sorted by source map partition, so
            # float summation order is deterministic regardless of
            # shuffle arrival order.
            rows: list[tuple] = []
            for b in batches:
                rows.extend(
                    zip(b["src"], b["ords"], b["tids"], b["contribs"])
                )
            if not rows:
                return
            rows.sort(key=lambda r: r[0])
            doc_post = np.concatenate(
                [np.frombuffer(r[1], dtype=np.int64) for r in rows]
            )
            tid = np.concatenate(
                [np.frombuffer(r[2], dtype=np.int32) for r in rows]
            )
            contrib_post = np.concatenate(
                [np.frombuffer(r[3], dtype=np.float64) for r in rows]
            )
            u, doc_inv_post = np.unique(doc_post, return_inverse=True)
            dead_idx = None
            if tomb_bc is not None:
                alive = _alive_bits(tomb_bc.value, u)
                if not alive.all():
                    dead_idx = np.flatnonzero(~alive)
            # segment the partition's postings by term id ONCE; a doc
            # appears at most once per term, so per-query accumulation
            # is a direct fancy-indexed add per term — one pass over
            # the query fan-out (shared hot terms expand to 10^8 fanned
            # adds per batch; the previous shape materialized expanded
            # (query, doc) index arrays and paid ~6 array passes over
            # them). Scores are never exactly 0.0 (idf, tfw > 0) → 0 =
            # no candidate.
            torder = np.argsort(tid, kind="stable")
            doc_seg = doc_inv_post[torder]
            con_seg = contrib_post[torder]
            tid_seg = tid[torder]
            ut, tstarts = np.unique(tid_seg, return_index=True)
            tends = np.append(tstarts[1:], tid_seg.size)
            seg: dict[int, tuple[np.ndarray, np.ndarray]] = {
                int(t): (doc_seg[s:e], con_seg[s:e])
                for t, s, e in zip(ut, tstarts, tends)
            }
            dense = np.empty(u.size)
            frames = []
            for q in range(n_queries):
                present = [t for t in per_q_tids[q] if t in seg]
                if not present:
                    continue
                dense.fill(0.0)
                for t in present:  # ascending term id = sorted terms
                    d, c = seg[t]
                    dense[d] += c
                row = dense
                if dead_idx is not None:
                    row[dead_idx] = 0.0
                if u.size > 4 * k:
                    cut = np.partition(row, row.size - k)[row.size - k]
                    cand = np.flatnonzero(
                        row >= max(cut, np.finfo(float).tiny)
                    )
                else:
                    cand = np.flatnonzero(row > 0.0)
                if cand.size == 0:
                    continue
                order = np.lexsort((u[cand], -row[cand]))[:k]
                sel = cand[order]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(sel.size, q, dtype=np.int32),
                            "doc_ord": u[sel],
                            "score": row[sel],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

        # Materialize under the fine index-scan split (scoped — see
        # session.INDEX_SCAN_SPLIT_BYTES): the blocks files backing this
        # action are term-range partitioned with 512 KB row groups, and
        # 4 MB scan partitions break the straggler term files into
        # balanced decode+score tasks. Scoping it here keeps every other
        # scan in the session (128 MB-row-group tables) at the default.
        with scoped_conf(
            self.spark,
            "spark.sql.files.maxPartitionBytes",
            str(INDEX_SCAN_SPLIT_BYTES),
        ):
            top_pdf = (
                bucketed.repartition(n_part, "bucket")
                .mapInPandas(reduce_topk, schema=topk_schema)
                .toPandas()
            )
        if len(top_pdf) == 0:
            return self.spark.createDataFrame([], out_schema)
        top_pdf = top_pdf.sort_values(
            ["query_id", "score", "doc_ord"], ascending=[True, False, True]
        ).groupby("query_id", sort=False).head(k)
        dm = self._resolve_ords(
            [int(o) for o in sorted(set(top_pdf["doc_ord"]))]
        )
        merged = top_pdf.merge(dm, on="doc_ord").sort_values(
            ["query_id", "score", "doc_ord"], ascending=[True, False, True]
        )
        return self.spark.createDataFrame(
            merged[["query_id", *self.id_cols, "score"]], schema=out_schema
        )

    def _pruned_blocks(self, blocks: DataFrame, qt: DataFrame, k: int) -> DataFrame:
        """Block-max pruning (module docstring invariant).

        Pass 1: decode only the best block per (query, term), exact-score
        those postings → per-query θ = k-th best partial score. Pass 2:
        keep blocks with m(b) + Σ_{t'≠t} M_{t'} ≥ θ, where m(b) =
        idf(df)·max-over-front tfw — the exact block max under CURRENT
        stats, derived from the stats-independent (tf, dl) Pareto front.
        """
        from antidb_spark.functions.bm25 import idf, tf_weight

        dfs = self.catalog.read("terms")
        stats = self.catalog.read("stats")
        meta = (
            blocks.select("term", "block_id", "tfs_front", "dls_front")
            .join(F.broadcast(qt), "term")
            .join(
                F.broadcast(dfs.join(qt.select("term").distinct(), "term")),
                "term",
            )
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "max_score",
                idf(F.col("df"), F.col("n_docs"))
                * F.array_max(
                    F.zip_with(
                        F.col("tfs_front"),
                        F.col("dls_front"),
                        lambda tf, dl: tf_weight(tf, dl, F.col("avgdl")),
                    )
                ),
            )
            .select("query_id", "term", "block_id", "max_score")
        )
        per_term_max = meta.groupBy("query_id", "term").agg(
            F.max("max_score").alias("m_t")
        )
        per_query_sum = per_term_max.groupBy("query_id").agg(
            F.sum("m_t").alias("m_sum")
        )
        # pass 1: best block per (query, term)
        w_best = Window.partitionBy("query_id", "term").orderBy(
            F.desc("max_score"), F.asc("block_id")
        )
        best_ids = (
            meta.withColumn("_rn", F.row_number().over(w_best))
            .filter(F.col("_rn") == 1)
            .select("block_id")
            .distinct()
        )
        pass1_blocks = blocks.join(F.broadcast(best_ids), "block_id")
        pass1 = self._scored(self._decoded_postings(pass1_blocks), qt)
        w_theta = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_ord")
        )
        theta = (
            pass1.withColumn("_rn", F.row_number().over(w_theta))
            .filter(F.col("_rn") == k)
            .select("query_id", F.col("score").alias("theta"))
        )
        survivors = (
            meta.join(F.broadcast(per_term_max), ["query_id", "term"])
            .join(F.broadcast(per_query_sum), "query_id")
            .join(F.broadcast(theta), "query_id", "left")
            .filter(
                F.col("theta").isNull()
                | (F.col("max_score") + F.col("m_sum") - F.col("m_t")
                   >= F.col("theta"))
            )
            .select("block_id")
            .distinct()
        )
        return blocks.join(F.broadcast(survivors), "block_id")

    def query(self, query: str, k: int = 10, prune: bool = True) -> DataFrame:
        """Single-query top-k: (*id_cols, score)."""
        return self.query_batch([query], k=k, prune=prune).drop("query_id")

    # Above this many candidate blocks the interactive path would decode
    # too much on one core — fall back to the distributed batch path.
    WARM_MAX_BLOCKS = 5_000
    # Dense warm scoring allocates one float per corpus doc; above this
    # the sparse (np.unique) path is used instead (a 50M-doc dense array
    # is 400 MB — fine on a driver, wrong at 10^12 docs).
    DENSE_WARM_MAX_DOCS = 50_000_000
    # Below this corpus size the whole (doc_ord → ids) mapping lives on
    # the driver (≈ 2M rows ≈ tens of MB) and final id resolution is a
    # dict lookup; above it, resolution stays a pruned pyarrow read.
    DOCMAP_CACHE_MAX_DOCS = 2_000_000

    def _resolve_ords(self, ords: Sequence[int]) -> pd.DataFrame:
        """(doc_ord, *id_cols) rows for the given ordinals — driver
        docmap cache when the corpus qualifies, else manifest-pruned
        pyarrow (row-group predicate) read. Zero Spark jobs either way."""
        n_docs, _ = self._corpus_stats()
        if n_docs <= self.DOCMAP_CACHE_MAX_DOCS:
            pdf = self._at_head("docmap", lambda: self.catalog.read_arrow(
                "docmap", columns=["doc_ord", *self.id_cols]
            ).to_pandas().set_index("doc_ord"))
            return pdf.loc[list(ords)].reset_index()
        return (
            self.catalog.read_pruned_arrow(
                "docmap", "doc_ord", values=[int(o) for o in ords],
                columns=["doc_ord", *self.id_cols],
            )
            .to_pandas()
            .set_index("doc_ord")
            .loc[list(ords)]  # request order, same as the cached branch
            .reset_index()
        )

    def _warm_postings(
        self, terms: Sequence[str], avgdl: float
    ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        """Decoded (ords, tfw) per term for the warm tier, from the
        bounded LRU posting-list cache; cache misses trigger ONE pruned
        pyarrow read + decode for all missing terms together. Absent
        terms cache empty arrays so repeated misses do no IO.

        tfw (the BM25 tf/length weight) is precomputed at insert — it
        depends only on (tf, dl, avgdl), so a cached query is one
        idf-multiply + bincount, and the cache is keyed by the blocks
        snapshot AND the avgdl the weights were computed with. Per-term
        precompute is elementwise, hence bit-identical to computing tfw
        over the concatenated stream."""
        snap = self.catalog.manifest("blocks")["snapshot_id"]

        def load(missing: list[str]) -> dict:
            batch = self.catalog.read_pruned_arrow(
                "blocks", "term", missing,
                columns=["term", "n_docs", "docs_packed", "tfs_packed",
                         "dls_packed"],
            ).to_pandas()
            empty = (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )
            found: dict[str, tuple] = {}
            if len(batch):
                term_rep, ords, tfs, dls = _decode_batch(batch)
                tfw = self._tfw(
                    tfs.astype(np.float64), dls.astype(np.float64), avgdl
                )
                # The decoded stream is term-major only within one run;
                # after compact_incremental appends, a term's blocks from
                # different runs interleave with other query terms. A
                # stable sort by term makes every term one contiguous
                # slice (within-term file order preserved). Float-safe:
                # each (term, doc) posting is unique — a doc lives in
                # exactly one run — so per-doc bincount summation order
                # stays the per-query-term order regardless of how a
                # term's runs were ordered in the raw stream.
                if term_rep.size and (term_rep[1:] < term_rep[:-1]).any():
                    order = np.argsort(term_rep, kind="stable")
                    term_rep = term_rep[order]
                    ords, tfw = ords[order], tfw[order]
                bounds = np.flatnonzero(term_rep[1:] != term_rep[:-1]) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [term_rep.size]))
                for s, e in zip(starts, ends):
                    found[term_rep[s]] = (ords[s:e], tfw[s:e])
            return {t: found.get(t, empty) for t in missing}

        return self._postings.get(
            (snap, avgdl), terms, load, self.POSTINGS_CACHE_MAX
        )

    def _warm_top_ords(
        self, query: str | Sequence[str], k: int
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """Driver-side top-k (doc_ords, scores) for one query (a string,
        or a pre-expanded term list) — the shared scoring core of
        ``query_warm`` / ``query_prefix_warm`` and the warm snippet tier
        (``phrase.term_positions_warm``). Returns None when the query
        exceeds the warm block budget (caller falls back to the
        distributed path); empty arrays when nothing matches."""
        plan = self._plan_queries([query])
        empty = (np.array([], dtype=np.int64), np.array([], dtype=np.float64))
        if plan is None:
            return empty
        if plan["est_blocks"] > self.WARM_MAX_BLOCKS:
            return None
        # per-term decoded postings from the LRU cache (one pruned read
        # for the misses); concatenation in plan["terms"] order is the
        # same term-ascending order the direct batch read produced, so
        # float summation order — and therefore every score bit — is
        # unchanged vs the uncached path.
        cached = self._warm_postings(plan["terms"], plan["avgdl"])
        sizes = np.array(
            [cached[t][0].size for t in plan["terms"]], dtype=np.int64
        )
        if not sizes.sum():
            return empty
        ords = np.concatenate([cached[t][0] for t in plan["terms"]])
        tfw = np.concatenate([cached[t][1] for t in plan["terms"]])
        idf_map = plan["idf"]
        idf_post = np.repeat(
            np.array([idf_map[t] for t in plan["terms"]], dtype=np.float64),
            sizes,
        )
        contrib = idf_post * tfw
        # tombstoned docs: zero/drop BEFORE the top-k cut (zeroing keeps
        # the "score 0.0 = no match" invariant — alive hits are > 0)
        ts = self._tomb_state()
        if plan["n_docs"] <= self.DENSE_WARM_MAX_DOCS:
            # doc ordinals are DENSE → O(postings) bincount scoring, no
            # sort (np.unique was the warm path's dominant cost); a hit
            # never scores exactly 0.0 (idf, tfw > 0), so 0 = no match
            scores = np.bincount(
                ords, weights=contrib, minlength=plan["n_docs"]
            )
            if ts is not None:
                dead = ts[1]
                scores[dead[dead < scores.size]] = 0.0
            cut = (
                np.partition(scores, scores.size - k)[scores.size - k]
                if scores.size > k else 0.0
            )
            cand = np.flatnonzero(scores >= max(cut, np.finfo(float).tiny))
            order = np.lexsort((cand, -scores[cand]))[:k]
            uniq, top = cand, cand[order]
            top_scores = scores[top]
        else:
            uniq, inv = np.unique(ords, return_inverse=True)
            scores = np.bincount(inv, weights=contrib, minlength=uniq.size)
            if ts is not None:
                alive = _alive_bits(ts[0], uniq)
                uniq, scores = uniq[alive], scores[alive]
            sel = np.lexsort((uniq, -scores))[:k]
            top = uniq[sel]
            top_scores = scores[sel]
        return top.astype(np.int64), top_scores

    def query_warm(self, query: str, k: int = 10) -> pd.DataFrame:
        """Interactive single-query BM25 with NO Spark job — the warm
        path matching the reference's hundredths-of-a-second class
        (README.md:43,47): manifest-pruned pyarrow block reads, numpy
        decode + scoring, driver-side top-k, pyarrow docmap resolve.
        Used when the query's candidate blocks fit one core
        (≤ WARM_MAX_BLOCKS, i.e. rare/mid terms — the interactive
        regime); stopword-heavy queries fall back to the distributed
        ``query_batch``. Returns pandas (*id_cols, score), rank- and
        value-identical to the batch path (pinned by tests)."""
        return self._warm_frame(query, k)

    def _warm_frame(self, query: str | Sequence[str], k: int) -> pd.DataFrame:
        """(*id_cols, score) top-k for one query (string or expanded
        term list): the warm core plus id resolve, or ``query_batch``
        when the query exceeds the warm block budget."""
        r = self._warm_top_ords(query, k)
        if r is None:
            out = self.query_batch([query], k=k).toPandas()
            return out.drop(columns=["query_id"]).reset_index(drop=True)
        top, top_scores = r
        if top.size == 0:
            return pd.DataFrame(columns=[*self.id_cols, "score"])
        out = self._resolve_ords(
            [int(o) for o in top]
        )[list(self.id_cols)].copy()
        out["score"] = top_scores
        return out

    def query_prefix_warm(
        self, prefix: str, k: int = 10, max_terms: int | None = None
    ) -> pd.DataFrame:
        """Interactive prefix/wildcard top-k with NO Spark job: the
        expansion comes from the range-pruned terms table (pyarrow) and
        scoring runs through the shared warm core over the expanded
        disjunct — value-identical to ``query_batch`` on the expansion
        set and rank-identical to ``query_prefix`` (pinned by tests).
        Stopword-grade prefixes ("t*") exceed the warm block budget and
        fall back to the distributed batch path on the same
        expansion."""
        exp = self.expand_prefix(prefix, max_terms)
        if not exp:
            return pd.DataFrame(columns=[*self.id_cols, "score"])
        return self._warm_frame(exp, k)

    # -- antidb-parity point/range reads over the PHYSICAL index ---------
    # (Prs.eq/rng against the .adb archive, prs.py:86-131: file-level
    # manifest pruning is the tree descent, block decode is the leaf
    # read, the docmap join is the seek+readline row fetch.)

    def eq_terms(self, *terms: str) -> DataFrame:
        """Batch point lookup from packed blocks: (query_ord, *id_cols,
        tf), per-query groups in argument order, ties in (*id_cols)
        order, miss → empty (multiset semantics, SURVEY §2.4)."""
        uniq = list(dict.fromkeys(terms))
        blocks = self.catalog.read_pruned("blocks", "term", uniq).filter(
            F.col("term").isin(uniq)
        )
        post = self._drop_tombstones(self._decoded_postings(blocks))
        qdf = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(terms)], "query_ord int, term string"
        )
        docmap = self.catalog.read("docmap")
        return (
            post.join(F.broadcast(qdf), "term")
            .join(docmap.select("doc_ord", *self.id_cols), "doc_ord")
            .select("query_ord", *self.id_cols, "tf")
            .orderBy("query_ord", "doc_ord")
        )

    def rng_terms(self, start: str, end: str) -> DataFrame:
        """Inclusive term-range scan from packed blocks: (term, *id_cols,
        tf) ordered by (term, *id_cols); start > end raises (prs.py:50-52)."""
        from antidb_spark.err import QueryStartGtEndError

        if start > end:
            raise QueryStartGtEndError(start, end)
        man = self.catalog.manifest("blocks")
        keep = [
            e for e in man["files"]
            if e.get("min_term") is None
            or not (e["max_term"] < start or e["min_term"] > end)
        ]
        if keep:
            paths = [
                os.path.join(self.catalog.table_dir("blocks"), e["path"])
                for e in keep
            ]
            blocks = self.spark.read.parquet(*paths)
        else:  # nothing overlaps → empty relation with the right schema
            blocks = self.catalog.read("blocks").limit(0)
        blocks = blocks.filter(
            (F.col("term") >= start) & (F.col("term") <= end)
        )
        post = self._drop_tombstones(self._decoded_postings(blocks))
        docmap = self.catalog.read("docmap")
        return (
            post.join(docmap.select("doc_ord", *self.id_cols), "doc_ord")
            .select("term", *self.id_cols, "tf", "doc_ord")
            .orderBy("term", "doc_ord")
            .drop("doc_ord")
        )

    def _pinned_doc_scores(
        self, q_terms: Sequence[str],
        weights: Sequence[float] | None = None,
    ) -> DataFrame:
        """Per-doc deterministic BM25 scores from the committed index:
        (doc_ord, c0..c{n-1}, score) where c{i} is term i's summed
        contribution (NULL ⟺ the doc lacks term i) and score is the
        sorted-term fixed-order sum rounded to 4dp — the shared scoring
        core of ``query_pinned`` / ``query_filtered`` (same float
        discipline as ``topk.bm25_topk_pinned``).

        ``weights`` (aligned to ``q_terms``) scales term i's
        contribution by w{i} BEFORE the fixed-order sum — query-time
        boosting. Each doc has at most one posting row per term, so
        c{i} is a single contribution value and ``c{i} * w{i}`` is
        bit-identical to a per-row multiply (the form a SQL ordered
        aggregate reproduces)."""
        import operator as _op
        from functools import reduce

        blocks = self.catalog.read_pruned("blocks", "term", q_terms).filter(
            F.col("term").isin(list(q_terms))
        )
        post = self._decoded_postings(blocks)
        dfs = self.catalog.read("terms").filter(
            F.col("term").isin(list(q_terms))
        )
        stats = self.catalog.read("stats")
        per_term = (
            post.join(F.broadcast(dfs), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "contrib",
                contribution(F.col("tf"), F.col("df"), F.col("dl"),
                             F.col("avgdl"), F.col("n_docs")),
            )
        )
        aggs = [
            F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(f"c{i}")
            for i, t in enumerate(q_terms)
        ]
        if weights is None:
            weights = [1.0] * len(q_terms)
        parts = [
            F.coalesce(F.col(f"c{i}"), F.lit(0.0)) * F.lit(float(w))
            if w != 1.0 else F.coalesce(F.col(f"c{i}"), F.lit(0.0))
            for i, w in enumerate(weights)
        ]
        score = F.round(reduce(_op.add, parts), 4)
        return per_term.groupBy("doc_ord").agg(*aggs).withColumn(
            "score", score
        )

    def _empty_topk(self) -> DataFrame:
        dm = self._docmap_schema()
        schema = ", ".join(
            f"{c} {dm[c].dataType.simpleString()}"
            for c in self.id_cols
        ) + ", score double"
        return self.spark.createDataFrame([], schema)

    def _resolve_topk(
        self, top: DataFrame, k: int,
        after: tuple | None = None,
    ) -> DataFrame:
        """(doc_ord, score) → (*id_cols, score): take the top-k BEFORE
        resolving ids — doc_ord IS the (*id_cols) tiebreak order, so
        TakeOrdered runs on the narrow relation and only k rows meet the
        docmap (broadcast the k side).

        ``after`` = (score, *id_vals) of the last row already delivered
        (search-after paging): keep strictly-later rows in the total
        (score desc, *id_cols asc) order. Docs below the score need no
        id resolution; only score-TIED docs join the docmap for the
        lexicographic id comparison — a handful of rows, never the
        candidate set.

        Tombstoned docs are dropped here, BEFORE the top-k cut — the
        single chokepoint for the whole pinned query family (plain /
        filtered / bool / boosted / prefix / fuzzy / regex / MLT /
        paging)."""
        top = self._drop_tombstones(top)
        if after is not None:
            s_after, *ids_after = after
            if len(ids_after) != len(self.id_cols):
                raise ValueError(
                    f"after must be (score, {', '.join(self.id_cols)})"
                )
            docmap_ids = self.catalog.read("docmap").select(
                "doc_ord", *self.id_cols
            )
            lex = F.lit(False)
            prefix_eq = F.lit(True)
            for c, v in zip(self.id_cols, ids_after):
                lex = lex | (prefix_eq & (F.col(c) > F.lit(v)))
                prefix_eq = prefix_eq & (F.col(c) == F.lit(v))
            tied = (
                top.filter(F.col("score") == F.lit(float(s_after)))
                .join(docmap_ids, "doc_ord")
                .filter(lex)
                .select("doc_ord", "score")
            )
            top = top.filter(
                F.col("score") < F.lit(float(s_after))
            ).unionByName(tied)
        top = top.orderBy(F.desc("score"), F.asc("doc_ord")).limit(k)
        docmap = self.catalog.read("docmap")
        return (
            docmap.select("doc_ord", *self.id_cols)
            .join(F.broadcast(top), "doc_ord")
            .select(*self.id_cols, "score", "doc_ord")
            .orderBy(F.desc("score"), F.asc("doc_ord"))
            .drop("doc_ord")
        )

    def _excluded_ords(self, ex_terms: Sequence[str]) -> DataFrame:
        """Distinct doc_ords containing ANY of ``ex_terms`` (the NOT
        side), from manifest-pruned blocks — an anti-join input sized by
        the excluded terms' postings, never the corpus."""
        blocks = self.catalog.read_pruned("blocks", "term", ex_terms).filter(
            F.col("term").isin(list(ex_terms))
        )
        return self._decoded_postings(blocks).select("doc_ord").distinct()

    def query_pinned(
        self,
        query: str,
        k: int = 10,
        require_all: bool = False,
        exclude: str | None = None,
        after: tuple | None = None,
    ) -> DataFrame:
        """Cross-engine-deterministic top-k over the physical index:
        per-term contributions summed in sorted-term fixed order, score
        rounded to 4dp before ranking (same discipline as
        ``topk.bm25_topk_pinned`` — see its docstring), sourcing
        tf/df/dl from the committed index tables.

        Boolean modes over the same scored aggregate:

        - ``require_all=True``: disjunctive (OR) → conjunctive (AND) —
          only docs containing EVERY query term rank; the per-term
          partial c{i} being NULL is exactly "doc lacks term i", so AND
          is a filter on the already-computed aggregate, no extra pass.
        - ``exclude="..."``: NOT — docs containing ANY excluded term are
          anti-joined out (before top-k, so exactly k surviving docs
          resolve). Excluded terms don't affect surviving docs' scores.
        - ``after=(score, *id_vals)``: search-after paging — return the
          next k results strictly after that row in the (score desc,
          *id_cols asc) total order; equivalent to OFFSET past it but
          O(k), stable across pages, and never recomputes earlier
          pages (the deep-pagination contract search engines expose
          instead of OFFSET).
        """
        from antidb_spark.functions.analyze import py_tokens

        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self._empty_topk()
        scored = self._pinned_doc_scores(q_terms)
        if require_all:
            for i in range(len(q_terms)):
                scored = scored.filter(F.col(f"c{i}").isNotNull())
        ex_terms = sorted(set(py_tokens(exclude))) if exclude else []
        if ex_terms:
            scored = scored.join(
                self._excluded_ords(ex_terms), "doc_ord", "left_anti"
            )
        return self._resolve_topk(
            scored.select("doc_ord", "score"), k, after=after
        )

    def explain(self, query: str, k: int = 10) -> DataFrame:
        """Score explanation (the Lucene ``Explanation`` analog),
        index-served: one row per (top-k doc, matching query term) with
        the full BM25 factor breakdown — (*id_cols, term, tf, dl, df,
        idf, tf_weight, contribution, score).

        Consistent with ``query_pinned`` BY CONSTRUCTION: the top-k
        (and every visibility rule — tombstones, upsert generations)
        comes from ``query_pinned`` itself; the breakdown then joins
        ONLY those k docs (broadcast) against the decoded pruned
        blocks, so explain never scores more than the query already
        did. ``score`` is the doc's pinned 4dp total; factor columns
        round at 6dp for cross-engine hashing."""
        from antidb_spark.functions.analyze import py_tokens
        from antidb_spark.functions.bm25 import idf as _idf
        from antidb_spark.functions.bm25 import tf_weight as _tfw

        q_terms = sorted(set(py_tokens(query)))
        tops = self.query_pinned(query, k=k)
        if not q_terms:
            return tops.limit(0).select(
                *self.id_cols, F.lit("").alias("term"),
                F.lit(0).cast("long").alias("tf"),
                F.lit(0).cast("long").alias("dl"),
                F.lit(0).cast("long").alias("df"),
                F.lit(0.0).alias("idf"), F.lit(0.0).alias("tf_weight"),
                F.lit(0.0).alias("contribution"), F.col("score"),
            )
        # drop tombstoned ordinals BEFORE the id join: after an upsert
        # the docmap holds superseded generations under the same id
        dm = self._drop_tombstones(self.catalog.read("docmap"))
        top_ords = dm.join(F.broadcast(tops), list(self.id_cols)).select(
            "doc_ord", *self.id_cols, "score"
        )
        blocks = self.catalog.read_pruned("blocks", "term", q_terms).filter(
            F.col("term").isin(q_terms)
        )
        post = self._decoded_postings(blocks).join(
            F.broadcast(top_ords), "doc_ord"
        )
        dfs = self.catalog.read("terms").filter(F.col("term").isin(q_terms))
        stats = self.catalog.read("stats")
        return (
            post.join(F.broadcast(dfs), "term")
            .crossJoin(F.broadcast(stats))
            .select(
                *self.id_cols,
                "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("dl").cast("long").alias("dl"),
                F.col("df").cast("long").alias("df"),
                F.round(_idf(F.col("df"), F.col("n_docs")), 6).alias("idf"),
                F.round(
                    _tfw(F.col("tf"), F.col("dl"), F.col("avgdl")), 6
                ).alias("tf_weight"),
                F.round(
                    contribution(F.col("tf"), F.col("df"), F.col("dl"),
                                 F.col("avgdl"), F.col("n_docs")),
                    6,
                ).alias("contribution"),
                "score",
            )
        )

    def query_grouped(
        self, query: str, group_cols: Sequence[str], k: int = 10
    ) -> DataFrame:
        """Group-level rollup ranking from the committed index: rank
        GROUPS (for transcripts: conversations — ``group_cols=
        ["conv_id"]`` over id_cols (conv_id, turn_idx)) by their best
        member's pinned BM25 score. Output (*group_cols, n_hits,
        best_score) ordered by (best_score DESC, *group_cols ASC),
        top k.

        A group's winner may sit below the global top-k cut, so this
        scores every matching doc (``_pinned_doc_scores`` — already
        |matching postings|-bounded via the term-pruned block scan,
        never |corpus|) and rolls up with order-free aggregates
        (count, max over the 4dp-rounded scores → cross-engine exact).
        Scale shape: one docmap join keyed on doc_ord (skipped
        entirely when the groups are a prefix of id_cols resolved from
        docmap anyway), then one map-side-combinable shuffle keyed by
        groups ≪ docs, then TakeOrderedAndProject."""
        from antidb_spark.functions.analyze import py_tokens

        gcols = list(group_cols)
        unknown = [c for c in gcols if c not in self.id_cols]
        if unknown:
            # group attributes may live in docmeta instead (documents:
            # source/lang) — same resolution rule as group_top_hits
            if not self.ckpt.is_done("docmeta"):
                raise ValueError(
                    f"group_cols {unknown} not in id_cols "
                    f"{list(self.id_cols)} and docmeta is not built"
                )
            meta = self.catalog.read("docmeta")
            missing = [c for c in gcols if c not in meta.columns]
            if missing:
                # one source serves the whole group key: mixing id
                # components with docmeta attrs needs the attrs
                # (or ids) duplicated into docmeta at build_doc_meta
                raise ValueError(
                    f"group_cols {missing} not all in docmeta columns "
                    f"{[c for c in meta.columns if c != 'doc_ord']}"
                )
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            src = self.catalog.read("docmap") if not unknown \
                else self.catalog.read("docmeta")
            schema = ", ".join(
                [f"{c} {src.schema[c].dataType.simpleString()}"
                 for c in gcols]
                + ["n_hits bigint", "best_score double"]
            )
            return self.spark.createDataFrame([], schema)
        scored = self._drop_tombstones(
            self._pinned_doc_scores(q_terms).select("doc_ord", "score")
        )
        gsrc = (
            self.catalog.read("docmap") if not unknown
            else self.catalog.read("docmeta")
        ).select("doc_ord", *gcols)
        return (
            scored.join(gsrc, "doc_ord")
            .groupBy(*gcols)
            .agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.max("score").alias("best_score"),
            )
            .orderBy(F.desc("best_score"), *[F.asc(c) for c in gcols])
            .limit(k)
        )

    def query_bool(
        self, must: str = "", should: str = "", must_not: str = "",
        k: int = 10, min_should_match: int = 0,
    ) -> DataFrame:
        """Composed boolean ranking (the search-DSL bool-query shape):
        docs must contain EVERY ``must`` term; ``should`` terms add
        score without being required; ``must_not`` terms exclude.
        Score = the pinned disjunct over must ∪ should (required terms
        contribute to the score too — standard bool-query semantics),
        so ``must_not``/``should`` empty degrades exactly to
        ``query_pinned(must, require_all=True)`` and ``must`` empty to
        ``query_pinned(should)``.

        ``min_should_match`` (the Lucene/ES knob of the same name)
        requires at least that many DISTINCT optional terms — the
        ``should`` terms not already required by ``must`` — to be
        present per doc. It is a pure filter over the per-term
        presence columns the scoring pass already computed (``c{i}``
        NULL ⟺ term absent), so it adds zero reads and zero shuffles;
        asking for more optional matches than there are optional terms
        yields an empty result, the Lucene contract."""
        from antidb_spark.functions.analyze import py_tokens

        must_t = set(py_tokens(must))
        q_terms = sorted(must_t | set(py_tokens(should)))
        if not q_terms:
            return self._empty_topk()
        scored = self._pinned_doc_scores(q_terms)
        for i, t in enumerate(q_terms):
            if t in must_t:
                scored = scored.filter(F.col(f"c{i}").isNotNull())
        if min_should_match:
            import operator as _op
            from functools import reduce

            opt_idx = [
                i for i, t in enumerate(q_terms) if t not in must_t
            ]
            if len(opt_idx) < min_should_match:
                return self._empty_topk()
            matched = reduce(_op.add, [
                F.when(F.col(f"c{i}").isNotNull(), 1).otherwise(0)
                for i in opt_idx
            ])
            scored = scored.filter(matched >= int(min_should_match))
        ex_terms = sorted(set(py_tokens(must_not))) if must_not else []
        if ex_terms:
            scored = scored.join(
                self._excluded_ords(ex_terms), "doc_ord", "left_anti"
            )
        return self._resolve_topk(
            scored.select("doc_ord", "score"), k
        )

    def query_synonyms(
        self, query: str,
        synonyms: dict[str, Sequence[str]] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """Synonym-group ranking with BLENDED statistics (the Lucene
        SynonymQuery contract): each query token and its synonyms form
        ONE logical term whose per-doc tf is the SUM of member tfs and
        whose df is the number of docs containing ANY member — a rare
        synonym never gets an inflated idf of its own, and a doc
        mentioning two members once each ranks like one mentioning the
        group twice. Score = fixed-order sum over sorted group
        representatives rounded to 4dp (the pinned float discipline),
        so ``synonyms`` empty degrades bit-exactly to ``query_pinned``.

        ``synonyms`` maps a query token → its synonym terms; each
        synonym runs through the shared analyzer (a multi-word synonym
        contributes each of its tokens). Scoring reads only the member
        terms' manifest-pruned block files; group df comes from a tiny
        per-rep aggregate broadcast back onto the candidates (NOT a
        window over rep — that would funnel a stopword-grade group's
        postings into one task at scale).

        Reference analog: A1's synonym FALLBACK tries alternate keys
        only on a miss (lookup.py:146-196; reference README annotation
        loop) — this is the ranking-level generalization a full-text
        engine exposes for the same need."""
        import operator as _op
        from functools import reduce

        from antidb_spark.functions.analyze import py_tokens

        synonyms = synonyms or {}
        reps = sorted(set(py_tokens(query)))
        if not reps:
            return self._empty_topk()
        pairs: list[tuple[str, str]] = []
        for r in reps:
            members = {r}
            for s in synonyms.get(r, ()):
                members.update(py_tokens(s))
            pairs.extend((m, r) for m in sorted(members))
        all_terms = sorted({m for m, _ in pairs})
        mapping = self.spark.createDataFrame(
            pairs, "term string, rep string"
        )
        blocks = self.catalog.read_pruned("blocks", "term", all_terms).filter(
            F.col("term").isin(all_terms)
        )
        post = self._decoded_postings(blocks)
        # one row per (rep, doc): the group's blended tf; dl is a
        # per-doc constant so max() just carries it through
        grouped = (
            post.join(F.broadcast(mapping), "term")
            .groupBy("rep", "doc_ord")
            .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
        )
        gdf = grouped.groupBy("rep").agg(
            F.count(F.lit(1)).alias("df")
        )
        stats = self.catalog.read("stats")
        scored = (
            grouped.join(F.broadcast(gdf), "rep")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "contrib",
                contribution(F.col("tf"), F.col("df"), F.col("dl"),
                             F.col("avgdl"), F.col("n_docs")),
            )
        )
        aggs = [
            F.sum(F.when(F.col("rep") == r, F.col("contrib"))).alias(f"c{i}")
            for i, r in enumerate(reps)
        ]
        parts = [
            F.coalesce(F.col(f"c{i}"), F.lit(0.0)) for i in range(len(reps))
        ]
        top = scored.groupBy("doc_ord").agg(*aggs).withColumn(
            "score", F.round(reduce(_op.add, parts), 4)
        )
        return self._resolve_topk(top.select("doc_ord", "score"), k)

    # -- prefix (wildcard) search -----------------------------------------

    # 'a*' over a web-scale vocabulary can match millions of terms; the
    # expansion is capped DETERMINISTICALLY (lexicographically first) so
    # two engines computing the same query score the same disjunct.
    MAX_PREFIX_EXPANSIONS = 128

    def expand_prefix(
        self, prefix: str, max_terms: int | None = None
    ) -> list[str]:
        """Index terms starting with ``prefix`` (analyzer-lowercased),
        lexicographically first ``max_terms``. Served by a manifest
        RANGE prune on the term-sorted terms table ([prefix,
        prefix+U+10FFFF] — the B+tree-descent analog, prs.py:57-77) plus
        a driver-side pyarrow read: no Spark job, no full-vocabulary
        scan."""
        prefix = prefix.lower()
        if not prefix:
            return []
        if max_terms is None:
            max_terms = self.MAX_PREFIX_EXPANSIONS
        tbl = self.catalog.read_pruned_arrow(
            "terms", "term", lo=prefix, hi=prefix + chr(0x10FFFF),
            columns=["term"],
        )
        terms = sorted(
            t for t in tbl.column("term").to_pylist()
            if t is not None and t.startswith(prefix)
        )
        return terms[:max_terms]

    def query_prefix(
        self, prefix: str, k: int = 10, max_terms: int | None = None
    ) -> DataFrame:
        """Prefix/wildcard top-k ("s*"): every index term starting with
        ``prefix`` joins the disjunct with its OWN df→idf (multi-term
        expansion, the same scored-OR semantics as ``query_pinned`` on
        the expanded set), pinned float discipline. Expansion is
        driver-side from the range-pruned terms table; scoring reads
        only the expansions' manifest-pruned blocks."""
        exp = self.expand_prefix(prefix, max_terms)
        if not exp:
            return self._empty_topk()
        return self._resolve_topk(
            self._pinned_doc_scores(exp).select("doc_ord", "score"), k
        )

    def more_like_this(
        self, text: str, m: int = 5, k: int = 10
    ) -> DataFrame:
        """Query-by-document ("more like this"): select the ``m`` most
        characteristic terms of ``text`` — source term frequency ×
        corpus idf (Lucene MLT's selection heuristic), ties broken
        term-ascending — then rank the corpus with the standard pinned
        disjunct over that term set. Selection is pure driver-side
        planning: tf from the shared analyzer, df from the
        manifest-pruned terms table, corpus stats from the committed
        stats row — no Spark job before the final scoring read, which
        prunes to the selected terms' block files."""
        import math
        from collections import Counter

        from antidb_spark.functions.analyze import py_tokens

        tf = Counter(py_tokens(text))
        if not tf:
            return self._empty_topk()
        dfs = self._term_dfs(sorted(tf))
        if not dfs:
            return self._empty_topk()
        n_docs, _ = self._corpus_stats()
        weighted = sorted(
            (
                (t, tf[t] * math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))
                for t, d in dfs.items()
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        sel = sorted(t for t, _ in weighted[:m])
        return self._resolve_topk(
            self._pinned_doc_scores(sel).select("doc_ord", "score"), k
        )

    # -- fuzzy (edit-distance) and regex term search ----------------------

    # Deterministic expansion caps (same rationale as
    # MAX_PREFIX_EXPANSIONS: two engines computing the same query must
    # score the same disjunct).
    MAX_FUZZY_EXPANSIONS = 64
    MAX_REGEX_EXPANSIONS = 128
    #: deletion-neighborhood depth committed in ``terms_del`` — covers
    #: every fuzzy/suggest query with max_edits ≤ this (SymSpell
    #: theorem: lev(a,b) ≤ e ⟹ their ≤e-deletion sets intersect)
    SYMSPELL_MAX_EDITS = 2

    def build_deletion_index(self) -> dict:
        """Commit ``terms_del`` — the SymSpell deletion-neighborhood
        table (delkey, term): every string reachable from an index term
        by ≤ SYMSPELL_MAX_EDITS character deletions, range-sorted and
        manifest-stats'd on delkey. This trades index space (~L²/2 rows
        per term of length L) for fuzzy lookups that read only the
        probe's own neighborhood buckets — a manifest-pruned point read
        instead of the O(vocabulary) length-banded Levenshtein scan per
        query (which the round-4 verdict flagged as the fuzzy scale
        ceiling; the classic bound for pathological vocabularies is
        prefix-SymSpell, indexing deletes of the first ~7 chars only).
        O(vocabulary) to build, never a corpus scan; re-synced when the
        terms snapshot moves (same contract as ``terms_rev``)."""
        src = self.catalog.manifest("terms")["snapshot_id"]
        t = F.col("term")
        L = F.length(t)
        d1 = F.transform(
            F.sequence(F.lit(1), L),
            lambda i: F.concat(
                F.substring(t, 1, i - 1), F.substring(t, i + 1, L)
            ),
        )
        # two deletions at original positions i<j (guarded: Spark's
        # sequence(1, 0) counts DOWN, so L=1 must shortcut to empty)
        d2 = F.when(L >= 2, F.flatten(F.transform(
            F.sequence(F.lit(1), L - 1),
            lambda i: F.transform(
                F.sequence(i + 1, L),
                lambda j: F.concat(
                    F.substring(t, 1, i - 1),
                    F.substring(t, i + 1, j - i - 1),
                    F.substring(t, j + 1, L),
                ),
            ),
        ))).otherwise(F.array().cast("array<string>"))
        variants = F.array_distinct(
            F.concat(F.array(t), d1, d2)
            if self.SYMSPELL_MAX_EDITS >= 2
            else F.concat(F.array(t), d1)
        )
        rows = (
            self.catalog.read("terms")
            .select(F.explode(variants).alias("delkey"), "term")
            .repartitionByRange(F.col("delkey"), F.col("term"))
            .sortWithinPartitions("delkey", "term")
        )
        man = self.catalog.replace(
            rows, "terms_del", stats_cols=["delkey"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src,
                   "max_edits": self.SYMSPELL_MAX_EDITS},
        )
        self.ckpt.mark_done("terms_del", snapshot=man["snapshot_id"],
                            seconds=0.0)
        return man

    def _ensure_terms_del(self) -> None:
        """Build/refresh ``terms_del`` when missing or stale vs the
        committed terms snapshot (vocabulary drift after appends)."""
        cur = self.catalog.manifest("terms")["snapshot_id"]
        if not self.catalog.exists("terms_del") or (
            self.catalog.manifest("terms_del")
            .get("props", {})
            .get("src_snapshot") != cur
        ):
            self.build_deletion_index()

    @staticmethod
    def _deletion_neighborhood(q: str, depth: int) -> list[str]:
        """All strings reachable from ``q`` by ≤ depth deletions
        (including q itself) — the probe-side SymSpell keys; ≤
        1 + L + L(L−1)/2 strings at depth 2."""
        out = {q}
        frontier = {q}
        for _ in range(depth):
            frontier = {
                s[:i] + s[i + 1:] for s in frontier for i in range(len(s))
            }
            out |= frontier
        return sorted(out)

    @staticmethod
    def _lev(a: str, b: str) -> int:
        """Classical Levenshtein DP over codepoints — value-identical
        to Spark's ``F.levenshtein`` (the verify step must agree with
        the distributed fallback and the DuckDB oracle)."""
        if a == b:
            return 0
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def _fuzzy_candidates(self, q: str, max_edits: int) -> list[str]:
        """Candidate index terms from the committed deletion
        neighborhood: a manifest-pruned pyarrow point read of the
        probe's own delkey buckets — NO Spark job, O(neighborhood
        buckets) not O(vocabulary). The SymSpell theorem makes this a
        superset of the Levenshtein ball, so the exact verify that
        follows loses nothing."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self._ensure_terms_del()
        keys = self._deletion_neighborhood(q, max_edits)
        tbl = self.catalog.read_pruned_arrow(
            "terms_del", "delkey", values=keys, columns=["delkey", "term"]
        )
        mask = pc.is_in(tbl.column("delkey"), value_set=pa.array(keys))
        return pc.unique(
            tbl.column("term").filter(mask)
        ).to_pylist()

    def expand_fuzzy(
        self, term: str, max_edits: int = 1, max_terms: int | None = None
    ) -> list[str]:
        """Index terms within ``max_edits`` Levenshtein distance of
        ``term`` (analyzer-lowercased). Served from the SymSpell
        deletion-neighborhood table (``terms_del``): candidates come
        from a manifest-pruned point read of the probe's ≤max_edits
        deletion keys (warm, no Spark job), then verify by exact
        Levenshtein — identical results to the distributed
        length-banded vocabulary scan (`_expand_fuzzy_scan`, kept as
        the fallback for max_edits beyond the committed depth), which
        is what a 0-position edit otherwise forces. Deterministic cap:
        (distance asc, term asc). Reference analog: prs.py's eq over
        user-normalized keys, with the normalization relaxed to an
        edit-distance ball."""
        q = term.lower().strip()
        if not q:
            return []
        if max_terms is None:
            max_terms = self.MAX_FUZZY_EXPANSIONS
        if max_edits > self.SYMSPELL_MAX_EDITS:
            return self._expand_fuzzy_scan(q, max_edits, max_terms)
        scored = sorted(
            (d, t)
            for t in self._fuzzy_candidates(q, max_edits)
            if (d := self._lev(t, q)) <= max_edits
        )
        return sorted(t for _, t in scored[:max_terms])

    def _expand_fuzzy_scan(
        self, q: str, max_edits: int, max_terms: int
    ) -> list[str]:
        """Distributed length-banded Levenshtein scan of the committed
        terms table — O(vocabulary) ≪ corpus; the fallback when
        ``max_edits`` exceeds the committed deletion depth."""
        dist = F.levenshtein(F.col("term"), F.lit(q))
        rows = (
            self.catalog.read("terms")
            .filter(
                F.length("term").between(
                    len(q) - max_edits, len(q) + max_edits
                )
            )
            .filter(dist <= max_edits)
            .select("term", dist.alias("dist"))
            .orderBy("dist", "term")
            .limit(max_terms)
            .collect()
        )
        return sorted(r["term"] for r in rows)

    def suggest(
        self, term: str, k: int = 5, max_edits: int = 2,
    ) -> DataFrame:
        """Did-you-mean spell suggestions from the committed vocabulary:
        the k index terms closest to ``term``, ranked (distance asc,
        df desc, term asc) — a likelier (more frequent) correction wins
        within a distance band, the standard direct-spellcheck ranking.
        The input term itself is excluded (a correctly-spelled probe
        suggests alternatives, not itself). Candidates come from the
        SymSpell deletion-neighborhood point read (``terms_del``, no
        vocabulary scan — see ``expand_fuzzy``); their df ranks arrive
        from a manifest-pruned read of the term-sorted terms table.
        Falls back to the distributed length-banded scan beyond the
        committed deletion depth. Returns (suggestion, dist, df)."""
        q = term.lower().strip()
        schema = "suggestion string, dist int, df long"
        if not q:
            return self.spark.createDataFrame([], schema)
        if max_edits > self.SYMSPELL_MAX_EDITS:
            dist = F.levenshtein(F.col("term"), F.lit(q))
            return (
                self.catalog.read("terms")
                .filter(
                    F.length("term").between(
                        len(q) - max_edits, len(q) + max_edits
                    )
                )
                .filter((dist <= max_edits) & (F.col("term") != q))
                .select(
                    F.col("term").alias("suggestion"),
                    dist.alias("dist"),
                    "df",
                )
                .orderBy("dist", F.desc("df"), "suggestion")
                .limit(k)
            )
        cands = [
            t for t in self._fuzzy_candidates(q, max_edits)
            if t != q and self._lev(t, q) <= max_edits
        ]
        if not cands:
            return self.spark.createDataFrame([], schema)
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = self.catalog.read_pruned_arrow(
            "terms", "term", values=cands, columns=["term", "df"]
        )
        mask = pc.is_in(tbl.column("term"), value_set=pa.array(cands))
        dfs = {
            r["term"]: r["df"]
            for r in tbl.filter(mask).to_pylist()
        }
        ranked = sorted(
            (self._lev(t, q), -dfs.get(t, 0), t) for t in cands
        )[:k]
        return self.spark.createDataFrame(
            [(t, d, -negdf) for d, negdf, t in ranked], schema
        )

    def query_fuzzy(
        self, term: str, k: int = 10, max_edits: int = 1,
        max_terms: int | None = None,
    ) -> DataFrame:
        """Fuzzy top-k ("spark~1"): every index term within
        ``max_edits`` of ``term`` joins the disjunct with its OWN
        df→idf — the same scored-OR semantics as ``query_prefix`` on
        the edit-distance expansion, pinned float discipline. Scoring
        reads only the expansions' manifest-pruned blocks."""
        exp = self.expand_fuzzy(term, max_edits, max_terms)
        if not exp:
            return self._empty_topk()
        return self._resolve_topk(
            self._pinned_doc_scores(exp).select("doc_ord", "score"), k
        )

    def query_fuzzy_warm(
        self, term: str, k: int = 10, max_edits: int = 1,
        max_terms: int | None = None,
    ) -> pd.DataFrame:
        """Interactive fuzzy top-k with NO Spark job: the expansion is
        the SymSpell deletion-neighborhood point read (pyarrow) and
        scoring runs through the shared warm core over the expanded
        disjunct — value-identical to ``query_batch`` on the expansion
        set and rank-identical to ``query_fuzzy`` (pinned by tests,
        the same contract as the prefix/wildcard warm tiers).
        Stopword-grade expansions exceeding the warm block budget fall
        back to the distributed batch path on the same expansion."""
        cols = [*self.id_cols, "score"]
        exp = self.expand_fuzzy(term, max_edits, max_terms)
        if not exp:
            return pd.DataFrame(columns=cols)
        r = self._warm_top_ords(exp, k)
        if r is None:
            out = self.query_batch([exp], k=k).toPandas()
            return out.drop(columns=["query_id"]).reset_index(drop=True)
        top, top_scores = r
        if top.size == 0:
            return pd.DataFrame(columns=cols)
        out = self._resolve_ords(
            [int(o) for o in top]
        )[list(self.id_cols)].copy()
        out["score"] = top_scores
        return out

    def expand_regex(
        self, pattern: str, max_terms: int | None = None
    ) -> list[str]:
        """Index terms FULLY matching ``pattern`` (anchored). Runs as a
        distributed scan of the committed terms table; keep patterns to
        the common literal/class/quantifier subset so Java regex and
        other engines agree. Deterministic lexicographic cap."""
        if not pattern:
            return []
        if max_terms is None:
            max_terms = self.MAX_REGEX_EXPANSIONS
        rows = (
            self.catalog.read("terms")
            .filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .select("term")
            .orderBy("term")
            .limit(max_terms)
            .collect()
        )
        return [r["term"] for r in rows]

    def query_regex(
        self, pattern: str, k: int = 10, max_terms: int | None = None
    ) -> DataFrame:
        """Regex term top-k: the anchored-match expansion scored as a
        multi-term disjunct (per-expansion idf, pinned floats)."""
        exp = self.expand_regex(pattern, max_terms)
        if not exp:
            return self._empty_topk()
        return self._resolve_topk(
            self._pinned_doc_scores(exp).select("doc_ord", "score"), k
        )

    # -- wildcard ("*fix", "pre*fix") over a reversed dictionary ----------

    def build_reversed_terms(self) -> dict:
        """Commit ``terms_rev`` — the reversed-term dictionary
        (rterm = reverse(term), range-sorted/stats'd on rterm) that
        serves LEADING-wildcard expansion by manifest range prune
        instead of an O(vocabulary) regex scan (the Lucene
        reversed-wildcard-field technique). O(vocabulary) to build —
        one dictionary-sized exchange, never a corpus scan — and
        re-synced automatically when the terms snapshot moves
        (appends/upserts/merges change the vocabulary); the source
        snapshot is pinned in the table props."""
        src = self.catalog.manifest("terms")["snapshot_id"]
        rev = (
            self.catalog.read("terms")
            .select(F.reverse(F.col("term")).alias("rterm"), "term")
            .repartitionByRange(F.col("rterm"))
            .sortWithinPartitions("rterm")
        )
        man = self.catalog.replace(
            rev, "terms_rev", stats_cols=["rterm"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src},
        )
        self.ckpt.mark_done("terms_rev", snapshot=man["snapshot_id"],
                            seconds=0.0)
        return man

    def build_term_vectors(self) -> dict:
        """Commit ``termvecs`` — the DOC-keyed (doc_ord, term, tf)
        layer serving per-document term vectors (the Lucene/ES stored
        term-vectors analog). The inverted blocks are term-keyed, so
        answering "which terms does THIS doc contain" from them is an
        O(index) scan per request; this optional layer re-keys the
        committed postings by doc ordinal (range-sorted, doc_ord
        manifest stats) so a bounded doc batch reads only the
        manifest-pruned files holding those ordinals — the docmeta
        read shape. Built from the committed blocks (ordinal-keyed,
        multi-run): one O(index) decode + one doc_ord range exchange,
        the pos_blocks cost class, never a corpus re-tokenize.

        Visibility contract: superseded upsert generations and deleted
        docs are excluded at QUERY time via the shared tombstone
        anti-join (so deletes never stale this layer), while appends /
        upserts / merges move the blocks snapshot and trigger the same
        src-snapshot auto-resync as ``terms_rev``."""
        src = self.catalog.manifest("blocks")["snapshot_id"]
        tv = (
            self._decoded_postings(self.catalog.read("blocks"))
            .select("doc_ord", "term", "tf")
            .repartitionByRange(F.col("doc_ord"))
            .sortWithinPartitions("doc_ord", "term")
        )
        man = self.catalog.replace(
            tv, "termvecs", stats_cols=["doc_ord"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src},
        )
        self.ckpt.mark_done("termvecs", snapshot=man["snapshot_id"],
                            seconds=0.0)
        return man

    def _ensure_termvecs(self) -> None:
        """Build/refresh ``termvecs`` when missing or stale vs the
        committed blocks snapshot (postings drift after appends/
        upserts/merges; deletes don't move it — they apply at read)."""
        cur = self.catalog.manifest("blocks")["snapshot_id"]
        if not self.catalog.exists("termvecs") or (
            self.catalog.manifest("termvecs")
            .get("props", {})
            .get("src_snapshot") != cur
        ):
            self.build_term_vectors()

    def term_vectors(self, docs) -> DataFrame:
        """Per-document term vectors for a bounded id batch: one row
        per (doc, term) carrying tf, the doc length dl, and the corpus
        df (AS-BUILT statistics — the same stale-until-purge contract
        as scoring). ``docs``: a DataFrame with ``id_cols`` or an
        iterable of id tuples, like :meth:`delete_docs`; unknown ids
        yield no rows. The request batch is collected driver-side to
        drive file pruning, so it is bounded by the caller (the
        interactive per-doc inspection shape, ≤ thousands of ids —
        corpus-scale re-keying is :meth:`build_term_vectors` itself).

        Plan: pruned docmap resolve (ids → ordinals) → tombstone
        anti-join → manifest-pruned ``termvecs`` read of ONLY those
        ordinals' files → broadcast joins against the k-doc relation
        and the terms dictionary. No corpus-sized scan anywhere."""
        if not isinstance(docs, DataFrame):
            rows = [
                tuple(r) if isinstance(r, (tuple, list)) else (r,)
                for r in docs
            ]
            if not rows:
                return self.spark.createDataFrame(
                    [], self._termvec_schema()
                )
            dm_schema = self._docmap_schema()
            docs = self.spark.createDataFrame(
                rows, T.StructType([dm_schema[c] for c in self.id_cols])
            )
        ids = docs.select(*self.id_cols).distinct()
        c0 = self.id_cols[0]
        dm = None
        if c0 in self.catalog.manifest("docmap")["stats_cols"]:
            probe = ids.select(c0).distinct().limit(
                self.DELETE_PRUNE_MAX_IDS + 1
            ).collect()
            if len(probe) <= self.DELETE_PRUNE_MAX_IDS:
                vals = sorted({r[0] for r in probe if r[0] is not None})
                if vals:
                    dm = self.catalog.read_pruned("docmap", c0, values=vals)
        if dm is None:
            dm = self.catalog.read("docmap")
        # the probe relation is a bounded request batch — broadcast it
        # into the docmap semi-join (a sort-merge join would shuffle the
        # pruned docmap for a handful of ids)
        ords = self._drop_tombstones(
            dm.join(F.broadcast(ids), list(self.id_cols), "left_semi")
        )
        # bounded request batch (see docstring) → ordinal values list
        # drives the termvecs file prune
        ord_vals = sorted(r["doc_ord"] for r in ords.collect())
        if not ord_vals:
            return self.spark.createDataFrame([], self._termvec_schema())
        self._ensure_termvecs()
        tv = self.catalog.read_pruned("termvecs", "doc_ord",
                                      values=ord_vals)
        tv = tv.filter(F.col("doc_ord").isin(ord_vals))
        hits = tv.join(F.broadcast(ords), "doc_ord")
        out = self.catalog.read("terms").join(F.broadcast(hits), "term")
        return out.select(*self.id_cols, "term", "tf", "dl", "df")

    def _termvec_schema(self) -> T.StructType:
        dm = self._docmap_schema()
        return T.StructType(
            [dm[c] for c in self.id_cols]
            + [
                T.StructField("term", T.StringType(), False),
                T.StructField("tf", T.LongType(), False),
                T.StructField("dl", T.LongType(), False),
                T.StructField("df", T.LongType(), False),
            ]
        )

    def _ensure_terms_rev(self) -> None:
        """Build/refresh ``terms_rev`` when missing or stale vs the
        committed terms snapshot (vocabulary drift after appends)."""
        cur = self.catalog.manifest("terms")["snapshot_id"]
        if not self.catalog.exists("terms_rev") or (
            self.catalog.manifest("terms_rev")
            .get("props", {})
            .get("src_snapshot") != cur
        ):
            self.build_reversed_terms()

    def expand_wildcard(
        self, pattern: str, max_terms: int | None = None
    ) -> list[str]:
        """Index terms matching a glob ``pattern`` (``*`` = any run,
        ``?`` = one char — Lucene WildcardQuery semantics). Planning
        picks the longer LITERAL ANCHOR: a leading literal range-prunes
        the term-sorted ``terms`` table, a trailing literal
        range-prunes the rterm-sorted reversed dictionary — either way
        a B+tree-descent-shaped read, never a full-vocabulary scan.
        Interior/remaining parts verify on the pruned candidates
        driver-side. Deterministic lexicographic cap (cross-engine
        pinning). A pattern with no literal anchor at either end
        ("*", "*?*") is rejected — it would force the O(vocabulary)
        scan that ``expand_regex`` exists for."""
        import fnmatch
        import re

        pattern = pattern.lower().strip()
        if not pattern:
            return []
        if max_terms is None:
            max_terms = self.MAX_PREFIX_EXPANSIONS
        if "*" not in pattern and "?" not in pattern:
            return [pattern]
        first = min(i for i in (pattern.find("*"), pattern.find("?"))
                    if i >= 0)
        last = max(pattern.rfind("*"), pattern.rfind("?"))
        pre, suf = pattern[:first], pattern[last + 1:]
        if not pre and not suf:
            raise ValueError(
                "wildcard pattern needs a literal prefix or suffix "
                f"anchor: {pattern!r} (use query_regex for full scans)"
            )
        rx = re.compile(fnmatch.translate(pattern))
        if len(pre) >= len(suf):
            tbl = self.catalog.read_pruned_arrow(
                "terms", "term", lo=pre, hi=pre + chr(0x10FFFF),
                columns=["term"],
            )
            cands = tbl.column("term").to_pylist()
        else:
            self._ensure_terms_rev()
            rsuf = suf[::-1]
            tbl = self.catalog.read_pruned_arrow(
                "terms_rev", "rterm", lo=rsuf, hi=rsuf + chr(0x10FFFF),
                columns=["term"],
            )
            cands = tbl.column("term").to_pylist()
        terms = sorted(
            t for t in cands if t is not None and rx.match(t)
        )
        return terms[:max_terms]

    def query_wildcard(
        self, pattern: str, k: int = 10, max_terms: int | None = None
    ) -> DataFrame:
        """Wildcard top-k ("*ing", "s?an"): the glob expansion scored as
        a multi-term disjunct — per-expansion idf, pinned float
        discipline, identical scoring contract to ``query_prefix``."""
        exp = self.expand_wildcard(pattern, max_terms)
        if not exp:
            return self._empty_topk()
        return self._resolve_topk(
            self._pinned_doc_scores(exp).select("doc_ord", "score"), k
        )

    def query_wildcard_warm(
        self, pattern: str, k: int = 10, max_terms: int | None = None
    ) -> pd.DataFrame:
        """Interactive wildcard top-k with NO Spark job (expansion from
        the pruned forward/reversed dictionary via pyarrow, scoring
        through the shared warm core); falls back to the distributed
        batch path above the warm block budget — value-identical
        either way."""
        cols = [*self.id_cols, "score"]
        exp = self.expand_wildcard(pattern, max_terms)
        if not exp:
            return pd.DataFrame(columns=cols)
        r = self._warm_top_ords(exp, k)
        if r is None:
            out = self.query_batch([exp], k=k).toPandas()
            return out.drop(columns=["query_id"]).reset_index(drop=True)
        top, top_scores = r
        if top.size == 0:
            return pd.DataFrame(columns=cols)
        out = self._resolve_ords(
            [int(o) for o in top]
        )[list(self.id_cols)].copy()
        out["score"] = top_scores
        return out

    def query_boosted(
        self, weights: dict[str, float], k: int = 10
    ) -> DataFrame:
        """Query-time per-term boosting ("spark^2 join^0.5"): term i's
        BM25 contribution is scaled by its weight before the pinned
        sorted-term sum. Keys run through the shared analyzer (a key
        analyzing to several tokens gives each that weight); terms
        absent from the index contribute nothing, as in
        ``query_pinned``."""
        from antidb_spark.functions.analyze import py_tokens

        norm: dict[str, float] = {}
        for key, w in weights.items():
            for tok in py_tokens(key):
                norm[tok] = float(w)
        if not norm:
            return self._empty_topk()
        q_terms = sorted(norm)
        scored = self._pinned_doc_scores(
            q_terms, weights=[norm[t] for t in q_terms]
        )
        return self._resolve_topk(scored.select("doc_ord", "score"), k)

    def query_decayed(
        self, query: str, k: int = 10, age_col: str = "age_days",
        half_life_days: float = 30.0,
    ) -> DataFrame:
        """Recency-boosted ranking — Solr's classic
        ``recip(ms(NOW,date),m,a,b)`` boost re-expressed: final score =
        BM25 × 1/(1 + age/half_life), with the per-doc age (in days)
        read from the committed ``docmeta`` table. Reciprocal decay
        (not exp/gauss) keeps the factor inside correctly-rounded IEEE
        ops (+, /, ×) so Spark and any ANSI engine agree bit-for-bit —
        the float discipline the whole pinned query family uses.

        Plan: per-doc pinned scores from the terms' manifest-pruned
        blocks, joined on the dense doc_ord to the NARROW docmeta scan
        (only ``age_col`` read — column pruning reaches the parquet
        footer), the decay applied as one codegen projection, and the
        top-k cut AFTER the boost so recency genuinely re-ranks. The
        join is candidate-sized (docs containing ≥1 query term), never
        corpus-sized."""
        from antidb_spark.functions.analyze import py_tokens

        if half_life_days <= 0:
            raise ValueError(
                f"half_life_days must be > 0, got {half_life_days}"
            )
        if not self.ckpt.is_done("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, [age_col]))"
            )
        import operator as _op
        from functools import reduce

        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self._empty_topk()
        scored = self._pinned_doc_scores(q_terms)
        ages = self.catalog.read("docmeta").select("doc_ord", age_col)
        decay = F.lit(1.0) / (
            F.lit(1.0)
            + F.col(age_col).cast("double") / F.lit(float(half_life_days))
        )
        # decay the UNROUNDED fixed-order sum and round ONCE at the
        # output boundary — rounding the 4dp score again would put the
        # product on .00005 ties where engines' rounding modes diverge
        raw = reduce(_op.add, [
            F.coalesce(F.col(f"c{i}"), F.lit(0.0))
            for i in range(len(q_terms))
        ])
        decayed = scored.join(ages, "doc_ord").withColumn(
            "score", F.round(raw * decay, 4)
        )
        return self._resolve_topk(decayed.select("doc_ord", "score"), k)

    def hit_count(self, query: str) -> DataFrame:
        """Total matching docs for a disjunctive query (the result-count
        header beside every search box): count of DISTINCT doc_ords over
        the terms' manifest-pruned postings — scoring skipped, one
        narrow aggregate."""
        from antidb_spark.functions.analyze import py_tokens

        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame([(0,)], "n_docs bigint")
        return self._drop_tombstones(self._excluded_ords(q_terms)).agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    # -- metadata-filtered search (late materialization) -----------------

    def build_doc_meta(
        self, corpus: DataFrame, meta_cols: Sequence[str]
    ) -> dict:
        """Commit a ``docmeta`` table (doc_ord, *meta_cols): per-doc
        metadata re-keyed to index ordinals for FILTERED search (the
        late-materialization side table every search engine keeps beside
        the postings). One id_cols join at build time buys predicate
        evaluation on a narrow doc_ord-sorted table at query time — the
        filter never touches the corpus or the postings. Resumable like
        every build stage; returns the manifest."""
        if not self.ckpt.is_done("docmap"):
            raise ValueError("build the base index (docmap) before docmeta")
        if self.ckpt.is_done("docmeta"):
            return self.catalog.manifest("docmeta")
        n_part = self.spark.sparkContext.defaultParallelism
        with self.timer.phase("docmeta"):
            docmap = self.catalog.read("docmap")
            meta = corpus.select(*self.id_cols, *meta_cols)
            out = (
                docmap.select("doc_ord", *self.id_cols)
                .join(meta, list(self.id_cols))
                .select("doc_ord", *meta_cols)
                .repartitionByRange(n_part, "doc_ord")
                .sortWithinPartitions("doc_ord")
            )
            man = self.catalog.write(
                out, "docmeta", stats_cols=["doc_ord"],
                props={"meta_cols": list(meta_cols)},
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
        self.ckpt.mark_done(
            "docmeta", rows=sum(e["rows"] for e in man["files"]),
            snapshot=man["snapshot_id"],
            seconds=self.timer.phases[-1]["seconds"],
        )
        return man

    def facet_counts(
        self, query: str, facet_col: str, require_all: bool = False
    ) -> DataFrame:
        """Per-facet-value doc counts over ALL docs matching ``query``
        (disjunctive by default, conjunctive with ``require_all``) — the
        aggregation a search UI renders beside results ("lang: en (123),
        de (41), …"). Returns (facet, n_docs) ordered (n_docs desc,
        facet asc); NULL facet values count as their own bucket.

        Plan: candidate doc_ords from manifest-pruned blocks (distinct
        over the query terms' postings — scoring is skipped entirely, a
        match test needs no tf weighting) → one semi-ish join against
        the narrow doc_ord-sorted ``docmeta`` table → groupBy facet.
        The shuffle moves one row per matching doc, never the corpus;
        the facet agg is a map-side-combinable count."""
        from antidb_spark.functions.analyze import py_tokens

        if not self.ckpt.is_done("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, meta_cols))"
            )
        meta = self.catalog.read("docmeta")
        if facet_col not in meta.columns:
            raise ValueError(f"{facet_col!r} is not a docmeta column")
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame(
                [], f"facet {meta.schema[facet_col].dataType.simpleString()}"
                ", n_docs long",
            )
        blocks = self.catalog.read_pruned("blocks", "term", q_terms).filter(
            F.col("term").isin(q_terms)
        )
        post = self._decoded_postings(blocks).select("term", "doc_ord")
        if require_all:
            cand = (
                post.groupBy("doc_ord")
                .agg(F.count_distinct("term").alias("_nt"))
                .filter(F.col("_nt") == len(q_terms))
                .select("doc_ord")
            )
        else:
            cand = post.select("doc_ord").distinct()
        cand = self._drop_tombstones(cand)
        return (
            meta.join(cand, "doc_ord", "left_semi")
            .groupBy(F.col(facet_col).alias("facet"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("facet"))
        )

    def facet_histogram(
        self, query: str, facet_col: str, width: int,
        require_all: bool = False,
    ) -> DataFrame:
        """Histogram facet: matching-doc counts per aligned numeric
        bucket of a docmeta column — (bucket, n_docs) where bucket =
        value - value % width (the tumbling_counts alignment rule;
        NULL values form a NULL bucket). Same match-only candidate plan
        as ``facet_counts``: pruned postings → distinct doc_ords →
        semi-join into docmeta → one map-side-combinable count; the
        date_histogram aggregation of search UIs, over any numeric
        metadata (epoch seconds included)."""
        from antidb_spark.functions.analyze import py_tokens

        if width <= 0:
            raise ValueError("width must be positive")
        if not self.ckpt.is_done("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, meta_cols))"
            )
        meta = self.catalog.read("docmeta")
        if facet_col not in meta.columns:
            raise ValueError(f"{facet_col!r} is not a docmeta column")
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame([], "bucket long, n_docs long")
        blocks = self.catalog.read_pruned("blocks", "term", q_terms).filter(
            F.col("term").isin(q_terms)
        )
        post = self._decoded_postings(blocks).select("term", "doc_ord")
        if require_all:
            cand = (
                post.groupBy("doc_ord")
                .agg(F.count_distinct("term").alias("_nt"))
                .filter(F.col("_nt") == len(q_terms))
                .select("doc_ord")
            )
        else:
            cand = post.select("doc_ord").distinct()
        cand = self._drop_tombstones(cand)
        v = F.col(facet_col).cast("long")
        return (
            meta.join(cand, "doc_ord", "left_semi")
            .groupBy((v - v % width).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc_nulls_first("bucket"))
        )

    def group_must_match(
        self, clauses: Sequence[str], group_col: str, k: int = 10,
    ) -> DataFrame:
        """Group-level boolean matching (the has_child / join-field
        shape, natively useful on transcripts: "conversations with a
        user turn about X AND a turn about Y" — different members may
        satisfy different clauses). A group qualifies iff for EVERY
        clause it has ≥ 1 member containing ALL that clause's terms;
        qualifying groups rank by the SUM over clauses of the best
        member's pinned score for that clause (the has_child
        score_mode=max contract, summed across clauses in clause
        order), ties group-asc. Returns (group_col, *best_i columns,
        score) top-k.

        Plan per clause: term-pruned scoring (postings-bounded, the
        shared `_pinned_doc_scores` core) filtered to all-terms
        members, ONE map-combinable group-max; clauses then inner-join
        on the group (groups ≪ docs) — the conjunction across clauses
        — and a TakeOrdered cuts. Nothing corpus-sized crosses an
        exchange. Float discipline: each clause max is the 4dp-rounded
        pinned score; the cross-clause sum is a fixed-order fold of
        ≤ len(clauses) doubles, rounded once at 4dp."""
        from functools import reduce

        from antidb_spark.functions.analyze import py_tokens

        if not clauses:
            raise ValueError("at least one clause required")
        if group_col in self.id_cols:
            gsrc = self.catalog.read("docmap").select("doc_ord", group_col)
        else:
            if not self.ckpt.is_done("docmeta"):
                raise ValueError(
                    f"{group_col!r} is not an id column and docmeta is "
                    "not built (build_doc_meta(corpus, meta_cols))"
                )
            meta = self.catalog.read("docmeta")
            if group_col not in meta.columns:
                raise ValueError(f"{group_col!r} is not a docmeta column")
            gsrc = meta.select("doc_ord", group_col)
        per_clause = []
        for i, clause in enumerate(clauses):
            q_terms = sorted(set(py_tokens(clause)))
            if not q_terms:
                raise ValueError(f"clause {i} has no tokens: {clause!r}")
            scored = self._pinned_doc_scores(q_terms)
            for j in range(len(q_terms)):  # all-terms member match
                scored = scored.filter(F.col(f"c{j}").isNotNull())
            scored = self._drop_tombstones(
                scored.select("doc_ord", "score")
            )
            per_clause.append(
                scored.join(gsrc, "doc_ord")
                .filter(F.col(group_col).isNotNull())
                .groupBy(group_col)
                .agg(F.max("score").alias(f"best_{i}"))
            )
        joined = reduce(lambda a, b: a.join(b, group_col), per_clause)
        total = reduce(
            lambda a, b: a + b,
            [F.col(f"best_{i}") for i in range(len(clauses))],
        )
        return (
            joined.withColumn("score", F.round(total, 4))
            .orderBy(F.desc("score"), F.asc(group_col))
            .limit(k)
        )

    def facet_cardinality(
        self, query: str, facet_col: str, require_all: bool = False,
    ) -> DataFrame:
        """Cardinality aggregation: the number of DISTINCT values a
        docmeta column takes over the docs matching ``query`` (plus
        the matching-doc count) — ES's cardinality agg, except EXACT:
        at this engine's scale the distinct count is one map-side
        partially-aggregated shuffle over candidate-set-sized rows, so
        the HLL approximation buys nothing. Returns one row
        (n_values, n_docs); NULL values don't count as a value (the
        SQL COUNT DISTINCT rule). Same match-only candidate plan as
        ``facet_counts``."""
        from antidb_spark.functions.analyze import py_tokens

        if not self.ckpt.is_done("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, meta_cols))"
            )
        meta = self.catalog.read("docmeta")
        if facet_col not in meta.columns:
            raise ValueError(f"{facet_col!r} is not a docmeta column")
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame(
                [(0, 0)], "n_values bigint, n_docs bigint"
            ).filter(F.lit(False))
        blocks = self.catalog.read_pruned("blocks", "term", q_terms).filter(
            F.col("term").isin(q_terms)
        )
        post = self._decoded_postings(blocks).select("term", "doc_ord")
        if require_all:
            cand = (
                post.groupBy("doc_ord")
                .agg(F.count_distinct("term").alias("_nt"))
                .filter(F.col("_nt") == len(q_terms))
                .select("doc_ord")
            )
        else:
            cand = post.select("doc_ord").distinct()
        cand = self._drop_tombstones(cand)
        return meta.join(cand, "doc_ord", "left_semi").agg(
            F.count_distinct(facet_col).alias("n_values"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    def significant_terms(
        self, query: str, k: int = 10, min_doc_count: int = 3,
    ) -> DataFrame:
        """Terms OVERREPRESENTED in the docs matching ``query`` relative
        to the whole corpus (the significant_terms aggregation — "what
        is this result set about beyond the query itself"). Returns
        (term, fg_df, bg_df, score) top-k by JLH score
        ``(fg% − bg%) · fg%/bg%`` (foreground share times its lift),
        score desc / term asc, query terms themselves excluded and
        terms seen in fewer than ``min_doc_count`` matching docs
        dropped.

        Plan: foreground doc_ords from the query terms'
        manifest-pruned blocks (tombstones dropped) → ONE inner join
        against the decoded postings stream keyed on doc_ord → a
        map-side-combinable per-term count. Background df comes from
        the committed ``terms`` table and N from ``stats`` — both tiny
        broadcasts. The postings decode is a full-index pass: that is
        the operation's inherent cost (every term's foreground
        frequency is needed); engines that avoid it sample the
        foreground instead, which composes here — pass a pre-filtered
        query. The join shuffles postings on doc_ord once; the output
        is vocabulary-sized before the top-k cut, never corpus-sized.

        Float discipline: the score is a single per-row expression over
        exact int64 counts (no accumulation), rounded to 6dp — an SQL
        engine recomputing ``fg_df/n_fg`` and ``bg_df/n_docs`` with the
        same parse shape reproduces it bit-for-bit."""
        from antidb_spark.functions.analyze import py_tokens

        q_terms = sorted(set(py_tokens(query)))
        out_schema = "term string, fg_df bigint, bg_df bigint, score double"
        if not q_terms:
            return self.spark.createDataFrame([], out_schema)
        fg = self._drop_tombstones(self._excluded_ords(q_terms))
        fg_n = fg.agg(F.count(F.lit(1)).alias("n_fg"))
        post = self._decoded_postings(
            self.catalog.read("blocks")
        ).select("term", "doc_ord")
        fg_df = (
            post.join(fg, "doc_ord")
            .filter(~F.col("term").isin(q_terms))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg_df"))
            .filter(F.col("fg_df") >= int(min_doc_count))
        )
        bg = self.catalog.read("terms").select(
            "term", F.col("df").alias("bg_df")
        )
        st = self.catalog.read("stats").select("n_docs")
        fg_pct = F.col("fg_df") / F.col("n_fg")
        bg_pct = F.col("bg_df") / F.col("n_docs")
        return (
            fg_df.join(F.broadcast(bg), "term")
            .crossJoin(F.broadcast(fg_n))
            .crossJoin(F.broadcast(st))
            .withColumn(
                "score",
                F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6),
            )
            .select("term", "fg_df", "bg_df", "score")
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
        )

    def complete(self, prefix: str, k: int = 10) -> DataFrame:
        """Completion suggester: index terms starting with ``prefix``
        ranked by document frequency (df desc, term asc) — the
        search-box autocomplete ranking. Returns (term, df) top-k.

        Served by the same manifest RANGE prune as ``expand_prefix``
        (the B+tree-descent analog on the term-sorted terms table): the
        scan touches only the files whose [min,max] term range overlaps
        ``[prefix, prefix+U+10FFFF]``, never the vocabulary."""
        prefix = prefix.lower()
        if not prefix:
            return self.spark.createDataFrame([], "term string, df bigint")
        t = self.catalog.read_pruned(
            "terms", "term", lo=prefix, hi=prefix + chr(0x10FFFF)
        )
        return (
            t.filter(F.col("term").startswith(prefix))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def complete_local(self, prefix: str, k: int = 10) -> list[tuple]:
        """Warm tier of ``complete``: the same range-pruned read through
        driver-side pyarrow — interactive keystroke latency, no Spark
        job. Returns [(term, df), …], identical ordering contract."""
        prefix = prefix.lower()
        if not prefix:
            return []
        tbl = self.catalog.read_pruned_arrow(
            "terms", "term", lo=prefix, hi=prefix + chr(0x10FFFF),
            columns=["term", "df"],
        )
        rows = [
            (t, int(d))
            for t, d in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            )
            if t is not None and t.startswith(prefix)
        ]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]

    def group_top_hits(
        self, query: str, group_col: str,
        n_per_group: int = 3, k_groups: int = 10,
    ) -> DataFrame:
        """The terms-agg + top_hits shape: rank the top ``k_groups``
        groups by their best member's pinned BM25 score, and return
        each group's ``n_per_group`` best member docs — what
        ``query_grouped`` summarizes (count/max), materialized as
        actual hits. Output (``group_col``, best_score, rank,
        *member id_cols, score) ordered (best_score desc, group asc,
        rank asc); NULL group values are excluded (the terms-agg
        missing-field default). ``group_col`` may be an id component
        (transcripts: conv_id) or a docmeta column (documents:
        source/lang).

        Scale shape: every matching doc is scored once (the per-group
        winner may sit below any global cut), groups rolled up with a
        map-combinable max, and the per-group top-n is TWO-PHASE to
        avoid the hot-group window funnel: a first row_number over
        (group, shuffle-partition id) cuts each group to ≤ n rows per
        partition — spreading a stopword-grade group across tasks —
        and only that ≤ n·n_part remnant meets the exact per-group
        window. The k_groups cut is broadcast and applied BEFORE both
        windows, so the window input is the winners' docs only."""
        from antidb_spark.functions.analyze import py_tokens

        q_terms = sorted(set(py_tokens(query)))
        if group_col in self.id_cols:
            gsrc = self.catalog.read("docmap").select("doc_ord", group_col)
        else:
            if not self.ckpt.is_done("docmeta"):
                raise ValueError(
                    f"{group_col!r} is not an id column and docmeta is "
                    "not built (build_doc_meta(corpus, meta_cols))"
                )
            meta = self.catalog.read("docmeta")
            if group_col not in meta.columns:
                raise ValueError(f"{group_col!r} is not a docmeta column")
            gsrc = meta.select("doc_ord", group_col)
        id_out = [c for c in self.id_cols if c != group_col]
        if not q_terms:
            gt = gsrc.schema[group_col].dataType.simpleString()
            dm = self._docmap_schema()
            schema = ", ".join(
                [f"{group_col} {gt}", "best_score double", "rank int"]
                + [f"{c} {dm[c].dataType.simpleString()}"
                   for c in id_out]
                + ["score double"]
            )
            return self.spark.createDataFrame([], schema)
        scored = self._drop_tombstones(
            self._pinned_doc_scores(q_terms).select("doc_ord", "score")
        )
        j = scored.join(gsrc, "doc_ord").filter(
            F.col(group_col).isNotNull()
        )
        winners = (
            j.groupBy(group_col)
            .agg(F.max("score").alias("best_score"))
            .orderBy(F.desc("best_score"), F.asc(group_col))
            .limit(k_groups)
        )
        jj = j.join(F.broadcast(winners), group_col)
        w_local = Window.partitionBy(group_col, "_pid").orderBy(
            F.desc("score"), F.asc("doc_ord")
        )
        w_exact = Window.partitionBy(group_col).orderBy(
            F.desc("score"), F.asc("doc_ord")
        )
        remnant = (
            jj.withColumn("_pid", F.spark_partition_id())
            .withColumn("_lr", F.row_number().over(w_local))
            .filter(F.col("_lr") <= int(n_per_group))
            .drop("_pid", "_lr")
        )
        ranked = (
            remnant.withColumn("rank", F.row_number().over(w_exact))
            .filter(F.col("rank") <= int(n_per_group))
        )
        dm = self.catalog.read("docmap").select("doc_ord", *id_out)
        return (
            dm.join(F.broadcast(ranked), "doc_ord")
            .select(group_col, "best_score", "rank", *id_out, "score")
            .orderBy(F.desc("best_score"), F.asc(group_col), F.asc("rank"))
        )

    def query_rescored(
        self, query: str, phrase: str,
        window: int = 50, weight: float = 1.0, k: int = 10,
    ) -> DataFrame:
        """The rescore-window pattern: re-rank the BM25 top-``window``
        docs by boosting exact-phrase occurrences from the positional
        index — ``rescored = round(score + weight · phrase_freq, 4)``
        (one boundary round over the already-4dp base score, so an SQL
        engine recomputing the same expression matches bit-for-bit).
        Returns (*id_cols, score, rescored) top-``k`` by (rescored
        desc, *id_cols asc). Docs outside the window never re-enter —
        the rescore contract (proximity is a reranker, not a recall
        path); an empty ``phrase`` degrades to the base ranking with
        ``rescored == score``.

        Scale shape: the expensive proximity evidence is evaluated
        only against the window — ``phrase_query``'s pruned-pos-block
        relation is semi-joined down to the ≤ window broadcast ids
        BEFORE the left join, so no phrase-frequency row for an
        unranked doc ever crosses an exchange."""
        from antidb_spark.functions.analyze import py_tokens

        base = self.query_pinned(query, k=int(window))
        ids = list(self.id_cols)
        if not py_tokens(phrase):
            out = base.withColumn("rescored", F.col("score"))
        else:
            from antidb_spark.operators.phrase import phrase_query

            ph = phrase_query(self, phrase).join(
                F.broadcast(base.select(*ids)), ids
            )
            out = (
                base.join(F.broadcast(ph), ids, "left")
                .withColumn(
                    "rescored",
                    F.round(
                        F.col("score")
                        + F.lit(float(weight))
                        * F.coalesce(F.col("phrase_freq"), F.lit(0)),
                        4,
                    ),
                )
                .drop("phrase_freq")
            )
        return (
            out.select(*ids, "score", "rescored")
            .orderBy(F.desc("rescored"), *[F.asc(c) for c in ids])
            .limit(int(k))
        )

    def query_filtered(
        self, query: str, where: str, k: int = 10,
        require_all: bool = False, exclude: str | None = None,
    ) -> DataFrame:
        """Top-k BM25 restricted to docs whose ``docmeta`` row satisfies
        the SQL predicate ``where`` (e.g. ``"lang = 'en'"``). Corpus
        statistics (df/avgdl/N) stay GLOBAL — the filter restricts the
        result set, not the ranking model (the standard faceted-search
        contract). Scores are identical to ``query_pinned`` on the
        surviving docs.

        Plan: per-doc scores from pruned blocks (candidates = docs
        containing ≥1 query term) semi-joined on doc_ord with the
        predicate-filtered docmeta scan — the predicate is pushed into
        the narrow docmeta parquet scan, the join key is the dense
        ordinal, and top-k runs AFTER the filter so exactly k matching
        docs resolve ids."""
        from antidb_spark.functions.analyze import py_tokens

        if not self.ckpt.is_done("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, meta_cols))"
            )
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self._empty_topk()
        scored = self._pinned_doc_scores(q_terms)
        if require_all:
            for i in range(len(q_terms)):
                scored = scored.filter(F.col(f"c{i}").isNotNull())
        ex_terms = sorted(set(py_tokens(exclude))) if exclude else []
        if ex_terms:
            scored = scored.join(
                self._excluded_ords(ex_terms), "doc_ord", "left_anti"
            )
        keep = self.catalog.read("docmeta").filter(F.expr(where))
        filtered = scored.join(
            keep.select("doc_ord"), "doc_ord", "left_semi"
        )
        return self._resolve_topk(filtered.select("doc_ord", "score"), k)
