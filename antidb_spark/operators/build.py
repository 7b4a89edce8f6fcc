"""Physical index build + indexed query path (SURVEY M2).

Distributed analog of the reference's ``Idx.idx()`` (idx.py:85-92): one
resumable build job producing four Iceberg-style tables —

- ``docmap``  (doc_ord, *id_cols, dl): doc ordinal ↔ id mapping + doc
  length. Ordinals are dense uint64 assigned in (*id_cols) order, so the
  final rank tiebreak can sort by ordinal alone.
- ``terms``   (term, df): exact document frequencies.
- ``stats``   (n_docs, avgdl): single-row corpus stats.
- ``blocks``  (term, block_id, n_docs, min_ord, max_ord, docs_packed,
  tfs_packed, dls_packed): posting lists cut into ~128-doc blocks,
  docID gaps delta+varint-packed into binary cells (the reference's
  zstd-pickled columnar leaves, idx.py:160-173, upgraded per the north
  rule). Blocks hold no score: BM25 is computed at query time from
  current df/avgdl/N, which keeps committed blocks valid under
  incremental appends.

Scale design (10^12 turns, 1000 executors):

- **Doc ordinals without a global window**: the classic two-pass
  zipWithIndex — range-repartition by id, sort within partitions,
  persist (pins partition contents so both passes see identical data),
  count rows per partition (tiny driver-side collect: one row per
  partition), then assign ``offset[pid] + local_pos`` in a single
  mapInArrow. No single-partition global sort anywhere.
- **Skew without salting**: blocks are packed from postings
  range-partitioned by the COMPOSITE key (term, doc_ord). A stopword
  whose posting list spans 10^11 docs is automatically spread across
  many partitions — each partition packs its own run of blocks, and
  block_id embeds the partition id, so no two partitions collide and no
  per-term shuffle ever concentrates a hot term on one task. (SURVEY
  §4.3 proposed salting; ranging on the composite key subsumes it.)
- **Resumable**: each stage commits its table via the catalog's
  manifest-last protocol, and that committed manifest is the only
  record that the stage is done; a restarted build skips committed
  stages (idx.py:85-92 analog, at stage granularity with per-partition
  durability inside each stage from Spark task retry + atomic snapshot
  commit).
- **Query-time file skipping**: file-level min/max skipping on ``term``
  replaces the reference's B+tree descent (prs.py:57-77); every block
  of the surviving files' query terms is then decoded and scored
  exactly, the decode-everything columnar scan of the ICDE 2025
  columnar inverted index.
"""

from __future__ import annotations

import operator as _op
import os
import time
from collections import OrderedDict
from collections.abc import Callable, Collection, Iterable, Iterator, Sequence
from contextlib import contextmanager
from functools import partial, reduce
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from antidb_spark.functions.bm25 import contribution
from antidb_spark.functions.packing import (
    binary_array,
    binary_data,
    segment_deltas,
    varint_decode,
    varint_encode_blocks,
)
from antidb_spark.operators.stats import build_postings
from antidb_spark.schema import DOC_ID_COLS
from antidb_spark.session import index_scan_conf
from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES, Catalog

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

    def number(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pos = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue  # never init pos from an empty batch (no _pid)
            if pos is None:
                pos = offsets[batch.column("_pid")[0].as_py()]
            yield batch.drop_columns(["_pid"]).append_column(
                "doc_ord", pa.array(np.arange(pos, pos + n, dtype=np.int64)))
            pos += n

    out = sorted_df.mapInArrow(number, schema=out_schema)
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


def _pack_sorted(
    batches: Iterator[pa.RecordBatch],
    run_base: int,
    cols: list[str],
    cut: Callable[[dict, bool], tuple[int, dict]],
    schema: T.StructType,
) -> Iterator[pa.RecordBatch]:
    """Drive a block packer over one sorted partition, a batch at a time.

    ``cut(frame, flush)`` packs a leading run of rows of the column dict
    ``frame`` into blocks, returning (rows consumed, {column: per-block
    values}). A term's run may span Arrow batches, so the uncut rows are
    carried into the next batch until the partition ends (``flush``).
    Blocks go out as Arrow batches of ``schema``, which casts n_docs to
    int32. block_id = run_base | pid << 32 | seq keeps ids unique
    without coordination (run_base = compaction run number << 48, so
    appended runs never collide with committed blocks)."""
    out_schema = to_arrow_schema(schema)
    pending: dict | None = None
    seq = pid = 0

    def emit(frame: dict, flush: bool) -> tuple[int, pa.RecordBatch | None]:
        nonlocal seq
        n_cut, out = cut(frame, flush)
        n = len(out["term"])
        out["block_id"] = run_base | (pid << 32) | np.arange(
            seq, seq + n, dtype=np.int64)
        seq += n
        return n_cut, pa.RecordBatch.from_pydict(out, out_schema) if n else None

    for batch in batches:
        if batch.num_rows == 0:
            continue
        frame = {c: np.asarray(batch.column(c),
                               None if c == "term" else np.int64)
                 for c in cols}
        if pending is None:
            pid = batch.column("_pid")[0].as_py()
        else:
            frame = {c: np.concatenate([pending[c], frame[c]]) for c in cols}
        n_cut, out = emit(frame, flush=False)
        if out is not None:
            yield out
        pending = {c: v[n_cut:] for c, v in frame.items()}
    if pending is not None and len(pending["term"]):
        out = emit(pending, flush=True)[1]
        if out is not None:
            yield out


def _run_firsts(is_first: np.ndarray) -> np.ndarray:
    """Index of the first element of each element's run, for the
    run-start mask ``is_first`` (its element 0 is True)."""
    idx = np.arange(is_first.size)
    return np.maximum.accumulate(np.where(is_first, idx, 0))


def _cut_blocks(frame: dict, flush: bool) -> tuple[int, dict]:
    """(term, doc_ord, tf, dl) rows sorted by (term, doc_ord) → blocks of
    ≤ BLOCK_SIZE postings per term, all encoded in one pass. Unless
    flushing, only full blocks are cut from the last term, whose run may
    continue in the next batch."""
    term = frame["term"]
    new_term = np.r_[True, term[1:] != term[:-1]]
    n = term.size
    if not flush:
        last = int(np.flatnonzero(new_term)[-1])
        n = last + (n - last) // BLOCK_SIZE * BLOCK_SIZE
    ords, tfs, dls = (frame[c][:n] for c in ("doc_ord", "tf", "dl"))
    starts = np.flatnonzero(
        (np.arange(n) - _run_firsts(new_term[:n])) % BLOCK_SIZE == 0)
    n_docs = np.diff(np.r_[starts, n])
    return n, {
        "term": term[starts],
        "n_docs": n_docs,
        "min_ord": ords[starts],
        "max_ord": ords[starts + n_docs - 1],
        "docs_packed": varint_encode_blocks(
            segment_deltas(ords, starts), starts),
        "tfs_packed": varint_encode_blocks(tfs, starts),
        "dls_packed": varint_encode_blocks(dls, starts),
    }


def _pack_partition(
    batches: Iterator[pa.RecordBatch], run_base: int = 0
) -> Iterator[pa.RecordBatch]:
    """Pack one sorted (term, doc_ord, tf, dl) partition, Arrow batches
    in, ``_BLOCKS_OUT`` batches out: one vectorized encoding pass per
    batch (``_cut_blocks``), with the carry-the-tail protocol and
    block_id layout of ``_pack_sorted``."""
    yield from _pack_sorted(
        batches, run_base, ["term", "doc_ord", "tf", "dl"], _cut_blocks,
        _BLOCKS_OUT)


def _packed(rel, sort_cols: list[str], kernel, run_base: int,
            schema: T.StructType, n_part: int):
    """The one pack pipeline of every blocks / pos_blocks writer: run
    the block-packing ``kernel`` over ``rel`` sorted by ``sort_cols``
    (term, doc_ord first), each partition tagged with its ``_pid``.
    A Spark relation is range-partitioned on (term, doc_ord) into
    ``n_part`` partitions and packed with ``mapInArrow``; a pyarrow
    delta is packed on the driver as ONE partition (pid 0), batch by
    batch, into a pyarrow table of ``schema``."""
    # block_id layout: run_base(16 bits, <<48) | pid(16, <<32) | seq(32).
    # An unchecked >= 2^16-partition pack would overlap the next run's
    # id space, so ids would stop being unique.
    assert n_part < (1 << 16), "block_id layout assumes < 2^16 pack partitions"
    kernel = partial(kernel, run_base=run_base)
    if isinstance(rel, pa.Table):
        rel = rel.sort_by([(c, "ascending") for c in sort_cols])
        rel = rel.append_column("_pid", pa.array(np.zeros(rel.num_rows, np.int32)))
        return pa.Table.from_batches(
            list(kernel(iter(rel.to_batches()))), to_arrow_schema(schema))
    return (
        rel.repartitionByRange(n_part, "term", "doc_ord")
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .mapInArrow(kernel, schema=schema)
    )


#: the packed streams of a ``blocks`` row, in ``_decode_streams`` order
_PACKED = ("docs_packed", "tfs_packed", "dls_packed")


def _decode_streams(counts: np.ndarray, docs, tfs, third) -> tuple:
    """Vectorized block decode of the CONCATENATED packed streams of
    blocks holding ``counts`` postings each → (ords, tfs, third): the
    dls of ``blocks``, the position gaps of ``pos_blocks``.

    One varint pass per stream over all blocks (instead of a per-block
    Python loop), then segment-wise delta reconstruction: with cs =
    global cumsum of deltas and excl = cs - deltas (exclusive prefix),
    the absolute ordinal at position i of a block starting at s is
    cs[i] - excl[s] — because the first delta of every block is its
    absolute first ordinal.
    """
    # decode the three streams SEPARATELY: tfs (and often dls) are
    # all-single-byte buffers that take varint_decode's O(1-pass) fast
    # path; concatenating them with the multi-byte doc deltas would
    # force everything onto the general path (measured 2× slower)
    deltas = varint_decode(docs).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cs = np.cumsum(deltas)
    ords = cs - np.repeat(cs[starts] - deltas[starts], counts)
    return ords, varint_decode(tfs), varint_decode(third)


def _decode_table(tbl: pa.Table | pa.RecordBatch,
                  cols: Sequence[str] = _PACKED) -> tuple:
    """(counts, *``_decode_streams``) of the streams ``cols`` of a
    non-empty Arrow table or batch of blocks — the one decode adapter
    of the Spark kernels and the driver tiers: each stream is its
    binary column's data buffer sliced by its offsets."""
    counts = np.asarray(tbl.column("n_docs")).astype(np.int64)
    return counts, *_decode_streams(
        counts, *(binary_data(tbl.column(c)) for c in cols))


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


def _by_ord(tbl: pa.Table) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """(doc_ord, *id_cols) rows → (sorted doc_ords, {id_col: values in
    that order}), ids converted as ``Table.to_pandas`` converts them."""
    tbl = tbl.sort_by("doc_ord")
    return tbl.column("doc_ord").to_numpy(), {
        c: tbl.column(c).to_pandas().to_numpy() for c in tbl.column_names[1:]}


def _topk_slots(
    parts: Iterable[tuple[np.ndarray, np.ndarray]], n_slots: int, k: int,
    dead: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one per-query BM25 top-k kernel: ``query_warm`` and both
    ``query_batch`` tiers rank through it, which is why they agree to
    the bit.

    ``parts`` holds one (slots, contributions) pair per query term, in
    ascending term order, each slot at most once per term; slots index
    a space of ``n_slots`` docs numbered in doc_ord order (doc_ord
    itself, or a rank among the candidate docs). Each slot sums its
    terms in that order (the pinned float order of the oracles), the
    ``dead`` slots score 0, and the result is the top k (slots, scores)
    by (score desc, slot asc). A slot scores 0.0 only with no live
    posting (idf, tfw > 0), so 0 = no match."""
    acc = np.zeros(n_slots)
    for slot, contrib in parts:
        acc[slot] += contrib
    if dead is not None:
        acc[dead] = 0.0
    cut = (
        np.partition(acc, n_slots - k)[n_slots - k] if n_slots > k > 0
        else 0.0
    )
    cand = np.flatnonzero(acc >= max(cut, np.finfo(float).tiny))
    top = cand[np.lexsort((cand, -acc[cand]))[:k]]
    return top, acc[top]


def literal_dfs(dfs: dict[str, int]) -> Column:
    """``CASE term WHEN t THEN df(t) … END`` over ``dfs`` (NULL for any
    other term): each df as a literal, no relation to scan or join."""
    items = sorted(dfs.items())
    if not items:
        return F.lit(None).cast("long")
    case = F.when(F.col("term") == items[0][0], items[0][1])
    for t, d in items[1:]:
        case = case.when(F.col("term") == t, d)
    return case


def fold_pinned(
    rows: DataFrame, keys: Sequence[str], key: str = "term",
    by: Sequence[str] = ("doc_ord",),
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """The pinned float fold of ``rows``' ``contrib`` → (*by, c0..,
    raw, score): c{i} sums a group's rows whose ``key`` is keys[i]
    (NULL ⟺ none), raw adds coalesce(c{i}, 0)·w{i} in ``keys`` order
    (sorted by callers: the association order the SQL oracles
    reproduce), score = round(raw, 4). A group holds at most one row
    per key, so the weight is bit-identical to a per-row multiply."""
    aggs = [
        F.sum(F.when(F.col(key) == t, F.col("contrib"))).alias(f"c{i}")
        for i, t in enumerate(keys)
    ]
    if weights is None:
        weights = [1.0] * len(keys)
    parts = [
        F.coalesce(F.col(f"c{i}"), F.lit(0.0)) * F.lit(float(w))
        if w != 1.0 else F.coalesce(F.col(f"c{i}"), F.lit(0.0))
        for i, w in enumerate(weights)
    ]
    return (
        rows.groupBy(*by).agg(*aggs)
        .withColumn("raw", reduce(_op.add, parts))
        .withColumn("score", F.round(F.col("raw"), 4))
    )


def pinned_scores(
    post: DataFrame, keys: Sequence[str], df: Column, n_docs: int,
    avgdl: float, key: str = "term",
    weights: Sequence[float] | None = None,
) -> DataFrame:
    """The pinned BM25 scoring core: :func:`fold_pinned` of
    ``contribution(tf, df, dl, avgdl, n_docs)`` over (doc_ord, ``key``,
    tf, dl) rows, N and avgdl as literals — under an index's own
    statistics, a federation's global ones or synonym groups' blended
    df. It stays a Spark expression: a driver-side idf need not match
    Spark's ``log`` to the ulp, and one ulp can flip a 4dp round."""
    return fold_pinned(
        post.withColumn(
            "contrib",
            contribution(F.col("tf"), df, F.col("dl"), F.lit(avgdl),
                         F.lit(n_docs)),
        ),
        keys, key=key, weights=weights,
    )


def _decode_blocks(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """blocks → (term, doc_ord, tf, dl) posting rows, vectorized."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        counts, ords, tfs, dls = _decode_table(batch)
        yield pa.RecordBatch.from_pydict({
            "term": batch.column("term").take(
                np.repeat(np.arange(counts.size), counts)),
            "doc_ord": ords,
            "tf": tfs.astype(np.int64),
            "dl": dls.astype(np.int64),
        })


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


class PhaseTimer:
    """count_exec_time analog (idx.py:29-37): wall-clock per build phase."""

    def __init__(self):
        self.phases: list[dict] = []

    @contextmanager
    def phase(self, name: str):
        t0, ok = time.time(), False
        try:
            yield
            ok = True
        finally:
            self.phases.append(
                {"phase": name, "seconds": time.time() - t0, "ok": ok})


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
        self.timer = PhaseTimer()
        # Driver caches. Every entry is keyed by the snapshot id of the
        # table(s) it was read from and reloads once that id moves, so a
        # commit by this builder or by another one on the same root
        # (upsert, compaction, merge, rollback) reaches the next query
        # with no caller invalidating anything. Whole-table values —
        # corpus stats, tombstone state, the doc_ord-sorted docmap ids —
        # live in _heads (see _at_head; ids and tombstones extend by
        # the new files of an append); per-term values in bounded LRUs:
        # df (terms table), pruned scan relations (blocks table), and
        # decoded warm postings with their tf weights (blocks table +
        # the avgdl those weights used) — the reference likewise keeps
        # decompressed leaves in-process. Spark schemas are the
        # catalog's (Catalog.spark_schema), so no index read infers one
        # twice.
        self._heads: dict[tuple[str, Any], tuple[str, list, Any]] = {}
        self._dfs = _SnapshotLRU()
        self._postings = _SnapshotLRU(lambda v: v[0].size)
        self._scans = _SnapshotLRU()

    SCAN_CACHE_MAX = 64
    # posting-list cache ceiling: 8M postings ≈ 130 MB of driver arrays
    # (int64 ords + int32 tf/dl). Each cached term is itself bounded by
    # the WARM_MAX_BLOCKS gate (~640k postings), so the cache holds the
    # working set of hot terms without ever approaching corpus size.
    POSTINGS_CACHE_MAX = 8_000_000

    # -- build ------------------------------------------------------------

    def build(
        self, corpus: DataFrame | None, n_partitions: int | None = None
    ) -> dict:
        """Resumable 5-stage build; returns build metrics.

        Stage 0 tokenizes the corpus exactly ONCE into a ``postings``
        table (the dominant cost — the reference's 41-min presrt_idxs,
        README.md:185-191); every later stage derives from that table,
        so a resume after the tokenize stage never re-reads the corpus.
        The table is build scratch: once ``blocks`` commits it is
        dropped, and ``blocks`` + ``docmap`` (minus ``tombstones``) are
        the only committed postings (see :meth:`_alive_postings`).

        The catalog is the only record of progress. Stage 0 runs when
        neither ``postings`` nor ``blocks`` is committed. Every later
        stage table records the ``postings`` snapshot it was derived
        from (``props["src_snapshot"]``): while ``postings`` is
        committed, a stage is done only if its table records that
        snapshot; once ``postings`` is dropped, a committed table is
        done. ``corpus=None`` is allowed when stage 0 is already
        committed (a resume, or a rebuild / the streaming compactor
        handing in pre-built postings).
        """
        n_part = n_partitions or self.spark.sparkContext.defaultParallelism
        cat = self.catalog

        if not (cat.exists("postings") or cat.exists("blocks")):
            if corpus is None:
                raise ValueError(
                    "corpus is required unless the postings stage is committed"
                )
            with self.timer.phase("postings"):
                postings = build_postings(
                    corpus, id_cols=self.id_cols, text_col=self.text_col
                )
                cat.write(postings, "postings")
        src = (cat.manifest("postings")["snapshot_id"]
               if cat.exists("postings") else None)
        props = {"src_snapshot": src}

        def done(table: str) -> bool:
            return cat.exists(table) and (
                src is None
                or cat.manifest(table)["props"].get("src_snapshot") == src
            )

        if not (done("docmap") and done("stats")):
            # one phase writes both: stats is a single-row agg over the
            # docmap relation — folding it here avoids a separate stage
            # and a full docmap table re-read (one saved pass at scale)
            with self.timer.phase("docmap"):
                # renumbering every ordinal: tombstones from a previous
                # generation would delete arbitrary docs
                cat.drop("tombstones")
                postings = cat.read("postings")
                dl = postings.groupBy(*self.id_cols).agg(F.sum("tf").alias("dl"))
                docmap = assign_doc_ords(dl, self.id_cols, n_part)
                cat.write(
                    docmap, "docmap",
                    stats_cols=["doc_ord", self.id_cols[0]], props=props,
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
                # sum_dl rides along so appends can update stats
                # ARITHMETICALLY (O(delta), no docmap re-scan): dl are
                # ints, so the double sum is exact below 2^53 and
                # avgdl = sum_dl/n_docs is bit-identical to F.avg
                stats = cat.read("docmap").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").alias("avgdl"),
                    F.sum("dl").alias("sum_dl"),
                )
                cat.write(stats, "stats", props=props)
                ord_src = getattr(docmap, "_ord_source", None)
                if ord_src is not None:
                    ord_src.unpersist()

        if not done("terms"):
            with self.timer.phase("terms"):
                postings = cat.read("postings")
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
                cat.write(
                    dfs, "terms", stats_cols=["term"], props=props,
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )

        if not done("blocks"):
            with self.timer.phase("blocks"):
                postings = cat.read("postings")
                docmap = cat.read("docmap")
                # blocks carry raw (doc, tf, dl) postings, not scores,
                # so packing needs NO df/stats join — BM25 is computed
                # at query time from current stats, which keeps
                # appended blocks valid after df/avgdl/N drift.
                enriched = postings.join(docmap, self.id_cols).select(
                    "term", "doc_ord", "tf", "dl"
                )
                packed = _packed(enriched, ["term", "doc_ord"],
                                 _pack_partition, 0, _BLOCKS_OUT, n_part)
                cat.write(
                    packed, "blocks", stats_cols=["term"],
                    props={"n_runs": 1, **props},
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
        # lineage: the head snapshot-log row of each stage table,
        # stage 0's taken before that scratch table drops
        lineage = [
            {"unit": t, **cat.history(t)[-1]}
            for t in ("postings", "docmap", "stats", "terms", "blocks")
            if cat.exists(t)
        ]
        cat.drop("postings")
        return {"phases": self.timer.phases, "lineage": lineage}

    # -- query ------------------------------------------------------------

    def _decoded_postings(self, blocks: DataFrame) -> DataFrame:
        return blocks.select("term", "n_docs", *_PACKED).mapInArrow(
            _decode_blocks, schema=_POSTINGS_OUT)

    def _term_postings(self, terms: Sequence[str]) -> DataFrame:
        """Decoded (term, doc_ord, tf, dl) postings of ``terms``, from
        their manifest-pruned blocks (tombstoned docs included)."""
        terms = list(terms)
        return self._decoded_postings(
            self.catalog.read_pruned("blocks", "term", terms)
            .filter(F.col("term").isin(terms))
        )

    def _alive_postings(self) -> DataFrame:
        """(term, *id_cols, tf) of the alive documents: the committed
        blocks decoded, tombstones dropped, ids resolved via the docmap.
        One row per alive (term, doc) — what every rebuild starts from."""
        post = self._drop_tombstones(
            self._decoded_postings(self.catalog.read("blocks"))
        )
        return post.join(
            self.catalog.read("docmap").select("doc_ord", *self.id_cols),
            "doc_ord",
        ).select("term", *self.id_cols, "tf")

    # reducer memory bounds, independent of data scale AND parallelism
    # level (the SAME algorithm must run at every level, or cross-level
    # comparisons measure the code path, not scaling):
    TARGET_DOCS_PER_REDUCER = 100_000  # data-sized reducer tasks

    def _blocks_scan(self, q_terms: Sequence[str]) -> DataFrame:
        """Manifest-pruned blocks relation, cached by resolved file list
        (repeat batches over the same files skip re-planning the scan)."""
        terms = list(q_terms)
        snap = self.catalog.manifest("blocks")["snapshot_id"]
        paths = self.catalog.pruned_file_paths("blocks", "term", terms)
        if not paths:  # no stats (a full scan), or nothing can match
            return self.catalog.read_pruned("blocks", "term", terms)
        key = tuple(sorted(paths))
        return self._scans.get(
            snap, [key],
            lambda _: {key: self.catalog.read_pruned("blocks", "term", terms)},
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

    def _at_head(
        self, table: str, load: Callable[[], Any],
        extend: Callable[[Any, list[str]], Any] | None = None,
    ) -> Any:
        """``load()`` as of the head snapshot of ``table``, cached until
        the table commits another. The snapshot id is read BEFORE
        loading, so a commit racing the load caches newer data under
        the older id — the next call reloads once — never stale data
        under the newer id. One entry per loader (keyed by its code),
        so ``load`` must depend on nothing but the table.

        An append (a head file list that strictly extends the cached
        one) is served by ``extend(cached, new_files)`` when given: the
        extended value, or None to reload. As a racing load may already
        hold some of those files, ``extend`` must tolerate them."""
        man = self.catalog.manifest(table)
        key = (table, load.__code__)
        hit = self._heads.get(key)
        if hit is None or hit[0] != man["snapshot_id"]:
            files = [e["path"] for e in man["files"]]
            n = len(hit[1]) if hit else len(files)
            value = None
            if extend and n < len(files) and files[:n] == hit[1]:
                value = extend(hit[2], files[n:])
            hit = self._heads[key] = (
                man["snapshot_id"], files, load() if value is None else value)
        return hit[2]

    #: every table an index may commit, in rollback order (the stage-0
    #: ``postings`` table is build scratch, never committed past build)
    INDEX_TABLES = ("docmap", "terms", "terms_rev",
                    "terms_del", "stats", "blocks", "pos_blocks",
                    "docmeta", "tombstones", "termvecs")

    #: the size bound of the driver write tier, in distinct ids. A
    #: delete of at most this many ids resolves its ordinals with a
    #: manifest-pruned pyarrow docmap read and commits its tombstones
    #: from the driver (values-list prune is O(files × ids) driver
    #: work); an upsert of at most this many rows commits every table
    #: delta from the driver (``operators/upsert``). Bigger batches run
    #: as Spark jobs, over a pruned docmap while they hold at most this
    #: many distinct first-id values, else a full scan. The bound sits
    #: below the tiers' crossover: on local[4] (4 vCPU), upserting into
    #: a 20k-turn index, the driver tier took 2.0 / 2.3 / 4.8 s for
    #: 1k / 4k / 16k rows and the Spark tier 4.1 / 5.8 / 9.3 s. Also the
    #: per-call cap of :meth:`term_vectors`: a batch over it raises.
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
        ``expire_snapshots``. Every pinned snapshot is checked to be
        restorable before any head moves: when one is not (its table was
        dropped since the pin, or expiry deleted its files), the
        catalog's error is raised and every head is left unchanged."""
        cat = self.catalog
        todo = {t: sid for t, sid in pins.items()
                if not (cat.exists(t) and cat.manifest(t)["snapshot_id"] == sid)}
        for t, sid in todo.items():
            cat._retained(t, sid)
        for t, sid in todo.items():
            cat.restore(t, sid)
        for t in self.INDEX_TABLES:
            if t not in pins and cat.exists(t):
                cat.drop(t)

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

        def load(
            old: tuple = (None, np.empty(0, np.int64)),
            files: list[str] | None = None,
        ) -> tuple[np.ndarray, np.ndarray]:
            # an append's ordinals join the cached ones (``_at_head``)
            dead = np.union1d(old[1], self.catalog.read_arrow(
                "tombstones", columns=["doc_ord"], files=files,
            ).column("doc_ord").to_numpy())
            bits = np.zeros((int(dead[-1]) >> 3) + 1, dtype=np.uint8)
            np.bitwise_or.at(
                bits, dead >> 3, (1 << (dead & 7)).astype(np.uint8)
            )
            return bits, dead

        return self._at_head("tombstones", load, load)

    def delete_docs(self, docs) -> int:
        """Tombstone documents by id — O(|docs| + tombstones), no index
        file touched (segment-style deletes): the ordinals land in a
        committed ``tombstones`` table and every query path drops them
        before returning results. Ranking statistics (df, avgdl,
        n_docs) intentionally KEEP counting deleted docs until
        ``purge_deleted`` or the next full rebuild — the standard
        delete-visibility contract (deletes are instant, statistics
        heal at merge), and what keeps the delete O(delta).

        ``docs``: a DataFrame carrying ``id_cols`` (extra columns
        ignored) or an iterable of id tuples. Unknown ids are ignored;
        re-deleting is a no-op. Returns the number of NEWLY tombstoned
        docs. Tombstones survive O(delta) appends and merges (committed
        ordinals never move) and are consumed by full rebuilds.

        Two tiers, chosen by batch size: up to ``DELETE_PRUNE_MAX_IDS``
        distinct ids (the upsert regime) resolve and commit on the
        driver, no Spark job beyond collecting a DataFrame's ids; bigger
        batches semi-join the docmap in Spark, a pruned read when they
        hold at most that many distinct first-id values, else a full
        scan. Null ids match nothing.

        Reference analog: none — the reference rebuilds its archive
        from scratch for any corpus change (idx.py:85-92), the
        round-trip the 10^12-turn design point cannot afford."""
        cap = self.DELETE_PRUNE_MAX_IDS
        ids = None
        # a null id matches no docmap row (as in the Spark join below)
        if isinstance(docs, DataFrame):
            ids = docs.select(*self.id_cols).dropna().distinct()
            rows = [tuple(r) for r in ids.limit(cap + 1).collect()]
        else:
            rows = [
                tuple(r) if isinstance(r, (tuple, list)) else (r,)
                for r in docs
            ]
            rows = [r for r in dict.fromkeys(rows) if None not in r]
        if not rows:
            return 0
        stats_cols = self.catalog.manifest("docmap")["stats_cols"]
        if len(rows) <= cap and self.id_cols[0] in stats_cols:
            hits = pa.table({"doc_ord": self._alive_ords_of(rows)})
        else:
            if ids is None:
                dm_schema = self.catalog.spark_schema("docmap")
                ids = self.spark.createDataFrame(
                    rows, T.StructType([dm_schema[c] for c in self.id_cols])
                )
            hits = self._alive_ords_df(ids)
        return self._tombstone(hits)

    def _alive_ords_df(self, ids: DataFrame) -> DataFrame:
        """Alive ordinals of the id rows ``ids``, in Spark. A batch of at
        most ``DELETE_PRUNE_MAX_IDS`` distinct first-id values
        (conversations), however many id tuples it holds, semi-joins a
        PRUNED docmap read (see :meth:`_alive_ords_of`); the full
        O(corpus) docmap scan is the fallback for huge deletes and
        pre-stats snapshots."""
        cap = self.DELETE_PRUNE_MAX_IDS
        c0 = self.id_cols[0]
        dm = None
        if c0 in self.catalog.manifest("docmap")["stats_cols"]:
            probe = ids.select(c0).distinct().limit(cap + 1).collect()
            if len(probe) <= cap:
                dm = self.catalog.read_pruned(
                    "docmap", c0, values=sorted(r[0] for r in probe))
        if dm is None:
            dm = self.catalog.read("docmap")
        hits = dm.join(ids, list(self.id_cols), "left_semi").select("doc_ord")
        prev = self._tombstones_df()
        return hits if prev is None else hits.join(prev, "doc_ord",
                                                   "left_anti")

    def _tombstone(self, hits) -> int:
        """Append the ordinals ``hits`` (DataFrame or pyarrow) to the
        tombstones; returns how many are newly dead."""
        before = self._n_tombstones()
        self.catalog.write(
            hits, "tombstones", stats_cols=["doc_ord"], mode="append",
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
        )
        return self._n_tombstones() - before

    def _alive_ords_of(self, rows: list[tuple]) -> np.ndarray:
        """Sorted alive ordinals of the id tuples ``rows``, driver-side:
        the docmap is range-sorted by id_cols and its manifest carries
        min/max of the first id col, so a pyarrow read pruned to the
        probes' first-id values touches only the files (and row groups)
        that can hold one. Pruning by the first id col alone is safe: a
        pruned-out file holds no probe value of that col, so none of its
        rows can match the full-id join."""
        c0 = self.id_cols[0]
        vals = sorted({r[0] for r in rows})
        dm = self.catalog.read_pruned_arrow(
            "docmap", c0, values=vals, columns=["doc_ord", *self.id_cols]
        )
        if not dm.num_rows:
            return np.empty(0, np.int64)
        want = pa.table({  # join keys must share the docmap's types
            c: pa.array(v).cast(dm.schema.field(c).type)
            for c, v in zip(self.id_cols, zip(*rows))
        })
        ords = np.unique(
            dm.join(want, self.id_cols, join_type="inner")["doc_ord"]
            .to_numpy()
        )
        st = self._tomb_state()
        return ords if st is None else ords[_alive_bits(st[0], ords)]

    def upsert_docs(self, docs: DataFrame,
                    n_partitions: int | None = None) -> dict:
        """Insert-or-replace documents by id, O(delta) — tombstone the
        old generations, append the new ones as fresh ordinals. See
        ``operators/upsert.upsert_docs`` for the full contract."""
        from antidb_spark.operators import upsert as _upsert

        return _upsert.upsert_docs(self, docs, n_partitions=n_partitions)

    def purge_deleted(self, n_partitions: int | None = None) -> dict:
        """Physically remove tombstoned docs: rebuild the index from the
        alive postings decoded from blocks (O(total postings) — the
        merge/expunge step). Exact statistics are restored
        (df/avgdl/n_docs over the survivors) and ordinals renumber
        densely. Committed positional and docmeta side layers SURVIVE
        the renumbering via ordinal remap (see ``_rebuild``) — no
        corpus re-scan; dead generations drop from the layers in the
        same pass."""
        n_dead = self._n_tombstones()
        if not n_dead:
            return {"mode": "noop"}
        return {"mode": "purged", "n_purged": n_dead,
                **self._rebuild(n_partitions)}

    def _rebuild(self, n_partitions: int | None) -> dict:
        """Shared in-place rebuild core of ``purge_deleted`` /
        ``optimize``: write the alive postings (decoded from blocks) as
        the build's stage 0 and rebuild the derived
        layers — PRESERVING committed pos_blocks / docmeta
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
        re-tokenize.

        A crash after the stage-0 write is finished by ``build(None)``
        (the catalog alone records what is built); the side layers
        then stay unbuilt until ``build_positional_index`` /
        ``build_doc_meta`` re-runs."""
        from antidb_spark.operators.phrase import (
            _pack_pos_partition,
            _pos_postings,
            _POS_BLOCKS_OUT,
        )

        n_part = n_partitions or self.spark.sparkContext.defaultParallelism
        keep_pos = self.catalog.exists("pos_blocks")
        keep_meta = self.catalog.exists("docmeta")
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
        pos_src = _pos_postings(self) if keep_pos else None
        meta_src = self.catalog.read("docmeta") if keep_meta else None
        # the layers are keyed by the ordinals about to renumber: take
        # their heads down until the remap's replace publishes them
        # again. Their files stay — the sources above are planned over
        # explicit file lists — so a crash from here on leaves the
        # layers unbuilt, never keyed by the wrong ordinals.
        for tbl in ("pos_blocks", "docmeta"):
            if self.catalog.exists(tbl):
                os.remove(self.catalog._manifest_path(tbl))

        # stage 0 is written while its sources (blocks, docmap,
        # tombstones) are still committed: the table pins the alive
        # postings, with no in-memory copy; a crash after this write
        # resumes with build(None)
        self.catalog.write(self._alive_postings(), "postings")
        for tbl in ("docmap", "stats", "terms", "terms_rev", "terms_del",
                    "blocks", "tombstones", "termvecs"):
            self.catalog.drop(tbl)
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
                packed = _packed(new_pos, ["term", "doc_ord", "pos"],
                                 _pack_pos_partition, 0, _POS_BLOCKS_OUT,
                                 n_part)
                self.catalog.replace(
                    packed, "pos_blocks", stats_cols=["term"],
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
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
                self.catalog.replace(
                    new_meta, "docmeta", stats_cols=["doc_ord"],
                    props={"meta_cols": list(meta_cols)},
                    row_group_bytes=LEAF_ROW_GROUP_BYTES,
                )
                out["meta_layer"] = "remapped"
            old_map.unpersist()
        return out

    def optimize(self, n_partitions: int | None = None) -> dict:
        """Force-merge (the Lucene forceMerge analog): rebuild the
        derived layers from the alive postings decoded from blocks into a
        SINGLE blocks run, restoring the locality that O(delta)
        appends/upserts trade away — after many compactions a term's
        postings are scattered across runs, which costs extra block
        reads and per-segment decode overhead per query. O(total
        index), out-of-band, never required for correctness (every
        query path is multi-run-exact); run it when the runs count
        grows. With tombstones present this IS ``purge_deleted``
        (physical expunge + exact stats). Committed
        pos_blocks / docmeta layers SURVIVE via ordinal remap
        (``_rebuild``) — phrase and filtered service continue with
        no corpus re-scan."""
        n_runs = int(
            self.catalog.manifest("blocks")["props"].get("n_runs", 1)
        )
        if self._n_tombstones():
            out = self.purge_deleted(n_partitions)
            return {**out, "mode": "optimized", "n_runs_before": n_runs}
        if n_runs <= 1:
            return {"mode": "noop", "n_runs_before": n_runs}
        return {"mode": "optimized", "n_runs_before": n_runs,
                **self._rebuild(n_partitions)}

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
        # per-term ceil(df/BLOCK_SIZE): candidate-block estimate for the
        # query_warm gate and the Spark tier's reducer count (undercounts
        # partition-boundary partial blocks — fine for both)
        n_blocks = {t: (d + BLOCK_SIZE - 1) // BLOCK_SIZE for t, d in dfs.items()}
        return {
            "per_query": per_query,
            "terms": sorted(qmap),
            "dfs": dfs,
            "idf": idf,
            "qmap": {t: np.asarray(v, dtype=np.int64) for t, v in qmap.items()},
            "n_docs": n_docs,
            "avgdl": avgdl,
            "est_blocks": int(sum(n_blocks.values())),
            # each term's blocks counted once per query holding it (= Σ_q
            # of each query's own est_blocks): the work of scoring the
            # queries one by one, which gates query_batch's driver tier
            "fan_out": int(sum(n_blocks[t] * len(q) for t, q in qmap.items())),
        }

    @staticmethod
    def _tfw(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
        from antidb_spark.functions.bm25 import B, K1

        return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + (B * dl) / avgdl))

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

        def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            ords_l: list[np.ndarray] = []
            tids_l: list[np.ndarray] = []
            con_l: list[np.ndarray] = []
            src = -1
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                src = batch.column("_pid")[0].as_py()
                counts, ords, tfs, dls = _decode_table(batch)
                uniq, inv = np.unique(
                    batch.column("term").to_numpy(zero_copy_only=False),
                    return_inverse=True,
                )
                idf_u = np.array([idf[t] for t in uniq], dtype=np.float64)
                tid_u = np.array([term_ids[t] for t in uniq], dtype=np.int32)
                per_post = np.repeat(inv, counts)
                tfw = IndexBuilder._tfw(
                    tfs.astype(np.float64), dls.astype(np.float64), avgdl
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
            cuts = np.append(starts, bucket.size)
            # one blob per bucket: a slice of each array's raw bytes
            yield pa.RecordBatch.from_pydict({
                "bucket": ub.astype(np.int32),
                "src": np.full(ub.size, src, dtype=np.int32),
                **{c: binary_array(a, cuts * a.itemsize) for c, a in (
                    ("ords", ords), ("tids", tids), ("contribs", cons))},
            })

        return blocks.select(
            "term", "n_docs", *_PACKED, F.spark_partition_id().alias("_pid"),
        ).mapInArrow(gen, schema=out_schema)

    def query_batch(self, queries: Sequence[str], k: int = 10) -> DataFrame:
        """Batch top-k BM25 over the physical index.

        Returns (query_id, *id_cols, score) with per-query rank order;
        deterministic tiebreak on doc_ord (= (*id_cols) order).

        The whole batch is planned driver-side from committed metadata,
        then scored by one of two tiers, with no per-batch metadata jobs;
        both tiers rank each query with the same kernel
        (``_topk_slots``) and end in the same id resolve (``_ids_of``)
        and Arrow-built result frame:

        0. tier choice (``_batch_on_driver``, from the plan of step 1):
           a batch whose block fan-out (each term's blocks counted once
           per query holding it) fits ``WARM_MAX_BLOCKS`` — the budget
           one ``query_warm`` decodes on one core — is scored on the
           driver by the warm kernel (``_warm_scores``: one cached
           posting read for the union of its terms, per-query cost in
           the query's own postings) and runs NO Spark job. Bigger
           batches run the single Spark action of steps 2-4, whose
           Python tasks each pay a ≈ 110-150 ms floor.
        1. ``_plan_queries``: tokenize + df/idf/stats, pyarrow only.
        2. manifest file pruning on term; every block of the query
           terms in the surviving files is then scored.
        3. ``_bucketed_contribs``: decode + score in one Arrow stage,
           packed into per-(map-partition, doc-range-bucket) binary
           blob rows → the ONE shuffle moves a few hundred blobs
           instead of 10^7+ posting rows (row-codec cost was larger
           than the decode+score work itself). The scan runs under
           ``session.index_scan_conf``: straggler files split at 4 MB,
           small run files pack into shared tasks by bytes, because
           each decode task is a Python task with a ≈ 110-150 ms floor
           before its first row, so one task per small upsert run
           would cost more than the run's decode.
        4. tree top-k: per-bucket top-k of each query (``reduce_topk``,
           deterministic blob order) → numpy driver merge of
           ≤ k·|queries|·n_partitions rows → id resolution from the
           driver's docmap arrays (no docmap scan job). The driver tier
           needs no merge: each query's top k is already ranked.
        """
        plan = self._plan_queries(queries)
        dm_schema = self.catalog.spark_schema("docmap")
        out_schema = T.StructType(
            [T.StructField("query_id", T.IntegerType(), False)]
            + [dm_schema[c] for c in self.id_cols]
            + [T.StructField("score", T.DoubleType(), True)]
        )
        if plan is None or k < 1:  # k < 1: nothing to rank
            qid, ords, scores = (np.empty(0, dtype=t) for t in (
                np.int32, np.int64, np.float64))
        elif self._batch_on_driver(plan):
            # each query's top k, already ranked (score desc, doc_ord asc)
            tops = self._warm_scores(plan, k, dense=False)
            qid = np.repeat(np.arange(len(tops), dtype=np.int32),
                            [o.size for o, _ in tops])
            ords = np.concatenate([o for o, _ in tops])
            scores = np.concatenate([s for _, s in tops])
        else:
            qid, ords, scores = self._spark_top(plan, k)
        ids = {
            c: pa.array(v, from_pandas=True)
            for c, v in self._ids_of(ords).items()
        } if ords.size else {c: pa.nulls(0) for c in self.id_cols}
        # an Arrow table becomes a LocalRelation: collect runs no job
        return self.spark.createDataFrame(
            pa.table({"query_id": qid, **ids, "score": scores}),
            schema=out_schema,
        )

    def _batch_on_driver(self, plan: dict) -> bool:
        """The ``query_batch`` tier: True (driver) when the batch's block
        fan-out fits the warm block budget, False (one Spark action)."""
        return plan["fan_out"] <= self.WARM_MAX_BLOCKS

    def _spark_top(self, plan: dict, k: int) -> tuple[np.ndarray, ...]:
        """(query_ids, doc_ords, scores) of the Spark tier (``query_batch``
        steps 2-4): each query's top k ranked by (score desc, doc_ord
        asc), merged on the driver from its reducers' candidates."""
        terms = plan["terms"]
        blocks = self._blocks_scan(terms).filter(F.col("term").isin(terms))
        # deleted docs are dropped in the reducer, after scoring
        ts = self._tomb_state()
        tomb_bc = (
            self.spark.sparkContext.broadcast(ts[0])
            if ts is not None else None
        )
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
        topk_schema = T.StructType(
            [
                T.StructField("query_id", T.IntegerType(), False),
                T.StructField("doc_ord", T.LongType(), False),
                T.StructField("score", T.DoubleType(), True),
            ]
        )
        # query -> ascending term ids (sorted-term order — the same
        # pinned float-summation order the oracles use)
        per_q_tids: list[list[int]] = [[] for _ in plan["per_query"]]
        for t_i, t in enumerate(plan["terms"]):
            for q in plan["qmap"][t]:
                per_q_tids[int(q)].append(t_i)

        def reduce_topk(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            # bucket partitioning co-locates ALL of a doc's term
            # contributions, so per-(query, doc) sums are complete here
            # and the partition-local top-k is exact for its docs. Blob
            # rows are concatenated stably sorted by source map
            # partition, so float summation order is deterministic
            # regardless of shuffle arrival order.
            got = [b for b in batches if b.num_rows]
            if not got:
                return
            blobs = pa.Table.from_batches(got).sort_by("src")
            doc_post, tid, contrib_post = (
                binary_data(blobs.column(c)).view(t) for c, t in (
                    ("ords", np.int64), ("tids", np.int32),
                    ("contribs", np.float64)))
            # slots: the partition's docs in doc_ord order
            u, doc_inv_post = np.unique(doc_post, return_inverse=True)
            dead = (
                np.flatnonzero(~_alive_bits(tomb_bc.value, u))
                if tomb_bc is not None else None
            )
            # segment the partition's postings by term id ONCE, so each
            # query's kernel parts are slices (shared hot terms expand
            # to 10^8 fanned adds per batch; materializing expanded
            # (query, doc) index arrays paid ~6 array passes over them)
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
            out: dict[str, list[np.ndarray]] = {
                "query_id": [], "doc_ord": [], "score": []}
            for q, tids in enumerate(per_q_tids):
                parts = [seg[t] for t in tids if t in seg]
                if not parts:
                    continue
                sel, score = _topk_slots(parts, u.size, k, dead)
                out["query_id"].append(np.full(sel.size, q, dtype=np.int32))
                out["doc_ord"].append(u[sel])
                out["score"].append(score)
            if out["score"]:
                yield pa.RecordBatch.from_pydict(
                    {c: np.concatenate(v) for c, v in out.items()})

        # index-scan geometry (step 3 above) for this action only:
        # every other scan in the session (128 MB-row-group tables)
        # keeps the defaults
        with index_scan_conf(self.spark):
            cand = (
                bucketed.repartition(n_part, "bucket")
                .mapInArrow(reduce_topk, schema=topk_schema)
                .toArrow()
            )
        qid, ords, scores = (
            cand.column(c).to_numpy() for c in ("query_id", "doc_ord", "score")
        )
        order = np.lexsort((ords, -scores, qid))
        qid, ords, scores = qid[order], ords[order], scores[order]
        keep = np.arange(qid.size) - np.searchsorted(qid, qid) < k
        return qid[keep], ords[keep], scores[keep]

    # Above this many candidate blocks the interactive path would decode
    # too much on one core — fall back to the distributed batch path.
    # The same budget gates query_batch's driver tier, against the
    # batch's summed fan-out. Measured at 12,500 conversations (105,707
    # turns), 4 vCPUs, caches fresh after an upsert, median of 3-5: the
    # driver tier beat the Spark tier at every fan-out tried — 1.2k
    # blocks 0.15 vs 1.40 s, 5.5k 0.33 vs 1.57 s, 20k 0.94 vs 2.59 s,
    # 81k 2.56 vs 3.61 s (local[4]) — so the crossover is above 81k,
    # 16× this gate. The Spark tier ran faster at local[2] than at
    # local[4] (5.4k, fresh builder: 1.40 vs 2.24 s): more cores did not
    # shrink it.
    WARM_MAX_BLOCKS = 5_000
    # Dense warm scoring allocates one float per corpus doc; above this
    # the sparse (np.unique) path is used instead (a 50M-doc dense array
    # is 400 MB — fine on a driver, wrong at 10^12 docs).
    DENSE_WARM_MAX_DOCS = 50_000_000
    # Below this corpus size the whole (doc_ord → ids) mapping lives on
    # the driver (≈ 2M rows ≈ tens of MB) and final id resolution is a
    # binary search; above it, resolution stays a pruned pyarrow read.
    DOCMAP_CACHE_MAX_DOCS = 2_000_000

    def _ids_of(self, ords: np.ndarray) -> dict[str, np.ndarray]:
        """{id_col: values} of the doc ordinals ``ords``, in request
        order — from the driver's doc_ord-sorted docmap arrays when the
        corpus qualifies (extended in place on append), else from a
        manifest-pruned pyarrow read. Zero Spark jobs either way. An
        ordinal not in the docmap raises KeyError."""
        ords = np.asarray(ords, dtype=np.int64)
        cols = ["doc_ord", *self.id_cols]
        n_docs, _ = self._corpus_stats()
        if n_docs <= self.DOCMAP_CACHE_MAX_DOCS:

            def read(files: list[str] | None = None) -> tuple:
                return _by_ord(self.catalog.read_arrow(
                    "docmap", columns=cols, files=files))

            def extend(old: tuple, files: list[str]) -> tuple | None:
                new = read(files)
                if old[0].size and new[0].size and new[0][0] <= old[0][-1]:
                    return None  # not an ordinal append: reload
                return np.r_[old[0], new[0]], {
                    c: np.r_[v, new[1][c]] for c, v in old[1].items()}

            keys, ids = self._at_head("docmap", read, extend)
        else:
            keys, ids = _by_ord(self.catalog.read_pruned_arrow(
                "docmap", "doc_ord", values=ords.tolist(), columns=cols))
        at = np.searchsorted(keys, ords)
        found = at < keys.size
        found[found] = keys[at[found]] == ords[found]
        if not found.all():
            raise KeyError(ords[~found].tolist())
        return {c: v[at] for c, v in ids.items()}

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
            tbl = self.catalog.read_pruned_arrow(
                "blocks", "term", missing,
                columns=["term", "n_docs", *_PACKED],
            )
            empty = (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )
            found: dict[str, tuple] = {}
            if tbl.num_rows:
                counts, ords, tfs, dls = _decode_table(tbl)
                tfw = self._tfw(
                    tfs.astype(np.float64), dls.astype(np.float64), avgdl
                )
                # one int code per block term, in term order
                uniq, inv = np.unique(
                    tbl.column("term").to_numpy(zero_copy_only=False),
                    return_inverse=True,
                )
                code = np.repeat(inv, counts)
                # The decoded stream is term-major only within one run;
                # after compact_incremental appends, a term's blocks from
                # different runs interleave with other query terms. A
                # stable sort by term makes every term one contiguous
                # slice (within-term file order preserved). Float-safe:
                # each (term, doc) posting is unique — a doc lives in
                # exactly one run — so per-doc bincount summation order
                # stays the per-query-term order regardless of how a
                # term's runs were ordered in the raw stream.
                if (code[1:] < code[:-1]).any():
                    order = np.argsort(code, kind="stable")
                    ords, tfw = ords[order], tfw[order]
                n_post = np.bincount(code, minlength=uniq.size)
                ends = np.cumsum(n_post)
                for t, s, e in zip(uniq, ends - n_post, ends):
                    found[t] = (ords[s:e], tfw[s:e])
            return {t: found.get(t, empty) for t in missing}

        return self._postings.get(
            (snap, avgdl), terms, load, self.POSTINGS_CACHE_MAX
        )

    def _warm_top_ords(
        self, query: str | Sequence[str], k: int
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """Driver-side top-k (doc_ords, scores) for one query (a string,
        or a pre-expanded term list) — the warm tier of ``query_warm`` /
        ``query_prefix_warm`` and the warm snippet tier
        (``phrase.term_positions_warm``). Returns None when the query
        exceeds the warm block budget (caller falls back to
        ``query_batch``); empty arrays when nothing matches."""
        plan = self._plan_queries([query])
        if plan is None:
            return np.array([], dtype=np.int64), np.array([], dtype=np.float64)
        if plan["est_blocks"] > self.WARM_MAX_BLOCKS:
            return None
        return self._warm_scores(
            plan, k, dense=plan["n_docs"] <= self.DENSE_WARM_MAX_DOCS
        )[0]

    def _warm_scores(
        self, plan: dict, k: int, dense: bool
    ) -> list[tuple[np.ndarray, np.ndarray]]:
        """Driver-side top-k (doc_ords, scores) of every query of
        ``plan`` through ``_topk_slots`` — the scoring of
        ``_warm_top_ords`` and of ``query_batch``'s driver tier. The
        postings of the union of the plan's terms come from the LRU
        cache in ONE call (one pruned pyarrow read for the misses).
        ``dense`` scores into one float per corpus doc (O(n_docs) per
        query, no sort: one query on a corpus that fits); otherwise a
        query costs a sort of its own postings (np.unique), which is
        what a batch of many queries over a big corpus needs."""
        post = self._warm_postings(plan["terms"], plan["avgdl"])
        ts = self._tomb_state()
        n_docs = plan["n_docs"]
        dead = None if ts is None else ts[1][ts[1] < n_docs]
        out = []
        for q_terms in plan["per_query"]:
            # sorted-term order: the term order of the Spark tier's
            # reducer, so both tiers sum every score in the same order
            terms = [t for t in q_terms if t in post]
            if not terms:
                out.append((np.empty(0, dtype=np.int64), np.empty(0)))
                continue
            ords = [post[t][0] for t in terms]
            contribs = [plan["idf"][t] * post[t][1] for t in terms]
            if dense:
                # doc ordinals are DENSE: slot = doc_ord, no sort
                out.append(_topk_slots(zip(ords, contribs), n_docs, k, dead))
                continue
            # slot = rank of the doc among the query's own postings
            uniq, inv = np.unique(np.concatenate(ords), return_inverse=True)
            slots = np.split(inv, np.cumsum([o.size for o in ords])[:-1])
            top, scores = _topk_slots(
                zip(slots, contribs), uniq.size, k,
                None if ts is None
                else np.flatnonzero(~_alive_bits(ts[0], uniq)),
            )
            out.append((uniq[top], scores))
        return out

    def query_warm(self, query: str, k: int = 10) -> pd.DataFrame:
        """Interactive single-query BM25 with NO Spark job — the warm
        path matching the reference's hundredths-of-a-second class
        (README.md:43,47): manifest-pruned pyarrow block reads, numpy
        decode + scoring, driver-side top-k, ids from the driver's
        doc_ord-sorted docmap arrays (``_ids_of``).
        Used when the query's candidate blocks fit one core
        (≤ WARM_MAX_BLOCKS, i.e. rare/mid terms — the interactive
        regime); stopword-heavy queries fall back to ``query_batch``,
        whose gate sends a query over that budget to its Spark tier.
        Returns pandas (*id_cols, score), rank- and value-identical to
        both ``query_batch`` tiers (pinned by tests)."""
        return self._warm_frame(query, k)

    def _warm_frame(self, query: str | Sequence[str], k: int) -> pd.DataFrame:
        """(*id_cols, score) top-k for one query (string or expanded
        term list): the warm core plus id resolve, or — when the query
        exceeds the warm block budget — ``query_batch``, which for one
        such query always takes its Spark tier (a single query's
        fan-out is its block estimate)."""
        r = self._warm_top_ords(query, k)
        if r is None:
            out = self.query_batch([query], k=k).toPandas()
            return out.drop(columns=["query_id"]).reset_index(drop=True)
        top, top_scores = r
        if top.size == 0:
            return pd.DataFrame(columns=[*self.id_cols, "score"])
        return pd.DataFrame({**self._ids_of(top), "score": top_scores})

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
        post = self._drop_tombstones(
            self._term_postings(dict.fromkeys(terms))
        )
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
        blocks = self.catalog.read_pruned(
            "blocks", "term", lo=start, hi=end
        ).filter((F.col("term") >= start) & (F.col("term") <= end))
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
        """Per-doc pinned BM25 scores of ``q_terms`` (sorted), (doc_ord,
        c0.., raw, score) with c{i} NULL ⟺ the doc lacks term i: the
        :func:`pinned_scores` core over the terms' manifest-pruned
        blocks, df/N/avgdl as literals from the snapshot-keyed
        ``_term_dfs`` / ``_corpus_stats`` caches — no plan scans
        ``terms`` or ``stats``. ``weights`` boosts term i."""
        dfs = self._term_dfs(q_terms)
        n_docs, avgdl = self._corpus_stats()
        return pinned_scores(
            self._term_postings(sorted(dfs)), q_terms, literal_dfs(dfs),
            n_docs, avgdl, weights=weights,
        )

    def _pinned_topk(
        self, q_terms: Sequence[str], k: int,
        weights: Sequence[float] | None = None,
        must: Collection[str] = (), min_should: int = 0,
        must_not: Sequence[str] = (), keep: DataFrame | None = None,
        after: tuple | None = None,
    ) -> DataFrame:
        """The pinned family's one top-k entry: ``_pinned_doc_scores``
        of ``q_terms`` (sorted; none → empty) under one must/must-not
        spec, then ``_resolve_topk``. Docs hold every ``must`` term
        (c{i} NOT NULL) and ≥ ``min_should`` of the others (more than
        there are → empty, the Lucene contract); any ``must_not`` term
        anti-joins a doc out; ``keep`` (doc_ords) semi-joins the rest."""
        opt = [i for i, t in enumerate(q_terms) if t not in must]
        if not q_terms or len(opt) < min_should:
            return self._empty_topk()
        scored = self._pinned_doc_scores(q_terms, weights)
        for i, t in enumerate(q_terms):
            if t in must:
                scored = scored.filter(F.col(f"c{i}").isNotNull())
        if min_should:
            matched = reduce(_op.add, [
                F.when(F.col(f"c{i}").isNotNull(), 1).otherwise(0)
                for i in opt
            ])
            scored = scored.filter(matched >= int(min_should))
        if must_not:
            scored = scored.join(
                self._matching_ords(must_not), "doc_ord", "left_anti"
            )
        if keep is not None:
            scored = scored.join(keep, "doc_ord", "left_semi")
        return self._resolve_topk(
            scored.select("doc_ord", "score"), k, after=after
        )

    def _empty_topk(self) -> DataFrame:
        dm = self.catalog.spark_schema("docmap")
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
        paging / synonyms / decayed / each federated segment)."""
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
            # the join holds ≤ k rows already: the limit plans the order
            # as a TakeOrderedAndProject, not a range-partitioned sort
            .limit(k)
        )

    def _matching_ords(
        self, terms: Sequence[str], require_all: bool = False
    ) -> DataFrame:
        """Distinct alive doc_ords holding ANY of ``terms`` (EVERY one
        with ``require_all``), from their manifest-pruned blocks — a
        match test with no scoring, sized by the terms' postings, never
        the corpus. The candidate set of the facets, ``hit_count`` and
        ``significant_terms``, and the NOT side of the pinned family."""
        post = self._term_postings(terms).select("term", "doc_ord")
        if require_all:
            cand = (
                post.groupBy("doc_ord")
                .agg(F.count_distinct("term").alias("_nt"))
                .filter(F.col("_nt") == len(terms))
                .select("doc_ord")
            )
        else:
            cand = post.select("doc_ord").distinct()
        return self._drop_tombstones(cand)

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
        ``topk.bm25_topk_pinned`` — see its docstring): tf/dl from the
        terms' manifest-pruned blocks, df/N/avgdl as driver-planned
        literals (``_pinned_doc_scores``).

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
        return self._pinned_topk(
            q_terms, k, must=q_terms if require_all else (),
            must_not=sorted(set(py_tokens(exclude or ""))), after=after,
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
        round at 6dp for cross-engine hashing. The df/idf factors take
        the same driver-planned df/N/avgdl literals the score used."""
        from antidb_spark.functions.analyze import py_tokens
        from antidb_spark.functions.bm25 import idf as _idf
        from antidb_spark.functions.bm25 import tf_weight as _tfw

        tops = self.query_pinned(query, k=k)
        # drop tombstoned ordinals BEFORE the id join: after an upsert
        # the docmap holds superseded generations under the same id
        dm = self._drop_tombstones(self.catalog.read("docmap"))
        top_ords = dm.join(F.broadcast(tops), list(self.id_cols)).select(
            "doc_ord", *self.id_cols, "score"
        )
        dfs = self._term_dfs(sorted(set(py_tokens(query))))
        df = literal_dfs(dfs)
        n_docs, avgdl = (F.lit(v) for v in self._corpus_stats())
        post = self._term_postings(sorted(dfs)).join(
            F.broadcast(top_ords), "doc_ord"
        )
        return post.select(
            *self.id_cols,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            df.cast("long").alias("df"),
            F.round(_idf(df, n_docs), 6).alias("idf"),
            F.round(_tfw(F.col("tf"), F.col("dl"), avgdl), 6)
            .alias("tf_weight"),
            F.round(
                contribution(F.col("tf"), df, F.col("dl"), avgdl, n_docs), 6
            ).alias("contribution"),
            "score",
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
        # group attributes may live in docmeta instead (documents:
        # source/lang) — same resolution rule as group_top_hits. One
        # source serves the whole group key: mixing id components with
        # docmeta attrs needs the ids duplicated into docmeta
        src = (
            self.catalog.read("docmap")
            if all(c in self.id_cols for c in gcols)
            else self._docmeta(*gcols)
        )
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            schema = ", ".join(
                [f"{c} {src.schema[c].dataType.simpleString()}"
                 for c in gcols]
                + ["n_hits bigint", "best_score double"]
            )
            return self.spark.createDataFrame([], schema)
        scored = self._drop_tombstones(
            self._pinned_doc_scores(q_terms).select("doc_ord", "score")
        )
        return (
            scored.join(src.select("doc_ord", *gcols), "doc_ord")
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
        return self._pinned_topk(
            sorted(must_t | set(py_tokens(should))), k, must=must_t,
            min_should=min_should_match,
            must_not=sorted(set(py_tokens(must_not))),
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
        postings into one task at scale; members overlap, so it cannot
        come from member dfs). The blended rows score through the
        shared :func:`pinned_scores` core, N and avgdl as literals.

        Reference analog: A1's synonym FALLBACK tries alternate keys
        only on a miss (lookup.py:146-196; reference README annotation
        loop) — this is the ranking-level generalization a full-text
        engine exposes for the same need."""
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
        post = self._term_postings(all_terms)
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
        n_docs, avgdl = self._corpus_stats()
        top = pinned_scores(
            grouped.join(F.broadcast(gdf), "rep"), reps, F.col("df"),
            n_docs, avgdl, key="rep",
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
        return self._pinned_topk(self.expand_prefix(prefix, max_terms), k)

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
        dfs = self._term_dfs(sorted(tf))
        n_docs, _ = self._corpus_stats()
        weighted = sorted(
            (
                (t, tf[t] * math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))
                for t, d in dfs.items()
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return self._pinned_topk(sorted(t for t, _ in weighted[:m]), k)

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
        return self.catalog.replace(
            rows, "terms_del", stats_cols=["delkey"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src,
                   "max_edits": self.SYMSPELL_MAX_EDITS},
        )

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
        return self._pinned_topk(exp, k)

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
        exp = self.expand_fuzzy(term, max_edits, max_terms)
        if not exp:
            return pd.DataFrame(columns=[*self.id_cols, "score"])
        return self._warm_frame(exp, k)

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
        return self._pinned_topk(self.expand_regex(pattern, max_terms), k)

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
        return self.catalog.replace(
            rev, "terms_rev", stats_cols=["rterm"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src},
        )

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
        return self.catalog.replace(
            tv, "termvecs", stats_cols=["doc_ord"],
            row_group_bytes=LEAF_ROW_GROUP_BYTES,
            props={"src_snapshot": src},
        )

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
        drive file pruning, so it is capped at ``DELETE_PRUNE_MAX_IDS``
        distinct ids (the interactive per-doc inspection shape; a
        bigger batch raises ``ValueError`` — corpus-scale re-keying is
        :meth:`build_term_vectors` itself).

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
            dm_schema = self.catalog.spark_schema("docmap")
            docs = self.spark.createDataFrame(
                rows, T.StructType([dm_schema[c] for c in self.id_cols])
            )
        ids = docs.select(*self.id_cols).distinct()
        # the capped probe bounds the ordinal collect below
        probe = ids.limit(self.DELETE_PRUNE_MAX_IDS + 1).collect()
        if len(probe) > self.DELETE_PRUNE_MAX_IDS:
            raise ValueError(
                f"term_vectors takes at most {self.DELETE_PRUNE_MAX_IDS} "
                "distinct ids per call"
            )
        c0 = self.id_cols[0]
        vals = sorted({r[c0] for r in probe if r[c0] is not None})
        if vals and c0 in self.catalog.manifest("docmap")["stats_cols"]:
            dm = self.catalog.read_pruned("docmap", c0, values=vals)
        else:
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
        dm = self.catalog.spark_schema("docmap")
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
        return self._pinned_topk(self.expand_wildcard(pattern, max_terms), k)

    def query_wildcard_warm(
        self, pattern: str, k: int = 10, max_terms: int | None = None
    ) -> pd.DataFrame:
        """Interactive wildcard top-k with NO Spark job (expansion from
        the pruned forward/reversed dictionary via pyarrow, scoring
        through the shared warm core); falls back to the distributed
        batch path above the warm block budget — value-identical
        either way."""
        exp = self.expand_wildcard(pattern, max_terms)
        if not exp:
            return pd.DataFrame(columns=[*self.id_cols, "score"])
        return self._warm_frame(exp, k)

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
        q_terms = sorted(norm)
        return self._pinned_topk(
            q_terms, k, weights=[norm[t] for t in q_terms]
        )

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
        ages = self._docmeta(age_col).select("doc_ord", age_col)
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self._empty_topk()
        decay = F.lit(1.0) / (
            F.lit(1.0)
            + F.col(age_col).cast("double") / F.lit(float(half_life_days))
        )
        # decay the UNROUNDED fixed-order sum and round ONCE at the
        # output boundary — rounding the 4dp score again would put the
        # product on .00005 ties where engines' rounding modes diverge
        decayed = self._pinned_doc_scores(q_terms).join(
            ages, "doc_ord"
        ).withColumn("score", F.round(F.col("raw") * decay, 4))
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
        return self._matching_ords(q_terms).agg(
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
        if not self.catalog.exists("docmap"):
            raise ValueError("build the base index (docmap) before docmeta")
        if self.catalog.exists("docmeta"):
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
            return self.catalog.write(
                out, "docmeta", stats_cols=["doc_ord"],
                props={"meta_cols": list(meta_cols)},
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )

    def _docmeta(self, *cols: str) -> DataFrame:
        """The committed ``docmeta`` relation, which must exist and
        carry every column of ``cols`` (``ValueError`` otherwise)."""
        if not self.catalog.exists("docmeta"):
            raise ValueError(
                "docmeta not built (build_doc_meta(corpus, meta_cols))"
            )
        meta = self.catalog.read("docmeta")
        missing = [c for c in cols if c not in meta.columns]
        if missing:
            raise ValueError(
                f"not docmeta columns: {', '.join(map(repr, missing))}"
            )
        return meta

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

        meta = self._docmeta(facet_col)
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame(
                [], f"facet {meta.schema[facet_col].dataType.simpleString()}"
                ", n_docs long",
            )
        cand = self._matching_ords(q_terms, require_all)
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
        meta = self._docmeta(facet_col)
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame([], "bucket long, n_docs long")
        cand = self._matching_ords(q_terms, require_all)
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
        from antidb_spark.functions.analyze import py_tokens

        if not clauses:
            raise ValueError("at least one clause required")
        gsrc = (
            self.catalog.read("docmap") if group_col in self.id_cols
            else self._docmeta(group_col)
        ).select("doc_ord", group_col)
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

        meta = self._docmeta(facet_col)
        q_terms = sorted(set(py_tokens(query)))
        if not q_terms:
            return self.spark.createDataFrame(
                [(0, 0)], "n_values bigint, n_docs bigint"
            ).filter(F.lit(False))
        cand = self._matching_ords(q_terms, require_all)
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
        the committed ``terms`` table (a tiny broadcast) and N from the
        driver's cached corpus stats (a literal). The postings decode is a full-index pass: that is
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
        fg = self._matching_ords(q_terms)
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
        fg_pct = F.col("fg_df") / F.col("n_fg")
        bg_pct = F.col("bg_df") / F.lit(self._corpus_stats()[0])
        return (
            fg_df.join(F.broadcast(bg), "term")
            .crossJoin(F.broadcast(fg_n))
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
        gsrc = (
            self.catalog.read("docmap") if group_col in self.id_cols
            else self._docmeta(group_col)
        ).select("doc_ord", group_col)
        id_out = [c for c in self.id_cols if c != group_col]
        if not q_terms:
            gt = gsrc.schema[group_col].dataType.simpleString()
            dm = self.catalog.spark_schema("docmap")
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

        keep = self._docmeta().filter(F.expr(where)).select("doc_ord")
        q_terms = sorted(set(py_tokens(query)))
        return self._pinned_topk(
            q_terms, k, must=q_terms if require_all else (),
            must_not=sorted(set(py_tokens(exclude or ""))), keep=keep,
        )
