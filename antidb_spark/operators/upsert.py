"""O(delta) document upserts (insert-or-replace by id) + the shared
append-run core used by both batch upserts and streaming compaction.

Upsert = tombstone every alive generation of the incoming ids
(`delete_docs` — O(delta), no index file touched), then append the new
generation as brand-new ordinals (fresh docmap rows, fresh blocks run,
positional/meta layers maintained from the raw docs). The reference has
no analog — it rebuilds its whole archive for any corpus change
(idx.py:85-92); at the 10^12-turn design point replace-by-rebuild is
not affordable, so this is the segment-style update contract: old
version invisible instantly, statistics stale until purge (the same
visibility contract `delete_docs` documents).

Data-model note (why `alive_postings` exists): the stage-0 ``postings``
table is keyed by id columns, not ordinals. An upsert appends the new
generation's rows WITHOUT touching the old generation's — after the
first upsert that table can hold superseded generations of the same id,
indistinguishable from each other. Every query path is unaffected (they
read the ordinal-keyed blocks, and dead ordinals drop at the tombstone
chokepoints), but the two consumers that rebuild FROM the id-keyed
table — ``purge_deleted`` and streaming full-compaction — would merge
or double-drop generations. Once the ``has_upserts`` checkpoint marker
is set they therefore reconstruct alive postings from blocks + docmap +
tombstones (`alive_postings`) — exact, one generation per id, same
O(index) cost class as the rebuild itself. The marker clears with the
checkpoint reset those rebuilds perform.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from antidb_spark.operators.stats import build_postings
from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES

UPSERT_MARK = "has_upserts"


def alive_postings(builder) -> DataFrame:
    """(term, *id_cols, tf) of ALIVE documents, reconstructed from the
    ordinal-keyed blocks (lossless) minus tombstones, ids resolved via
    the docmap — the authoritative source once the id-keyed stage-0
    table may hold superseded generations (see module docstring)."""
    post = builder._drop_tombstones(
        builder._decoded_postings(builder.catalog.read("blocks"))
    )
    docmap = builder.catalog.read("docmap")
    return post.join(
        docmap.select("doc_ord", *builder.id_cols), "doc_ord"
    ).select("term", *builder.id_cols, "tf")


def append_run(
    builder,
    delta_post: DataFrame,
    *,
    pos_delta: DataFrame | None = None,
    meta_delta: DataFrame | None = None,
    n_partitions: int | None = None,
    ckpt_extra: dict | None = None,
) -> dict:
    """Append one run of NEW documents to a committed index, O(delta).

    ``delta_post``: (term, *id_cols, tf) — every id must denote a NEW
    ordinal (brand-new doc, or an upsert whose previous generations are
    already tombstoned). Appends files to docmap/postings/blocks (fresh
    ``run_base`` so block ids can't collide; committed files untouched),
    rewrites the small terms/stats tables (crash-atomic manifest swap),
    and maintains the side layers: ``pos_delta`` (term, *id_cols, pos)
    appends a pos_blocks run, ``meta_delta`` (*id_cols, *meta_cols)
    appends docmeta rows — passing None for a COMMITTED layer drops it
    (better absent than silently missing the appended docs).

    Factored out of streaming compaction (the sink-fed path) so batch
    upserts share one tested implementation.
    """
    from antidb_spark.operators.build import (
        _BLOCKS_OUT,
        _pack_partition,
        assign_doc_ords,
    )

    b = builder
    spark = b.spark
    id_cols = list(b.id_cols)
    n_part = n_partitions or spark.sparkContext.defaultParallelism

    old_max = max(
        e["max_doc_ord"]
        for e in b.catalog.manifest("docmap")["files"]
        if e.get("max_doc_ord") is not None
    )
    new_dl = delta_post.groupBy(*id_cols).agg(F.sum("tf").alias("dl"))
    new_docmap = assign_doc_ords(new_dl, id_cols, n_part,
                                 start=int(old_max) + 1)
    b.catalog.write(
        new_docmap, "docmap",
        stats_cols=["doc_ord", id_cols[0]], mode="append"
    )
    src = getattr(new_docmap, "_ord_source", None)

    b.catalog.write(delta_post, "postings", mode="append")

    # terms: merged df lands in a fresh generation dir; the manifest
    # pointer swap is the crash-atomic commit point (Catalog.replace) —
    # a crash mid-rewrite leaves the old terms snapshot fully readable
    old_terms = b.catalog.read("terms")
    delta_df = delta_post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    merged_terms = (
        old_terms.withColumnRenamed("df", "df_old")
        .join(delta_df.withColumnRenamed("df", "df_new"), "term",
              "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df_old"), F.lit(0))
                + F.coalesce(F.col("df_new"), F.lit(0))
            ).alias("df"),
        )
    )
    b.catalog.replace(merged_terms, "terms", stats_cols=["term"],
                      row_group_bytes=LEAF_ROW_GROUP_BYTES)

    # stats: updated ARITHMETICALLY from the committed row + the delta's
    # (count, sum dl) — O(delta), never a docmap re-scan. Bit-identical
    # to a from-scratch recompute: dl are ints, integer-valued double
    # sums below 2^53 are exact in any association order, and fresh
    # builds compute avgdl as the same sum/count. Pre-sum_dl indexes
    # (older snapshots) take one full recompute, which upgrades them.
    old = b.catalog.read_arrow("stats").to_pylist()[0]
    if old.get("sum_dl") is not None:
        d = new_dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).first()
        n = int(old["n_docs"]) + int(d["n"])
        s = int(old["sum_dl"]) + int(d["s"] or 0)
        stats = spark.createDataFrame(
            [(n, s / n, s)], "n_docs bigint, avgdl double, sum_dl bigint"
        )
    else:
        stats = b.catalog.read("docmap").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("sum_dl"),
        )
    b.catalog.replace(stats, "stats")

    # blocks: pack ONLY the delta postings; append with a fresh run_base
    n_runs = int(b.catalog.manifest("blocks")["props"].get("n_runs", 1))
    assert n_part < (1 << 16), "run_base layout assumes < 2^16 partitions"
    enriched = delta_post.join(new_docmap, id_cols).select(
        "term", "doc_ord", "tf", "dl"
    )
    packed = (
        enriched.repartitionByRange(n_part, "term", "doc_ord")
        .sortWithinPartitions("term", "doc_ord")
        .withColumn("_pid", F.spark_partition_id())
        .mapInPandas(
            partial(_pack_partition, run_base=n_runs << 48),
            schema=_BLOCKS_OUT,
        )
    )
    man = b.catalog.write(
        packed, "blocks", stats_cols=["term"], mode="append",
        props={"n_runs": n_runs + 1},
        row_group_bytes=LEAF_ROW_GROUP_BYTES,
    )

    # positional layer: append a run when position rows for the delta
    # are available; drop otherwise (phrase queries raise until rebuild)
    pos_mode = None
    if b.ckpt.is_done("pos_blocks"):
        if pos_delta is None:
            b.catalog.drop("pos_blocks")
            b.ckpt.unmark("pos_blocks")
            pos_mode = "invalidated"
        else:
            from antidb_spark.operators.phrase import (
                _pack_pos_partition,
                _POS_BLOCKS_OUT,
            )

            n_pos_runs = int(
                b.catalog.manifest("pos_blocks")["props"].get("n_runs", 1)
            )
            enriched_pos = pos_delta.join(new_docmap, id_cols).select(
                "term", "doc_ord", "pos"
            )
            packed_pos = (
                enriched_pos.repartitionByRange(n_part, "term", "doc_ord")
                .sortWithinPartitions("term", "doc_ord", "pos")
                .withColumn("_pid", F.spark_partition_id())
                .mapInPandas(
                    partial(_pack_pos_partition, run_base=n_pos_runs << 48),
                    schema=_POS_BLOCKS_OUT,
                )
            )
            b.catalog.write(
                packed_pos, "pos_blocks", stats_cols=["term"],
                mode="append", props={"n_runs": n_pos_runs + 1},
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
            pos_mode = "append"

    # docmeta: append the new docs' metadata rows (keyed to their fresh
    # ordinals) when available; otherwise drop — filtered search must
    # never silently serve a result set that excludes appended docs
    meta_mode = None
    if b.ckpt.is_done("docmeta"):
        want_cols = (
            b.catalog.manifest("docmeta").get("props", {}).get("meta_cols")
        )
        if (
            meta_delta is None
            or not want_cols
            or not set(want_cols) <= set(meta_delta.columns)
        ):
            b.catalog.drop("docmeta")
            b.ckpt.unmark("docmeta")
            meta_mode = "invalidated"
        else:
            new_meta = meta_delta.join(new_docmap, id_cols).select(
                "doc_ord", *want_cols
            )
            b.catalog.write(
                new_meta, "docmeta", stats_cols=["doc_ord"], mode="append",
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
            meta_mode = "append"

    if src is not None:
        src.unpersist()
    b.ckpt.mark_done(
        f"compaction_run_{n_runs}",
        snapshot=man["snapshot_id"],
        **(ckpt_extra or {}),
    )
    return {
        "run": n_runs, "pos_mode": pos_mode, "meta_mode": meta_mode,
        "snapshot": man["snapshot_id"],
    }


def upsert_docs(builder, docs: DataFrame,
                n_partitions: int | None = None) -> dict:
    """Insert-or-replace documents by id, O(delta).

    ``docs``: corpus-shaped rows (*id_cols, text_col, + any docmeta
    columns the index tracks). Existing generations of the incoming ids
    are tombstoned (instantly invisible), the new generation appends as
    fresh ordinals, and the positional / docmeta layers are maintained
    from the raw rows — a committed docmeta layer whose columns the
    incoming rows lack is dropped rather than left silently partial.
    Ranking statistics keep counting the dead generations until
    ``purge_deleted`` (the documented stale-stats visibility contract);
    re-upserting the same id later tombstones the previous upsert's
    generation the same way.
    """
    b = builder
    if not b.ckpt.is_done("blocks"):
        raise ValueError("upsert requires a committed index (build first)")
    # align id types to the committed docmap (append must not fork the
    # parquet schema, e.g. pandas-born int64 turn_idx vs committed int32)
    docmap_types = dict(b.catalog.read("docmap").dtypes)
    docs = docs.select(
        *[
            F.col(c).cast(docmap_types[c]).alias(c) if c in docmap_types
            else F.col(c)
            for c in docs.columns
        ]
    )
    docs = docs.localCheckpoint()  # pin: read once for postings/pos/meta
    # one action for both counts (per-job latency dominates O(delta) ops)
    c = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(i) for i in b.id_cols]).alias("d"),
    ).first()
    n_in, n_ids = int(c["n"]), int(c["d"])
    if n_ids != n_in:
        raise ValueError(
            f"upsert input holds duplicate ids ({n_in} rows, {n_ids} "
            "distinct ids) — replace-by-id needs one row per id"
        )

    delta_post = build_postings(
        docs, id_cols=b.id_cols, text_col=b.text_col
    )
    n_replaced = b.delete_docs(docs.select(*b.id_cols))

    pos_delta = None
    if b.ckpt.is_done("pos_blocks"):
        from antidb_spark.functions.analyze import tokens

        pos_delta = docs.select(
            *b.id_cols, F.posexplode(tokens(b.text_col)).alias("pos", "term")
        ).select("term", *b.id_cols, "pos")

    meta_delta = None
    if b.ckpt.is_done("docmeta"):
        want_cols = (
            b.catalog.manifest("docmeta").get("props", {}).get("meta_cols")
        )
        if want_cols and set(want_cols) <= set(docs.columns):
            meta_delta = docs.select(*b.id_cols, *want_cols)

    out = append_run(
        b, delta_post, pos_delta=pos_delta, meta_delta=meta_delta,
        n_partitions=n_partitions,
        ckpt_extra={"upsert": True},
    )
    if not b.ckpt.is_done(UPSERT_MARK):
        b.ckpt.mark_done(UPSERT_MARK)
    return {"mode": "upsert", "n_replaced": n_replaced, **out}
