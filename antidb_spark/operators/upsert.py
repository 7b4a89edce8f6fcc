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

Two tiers, chosen by input size against the cap bounded deletes
already use (``IndexBuilder.DELETE_PRUNE_MAX_IDS``). A batch within it
is read to the driver as raw rows (no Spark job for a driver-resident
input, else ONE bounded action), tokenized there by ``py_tokens`` (the
analyzer's Python view, equal to the JVM one on every code point), and
every table delta is numbered, packed and committed from there with
pyarrow and the same kernels — an upsert's cost is otherwise per-job
constants, dozens of jobs for a few dozen documents. Bigger batches run
the distributed plan, which tokenizes in the JVM as the build does.

Data-model note: the packed ``blocks`` (ordinal-keyed) + ``docmap`` minus
``tombstones`` are the only committed postings, so an upsert appends one
blocks run and leaves superseded generations to the tombstones; every
rebuild reads alive postings from there (``IndexBuilder._alive_postings``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from antidb_spark.functions.analyze import py_tokens, tokens
from antidb_spark.operators.stats import build_postings
from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES


def _with_ords(rel, new_docmap, id_cols: list[str], cols: list[str]):
    """``rel`` keyed by id_cols → ``cols`` with the fresh ordinals (and
    doc lengths) of ``new_docmap`` joined in."""
    if isinstance(rel, pa.Table):
        return rel.join(
            new_docmap.select([*id_cols, "doc_ord", "dl"]), id_cols,
            join_type="inner",
        ).select(cols)
    return rel.join(new_docmap, id_cols).select(*cols)


def append_run(
    builder,
    delta_post: DataFrame | pa.Table,
    *,
    pos_delta: DataFrame | pa.Table | None = None,
    meta_delta: DataFrame | pa.Table | None = None,
    n_partitions: int | None = None,
) -> dict:
    """Append one run of NEW documents to a committed index, O(delta).

    ``delta_post``: (term, *id_cols, tf) — every id must denote a NEW
    ordinal (brand-new doc, or an upsert whose previous generations are
    already tombstoned). Appends files to docmap/blocks (fresh
    ``run_base`` so block ids can't collide; committed files untouched),
    rewrites the small terms/stats tables (crash-atomic manifest swap),
    and maintains the side layers: ``pos_delta`` (term, *id_cols, pos)
    appends a pos_blocks run, ``meta_delta`` (*id_cols, *meta_cols)
    appends docmeta rows — passing None for a COMMITTED layer drops it
    (better absent than silently missing the appended docs). A layer is
    built iff its table is committed, so a dropped one reads as unbuilt
    at once, a crash mid-append included.

    Deltas are Spark DataFrames (streaming compaction, big upserts) or
    driver-resident ``pyarrow.Table``s (the driver tier of
    ``upsert_docs``). A pyarrow delta is numbered, merged and packed on
    the driver by the same kernels and commits ONE file per table with
    no Spark job; ``n_partitions`` is ignored then. Both tiers commit
    the same rows in the same order.

    Factored out of streaming compaction (the sink-fed path) so batch
    upserts share one tested implementation.
    """
    from antidb_spark.operators.build import (
        _BLOCKS_OUT,
        _pack_partition,
        _packed,
        assign_doc_ords,
    )

    b = builder
    id_cols = list(b.id_cols)
    local = isinstance(delta_post, pa.Table)
    n_part = 1 if local else (  # a pyarrow delta packs as ONE partition
        n_partitions or b.spark.sparkContext.defaultParallelism)

    start = 1 + int(max(
        e["max_doc_ord"]
        for e in b.catalog.manifest("docmap")["files"]
        if e.get("max_doc_ord") is not None
    ))
    src = None
    if local:
        # dense ordinals in id order, exactly as assign_doc_ords numbers
        # (arrow sorts strings bytewise, as Spark does)
        new_dl = delta_post.group_by(id_cols).aggregate([("tf", "sum")])
        new_dl = new_dl.sort_by([(c, "ascending") for c in id_cols])
        new_docmap = pa.table({
            **{c: new_dl[c] for c in id_cols},
            "dl": new_dl["tf_sum"],
            "doc_ord": np.arange(start, start + len(new_dl),
                                 dtype=np.int64),
        })
    else:
        new_dl = delta_post.groupBy(*id_cols).agg(F.sum("tf").alias("dl"))
        new_docmap = assign_doc_ords(new_dl, id_cols, n_part, start=start)
        src = getattr(new_docmap, "_ord_source", None)
    b.catalog.write(
        new_docmap, "docmap",
        stats_cols=["doc_ord", id_cols[0]], mode="append"
    )

    # terms: merged df lands in a fresh generation dir; the manifest
    # pointer swap is the crash-atomic commit point (Catalog.replace) —
    # a crash mid-rewrite leaves the old terms snapshot fully readable
    if local:
        old_terms = b.catalog.read_arrow("terms", columns=["term", "df"])
        counts = pc.value_counts(delta_post["term"])
        delta_df = pa.table(
            {"term": counts.field("values"), "df": counts.field("counts")}
        ).cast(old_terms.schema)
        summed = pa.concat_tables([old_terms, delta_df]).group_by(
            "term").aggregate([("df", "sum")])
        merged_terms = pa.table(
            {"term": summed["term"], "df": summed["df_sum"]}
        ).sort_by("term")
    else:
        old_terms = b.catalog.read("terms")
        delta_df = delta_post.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"))
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
    # builds compute avgdl as the same sum/count.
    old = b.catalog.read_arrow("stats").to_pylist()[0]
    if local:
        d_n, d_s = len(new_docmap), pc.sum(new_docmap["dl"]).as_py()
    else:
        d = new_dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).first()
        d_n, d_s = d["n"], d["s"]
    n = int(old["n_docs"]) + int(d_n)
    s = int(old["sum_dl"]) + int(d_s or 0)
    stats = pa.table(
        {"n_docs": [n], "avgdl": [s / n], "sum_dl": [s]},
        schema=pa.schema([("n_docs", pa.int64()),
                          ("avgdl", pa.float64()),
                          ("sum_dl", pa.int64())]),
    )
    b.catalog.replace(stats, "stats")

    # blocks: pack ONLY the delta postings; append with a fresh run_base
    n_runs = int(b.catalog.manifest("blocks")["props"].get("n_runs", 1))
    enriched = _with_ords(delta_post, new_docmap, id_cols,
                          ["term", "doc_ord", "tf", "dl"])
    packed = _packed(enriched, ["term", "doc_ord"], _pack_partition,
                     n_runs << 48, _BLOCKS_OUT, n_part)
    man = b.catalog.write(
        packed, "blocks", stats_cols=["term"], mode="append",
        props={"n_runs": n_runs + 1},
        row_group_bytes=LEAF_ROW_GROUP_BYTES,
    )

    # positional layer: append a run when position rows for the delta
    # are available; drop otherwise (phrase queries raise until rebuild)
    pos_mode = None
    if b.catalog.exists("pos_blocks"):
        if pos_delta is None:
            b.catalog.drop("pos_blocks")
            pos_mode = "invalidated"
        else:
            from antidb_spark.operators.phrase import (
                _pack_pos_partition,
                _POS_BLOCKS_OUT,
            )

            n_pos_runs = int(
                b.catalog.manifest("pos_blocks")["props"].get("n_runs", 1)
            )
            enriched_pos = _with_ords(pos_delta, new_docmap, id_cols,
                                      ["term", "doc_ord", "pos"])
            packed_pos = _packed(
                enriched_pos, ["term", "doc_ord", "pos"],
                _pack_pos_partition, n_pos_runs << 48, _POS_BLOCKS_OUT,
                n_part,
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
    if b.catalog.exists("docmeta"):
        want_cols = (
            b.catalog.manifest("docmeta").get("props", {}).get("meta_cols")
        )
        if (
            meta_delta is None
            or not want_cols
            or not set(want_cols) <= set(
                meta_delta.column_names if local else meta_delta.columns)
        ):
            b.catalog.drop("docmeta")
            meta_mode = "invalidated"
        else:
            new_meta = _with_ords(meta_delta, new_docmap, id_cols,
                                  ["doc_ord", *want_cols])
            if local:
                new_meta = new_meta.sort_by("doc_ord")
            b.catalog.write(
                new_meta, "docmeta", stats_cols=["doc_ord"], mode="append",
                row_group_bytes=LEAF_ROW_GROUP_BYTES,
            )
            meta_mode = "append"

    if src is not None:
        src.unpersist()
    return {
        "run": n_runs, "pos_mode": pos_mode, "meta_mode": meta_mode,
        "snapshot": man["snapshot_id"],
    }


def _meta_cols(b, docs: DataFrame) -> list[str] | None:
    """The committed docmeta columns when ``docs`` carries them all
    (the docmeta delta can be maintained), else None."""
    if not b.catalog.exists("docmeta"):
        return None
    want = b.catalog.manifest("docmeta").get("props", {}).get("meta_cols")
    return list(want) if want and set(want) <= set(docs.columns) else None


def _read_delta(docs, id_cols, text_col, meta_cols, cap) -> pa.Table | None:
    """(*id_cols, ``_tokens``, *meta_cols) of ``docs``, or None when it
    holds more than ``cap`` rows. One bounded read of the raw rows: a
    pandas-born input is a local relation whose ``collect()`` runs no
    job; others cost one ``toArrow`` job (a limited ``collect`` runs one
    per scale-up step). The only JVM projection prunes a scan's columns
    and ships timestamps as epoch micros (``collect`` makes naive
    local-zone datetimes). Texts are tokenized here by ``py_tokens``,
    which equals the JVM ``tokens()`` on every code point, and only
    once the batch is known to fit, so the Spark tier never tokenizes
    on the driver. A null text stays null."""
    want = [*id_cols, text_col, *meta_cols]
    ts = [c for c in meta_cols if dict(docs.dtypes)[c] == "timestamp"]
    local = docs.isLocal()
    if ts or not local:  # a scan reads only the columns it needs
        docs = docs.select(
            *[F.unix_micros(c).alias(c) if c in ts else c for c in want])
    q = docs.limit(cap + 1)
    if local:
        rows = q.collect()
        at = {f.name: (i, f.dataType) for i, f in enumerate(docs.schema)}
        cols = {
            c: pa.array([r[at[c][0]] for r in rows], to_arrow_type(at[c][1]))
            for c in want if c != text_col
        }
        texts = [r[at[text_col][0]] for r in rows]
    else:
        batch = q.toArrow()
        cols = {c: batch[c] for c in want if c != text_col}
        texts = batch[text_col].to_pylist()
    if len(texts) > cap:
        return None
    toks = [None if t is None else py_tokens(t) for t in texts]
    return pa.table({
        **{c: cols[c] for c in id_cols},
        "_tokens": pa.array(toks, pa.list_(pa.string())),
        **{c: cols[c].cast(pa.timestamp("us", tz="UTC")) if c in ts
           else cols[c] for c in meta_cols},
    })


def _check_unique(n_in: int, n_ids: int) -> None:
    """``n_ids`` counts distinct ids over the rows with no null id (as
    Spark's ``count_distinct``), so a null id fails the check too."""
    if n_ids != n_in:
        raise ValueError(
            f"upsert input holds null or duplicate ids ({n_in} rows, "
            f"{n_ids} distinct ids) — replace-by-id needs one row per id"
        )


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

    A batch of at most ``DELETE_PRUNE_MAX_IDS`` rows takes the driver
    tier (``tier: "driver"`` in the result): one bounded read (no job
    for a driver-resident input, else one action) brings ids, texts and
    metadata to the driver, ``py_tokens`` tokenizes the texts there
    (the same tokens the JVM analyzer gives), and every table delta
    commits from there as one file per table (``n_partitions`` is
    ignored). The bound counts rows, not bytes: the driver holds up to
    that many documents, a few times over while it packs them. Bigger
    batches take the Spark tier, after the bounded read (cap + 1 raw
    rows, never tokenized) has found them too big.
    """
    b = builder
    if not b.catalog.exists("blocks"):
        raise ValueError("upsert requires a committed index (build first)")
    cap = b.DELETE_PRUNE_MAX_IDS
    meta_cols = _meta_cols(b, docs)
    batch = _read_delta(docs, b.id_cols, b.text_col, meta_cols or [], cap)
    if batch is None:
        out = _upsert_spark(b, docs, meta_cols, n_partitions)
    else:
        out = _upsert_local(b, batch, meta_cols)
    return {"mode": "upsert", **out}


def _upsert_local(b, batch: pa.Table, meta_cols: list[str] | None) -> dict:
    """The driver tier of :func:`upsert_docs` over its collected batch."""
    id_cols = list(b.id_cols)
    # align id types to the committed docmap (append must not fork the
    # parquet schema, e.g. pandas-born int64 turn_idx vs committed int32)
    dm_schema = b.catalog.arrow_schema("docmap")
    for c in id_cols:
        batch = batch.set_column(
            batch.schema.get_field_index(c), c,
            batch[c].cast(dm_schema.field(c).type),
        )
    ids = batch.select(id_cols)
    _check_unique(len(ids),
                  len(ids.drop_null().group_by(id_cols).aggregate([])))

    # explode the token lists: one row per occurrence, with its position
    toks = batch["_tokens"].combine_chunks()
    row = pc.list_parent_indices(toks).to_numpy()
    occ = pa.table({"_row": row, "term": pc.list_flatten(toks)})
    tf = occ.group_by(["_row", "term"]).aggregate([([], "count_all")])
    post_ids = ids.take(tf["_row"])
    delta_post = pa.table({
        "term": tf["term"],
        **{c: post_ids[c] for c in id_cols},
        "tf": tf["count_all"],
    })

    n_replaced = b.delete_docs(list(zip(*(ids[c].to_pylist()
                                          for c in id_cols))))

    pos_delta = None
    if b.catalog.exists("pos_blocks"):
        occ_ids = ids.take(row)
        pos_delta = pa.table({
            "term": occ["term"],
            **{c: occ_ids[c] for c in id_cols},
            "pos": np.arange(len(row)) - np.searchsorted(row, row),
        })
    meta_delta = batch.select([*id_cols, *meta_cols]) if meta_cols else None
    out = append_run(
        b, delta_post, pos_delta=pos_delta, meta_delta=meta_delta,
    )
    return {"tier": "driver", "n_replaced": n_replaced, **out}


def _upsert_spark(b, docs: DataFrame, meta_cols: list[str] | None,
                  n_partitions: int | None) -> dict:
    """The Spark tier of :func:`upsert_docs` (batches over the cap)."""
    # align id types to the committed docmap (append must not fork the
    # parquet schema, e.g. pandas-born int64 turn_idx vs committed int32)
    docmap_types = {
        f.name: f.dataType for f in b.catalog.spark_schema("docmap").fields
    }
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
    _check_unique(int(c["n"]), int(c["d"]))

    delta_post = build_postings(
        docs, id_cols=b.id_cols, text_col=b.text_col
    )
    # over the cap: straight to delete_docs' Spark path
    n_replaced = b._tombstone(b._alive_ords_df(docs.select(*b.id_cols)))

    pos_delta = None
    if b.catalog.exists("pos_blocks"):
        pos_delta = docs.select(
            *b.id_cols, F.posexplode(tokens(b.text_col)).alias("pos", "term")
        ).select("term", *b.id_cols, "pos")

    meta_delta = docs.select(*b.id_cols, *meta_cols) if meta_cols else None
    out = append_run(
        b, delta_post, pos_delta=pos_delta, meta_delta=meta_delta,
        n_partitions=n_partitions,
    )
    return {"tier": "spark", "n_replaced": n_replaced, **out}
