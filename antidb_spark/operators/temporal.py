"""Temporal joins Spark's built-ins don't express: as-of and banded range.

The task brief names these as the canonical "operator the engine lacks"
cases; both are built as COMPOSITIONS of existing DataFrame ops (the
brief's preferred strategy) rather than Pandas-UDF state machines:

- ``asof_join``: for each left row, the latest right row with
  right.ts ≤ left.ts per key. NOT a range join (which would explode),
  and NOT a per-key loop: tag both sides, union, and take
  ``last(right_cols, ignoreNulls=True)`` over a (key)-partitioned
  window ordered by (ts, side, id). ONE shuffle on the key — the same
  exchange a groupBy would pay — and per-row O(1) window state, so the
  plan survives any corpus size where single-key event counts fit a
  partition (the same bound sessionize already carries).
- ``banded_range_join``: pairs within ±band seconds, as a BUCKETIZED
  equi-join: left explodes to its bucket ±1 (3 rows), the join key is
  (key, bucket), and the exact |Δts| ≤ band filter runs post-join.
  Shuffle volume is 3×|left| + |right| — never the O(n·m) a naive
  range predicate under sort-merge degenerates to — and AQE handles
  bucket skew like any other equi-join key.

Determinism contract (for the DuckDB oracles, which use the NATIVE
``ASOF JOIN`` / range-predicate join — semantically independent
formulations): as-of ties on right.ts are broken by max(id) BEFORE the
join (per-(key, ts) dedup both engines state identically), so the
"latest right row" is unique; the range join emits a pair SET with no
tie to break. Gaps are integer microseconds (``unix_micros`` /
``epoch_us``) — no float time arithmetic anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
    right_cols: Sequence[str] = (),
) -> DataFrame:
    """For each left row: the latest right row with right.ts ≤ left.ts
    and the same ``key`` (ties on right.ts → max right id). Returns the
    left ids + matched right id (+ requested right cols) + gap_us
    (left.ts - right.ts in integer microseconds); unmatched lefts keep
    NULLs. Reference semantics twin: DuckDB ``ASOF JOIN`` over the
    per-(key, ts) max-id-deduped right side.

    Every right field rides in ONE struct, so the match is atomic (no
    per-column last() that could mix rows when a right column is NULL),
    and the tie-break needs no pre-dedup pass: rights at equal ts sort
    by id ascending, so the window's last-non-null IS the max-id row.
    Net plan: a union and ONE hash exchange on ``key``."""
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),  # right sorts first at equal ts (≤ match)
        F.lit(None).cast(left.schema[left_id].dataType).alias("_lid"),
        F.struct(
            F.col(right_id).alias("rid"),
            F.unix_micros(F.col(ts).cast("timestamp")).alias("rus"),
            *[F.col(c).alias(c) for c in right_cols],
        ).alias("_r"),
    )
    l_tag = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("_side"),
        F.col(left_id).alias("_lid"),
        F.lit(None).cast(r_tag.schema["_r"].dataType).alias("_r"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col(ts).asc(),
            F.col("_side").asc(),
            F.col("_r.rid").asc_nulls_first(),
            F.col("_lid").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    match = F.last("_r", ignorenulls=True).over(w)
    return (
        l_tag.unionByName(r_tag)
        .select(
            F.col(key),
            F.col("_lid").alias("left_id"),
            F.col(ts),
            match.getField("rid").alias("right_id"),
            (
                F.unix_micros(F.col(ts).cast("timestamp"))
                - match.getField("rus")
            ).alias("gap_us"),
            F.col("_side").alias("_s"),
            *[match.getField(c).alias(f"r_{c}") for c in right_cols],
        )
        .filter(F.col("_s") == 1)
        .drop("_s")
    )


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    band_seconds: int,
    ts: str = "ts",
    left_id: str = "event_id",
    right_id: str = "event_id",
) -> DataFrame:
    """All (left, right) pairs with the same ``key`` and
    |left.ts - right.ts| ≤ band_seconds, as a bucketized equi-join:
    bucket width = band, left rows fan out to bucket-1..bucket+1, join
    on (key, bucket), exact band filter after. Returns
    (key, left_id, right_id, delta_us) with delta_us = right - left
    (signed integer microseconds)."""
    band_us = band_seconds * 1_000_000
    l_us = F.unix_micros(F.col(ts).cast("timestamp"))
    l_b = (
        left.select(
            F.col(key),
            F.col(left_id).alias("left_id"),
            l_us.alias("_lus"),
            F.explode(
                F.array(*[
                    (F.floor(l_us / band_us) + d).cast("long")
                    for d in (-1, 0, 1)
                ])
            ).alias("_bucket"),
        )
    )
    r_us = F.unix_micros(F.col(ts).cast("timestamp"))
    r_b = right.select(
        F.col(key),
        F.col(right_id).alias("right_id"),
        r_us.alias("_rus"),
        F.floor(r_us / band_us).cast("long").alias("_bucket"),
    )
    return (
        l_b.join(r_b, [key, "_bucket"])
        .filter(F.abs(F.col("_rus") - F.col("_lus")) <= band_us)
        .select(
            key,
            "left_id",
            "right_id",
            (F.col("_rus") - F.col("_lus")).alias("delta_us"),
        )
        # no dedup needed: the left's three fan-out buckets are distinct
        # values and the right carries exactly one, so each qualifying
        # (left, right) pair joins exactly once
    )
