"""Stateful streaming sessionization (``applyInPandasWithState``).

The batch engine computes gap sessions with two window stages
(``operators/events.sessionize``); a stream can't window over history
it hasn't seen, so this is the canonical CUSTOM STATEFUL OPERATOR shape
(SURVEY §1.4 / task brief: ``applyInPandasWithState`` where built-ins
can't express the semantics): per-user state carries the OPEN session
(first/last timestamp, event count) plus the closed-session counter,
each micro-batch folds its (sorted) events into that state, sessions
close either when a later event exceeds the gap or when the event-time
watermark passes ``last + gap`` (an event-time timeout — no more events
can belong to the session).

Semantics are IDENTICAL to the batch operator, row for row:

- strict-gap split (`> gap` splits, `== gap` does not — Spark's
  built-in ``session_window`` uses an exclusive end, so an exact-gap
  event would split there; this operator preserves the batch contract),
- ties at equal timestamps break on the event id,
- 1-based ``session_idx`` per user in time order (the closed counter
  survives session closure AND user silence — a returning user's
  numbering continues),
- output row = (user_id, session_idx, n_events, first_us, last_us,
  duration_us), epoch-microsecond longs — byte-identical to
  ``sessionize``, so the SAME DuckDB oracle verifies both.

Disorder handling: the fold is only safe over a prefix no future event
can precede, so per-user state buffers events the watermark hasn't
finalized yet (`us < watermark` ⇒ final — arrivals carry event time ≥
watermark) and folds exactly that prefix each micro-batch. State is
therefore O(events inside the watermark-delay window) per user — the
standard disorder-buffer cost of event-time stateful operators — plus
five longs for the session fold; a session's events leave state as soon
as the watermark passes them, long before the session closes. Those
five longs stay after a user's last session closes (the closed-session
counter is what lets a returning user's numbering continue), so the
state store holds one small entry per user ever seen: O(distinct users)
resident, never removed by this operator. Each
micro-batch shuffles only its own rows once on ``user_col`` (bounded by
batch size, never corpus), and Arrow batches carry rows into the pandas
fold. Late data: rows older than the watermark may be dropped by Spark
before reaching the operator (the standard stateful contract); choose
``watermark_delay`` to cover the source's disorder bound.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fold_core(
    n_closed: int,
    first: int,
    last: int,
    n: int,
    buf: list,
    wm_us: int,
    gap_us: int,
) -> tuple:
    """Pure session fold (the per-key state transition, extracted for
    JVM-free property testing): fold every buffered ``(us, id)`` with
    ``us < wm_us`` into the ordered session chain, close sessions whose
    gap is exceeded, close the trailing open session once the watermark
    is STRICTLY past ``last + gap`` (at equality an exact-gap event
    could still arrive and merge — the batch operator's strict->
    contract; a non-empty buffer can't block this: buffered events are
    >= watermark > last + gap here, so none can merge backwards).

    Returns ``(closed, n_closed, first, last, n, buf)`` where ``closed``
    is a list of (session_idx, n_events, first_us, last_us) rows and
    ``buf`` the remaining (still watermark-unfinalized) events.
    ``first == -1`` marks "no open session"."""
    buf = sorted(buf)
    closed: list = []
    k = 0
    while k < len(buf) and buf[k][0] < wm_us:
        us = buf[k][0]
        if first == -1:
            first, last, n = us, us, 1
        elif us - last > gap_us:
            n_closed += 1
            closed.append((n_closed, n, first, last))
            first, last, n = us, us, 1
        else:
            last, n = max(last, us), n + 1
        k += 1
    buf = buf[k:]
    if first != -1 and wm_us - last > gap_us:
        n_closed += 1
        closed.append((n_closed, n, first, last))
        first, last, n = -1, -1, 0
    return closed, n_closed, first, last, n, buf


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark_delay: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming gap sessions per user; see module docstring.

    Returns a streaming DataFrame (outputMode ``append``) emitting one
    row per CLOSED session — closed by a later event of the same user,
    or by the event-time watermark passing ``last_us + gap`` (the
    timeout path, so sessions of silent users flush without requiring
    another event from them).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_minutes) * 60_000_000
    utype = stream.schema[user_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("user_id", utype, False),
            T.StructField("session_idx", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("first_us", T.LongType(), False),
            T.StructField("last_us", T.LongType(), False),
            T.StructField("duration_us", T.LongType(), False),
        ]
    )
    # (closed-session counter, open-session fold, pending event buffer).
    # first_us == -1 marks "no open session"; the counter survives both
    # closure and user silence so session_idx numbering continues. The
    # buffer holds events the watermark has NOT yet finalized — an
    # earlier event may still arrive for them, so they cannot be folded
    # into the strictly-ordered session chain yet. State size is
    # O(events inside the watermark delay window) per user — the
    # standard disorder-buffer cost of event-time stateful operators.
    state_schema = T.StructType(
        [
            T.StructField("n_closed", T.LongType(), False),
            T.StructField("first_us", T.LongType(), False),
            T.StructField("last_us", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("buf_us", T.ArrayType(T.LongType()), False),
            T.StructField("buf_id", T.ArrayType(T.LongType()), False),
        ]
    )

    def _row(user: Any, idx: int, n: int, first: int, last: int) -> tuple:
        return (user, idx, n, first, last, last - first)

    def fold(
        key: Tuple[Any],
        pdfs: Iterable[pd.DataFrame],
        state: "GroupState",
    ) -> Iterator[pd.DataFrame]:
        cols = list(out_schema.fieldNames())
        user = key[0]
        if state.exists:
            n_closed, first, last, n, buf_us, buf_id = state.get
            buf = sorted(zip(buf_us, buf_id))
        else:
            n_closed, first, last, n, buf = 0, -1, -1, 0, []
        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs), ignore_index=True)
            buf.extend(
                zip(
                    (int(v) for v in batch["_us"].astype("int64")),
                    (int(v) for v in batch["_id"].astype("int64")),
                )
            )
        # Finality rule: future arrivals carry event time >= watermark,
        # so a buffered event with us < watermark can never be preceded
        # by a new arrival — fold_core folds exactly that prefix into
        # the ordered session chain. Before the first watermark
        # (ms == 0) nothing is final and everything buffers.
        wm_us = state.getCurrentWatermarkMs() * 1_000
        closed, n_closed, first, last, n, buf = fold_core(
            n_closed, first, last, n, buf, wm_us, gap_us
        )
        out = [_row(user, idx, cn, cf, cl) for idx, cn, cf, cl in closed]
        pending = ([last] if first != -1 else []) + [u for u, _ in buf]
        # kept even with nothing pending: session_idx continuity needs
        # the closed counter (O(distinct users) state, module docstring)
        state.update((
            n_closed, first, last, n,
            [u for u, _ in buf], [i for _, i in buf],
        ))
        if pending:
            # fires once the watermark is strictly past max(pending)+gap:
            # every buffered event is final by then and every session
            # strictly closeable (the +1 ms makes the boundary strict)
            state.setTimeoutTimestamp((max(pending) + gap_us) // 1_000 + 1)
        yield pd.DataFrame(out, columns=cols)

    ev = (
        stream.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
            F.col(id_col).alias("_id"),
            F.col(ts_col).cast("timestamp").alias("_ts"),
        )
        .withWatermark("_ts", watermark_delay)
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_sessionize_stream(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream_sessions",
    gap_minutes: int = 30,
    watermark_delay: str = "1 hour",
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded harness: run the streaming sessionizer over a parquet
    file-source directory with ``availableNow`` (each file set becomes
    micro-batches; state flows across them), collect closed sessions in
    a memory sink, and return them as a batch DataFrame. The production
    form drops the trigger and points the sink at a real table."""
    if schema is None:
        import glob

        sample = sorted(glob.glob(f"{source_dir}/*.parquet"))
        schema = spark.read.parquet(sample[0]).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # one file per micro-batch: pins deterministic batch boundaries
        # for the cross-batch state tests
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    q = (
        sessionize_stream(
            src, gap_minutes=gap_minutes, watermark_delay=watermark_delay
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table_name)
