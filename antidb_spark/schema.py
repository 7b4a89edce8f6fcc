"""Typed schemas for the engine's tables.

The reference is schema-less (structure imposed per-index by user lambdas,
``idx.py:44,137-138``); here every table is a fixed StructType per
BASELINE.json ``input_hint``.

``doc`` identity: the reference identifies a row by the byte offset of its
line (``idx.py:124,131``). We use explicit key columns — for transcripts a
``struct<conv_id:string, turn_idx:int>`` (struct ordering in Spark is
lexicographic by field, which reproduces the reference's
key-then-file-offset result order, ``prs.py:86-105``).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

DOC_ID_COLS = ("conv_id", "turn_idx")
