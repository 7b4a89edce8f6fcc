"""Analyzer parity: Spark expr == DuckDB SQL == pure Python (the shared
normalization invariant, idx.py:143-148 ↔ prs.py:46-49)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from antidb_spark.functions.analyze import py_tokens, sql_tokens, tokens

SAMPLES = [
    "Hello, World-42!",
    "the quick  brown_fox: jumps.Over 7 lazy DOGS",
    "",
    "---",
    "UPPER lower 123 mIxEd",
    "tabs\tand\nnewlines are separators",
    "unicode é ü ß collapses to separators",
]


def test_three_way_tokenizer_parity(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "text string")
    spark_out = [r["toks"] for r in
                 df.select(tokens("text").alias("toks")).collect()]
    py_out = [py_tokens(s) for s in SAMPLES]
    assert spark_out == py_out

    con = duckdb.connect()
    for s, expected in zip(SAMPLES, py_out):
        got = con.execute(
            f"select list_filter({sql_tokens('?')}, t -> t <> '')", [s]
        ).fetchone()[0]
        assert got == expected, s


def test_tokens_drops_every_empty_piece(spark):
    """Splitting leaves empty pieces at a leading or trailing separator
    and for a separator-only string; tokens() removes all of them, as
    py_tokens does, and a null text stays null."""
    texts = ["", " ", "--!!", "  lead", "trail.. ", ",,both,,", "a  -- b",
             "x,,,y;;;z", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(tokens("text").alias("toks")).collect()
    got = [r["toks"] for r in rows]
    assert got == [py_tokens(t) for t in texts[:-1]] + [None]


def test_distinct_tokens_keeps_first_occurrence_order(spark):
    from antidb_spark.functions.analyze import distinct_tokens

    df = spark.createDataFrame([("b a b c a",)], "text string")
    [row] = df.select(distinct_tokens("text").alias("t")).collect()
    assert row["t"] == ["b", "a", "c"]
