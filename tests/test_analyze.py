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


def test_py_tokens_equals_jvm_tokens_on_every_code_point(spark):
    """``py_tokens`` tokenizes driver-tier upserts, so it must equal the
    JVM ``tokens()`` on any text: every code point but the surrogates,
    in chunks of 1,000 joined by ``x`` (so a code point that lowercases
    into [a-z0-9] joins its neighbours' token)."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    chunks = ["x".join(map(chr, cps[i:i + 1000]))
              for i in range(0, len(cps), 1000)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(chunks)],
                               "i int, text string")
    got = {r["i"]: r["toks"] for r in
           df.select("i", tokens("text").alias("toks")).collect()}
    assert len(chunks) == 1113
    bad = [i for i, s in enumerate(chunks) if got[i] != py_tokens(s)]
    assert not bad, [chunks[i][:40] for i in bad[:3]]
