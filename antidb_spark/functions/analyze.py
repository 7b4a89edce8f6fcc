"""The shared analyzer — ONE tokenizer for corpus, queries, and oracles.

The reference applies the SAME user ``adb_srt_rule`` to data keys at build
time (idx.py:143-148) and to query constants (prs.py:46-49); that identity
is the correctness invariant this module preserves. Three views of one
definition:

- ``tokens(col)``        — Spark Column expression (JVM-side, codegen'd;
                           no Python in the hot path),
- ``sql_tokens(expr)``   — the equivalent DuckDB/ANSI SQL fragment for
                           oracle queries,
- ``py_tokens(s)``       — plain-Python version: query strings, the
                           pandas oracle scorer, and the texts of
                           driver-tier upserts (``operators/upsert``).

The driver-tier upsert commits ``py_tokens`` output into the same index
the JVM ``tokens`` builds, so the two must agree on every text, not only
on ASCII: ``tests/test_analyze.py`` checks every code point but the
surrogates, which is what permits that use.

Tokenization: lowercase, split on runs of non-[a-z0-9], drop empties.
The reference analog is the tokenize-to-set extraction in its inverted
index test (tests.py:689-693); we keep duplicates so tf can be counted
(P6 'tf variant' in SURVEY §2.2).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
_PY_TOKEN = re.compile("[a-z0-9]+")  # the runs TOKEN_SPLIT_RE splits out


def tokens(col: Column | str) -> Column:
    """array<string> of tokens for a text column (JVM-side expressions)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SPLIT_RE), "")


def distinct_tokens(col: Column | str) -> Column:
    """Deduplicated token set — the reference's `tuple(set(mtds))`
    extraction (tests.py:689-693)."""
    return F.array_distinct(tokens(col))


def sql_tokens(expr: str) -> str:
    """DuckDB fragment producing the same token array as ``tokens``.

    Use with unnest + a `t <> ''` filter (DuckDB's regexp split keeps
    empty boundary tokens just like Spark's)."""
    return f"regexp_split_to_array(lower({expr}), '{TOKEN_SPLIT_RE}')"


def py_tokens(s: str) -> list[str]:
    return _PY_TOKEN.findall(s.lower())
