"""antidb_spark — a from-scratch PySpark-native full-text index + BM25 engine.

Re-expresses the query/data-processing capabilities of the reference
``PlatonB/antidb`` (a single-threaded key→byte-offset secondary index over
text files, ``/root/reference/antidb/idx.py`` / ``prs.py``) as an idiomatic
distributed Spark engine:

- base relation: a typed table of multi-turn transcripts
  ``(conv_id, turn_idx, role, text, tool, ts)`` instead of raw text lines
  (row identity = key columns, never byte offsets);
- index: a sorted, range-partitioned postings table ``(term, doc, tf)``
  plus delta+varint-packed block tables, instead of the reference's
  pickled B+tree ZipFile (``idx.py:160-261``);
- queries: antidb-parity ``eq``/``rng`` lookups (``prs.py:86-131``) and
  top-k BM25 over manifest-pruned block scans, all as Catalyst-planned
  DataFrame ops.

No code is ported from the reference; citations in docstrings point at the
behavior being matched, not code being copied.
"""

__version__ = "0.1.0"
