"""The shared per-query top-k kernel (``build._topk_slots``) against a
plain-Python per-doc reference: each doc sums its terms' contributions
in ascending term order, dead and unmatched docs drop out, the rest rank
by (score desc, doc asc) and the first k remain. Floats compare exactly,
in both slot spaces the callers use: doc_ord itself (dense) and the rank
of a doc among the query's own postings (sparse)."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from antidb_spark.operators.build import _topk_slots

N_DOCS = 30
# few distinct values, so equal sums (score ties) are common
_CONTRIB = st.one_of(
    st.sampled_from([0.25, 0.5, 1.0, 1.5]),
    st.floats(min_value=1e-3, max_value=100.0),
)


def _reference(terms: list[dict[int, float]], dead: set[int], k: int):
    scores: dict[int, float] = {}
    for postings in terms:  # ascending term order
        for d, c in postings.items():
            scores[d] = scores.get(d, 0.0) + c
    live = [(-s, d) for d, s in scores.items() if d not in dead]
    return [(d, -neg) for neg, d in sorted(live)[:k]]


@settings(max_examples=300, deadline=None)
@given(
    terms=st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=N_DOCS - 1), _CONTRIB,
            max_size=N_DOCS,
        ),
        max_size=5,
    ),
    dead=st.one_of(
        st.just(set(range(N_DOCS))),  # every doc deleted
        st.sets(st.integers(min_value=0, max_value=N_DOCS - 1)),
    ),
    k=st.integers(min_value=1, max_value=N_DOCS + 5),
    dense=st.booleans(),
)
# (0.1 + 0.2) + 0.3 != (0.3 + 0.2) + 0.1: the sum order shows in the bits
@example(terms=[{0: 0.1}, {0: 0.2}, {0: 0.3}], dead=set(), k=1, dense=True)
@example(terms=[{0: 0.1}, {0: 0.2}, {0: 0.3}], dead=set(), k=1, dense=False)
def test_kernel_matches_per_doc_reference(terms, dead, k, dense):
    docs = [np.array(sorted(p), dtype=np.int64) for p in terms]
    contribs = [np.array([p[d] for d in sorted(p)]) for p in terms]
    dead_docs = np.array(sorted(dead), dtype=np.int64)
    if dense:  # slot = doc_ord
        top, scores = _topk_slots(zip(docs, contribs), N_DOCS, k, dead_docs)
    else:  # slot = rank among the query's own postings
        uniq, inv = np.unique(
            np.concatenate(docs or [np.empty(0, dtype=np.int64)]),
            return_inverse=True,
        )
        slots = np.split(inv, np.cumsum([d.size for d in docs])[:-1])
        top, scores = _topk_slots(
            zip(slots, contribs), uniq.size, k,
            np.flatnonzero(np.isin(uniq, dead_docs)),
        )
        top = uniq[top]
    got = list(zip(top.tolist(), scores.tolist()))
    assert got == _reference(terms, dead, k)


def test_kernel_without_dead_slots_or_parts():
    assert _topk_slots([], 4, 2)[0].size == 0
    top, scores = _topk_slots(
        [(np.array([0, 2]), np.array([1.0, 3.0])),
         (np.array([1, 2]), np.array([3.0, 1.0]))],
        3, 2,
    )
    assert top.tolist() == [2, 1] and scores.tolist() == [4.0, 3.0]
