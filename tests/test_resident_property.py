"""Property: search_resident and search run one query plan through two
schedulers (driver threads vs one Spark task per segment), so for any query
shape they return the same page: identical docids and float32 scores."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

ABSENT = "qqzxq"  # in no document: zero global df


@pytest.fixture(scope="module")
def searcher_vocab(spark, small_index):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    frequent = [r["term"] for r in s.terms(limit=12).collect()]
    d = s._dictionary_resident()
    spread = [str(t) for t in d[:: max(1, len(d) // 8)][:8]]
    return s, sorted(set(frequent + spread)) + [ABSENT]


# a clause: (sign, shape, vocabulary index, second index for phrases)
clause = st.tuples(
    st.sampled_from(["", "+", "-"]),
    st.sampled_from(["term", "phrase", "prefix"]),
    st.integers(0, 63),
    st.integers(0, 63),
)


def _render(c, vocab) -> str:
    sign, shape, i, j = c
    a, b = vocab[i % len(vocab)], vocab[j % len(vocab)]
    if shape == "phrase":
        return f'"{a} {b}"'  # phrases take no sign; AND mode requires them
    if shape == "prefix":
        return f"{sign}{a[:2]}*"
    return sign + a


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    clauses=st.lists(clause, min_size=1, max_size=4),
    mode=st.sampled_from(["OR", "AND"]),
    fq=st.none() | st.integers(0, 63),
    after=st.none() | st.tuples(st.floats(0.0, 12.0, width=32),
                                st.integers(0, 2000)),
    msm=st.integers(0, 2),
    k=st.sampled_from([1, 10, 100]),
)
def test_resident_equals_distributed(searcher_vocab, clauses, mode, fq, after,
                                     msm, k):
    s, vocab = searcher_vocab
    kw = dict(
        query=" ".join(_render(c, vocab) for c in clauses), k=k, mode=mode,
        fq=None if fq is None else vocab[fq % len(vocab)],
        after=after, min_should_match=msm,
    )
    a = s.search_resident(**kw)
    b = s.search_pdf(**kw)
    assert list(a["docid"]) == list(b["docid"]), kw
    np.testing.assert_array_equal(
        a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32),
        err_msg=str(kw),
    )
