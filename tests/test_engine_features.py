"""Parity for the extended query surface: paging (searchAfter),
minShouldMatch, total hit count, prefix expansion / constant-score sets."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def searcher(spark, small_index):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    return SparkSearcher(spark, idx)


def test_search_after_paging(searcher, oracle_small):
    full = oracle_small.search("babe kala", 30, "OR")
    page1 = searcher.search_pdf("babe kala", k=10, mode="OR")
    last = page1.iloc[-1]
    page2 = searcher.search_pdf(
        "babe kala", k=10, mode="OR", after=(np.float32(last["score"]), int(last["docid"]))
    )
    exp2 = full.iloc[10:20]
    np.testing.assert_array_equal(page2["docid"].to_numpy(), exp2["docid"].to_numpy())
    np.testing.assert_array_equal(
        page2["score"].to_numpy(np.float32), exp2["score"].to_numpy(np.float32)
    )
    # oracle paging agrees too
    o2 = oracle_small.search(
        "babe kala", 10, "OR", after=(np.float32(last["score"]), int(last["docid"]))
    )
    np.testing.assert_array_equal(o2["docid"].to_numpy(), exp2["docid"].to_numpy())


def test_min_should_match(searcher, oracle_small):
    q = "babe kala roro"
    for mm in (2, 3):
        res = searcher.search_pdf(q, k=15, mode="OR", min_should_match=mm)
        exp = oracle_small.search(q, 15, "OR", min_should_match=mm)
        np.testing.assert_array_equal(res["docid"].to_numpy(), exp["docid"].to_numpy())
        np.testing.assert_array_equal(
            res["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
        )


def test_total_hit_count(searcher, oracle_small):
    for q, mode in [("babe", "OR"), ("babe kala", "OR"), ("babe kala", "AND"),
                    ("babe -kala", "OR"), ("zzznope", "OR")]:
        assert searcher.count(q, mode) == oracle_small.count(q, mode), (q, mode)


def test_prefix_expansion_and_constant_score(searcher, oracle_small):
    terms_e = searcher.expand_prefix("ba")
    terms_o = oracle_small.expand_prefix("ba")
    assert terms_e == terms_o and len(terms_e) > 2
    ids_e = searcher.matching_docids(terms_e[:5]).toPandas()["docid"].to_numpy()
    ids_o = oracle_small.matching_docids(terms_o[:5])
    np.testing.assert_array_equal(ids_e, ids_o)


def test_stats_cache_and_warm_search(spark, small_index, oracle_small):
    """Warm repeated query: identical results, stats job skipped."""
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    cold = s.search_pdf("babe roro", k=10)
    assert "babe" in s._stats_cache and "roro" in s._stats_cache
    warm = s.search_pdf("babe roro", k=10)
    np.testing.assert_array_equal(cold["docid"].to_numpy(), warm["docid"].to_numpy())
    np.testing.assert_array_equal(
        cold["score"].to_numpy(np.float32), warm["score"].to_numpy(np.float32)
    )
    exp = oracle_small.search("babe roro", 10, "OR")
    np.testing.assert_array_equal(warm["docid"].to_numpy(), exp["docid"].to_numpy())


def test_terms_component_on_index(spark, small_index, pages_small):
    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    got = s.terms("ba", 20).toPandas()
    flat = tokenize_series(pages_small["text"])
    sub = flat[flat["term"].astype(str).str.startswith("ba")]
    exp = (
        sub.groupby("term", observed=True)
        .agg(df=("doc_idx", "nunique"), ttf=("doc_idx", "size"))
        .reset_index()
        # cast away the Categorical: its sort order is dictionary order,
        # not lexicographic (the _factorize_sorted lesson)
        .assign(term=lambda d: d["term"].astype(str))
        .sort_values(["df", "term"], ascending=[False, True])
        .head(20)
    )
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["df"].tolist() == exp["df"].tolist()
    assert got["ttf"].tolist() == exp["ttf"].tolist()


def test_docs_sorted_topk(spark, small_index, pages_small):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    got = s.docs_sorted_topk(7).toPandas()
    urls = sorted(pages_small["url"].tolist())[:7]
    assert got["url"].tolist() == urls
    assert got["docid"].tolist() == list(range(7))


def test_search_highlighted(spark, small_index, pages_small):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    pd2 = pages_small[["url", "text"]].copy()
    urls = pd2["url"].to_numpy()
    rank = np.empty(len(urls), np.int64)
    rank[np.argsort(urls)] = np.arange(len(urls))
    pd2["doc_id"] = rank  # engine docid == global url rank
    docs = spark.createDataFrame(pd2[["doc_id", "text"]])
    out = s.search_highlighted("babe", docs, k=5, id_col="doc_id")
    assert len(out) == 5
    assert all("<em>babe</em>" in sn for sn in out["snippet"])


def test_search_with_timeout(spark, small_index):
    """TimeLimitingCollector analog: generous budget completes, a
    sub-millisecond budget cancels the job group."""
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    pdf, timed_out = s.search_with_timeout("babe roro", timeout_s=120, k=5)
    assert not timed_out and len(pdf) == 5
    pdf2, timed_out2 = s.search_with_timeout("babe babaso", timeout_s=1e-4, k=5)
    assert timed_out2 and pdf2 is None
    # the searcher stays healthy after a cancellation
    pdf3, timed_out3 = s.search_with_timeout("babe", timeout_s=120, k=3)
    assert not timed_out3 and len(pdf3) == 3


def test_search_with_timeout_covers_planning(spark, small_index):
    """The deadline covers query planning too: a term-statistics step that
    outlasts the budget times out instead of running before the clock."""
    import time

    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    stats = s._term_stats

    def slow_stats(terms):
        time.sleep(3)
        return stats(terms)

    s._term_stats = slow_stats
    t0 = time.perf_counter()
    assert s.search_with_timeout("babe roro", timeout_s=0.5, k=5) == (None, True)
    assert time.perf_counter() - t0 < 3


def test_suggest_and_spellcheck_on_index(spark, small_index, pages_small):
    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    got = s.suggest("ba", 5).toPandas()
    flat = tokenize_series(pages_small["text"])
    sub = flat[flat["term"].astype(str).str.startswith("ba")]
    exp = (
        sub.groupby("term", observed=True).size().rename("ttf").reset_index()
        .assign(term=lambda d: d["term"].astype(str))
        .sort_values(["ttf", "term"], ascending=[False, True]).head(5)
    )
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["ttf"].tolist() == exp["ttf"].tolist()

    # spellcheck: a 1-edit typo of a common term must surface it first
    top_term = exp["term"].iloc[0]
    wrong = top_term[:-1] + ("x" if top_term[-1] != "x" else "y")
    sc = s.spellcheck(wrong, 3).toPandas()
    assert len(sc) >= 1
    assert sc["dist"].iloc[0] <= 2
    assert (sc["dist"].is_monotonic_increasing)


def test_suggest_infix_grams(spark, small_index, pages_small):
    """AnalyzingInfixSuggester analog: gram-sidecar equality path and the
    long-input contains() fallback agree with a recomputed dictionary."""
    from lucene_solr_spark.analysis import tokenize_series
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    flat = tokenize_series(pages_small["text"])
    terms = flat["term"].astype(str)
    ttf = terms.value_counts()

    def expected(q, n=5):
        sub = ttf[ttf.index.str.contains(q, regex=False)]
        df = sub.rename("ttf").reset_index().rename(columns={"index": "term"})
        df.columns = ["term", "ttf"]
        return df.sort_values(["ttf", "term"], ascending=[False, True]).head(n)

    # infix (non-prefix) match through the gram sidecar
    q = ttf.index[0][1:3]  # interior bigram of the most frequent term
    got = s.suggest_infix(q, 5).toPandas()
    exp = expected(q)
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["ttf"].tolist() == exp["ttf"].tolist()

    # edge flag: grams at position 1 are marked edge=true
    g = s._suggest_grams().toPandas()
    some = g[g["term"] == ttf.index[0]]
    pref = some[some["gram"] == ttf.index[0][:2]]
    assert len(pref) == 1 and bool(pref["edge"].iloc[0])

    # input longer than max_gram falls back to the dictionary scan
    long_q = ttf.index[0]  # whole term, len may exceed default max_gram
    got2 = s.suggest_infix(long_q, 5, max_gram=min(3, len(long_q) - 1)).toPandas()
    exp2 = expected(long_q)
    assert got2["term"].tolist() == exp2["term"].tolist()


def test_more_like_this_engine(spark, small_index, oracle_small, pages_small):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    seed = pages_small["text"].iloc[0]
    mlt = s.more_like_this(seed, k=10, max_query_terms=5).toPandas()
    assert len(mlt) == 10
    # the seed document itself should rank at/near the top (classic MLT
    # sanity: a doc is most like itself)
    urls = pages_small["url"].to_numpy()
    rank = np.empty(len(urls), np.int64)
    rank[np.argsort(urls)] = np.arange(len(urls))
    seed_docid = int(rank[0])
    assert seed_docid in set(mlt["docid"].tolist()[:5])


def test_search_with_timeout_reraises_real_errors(spark, small_index):
    """A genuine query failure inside the worker thread must surface as an
    exception, not be misreported as (None, timed_out=True)."""
    from pyspark.sql import functions as F
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)

    class Boom(RuntimeError):
        pass

    def failing_search(*a, **k):
        df = spark.range(1)
        from pyspark.sql.functions import udf

        @udf("int")
        def blow(x):
            raise ValueError("executor failure")

        return df.select(blow(F.col("id")).alias("docid"))

    s.search = failing_search
    with pytest.raises(Exception) as ei:
        s.search_with_timeout("babe", timeout_s=120, k=5)
    assert "executor failure" in str(ei.value) or "PythonException" in type(ei.value).__name__


def test_resident_searcher_bit_identical(spark, small_index):
    """search_resident == search across query shapes: same kernels, pyarrow
    reads instead of Spark jobs, zero-job warm path."""
    from lucene_solr_spark.search.engine import SparkSearcher
    from lucene_solr_spark.search.query import Clause, Query

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    # a required expansion whose every term has zero global df
    zero_set = Query([
        Clause("term", ["babe"]),
        Clause("term_set", ["zzqx1", "zzqx2"], required=True),
    ])
    shapes = [
        dict(query=zero_set, k=10),
        dict(query="babe roro", k=10),
        dict(query="babe", k=10),
        dict(query='"babe roro"', k=10),
        dict(query="+babe +roro", k=500),
        dict(query="(babe roro)^2 babaso", k=10),
        dict(query="babe -roro", k=200),
        dict(query="ro*", k=20),
        dict(query="babe~1", k=10),
        dict(query="babe roro", k=10, fq="babaso"),
        dict(query="babe roro", k=10, dismax_tie=0.1),
        dict(query="babe roro babaso", k=10, min_should_match=2),
    ]
    for kw in shapes:
        a = s.search_resident(**kw)
        b = s.search_pdf(**kw)
        assert list(a["docid"]) == list(b["docid"]), kw
        np.testing.assert_array_equal(
            a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32),
            err_msg=str(kw),
        )


def test_resident_searcher_after_and_url(spark, small_index):
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    p1 = s.search_resident("babe roro", k=10)
    last = p1.iloc[-1]
    p2 = s.search_resident(
        "babe roro", k=10, after=(float(last["score"]), int(last["docid"]))
    )
    exp = s.search_pdf("babe roro", k=20).iloc[10:20]
    assert list(p2["docid"]) == list(exp["docid"])
    wu = s.search_resident("babe", k=3, with_url=True)
    ref = s.search_pdf("babe", k=3)
    ref_urls = {
        int(r["docid"]): r["url"]
        for _, r in s.search("babe", k=3).toPandas().iterrows()
    }
    assert all(wu.iloc[i]["url"] == ref_urls[int(wu.iloc[i]["docid"])]
               for i in range(3))
    assert list(wu["docid"]) == list(ref["docid"])


def test_resident_no_spark_jobs_on_warm_path(spark, small_index):
    """After warm-up, a resident query must launch ZERO Spark jobs."""
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    s.search_resident("babe roro", k=10)  # warm stats cache
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    s.search_resident("babe roro", k=10)
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_resident_multiterm_expansion_matches_spark(spark, small_index):
    """Resident dictionary expansion (wildcard/regexp/fuzzy) == the Spark
    dictionary scan, and wildcard queries run Spark-job-free resident."""
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    assert s.expand_wildcard_resident("ro*") == s.expand_wildcard("ro*")
    assert s.expand_wildcard_resident("*a*", 1024) == s.expand_wildcard("*a*")
    assert s.expand_regexp_resident("b.b.") == s.expand_regexp("b.b.")
    assert s.expand_fuzzy_resident("babe", 2) == s.expand_fuzzy("babe", 2)
    s.search_resident("ro* babe", k=5)  # warm: dictionary + stats cached
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    a = s.search_resident("ro* babe", k=5)
    assert tracker.getJobIdsForGroup(None) == before
    b = s.search_pdf("ro* babe", k=5)
    assert list(a["docid"]) == list(b["docid"])
    np.testing.assert_array_equal(
        a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
    )
    # negated pattern through the resident path
    c = s.search_resident("babe -ro*", k=100)
    d = s.search_pdf("babe -ro*", k=100)
    assert list(c["docid"]) == list(d["docid"])


def test_prefix_slice_supplementary_plane():
    """The resident dictionary prefix window must include terms whose next
    char is beyond the BMP (prefix+'\\uffff' would exclude them)."""
    from lucene_solr_spark.search.engine import _prefix_slice

    d = np.array(sorted(["ro", "roa", "ro\U0001d552x", "ro￿", "rp", "q"]),
                 dtype=object)
    got = list(_prefix_slice(d, "ro"))
    assert got == sorted(["ro", "roa", "ro\U0001d552x", "ro￿"])


def test_highlight_qf_fields_matches_single_field(spark, pages_small):
    """highlight_best_window_fields: each field's windows equal the
    single-field highlighter run on that field's column alone."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lucene_solr_spark.functions import components as C

    pd2 = pages_small[["url", "text"]].copy()
    pd2["doc_id"] = np.arange(len(pd2))
    docs = spark.createDataFrame(pd2[["doc_id", "text"]]).withColumn(
        "title", F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    )
    terms = ["babe", "roro"]
    multi = C.highlight_best_window_fields(
        docs, terms, {"text": "text", "title": "title"}, 10, 10**6
    ).toPandas()
    single_text = C.highlight_best_window(docs, terms, 10, 10**6).toPandas()
    single_title = C.highlight_best_window(
        docs.select("doc_id", F.col("title").alias("text")), terms, 10, 10**6
    ).toPandas()
    for fname, single in (("text", single_text), ("title", single_title)):
        part = (multi[multi["field"] == fname]
                .drop(columns=["field"]).sort_values("doc_id")
                .reset_index(drop=True))
        single = single.sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(part, single)
    assert (multi[multi["field"] == "title"]["best_start"] <= 1).all()


def test_operators_run_one_task_per_segment(spark, small_index, monkeypatch):
    """Every search operator reaches its kernel through the per-segment
    scheduler: no grouped-map shuffle in the executed plan, and the
    scheduler runs exactly one task per segment directory."""
    import pandas as pd
    from pyspark import TaskContext

    from lucene_solr_spark.search import spans as SP
    from lucene_solr_spark.search.engine import SparkSearcher

    idx, _ = small_index
    s = SparkSearcher(spark, idx)
    searched = []
    search = SparkSearcher.search

    def spy(self, *a, **kw):
        searched.append(search(self, *a, **kw))
        return searched[-1]

    monkeypatch.setattr(SparkSearcher, "search", spy)

    def count():
        assert s.count("babe roro") > 0
        return searched[-1]

    node = SP.SpanOr((SP.SpanTerm("babe"), SP.SpanTerm("roro")))
    ops = {
        "search": lambda: s.search("babe roro", k=5),
        "count": count,
        "matching": lambda: s.matching("babe roro"),
        "span_query": lambda: s.span_query(node),
        "span_search": lambda: s.span_search(node, k=5),
        "edismax": lambda: s.edismax("babe roro", {"text": 1.0}, k=5),
        "matching_docids": lambda: s.matching_docids(["babe", "roro"]),
    }
    for name, op in ops.items():
        df = op()
        assert df.collect(), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        assert "MapInPandas" in plan, (name, plan)

    # the most frequent term has postings in every segment, so every
    # segment's task runs the kernel and reports where it ran
    top = s.terms(limit=1).collect()[0]["term"]

    def where(pdf):
        tc = TaskContext.get()
        return pd.DataFrame({"seg": [pdf["segment_id"].iloc[0]],
                             "stage": [tc.stageId()],
                             "part": [tc.partitionId()]})

    got = s._map_segments(
        where, [top], False, "seg string, stage int, part int"
    ).toPandas()
    assert sorted(got["seg"]) == sorted(s.seg_meta)
    assert got["part"].nunique() == len(s.seg_meta)
    assert got["stage"].nunique() == 1
    info = spark.sparkContext.statusTracker().getStageInfo(int(got["stage"][0]))
    assert info.numTasks == len(s.seg_meta)
