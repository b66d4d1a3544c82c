"""Webtext URL operators: canonical form, host/registered-domain keys,
and the URLClassifyProcessor analog (pinned reference-verified samples
+ a fuzz subset vs the compiled solr URLClassifyProcessor —
tools/fuzz_url.py, 1000+ urls byte-identical)."""

import subprocess
import sys

from conftest import requires_reference
from tools import fuzz_path, fuzz_url

from lucene_solr_spark.functions import webtext as W  # conftest: spark


def _one(spark, url, col):
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_canonical_url(spark):
    from pyspark.sql import functions as F

    c = W.canonical_url(F.col("url"))
    assert _one(spark, "HTTP://User:pw@WWW.Example.COM:80/A/b?q=1#f",
                c) == "http://www.example.com/A/b?q=1"
    assert _one(spark, "https://Host.net:443", c) == "https://host.net/"
    assert _one(spark, "http://h.net:8080/p?", c) == "http://h.net:8080/p"
    assert _one(spark, "https://h.net:80/p", c) == "https://h.net:80/p"


def test_registered_domain(spark):
    from pyspark.sql import functions as F

    d = W.registered_domain(W.url_host(F.col("url")))
    assert _one(spark, "http://a.b.site.co.uk/x", d) == "site.co.uk"
    assert _one(spark, "http://www.site.com/x", d) == "site.com"
    assert _one(spark, "http://site.com/x", d) == "site.com"
    # IP-literal and dotless hosts are their own key
    assert _one(spark, "http://192.168.0.1/x", d) == "192.168.0.1"
    assert _one(spark, "http://localhost:8080/x", d) == "localhost"


def test_url_classify_pinned(spark):
    # values verified against the compiled reference processor
    # (tools/fuzz_url.py): URI.normalize lowercases the scheme and
    # collapses slash runs; landing detection lowercases the path but
    # the canonical strip is case-sensitive
    df = spark.createDataFrame(
        [(0, "HTTP://WWW.Example.COM:80/index.html"),
         (1, "http://h.net//"),
         (2, "http://h.net/a//b///"),
         (3, "http://h.net/a/INDEX.HTML"),
         (4, "http://h.net/index.html?q=1")],
        "doc_id long, url string")
    rows = {r["doc_id"]: r for r in
            W.url_classify(df).orderBy("doc_id").collect()}
    r = rows[0]
    assert (r["url_length"], r["levels"], r["top_level_page"],
            r["landing_page"]) == (36, 0, 1, 1)
    assert r["domain"] == "WWW.Example.COM"
    assert r["canonical_url"] == "http://WWW.Example.COM:80/"
    assert rows[1]["canonical_url"] == "http://h.net/"
    assert rows[1]["url_length"] == 13
    assert (rows[2]["levels"], rows[2]["canonical_url"]) == (
        2, "http://h.net/a/b/")
    # uppercase suffix: landing detected, strip misses (case-sensitive)
    assert (rows[3]["landing_page"],
            rows[3]["canonical_url"]) == (1, "http://h.net/a/INDEX.HTML")
    # query kills both top-level and landing
    assert (rows[4]["top_level_page"], rows[4]["landing_page"]) == (0, 0)


@requires_reference(fuzz_url.REF_SRC)
def test_fuzz_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_url.py", "300"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "OK" in proc.stdout, proc.stdout


def test_path_hierarchy_reference_semantics():
    # pinned from the compiled PathHierarchyTokenizer
    # (tools/fuzz_path.py: 7575 comparisons byte-identical)
    assert W.path_hierarchy("/a/b/c") == ["/a", "/a/b", "/a/b/c"]
    assert W.path_hierarchy("/a/b/") == ["/a", "/a/b", "/a/b/"]
    assert W.path_hierarchy("a/b") == ["a", "a/b"]
    assert W.path_hierarchy("/") == ["/"]
    assert W.path_hierarchy("") == []
    # doubled delimiter carries into the next token
    assert W.path_hierarchy("/a//b") == ["/a", "/a/", "/a//b"]
    # skip drops leading segments from every token
    assert W.path_hierarchy("/usr/share/doc", skip=1) == [
        "/share", "/share/doc"]
    assert W.path_hierarchy("/a/b/c", replacement="-") == [
        "-a", "-a-b", "-a-b-c"]


def test_url_path_hierarchy_matches_port(spark):
    import pandas as pd

    urls = ["http://h.net/a/b/c", "http://h.net/a/b/", "http://h.net",
            "http://h.net/x", "http://h.net/a//b?q=1#f"]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string")
    rows = W.url_path_hierarchy(df).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(r["prefix"])
    import re as _re
    for i, u in enumerate(urls):
        path = _re.sub(r"[?#].*", "", u.split("h.net", 1)[1])
        assert got.get(i, []) == W.path_hierarchy(path), (u, path)


@requires_reference(fuzz_path.REF)
def test_path_fuzz_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_path.py", "150"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "0 mismatches" in proc.stdout, proc.stdout


def test_reverse_path_hierarchy_reference_semantics():
    # pinned from the compiled ReversePathHierarchyTokenizer
    # (tools/fuzz_path.py rev mode: byte-identical across 4 configs)
    assert W.reverse_path_hierarchy("www.site.com", ".") == [
        "www.site.com", "site.com", "com"]
    assert W.reverse_path_hierarchy("www.site.com", ".", skip=1) == [
        "www.site.", "site."]
    assert W.reverse_path_hierarchy("/a/b/c") == [
        "/a/b/c", "a/b/c", "b/c", "c"]
    assert W.reverse_path_hierarchy("") == []
    assert W.reverse_path_hierarchy("a") == ["a"]


def test_host_hierarchy(spark):
    df = spark.createDataFrame(
        [(0, "http://www.site.co.uk/x"), (1, "http://site.co.uk/y")],
        "doc_id long, url string")
    rows = {(r["doc_id"], r["suffix"])
            for r in W.host_hierarchy(df).collect()}
    assert (0, "www.site.co.uk") in rows and (0, "co.uk") in rows
    assert (0, "uk") in rows and (1, "site.co.uk") in rows
