"""Hunspell stemming: pinned reference-verified samples + a fixture
subset of the differential campaign (tools/fuzz_hunspell.py compiles
the reference's own hunspell/Dictionary.java + Stemmer.java and
compares stem lists; the full sweep — all 31 fixture dictionaries x
case-sensitive/ignore-case, 6390 comparisons — passed 0 mismatches)."""

import subprocess
import sys

from conftest import requires_reference
from tools import fuzz_hunspell

from lucene_solr_spark.analysis import analyze_one
from lucene_solr_spark.analysis.hunspell import (
    DEMO_AFF, DEMO_DIC, HunspellDictionary, HunspellStemmer, demo_stemmer,
    hunspell_stems,
)


def test_demo_dictionary_stems():
    # expected values produced by the compiled reference
    # Dictionary/Stemmer over DEMO_AFF/DEMO_DIC (fuzz_hunspell harness)
    s = demo_stemmer()
    assert hunspell_stems("table", s) == ["tabl"]
    assert hunspell_stems("customer", s) == ["custom"]
    assert hunspell_stems("filter", s) == ["filt"]
    # homonym: whole-word form + ord+er both match
    assert hunspell_stems("order", s) == ["order", "ord"]
    # prefix strip
    assert hunspell_stems("slow", s) == ["low"]
    assert hunspell_stems("spark", s) == ["park"]
    # condition: agg ends in g after stripping g
    assert hunspell_stems("agg", s) == ["ag"]
    # unknown words pass through (HunspellStemFilter.java:89)
    assert hunspell_stems("unknown", s) == ["unknown"]
    assert hunspell_stems("sparker", s) == ["sparker"]


def test_case_variant_union():
    # Title/UPPER fold to the dictionary form (Stemmer.caseOf union)
    s = demo_stemmer()
    assert s.unique_stems("Table") == ["tabl"]
    assert s.unique_stems("TABLE") == ["tabl"]
    # exact-case garbage does not
    assert s.unique_stems("tAbLe") == []


def test_needaffix_and_conditions():
    aff = (b"SET UTF-8\nNEEDAFFIX Z\n\nSFX X Y 1\nSFX X 0 s .\n")
    dic = b"2\nwalk/XZ\ntest/Z\n"
    d = HunspellDictionary(aff, [dic])
    s = HunspellStemmer(d)
    # pseudostems require an affix: bare form rejected, affixed ok
    assert s.unique_stems("walk") == []
    assert s.unique_stems("walks") == ["walk"]
    assert s.unique_stems("test") == []
    assert s.unique_stems("tests") == []  # Z-only word has no X flag


def test_fullstrip_and_iconv():
    aff = (b"SET UTF-8\nFULLSTRIP\n\nSFX A Y 1\n"
           b"SFX A   beer        tasty  .\n")
    dic = b"1\nbeer/A\n"
    d = HunspellDictionary(aff, [dic])
    s = HunspellStemmer(d)
    # the whole word strips away, replaced by 'tasty'... inverse:
    # 'tasty' de-suffixes to 'beer' (fullstrip allows empty stem part)
    assert s.unique_stems("tasty") == ["beer"]


def test_analyzer_chain_twins():
    toks = analyze_one("order by value", analyzer="hunspell")
    assert toks == [("order", 0), ("ord", 0), ("by", 1), ("valu", 2)]


@requires_reference(fuzz_hunspell.REF)
def test_fixture_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_hunspell.py",
         "simple", "circumfix", "complexprefix", "needaffix", "keepcase",
         "fullstrip", "conv", "condition", "compressed", "morphdata"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    lines = [l for l in proc.stdout.splitlines() if " words OK" in l]
    assert len(lines) == 20, proc.stdout  # 10 fixtures x 2 case modes
