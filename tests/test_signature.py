"""Solr dedup signatures: pinned reference-verified samples + a fuzz
subset vs the compiled MD5/Lookup3/TextProfileSignature
(tools/fuzz_signature.py; the 5k-line campaign passed byte-identical,
including the Java-HashMap tie order inside the text profile)."""

import subprocess
import sys

from conftest import requires_reference
from tools import fuzz_signature

from lucene_solr_spark.functions.signature import (
    _java_hashmap_order, java_string_hashcode, lookup3_signature,
    lookup3ycs64, md5_signature, text_profile, text_profile_signature)


def test_pinned_signatures():
    # values produced by the compiled reference classes (SigMain)
    line = ("the table hash join merge query spark value data table "
            "hash table")
    assert md5_signature(line) == "8d56feee0700e8bb335b2a7307d26bc3"
    assert lookup3_signature(line) == "5660450d8a0ca86d"
    assert text_profile_signature(line) == \
        "028a740c5fe4f5fe35c1e969d9f4527f"
    assert lookup3_signature("") == "deadbeeedeadbeef"


def test_java_string_hashcode():
    assert java_string_hashcode("") == 0
    assert java_string_hashcode("a") == 97
    assert java_string_hashcode("abc") == 96354
    assert java_string_hashcode("hello") == 99162322
    # negative wraps like Java
    assert java_string_hashcode("polygenelubricants") == -2147483648


def test_text_profile_semantics():
    # tokens of length <= 2 dropped (STRICT > minTokenLen)
    assert text_profile("ab xy zz") == ""
    # maxFreq 1 -> quant 1, every token kept with count 1
    prof = text_profile("alpha beta gamma")
    lines = prof.split("\n")
    assert sorted(lines) == ["alpha 1", "beta 1", "gamma 1"]
    # maxFreq > 1 -> quant >= 2: frequency-1 tokens are discarded
    prof = text_profile("dup dup once")
    assert prof == "dup 2"
    # case folding + alnum-only splitting; maxFreq 3 -> quant 2, so
    # the count quantizes DOWN to 2 (verified vs the compiled class)
    assert text_profile("Foo! fOO? foo.") == "foo 2"
    assert text_profile_signature("Foo! fOO? foo.") == \
        "447aa057fb48620be8609203327218e5"


def test_hashmap_order_resize():
    # order is stable and deterministic across capacities
    keys = [f"tok{i}" for i in range(200)]  # forces resize to 512
    order = _java_hashmap_order(keys)
    assert sorted(order) == sorted(keys)
    assert order == _java_hashmap_order(keys)


def test_lookup3_length_mod3_quirk():
    # the final mix is skipped when the last mix consumed the whole
    # string; both paths must still be deterministic
    assert lookup3ycs64("abc") == lookup3ycs64("abc")
    assert lookup3ycs64("abcd") != lookup3ycs64("abce")


@requires_reference(fuzz_signature.REF)
def test_fuzz_subset_matches_compiled_reference():
    proc = subprocess.run(
        [sys.executable, "tools/fuzz_signature.py", "300"],
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "OK" in proc.stdout, proc.stdout
