"""Pure-Python XXH64 must match Spark's F.xxhash64 bit-for-bit — it is
the reference the xxhash64 text fingerprints are tested against."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.xxhash64 import xxhash64_signed


@pytest.fixture(scope="module")
def jvm_hashes(spark):
    from pyspark.sql import functions as F

    def fn(words):
        df = spark.createDataFrame([(w,) for w in words], "term string")
        return {
            r["term"]: r["h"]
            for r in df.select("term", F.xxhash64("term").alias("h")).collect()
        }

    return fn


def test_xxhash64_matches_jvm(jvm_hashes):
    words = [
        "", "a", "ab", "abc", "abcd", "abcde", "spark", "shuffle", "the",
        "antidisestablishmentarianism", "x" * 31, "y" * 32, "z" * 33,
        "w" * 100, "café", "🚀", "emoji🙂word", "naïve", "日本語",
    ]
    exp = jvm_hashes(words)
    for w in words:
        assert xxhash64_signed(w) == exp[w], w


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=0, max_size=120))
def test_xxhash64_fuzz_roundtrip_stability(s):
    # determinism + signedness bounds (JVM cross-check above pins values)
    h = xxhash64_signed(s)
    assert -(1 << 63) <= h < (1 << 63)
    assert xxhash64_signed(s) == h
