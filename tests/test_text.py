"""Golden tokenizer tests ported from the reference
(pkg/word/word_test.go, pkg/preprocess semantics)."""

from collections import Counter

import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st

from pulse_spark.text.normalize import (
    PreprocessSettings,
    clean,
    doc_length,
    tokenize,
    tokens,
)
from pulse_spark.text.porter import stem
from pulse_spark.text.stopwords import STOPWORDS

MSMARCO_FIRST_LINE = (
    "the presence of communication amid scientific minds was equally important "
    "to the success of the manhattan project as scientific intellect was. the "
    "only cloud hanging over the impressive achievement of the atomic researchers "
    "and engineers is what their success truly meant; hundreds of thousands of "
    "innocent lives obliterated."
)

MSMARCO_FIRST_TOKENS = [
    "the", "presence", "of", "communication", "amid", "scientific", "minds",
    "was", "equally", "important", "to", "the", "success", "of", "the",
    "manhattan", "project", "as", "scientific", "intellect", "was", "the",
    "only", "cloud", "hanging", "over", "the", "impressive", "achievement",
    "of", "the", "atomic", "researchers", "and", "engineers", "is", "what",
    "their", "success", "truly", "meant", "hundreds", "of", "thousands", "of",
    "innocent", "lives", "obliterated",
]


def test_tokenize_golds():
    # word_test.go:14-52 cases (Clean + Tokenize, no stopwords/stemming)
    cases = [
        ("hello, world!", ["hello", "world"]),
        ("it's a test.", ["it", "s", "a", "test"]),
        ("", []),
        ("word", ["word"]),
        (MSMARCO_FIRST_LINE, MSMARCO_FIRST_TOKENS),
    ]
    for inp, exp in cases:
        assert tokenize(clean(inp)) == exp, inp


def test_stopwords_golds():
    s = PreprocessSettings(stopwords_removal=True, stemming=False)
    assert tokens("hello the world", s) == ["hello", "world"]
    assert tokens("the and a", s) == []
    assert tokens("unique words", s) == ["unique", "words"]
    assert len(STOPWORDS) == 173  # verified 1:1 vs pkg/word/stopwords.go


def test_stem_golds():
    # word_test.go:86-98
    assert stem("running") == "run"
    assert stem("jumps") == "jump"
    assert stem("run") == "run"
    assert stem("jump") == "jump"


def test_stem_classic_porter_vectors():
    # classic Porter (porter.c) behavior incl. departures
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "bled": "bled", "motoring": "motor", "sing": "sing",
        "conflated": "conflat", "troubled": "troubl", "sized": "size",
        "hopping": "hop", "tanned": "tan", "falling": "fall", "hissing": "hiss",
        "fizzed": "fizz", "failing": "fail", "filing": "file",
        "happy": "happi", "sky": "sky",
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "hesitanci": "hesit", "digitizer": "digit",
        "conformabli": "conform",  # DEPARTURE bli->ble then step4
        "radicalli": "radic", "differentli": "differ", "vileli": "vile",
        "analogousli": "analog", "vietnamization": "vietnam",
        "predication": "predic", "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope", "callousness": "callous",
        "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
        "triplicate": "triplic", "formative": "form", "formalize": "formal",
        "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
        "goodness": "good",
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "gyroscopic": "gyroscop", "adjustable": "adjust",
        "defensible": "defens", "irritant": "irrit", "replacement": "replac",
        "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
        "homologou": "homolog", "communism": "commun", "activate": "activ",
        "angulariti": "angular", "homologous": "homolog", "effective": "effect",
        "bowdlerize": "bowdler",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
        "generalization": "gener", "oscillators": "oscil",
    }
    for w, exp in cases.items():
        assert stem(w) == exp, f"{w}: got {stem(w)}, want {exp}"


def test_unicode_and_html():
    s = PreprocessSettings(stopwords_removal=False, stemming=False)
    # diacritics stripped via NFD + Mn-removal
    assert tokens("café naïve", s) == ["cafe", "naive"]
    # html removed
    assert tokens("<p>hello</p><br/>world", s) == ["hello", "world"]
    # emoji kept (\p{So}); control chars dropped; \t \n kept as separators
    assert tokens("a\tb\nc\x00d\x07e", s) == ["a", "b", "cde"]
    assert tokens("go 🚀 fast", s) == ["go", "🚀", "fast"]
    # punctuation runs collapse to separators
    assert tokens("x=y+1 ... C++", s) == ["x", "y", "1", "c"]


# fragments that exercise every step of the pipeline: stopwords, stems,
# duplicates, HTML, control chars, non-ASCII (final sigma, dotted I)
_FRAGMENTS = [
    "spark", "Spark", "running", "runs", "the", "and", "of", "x", "42",
    "café", "naïve", "ΟΔΟΣ", "İstanbul", "ẞ", "日本語", "🚀", "<b>", "</p>",
    "<a href='x'>", "\x00", "\x07", "\u200b", "...", "C++", " ", "\t", "\n",
]
_TEXTS = st.one_of(
    st.none(),
    st.sampled_from(["", "  \t\n ", "the and a of", "<br/>"]),
    st.lists(st.sampled_from(_FRAGMENTS), max_size=12).map(" ".join),
    st.lists(st.sampled_from(_FRAGMENTS), max_size=12).map("".join),
    st.text(max_size=40),
)


@pytest.mark.parametrize("stemming", [True, False])
@seed(7102)
@settings(max_examples=5, deadline=None)
@given(texts=st.lists(_TEXTS, min_size=1, max_size=12))
def test_term_freq_rows_matches_counter(spark, stemming, texts):
    """term_freq_rows == Counter(tokens(text)) per doc, no rows for a
    doc without tokens.  Batches of 2 rows over one partition that
    starts with two token-less docs: docs span many batches and the
    first batch emits zero rows."""
    from pulse_spark.text.udfs import term_freq_rows

    s = PreprocessSettings(stopwords_removal=True, stemming=stemming)
    texts = [None, "the and"] + texts
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(list(enumerate(texts)), 1),
        "id long, text string",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = term_freq_rows(df, s, ("id",)).collect()
    finally:
        spark.conf.set(key, prev)
    got: dict[int, dict[str, int]] = {}
    for r in rows:
        assert r["term"] not in got.setdefault(r["id"], {})
        got[r["id"]][r["term"]] = r["tf"]
    exp = {
        i: dict(Counter(tokens(t, s)))
        for i, t in enumerate(texts)
        if t is not None and tokens(t, s)
    }
    assert got == exp


def test_doc_length_bytes_of_trimmed():
    # bytes, not chars; trim before measuring (spimi.go:109, ms-marco.go:70)
    assert doc_length("  hello ") == 5
    assert doc_length("café") == 5  # é is 2 bytes in UTF-8
    assert doc_length(" \t\n") == 0


def test_case_mapping_is_pinned(spark):
    """get_spark pins lowercasing to the JVM case mapping
    (spark.sql.icu.caseMappings.enabled=false) and the dedup / text-stats
    normalizations give these exact strings — a change of the conf or of
    Spark's default shows up here, not as silently different results.
    DuckDB's lower() (the datapipe oracles' _NORM) maps final sigma and
    dotted capital I differently: those oracles are exact only on text
    without them."""
    import duckdb
    from pyspark.sql import functions as F

    from pulse_spark.datapipe.dedup import normalized_text
    from pulse_spark.datapipe.textstats import ws_tokens

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = spark.createDataFrame(
        [(1, "ΟΔΟΣ"), (2, "İstanbul"), (3, "ẞ"),
         (4, "  Hello\tSpark  WORLD 42 ")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["n"], list(r["t"]))
        for r in df.select(
            "id", normalized_text().alias("n"), ws_tokens(F.col("text")).alias("t")
        ).collect()
    }
    assert got == {
        1: ("οδος", ["οδος"]),                       # final sigma
        2: ("i\u0307stanbul", ["i\u0307stanbul"]),  # i + combining dot
        3: ("ß", ["ß"]),
        4: ("hello spark world 42", ["hello", "spark", "world", "42"]),
    }
    assert duckdb.sql(
        "SELECT lower('ΟΔΟΣ'), lower('İstanbul'), lower('ẞ')"
    ).fetchone() == ("οδοσ", "istanbul", "ß")
