"""Arrow-vectorized Spark UDFs for the text pipeline.

No per-row Python UDFs: ``normalize.tokens`` runs over Arrow batches,
as the array tokenizer (``make_tokenizer_udf``, for positional and
array consumers) or as the term-frequency kernel (``term_freq_rows``).
The Porter stemmer keeps its own distinct-token memo (porter.stem_tokens).

Column-expression (JVM/codegen) equivalents are used wherever exact
(trim/length); only the unicode-normalize + stem steps genuinely need
Python.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pulse_spark.text.normalize import PreprocessSettings, tokens

# ASCII whitespace class shared with the DuckDB oracle SQL (RE2) and the
# Python oracle (str.strip(ASCII_WS)); Java \s == [ \t\n\x0B\f\r].
#
# DOCUMENTED DEVIATION: the reference's strings.TrimSpace (ms-marco.go:70)
# trims the full Unicode whitespace set (unicode.IsSpace), so doc_len —
# and hence ADL and BM25 scores — can differ from the reference for
# documents padded with non-ASCII whitespace (e.g. U+00A0). This engine is
# deliberately ASCII-only and SELF-CONSISTENT across all three
# implementations (Spark regexp, DuckDB oracle regexp, Python str.strip):
# a Unicode class here would force every SQL oracle onto engine-specific
# Unicode regex behavior, a worse trade than matching Go on exotic inputs.
_WS = r"[ \t\n\r\f\x0B]"


def trimmed(col: Column | str) -> Column:
    """ASCII-whitespace trim (reference TrimSpace, ms-marco.go:70)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, f"^{_WS}+", ""), f"{_WS}+$", "")


def doc_len_bytes(col: Column | str) -> Column:
    """Doc length = BYTES of trimmed raw text (spimi.go:109)."""
    return F.octet_length(trimmed(col))


def doc_no(conv_id: Column | str = "conv_id", turn_idx: Column | str = "turn_idx") -> Column:
    """docID = conv_id:turn_idx (BASELINE.json north_star)."""
    ci = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    ti = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return F.concat_ws(":", ci, ti.cast("string"))


def make_tokenizer_udf(settings: PreprocessSettings):
    """Returns a pandas UDF str -> array<string> running the full
    reference pipeline (T1-T7 of SURVEY.md §2.2)."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def tokenize_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: tokens(t, settings) if t is not None else [])

    return tokenize_udf


def term_freq_rows(
    df: DataFrame, settings: PreprocessSettings, keep: tuple[str, ...]
) -> DataFrame:
    """(term, *keep, tf int): one row per (doc, distinct term) of
    tokens(text), preprocess.Frequencies (preprocess.go:36-46) — the one
    per-doc term-frequency count of the package.  A null text or a doc
    with no tokens emits no rows.

    One mapInArrow over (*keep, text): per Arrow batch, pd.factorize codes
    the batch's token occurrences, np.unique counts the (doc, code) keys,
    and the keep columns are taken from the batch by doc index — no
    per-doc Python list, no array<struct>, no explode, no shuffle."""
    schema = T.StructType([
        T.StructField("term", T.StringType()),
        *(df.schema[c] for c in keep),
        T.StructField("tf", T.IntegerType()),
    ])
    n_keep = len(keep)

    def count(batches):
        for b in batches:
            toks = [
                tokens(t, settings) if t is not None else []
                for t in b.column(n_keep).to_pylist()
            ]
            sizes = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
            n = int(sizes.sum())
            if n == 0:
                continue
            codes, uniq = pd.factorize(
                np.fromiter(chain.from_iterable(toks), dtype=object, count=n)
            )
            key = np.repeat(np.arange(len(toks)), sizes) * len(uniq) + codes
            key, tf = np.unique(key, return_counts=True)
            doc, code = np.divmod(key, len(uniq))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(uniq, pa.string()).take(code),
                    *(b.column(i).take(doc) for i in range(n_keep)),
                    pa.array(tf.astype(np.int32)),
                ],
                names=schema.names,
            )

    return df.select(*keep, "text").mapInArrow(count, schema)
