"""The MinHash per-doc frame (datapipe.dedup._minhash_frame): shingle
sets, their sizes and band keys against a per-shingle reference written
here and against the DuckDB oracle's band keys (_minhash_ctes), on an
edge corpus, with whole-corpus and 3-row Arrow batches."""

from __future__ import annotations

import hashlib

import pytest

from pulse_spark.datapipe import dedup

EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, " \t\n  "),
    (4, "two tokens"),                      # < SHINGLE_N tokens
    (5, "a b c a b c a b c"),               # shingles repeat in the doc
    (6, "spark join merge filter window"),
    (7, "x spark join merge y"),            # shares "spark join merge"
    (8, "Café NAÏVE 東京 タワー Straße ÉCOLE café naïve 東京"),
    (9, "\tSpark  JOIN merge \n filter"),   # shares shingles with 6
    (10, "one two three"),
    (11, "A B C D"),
    (12, "a b c d"),                        # same shingles as 11
    (13, "w" * 40 + " x y z " + "w" * 40),
]


def _reference(text):
    """(distinct shingle set, band keys) from the normalized text, one
    md5 per (signature row, shingle) and a min over each row."""
    n, k, bands = dedup.SHINGLE_N, dedup.MINHASH_K, dedup.BANDS
    toks = [t for t in (text or "").split(" ") if t]
    shd = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    if not shd:
        return shd, None
    sig = [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in shd)
        for i in range(k)
    ]
    r = k // bands
    return shd, [
        hashlib.md5("|".join(sig[b * r:(b + 1) * r]).encode()).hexdigest()
        for b in range(bands)
    ]


@pytest.mark.parametrize("max_records", [None, 3])
def test_minhash_frame_matches_reference_and_oracle(spark, max_records):
    import duckdb
    import pandas as pd

    from pulse_spark.datapipe.harness import _minhash_ctes

    # one partition: every doc in one Arrow batch by default, and with
    # 3-record batches the shared shingles of 6/7/9 and 11/12 straddle
    # batch boundaries
    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if max_records is not None:
        spark.conf.set(key, str(max_records))
    try:
        frame = {r["doc_id"]: r for r in dedup._minhash_frame(docs, "doc_id").collect()}
    finally:
        spark.conf.set(key, old)
    assert sorted(frame) == [d for d, _ in EDGE_DOCS]

    norm = dict(
        docs.select("doc_id", dedup.normalized_text().alias("t")).collect()
    )
    for doc_id, text in norm.items():
        shd, bands = _reference(text)
        row = frame[doc_id]
        assert len(row["_shd"]) == len(set(row["_shd"])), doc_id
        assert set(row["_shd"]) == shd, doc_id
        assert row["n_sh"] == len(shd), doc_id
        assert row["_bands"] == bands, doc_id
    assert frame[4]["_bands"] is None and frame[4]["n_sh"] == 0
    assert frame[5]["n_sh"] == 3

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(EDGE_DOCS, columns=["doc_id", "text"]))
    oracle: dict[int, list] = {}
    for doc_id, band, band_key in con.execute(
        f"WITH {_minhash_ctes()} SELECT doc_id, band, band_key FROM bands "
        "ORDER BY doc_id, band"
    ).fetchall():
        oracle.setdefault(doc_id, []).append(band_key)
    assert oracle == {
        d: r["_bands"] for d, r in frame.items() if r["_bands"] is not None
    }
