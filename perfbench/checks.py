"""Correctness checks, run outside every timed region.

A failed check is counted, never raised: the run goes on and reports
the count as `failed`.
"""

from __future__ import annotations

import hashlib
import json
import os

from pulse_spark import oracle

SCORE_TOL = 1e-6


def topk_matches(got: list[tuple[str, float]], ranking: list[tuple[str, float]],
                 k: int) -> bool:
    """got: the engine's top-k (doc_no, score); ranking: the oracle's full
    ranking of every matching doc.  Equal when the scores agree rank by
    rank and the docs agree up to ties: every got doc carries its oracle
    score, and every doc the oracle scores above the last got score is
    in got (docs tied at the cut may be any of the tied ones)."""
    if len(got) != min(k, len(ranking)):
        return False
    if any(abs(g[1] - r[1]) > SCORE_TOL for g, r in zip(got, ranking)):
        return False
    scores = dict(ranking)
    docs = {d for d, _ in got}
    if len(docs) != len(got):
        return False
    if any(d not in scores or abs(scores[d] - s) > SCORE_TOL for d, s in got):
        return False
    if not got:
        return True
    cut = got[-1][1] + SCORE_TOL
    return all(d in docs for d, s in ranking if s > cut)


def oracle_ranking(idx, text: str, conjunctive: bool) -> list[tuple[str, float]]:
    """Every matching doc, best first (pure-Python reference engine)."""
    return oracle.search(idx, text, k=idx.n_docs, conjunctive=conjunctive)


# -- headline: DuckDB oracle with the order-insensitive value comparison
#    of tests/test_harness_oracle.py ---------------------------------------

def normalized(rows: list[dict], cols: list[str]):
    from tests.test_harness_oracle import _norm

    # through JSON, so fresh results compare equal to cached ones
    return json.loads(json.dumps(_norm(rows, sorted(cols)), default=str))


def duck_expected(name: str, sql: str, tables: dict[str, str], cache_dir: str):
    """(columns, normalized rows) of the oracle SQL over the given parquet
    tables.  Cached on disk by a hash of the SQL and the table bytes:
    the top-k oracles tokenize in SQL and take ~15 s each at the
    headline size, and the headline inputs are identical on every run."""
    h = hashlib.sha256(sql.encode())
    for t in sorted(tables):
        with open(tables[t], "rb") as f:
            h.update(t.encode() + hashlib.sha256(f.read()).digest())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return d["cols"], d["rows"]
    import duckdb

    con = duckdb.connect()
    for t, p in tables.items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    res = con.sql(sql)
    cols = [d[0] for d in res.description]
    rows = [dict(zip(cols, r)) for r in res.fetchall()]
    con.close()
    d = {"cols": cols, "rows": normalized(rows, cols)}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(d, f)
    os.replace(tmp, path)
    return d["cols"], d["rows"]


def table_matches(got_cols: list[str], got_rows: list[dict],
                  want_cols: list[str], want_rows: list) -> bool:
    if sorted(got_cols) != sorted(want_cols) or len(got_rows) != len(want_rows):
        return False
    return normalized(got_rows, got_cols) == want_rows
