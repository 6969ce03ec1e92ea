"""TSV sources (reference ChunkReader parity) + a hand-computed
two-partition posting gold mirroring the STRUCTURE of the reference's
end-to-end index test (pkg/spimi/spimi_test.go:25-161: exact per-term
postings/freqs per partition, df summed and max_tf maxed at merge) —
content is our own, expected values derived by hand below."""

from __future__ import annotations

import pytest

from pulse_spark.config import IndexingSettings
from pulse_spark.index import build as B
from pulse_spark.sources.readers import (
    msmarco_as_transcripts,
    read_msmarco_tsv,
    read_queries_tsv,
)

# two "partitions" = two TSV files, like the reference's little{0,1}.tsv
PART0 = (
    "d0\tthe spark engine scans the table\n"
    "d1\tshuffle the partitions\n"
    "d2\tbroadcast join beats shuffle join\n"
)
PART1 = (
    "d3\tthe broadcast of the broadcast\n"
    "d4\tscans and more scans of tables\n"
)

# hand-derived (stopwords ON, stemming OFF):
#   tokens d0: spark engine scans table      (the/the dropped)
#   tokens d1: shuffle partitions
#   tokens d2: broadcast join beats shuffle join
#   tokens d3: broadcast broadcast           (the/of/the dropped)
#   tokens d4: scans scans tables            (and/more/of dropped)
EXPECTED = {
    # term: (df, max_tf, {doc: tf})
    "shuffle": (2, 1, {"d1": 1, "d2": 1}),
    "join": (1, 2, {"d2": 2}),
    "broadcast": (2, 2, {"d2": 1, "d3": 2}),
    "scans": (2, 2, {"d0": 1, "d4": 2}),
    "spark": (1, 1, {"d0": 1}),
}


@pytest.fixture(scope="module")
def tsv_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("tsv")
    p0, p1 = d / "part0.tsv", d / "part1.tsv"
    p0.write_text(PART0)
    p1.write_text(PART1)
    q = d / "queries.tsv"
    q.write_text("7\tshuffle join\n9\tbroadcast\n")
    return str(p0), str(p1), str(q)


def test_msmarco_tsv_two_partition_gold(spark, tsv_paths):
    p0, p1, _ = tsv_paths
    settings = IndexingSettings(stopwords_removal=True, stemming=False)
    # read both files as one dataset (the reference feeds files
    # sequentially into one builder; the merged result is what matters)
    raw = read_msmarco_tsv(spark, [p0, p1])
    assert raw.count() == 5
    docs = B.docs_df(msmarco_as_transcripts(raw))
    postings = B.postings_df(docs, settings)
    terms = {r["term"]: (r["df"], r["max_tf"]) for r in B.terms_df(postings).collect()}
    plist = {}
    for r in postings.collect():
        plist.setdefault(r["term"], {})[r["doc_no"].split(":")[0]] = r["tf"]

    for term, (df, max_tf, docs_tf) in EXPECTED.items():
        assert terms[term] == (df, max_tf), term
        assert plist[term] == docs_tf, term
    # stopwords never indexed
    for sw in ("the", "of", "and", "more"):
        assert sw not in terms


def test_doc_len_is_trimmed_bytes(spark, tsv_paths):
    p0, _, _ = tsv_paths
    raw = read_msmarco_tsv(spark, p0)
    docs = B.docs_df(msmarco_as_transcripts(raw))
    lens = {r["doc_no"]: r["doc_len"] for r in docs.collect()}
    assert lens["d0:0"] == len("the spark engine scans the table")


def test_queries_tsv(spark, tsv_paths):
    _, _, q = tsv_paths
    rows = {r["query_id"]: r["text"] for r in read_queries_tsv(spark, q).collect()}
    assert rows == {7: "shuffle join", 9: "broadcast"}


def test_doc_metadata_fetch(spark, tsv_paths):
    from pulse_spark.index.persist import build_persisted_index
    from pulse_spark.query.search import search_topk, with_doc_metadata
    import tempfile

    p0, p1, _ = tsv_paths
    settings = IndexingSettings(stopwords_removal=True, stemming=False)
    raw = read_msmarco_tsv(spark, [p0, p1])
    idx = build_persisted_index(
        spark, msmarco_as_transcripts(raw), tempfile.mkdtemp() + "/i", settings
    )
    q = spark.createDataFrame([(1, "broadcast join")], "query_id long, text string")
    res = search_topk(idx, q, k=3)
    meta = with_doc_metadata(idx, res).collect()
    assert len(meta) > 0
    cols = set(meta[0].asDict())
    assert {"doc_no", "conv_id", "turn_idx", "doc_len", "score", "rank"} <= cols


def test_read_cache_sees_overwritten_parquet(spark, tmp_path):
    """A parquet path overwritten during the session is re-resolved by
    the read cache: the second read returns the new rows, through both
    the plain and the spread reader."""
    from pulse_spark.sources.readers import (read_parquet_cached,
                                             read_parquet_spread)

    path = str(tmp_path / "t.parquet")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, "old"), (2, "old")], schema).write.parquet(path)
    assert sorted(read_parquet_cached(spark, path).collect()) == [
        (1, "old"), (2, "old")]
    assert read_parquet_spread(spark, path, "doc_id").count() == 2

    spark.createDataFrame([(3, "new"), (4, "new"), (5, "new")], schema) \
        .write.mode("overwrite").parquet(path)
    new = [(3, "new"), (4, "new"), (5, "new")]
    assert sorted(read_parquet_cached(spark, path).collect()) == new
    assert sorted(read_parquet_spread(spark, path, "doc_id").collect()) == new
    # an unchanged path keeps serving the one cached relation
    assert read_parquet_cached(spark, path) is read_parquet_cached(spark, path)
