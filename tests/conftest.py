from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep unit tests light


@pytest.fixture(scope="session")
def spark():
    from pulse_spark.session import get_spark

    s = get_spark(app_name="pulse_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from pulse_spark.fixtures import write_transcripts_parquet

    p = tmp_path_factory.mktemp("fixtures") / "transcripts.parquet"
    write_transcripts_parquet(str(p), n_convs=120, seed=42)
    return str(p)


@pytest.fixture(scope="session")
def oracle_docs(transcripts_path):
    """[(doc_no, raw_text)] in stable (conv_id, turn_idx) order."""
    import pyarrow.parquet as pq

    t = pq.read_table(transcripts_path).to_pylist()
    t.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    return [(f"{r['conv_id']}:{r['turn_idx']}", r["text"]) for r in t]


@pytest.fixture(scope="session")
def bucket_layout_copy(spark):
    """copy(index, dest, layout) -> dest: a copy of a committed index in
    a postings layout older indexes were written in, where the postings
    carry the term bucket pmod(xxhash64(term), 8) and the manifest
    stores term_buckets=8.  layout="bucket_dirs": postings under
    postings/bucket=B/ directories, one per bucket; "bucket_column":
    one file sorted by (bucket, term, doc_id), bucket a data column."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pulse_spark.index import checkpoint as ckpt

    def copy(index, dest: str, layout: str) -> str:
        shutil.copytree(index.out_dir, dest)
        manifest = ckpt.load_manifest(dest)
        manifest["settings"]["term_buckets"] = 8
        ckpt.save_manifest(dest, manifest)
        tmp = dest + ".postings"
        p = index.postings.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(8)).cast("int"))
        if layout == "bucket_dirs":
            p.write.partitionBy("bucket").parquet(tmp)
        else:
            (p.coalesce(1).sortWithinPartitions("bucket", "term", "doc_id")
             .write.parquet(tmp))
        shutil.rmtree(os.path.join(dest, "postings"))
        os.rename(tmp, os.path.join(dest, "postings"))
        return dest

    return copy
