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
def bucket_dir_copy(spark):
    """copy(index, dest) -> dest: a copy of a committed index whose
    postings sit under postings/bucket=B/ directories, one per term
    bucket — the layout of indexes written before the term bucket became
    the lead of the postings files' sort key."""
    import os
    import shutil

    def copy(index, dest: str) -> str:
        shutil.copytree(index.out_dir, dest)
        tmp = dest + ".postings"
        index.postings.write.partitionBy("bucket").parquet(tmp)
        shutil.rmtree(os.path.join(dest, "postings"))
        os.rename(tmp, os.path.join(dest, "postings"))
        return dest

    return copy
