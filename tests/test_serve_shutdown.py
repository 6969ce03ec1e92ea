"""ShardedServer.close() with a hung shard worker: it returns in bounded
time, no worker process outlives it, and the search blocked on that
worker raises instead of hanging."""

from __future__ import annotations

import os
import signal
import threading

from pulse_spark.config import IndexingSettings
from pulse_spark.index.persist import build_persisted_index
from pulse_spark.serve import ShardedServer


def test_close_with_stopped_worker_is_bounded(spark, transcripts_path, tmp_path):
    out = str(tmp_path / "idx")
    build_persisted_index(
        spark, spark.read.parquet(transcripts_path), out,
        IndexingSettings(block_size=32), build_segments=True,
    )
    srv = ShardedServer(out, n_shards=2, parallel=True)
    procs = list(srv._procs)
    try:
        srv.search("join merge", k=3)  # both workers answer
        os.kill(procs[1].pid, signal.SIGSTOP)  # hung: alive, never replies

        errors: list[BaseException] = []

        def search():
            try:
                srv.search("join merge", k=3)
            except BaseException as e:  # noqa: BLE001 — recorded for the asserts
                errors.append(e)

        searcher = threading.Thread(target=search, daemon=True)
        searcher.start()
        searcher.join(timeout=1.0)
        assert searcher.is_alive(), "search should block on the stopped worker"

        closer = threading.Thread(target=srv.close, daemon=True)
        closer.start()
        closer.join(timeout=60)
        assert not closer.is_alive(), "close() hung behind the blocked search"
        for p in procs:
            p.join(timeout=10)
            assert not p.is_alive(), p.pid
        searcher.join(timeout=30)
        assert not searcher.is_alive(), "blocked search never returned"
        assert len(errors) == 1 and isinstance(errors[0], RuntimeError), errors
    finally:
        for p in procs:  # never leave a stopped worker behind
            if p.is_alive():
                p.kill()
                p.join(timeout=10)
