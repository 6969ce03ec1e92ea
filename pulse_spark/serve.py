"""No-Spark point-query serving sidecar.

The reference answers a warm disjunctive BM25 k=1000 query in ~49 ms from
an mmap'd single-process index (docs/docs.pdf Table 4.3; cmd/search.go).
Spark's per-query floor is Catalyst planning + job scheduling + broadcast
setup (~1-2 s), which no plan shape can remove — so point queries are
served OUTSIDE Spark, from the very same committed segment artifacts the
Spark path writes (index/segments.py):

  terms/    -> in-memory lexicon dict        (reference: vocabulary mmap,
                                              engine.go:45-54)
  stats/    -> N, ADL                        (reference: stats.bin)
  docs/     -> doc_id -> doc_no array        (reference: doc.bin)
  segments/ -> stats-indexed reader: every file's per-row-group (min,
               max) term, read once from the footers at open; a query
               reads only the row groups that can hold its terms, one
               parallel task per file (files are term-sorted, so this
               prunes like the reference's lexicon seek,
               search.go:89-117)

Scoring is the SAME kernel as segments.py's distributed scorer
(index/maxscore.py): each term's blocks decoded once into fused arrays
(held in an LRU), then MaxScore over the per-block max-score metadata
into a pooled dense accumulator, and a partition + lexsort top-k.
Results are rank-identical to query/search.py::search_topk (pinned by
tests/test_serve.py).

Scale honesty: this sidecar is a SINGLE-NODE serving tier — it assumes
the lexicon + one dense float accumulator fit in RAM (fine into the
hundreds of millions of docs; the reference has the same envelope).  The
100 TB batch path stays in Spark; a fleet of these sidecars each serving
one doc_range shard (merge = concat + global top-k, exactly
segments.py's shuffle profile) is the horizontal story.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

from pulse_spark.config import IndexingSettings
from pulse_spark.index.maxscore import (
    FUSED_COLUMNS,
    fuse_terms,
    maxscore_topk,
    tombstone_mask,
)
from pulse_spark.text.normalize import tokens as py_tokens


@dataclass
class ServeResult:
    query_id: int
    rank: int
    doc_id: int
    doc_no: str | None
    score: float


def _results(query_id: int, ranked, doc_nos) -> list[ServeResult]:
    """ServeResults of ranked (doc_id, score) pairs, doc_no resolved
    through the doc_id -> doc_no array when one is loaded."""
    return [
        ServeResult(query_id=query_id, rank=rank, doc_id=d,
                    doc_no=str(doc_nos[d]) if doc_nos is not None else None,
                    score=score)
        for rank, (d, score) in enumerate(ranked)
    ]


def disable_numpy_hugepages() -> bool:
    """Turn off numpy's MADV_HUGEPAGE on large allocations (runtime
    equivalent of NUMPY_MADVISE_HUGEPAGE=0).  Returns False if the
    private numpy hook is unavailable.

    Why it exists: with kernel THP `defrag=madvise` (this sandbox's
    setting, and a common distro default), every 2 MB fault on a
    hugepage-madvised region may run SYNCHRONOUS memory compaction —
    measured here at ~2 ms per fault under host fragmentation, which
    turned a 9 M-doc server's init into 119 s and one hot-term cold
    fill into 53 s.  Same code with the madvise off: init 14.8 s, the
    fill 2.4 s (22×) — the pages fault as plain 4 K at microseconds
    each.  The TLB win hugepages buy a long-running scorer is real but
    small next to a 1000× fault-cost regression, so serving processes
    opt out (called from enable_malloc_arena, i.e. any
    malloc_arena_mb=... server)."""
    try:
        import numpy.core.multiarray as _ma

        _ma._set_madvise_hugepage(False)
        return True
    except Exception:
        return False


def enable_malloc_arena(mb: int = 512) -> bool:
    """Serving-process allocator tuning (opt-in, process-wide): raise
    glibc's M_MMAP_THRESHOLD and M_TRIM_THRESHOLD to `mb` MB, then
    pre-fault that much arena once.  Returns False if glibc/mallopt is
    unavailable (non-Linux).

    Why it exists: the batched cold-path decoders allocate 40-80 MB
    numpy temporaries per wide query.  glibc's DYNAMIC mmap threshold
    caps at 32 MB, so buffers that size are always mmap'd and munmap'd —
    every cold query re-pays first-touch page faults for its whole
    temporary footprint.  On hosts with fast fault-in (~GB/s) that is
    noise; on hosts with lazy VM memory backing this sandbox measured
    5-10 MB/s fault-in windows, turning a ~0.3 s decode into tens of
    seconds.  With the thresholds raised, temporaries come from the brk
    arena, freed pages stay resident, and steady-state decode reuses
    already-faulted memory (measured 4-5x on the decode A/B even in a
    clean window, 30x+ in degraded ones — BENCH.md §4g)."""
    # Same motivation, different allocator layer: numpy's own
    # MADV_HUGEPAGE turns each 2 MB first-touch into synchronous THP
    # compaction under defrag=madvise (measured 22x on a hot-term cold
    # fill) — every tuned serving process wants it off.
    disable_numpy_hugepages()
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        m_mmap_threshold, m_trim_threshold = -3, -1
        # trim threshold strictly ABOVE the arena size: a top chunk of
        # exactly `mb` MB (the freed pre-fault below) would otherwise be
        # malloc_trim'd back to the OS on free, undoing the pre-fault
        # (measured: q25 cold stayed at fault speed with trim == mb).
        ok = (libc.mallopt(m_mmap_threshold, mb << 20) == 1
              and libc.mallopt(m_trim_threshold, (mb * 4) << 20) == 1)
    except Exception:
        return False
    if not ok:
        return False
    # Grow + fault the brk arena with chunks UNDER the threshold, held
    # simultaneously (ONE allocation of exactly `mb` MB would itself be
    # mmap'd — size >= threshold — and munmap'd on free, faulting
    # nothing that survives; measured: that variant left first-touch
    # cost fully in place).  Freed afterwards, the pages stay resident
    # below the trim threshold and every later numpy temporary under
    # `mb/8` MB reuses them at memory speed.
    chunk = max(1, mb // 8)
    hold = [np.empty((chunk << 20), dtype=np.uint8) for _ in range(8)]
    for x in hold:
        x.fill(1)
    del hold
    return True


def load_doc_no_array(out_dir: str, n_docs: int) -> np.ndarray:
    """doc_id -> doc_no object array of length n_docs (doc_ids are
    dense) for a committed index (driver-side pyarrow).  Shared by
    PointServer and ShardedServer so a sharded composition loads it ONCE
    instead of once per shard — or, worse, via a throwaway whole-index
    server."""
    import pyarrow.parquet as pq

    d = pq.read_table(
        os.path.join(out_dir, "docs"), columns=["doc_id", "doc_no"]
    )
    ids = np.asarray(d["doc_id"].to_numpy())
    nos = np.asarray(d["doc_no"].to_pylist(), dtype=object)
    order = np.argsort(ids)
    arr = np.empty(n_docs, dtype=object)
    arr[ids[order]] = nos[order]
    return arr


class PointServer:
    """Serve BM25/TFIDF top-k point queries from a committed segments
    index without a SparkSession (requires build_segments=True at build
    time)."""

    def __init__(self, out_dir: str, load_doc_nos: bool = True,
                 cache_terms: int = 4096,
                 doc_ranges: "set[int] | None" = None,
                 doc_nos: "np.ndarray | None" = None,
                 malloc_arena_mb: "int | None" = None):
        """doc_ranges: serve only these doc_range partitions of the index
        (a SHARD — see ShardedServer); None = the whole index.
        doc_nos: pre-loaded doc_id -> doc_no array to share across shard
        servers in one process (each shard would otherwise load its own
        full copy).
        malloc_arena_mb: opt-in allocator tuning for long-lived serving
        processes — see enable_malloc_arena (process-wide effect, hence
        not a default)."""
        # unconditional (r6): the THP/madvise pathology hits the DEFAULT
        # config too — latency_9m_warm_r05.json recorded a 29 s cold
        # outlier (q25) on a no-arena server whose root cause is exactly
        # the synchronous-compaction fault storm disable_numpy_hugepages
        # documents.  The hugepage TLB win is negligible next to the
        # 1000x fault regression, so every server opts out, not just
        # arena-tuned ones.
        disable_numpy_hugepages()
        if malloc_arena_mb:
            enable_malloc_arena(malloc_arena_mb)

        import pyarrow.parquet as pq

        from pulse_spark.index.checkpoint import read_committed

        manifest, self.n_docs, self.adl = read_committed(out_dir, "segments")
        self.out_dir = out_dir
        self.doc_ranges = set(doc_ranges) if doc_ranges is not None else None
        self.settings = IndexingSettings.from_dict(manifest["settings"])
        # the size of every doc_id-indexed array: doc_ids are dense on
        # every write path (merge included), so it is n_docs
        self.id_space = self.n_docs

        # shard envelope: a shard server's dense accumulators cover ONLY
        # its own contiguous doc_id span (doc_range slice × range_size),
        # so N shards together hold ~1× the corpus in accumulator memory,
        # not N× — the memory half of sharding.  _base/_span stay
        # (0, n_docs) for a whole-index server.  Shard pruning on the
        # segment scan guarantees every posting id lands inside the span.
        rs = int(manifest["stages"]["segments"].get("range_size") or 0)
        if self.doc_ranges is not None and rs:
            self._base = min(self.doc_ranges) * rs
            self._span = min(
                (max(self.doc_ranges) + 1) * rs, self.id_space
            ) - self._base
        else:
            self._base, self._span = 0, self.id_space

        # live-docs tombstones (index/deletes.py), a mask the kernel
        # applies during accumulation.  N/ADL/df deliberately unchanged
        # until vacuum (Lucene live-docs semantics).
        from pulse_spark.index.deletes import deleted_id_array

        self._deleted = tombstone_mask(
            deleted_id_array(out_dir), self._base, self._span
        )

        t = pq.read_table(os.path.join(out_dir, "terms"), columns=["term", "df"])
        self.df = dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))

        self.doc_nos: np.ndarray | None = None
        if doc_nos is not None:
            self.doc_nos = doc_nos
        elif load_doc_nos:
            self.doc_nos = load_doc_no_array(out_dir, self.id_space)

        # stats-indexed segment reader: per file, the (min,max) term of
        # every parquet row group, read ONCE from the footers here, plus
        # the kept-open ParquetFile handle (a fresh open costs ~0.7 ms —
        # 32 files made that ~22 ms/query of pure overhead).  A query
        # then touches only the row groups whose term range covers a
        # missing term, read in PARALLEL (one task per file; the handle
        # isn't thread-safe, so each carries its own lock — cross-FILE
        # parallelism is what matters).  Measured vs a pyarrow-dataset
        # isin scan at a 9M-doc index: ~2.4x faster cold — the dataset
        # scanner re-opens footers and re-evaluates stats per query.
        # Shard servers keep only their doc_range partitions' files.
        import re as _re
        import threading

        self._seg_files: list[tuple] = []  # (ParquetFile, lock, spans)
        seg_root = os.path.join(out_dir, "segments")
        term_i = None
        for root, _dirs, fs in sorted(os.walk(seg_root)):
            m = _re.search(r"doc_range=(\d+)", root)
            dr = int(m.group(1)) if m else None
            if (self.doc_ranges is not None and dr is not None
                    and dr not in self.doc_ranges):
                continue
            for fn in sorted(fs):
                if not fn.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(root, fn))
                md = pf.metadata
                if term_i is None:
                    names = [md.schema.column(i).path for i in
                             range(md.num_columns)]
                    term_i = names.index("term")
                spans = []
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(term_i).statistics
                    # stats missing OR present-without-min/max (parquet
                    # writers legally drop min/max, e.g. parquet-mr on
                    # oversized binary values) -> never prunable
                    spans.append(
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (None, None)
                    )
                self._seg_files.append((pf, threading.Lock(), spans))
        from concurrent.futures import ThreadPoolExecutor

        self._read_pool = ThreadPoolExecutor(max_workers=8)
        self._closed = False
        # LRU of DECODED per-term blocks — repeated/hot query terms skip
        # both the parquet read and the varint/unary decode (the analog
        # of the reference's OS page cache over its mmap'd postings).
        # Guarded by a lock: searches from concurrent threads share the
        # cache safely (everything else a search touches is either a
        # function-local array or a read-only structure).
        from collections import OrderedDict

        self._cache_terms = cache_terms
        self._block_cache: OrderedDict[str, dict] = OrderedDict()
        self._cache_lock = threading.Lock()
        # pooled per-THREAD dense accumulators (see search): allocated
        # once, reset O(candidates) after each query — at a 9M-doc span
        # a fresh np.zeros costs ~35 ms of page faults per query
        self._tl = threading.local()

    def _buffers(self, conjunctive: bool):
        tl = self._tl
        if getattr(tl, "acc", None) is None or tl.acc.size != self._span:
            tl.acc = np.zeros(self._span, dtype=np.float64)
            tl.matched = np.zeros(self._span, dtype=bool)
            tl.hits = None
        if conjunctive and (tl.hits is None or tl.hits.size != self._span):
            tl.hits = np.zeros(self._span, dtype=np.int32)
        return tl.acc, tl.matched, (tl.hits if conjunctive else None)

    def _blocks_for(self, qterms: list[str],
                    _rebuild: bool = False) -> dict[str, dict]:
        """term -> fused entry (maxscore.fuse_terms) via LRU.  Each
        entry also memoizes its query-independent score partials per
        metric on first use (maxscore_topk), so a hot term pays neither
        the parquet read, the decode nor the partials again.

        Thread-safe: the miss fill happens OUTSIDE the lock (two threads
        may redundantly decode the same cold term — wasted work, never
        wrong), cache mutation inside it.  The fused arrays are
        immutable once built; the memo slots are a benign write-once
        race (both writers compute identical arrays, assignment is
        atomic)."""
        if _rebuild:
            # retry pass after a concurrent eviction: rebuild every term
            # unconditionally — insertion and re-read then happen inside
            # ONE locked region below, leaving no window for another
            # eviction, so the retry terminates at depth 2 (the probing
            # variant could in principle race an adversarial evictor
            # forever under a tiny cache)
            missing = list(dict.fromkeys(qterms))
        else:
            with self._cache_lock:
                missing = [t for t in qterms if t not in self._block_cache]
        if missing:
            tbl = self._read_terms(missing)
            # columnar extraction (one to_pylist per column) — ~7x fewer
            # Python<->C crossings than per-cell .as_py() on cold wide
            # queries, which is exactly the cold-term latency path
            cols = {c: tbl[c].to_pylist() for c in FUSED_COLUMNS}
            new = fuse_terms(cols, self.settings.compression, self._base,
                             missing)
        out = {}
        retry = []
        with self._cache_lock:
            for t in missing:
                self._block_cache[t] = new[t]
            for t in qterms:
                if t in self._block_cache:
                    self._block_cache.move_to_end(t)
                    out[t] = self._block_cache[t]
                else:
                    # present at the first check, evicted by a concurrent
                    # search before this one re-acquired the lock — rare;
                    # re-fetch below
                    retry.append(t)
            # evict AFTER touching the current query's terms (they sit at
            # the MRU end), and never below the in-flight term count — a
            # query wider than the cache must not evict its own terms
            # mid-flight
            floor = max(self._cache_terms, len(qterms))
            while len(self._block_cache) > floor:
                self._block_cache.popitem(last=False)
        if retry:
            out.update(self._blocks_for(retry, _rebuild=True))
        return out

    def close(self):
        """Release the read pool and parquet handles.  Optional —
        process exit does the same; long-lived processes that churn many
        servers should call it (or use the server as a context
        manager).  A closed server REFUSES further searches (without
        the guard, an empty file list would just serve 0 hits for every
        query — a use-after-close bug masquerading as an empty index)."""
        self._closed = True
        self._read_pool.shutdown(wait=False)
        self._seg_files.clear()
        with self._cache_lock:
            self._block_cache.clear()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _read_terms(self, terms: list[str]):
        """One pyarrow Table of the given terms' segment rows: row
        groups selected by the init-time stats index, read in parallel
        (one task per file), post-filtered to exactly the terms.  Linear
        stats probe per (row group × term) — fine into the 10^4-row-
        group range; swap for a sorted-run binary search if footprints
        grow past that."""
        import pyarrow as pa
        import pyarrow.compute as pc

        tset = pa.array(sorted(set(terms)))
        jobs = []
        for pf, lock, spans in self._seg_files:
            rgs = [
                i for i, (lo, hi) in enumerate(spans)
                if lo is None or any(lo <= t <= hi for t in terms)
            ]
            if rgs:
                jobs.append((pf, lock, rgs))

        def task(job):
            pf, lock, rgs = job
            with lock:
                t = pf.read_row_groups(
                    rgs, columns=list(FUSED_COLUMNS), use_threads=False
                )
            return t.filter(pc.is_in(t["term"], value_set=tset))

        parts = [p for p in self._read_pool.map(task, jobs) if p.num_rows]
        if not parts:
            # empty columns only feed per-column to_pylist -> []
            return pa.table({c: [] for c in FUSED_COLUMNS})
        return pa.concat_tables(parts)

    # -- scoring ----------------------------------------------------------

    def filter_mask(
        self,
        doc_nos=None,
        conv_ids=None,
    ) -> np.ndarray:
        """Build a boolean mask over all doc_ids for search(allowed_mask=...)
        from external doc_nos and/or conv_ids ("conv" matches every
        "conv:turn" doc).  Requires load_doc_nos=True.  One O(n_docs)
        Python pass — build once and REUSE across queries (the mask is
        the serving analog of query/search.py's doc_filter; a production
        fleet would precompute masks for its common filters)."""
        if self.doc_nos is None:
            raise ValueError("filter_mask requires load_doc_nos=True")
        wanted = set(doc_nos) if doc_nos else None
        convs = set(conv_ids) if conv_ids else None
        mask = np.zeros(self.id_space, dtype=bool)
        for did, dn in enumerate(self.doc_nos):
            if dn is None:
                continue
            if wanted is not None and dn in wanted:
                mask[did] = True
            elif convs is not None and str(dn).rsplit(":", 1)[0] in convs:
                mask[did] = True
        return mask

    def search(
        self,
        text: str,
        k: int = 10,
        metric: str = "BM25",
        conjunctive: bool = False,
        query_id: int = 0,
        allowed_mask: "np.ndarray | None" = None,
    ) -> list[ServeResult]:
        """Rank-identical to search_topk: duplicate query tokens score per
        occurrence (search.go:30-46); absent terms dropped; conjunctive
        requires all remaining distinct terms (search.go:113-116); ties
        (score desc, doc_id asc).

        allowed_mask: optional bool array over all doc_ids (see
        filter_mask) — restrict results to these docs, stats global
        (query/search.py doc_filter semantics).  Applied at accumulation
        time, before candidates enter the top-k state (maxscore_topk
        says why post-filtering would be unsound)."""
        if self._closed:
            raise RuntimeError("PointServer is closed")
        if metric.upper() not in ("BM25", "TFIDF"):
            raise ValueError(f"{metric} is not a valid metric")
        use_bm25 = metric.upper() == "BM25"
        fmask = None
        if allowed_mask is not None:
            if allowed_mask.shape[0] != self.id_space:
                raise ValueError(
                    f"allowed_mask must cover all {self.id_space} doc_ids"
                )
            fmask = allowed_mask[self._base:self._base + self._span]

        w = Counter(py_tokens(text, self.settings.preprocess) if text else [])
        qterms = [t for t in w if t in self.df]
        if not qterms:
            return []

        blocks = self._blocks_for(qterms)
        # the prune counters are for tests and the benchmark
        cand, scores, self.last_pruned_terms, self.last_blocks_skipped = maxscore_topk(
            [(blocks[t], w[t], math.log(self.n_docs / self.df[t]))
             for t in qterms],
            k, bm25=use_bm25, adl=self.adl, conjunctive=conjunctive,
            n_required=len(qterms), base=self._base,
            buffers=self._buffers(conjunctive), deleted=self._deleted,
            allowed=fmask,
        )
        return _results(query_id, zip(cand.tolist(), scores.tolist()),
                        self.doc_nos)


def _shard_worker(conn, out_dir: str, cache_terms: int, doc_ranges: list,
                  malloc_arena_mb: "int | None" = None):
    """Worker-process loop for ShardedServer(parallel=True): owns ONE
    shard PointServer (its own segment handles, block cache and
    span-sized accumulators — exactly what a shard HOST owns in a real
    fleet) and serves search requests over a Pipe.  doc_no resolution
    stays parent-side (one shared array), so workers ship only
    (doc_id, score) pairs back."""
    try:
        srv = PointServer(out_dir, load_doc_nos=False,
                          cache_terms=cache_terms,
                          doc_ranges=set(doc_ranges),
                          malloc_arena_mb=malloc_arena_mb)
    except BaseException as e:  # noqa: BLE001 — relay init failure
        try:
            conn.send(("init_err", repr(e)))
        finally:
            conn.close()
        return
    conn.send(("ready", None))
    while True:
        try:
            msg = conn.recv()
        except EOFError:
            break
        if msg is None:
            break
        try:
            text, k, metric, conjunctive, query_id = msg
            res = srv.search(text, k=k, metric=metric,
                             conjunctive=conjunctive, query_id=query_id)
            conn.send(("ok", [(r.doc_id, r.score) for r in res]))
        except Exception as e:  # noqa: BLE001 — relay, keep serving
            conn.send(("err", repr(e)))
    srv.close()
    conn.close()


class ShardedServer:
    """Horizontal serving: N PointServers, each owning a disjoint subset
    of the index's doc_range partitions, merged by concat + global top-k
    — the fleet-of-sidecars design from the module docstring, realized.

    Correctness: documents are partitioned by doc_range, so every doc's
    full postings live in exactly ONE shard — each shard computes that
    doc's exact final score (disjunctive and conjunctive alike), and the
    global top-k is a subset of the union of per-shard top-k's.  The
    merge re-sorts by (score desc, doc_id asc): rank-identical to a
    single PointServer over the whole index (pinned in tests).

    Two compositions of the same merge path:

    - parallel=True — one worker PROCESS per shard (multiprocessing
      "spawn": immune to fork-with-threads lock hazards; numpy scoring
      holds the GIL, so threads cannot fan out — the QPS bench measured
      threads ANTI-scaling 574→57 qps), request fanned out to every
      shard BEFORE any reply is awaited: per-query latency is
      max-over-shards plus one pipe round-trip.  Standard spawn
      contract: construct from an importable module or under
      ``if __name__ == "__main__":`` — spawn re-imports the caller's
      __main__, so an unguarded top-level script would re-execute
      itself in every worker.  This is the fleet
      topology with pipes in place of RPCs; each worker holds ~1/N of
      the index (segment handles, block cache, span-sized accumulators),
      and doc_no resolution uses ONE parent-side array.
    - parallel=False (default) — in-process shard servers called
      sequentially: per-query latency is SUM-over-shards; useful for
      tests and for memory-bounding a single host without process
      overhead.
    """

    def __init__(self, out_dir: str, n_shards: int = 2,
                 cache_terms: int = 4096, parallel: bool = False,
                 malloc_arena_mb: "int | None" = None):
        from pulse_spark.index.checkpoint import read_committed

        manifest, n_docs, _ = read_committed(out_dir, "segments")
        n_ranges = int(manifest["stages"]["segments"]["n_ranges"])
        n_shards = max(1, min(n_shards, n_ranges))
        # contiguous doc_range slices -> contiguous doc_id spans per shard
        bounds = [round(i * n_ranges / n_shards) for i in range(n_shards + 1)]
        # one shared doc_no array, loaded DIRECTLY (per-host copies in a
        # real fleet) — not via a throwaway whole-index PointServer,
        # whose init would redundantly scan every segment footer and
        # load the full lexicon just to be discarded
        self._nos = load_doc_no_array(out_dir, n_docs)
        self.parallel = parallel
        self.shards: list[PointServer] = []
        self._procs: list = []
        self._conns: list = []
        # the parallel fan-out/drain protocol interleaves Pipe send/recv:
        # two concurrent callers would misattribute or corrupt replies
        # (PointServer.search, by contrast, is concurrency-safe) — one
        # lock serializes per-instance callers
        import threading

        self._pipe_lock = threading.Lock()
        if parallel:
            import multiprocessing as mp

            ctx = mp.get_context("spawn")
            for i in range(n_shards):
                parent, child = ctx.Pipe()
                p = ctx.Process(
                    target=_shard_worker,
                    args=(child, out_dir, cache_terms,
                          sorted(range(bounds[i], bounds[i + 1])),
                          malloc_arena_mb),
                    daemon=True,
                )
                p.start()
                child.close()
                self._procs.append(p)
                self._conns.append(parent)
            for i, c in enumerate(self._conns):
                tag, payload = c.recv()
                if tag != "ready":
                    self.close()
                    raise RuntimeError(f"shard {i} failed to start: {payload}")
        else:
            if malloc_arena_mb:
                enable_malloc_arena(malloc_arena_mb)
            self.shards = [
                PointServer(
                    out_dir,
                    cache_terms=cache_terms,
                    doc_ranges=set(range(bounds[i], bounds[i + 1])),
                    doc_nos=self._nos,
                )
                for i in range(n_shards)
            ]

    def close(self):
        for s in self.shards:
            s.close()
        # same lock as search(): a close racing a locked fan-out/drain
        # would interleave the shutdown sentinel into the per-pipe
        # request stream mid-protocol.  Bounded wait, because a search
        # blocked on a hung worker holds the lock forever: past it, no
        # sentinel — the workers are killed, which ends that search's
        # recv() with EOF, so it raises and lets go of the lock.
        locked = self._pipe_lock.acquire(timeout=5)
        try:
            for c in self._conns if locked else ():
                try:
                    c.send(None)
                except (BrokenPipeError, OSError):
                    pass
            for p in self._procs:
                p.join(timeout=10 if locked else 0)
                # a stopped process ignores SIGTERM, not SIGKILL
                for stop in (p.terminate, p.kill):
                    if p.is_alive():
                        stop()
                        p.join(timeout=5)
            if not locked:
                locked = self._pipe_lock.acquire(timeout=5)
            for c in self._conns:
                c.close()
            self._conns.clear()
            self._procs.clear()
        finally:
            if locked:
                self._pipe_lock.release()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def search(
        self,
        text: str,
        k: int = 10,
        metric: str = "BM25",
        conjunctive: bool = False,
        query_id: int = 0,
        allowed_mask: "np.ndarray | None" = None,
    ) -> list[ServeResult]:
        if self.parallel:
            if allowed_mask is not None:
                # shipping a corpus-sized mask per query over the
                # shard pipes would dwarf the query itself; a process
                # fleet should register masks shard-side at startup
                raise ValueError(
                    "allowed_mask is not supported over process shards — "
                    "use in-process shards or filter shard-side"
                )
            msg = (text, k, metric, conjunctive, query_id)
            pairs: list[tuple[int, float]] = []
            errs: list[str] = []
            with self._pipe_lock:  # serialize callers: pipes are a
                # per-instance protocol, not a concurrent channel
                for c in self._conns:  # fan out to EVERY shard first…
                    c.send(msg)
                # drain EVERY shard's reply before raising — a partial
                # read would leave replies in the pipes and desync the
                # protocol for the next query
                for i, c in enumerate(self._conns):
                    try:
                        tag, payload = c.recv()
                    except (EOFError, OSError):  # OSError: reset by a kill
                        errs.append(f"shard {i} died mid-query")
                        continue
                    if tag != "ok":
                        errs.append(f"shard {i} search failed: {payload}")
                    else:
                        pairs.extend(payload)
            if errs:
                raise RuntimeError("; ".join(errs))
        else:
            pairs = [
                (r.doc_id, r.score)
                for sh in self.shards
                for r in sh.search(text, k=k, metric=metric,
                                  conjunctive=conjunctive,
                                  query_id=query_id, allowed_mask=allowed_mask)
            ]
        merged = sorted(pairs, key=lambda t: (-t[1], t[0]))[:k]
        return _results(query_id, merged, self._nos)
