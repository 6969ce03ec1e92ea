"""Engine configuration.

IndexingSettings mirrors the reference's spimi.IndexingSettings
(pkg/spimi/stats.go:8-12 persists it inside the index so query-time
preprocessing always matches index-time preprocessing — engine.go:38-43).
We persist it in the index manifest for the same reason.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, fields

from pulse_spark.text.normalize import PreprocessSettings


@dataclass(frozen=True)
class IndexingSettings:
    stopwords_removal: bool = True
    stemming: bool = True
    compression: bool = True          # delta+varint postings / unary tfs in segments
    block_size: int = 128             # max postings per compressed block
    store_text: bool = True           # keep the trimmed text in docs/ (the
                                      # per-turn text-equality surface).  At
                                      # 10^12-turn scale set False: the index
                                      # stores doc METADATA only (the
                                      # reference's doc.bin stores (docno,
                                      # size), not text — docs.pdf §2.3) and
                                      # the source table remains the text
                                      # store.

    @property
    def preprocess(self) -> PreprocessSettings:
        return PreprocessSettings(
            stopwords_removal=self.stopwords_removal, stemming=self.stemming
        )

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "IndexingSettings":
        """Keys that are not fields (a deleted knob such as salt_partitions)
        are dropped, so every older manifest still opens."""
        names = {f.name for f in fields(IndexingSettings)}
        return IndexingSettings(**{k: v for k, v in d.items() if k in names})


BM25_K1 = 1.3   # pkg/engine/metric.go:18
BM25_B = 0.5    # pkg/engine/metric.go:19
