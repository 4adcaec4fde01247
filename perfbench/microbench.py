"""In-process layer timings on the driver, outside Spark.

Each function times one public engine function on real data from the run
(a corpus sample or one segment of a built index) and returns a per-item
cost. Every timing is the median of ``REPEATS`` passes.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPEATS = 3


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def analyze_us_per_turn(texts: list[str]) -> float:
    from lucene_solr_spark.analysis import LuceneChainAnalyzer

    analyzer = LuceneChainAnalyzer()
    arr = pa.array(texts, type=pa.string())
    return _median_s(lambda: analyzer.analyze_batch(arr)) / len(texts) * 1e6


def _segment(index_dir: str, seg: int = 0):
    """(term → list of block dicts, norms uint8[]) of one segment."""
    posts = pq.read_table(
        os.path.join(index_dir, "postings", f"seg={seg}"), columns=["term", "blocks"]
    ).to_pydict()
    norms = pq.read_table(os.path.join(index_dir, "seg_norms", f"seg={seg}"))
    norms_arr = np.frombuffer(norms.column("norms")[0].as_py(), dtype=np.uint8)
    return dict(zip(posts["term"], posts["blocks"])), norms_arr


def codec_ns_per_posting(index_dir: str) -> tuple[float, float]:
    """(encode, decode) nanoseconds per posting over one segment, positions
    included — the build kernel's and the query kernels' codec work."""
    from lucene_solr_spark.index.codec import decode_postings, encode_posting_blocks

    term_blocks, norms_arr = _segment(index_dir)
    decoded = [decode_postings(b, with_positions=True) for b in term_blocks.values()]
    n_post = sum(len(d[0]) for d in decoded)

    def encode():
        for docs, tfs, pos in decoded:
            encode_posting_blocks(docs, tfs, norms_arr[docs].astype(np.int64), pos)

    def decode():
        for blocks in term_blocks.values():
            decode_postings(blocks, with_positions=True)

    return _median_s(encode) / n_post * 1e9, _median_s(decode) / n_post * 1e9


def kernel_ms_per_query_seg(index_dir: str, compiled: dict) -> tuple[float, float]:
    """(wand, exact) milliseconds per (query, segment) for the compiled
    query set on one segment. WAND covers the queries it scores itself;
    positional queries always take the exact path and count there only."""
    from lucene_solr_spark.search.kernels import score_segment_exact, score_segment_wand

    term_blocks, norms_arr = _segment(index_dir)
    qs = [q for q in compiled.values() if q.clauses]
    wand_qs = [q for q in qs if not q.needs_exact]

    def run(fn, queries):
        for q in queries:
            fn(term_blocks, norms_arr, 0, q)

    wand = _median_s(lambda: run(score_segment_wand, wand_qs)) / max(1, len(wand_qs))
    exact = _median_s(lambda: run(score_segment_exact, qs)) / max(1, len(qs))
    return wand * 1e3, exact * 1e3
