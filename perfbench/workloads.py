"""The workloads: ``build`` (the write path) and ``query`` (the read path).

Set-up makes the workload's corpus from the seed and runs one cold set-up
pass as warm-up: write the key-sorted corpus files, ``build_index_presorted``,
open an ``IndexSearcher`` with its stats and norm cache bound, answer one
query. Then ``SETUP_PASSES`` timed passes: the whole pass again (build), or
its searcher open and first query (query). Then a closed loop with one client
runs for at least ``seconds`` and at least a fixed number of operations.
Every operation's output is checked; a wrong answer or an exception counts
as a failed operation. Both workloads report the same end-to-end metrics,
each on its own kind of work.

The end-to-end metrics, per workload:

- ``setup_s``: the median timed set-up pass (build: ~61k turns; query: a
  searcher on ~31k);
- ``latency_p50_ms``: build: an NRT refresh, from the append/update call
  until a reopened searcher answers its first query; query: one top-k query;
- ``items_per_s``: build: turns indexed per second by the set-up builds;
  query: queries per second of the 50-query set run as one batch;
- ``index_bytes_per_text_byte``: bytes of the built index over UTF-8 bytes
  of the corpus text (the same seed gives the same value).
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import microbench

# Corpus sizes in conversations (~7.7 turns each on average).
BUILD_CONV = 8_000       # ~61k turns: the bulk build and the NRT refreshes on it
SERVE_CONV = 4_000       # ~31k turns: the index the query loop searches
APPEND_CONV = 1_300      # ~10k turns per NRT append
UPDATE_TURNS = 2_500     # turns per NRT update
K = 10
SLOP = 2                 # the sloppy-phrase variant of each phrase2 query
SETUP_PASSES = 3         # timed, after a cold one; setup_s is the median pass
REFRESH_CYCLE = (False, False, True)  # build loop: append, append, update
QTYPES = 9               # query set-up: one untimed query of each qtype
SINGLES_PER_ROUND = 3    # query loop: a round is three single queries, then
MIN_ROUNDS = 4           # ...one batch of the 50-query set; at least four rounds
MERGE_OUT = 1            # forced merge target of the traced run (forceMerge(1))


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    cpus: int
    work: str            # scratch directory of this run
    tracer: object
    t_start: float       # perf_counter() at process start
    phases: dict = field(default_factory=dict)   # run phase → seconds
    _last: float | None = None

    def mark(self, phase: str) -> None:
        """Close a run phase: seconds since the previous mark."""
        now = time.perf_counter()
        self.phases[phase] = now - (self._last or self.t_start)
        self._last = now


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)   # end-to-end name → value
    samples: dict = field(default_factory=dict)   # end-to-end name → sample count
    raw: dict = field(default_factory=dict)       # timing series → every sample
    layers: dict = field(default_factory=dict)    # per-layer name → value (traced)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


# --- shared helpers ---------------------------------------------------------

def corpus(n_conv: int, seed: int):
    from lucene_solr_spark.datagen import generate_transcripts

    return (
        generate_transcripts(n_conv, seed=seed)
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def write_sorted(pdf, path: str, n_files: int) -> None:
    """Key-sorted parquet files, file i's keys before file i+1's."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * step:(i + 1) * step], preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
        )


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum and marker files of
    the Hadoop file system left out)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not (f.endswith(".crc") or f == "_SUCCESS"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def violations(spark, index_dir: str) -> int:
    from lucene_solr_spark.index.check import check_index

    rows = check_index(spark, index_dir).select("n_violations").collect()
    return sum(int(r.n_violations) for r in rows)


def open_searcher(ctx: Ctx, index_dir: str):
    """Open a searcher and bind its collection stats and norm cache."""
    from lucene_solr_spark.search.searcher import IndexSearcher

    with ctx.tracer.call("search.searcher.open"):
        s = IndexSearcher(ctx.spark, index_dir)
        s.stats, s.cache  # noqa: B018 — binding the stats is the point
    return s


def query_pool(analyzer, seed: int) -> dict:
    """The seeded reference set (50 queries, eight qtypes) plus a sloppy
    variant of each phrase query (the ninth qtype): qid → (qtype, spec),
    parsed as ``IndexSearcher.parse`` does."""
    from lucene_solr_spark.datagen import generate_queries
    from lucene_solr_spark.search.query import parse_fixture_query

    pool = {}
    for q in generate_queries(seed):
        pool[f"q{q['query_id']}"] = (q["qtype"], parse_fixture_query(
            analyzer, q["qtype"], q["terms"], q["min_should"]))
        if q["qtype"] == "phrase2":
            pool[f"q{q['query_id']}s"] = ("phrase2_slop", parse_fixture_query(
                analyzer, "phrase2", q["terms"], slop=SLOP))
    return pool


def stratified(pool: dict, seed: int) -> list[str]:
    """Query ids round-robin over qtypes (each qtype shuffled by the seed),
    so every run sends the same qtype mix in the same order."""
    rng = np.random.default_rng(seed)
    by_type: dict[str, list[str]] = {}
    for qid, (qtype, _) in pool.items():
        by_type.setdefault(qtype, []).append(qid)
    lanes = [list(rng.permutation(ids)) for _, ids in sorted(by_type.items())]
    order = []
    for row in itertools.zip_longest(*lanes):
        order.extend(q for q in row if q is not None)
    return order


def rows_of(rows) -> list[tuple[int, np.float32]]:
    return [(int(r.doc_id), np.float32(r.score)) for r in rows]


def by_query(rows, qids) -> dict[str, list]:
    """search_many rows → qid → [(doc_id, f32 score)] in rank order."""
    got: dict[str, list] = {qid: [] for qid in qids}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got[r.query_id].append((int(r.doc_id), np.float32(r.score)))
    return got


def single_query(ctx: Ctx, searcher, spec) -> tuple[list, float]:
    """One ``IndexSearcher.search(...).collect()``: (rows, seconds)."""
    with ctx.tracer.call("search.searcher.search"):
        t0 = time.perf_counter()
        rows = searcher.search(spec, k=K).collect()
        dt = time.perf_counter() - t0
    return rows_of(sorted(rows, key=lambda r: r.rank)), dt


def settle() -> None:
    """Flush dirty pages so the next timing does not pay earlier writeback."""
    os.sync()


def trace_hooks(ctx: Ctx) -> None:
    """Trace the engine-internal calls that have no public entry point of
    their own in a workload: compile inside ``search`` and the finalize pass
    (what ``refresh_stats`` runs) inside build/append/update."""
    from lucene_solr_spark.index import build, updates
    from lucene_solr_spark.search.searcher import IndexSearcher

    ctx.tracer.patch(IndexSearcher, "compile", "search.searcher.compile")
    ctx.tracer.patch(build, "_finalize", "index.updates.refresh_stats")
    ctx.tracer.patch(updates, "_finalize", "index.updates.refresh_stats")


# --- set-up (both workloads) ------------------------------------------------

@dataclass
class Prepared:
    pdf: object          # the corpus, key-sorted
    idx: str             # the built index
    searcher: object     # the searcher of the last set-up pass
    pool: dict           # qid → (qtype, spec)
    order: list          # query ids in send order
    build_s: list        # build_index_presorted seconds of each timed pass


def prepare(ctx: Ctx, res: Result, n_conv: int, rebuild: bool) -> Prepared:
    """Generate the corpus, run one cold set-up pass as warm-up, then
    ``SETUP_PASSES`` timed passes: with ``rebuild`` whole passes again, else
    only the searcher open and first query of a pass. Sets ``setup_s`` (the
    median timed pass) and ``index_bytes_per_text_byte``."""
    from lucene_solr_spark.analysis import LuceneChainAnalyzer
    from lucene_solr_spark.index.build import build_index_presorted

    pdf = corpus(n_conv, ctx.seed)
    text_bytes = pc.sum(pc.binary_length(pa.array(pdf["text"], type=pa.string()))).as_py()
    pool = query_pool(LuceneChainAnalyzer(), ctx.seed)
    order = stratified(pool, ctx.seed)
    src, idx = os.path.join(ctx.work, "corpus"), os.path.join(ctx.work, "index")
    ctx.mark("datagen")

    pass_s, build_s = [], []
    for i in range(SETUP_PASSES + 1):
        t0 = time.perf_counter()
        if i == 0 or rebuild:
            for d in (src, idx):
                shutil.rmtree(d, ignore_errors=True)
            write_sorted(pdf, src, 2 * ctx.cpus)
            with ctx.tracer.call("index.build.build_index_presorted"):
                t1 = time.perf_counter()
                manifest = build_index_presorted(ctx.spark, src, idx)
                dt = time.perf_counter() - t1
            res.op(int(manifest.toPandas()["n_docs"].sum()) == len(pdf),
                   f"set-up pass {i}: doc count")
            if i:
                build_s.append(dt)
        searcher = open_searcher(ctx, idx)
        rows, _ = single_query(ctx, searcher, pool[order[i]][1])
        settle()
        if i:
            pass_s.append(time.perf_counter() - t0)
        else:
            ctx.mark("warm_up")
        res.op(len(rows) <= K, f"set-up pass {i}: {len(rows)} hits")
    ctx.mark("setup_passes")

    res.metrics["setup_s"] = statistics.median(pass_s)
    res.metrics["index_bytes_per_text_byte"] = dir_bytes(idx) / text_bytes
    res.samples.update(setup_s=len(pass_s), index_bytes_per_text_byte=1)
    res.raw.update(setup_pass_s=pass_s, build_s=build_s)
    res.layers.update({
        f"index.build.bytes_written.{t}": dir_bytes(os.path.join(idx, t))
        for t in ("postings", "docs", "seg_norms", "term_stats")
    })
    return Prepared(pdf, idx, searcher, pool, order, build_s)


def exact_answers(searcher, pool: dict) -> tuple[dict, dict]:
    """(compiled pool, qid → ``mode="exact"`` answer) for every pool query."""
    compiled = searcher.compile_many({qid: (spec, K) for qid, (_, spec) in pool.items()})
    return compiled, by_query(searcher.search_many(compiled, mode="exact").collect(), pool)


# --- NRT refresh ------------------------------------------------------------

class Refresher:
    """One writer doing near-real-time refreshes on a built index: append
    new docs or update existing ones, open a new searcher with its stats
    bound, answer one query. An op is checked against the expected live doc
    count."""

    def __init__(self, ctx: Ctx, p: Prepared) -> None:
        from lucene_solr_spark.analysis import LuceneChainAnalyzer

        self.ctx, self.p = ctx, p
        self.analyzer = LuceneChainAnalyzer()
        # expected live docs with at least one term (stats.doc_count)
        self.live = dict(zip(p.pdf["conv_id"] + "/" + p.pdf["turn_idx"].astype(str),
                             self._has_terms(p.pdf["text"])))
        self.queries = itertools.cycle(p.order)
        self.n_slices = max(1, len(p.pdf) // UPDATE_TURNS)
        self.i = self.n_updates = 0
        self.refresh_ms: list[float] = []   # op call until the searcher is bound
        self.total_ms: list[float] = []     # op call until the first answer

    def _has_terms(self, texts) -> np.ndarray:
        frame = self.analyzer.analyze_batch(pa.array(list(texts), type=pa.string()))
        return np.asarray(frame.attrs["doc_len"]) > 0

    def step(self, res: Result, update: bool) -> None:
        from lucene_solr_spark.datagen import generate_transcripts
        from lucene_solr_spark.index.build import append_batch
        from lucene_solr_spark.index.updates import update_docs

        ctx, base, i = self.ctx, self.p.pdf, self.i
        self.i += 1
        if update:  # delete + re-add a slice of the base corpus
            j = self.n_updates % self.n_slices
            self.n_updates += 1
            batch = base.iloc[j * UPDATE_TURNS:(j + 1) * UPDATE_TURNS].copy()
            batch["text"] = batch["text"] + " refreshed"
            fn, layer = update_docs, "index.updates.update_docs"
        else:
            batch = generate_transcripts(APPEND_CONV, seed=ctx.seed * 1009 + i)
            batch["conv_id"] = f"r{i:04d}-" + batch["conv_id"]
            fn, layer = append_batch, "index.build.append_batch"
        self.live.update(zip(batch["conv_id"] + "/" + batch["turn_idx"].astype(str),
                             self._has_terms(batch["text"])))
        expect = sum(self.live.values())
        try:
            df = ctx.spark.createDataFrame(batch)
            t0 = time.perf_counter()
            with ctx.tracer.call(layer):
                fn(ctx.spark, df, self.p.idx)
            searcher = open_searcher(ctx, self.p.idx)
            t1 = time.perf_counter()
            got = searcher.stats.doc_count
            rows, _ = single_query(ctx, searcher, self.p.pool[next(self.queries)][1])
            t2 = time.perf_counter()
            self.refresh_ms.append((t1 - t0) * 1e3)
            self.total_ms.append((t2 - t0) * 1e3)
            res.op(got == expect and len(rows) <= K,
                   f"refresh {i}: doc_count {got} != {expect}")
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            res.op(False, f"refresh {i}: {exc!r}"[:300])
        settle()


# --- build ------------------------------------------------------------------

def run_build(ctx: Ctx) -> Result:
    """Bulk presorted builds over 2 files per core (the set-up passes), then
    NRT refreshes on the built index."""
    res = Result()
    trace_hooks(ctx)
    p = prepare(ctx, res, BUILD_CONV, rebuild=True)
    res.metrics["items_per_s"] = len(p.pdf) / statistics.median(p.build_s)
    res.samples["items_per_s"] = len(p.build_s)

    writer = Refresher(ctx, p)
    t_end = time.perf_counter() + ctx.seconds
    while writer.i < len(REFRESH_CYCLE) or time.perf_counter() < t_end:
        writer.step(res, REFRESH_CYCLE[writer.i % len(REFRESH_CYCLE)])
    res.op(violations(ctx.spark, p.idx) == 0, "refreshed index: check_index")
    ctx.mark("loop")

    if writer.total_ms:
        res.metrics["latency_p50_ms"] = statistics.median(writer.total_ms)
    res.samples["latency_p50_ms"] = len(writer.total_ms)
    res.raw.update(refresh_ms=writer.refresh_ms, refresh_total_ms=writer.total_ms)
    if ctx.tracer.enabled:
        layer_tour(ctx, res, p, writer)
    return res


# --- query ------------------------------------------------------------------

def run_query(ctx: Ctx) -> Result:
    """One client, in rounds: three single top-k queries, then the 50-query
    set as one batch."""
    res = Result()
    trace_hooks(ctx)
    p = prepare(ctx, res, SERVE_CONV, rebuild=False)
    s, pool = p.searcher, p.pool
    ref = [qid for qid, (qtype, _) in pool.items() if qtype != "phrase2_slop"]
    all_q, exact = exact_answers(s, pool)
    # the first query of a qtype runs slower; each set-up pass sent one
    for qid in p.order[SETUP_PASSES + 1:QTYPES]:
        single_query(ctx, s, pool[qid][1])
    ctx.mark("exact_and_warm")

    def batch() -> float:
        t0 = time.perf_counter()
        compiled = s.compile_many({qid: (pool[qid][1], K) for qid in ref})
        with ctx.tracer.call("search.searcher.search_many"):
            rows = s.search_many(compiled).collect()
        dt = time.perf_counter() - t0
        res.op(by_query(rows, ref) == {qid: exact[qid] for qid in ref}, "batch != exact")
        return dt

    batch()  # the first batch in the default mode runs slower
    ctx.mark("warm_batch")

    # rounds of singles then one batch, so both timings span the whole loop
    lat_ms, batch_s = [], []
    singles = itertools.cycle(p.order)
    t_end = time.perf_counter() + ctx.seconds
    for rnd in itertools.count():
        if rnd >= MIN_ROUNDS and time.perf_counter() >= t_end:
            break
        for _ in range(SINGLES_PER_ROUND):
            qid = next(singles)
            try:
                rows, dt = single_query(ctx, s, pool[qid][1])
                lat_ms.append(dt * 1e3)
                res.op(rows == exact[qid], f"single {qid} != exact")
                if ctx.tracer.enabled:
                    with ctx.tracer.call("search.searcher.hits"):
                        s.hits(all_q[qid]).collect()
            except Exception as exc:  # noqa: BLE001
                res.op(False, f"single {qid}: {exc!r}"[:300])
        try:
            batch_s.append(batch())
        except Exception as exc:  # noqa: BLE001
            res.op(False, f"batch: {exc!r}"[:300])
            if not batch_s:
                raise
    ctx.mark("loop")

    if lat_ms:
        res.metrics["latency_p50_ms"] = statistics.median(lat_ms)
        res.raw["single_p90_ms"] = float(np.percentile(lat_ms, 90))
    res.metrics["items_per_s"] = len(ref) / statistics.median(batch_s)
    res.samples.update(latency_p50_ms=len(lat_ms), items_per_s=len(batch_s))
    res.raw.update(single_ms=lat_ms, batch_s=batch_s)
    if ctx.tracer.enabled:
        layer_tour(ctx, res, p, Refresher(ctx, p))
    return res


# --- traced run only ----------------------------------------------------------

def layer_tour(ctx: Ctx, res: Result, p: Prepared, writer: Refresher) -> None:
    """After the timed loop of a traced run: call every traced layer at least
    once, so each per-layer metric is measured on every workload (two more
    NRT refreshes, which include an update and an append; one batch checked
    against ``mode="exact"``; one ``hits``; a forced merge with
    ``check_index``), then time the in-process layers."""
    from lucene_solr_spark.index.merge import merge_segments

    for update in (False, True):
        writer.step(res, update)
    s = open_searcher(ctx, p.idx)
    compiled, exact = exact_answers(s, p.pool)
    with ctx.tracer.call("search.searcher.search_many"):
        rows = s.search_many(compiled).collect()
    res.op(by_query(rows, compiled) == exact, "tour batch != exact")
    with ctx.tracer.call("search.searcher.hits"):
        s.hits(compiled[p.order[0]]).collect()
    merged = os.path.join(ctx.work, "merged")
    with ctx.tracer.call("index.merge.merge_segments"):
        merge_segments(ctx.spark, p.idx, merged, n_out=MERGE_OUT)
    res.op(violations(ctx.spark, merged) == 0, "merge: check_index")
    wand, ex = microbench.kernel_ms_per_query_seg(p.idx, compiled)
    enc, dec = microbench.codec_ns_per_posting(p.idx)
    res.layers.update({
        "analysis.analyze_batch.us_per_turn":
            microbench.analyze_us_per_turn(p.pdf["text"].iloc[:20_000].tolist()),
        "index.codec.encode_ns_per_posting": enc,
        "index.codec.decode_ns_per_posting": dec,
        "search.kernels.score_segment_wand.ms_per_query_seg": wand,
        "search.kernels.score_segment_exact.ms_per_query_seg": ex,
    })
    ctx.mark("layer_tour")


WORKLOADS = {"build": run_build, "query": run_query}
