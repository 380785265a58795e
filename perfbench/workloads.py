"""The three workloads over the five-stage core.

Every workload runs on ``local[nproc]`` from one driver process, over pages
from ``corpus.generate_pages(seed)``. Page generation is benchmark input:
it is done and cached before any timer starts.

- serve_interactive: one client in a closed loop calls ``Searcher.top_k``
  (k=10, f32, pruned) over a log of eleven query shapes and three df
  bands, with Zipf repeats. Per-query Spark job floor and driver planning
  dominate.
- serve_batch: ``Searcher.top_k_many`` over batches of head-heavy OR, AND
  and phrase queries, term statistics preloaded, one kernel job per batch,
  so decode, scoring and the heap dominate instead of the floor.
- ingest (run by hand, not declared in BENCHMARK.json): build and cache a
  base generation, save it, then seeded write steps (append a delta and
  re-cache; delete a sample), each followed by a short read burst; end by
  loading the saved generation and querying it.

Each returns a ``Run`` holding the timed operations; metrics are derived
from it by ``run.py``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_spark import corpus
from lucene_solr_spark import search as lss_search
from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.index import builder as index_builder
from lucene_solr_spark.index import catalog, deletes, merge
from lucene_solr_spark.search.executor import Searcher

from . import querylog

K = 10
WARMUP_QUERIES = 2        # single top_k calls after the warm-up batch
BATCH_SIZE = 32
BURST_QUERIES = 3
MAX_STEPS = 6              # ingest write steps generated up front


class Run:
    """Timed operations and side data of one workload run."""

    def __init__(self):
        self.setup_s = 0.0
        self.build_docs_per_s = 0.0
        self.build_timings: list[dict] = []  # InvertedIndex.timings
        self.queries: list[dict] = []      # timed query operations
        self.writes: list[dict] = []       # timed write operations
        self.window = (0.0, 0.0)           # traced wall: set-up + measure
        self.extra: dict = {}              # workload-specific figures
        self.index = None                  # index the probes run against
        self.searcher = None
        self.builder = None
        self.pages_df = None
        self.n_pages = 0


def make_builder(n_docs: int, cores: int) -> index_builder.IndexBuilder:
    # grid sized like bench.py: ~4 grid cells per core at this corpus size
    return index_builder.IndexBuilder(
        ENGLISH_ANALYZER, grid=max(128, n_docs // (cores * 4)), head_df=512,
        salt_target=512, with_positions=True)


def load_pages(spark, n: int, seed: int):
    df = corpus.generate_pages(spark, n, seed=seed).select("doc_id", "text")
    df = df.persist()
    df.count()
    return df


def collect_terms(idx) -> list[tuple[str, int]]:
    rows = idx.terms.filter(F.col("field") == "text").select("term", "df")
    return [(r["term"], int(r["df"])) for r in rows.collect()]


def timed_query(run: Run, searcher, q: dict, **tags) -> None:
    """Parse + top_k one query; a raise counts as a failed operation."""
    rec = {"text": q["text"], "shape": q["shape"], "terms": q["terms"], **tags}
    t0 = time.perf_counter()
    try:
        ast = lss_search.parse_query(q["text"], ENGLISH_ANALYZER)
        rec["got"] = searcher.top_k(ast, k=K, mode="f32", prune=True)
        rec["ast"] = ast
    except Exception:
        rec["error"] = traceback.format_exc()
    rec["t0"], rec["dt"] = t0, time.perf_counter() - t0
    run.queries.append(rec)


def timed_batch(run: Run, searcher, qs: list[dict], batch_no: int) -> None:
    """Parse + top_k_many one batch; every query in it sees the batch's
    wall time as its latency."""
    t0 = time.perf_counter()
    recs = [{"text": q["text"], "shape": q["shape"], "terms": q["terms"],
             "batch": batch_no} for q in qs]
    try:
        asts = [lss_search.parse_query(q["text"], ENGLISH_ANALYZER)
                for q in qs]
        got = searcher.top_k_many(asts, k=K, mode="f32", prune=True)
        for rec, ast, g in zip(recs, asts, got):
            rec["ast"], rec["got"] = ast, g
    except Exception:
        err = traceback.format_exc()
        for rec in recs:
            rec["error"] = err
    dt = time.perf_counter() - t0
    for rec in recs:
        rec["t0"], rec["dt"] = t0, dt
    run.queries.extend(recs)


def _warm_up_queries(searcher, warm: list[dict], batch: bool) -> None:
    """One batch holding one period of the shape cycle (every evaluation
    path), then, for the interactive workload, a few single calls."""
    asts = [lss_search.parse_query(q["text"], ENGLISH_ANALYZER) for q in warm]
    searcher.top_k_many(asts, k=K, mode="f32", prune=True)
    if not batch:
        for a in asts[:WARMUP_QUERIES]:
            searcher.top_k(a, k=K, mode="f32", prune=True)


def _serve_setup(ctx, run: Run, batch: bool):
    """Timed set-up: build + cache + warm-up queries. Returns the
    measured-log term bands."""
    n = run.n_pages
    run.builder = make_builder(n, ctx.cores)
    ctx.oracle.join()
    with ctx.tracer.span("bench.setup"):
        t0 = time.perf_counter()
        idx = run.builder.build(ctx.spark, run.pages_df)
        idx.cache(serving_partitions=ctx.cores)
        t_built = time.perf_counter()
    run.build_docs_per_s = n / (t_built - t0)
    run.build_timings.append(dict(idx.timings))
    # the log is benchmark input, drawn outside the set-up timer
    bnds = querylog.bands(collect_terms(idx), n)
    meas, warm_bands = querylog.split_reserved(bnds, ctx.seed)
    mix = "batch" if batch else "interactive"
    warm = querylog.make_log(warm_bands, mix, len(querylog.shape_cycle(mix)),
                             ctx.seed, salt=1, repeat_every=None)
    with ctx.tracer.span("bench.setup"):
        t_w = time.perf_counter()
        searcher = Searcher(ctx.spark, idx)
        _warm_up_queries(searcher, warm, batch)
        t_done = time.perf_counter()
    run.setup_s = (t_built - t0) + (t_done - t_w)
    run.window = (t0, 0.0)
    run.index, run.searcher = idx, searcher
    return meas


def serve_interactive(ctx) -> Run:
    run = Run()
    run.n_pages = ctx.pages
    run.pages_df = load_pages(ctx.spark, run.n_pages, ctx.seed)
    meas = _serve_setup(ctx, run, batch=False)
    log = querylog.make_log(meas, "interactive", 1000, ctx.seed)
    with ctx.tracer.span("bench.measure"):
        t_start = time.perf_counter()
        for q in log:
            if time.perf_counter() - t_start >= ctx.seconds:
                break
            timed_query(run, run.searcher, q, state=0)
        t_end = time.perf_counter()
    run.window = (run.window[0], t_end)
    return run


def serve_batch(ctx) -> Run:
    run = Run()
    run.n_pages = ctx.pages
    run.pages_df = load_pages(ctx.spark, run.n_pages, ctx.seed)
    meas = _serve_setup(ctx, run, batch=True)
    log = querylog.make_log(meas, "batch", 100 * BATCH_SIZE, ctx.seed)
    # A log replay knows its vocabulary up front: load the term statistics
    # of every key in one call, as part of set-up, so each batch is one
    # kernel job and the batch time is decode, scoring and the heap.
    with ctx.tracer.span("bench.setup"):
        t0 = time.perf_counter()
        run.searcher.term_stats(sorted({("text", t) for q in log
                                        for t in q["terms"]}))
        run.setup_s += time.perf_counter() - t0
    with ctx.tracer.span("bench.measure"):
        t_start = time.perf_counter()
        for b in range(len(log) // BATCH_SIZE):
            if time.perf_counter() - t_start >= ctx.seconds:
                break
            timed_batch(run, run.searcher,
                        log[b * BATCH_SIZE:(b + 1) * BATCH_SIZE], b)
        t_end = time.perf_counter()
    run.window = (run.window[0], t_end)
    return run


def gen_bytes(gen_dir: str) -> dict[str, int]:
    """Data-file bytes per table of a saved generation (no checksums or
    markers)."""
    return {t: sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(os.path.join(gen_dir, t))
                   for f in fs if f.endswith(".parquet"))
            for t in ("postings", "terms", "norms")}


def ingest(ctx) -> Run:
    run = Run()
    spark, cores, seed = ctx.spark, ctx.cores, ctx.seed
    n_base = ctx.pages
    n_delta = max(100, n_base // 10)
    n_del = max(10, n_base // 200)
    run.n_pages = n_base
    all_pages = load_pages(spark, n_base + MAX_STEPS * n_delta, seed)
    run.pages_df = all_pages.filter(F.col("doc_id") < n_base)
    builder = run.builder = make_builder(n_base, cores)
    gen_dir = os.path.join(ctx.run_dir, "gen")
    ctx.oracle.join()
    # set-up: build + cache the base generation
    with ctx.tracer.span("bench.setup"):
        t0 = time.perf_counter()
        idx = builder.build(spark, run.pages_df)
        idx.cache(serving_partitions=cores)
        run.setup_s = time.perf_counter() - t0
    run.window = (t0, 0.0)
    run.build_docs_per_s = n_base / run.setup_s
    run.build_timings.append(dict(idx.timings))

    rng = np.random.default_rng([seed, 4])
    deleted: list[int] = []

    def write(kind, fn, n_docs=0):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        run.writes.append({"kind": kind, "dt": dt, "docs": n_docs})
        return out

    def burst(searcher, bnds, state, dead, salt):
        for q in querylog.make_log(bnds, "interactive", BURST_QUERIES, seed,
                                   salt=salt, repeat_every=None):
            timed_query(run, searcher, q, state=state, deleted=tuple(dead))

    with ctx.tracer.span("bench.measure"):
        t_start = time.perf_counter()
        write("save", lambda: catalog.save(idx, gen_dir, builder,
                                           run.pages_df))
        bnds = querylog.bands(collect_terms(idx), n_base)
        burst(Searcher(spark, idx), bnds, 0, (), salt=10)

        step = 0
        while step < MAX_STEPS and (
                step == 0 or time.perf_counter() - t_start < ctx.seconds):
            lo = n_base + step * n_delta
            delta = all_pages.filter((F.col("doc_id") >= lo)
                                     & (F.col("doc_id") < lo + n_delta))

            def append():
                with ctx.tracer.span("index.merge"):
                    nxt = merge.append(spark, idx, delta, builder)
                    return nxt.cache(serving_partitions=cores)
            prev, idx = idx, write("append", append, n_delta)
            prev.release()
            step += 1
            live = np.setdiff1d(np.arange(lo + n_delta), deleted)
            ids = sorted(int(d) for d in rng.choice(live, n_del,
                                                    replace=False))
            idx = write("delete",
                        lambda: deletes.delete_docs(spark, idx, ids))
            deleted.extend(ids)
            burst(Searcher(spark, idx), bnds, step, deleted, salt=20 + step)

        def reload():
            loaded = catalog.load(spark, gen_dir, ENGLISH_ANALYZER)
            return loaded.cache(serving_partitions=cores)
        loaded = write("load", reload)
        run.searcher = Searcher(spark, loaded)
        burst(run.searcher, bnds, 0, (), salt=60)   # base generation
        t_end = time.perf_counter()
    run.window = (run.window[0], t_end)
    run.extra["steps"] = step
    run.extra["delta_pages"] = n_delta
    run.extra["gen_dir"] = gen_dir
    run.extra["gen_bytes"] = gen_bytes(gen_dir)
    app = [w for w in run.writes if w["kind"] == "append"]
    run.extra["append_docs_per_s"] = statistics.median(
        w["docs"] / w["dt"] for w in app)
    run.extra["delete_s"] = statistics.median(
        w["dt"] for w in run.writes if w["kind"] == "delete")
    run.extra["save_s"] = next(w["dt"] for w in run.writes
                               if w["kind"] == "save")
    run.index = loaded
    idx.release()
    return run


def cleanup(run: Run) -> None:
    gen_dir = run.extra.get("gen_dir")
    if gen_dir:
        shutil.rmtree(gen_dir, ignore_errors=True)


WORKLOADS = {
    "serve_interactive": serve_interactive,
    "serve_batch": serve_batch,
    "ingest": ingest,
}
