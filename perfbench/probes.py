"""Per-layer measurements made only in the traced run.

- write_probe: serve workloads never write, so their traced run saves,
  loads, appends to and deletes from the served index once, inside the
  traced window, to time those layers on the same index.
- search_probe: for a seeded sample of timed query operations, the same
  key-filtered postings scan run through a no-op ``mapInPandas`` (the
  Spark job floor: scan + Python worker round trip + Arrow transfer), and
  the exact count of postings rows (blocks) those keys match.
- codec_replay: ``decode_postings_block`` / ``encode_block_payloads``
  replayed in-process over a fixed set of collected blocks; the replay
  also checks that re-encoded blocks decode to the same postings.
- analysis_probe: ``invert_field_arrays`` over a fixed page sample on the
  driver, one core.
- spark_metrics: task, input, shuffle and cache figures from
  ``statusTracker`` job groups and the driver's local status REST API.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
from lucene_solr_spark.functions import codec
from lucene_solr_spark.index import builder as index_builder
from lucene_solr_spark.index import catalog, deletes, merge

from . import checks
from .workloads import gen_bytes, load_pages

SEARCH_SAMPLE = 6
CODEC_BLOCKS = 1000
ANALYSIS_PAGES = 2000
REPLAYS = 3


def key_filter(terms):
    return (F.col("field") == "text") & F.col("term").isin(list(terms))


def _noop(batches):
    for _ in batches:
        pass
    return iter(())


def write_probe(ctx, run) -> None:
    """Save, load, append ~2% new pages (+ re-cache) and delete a few."""
    spark, n = ctx.spark, run.n_pages
    gen_dir = os.path.join(ctx.run_dir, "gen")
    run.extra["gen_dir"] = gen_dir
    catalog.save(run.index, gen_dir, run.builder, run.pages_df)
    catalog.load(spark, gen_dir, ENGLISH_ANALYZER)
    run.extra["gen_bytes"] = gen_bytes(gen_dir)
    n_delta = max(50, n // 50)
    more = load_pages(spark, n + n_delta, ctx.seed)
    delta = more.filter(F.col("doc_id") >= n)
    with ctx.tracer.span("index.merge"):
        new = merge.append(spark, run.index, delta, run.builder)
        new.cache(serving_partitions=ctx.cores)
    rng = np.random.default_rng([ctx.seed, 5])
    ids = sorted(int(d) for d in rng.choice(n + n_delta, 10, replace=False))
    deletes.delete_docs(spark, new, ids)
    new.release()
    more.unpersist()


def search_probe(ctx, run) -> dict:
    """search.floor_s / search.kernel_s (medians per sampled operation) and
    search.blocks_read_per_query (mean over sampled queries)."""
    tr = ctx.tracer
    postings = run.index.postings
    ops: dict = {}
    for rec in run.queries:
        if "error" not in rec:
            ops.setdefault((rec["t0"], rec["dt"]), []).append(rec)
    keys = sorted(ops)
    rng = np.random.default_rng([ctx.seed, 6])
    pick = sorted(rng.choice(len(keys), min(SEARCH_SAMPLE, len(keys)),
                             replace=False))
    floors, kernels, blocks = [], [], []
    for i in pick:
        t0, dt = keys[i]
        recs = ops[keys[i]]
        terms = sorted({t for r in recs for t in r["terms"]})
        scan = (postings.filter(key_filter(terms))
                .drop("off_blob", "pay_blob"))
        f0 = time.perf_counter()
        scan.mapInPandas(_noop, schema="doc_id long").collect()
        floor = time.perf_counter() - f0
        spent = sum(s["end"] - s["start"] for s in tr.spans
                    if s["name"] in ("search.parse", "search.term_stats")
                    and t0 <= s["start"] <= t0 + dt)
        floors.append(floor)
        kernels.append(dt - floor - spent)
        blocks.append(postings.filter(key_filter(recs[0]["terms"])).count())
    return {"search.floor_s": statistics.median(floors),
            "search.kernel_s": statistics.median(kernels),
            "search.blocks_read_per_query": float(np.mean(blocks))}


def codec_replay(run) -> tuple[dict, bool]:
    rows = (run.index.postings.filter(F.col("bucket") == 0)
            .select("block_id", "doc_count", "doc_blob", "freq_blob",
                    "norm_blob")
            .limit(CODEC_BLOCKS).collect())
    rows = [r.asDict() for r in rows]
    dec_t, enc_t, ok = [], [], True
    for _ in range(REPLAYS):
        t0 = time.perf_counter()
        decoded = [index_builder.decode_postings_block(r) for r in rows]
        dec_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        blobs = [codec.encode_block_payloads(d, f, int(r["block_id"]) - 1)
                 for (d, f, _), r in zip(decoded, rows)]
        enc_t.append(time.perf_counter() - t0)
    for (d, f, _), (db, fb), r in zip(decoded, blobs, rows):
        d2, f2 = codec.decode_block_payloads(db, fb, int(r["doc_count"]),
                                             int(r["block_id"]) - 1)
        ok = ok and np.array_equal(d, d2) and np.array_equal(f, f2)
    n = len(rows)
    return ({"functions.codec.decode_blocks_per_s": n / statistics.median(dec_t),
             "functions.codec.encode_blocks_per_s": n / statistics.median(enc_t)},
            ok)


def analysis_probe(ctx) -> dict:
    n = ANALYSIS_PAGES
    texts = pd.Series(checks.page_texts(ctx.seed, 0, n))
    ids = np.arange(n, dtype=np.int64)
    times = []
    for _ in range(REPLAYS):
        t0 = time.perf_counter()
        index_builder.invert_field_arrays(ids, texts, ENGLISH_ANALYZER, True)
        times.append(time.perf_counter() - t0)
    return {"analysis.invert_docs_per_s": n / statistics.median(times)}


# -- Spark status ---------------------------------------------------------

class _Rest:
    def __init__(self, sc):
        url = sc.uiWebUrl
        port = url.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)


def spark_metrics(ctx, run) -> dict:
    sc, tr = ctx.spark.sparkContext, ctx.tracer
    st = sc.statusTracker()
    rest = _Rest(sc)
    time.sleep(0.5)            # let the listener bus drain into the store
    stages = {}
    for s in rest.get("/stages"):
        stages[s["stageId"]] = s    # newest attempt last

    def jobs_of(rec):
        return st.getJobIdsForGroup(tr.group_id(rec))

    def stage_ids(jobs):
        out = []
        for j in jobs:
            info = st.getJobInfo(j)
            out.extend(info.stageIds if info else [])
        return [s for s in out if s in stages
                and stages[s].get("status") == "COMPLETE"]

    t0, t1 = run.window
    measure = [s for s in tr.spans if s["name"] == "bench.measure"]
    in_measure = [s for s in tr.spans if s["name"] == "search.query"
                  and any(m["start"] <= s["start"] <= m["end"]
                          for m in measure)
                  and (s["parent"] is None
                       or tr.spans[s["parent"]]["name"] != "search.query")]
    n_jobs, own_jobs, tasks, kernel_stages = 0, 0, 0, []
    for q in in_measure:
        own = jobs_of(q)
        own_jobs += len(own)
        n_jobs += len(own) + sum(len(jobs_of(d)) for d in tr.descendants(q))
        for sid in stage_ids(own):
            tasks += stages[sid]["numCompleteTasks"]
            kernel_stages.append(sid)
    n_queries = max(1, len(run.queries))
    run_s, skew = [], []
    for sid in kernel_stages[:12]:
        s = stages[sid]
        q = rest.get(f"/stages/{sid}/{s['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        run_s.append(med / 1000.0)
        if med > 0:
            skew.append(mx / med)
    inputs = [stages[sid]["inputRecords"] for sid in kernel_stages]
    builds = [s for s in tr.spans
              if s["name"] in ("index.builder.build", "index.builder.cache")
              and t0 <= s["start"] <= t1]
    shuffle = sum(stages[sid]["shuffleWriteBytes"]
                  for b in builds for sid in stage_ids(jobs_of(b)))
    cached = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                 for r in rest.get("/storage/rdd"))
    return {
        "search.spark_jobs_per_query": n_jobs / n_queries,
        "spark.tasks_per_job": tasks / max(1, own_jobs),
        "spark.task_run_s": statistics.median(run_s) if run_s else 0.0,
        "spark.task_skew": statistics.median(skew) if skew else 0.0,
        "spark.input_records": statistics.median(inputs) if inputs else 0.0,
        "spark.shuffle_write_bytes": float(shuffle),
        "spark.cached_bytes": float(cached),
    }
