"""Profile the batch top-k kernel by replaying it in-process.

For each batch of a ``serve_batch``-style query log (perfbench/querylog.py)
over ``corpus.generate_pages`` pages, built and cached as the benchmark
does, this script

1. times ``Searcher.top_k_many`` on the batch (one Spark job),
2. plans the batch the same way (``Searcher._batch_specs``) and collects
   the key-filtered blocks the kernel reads, tagged with
   ``spark_partition_id()`` and kept in partition order,
3. replays ``_bucket_kernel_multi`` on each serving partition's blocks in
   this process, cut into Arrow-sized frames
   (``spark.sql.execution.arrow.maxRecordsPerBatch``) so the tail-bucket
   carry runs as it does on the executors; each partition is timed on
   one replay and profiled with cProfile on a second,
4. checks that the replayed top-k equals ``top_k_many`` (doc ids and
   scores).

It prints one line per batch (Spark wall seconds, per-partition kernel
seconds, slowest partition) and the top cProfile entries over all
replays. Exit status 1 if a replayed answer differs.

    python scripts/profile_layers.py --pages 8000 --seed 1 --batches 4
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=8000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--top", type=int, default=20,
                    help="cProfile entries to print (by own time)")
    args = ap.parse_args(argv)

    # the Python workers import the package from this checkout
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import pandas as pd
    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.search import Searcher, parse_query
    from lucene_solr_spark.search.executor import (_bucket_kernel_multi,
                                                   _top_docs)
    from lucene_solr_spark.session import get_spark
    from perfbench import querylog, workloads

    spark = get_spark("profile_layers", cores=args.cores)
    try:
        pages = workloads.load_pages(spark, args.pages, args.seed)
        idx = (workloads.make_builder(args.pages, args.cores)
               .build(spark, pages).cache(serving_partitions=args.cores))
        bnds, _ = querylog.split_reserved(
            querylog.bands(workloads.collect_terms(idx), args.pages),
            args.seed)
        k, size = workloads.K, workloads.BATCH_SIZE
        log = querylog.make_log(bnds, "batch", args.batches * size, args.seed)
        searcher = Searcher(spark, idx)
        # as serve_batch: term statistics loaded up front, so each batch
        # is one kernel job
        searcher.term_stats(sorted({("text", t) for q in log
                                    for t in q["terms"]}))
        rows_per_frame = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        prof = cProfile.Profile()
        mismatches = 0
        print(f"pages={args.pages} cores={args.cores} batch_size={size} "
              f"frame_rows={rows_per_frame}")
        for b in range(args.batches):
            batch = log[b * size:(b + 1) * size]
            qs = [parse_query(q["text"], ENGLISH_ANALYZER) for q in batch]
            t0 = time.perf_counter()
            want = searcher.top_k_many(qs, k=k, mode="f32", prune=True)
            wall = time.perf_counter() - t0
            specs, live, qids, _ = searcher._batch_specs(qs, k, "f32", True)
            blocks = (searcher._kernel_blocks(live)
                      .withColumn("_pid", F.spark_partition_id())
                      .toPandas())
            outs, secs = [], []
            for _, part in blocks.groupby("_pid", sort=True):
                part = part.drop(columns="_pid").reset_index(drop=True)
                frames = [part.iloc[i:i + rows_per_frame]
                          for i in range(0, len(part), rows_per_frame)]
                t0 = time.perf_counter()
                outs.extend(_bucket_kernel_multi(frames, specs))
                secs.append(time.perf_counter() - t0)
                # profiled on a second, untimed replay
                prof.runcall(list, _bucket_kernel_multi(frames, specs))
            hits = (pd.concat(outs, ignore_index=True) if outs else
                    pd.DataFrame({"query_id": [], "doc_id": [], "score": []}))
            got = _top_docs(hits, k, "f32", len(specs))
            for qi, res in zip(qids, got):
                w = want[qi]
                if (res["doc_id"].tolist() != w["doc_id"].tolist()
                        or res["score"].tolist() != w["score"].tolist()):
                    mismatches += 1
                    print(f"  MISMATCH batch {b} query {qi}: "
                          f"{batch[qi]['text']!r}")
            print(f"batch {b}: top_k_many {wall:.3f} s; "
                  f"blocks {len(blocks)}; "
                  f"kernel replay per partition "
                  f"[{', '.join(f'{s:.3f}' for s in secs)}] s; "
                  f"slowest {max(secs, default=0.0):.3f} s")
        out = io.StringIO()
        pstats.Stats(prof, stream=out).sort_stats("tottime").print_stats(
            args.top)
        print(out.getvalue())
        print("replay == top_k_many" if not mismatches
              else f"{mismatches} replayed answers differ from top_k_many")
        return 1 if mismatches else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
