"""Benchmark of the five-stage core: analyzer, invert, pack, per-partition
top-k kernel and driver merge. See perfbench/README.md.

    python3 perfbench/run.py --workload serve_interactive --seed 1 \
        --seconds 10 --trace 0 [--pages N]

Run from the root of a checkout. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it is
a report with every figure of the run, answer checks included. Run files
(query log, spans, result) go to ``.perfbench/runs/<run id>/``.

The benchmark runs in a child process. This process is a child subreaper:
every process the run leaves behind (Spark's JVM, its Python daemon and
workers, the oracle, multiprocessing's resource tracker) is re-parented to
it, stopped and waited for before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Default corpus size per workload (pages); ingest appends deltas of 10%.
# ingest is not in BENCHMARK.json (see README.md), but runs by hand.
PAGES = {"serve_interactive": 8_000, "serve_batch": 8_000, "ingest": 6_000}
DRIVER_MEM = "3g"
CONTROL_ROWS = 20_000_000
CHILD_ENV = "PERFBENCH_CHILD"
RUN_TIMEOUT_S = 165       # the child is killed after this
GRACE_S = 5.0             # left-over processes get this long to end alone
PR_SET_CHILD_SUBREAPER = 36

# Per-layer metrics of the traced run, with their units.
LAYER_UNITS = {
    "analysis.invert_docs_per_s": "docs/s",
    "index.builder.build_s": "s",
    "index.builder.invert_s": "s",
    "index.builder.dict_norms_stats_s": "s",
    "index.builder.pack_s": "s",
    "index.builder.postings_rows": "count",
    "index.builder.terms": "count",
    "functions.codec.encode_blocks_per_s": "blocks/s",
    "functions.codec.decode_blocks_per_s": "blocks/s",
    "index.catalog.save_s": "s",
    "index.catalog.load_s": "s",
    "index.catalog.bytes.postings": "bytes",
    "index.catalog.bytes.terms": "bytes",
    "index.catalog.bytes.norms": "bytes",
    "index.merge.append_s": "s",
    "index.merge.recache_s": "s",
    "index.deletes.delete_s": "s",
    "search.parse_s": "s",
    "search.term_stats_s": "s",
    "search.term_stats_miss_ratio": "ratio",
    "search.query_s": "s",
    "search.floor_s": "s",
    "search.kernel_s": "s",
    "search.blocks_read_per_query": "count",
    "search.spark_jobs_per_query": "count",
    "spark.tasks_per_job": "count",
    "spark.task_run_s": "s",
    "spark.task_skew": "ratio",
    "spark.input_records": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.cached_bytes": "bytes",
    "host.control_scan_s": "s",
    "trace.wall_s": "s",
    "trace.other_s": "s",
    "trace.query_p50_s": "s",
}


def host_env(run_dir: str) -> dict:
    """Cores from the CPU affinity mask (nproc), Spark scratch inside the
    checkout, the package on the Python workers' path."""
    cores = len(os.sched_getaffinity(0))
    local_dir = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh
                          if line.startswith("MemTotal")).split()[1])
    return {"cores": cores, "host_mem_gb": round(mem_kb / 2**20, 1),
            "driver_mem": DRIVER_MEM, "spark_local_dir": local_dir}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def control_scan(spark, cores: int) -> float:
    """bench.py's host control, without its input file: a fixed JVM-only
    scan + xxhash64 fold, no Python and no engine code."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(0, CONTROL_ROWS, 1, cores)
     .select(F.xxhash64("id").alias("h")).agg(F.expr("bit_xor(h)")).collect())
    return time.perf_counter() - t0


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def check_answers(run, oracle) -> int:
    """Compare every timed answer with the oracle; returns the failures.
    Ingest records carry the write-step ``state`` they were taken in."""
    from perfbench import checks, workloads
    n_delta = run.extra.get("delta_pages", 0)
    done = 0
    memo: dict = {}
    failed = 0
    for rec in sorted(run.queries, key=lambda r: r.get("state", 0)):
        if "error" in rec:
            print(rec["error"], file=sys.stderr)
            failed += 1
            continue
        state = rec.get("state", 0)
        while done < state:
            lo = run.n_pages + done * n_delta
            oracle.add_range(lo, lo + n_delta)
            done += 1
            memo.clear()
        key = (rec["text"], rec.get("deleted", ()))
        if key not in memo:
            memo[key] = oracle.top_k(rec["ast"], workloads.K,
                                     rec.get("deleted", ()))
        rec["ok"] = checks.same_answer(rec["got"], memo[key])
        failed += not rec["ok"]
    return failed


def end_to_end(run) -> dict:
    lat = [r["dt"] for r in run.queries]
    ops = {(r["t0"], r["dt"]) for r in run.queries}
    busy = sum(dt for _, dt in ops)
    return {
        "setup_s": (run.setup_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "queries_per_s": (len(lat) / busy, "1/s"),
    }


def percentile_with_tail(values: list[float]) -> tuple[str, float, int]:
    """The highest of p95/p90/p75/p50 (nearest rank) with at least ten
    samples beyond it: (name, value, samples beyond)."""
    v = sorted(values)
    for p in (95, 90, 75, 50):
        i = max(0, math.ceil(p / 100 * len(v)) - 1)
        if len(v) - 1 - i >= 10:
            return f"p{p}", v[i], len(v) - 1 - i
    return "max", v[-1], 0


def layer_metrics(ctx, run, control: float) -> tuple[dict, bool]:
    from perfbench import probes
    from perfbench.tracing import SELF_LAYERS
    tr = ctx.tracer
    t0, t1 = run.window
    self_t = tr.self_times(t0, t1)
    m = {metric: self_t.get(span, 0.0) for metric, span in SELF_LAYERS}
    m["trace.wall_s"] = t1 - t0
    m["trace.other_s"] = m["trace.wall_s"] - sum(
        m[metric] for metric, _ in SELF_LAYERS)
    m["trace.query_p50_s"] = statistics.median(r["dt"] for r in run.queries)
    merges = {s["id"] for s in tr.spans if s["name"] == "index.merge"}
    m["index.merge.recache_s"] = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["name"] == "index.builder.cache" and s["parent"] in merges)
    ts = [s for s in tr.spans if s["name"] == "search.term_stats"
          and t0 <= s["start"] <= t1]
    m["search.term_stats_miss_ratio"] = (
        sum(s["new_keys"] for s in ts) / max(1, sum(s["keys"] for s in ts)))
    timings = run.build_timings
    m["index.builder.invert_s"] = statistics.median(
        t["invert_sec"] for t in timings)
    m["index.builder.dict_norms_stats_s"] = statistics.median(
        t["dict_norms_stats_sec"] for t in timings)
    m["index.builder.postings_rows"] = float(run.index.postings.count())
    m["index.builder.terms"] = float(run.index.terms.count())
    for table, n in run.extra["gen_bytes"].items():
        m[f"index.catalog.bytes.{table}"] = float(n)
    m.update(probes.search_probe(ctx, run))
    codec_m, codec_ok = probes.codec_replay(run)
    m.update(codec_m)
    m.update(probes.analysis_probe(ctx))
    m.update(probes.spark_metrics(ctx, run))
    m["host.control_scan_s"] = control
    return m, codec_ok


def set_child_subreaper() -> bool:
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def child_pids() -> list[int]:
    """Live or unreaped processes whose parent is this process."""
    me, pids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(name))
    return pids


def reap_all() -> None:
    """Wait for every descendant to end: GRACE_S to end alone, then
    SIGTERM, then SIGKILL. A killed process's own children are
    re-parented here and handled by the next round."""
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = child_pids()
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (None if waited < GRACE_S else
               signal.SIGTERM if waited < 2 * GRACE_S else signal.SIGKILL)
        for pid in kids if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv) -> int:
    """Run the benchmark in a child; then stop and reap what it left."""
    if not set_child_subreaper():
        print("prctl(PR_SET_CHILD_SUBREAPER) failed; processes the run "
              "leaves behind cannot be reaped", file=sys.stderr)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                              *argv], env={**os.environ, CHILD_ENV: "1"})
    code = 1
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # reaping is bounded
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_all()
    return code


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    return bench(argv)


def bench(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="corpus size (default: per workload; the small "
                         "mode of the tests uses a few thousand)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")):
        print(f"lucene_solr_spark not found under {ROOT}", file=sys.stderr)
        return 2
    pages = args.pages or PAGES[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    host = host_env(run_dir)
    sys.path.insert(0, ROOT)

    from perfbench import checks, probes, workloads
    from perfbench.tracing import Tracer
    from lucene_solr_spark.index import check as index_check
    from lucene_solr_spark.session import get_spark

    phases = {"start": time.perf_counter()}
    ticks0 = cpu_ticks()
    oracle = checks.Oracle(args.seed, pages).start()
    spark = get_spark("perfbench", cores=host["cores"])
    gateway = spark.sparkContext._gateway
    run = None
    try:
        tracer = Tracer(run_id, bool(args.trace), spark.sparkContext)
        tracer.install()
        phases["spark"] = time.perf_counter()
        controls = [control_scan(spark, host["cores"])]  # also warms the JVM
        ctx = Ctx(spark=spark, cores=host["cores"], seed=args.seed,
                  seconds=args.seconds, pages=pages, tracer=tracer,
                  run_dir=run_dir, oracle=oracle)
        run = workloads.WORKLOADS[args.workload](ctx)
        if args.trace and args.workload != "ingest":
            probes.write_probe(ctx, run)
            run.window = (run.window[0], time.perf_counter())
        phases["workload"] = time.perf_counter()
        phases["setup_start"] = run.window[0]

        controls += [control_scan(spark, host["cores"]) for _ in range(2)]
        control = statistics.median(controls[1:])

        # untimed answer checks
        failed = check_answers(run, oracle)
        attempted = len(run.queries) + len(run.writes)
        # CheckIndex-style invariants of the index that answered last
        # (ingest: the generation loaded back from disk)
        index_ok = bool(index_check.check_index(run.index)["ok"])
        attempted += 1
        failed += not index_ok
        phases["checks"] = time.perf_counter()
        ticks1 = cpu_ticks()
        e2e = end_to_end(run)
        tail = percentile_with_tail([r["dt"] for r in run.queries])
        report = {
            "workload": args.workload, "seed": args.seed, "pages": pages,
            "seconds": args.seconds, "trace": args.trace, **host,
            "host.control_scan_s": control,
            "host.steal_frac": ((ticks1[0] - ticks0[0])
                                / max(1, ticks1[1] - ticks0[1])),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                        e2e.items()},
            f"query_{tail[0]}_s": tail[1], "samples_beyond_tail": tail[2],
            "build_docs_per_s": run.build_docs_per_s,
            "queries": len(run.queries), "error_frac": failed / attempted,
            "check_index_ok": index_ok,
            "phases_s": {k: round(phases[k] - phases["start"], 2)
                         for k in phases},
        }
        if args.workload == "ingest":
            gen_bytes = sum(run.extra["gen_bytes"].values())
            report.update({
                "append_docs_per_s": run.extra["append_docs_per_s"],
                "delete_s": run.extra["delete_s"],
                "save_s": run.extra["save_s"],
                "index_bytes_per_input_byte": gen_bytes / oracle.base_bytes,
                "write_steps": run.extra["steps"],
            })
        codec_ok = True
        if args.trace:
            metrics, codec_ok = layer_metrics(ctx, run, control)
            metrics = {k: {"value": float(metrics[k]), "unit": u}
                       for k, u in LAYER_UNITS.items()}
            tracer.write(os.path.join(run_dir, "spans.jsonl"))
        else:
            metrics = report["metrics"]
        with open(os.path.join(run_dir, "querylog.jsonl"), "w") as fh:
            for r in run.queries:
                fh.write(json.dumps({k: r.get(k) for k in (
                    "text", "shape", "state", "batch", "dt", "ok")}) + "\n")
        result = {"correct": failed == 0 and index_ok and codec_ok,
                  "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        with open(os.path.join(run_dir, "result.json"), "w") as fh:
            json.dump({"report": report, "result": result}, fh, indent=1)
        print(json.dumps({"report": report}))
        print(json.dumps(result))
        return 0
    finally:
        oracle.close()
        if run is not None:
            workloads.cleanup(run)
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
