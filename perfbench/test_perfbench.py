"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The fast tests need no Spark. The end-to-end tests run each workload in
small mode (2,000 pages, 3 seconds) and check the output schema against
BENCHMARK.json and that every answer check passed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import querylog, run  # noqa: E402
from perfbench.tracing import SELF_LAYERS, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.PAGES)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_UNITS


def _terms(n=300):
    rng = np.random.default_rng(0)
    words = ["w" + "".join(rng.choice(list("abcdefgh"), 6)) for _ in range(n)]
    dfs = [int(1000 * 0.97 ** i) + 3 for i in range(n)]
    return list(zip(words, dfs))


def test_query_log_is_a_function_of_the_seed():
    bands = querylog.bands(_terms(), 2000)
    meas, warm = querylog.split_reserved(bands, 7)
    for b in bands:
        assert not set(meas[b]) & set(warm[b])
    a = querylog.make_log(meas, "interactive", 300, 7)
    b = querylog.make_log(meas, "interactive", 300, 7)
    c = querylog.make_log(meas, "interactive", 300, 8)
    assert a == b and a != c
    assert len({q["text"] for q in a}) == 200            # every 3rd repeats
    cycle = querylog.shape_cycle("interactive")
    assert set(cycle) == set(querylog.MIXES["interactive"]["shapes"])
    fresh = [q["shape"] for i, q in enumerate(c) if i % 3 != 2]
    assert fresh[:len(cycle)] == cycle                   # same shape order


def test_self_times_sum_to_the_wall():
    tr = Tracer("t", enabled=True)
    spans = [  # (id, parent, name, start, end)
        (0, None, "bench.measure", 0.0, 10.0),
        (1, 0, "search.query", 1.0, 4.0),
        (2, 1, "search.term_stats", 1.5, 2.5),
        (3, 0, "search.parse", 5.0, 5.5),
        (4, 0, "index.builder.build", 6.0, 9.0),
    ]
    tr.spans = [{"id": i, "parent": p, "name": n, "start": s, "end": e}
                for i, p, n, s, e in spans]
    st = tr.self_times(0.0, 10.0)
    assert st["search.query"] == pytest.approx(2.0)
    assert st["search.term_stats"] == pytest.approx(1.0)
    layers = sum(st.get(span, 0.0) for _, span in SELF_LAYERS)
    assert layers + st["bench.measure"] == pytest.approx(10.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    name, _, beyond = run.percentile_with_tail(list(range(40)))
    assert (name, beyond) == ("p75", 10)
    assert run.percentile_with_tail(list(range(300)))[0] == "p95"


def test_answer_check_catches_a_wrong_score():
    from perfbench import checks
    oracle = checks.Oracle(seed=3, n_base=300).start().join()
    try:
        _check_answers(oracle, checks)
    finally:
        oracle.close()


def _check_answers(oracle, checks):
    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.search import parse_query
    words = [w for w in checks.page_texts(3, 0, 1)[0].split()
             if w.isalpha() and len(w) > 3]
    q = parse_query(" ".join(words[:3]), ENGLISH_ANALYZER)
    exp = oracle.top_k(q, 10)
    assert exp
    got = pd.DataFrame({"rank": np.arange(1, len(exp) + 1),
                        "doc_id": [d for d, _ in exp],
                        "score": np.array([s for _, s in exp], np.float32)})
    assert checks.same_answer(got, exp)
    bad = got.copy()
    bad.loc[0, "score"] = np.nextafter(bad.loc[0, "score"], np.float32(0))
    assert not checks.same_answer(bad, exp)
    assert not checks.same_answer(got.iloc[::-1], exp)
    dead = exp[0][0]
    assert dead not in [d for d, _ in oracle.top_k(q, 10, deleted=(dead,))]


def _leftovers() -> list[int]:
    """Processes that carry the benchmark child's environment marker."""
    marker = f"{run.CHILD_ENV}=1".encode()
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except (OSError, NotADirectoryError):
            continue
        if marker in env:
            pids.append(int(name))
    return pids


def _run(args, cwd=ROOT, timeout=600):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args],
                       cwd=cwd, capture_output=True, text=True,
                       timeout=timeout)
    # every process the run started has ended by the time it exits
    assert _leftovers() == []
    return p


@pytest.mark.parametrize("workload,trace", [
    ("serve_interactive", 1), ("serve_batch", 0), ("ingest", 1)])
def test_small_mode_end_to_end(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "3",
              "--trace", str(trace), "--pages", "2000"])
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace:
        mt = {k: v["value"] for k, v in last["metrics"].items()}
        layers = sum(mt[name] for name, _ in SELF_LAYERS)
        assert layers + mt["trace.other_s"] == pytest.approx(
            mt["trace.wall_s"])
    else:
        assert all(v["value"] > 0 for v in last["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
