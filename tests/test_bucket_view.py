"""The batch kernel builds ONE `_BucketData` view per bucket and scores
every spec of the batch from it: pinned in-process (no Spark) on a
hand-built, bucket-sorted postings frame.

- one view per bucket, however many specs the batch holds
- each spec's hits from a many-spec run equal a one-spec run and an
  unpruned one-spec run, in top-k and exhaustive mode, whether the rows
  arrive in one frame or one row per frame (the tail-bucket carry
  across Arrow batches)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.functions import bm25, codec
from lucene_solr_spark.search import executor
from lucene_solr_spark.search.ast import (BooleanQuery, Clause,
                                          DisjunctionMaxQuery, Occur,
                                          PhraseQuery, TermQuery)

GRID = 64
N_BUCKETS = 3
BLOCK = 4           # small blocks: several per key, so per-block skipping runs
TERMS = ("a", "b", "c", "d")
K = 3


def _corpus():
    """doc → token list; "a" is a head term, the rest thin out."""
    rng = np.random.default_rng(7)
    docs = {}
    for doc in range(GRID * N_BUCKETS):
        if rng.random() < 0.2:
            continue                    # holes: not every slot is a doc
        p = np.array([0.55, 0.25, 0.15, 0.05])
        docs[doc] = list(rng.choice(TERMS, size=rng.integers(1, 12), p=p))
    return docs


def _bucket_frame(docs) -> pd.DataFrame:
    """Postings rows as the index stores them, sorted by (bucket, field,
    term, block): Δ-coded doc/freq blobs, norm bytes, per-doc VByte
    position streams, and per-block impacts (every (freq, norm) pair —
    a superset of the skyline, still a valid bound)."""
    rows = []
    for bucket in range(N_BUCKETS):
        for term in sorted(TERMS):
            post = []
            for doc in range(bucket * GRID, (bucket + 1) * GRID):
                toks = docs.get(doc)
                if toks is None or term not in toks:
                    continue
                pos = [i for i, t in enumerate(toks) if t == term]
                post.append((doc, len(pos), len(toks), pos))
            for s in range(0, len(post), BLOCK):
                blk = post[s:s + BLOCK]
                d = np.array([p[0] for p in blk], dtype=np.int64)
                f = np.array([p[1] for p in blk], dtype=np.int64)
                n = np.array([p[2] for p in blk], dtype=np.int64)
                doc_blob, freq_blob = codec.encode_block_payloads(
                    d, f, int(d[0]) - 1)
                pos_blob = b"".join(
                    codec.vbyte_encode(np.diff([0] + p[3])) for p in blk)
                rows.append(dict(
                    field="text", term=term, bucket=bucket,
                    block_id=int(d[0]), doc_count=len(blk),
                    last_doc=int(d[-1]), doc_blob=doc_blob,
                    freq_blob=freq_blob,
                    norm_blob=n.astype(np.uint8).tobytes(),
                    imp_freqs=f.tolist(), imp_norms=n.tolist(),
                    pos_blob=pos_blob))
    return pd.DataFrame(rows)


def _spec(query, collect_all=False, tree=False):
    """A kernel spec with fixed statistics (idf 1.5 for every term)."""
    st = {("text", t): (10, 20) for t in TERMS}
    weights = {key: {"idf32": 1.5, "idf64": 1.5} for key in st}
    common = dict(
        deleted=None,
        cache32={"text": bm25.norm_inverse_cache(np.float32(6.0), 1.2, 0.75)},
        avgdl64={"text": 6.0}, k1=1.2, b=0.75, sim="bm25", grid=GRID,
        mode="f32", k=K, collect_all=collect_all, prune=not collect_all,
        with_positions=True)
    if tree:
        root = executor._annotate_tree(executor.build_tree(query), st,
                                       weights)
        return dict(common, tree=root)
    plan = executor._flat_plan(query)
    ann = [executor._annotate_leaf(c, st, weights) for c in plan["clauses"]]
    mn = [executor._annotate_leaf(c, st, weights) for c in plan["must_not"]]
    return dict(common, clauses=ann, must_not=mn, msm=plan["msm"],
                n_groups=plan["n_groups"])


def _t(x):
    return TermQuery(x)


# every query shares "a" with the others; "term" comes first so that
# later specs need "a" blocks that it skips
QUERIES = [
    ("term", _t("a")),
    ("or", BooleanQuery((Clause(Occur.SHOULD, _t("a")),
                         Clause(Occur.SHOULD, _t("b"))))),
    ("and", BooleanQuery((Clause(Occur.MUST, _t("a")),
                          Clause(Occur.MUST, _t("c"))))),
    ("and_rare", BooleanQuery((Clause(Occur.MUST, _t("a")),
                               Clause(Occur.MUST, _t("d"))))),
    ("phrase", PhraseQuery(("a", "b"))),
    ("not", BooleanQuery((Clause(Occur.SHOULD, _t("a")),
                          Clause(Occur.MUST_NOT, _t("d"))))),
    ("dismax", DisjunctionMaxQuery((_t("a"), _t("c")), tie_breaker=0.1)),
]
TREE = BooleanQuery((
    Clause(Occur.SHOULD, BooleanQuery((Clause(Occur.MUST, _t("a")),
                                       Clause(Occur.MUST, _t("b"))))),
    Clause(Occur.SHOULD, BooleanQuery((Clause(Occur.MUST, _t("c")),
                                       Clause(Occur.MUST_NOT, _t("a"))))),
))


@pytest.fixture(scope="module")
def frame():
    return _bucket_frame(_corpus())


def _specs(collect_all):
    return ([_spec(q, collect_all) for _, q in QUERIES]
            + [_spec(TREE, collect_all, tree=True)])


def _hits(frames):
    if not frames:
        return []
    pdf = pd.concat(frames, ignore_index=True)
    return sorted(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def _by_query(frames, n):
    out = {qi: [] for qi in range(n)}
    for f in frames:
        for qi, sub in f.groupby("query_id"):
            out[int(qi)].append(sub[["doc_id", "score"]])
    return {qi: _hits(fs) for qi, fs in out.items()}


def test_frame_shape(frame):
    """The fixture exercises what the kernel must handle: several
    buckets, several blocks per key, and a phrase that matches."""
    assert frame["bucket"].nunique() == N_BUCKETS
    assert frame.groupby(["bucket", "term"]).size().max() > 1
    assert _hits(list(executor._bucket_kernel(
        [frame], _spec(PhraseQuery(("a", "b")), collect_all=True))))


@pytest.mark.parametrize("collect_all", [False, True])
def test_one_view_per_bucket(frame, monkeypatch, collect_all):
    built = []

    class Counting(executor._BucketData):
        def __init__(self, grp, grid):
            built.append(int(grp["bucket"].iat[0]))
            super().__init__(grp, grid)

    monkeypatch.setattr(executor, "_BucketData", Counting)
    specs = _specs(collect_all)
    list(executor._bucket_kernel_multi([frame], specs))
    assert sorted(built) == list(range(N_BUCKETS))


@pytest.mark.parametrize("collect_all", [False, True])
@pytest.mark.parametrize("rows_per_frame", [1, 10000])
def test_many_specs_equal_one_spec_runs(frame, collect_all, rows_per_frame):
    specs = _specs(collect_all)
    frames = [frame.iloc[i:i + rows_per_frame]
              for i in range(0, len(frame), rows_per_frame)]
    many = _by_query(list(executor._bucket_kernel_multi(frames, specs)),
                     len(specs))
    for qi, spec in enumerate(specs):
        one = _hits(list(executor._bucket_kernel([frame], spec)))
        unpruned = _hits(list(executor._bucket_kernel(
            [frame], dict(spec, prune=False))))
        assert one, qi
        assert many[qi] == one == unpruned, qi
    if not collect_all:
        assert all(len(h) <= K for h in many.values())


@pytest.mark.parametrize("rows_per_frame", [1, 10000])
def test_exhaustive_run_covers_every_posting(rows_per_frame):
    """Against the corpus itself: no bucket is lost, whatever the frame
    size (the last bucket of a partition only ever arrives as the carried
    tail)."""
    docs = _corpus()
    frame = _bucket_frame(docs)
    frames = [frame.iloc[i:i + rows_per_frame]
              for i in range(0, len(frame), rows_per_frame)]
    got = _hits(list(executor._bucket_kernel(
        frames, _spec(_t("d"), collect_all=True))))
    assert [d for d, _ in got] == sorted(d for d, toks in docs.items()
                                         if "d" in toks)


@pytest.mark.parametrize("sim,dtype", [("bm25", np.float32),
                                       ("bm25", np.float64),
                                       ("sweetspot", np.float64)])
def test_block_max_impacts_equals_per_block_loop(sim, dtype):
    """The vectorized per-block bound equals a per-block loop over the
    same arithmetic, empty impact lists included."""
    rng = np.random.default_rng(3)
    blocks = [(rng.integers(1, 9, n).tolist(), rng.integers(1, 40, n).tolist())
              for n in (3, 0, 1, 5, 0, 2)]
    spec = dict(_spec(_t("a")), sim=sim, ss=(2.0, 8.0, 0.5, 1.0, 2.0))
    w = np.float32(1.7) if dtype is np.float32 else 1.7
    lens = np.array([len(f) for f, _ in blocks])
    imp = (np.array([x for f, _ in blocks for x in f], dtype=np.int64),
           np.array([x for _, n in blocks for x in n], dtype=np.int64),
           np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
    got = executor._block_max_impacts(imp, w, "text", spec, dtype)
    want = []
    for f, n in blocks:
        if not f:
            want.append(0.0)
        elif sim == "sweetspot":
            fa = np.asarray(f, dtype=np.float64)
            want.append(float(np.max(w * np.where(
                fa <= 2.0, 1.0, np.sqrt(fa + 1.0 - 2.0)))))
        else:
            want.append(float(np.max(executor._score_freqs(
                np.asarray(f), np.asarray(n), w, "text", spec, dtype))))
    assert got.tolist() == want
