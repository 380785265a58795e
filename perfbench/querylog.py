"""Seeded query logs drawn from an index's own terms table.

Terms fall in three document-frequency bands, as a share of the indexed
documents:

- head: df >= 5%. Long posting lists; block-max pruning and block decode
  matter most here.
- mid: 0.5% <= df < 5%. A few blocks per grid cell.
- rare: 3 <= df < 0.5%. Mostly one short block; the per-query Spark job
  floor is nearly all of the latency.

Query shapes and why each is in the log:

- term: the cheapest query; measures the floor.
- or2, or3: disjunctions, where block-max WAND-style pruning can skip.
- and2, and3: conjunctions; skipping decided by the rarest clause.
- phrase, sloppy: positions decode (head terms, so phrases do match).
- nested, deep: the tree planner and evaluator instead of the flat plan.
- not: a MUST_NOT clause, the prohibited-set path.
- wide_or: seven head/mid terms; the kernel's heaviest decode + scoring.

Every run issues the shapes in the same weighted order, and every third
query repeats an earlier one, Zipf-weighted toward the first issued, so
popular queries repeat (and hit the Searcher's term-stats cache) while
the rest do not. The seed picks the terms and which queries repeat; fixing
the shape order and the repeat rate keeps runs of different seeds
comparable. Warm-up queries are drawn from terms reserved away from the
measured log, so warming the engine leaves the term-stats cache cold for
every measured key.
"""

from __future__ import annotations

import re

import numpy as np

_WORD = re.compile(r"^[a-z][a-z0-9]{2,}$")

SHAPES = {
    # name: (number of terms, template)
    "term": (1, "{0}"),
    "or2": (2, "{0} {1}"),
    "or3": (3, "{0} {1} {2}"),
    "and2": (2, "{0} AND {1}"),
    "and3": (3, "{0} AND {1} AND {2}"),
    "phrase": (2, '"{0} {1}"'),
    "sloppy": (2, '"{0} {1}"~2'),
    "nested": (3, "({0} OR {1}) AND {2}"),
    "deep": (4, "({0} AND {1}) OR ({2} AND {3})"),
    "not": (2, "{0} NOT {1}"),
    "wide_or": (7, "{0} {1} {2} {3} {4} {5} {6}"),
}

# Mixes: shape weights and per-term band weights (head, mid, rare).
# Phrases always draw head terms so that they match.
MIXES = {
    "interactive": {
        "shapes": {"term": 3, "or2": 2, "or3": 1, "and2": 2, "and3": 1,
                   "phrase": 1, "sloppy": 1, "nested": 1, "deep": 1,
                   "not": 1, "wide_or": 1},
        "bands": (0.35, 0.4, 0.25),
    },
    "batch": {
        "shapes": {"or2": 2, "or3": 2, "wide_or": 2, "and2": 2, "and3": 1,
                   "phrase": 2, "term": 1},
        "bands": (0.7, 0.25, 0.05),
    },
}


def bands(terms: list[tuple[str, int]], n_docs: int) -> dict[str, list[str]]:
    """Split (term, df) pairs into head / mid / rare, in a fixed order."""
    out = {"head": [], "mid": [], "rare": []}
    for term, df in sorted(terms):
        if not _WORD.match(term):
            continue
        share = df / n_docs
        if share >= 0.05:
            out["head"].append(term)
        elif share >= 0.005:
            out["mid"].append(term)
        elif df >= 3:
            out["rare"].append(term)
    for name, ts in out.items():
        if len(ts) < 16:
            raise ValueError(f"{name} band has only {len(ts)} terms")
    return out


def split_reserved(bnds: dict[str, list[str]], seed: int):
    """(measured bands, warm-up bands): a disjoint fifth of every band is
    reserved for warm-up queries."""
    rng = np.random.default_rng([seed, 1])
    meas, warm = {}, {}
    for name, ts in bnds.items():
        perm = [ts[i] for i in rng.permutation(len(ts))]
        cut = max(4, len(perm) // 5)
        warm[name], meas[name] = perm[:cut], perm[cut:]
    return meas, warm


def shape_cycle(mix_name: str) -> list[str]:
    """One period of a smooth weighted round-robin over the mix's shapes:
    every run issues the shapes in the same order and proportions."""
    weights = MIXES[mix_name]["shapes"]
    total = sum(weights.values())
    current = dict.fromkeys(weights, 0)
    out = []
    for _ in range(total):
        for name, w in weights.items():
            current[name] += w
        best = max(current, key=current.get)
        current[best] -= total
        out.append(best)
    return out


def _new_query(rng, bnds, mix, shape):
    n, template = SHAPES[shape]
    picked: list[str] = []
    while len(picked) < n:
        if shape in ("phrase", "sloppy"):
            band = "head"
        else:
            band = ("head", "mid", "rare")[rng.choice(3, p=mix["bands"])]
        t = bnds[band][rng.integers(len(bnds[band]))]
        if t not in picked:
            picked.append(t)
    return {"shape": shape, "text": template.format(*picked),
            "terms": picked}


def make_log(bnds, mix_name: str, length: int, seed: int, salt: int = 0,
             repeat_every: int | None = 3) -> list[dict]:
    """``length`` queries. Shapes follow ``shape_cycle``; terms are drawn
    from the seed. Every ``repeat_every``-th query repeats an earlier one,
    chosen Zipf-style (P(j-th issued) ∝ 1/j), so popular queries repeat;
    all others are new. ``repeat_every=None``: no repeats."""
    rng = np.random.default_rng([seed, 2, salt])
    mix = MIXES[mix_name]
    cycle = shape_cycle(mix_name)
    issued: list[dict] = []
    seen: set[str] = set()
    out = []
    for i in range(length):
        if repeat_every and issued and i % repeat_every == repeat_every - 1:
            p = 1.0 / np.arange(1, len(issued) + 1)
            out.append(issued[rng.choice(len(issued), p=p / p.sum())])
            continue
        shape = cycle[len(issued) % len(cycle)]
        q = _new_query(rng, bnds, mix, shape)
        while q["text"] in seen:
            q = _new_query(rng, bnds, mix, shape)
        seen.add(q["text"])
        issued.append(q)
        out.append(q)
    return out
