"""Spans recorded from outside the engine, around calls to its public API.

A traced run wraps each public function listed in ``WRAPPED`` so that every
call — from the benchmark or from inside the engine (``merge.append`` calls
``IndexBuilder.build``; ``Searcher.top_k`` calls ``Searcher.term_stats``) —
records a span: id, parent, name, start, end and the run id. Spans stay in
memory and are written once, at exit.

Each span also owns a Spark job group, so the jobs a call launched can be
listed afterwards from ``statusTracker`` and attributed to that call alone
(a nested call's jobs go to the nested span).

An untraced run installs no wrappers; ``Tracer.span`` is then a no-op, so
the end-to-end figures are measured without any tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import weakref

# (layer span name, module path, attribute path) of every wrapped call.
WRAPPED = [
    ("search.parse", "lucene_solr_spark.search", "parse_query"),
    ("search.query", "lucene_solr_spark.search.executor", "Searcher.top_k"),
    ("search.query", "lucene_solr_spark.search.executor",
     "Searcher.top_k_many"),
    ("search.term_stats", "lucene_solr_spark.search.executor",
     "Searcher.term_stats"),
    ("index.builder.build", "lucene_solr_spark.index.builder",
     "IndexBuilder.build"),
    ("index.builder.cache", "lucene_solr_spark.index.builder",
     "InvertedIndex.cache"),
    ("index.catalog.save", "lucene_solr_spark.index.catalog", "save"),
    ("index.catalog.load", "lucene_solr_spark.index.catalog", "load"),
    ("index.merge.append", "lucene_solr_spark.index.merge", "append"),
    ("index.deletes.delete_docs", "lucene_solr_spark.index.deletes",
     "delete_docs"),
]

# Layers whose self times, plus the remainder, add up to the traced wall.
SELF_LAYERS = [
    ("index.builder.build_s", "index.builder.build"),
    ("index.builder.pack_s", "index.builder.cache"),
    ("index.catalog.save_s", "index.catalog.save"),
    ("index.catalog.load_s", "index.catalog.load"),
    ("index.merge.append_s", "index.merge.append"),
    ("index.deletes.delete_s", "index.deletes.delete_docs"),
    ("search.parse_s", "search.parse"),
    ("search.term_stats_s", "search.term_stats"),
    ("search.query_s", "search.query"),
]


def _resolve(module: str, attr: str):
    import importlib
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, name


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span free."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_keys = weakref.WeakKeyDictionary()   # searcher -> keys

    # -- recording ------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "name": name, "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def group_id(self, rec: dict) -> str:
        return f"{self.run_id}:{rec['id']}"

    def _set_group(self, rec):
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group_id(rec), rec["name"])

    # -- wrapping the engine's public calls ------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for name, module, attr in WRAPPED:
            owner, fname = _resolve(module, attr)
            setattr(owner, fname, self._wrap(name, owner.__dict__[fname]))

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if name == "search.term_stats":
                    self._count_keys(rec, *args, **kwargs)
                return fn(*args, **kwargs)
        return traced

    def _count_keys(self, rec, searcher, keys, **_):
        """Keys requested and keys this searcher has never been asked for
        (the term-stats cache misses, counted from outside)."""
        seen = self._seen_keys.setdefault(searcher, set())
        rec["keys"] = len(keys)
        rec["new_keys"] = len(set(keys) - seen)
        seen.update(keys)

    # -- analysis ---------------------------------------------------------
    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """{span name: Σ self time} over spans inside [t0, t1]. A span's
        self time is its duration minus the time its child spans cover
        (calls are single-threaded, so children never overlap)."""
        out: dict[str, float] = {}
        inside = [s for s in self.spans
                  if s["start"] >= t0 and s.get("end", t1 + 1) <= t1]
        kids: dict[int, float] = {}
        for s in inside:
            if s["parent"] is not None:
                kids[s["parent"]] = (kids.get(s["parent"], 0.0)
                                     + s["end"] - s["start"])
        for s in inside:
            own = s["end"] - s["start"] - kids.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
