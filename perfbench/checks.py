"""Answer checks against the pure-Python oracle (untimed).

Every timed top-10 — doc ids and float32 scores — is compared with
``OracleIndex.search_ast`` over the same pages. The oracle index lives in
a child process, built from the same pure generator
``corpus.generate_pages`` runs on the executors, while the Spark JVM
starts and the pages are generated; the benchmark waits for it before the
set-up timer starts, so it never competes with timed work.

Deletes hide documents without changing collection statistics (Lucene's
liveDocs semantics, which the engine follows), so a state with deletes is
answered by the oracle over every added page with the deleted ids
filtered out of a deeper top-k.
"""

from __future__ import annotations

import multiprocessing

import numpy as np

from lucene_solr_spark import corpus

JOIN_TIMEOUT_S = 600


def page_texts(seed: int, lo: int, hi: int) -> list[str]:
    """Texts of pages ``lo..hi-1`` exactly as ``generate_pages`` makes them."""
    rows = corpus._gen_rows(np.arange(lo, hi), seed, corpus._vocab(seed))
    return rows["text"].tolist()


def _serve(conn, seed: int, n_base: int) -> None:
    """Child process: build the oracle over [0, n_base), then answer."""
    from lucene_solr_spark.analysis.analyzer import ENGLISH_ANALYZER
    from lucene_solr_spark.oracle.pyoracle import OracleIndex
    index = OracleIndex(ENGLISH_ANALYZER)

    def add(lo, hi):
        n_bytes = 0
        for d, text in zip(range(lo, hi), page_texts(seed, lo, hi)):
            n_bytes += len(text.encode("utf-8"))
            index.add(d, text)
        return n_bytes

    conn.send(add(0, n_base))
    while True:
        msg = conn.recv()
        if msg[0] == "add":
            conn.send(add(msg[1], msg[2]))
        elif msg[0] == "top_k":
            _, query, k, deleted = msg
            dead = set(deleted)
            hits = index.search_ast(query, k=k + len(dead))
            conn.send([(int(d), np.float32(s)) for d, s in hits
                       if d not in dead][:k])
        else:
            conn.close()
            return


class Oracle:
    """Handle on the oracle process: pages [0, n_base), then ``add_range``."""

    def __init__(self, seed: int, n_base: int):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child, seed, n_base),
                                 daemon=True)
        self.base_bytes = 0        # UTF-8 text bytes of pages [0, n_base)
        self._ready = False

    def start(self) -> "Oracle":
        self._proc.start()
        return self

    def join(self) -> "Oracle":
        """Wait until the base oracle index is built."""
        if not self._ready:
            if not self._conn.poll(JOIN_TIMEOUT_S):
                raise TimeoutError("oracle process did not build its index")
            self.base_bytes = self._conn.recv()
            self._ready = True
        return self

    def add_range(self, lo: int, hi: int) -> int:
        """Add pages [lo, hi); returns their UTF-8 text bytes."""
        self._conn.send(("add", lo, hi))
        return self._conn.recv()

    def top_k(self, query, k: int, deleted=()) -> list[tuple[int, np.float32]]:
        self._conn.send(("top_k", query, k, tuple(deleted)))
        return self._conn.recv()

    def close(self) -> None:
        if self._proc.is_alive():
            self._conn.send(("stop",))
            self._proc.join(timeout=30)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
        self._conn.close()


def same_answer(got, expected) -> bool:
    """Engine result frame (rank, doc_id, score) == oracle [(doc, f32)]."""
    docs = [int(d) for d in got["doc_id"].tolist()]
    if docs != [int(d) for d, _ in expected]:
        return False
    g = np.asarray(got["score"].to_numpy(), dtype=np.float32)
    e = np.asarray([s for _, s in expected], dtype=np.float32)
    return bool(np.array_equal(g, e))
