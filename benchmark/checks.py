"""Output checks, run outside the timed region.

Reference results are computed with NumPy over the store snapshot the
checked call read (``DocumentStore.read_at`` at a time stamp taken just
before the call), so a check is exact up to floating-point ties: a
result is accepted when every returned document's similarity equals its
brute-force best-chunk similarity and the returned set is the brute-force
top-k set up to documents tied at the cut-off.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

EPS = 1e-9
ECHO_PREFIX = "This is an echo backend: "


@dataclass
class Snapshot:
    doc_keys: np.ndarray  # one entry per chunk
    vectors: np.ndarray  # (chunks, dim), L2-normalised

    @classmethod
    def read(cls, store, index_name: str, t_ns: int) -> "Snapshot":
        rows = store.read_at(t_ns, index_name).select("doc_key", "vector").collect()
        keys = np.array([r["doc_key"] for r in rows], dtype=object)
        vecs = np.array([r["vector"] for r in rows], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return cls(keys, vecs)

    def chunk_sims(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        return self.vectors @ (q / np.linalg.norm(q))

    def doc_best(self, sims: np.ndarray) -> dict[str, float]:
        best: dict[str, float] = {}
        for k, s in zip(self.doc_keys, sims):
            if s > best.get(k, -2.0):
                best[k] = float(s)
        return best


def _cutoff(sims: np.ndarray, limit: int) -> float:
    if len(sims) <= limit:
        return -2.0
    return float(np.partition(sims, len(sims) - limit)[len(sims) - limit])


def check_search(rows, qvec, snap: Snapshot, limit: int) -> str | None:
    """``rows``: [(doc_key, similarity)] as returned by ``search``."""
    sims = snap.chunk_sims(qvec)
    best = snap.doc_best(sims)
    cut = _cutoff(sims, limit)
    keys = [k for k, _ in rows]
    if len(set(keys)) != len(keys):
        return "duplicate doc_key in search result"
    if len(rows) > limit:
        return f"{len(rows)} results for limit {limit}"
    got = [s for _, s in rows]
    if any(a < b - EPS for a, b in zip(got, got[1:])):
        return "search result not sorted by similarity"
    for k, s in rows:
        if k not in best:
            return f"{k} is not in the snapshot"
        if abs(best[k] - s) > 1e-6:
            return f"{k}: similarity {s} != brute-force {best[k]}"
        if best[k] < cut - 1e-6:
            return f"{k} is below the brute-force top-{limit} cut-off"
    must = {k for k, s in best.items() if s > cut + 1e-6}
    if not must <= set(keys):
        return f"missing brute-force hits {sorted(must - set(keys))[:3]}"
    return None


def check_batch_sources(sources, qvec, snap: Snapshot, limit: int) -> str | None:
    """``batch_query`` ranks chunks, so its sources may repeat a page; it
    must hold exactly the pages of the brute-force top-``limit`` chunks."""
    sims = snap.chunk_sims(qvec)
    best = snap.doc_best(sims)
    cut = _cutoff(sims, limit)
    if len(sources) != min(limit, len(sims)):
        return f"{len(sources)} sources for limit {limit}"
    for k in sources:
        if best.get(k, -2.0) < cut - 1e-6:
            return f"source {k} is below the brute-force cut-off"
    must = {k for k, s in best.items() if s > cut + 1e-6}
    if not must <= set(sources):
        return f"missing brute-force sources {sorted(must - set(sources))[:3]}"
    return None


def check_find_similar(rows, key: str) -> str | None:
    keys = [k for k, _ in rows]
    if key in keys:
        return "find_similar returned the probe itself"
    if len(set(keys)) != len(keys):
        return "duplicate doc_key in find_similar result"
    got = [s for _, s in rows]
    if any(a < b - EPS for a, b in zip(got, got[1:])):
        return "find_similar result not sorted by similarity"
    return None


def check_query(resp, query: str, qvec, snap: Snapshot, limit: int) -> str | None:
    """RAG answers with the echo of the query and cites the search top-k
    pages, best first."""
    if resp.response != ECHO_PREFIX + query:
        return "RAG response is not the echo of the query"
    best = snap.doc_best(snap.chunk_sims(qvec))
    return check_search(
        [(k, best.get(k, -2.0)) for k in resp.sources], qvec, snap, limit
    )


def check_mmr(rows, qvec, snap: Snapshot, limit: int) -> str | None:
    """MMR picks ``limit`` distinct pages and reports their true
    best-chunk similarity (which pages it picks is its own policy)."""
    best = snap.doc_best(snap.chunk_sims(qvec))
    keys = [k for k, _ in rows]
    if len(set(keys)) != len(keys) or len(keys) != min(limit, len(best)):
        return f"{len(keys)} distinct pages for limit {limit}"
    bad = [k for k, s in rows if abs(best.get(k, 9.0) - s) > 1e-6]
    return f"{bad[:3]} similarities differ" if bad else None


def check_batch_row(row, query: str, qvec, snap: Snapshot, limit: int) -> str | None:
    if row["response"] != ECHO_PREFIX + query:
        return "batch RAG response is not the echo of the query"
    return check_batch_sources(list(row["sources"]), qvec, snap, limit)
