"""Reference answers the benchmark checks the engine's outputs against.

Vector results are checked against NumPy exact cosine search with the
engine's (distance, id) tie-break; BM25 and the registry gates against
their DuckDB SQL twins over the same parquet files. None of this runs
inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

from perfbench.harness import CheckFailed
from tests.oracle_harness import _normalize, duck_connect

SCORE_TOL = 1e-6


def unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def exact_topk(mat: np.ndarray, ids: np.ndarray, q, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k: ascending cosine distance, ties to the lower
    id. Returns (ids, scores) with score = 1 - distance / 2."""
    qv = np.asarray(q, dtype=np.float64)
    dist = 1.0 - unit_rows(mat) @ (qv / np.linalg.norm(qv))
    order = np.lexsort((ids, dist))[:k]
    return ids[order], 1.0 - dist[order] / 2.0


def probe_lists(centroids, q, n_probes: int) -> list[int]:
    """The IVF lists a query probes: the n_probes centroids of highest
    cosine similarity."""
    c = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(q, dtype=np.float64)
    sims = c @ qv / (np.linalg.norm(c, axis=1) * np.linalg.norm(qv) + 1e-12)
    return [int(i) for i in np.argsort(-sims)[:n_probes]]


def assign_lists(mat: np.ndarray, centroids) -> np.ndarray:
    """Nearest centroid by Euclidean distance, ties to the lower list."""
    c = np.asarray(centroids, dtype=np.float64)
    d = (mat ** 2).sum(1)[:, None] - 2.0 * mat @ c.T + (c ** 2).sum(1)[None, :]
    return d.argmin(axis=1)


def round6(x: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6 + 0.5) / 1e6


def mmr_reference(mat: np.ndarray, ids: np.ndarray, q, k: int, n_candidates: int, lam: float) -> list[int]:
    """Maximal marginal relevance over the exact top-n candidates:
    relevance is the 6-dp search score, the penalty the 6-dp (1 + cos)/2
    to the closest pick, ties to the lower id. Returns ids in pick order."""
    cand, score = exact_topk(mat, ids, q, n_candidates)
    rel6 = np.floor(np.asarray(score) * 1e6 + 0.5).astype(np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}
    vecs = unit_rows(mat[[pos[int(c)] for c in cand]])
    sims6 = np.floor((1.0 + vecs @ vecs.T) / 2.0 * 1e6 + 0.5).astype(np.int64)
    lam_ppm = int(round(lam * 1_000_000))
    picked: list[int] = []
    left = sorted(range(len(cand)), key=lambda i: cand[i])
    while left and len(picked) < k:
        def gain(i):
            penalty = max((sims6[i, j] for j in picked), default=0)
            return lam_ppm * rel6[i] - (1_000_000 - lam_ppm) * penalty
        best = max(left, key=lambda i: (gain(i), -cand[i]))
        picked.append(best)
        left.remove(best)
    return [int(cand[i]) for i in picked]


def expect_ids(got, want, what: str) -> None:
    got, want = [int(x) for x in got], [int(x) for x in want]
    if got != want:
        raise CheckFailed(f"{what}: ids {got} != expected {want}")


def expect_close(got, want, what: str) -> None:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    if got.shape != want.shape or not np.allclose(got, want, rtol=0, atol=SCORE_TOL):
        raise CheckFailed(f"{what}: {got.tolist()} != expected {want.tolist()}")


def expect_ranked(got_ids, got_scores, want_ids, want_scores, what: str) -> None:
    """Ranked ids must match, except that ids whose scores tie within
    the tolerance may swap places."""
    expect_close(got_scores, want_scores, f"{what} scores")
    g, w = [int(x) for x in got_ids], [int(x) for x in want_ids]
    ws = np.asarray(want_scores, dtype=np.float64)
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b and not np.any((np.abs(ws - ws[i]) <= SCORE_TOL) & (np.asarray(w) == a)):
            raise CheckFailed(f"{what}: ids {g} != expected {w}")


def normalize(pdf) -> list:
    """The oracle harness's comparison form of a pandas frame: the
    sorted column names, then the rows normalized and sorted by
    `tests/oracle_harness.py`, which ignores row and column order."""
    cols = list(pdf.columns)
    return [sorted(cols)] + _normalize(list(pdf.itertuples(index=False, name=None)), cols)


class OracleCache:
    """DuckDB answers of the registry oracles, stored on disk by the
    hash of the SQL text and of the tables' names and sizes, so each
    oracle runs once per checkout however many runs check against it."""

    def __init__(self, cache_dir: str, data_dir: str):
        self.cache_dir, self.data_dir = cache_dir, data_dir
        self.data_version = " ".join(f"{n}:{os.path.getsize(os.path.join(data_dir, n))}"
                                     for n in sorted(os.listdir(data_dir)))
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, sql: str) -> list:
        key = hashlib.sha256(f"{self.data_version}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return [tuple(r) if i else r for i, r in enumerate(json.load(fh))]
        if self._con is None:
            self._con = duck_connect(self.data_dir)
        rows = normalize(self._con.execute(sql).df())
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)
        os.replace(tmp, path)
        return rows

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def expect_oracle(pdf, expected: list, what: str) -> None:
    got = normalize(pdf)
    if got[0] != expected[0]:
        raise CheckFailed(f"{what}: columns {got[0]} != oracle {expected[0]}")
    if len(got) != len(expected):
        raise CheckFailed(f"{what}: {len(got) - 1} rows != oracle {len(expected) - 1}")
    if got != expected:
        bad = next(i for i, (a, b) in enumerate(zip(got, expected)) if a != b)
        raise CheckFailed(f"{what}: row {got[bad]} != oracle {expected[bad]}")
