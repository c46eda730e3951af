"""Seeded inputs and float64 ground truth, computed apart from the engine.

The same seed gives the same corpus, queries and document batches; the
engine only ever sees the generated values.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def clustered(rng: np.random.Generator, centers: np.ndarray, n: int, spread: float) -> np.ndarray:
    """``n`` float32 points scattered around randomly chosen ``centers``."""
    pick = rng.integers(0, len(centers), n)
    noise = rng.standard_normal((n, centers.shape[1])).astype(np.float32)
    return (centers[pick] + np.float32(spread) * noise).astype(np.float32)


def centers(rng: np.random.Generator, n_clusters: int, dim: int) -> np.ndarray:
    return rng.standard_normal((n_clusters, dim)).astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    """(id BIGINT, vec ARRAY<FLOAT>) parquet — the engine's table input."""
    vec = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), x.shape[1])
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "vec": vec.cast(pa.list_(pa.float32()))}),
        path,
    )


class Corpus:
    """The live rows, ids ascending, with float64 copies for ground truth."""

    def __init__(self, ids: np.ndarray, x: np.ndarray):
        order = np.argsort(ids, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[order]
        self.x = np.ascontiguousarray(x[order], dtype=np.float32)
        self._x64 = self.x.astype(np.float64)
        self._n2 = (self._x64 * self._x64).sum(1)
        self._max_n2 = float(self._n2.max()) if len(self._n2) else 0.0

    def __len__(self) -> int:
        return len(self.ids)

    def kth(self, qs: np.ndarray, k: int, chunk: int = 64) -> np.ndarray:
        """Per query, the float64 squared-L2 distance of its k-th nearest
        live row (brute force, in chunks of queries)."""
        qs = np.atleast_2d(qs).astype(np.float64)
        out = np.empty(len(qs))
        for s in range(0, len(qs), chunk):
            q = qs[s : s + chunk]
            d = (q * q).sum(1)[:, None] - 2.0 * (q @ self._x64.T) + self._n2[None, :]
            out[s : s + chunk] = np.partition(d, k - 1, axis=1)[:, k - 1]
        return np.maximum(out, 0.0)

    def exact(self, pos: np.ndarray, q: np.ndarray) -> np.ndarray:
        """float64 squared-L2 distances from ``q`` to the rows at ``pos``."""
        diff = self._x64[pos] - np.asarray(q, dtype=np.float64)[None, :]
        return (diff * diff).sum(1)

    def tol(self, q: np.ndarray) -> float:
        """Absolute tolerance for the engine's float32 squared-L2: its norm
        identity loses about float32 epsilon times the squared norms."""
        q64 = np.asarray(q, dtype=np.float64)
        return 1e-5 * (1.0 + float(q64 @ q64) + self._max_n2)

    def positions(self, ids: np.ndarray) -> np.ndarray:
        """Row positions of ``ids``; -1 where an id is not live."""
        pos = np.searchsorted(self.ids, ids)
        ok = pos < len(self.ids)
        ok[ok] = self.ids[pos[ok]] == ids[ok]
        return np.where(ok, pos, -1)


# ------------------------------------------------------------ documents
class DocGen:
    """Document batches with planted near-duplicate families.

    A family is one source document plus copies: exact duplicates and
    variants with one word replaced.  At 120 words a one-word change
    keeps word 3-shingle Jaccard at 0.95 or more to the source, well
    above the 0.8 verify threshold, while unrelated documents share
    almost no shingles, so the planted families are exactly the true
    clusters."""

    WORDS = 120
    VOCAB = 20000

    def __init__(self, rng: np.random.Generator, first_id: int):
        self.rng = rng
        self.next_id = first_id

    def _text(self, words: np.ndarray) -> str:
        return " ".join(f"w{int(w)}" for w in words)

    def batch(self, n_families: int, n_singletons: int):
        """Returns (rows [(doc_id, text)], {doc_id: family label}).  The
        label is the family's first doc id; a singleton is its own family.
        Rows are shuffled so that family members are not adjacent."""
        rows, family = [], {}
        for f in range(n_families + n_singletons):
            src = self.rng.integers(0, self.VOCAB, self.WORDS)
            members = [src]
            if f < n_families:
                for _ in range(int(self.rng.integers(1, 4))):
                    v = src.copy()
                    if self.rng.random() >= 0.25:  # else an exact copy
                        v[self.rng.integers(0, self.WORDS)] = self.rng.integers(0, self.VOCAB)
                    members.append(v)
            label = self.next_id
            for words in members:
                rows.append((self.next_id, self._text(words)))
                family[self.next_id] = label
                self.next_id += 1
        order = self.rng.permutation(len(rows))
        return [rows[i] for i in order], family
