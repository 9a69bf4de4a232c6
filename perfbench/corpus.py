"""Seeded inputs for the facade workloads, and the numpy oracle that checks them.

Everything here is independent of the package under test: ids, embeddings of
query text, filter semantics and exact top-k are recomputed from the generated
inputs with the standard library and numpy only.
"""

from __future__ import annotations

import hashlib
import json
import struct
import uuid

import numpy as np

DIM = 64
VOCAB = [f"w{i:03d}" for i in range(300)]
CATEGORIES = 20
# Distances are compared within this tolerance: Spark folds the cosine sum in
# a different order than numpy, so results agree to ~1e-12; the facade's
# batch path rounds to 6 decimals.
TOL = 2e-6


def content_id(meta: dict) -> str:
    """Content id of a metadata dict: uuid5 of its canonical JSON."""
    return str(uuid.uuid5(uuid.NAMESPACE_DNS, json.dumps(meta, sort_keys=True)))


def hashing_embed(text: str, dim: int = DIM) -> np.ndarray:
    """Twin of the hashing embedder (md5-seeded unit vector), so the oracle
    embeds query text without calling into the package."""
    out = np.empty(dim, dtype=np.float64)
    for i in range(0, dim, 4):
        h = hashlib.md5(f"{text}|{i // 4}".encode()).digest()
        vals = struct.unpack(">4i", h[:16])
        for j, v in enumerate(vals[: min(4, dim - i)]):
            out[i + j] = v / 2**31
    norm = np.linalg.norm(out)
    return (out / norm if norm else out).astype(np.float32)


def make_doc(rng: np.random.Generator, doc: int) -> dict:
    return {
        "doc": int(doc),
        "category": int(rng.integers(0, CATEGORIES)),
        "price": round(float(rng.uniform(0.0, 100.0)), 2),
        "text": " ".join(rng.choice(VOCAB, 6)),
    }


class Corpus:
    """A table's content as the oracle models it: ids, metadata dicts and
    float32 embeddings, row-aligned."""

    def __init__(self, ids: list[str], metas: list[dict], vecs: np.ndarray) -> None:
        self.ids = list(ids)
        self.metas = list(metas)
        self.vecs = np.asarray(vecs, dtype=np.float32)
        self._index = {i: n for n, i in enumerate(self.ids)}
        self._id_array = np.array(self.ids, dtype=str)
        v = self.vecs.astype(np.float64)
        self._unit = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)

    def __len__(self) -> int:
        return len(self.ids)

    def row(self, id_: str) -> int | None:
        return self._index.get(id_)

    def distances(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        q = q / (np.linalg.norm(q) or 1.0)
        return 1.0 - self._unit @ q

    def mask(self, filters: dict | None) -> np.ndarray:
        if not filters:
            return np.ones(len(self), dtype=bool)
        return np.array([matches(m, filters) for m in self.metas], dtype=bool)

    def topk(self, qvec, k: int, filters: dict | None = None) -> list[tuple[str, float]]:
        """Exact top-k by cosine distance, ties broken by id."""
        d = self.distances(qvec)
        rows = np.flatnonzero(self.mask(filters))
        order = rows[np.lexsort((self._id_array[rows], d[rows]))]
        return [(self.ids[r], float(d[r])) for r in order[: k + 1]]


def user_bytes(metas: list[dict]) -> int:
    """Bytes a user stored: metadata JSON plus 4 bytes per dimension."""
    return sum(len(json.dumps(m)) + 4 * DIM for m in metas)


def matches(meta: dict, filters: dict) -> bool:
    """The filter DSL subset the workloads use: scalar equality,
    ``(op, v)`` comparisons, ``("between", (lo, hi))``, ``("in", [...])``
    and ``$or``."""
    for key, want in filters.items():
        if key == "$or":
            if not any(matches(meta, f) for f in want):
                return False
            continue
        have = meta.get(key)
        if have is None:
            return False
        if isinstance(want, tuple):
            op, v = want
            if op == "between":
                ok = v[0] <= have <= v[1]
            elif op == "in":
                ok = have in v
            else:
                ok = {"<": have < v, "<=": have <= v, ">": have > v, ">=": have >= v}[op]
            if not ok:
                return False
        elif have != want:
            return False
    return True


def serve_corpus(seed: int, n: int, clusters: int = 32) -> Corpus:
    """Clustered dim-64 vectors (gaussian blobs) with JSON metadata."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.normal(size=(clusters, DIM))
    labels = rng.integers(0, clusters, n)
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n, DIM))).astype(np.float32)
    metas = [make_doc(rng, i) for i in range(n)]
    return Corpus([content_id(m) for m in metas], metas, vecs)


def write_parquet(corpus: Corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "id": corpus.ids,
            "metadata": [json.dumps(m, sort_keys=True) for m in corpus.metas],
            "embedding": pa.array(list(corpus.vecs), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)
