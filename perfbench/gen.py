"""Seeded input generator: everything the benchmark feeds the program comes
from here, so the same seed gives the same corpus, batches and queries.

Rows have the shape ``(id bigint, vector array<float>, doc string, cat int)``:
64-d float32 vectors drawn around Gaussian cluster centres, ~40-word texts
drawn Zipf-style from a frozen vocabulary, and a small-cardinality ``cat``
filter column.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64
N_CLUSTERS = 32
N_CATS = 8
DOC_WORDS = 40

#: the distinct words of the repo's fixture corpus (documents.parquet), frozen
#: here so the benchmark reads nothing outside its own files
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()


def _zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class Generator:
    """All randomness of one run, derived from ``seed``."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centres = self.rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
        # a per-seed word ranking, so df differs between seeds
        self.words = [VOCAB[i] for i in self.rng.permutation(len(VOCAB))]
        self.word_p = _zipf_weights(len(self.words))

    def rows(self, start_id: int, n: int) -> dict[str, np.ndarray]:
        """``n`` rows with ids ``start_id .. start_id + n - 1``."""
        rng = self.rng
        cl = rng.integers(0, N_CLUSTERS, n)
        vec = (self.centres[cl] + rng.normal(0.0, 0.35, (n, DIM))).astype(np.float32)
        lens = rng.integers(DOC_WORDS // 2, DOC_WORDS * 3 // 2 + 1, n)
        words = rng.choice(len(self.words), int(lens.sum()), p=self.word_p)
        docs, o = [], 0
        for ln in lens:
            docs.append(" ".join(self.words[w] for w in words[o:o + ln]))
            o += ln
        return {
            "id": np.arange(start_id, start_id + n, dtype=np.int64),
            "vector": vec,
            "doc": np.array(docs, dtype=object),
            "cat": rng.integers(0, N_CATS, n).astype(np.int32),
        }

    def query_vector(self) -> np.ndarray:
        """A distinct query near a random cluster centre."""
        c = self.centres[self.rng.integers(0, N_CLUSTERS)]
        return (c + self.rng.normal(0.0, 0.35, DIM)).astype(np.float32)

    def query_text(self) -> str:
        """Two distinct words, Zipf-drawn, so query terms repeat across ops
        (a fixed term count keeps per-query cost alike)."""
        idx = self.rng.choice(len(self.words), 2, replace=False, p=self.word_p)
        return " ".join(self.words[i] for i in idx)

    def cat(self) -> int:
        return int(self.rng.integers(0, N_CATS))


def write_parquet(rows: dict[str, np.ndarray], path: str) -> int:
    """Write ``rows`` (plus any extra integer columns) as one parquet file;
    returns its size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vec = rows["vector"]
    flat = pa.array(vec.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vec.size + 1, vec.shape[1], dtype=np.int32))
    cols = {
        "id": pa.array(rows["id"]),
        "vector": pa.ListArray.from_arrays(offsets, flat),
        "doc": pa.array(rows["doc"].tolist(), type=pa.string()),
    }
    cols.update({k: pa.array(v) for k, v in rows.items() if k not in cols})
    table = pa.table(cols)
    pq.write_table(table, path)
    return os.path.getsize(path)


def concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
