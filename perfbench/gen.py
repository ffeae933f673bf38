"""Seeded input generator for the benchmark.

Everything the engine sees is made here from ``--seed`` alone: the same
seed gives byte-identical inputs, and :func:`content_hash` fingerprints
them so a run's output records exactly what it measured. Generation is
numpy + pyarrow only (no Spark), so it can be unit-tested without a
session and timed as part of set-up.

- Vectors: a Gaussian mixture in D = 64, written as multi-file parquet
  (``vec_id bigint, embedding array<float>``, the ``embeddings`` layout)
  so scans get several tasks, plus held-out query vectors drawn from the
  same mixture and their exact top-k ids (numpy, squared L2, id
  tie-break).
- Documents: the ``documents`` schema (``doc_id, text, lang, source,
  n_chars``) with injected near-duplicate groups. Each group is one base
  document plus variants that differ from it in a single token, so every
  within-group word-3-shingle Jaccard is far above the 0.5 verify cut;
  unrelated documents share almost no shingles.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_FILES = 8
N_CENTERS = 48
SPREAD = 0.35
# documents: share of them in near-dup groups, vocabulary, tokens per doc
DUP_SHARE = 0.12
VOCAB = 20000
DOC_LEN = 80


@dataclass
class Vectors:
    ids: np.ndarray  # (n,) int64
    X: np.ndarray  # (n, DIM) float32


@dataclass
class Docs:
    ids: np.ndarray  # (n,) int64
    text: list[str]
    lang: list[str]
    source: list[str]
    groups: list[list[int]]  # injected near-dup groups, sorted doc ids


def _centers(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 1]).standard_normal((N_CENTERS, DIM))


def _mixture(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    comp = rng.integers(0, len(centers), size=n)
    noise = rng.standard_normal((n, centers.shape[1])) * SPREAD
    return (centers[comp] + noise).astype(np.float32)


def make_vectors(seed: int, stream: int, n: int, first_id: int = 0) -> Vectors:
    """``n`` vectors of the seed's mixture; ``stream`` picks independent
    draws (base set, held-out queries, each upsert batch)."""
    rng = np.random.default_rng([seed, 2, stream])
    return Vectors(
        np.arange(first_id, first_id + n, dtype=np.int64),
        _mixture(rng, n, _centers(seed)),
    )


def exact_topk(ids: np.ndarray, X: np.ndarray, Q: np.ndarray,
               k: int) -> np.ndarray:
    """(nq, k) ids of the exact nearest neighbours by squared L2, ties
    to the lower id — the ground truth recall is measured against."""
    Xd = X.astype(np.float64)
    Qd = Q.astype(np.float64)
    D = (Qd * Qd).sum(1)[:, None] + (Xd * Xd).sum(1)[None, :] - 2.0 * Qd @ Xd.T
    out = np.empty((len(Q), k), dtype=np.int64)
    for i, row in enumerate(D):
        cand = np.argpartition(row, k)[: k + 1]
        order = np.lexsort((ids[cand], row[cand]))[:k]
        out[i] = ids[cand[order]]
    return out


_LANGS = ("en", "es", "zh", "de", "fr")


def _word(i: int) -> str:
    s, i = "", int(i) + 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return s


def make_docs(seed: int, n: int) -> Docs:
    """``n`` documents, about ``DUP_SHARE`` of them in near-dup groups of
    2-4 members. Tokens follow a Zipf law, so common words make LSH
    bucket some unrelated pairs together that exact verification then
    rejects."""
    rng = np.random.default_rng([seed, 3])
    words = [_word(i) for i in range(VOCAB)]
    ranks = np.minimum(rng.zipf(1.15, size=(n, DOC_LEN)) - 1, VOCAB - 1)
    toks = rng.permutation(VOCAB)[ranks]
    members: list[range] = []
    row = 0
    while row < int(n * DUP_SHARE):
        size = min(int(rng.integers(2, 5)), n - row)
        for j in range(1, size):
            toks[row + j] = toks[row]
            toks[row + j, rng.integers(0, DOC_LEN)] = rng.integers(0, VOCAB)
        members.append(range(row, row + size))
        row += size
    ids = rng.permutation(n).astype(np.int64)
    return Docs(
        ids,
        [" ".join(words[t] for t in r) for r in toks],
        [_LANGS[i] for i in rng.integers(0, len(_LANGS), size=n)],
        [f"src{i}" for i in rng.integers(0, 20, size=n)],
        [sorted(int(ids[r]) for r in g) for g in members],
    )


def expected_losers(groups: list[list[int]]) -> set[int]:
    """Ids keep_canonical must drop: every group member but the minimum."""
    return {i for g in groups for i in g[1:]}


def group_pairs(groups: list[list[int]]) -> set[tuple[int, int]]:
    """All (a < b) id pairs inside each injected group."""
    return {(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:]}


def content_hash(*parts) -> str:
    """sha256 over generated arrays (:class:`Vectors`) and :class:`Docs`."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, Vectors):
            h.update(p.ids.tobytes())
            h.update(np.ascontiguousarray(p.X).tobytes())
        else:
            h.update(p.ids.tobytes())
            for col in (p.text, p.lang, p.source):
                h.update("\n".join(col).encode())
            h.update(repr(p.groups).encode())
    return h.hexdigest()


def _write_files(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_vectors(v: Vectors, path: str) -> None:
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.X.reshape(-1), type=pa.float32()), v.X.shape[1]
    ).cast(pa.list_(pa.float32()))
    _write_files(pa.table({"vec_id": pa.array(v.ids), "embedding": emb}), path)


def write_docs(d: Docs, path: str) -> None:
    _write_files(
        pa.table({
            "doc_id": pa.array(d.ids),
            "text": pa.array(d.text, type=pa.string()),
            "lang": pa.array(d.lang, type=pa.string()),
            "source": pa.array(d.source, type=pa.string()),
            "n_chars": pa.array([len(t) for t in d.text], type=pa.int64()),
        }),
        path,
    )
