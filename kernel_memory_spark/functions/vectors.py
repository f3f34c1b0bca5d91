"""Deterministic feature-hash embeddings + vector math.

Mirrors the reference's embedding surface (Abstractions/AI/Embedding.cs:22-122,
src/Core/Search/VectorMath.cs:20-80): float32 vectors, L2-normalized at write
time so query-time similarity is a plain dot product
(SqliteVectorIndex.cs:143-147).

The default generator is a hermetic char-3-gram feature-hash embedding —
a stand-in for ITextEmbeddingBatchGenerator that keeps tests and benches
deterministic with no model dependency. It is shared verbatim by the Spark
pandas UDF (operators/embeddings.py) and the single-node oracle (oracle.py),
so both sides produce bit-identical vectors.
"""

from __future__ import annotations

import numpy as np

DEFAULT_DIM = 64
PROVIDER = "feature-hash"
GENERATOR = "char3-v2"

_KNUTH = np.uint64(2654435761)
_MASK32 = np.uint64(0xFFFFFFFF)


def hash_embed(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Unit-normalized float32 embedding of one string (deterministic).

    char3-v2: fully vectorized — byte-level 3-gram windows packed into
    int24 words, Knuth multiplicative hash, signed bincount accumulation.
    ~20x the v1 per-gram zlib.crc32 Python loop on long documents; shared
    verbatim with the single-node oracle (oracle.py), so distributed and
    oracle vectors stay bit-identical by construction."""
    b = (" " + (text or "").lower() + " ").encode("utf-8")
    arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    if len(arr) < 3:
        arr = np.pad(arr, (0, 3 - len(arr)))
    w = arr[:-2] | (arr[1:-1] << np.uint64(8)) | (arr[2:] << np.uint64(16))
    h = (w * _KNUTH) & _MASK32
    idx = (h % np.uint64(dim)).astype(np.int64)
    sign = np.where((h >> np.uint64(16)) & np.uint64(1) == 1, 1.0, -1.0)
    vec = np.bincount(idx, weights=sign, minlength=dim)
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec = vec / norm
    return vec.astype(np.float32)


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    """Embedding.CosineSimilarity (Embedding.cs:63-75)."""
    na = np.linalg.norm(a)
    nb = np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


def l2_normalize(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v)
    return v if n == 0 else v / n
