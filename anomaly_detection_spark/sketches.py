"""Mergeable sketches that Spark does not ship — the merge half of the
engine's distributed aggregations.

Spark 4.1 computes moments, HLL distinct counts and KLL quantiles natively
(see ``operators/stats.py`` and ``operators/drift.py``), so only two
pieces remain here, each with an associative, commutative merge:

  * Welford moments (count, mean, M2) — :func:`welford_merge`, Chan's
    parallel update; the streaming detector merges per-batch moments
    into its state with it (``streaming/stateful.py``).
  * Bloom filter (numpy bitset) — broadcastable pre-filter for
    referential checks; OR-merge. ``bloom_filter_agg`` / ``might_contain``
    are not registered in PySpark 4.1, so it stays hand-rolled.
"""

from __future__ import annotations

import math

import numpy as np


def welford_merge(a, b):
    """Chan's parallel update: exact, associative merge of two moment sets."""
    na, ma, M2a = a
    nb, mb, M2b = b
    if na == 0.0:
        return b
    if nb == 0.0:
        return a
    n = na + nb
    delta = mb - ma
    mean = ma + delta * nb / n
    M2 = M2a + M2b + delta * delta * na * nb / n
    return (n, mean, M2)


# ---------------------------------------------------------------------------
# Bloom filter (split-less simple bitset; k hashes from two 64-bit hashes —
# Kirsch–Mitzenmacher double hashing, public construction)
# ---------------------------------------------------------------------------

class BloomFilter:
    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m_bits = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(
            (m_bits + 63) // 64, dtype=np.uint64
        )

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, int(round(m / max(n_items, 1) * math.log(2))))
        return cls(m, min(k, 16))

    @staticmethod
    def _hash2(values) -> tuple[np.ndarray, np.ndarray]:
        """Two vectorized 64-bit hashes per value (FNV-1a over utf-8 bytes
        with two different offsets), computed whole-array in numpy."""
        import pandas as pd

        s = pd.Series(values).astype(str)
        h1 = pd.util.hash_pandas_object(s, index=False).to_numpy().astype(np.uint64)
        # second independent hash: splitmix64 finalizer of h1
        z = (h1 + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h2 = z ^ (z >> np.uint64(31))
        return h1, h2

    def add_batch(self, values):
        h1, h2 = self._hash2(values)
        m = np.uint64(self.m_bits)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % m
            word, bit = idx >> np.uint64(6), idx & np.uint64(63)
            np.bitwise_or.at(self.bits, word.astype(np.int64),
                             np.uint64(1) << bit)

    def contains_batch(self, values) -> np.ndarray:
        h1, h2 = self._hash2(values)
        m = np.uint64(self.m_bits)
        out = np.ones(len(h1), dtype=bool)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % m
            word, bit = idx >> np.uint64(6), idx & np.uint64(63)
            out &= (self.bits[word.astype(np.int64)]
                    & (np.uint64(1) << bit)) != 0
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m_bits == other.m_bits and self.k == other.k
        return BloomFilter(self.m_bits, self.k, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, raw: bytes) -> "BloomFilter":
        return cls(m_bits, k, np.frombuffer(raw, dtype=np.uint64).copy())
