"""Bloom filter (Bloom 1970) with the standard double-hashing scheme
(Kirsch & Mitzenmacher 2006): h_i = h1 + i*h2 mod m. Companion sketch per
BASELINE.json north_rule; absent in the reference. Merge = bitwise OR.
Spark cross-check oracle: df.stat.bloomFilter / exact membership."""

from __future__ import annotations

import math

import numpy as np

from . import wire
from .hashing import hash64_with_seed, hash_strings

__all__ = ["BloomFilter"]


@wire.Layout(b"BLM2", "<QI")  # m_bits, k; bits
class BloomFilter:
    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, expected_items: int = 1_000_000, fpp: float = 0.01):
        m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        self.m_bits = (m + 63) // 64 * 64
        self.k = max(1, round(self.m_bits / expected_items * math.log(2)))
        self.bits = np.zeros(self.m_bits // 64, dtype=np.uint64)

    def _positions(self, ukeys: np.ndarray) -> np.ndarray:
        h1 = hash64_with_seed(ukeys, 0x51ED)
        h2 = hash64_with_seed(ukeys, 0xC0FFEE) | np.uint64(1)
        m = np.uint64(self.m_bits)
        pos = np.empty((self.k, ukeys.shape[0]), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(self.k):
                pos[i] = (h1 + np.uint64(i) * h2) % m
        return pos

    def _add_hashed(self, ukeys: np.ndarray) -> "BloomFilter":
        pos = self._positions(ukeys).ravel()
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        np.bitwise_or.at(self.bits, word, bit)
        return self

    def add_ints(
        self, values: np.ndarray, assume_unique: bool = False
    ) -> "BloomFilter":
        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        # set semantics: dedup first (ufunc.at cost scales with inputs);
        # assume_unique lets pre-deduped callers skip the sort
        if not assume_unique:
            v = np.unique(v)
        return self._add_hashed(v.astype(np.int64).astype(np.uint64))

    def add_strings(self, values) -> "BloomFilter":
        if len(values) == 0:
            return self
        return self._add_hashed(hash_strings(values))

    def _contains_hashed(self, ukeys: np.ndarray) -> np.ndarray:
        pos = self._positions(ukeys)
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        hits = (self.bits[word] & bit) != 0
        return hits.all(axis=0)

    def might_contain_ints(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values)
        return self._contains_hashed(v.astype(np.int64).astype(np.uint64))

    def might_contain_strings(self, values) -> np.ndarray:
        return self._contains_hashed(hash_strings(values))

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (other.m_bits, other.k) != (self.m_bits, self.k):
            raise ValueError("shape mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self

    def to_bytes(self) -> bytes:
        return self._wire.pack((self.m_bits, self.k), self.bits)

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        (m_bits, k), (bits,) = cls._wire.unpack(data)
        bf = cls.__new__(cls)
        bf.m_bits, bf.k, bf.bits = m_bits, k, bits.reshape(m_bits // 64)
        return bf
