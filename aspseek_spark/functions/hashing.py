"""Bloom-filter bit addressing + cuckoo-filter fallback (SURVEY.md §2.4 A7, §7).

Design (north_star, BASELINE.json:6): the URL-seen set is a *partitioned*
bloom filter. Partition routing uses Spark's built-in ``F.hash`` — which IS
32-bit murmur3, satisfying "keyed by canonicalized murmur3 URL hashes" —
so routing is computed JVM-side with no Python in the plan. Bit addressing
*inside* a partition's blob happens in the Arrow-batched blob UDFs and uses
blake2b-derived double hashing (Kirsch-Mitzenmacher: g_i = h1 + i*h2 mod m),
which is deterministic across processes and Python versions.

Scale note (§7 hard-part 3/4): at 10^10 keys and 1% fpp the total filter is
≈12 GB of bits → P≈1024 partitions of ~12 MB blobs, each blob a single row
in the bloom_state table, OR-merged per round inside its own partition —
never collected to the driver. 32-bit murmur3 routing only has to spread
keys across P, so its birthday collisions are irrelevant; seen-set
*identity* uses xxhash64 + the exact URL string in the ``seen`` table.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np

_SALT = b"aspseek-spark-bloom-v1"


def hash_pair(key: str) -> tuple[int, int]:
    """Two independent 64-bit hashes of a key (double-hashing bases)."""
    d = blake2b(key.encode("utf-8"), digest_size=16, key=_SALT).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd → full-period stepping
    )


def hash_bases(keys: "list[str]") -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 base arrays for a batch of keys (blake2b-derived).

    Driver-side / oracle-side helper. The ENGINE does not call this on the
    hot path: the Spark plan computes the two bases JVM-side as
    ``xxhash64(url)`` / ``xxhash64('h2-salt', url)`` columns (codegen, no
    per-row Python) and passes them into the blob UDFs — see
    operators/seen.py. Both families give a valid double-hashing bloom;
    they just produce different (equally correct) bit patterns.
    """
    n = len(keys)
    h1 = np.empty(n, dtype=np.uint64)
    h2 = np.empty(n, dtype=np.uint64)
    for i, key in enumerate(keys):
        a, b = hash_pair(key)
        h1[i] = a
        h2[i] = b
    return h1, h2


def bit_positions_from_bases(
    h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int
) -> np.ndarray:
    """(n, k) bit indices via Kirsch-Mitzenmacher double hashing — pure
    numpy vector math, no per-key Python loop."""
    h1 = np.ascontiguousarray(h1).view(np.uint64) if h1.dtype != np.uint64 else h1
    h2 = np.ascontiguousarray(h2).view(np.uint64) if h2.dtype != np.uint64 else h2
    h2 = h2 | np.uint64(1)  # odd step → full period mod 2^64
    ks = np.arange(k, dtype=np.uint64)
    # broadcast: (n,1) + (n,1)*(k,) — uint64 wraparound is fine pre-modulo
    return (h1[:, None] + h2[:, None] * ks[None, :]) % np.uint64(m_bits)


def bloom_set(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
              m_bits: int, k: int) -> np.ndarray:
    """Set membership bits for hashed keys in a uint8 bit array (in place)."""
    if len(h1) == 0:
        return bits
    pos = bit_positions_from_bases(h1, h2, m_bits, k).ravel()
    np.bitwise_or.at(bits, pos >> np.uint64(3),
                     np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
    return bits


def bloom_test(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
               m_bits: int, k: int) -> np.ndarray:
    """Boolean membership vector — True = *maybe* seen (no false negatives)."""
    n = len(h1)
    if n == 0:
        return np.zeros(0, dtype=bool)
    pos = bit_positions_from_bases(h1, h2, m_bits, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit_mask = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    hit = (bits[byte_idx] & bit_mask) != 0
    return hit.all(axis=1)


def empty_bloom(m_bits: int) -> np.ndarray:
    return np.zeros(m_bits // 8, dtype=np.uint8)


def bloom_fill_ratio(bits: np.ndarray) -> float:
    """Fraction of set bits (metrics table; fpp ≈ fill^k)."""
    if bits.size == 0:
        return 0.0
    return float(np.unpackbits(bits).mean())


class CuckooFilter:
    """Cuckoo-filter fallback supporting deletions (north_star: "cuckoo-filter
    fallback for deletions"). Same interface shape as the bloom helpers but
    stateful; serialized as raw bytes for the bloom_state table. Used when a
    crawl space must *forget* URLs (tag deletion / URL expiry) — blooms can't
    delete. 4 slots/bucket, 16-bit fingerprints, ~95% load max.
    """

    SLOTS = 4

    def __init__(self, n_buckets: int, table: np.ndarray | None = None,
                 rng_state: int = 0x9E3779B9):
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )
        self._rng_state = rng_state

    def _fp_and_index(self, key: str) -> tuple[int, int]:
        h1, h2 = hash_pair(key)
        fp = (h2 & 0xFFFF) or 1  # 0 = empty slot sentinel
        return fp, h1 % self.n_buckets

    def _alt_index(self, idx: int, fp: int) -> int:
        # standard partial-key cuckoo: alt = idx xor hash(fp)
        fph = blake2b(fp.to_bytes(2, "little"), digest_size=8, key=_SALT).digest()
        return (idx ^ int.from_bytes(fph, "little")) % self.n_buckets

    def insert(self, key: str, max_kicks: int = 200) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        for i in (i1, i2):
            row = self.table[i]
            empties = np.flatnonzero(row == 0)
            if empties.size:
                row[empties[0]] = fp
                return True
        idx = i1
        for _ in range(max_kicks):
            # deterministic eviction: rotate via an LCG on internal state
            self._rng_state = (self._rng_state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            slot = self._rng_state % self.SLOTS
            fp, self.table[idx][slot] = int(self.table[idx][slot]), fp
            idx = self._alt_index(idx, fp)
            row = self.table[idx]
            empties = np.flatnonzero(row == 0)
            if empties.size:
                row[empties[0]] = fp
                return True
        return False  # full — caller must grow/repartition

    def contains(self, key: str) -> bool:
        fp, i1 = self._fp_and_index(key)
        if (self.table[i1] == fp).any():
            return True
        i2 = self._alt_index(i1, fp)
        return bool((self.table[i2] == fp).any())

    def delete(self, key: str) -> bool:
        fp, i1 = self._fp_and_index(key)
        for i in (i1, self._alt_index(i1, fp)):
            row = self.table[i]
            hits = np.flatnonzero(row == fp)
            if hits.size:
                row[hits[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).reshape(
            n_buckets, cls.SLOTS
        ).copy()
        return cls(n_buckets, table)


# -- pure-Python XXH64 (r07) --------------------------------------------------
# The standard public XXH64 algorithm (Yann Collet's xxHash, public spec),
# matching Spark's ``F.xxhash64`` on a string column bit-for-bit: Spark
# hashes the UTF-8 bytes with seed 42. Used by
# operators/postings.probe_postings_bucketed to compute word→bucket routing
# DRIVER-SIDE with no Spark job at all — the probe hot path pays zero jobs
# for bucket selection (parity-tested against the JVM in
# tests/test_operators.py::test_python_xxhash64_matches_spark).

_M64 = (1 << 64) - 1
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P64_2) & _M64
    return (_rotl64(acc, 31) * _P64_1) & _M64


def _xx_merge(h: int, v: int) -> int:
    h ^= _xx_round(0, v)
    return (h * _P64_1 + _P64_4) & _M64


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64(data, seed) as an UNSIGNED 64-bit int (spec-faithful)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while i <= n - 32:
            v1 = _xx_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xx_round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xx_round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xx_round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        h = _xx_merge(h, v1)
        h = _xx_merge(h, v2)
        h = _xx_merge(h, v3)
        h = _xx_merge(h, v4)
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _xx_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P64_1) & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P64_5) & _M64
        h = (_rotl64(h, 11) * _P64_1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


def spark_xxhash64(s: str, seed: int = 42) -> int:
    """Spark's ``F.xxhash64(string_col)``: XXH64 over the UTF-8 bytes,
    seed 42, returned as SIGNED int64 (Spark's long)."""
    h = xxhash64_bytes(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_pmod_xxhash64(s: str, n: int, seed: int = 42) -> int:
    """``F.pmod(F.xxhash64(s), n)`` driver-side (non-negative bucket id)."""
    return spark_xxhash64(s, seed) % n
