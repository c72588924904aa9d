"""MinHash and SimHash kernels — near-duplicate detection / set similarity.

Beyond the reference's own operators (training-data-pipeline additions per
the build brief).  Both are expressed in the same mergeable-sketch
lifecycle as the gopie rebuilds:

- MinHash: state = uint64[k] column minima of k hash permutations over a
  set of shingle hashes.  merge = element-wise min (associative,
  commutative, idempotent — exactly like HLL register-max).  The Jaccard
  similarity of two sets is estimated by the fraction of matching
  signature slots.
- SimHash: state = int64[64] bit-vote counts; merge = vector add;
  finalize = sign -> packed uint64 fingerprint.  Near-duplicates have
  small Hamming distance between fingerprints.

Per-document batch signatures (for LSH dedup over a DataFrame) are
computed with ``np.minimum.reduceat`` / ``np.add.reduceat`` over document
boundaries — vectorized across the whole Arrow batch, no per-row Python.

Hash family: splitmix64 finalizer over (shingle_hash XOR seed_i), seeds
from a fixed deterministic table — byte-stable across runs/machines.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

import numpy as np

from gopie_spark.kernels import codec
from gopie_spark.kernels.hashes import fnv1_64_values, mix64

U64 = np.uint64
I64 = np.int64


def _seeds(k: int) -> np.ndarray:
    # deterministic seed table: mix64 over 1..k
    return mix64(np.arange(1, k + 1, dtype=U64))


_SHINGLE_PRIME = U64(1099511628211)  # FNV-64 prime as the polynomial base


def shingle_hashes_flat(token_hashes: np.ndarray, lens: np.ndarray,
                        width: int):
    """Hash every word-``width``-shingle of each document, fully
    vectorized over a whole batch: input is the flat token-hash array
    plus per-document token counts (the Arrow list_flatten layout).

    Shingle hash = polynomial combine of the member token hashes,
    finalized with mix64 — a uniform 64-bit family that never
    materializes joined shingle *strings* (MinHash needs consistency and
    uniformity from the family, not any particular string hash).  The
    rolling combine is ``width-1`` vectorized passes over the flat array;
    window validity (not crossing a document boundary) is a mask.  Docs
    with ``0 < len < width`` produce one shingle over all their tokens
    (matching the joined-short-doc convention).  Returns
    ``(flat_shingle_hashes, shingle_lens)`` in document order.
    """
    h = np.ascontiguousarray(token_hashes, dtype=U64)
    lens = np.asarray(lens, dtype=np.int64)
    s_lens = np.where(lens >= width, lens - width + 1,
                      np.where(lens > 0, 1, 0)).astype(np.int64)
    out = np.empty(int(s_lens.sum()), dtype=U64)
    if h.size == 0:
        return out, s_lens
    doc_starts = np.concatenate([[0], np.cumsum(lens)])
    m = h.size - width + 1
    is_full = lens >= width
    if m > 0 and is_full.any():
        c = h[:m].copy()
        for j in range(1, width):
            c = c * _SHINGLE_PRIME ^ h[j:m + j]
        # window starting at p is valid iff it ends inside p's document
        pos_doc_end = np.repeat(doc_starts[1:], lens)[:m]
        valid = (np.arange(m) + width) <= pos_doc_end
        out[np.repeat(is_full, s_lens)] = mix64(c[valid])
    # short docs (0 < len < width): one combined hash over all tokens
    out_off = np.concatenate([[0], np.cumsum(s_lens)])
    prime = int(_SHINGLE_PRIME)
    for d in np.nonzero((lens > 0) & ~is_full)[0]:
        a = h[doc_starts[d]:doc_starts[d] + lens[d]]
        c = int(a[0])
        for j in range(1, int(lens[d])):
            c = ((c * prime) & 0xFFFFFFFFFFFFFFFF) ^ int(a[j])
        out[out_off[d]] = mix64(np.array([c], dtype=U64))[0]
    return out, s_lens


@dataclass(frozen=True)
class MinHash:
    """Mergeable MinHash sketch over a set of uint64 element hashes."""

    k: int = 128

    def zero(self) -> np.ndarray:
        return np.full(self.k, np.iinfo(np.uint64).max, dtype=U64)

    def update_hashes(self, state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
        if hashes.size == 0:
            return state
        sig = self.signature_of(hashes)
        np.minimum(state, sig, out=state)
        return state

    def update(self, state: np.ndarray, values) -> np.ndarray:
        return self.update_hashes(state, fnv1_64_values(values))

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        if a.shape != b.shape:
            raise ValueError("minhash k must match")
        return np.minimum(a, b)

    def signature_of(self, hashes: np.ndarray) -> np.ndarray:
        """Signature uint64[k] of one set of element hashes."""
        seeds = _seeds(self.k)
        mixed = mix64(hashes[:, None] ^ seeds[None, :])
        return mixed.min(axis=0)

    def batch_signatures(self, hash_arrays: Sequence[np.ndarray]) -> np.ndarray:
        """Signatures for a batch of documents: returns uint64[n_docs, k].

        Empty documents get the all-max (empty-set) signature.
        """
        lens = np.array([a.size for a in hash_arrays], dtype=np.int64)
        flat = np.concatenate(hash_arrays) if hash_arrays \
            else np.empty(0, dtype=U64)
        return self.batch_signatures_flat(flat, lens)

    def batch_signatures_flat(self, flat: np.ndarray,
                              lens: np.ndarray) -> np.ndarray:
        """Signatures from a flat hash array + per-document lengths
        (``flat[sum(lens[:i]) : sum(lens[:i+1])]`` = doc i's hashes) —
        the zero-copy path for Arrow-flattened batches.  Duplicate hashes
        within a document are harmless (min over a multiset equals min
        over its set)."""
        lens = np.asarray(lens, dtype=np.int64)
        n = lens.size
        out = np.full((n, self.k), np.iinfo(np.uint64).max, dtype=U64)
        nonempty = np.nonzero(lens > 0)[0]
        if nonempty.size == 0:
            return out
        flat = np.ascontiguousarray(flat, dtype=U64)
        # flat holds only nonempty docs' hashes (empty docs contribute 0)
        starts = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
        seeds = _seeds(self.k)
        # seed-chunked sweep: the full (shingles x k) mixed matrix is
        # O(GB) for realistic batches and memory-bandwidth-bound; capping
        # the intermediate at ~32 MB keeps every pass in cache
        per = max(1, (1 << 25) // (8 * max(flat.size, 1)))
        for lo in range(0, self.k, per):
            sub = seeds[lo:lo + per]
            mixed = mix64(flat[:, None] ^ sub[None, :])
            out[nonempty, lo:lo + per] = \
                np.minimum.reduceat(mixed, starts, axis=0)
        return out

    @staticmethod
    def jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
        return float((sig_a == sig_b).mean())

    def serialize(self, state) -> bytes:
        return codec.pack(codec.KIND_MINHASH, [
            (1, np.array([self.k], dtype=I64).tobytes()),
            (2, np.ascontiguousarray(state).tobytes()),
        ])

    def deserialize(self, blob: bytes):
        fields = codec.expect_kind(blob, codec.KIND_MINHASH)
        if int(np.frombuffer(fields[1], dtype=I64)[0]) != self.k:
            raise ValueError("minhash k mismatch")
        return np.frombuffer(fields[2], dtype=U64).copy()

    @classmethod
    def from_blob(cls, blob: bytes) -> "MinHash":
        fields = codec.expect_kind(blob, codec.KIND_MINHASH)
        return cls(k=int(np.frombuffer(fields[1], dtype=I64)[0]))


_BITS = np.arange(64, dtype=U64)


@dataclass(frozen=True)
class SimHash:
    """Mergeable 64-bit SimHash: state = per-bit vote counts."""

    def zero(self) -> np.ndarray:
        return np.zeros(64, dtype=I64)

    def update_hashes(self, state: np.ndarray, hashes: np.ndarray,
                      weights: np.ndarray = None) -> np.ndarray:
        if hashes.size == 0:
            return state
        bits = ((hashes[:, None] >> _BITS[None, :]) & U64(1)).astype(I64)
        votes = 2 * bits - 1
        if weights is not None:
            votes = votes * np.asarray(weights, dtype=I64)[:, None]
        state += votes.sum(axis=0)
        return state

    def update(self, state, values):
        return self.update_hashes(state, fnv1_64_values(values))

    def merge(self, a, b):
        return a + b

    def fingerprint(self, state: np.ndarray) -> int:
        bits = (state > 0).astype(np.uint64)
        return int((bits << _BITS).sum(dtype=U64))

    def batch_fingerprints(self, hash_arrays: Sequence[np.ndarray]) -> np.ndarray:
        """uint64 fingerprint per document (vectorized via reduceat)."""
        lens = np.array([a.size for a in hash_arrays], dtype=np.int64)
        flat = np.concatenate(hash_arrays) if hash_arrays \
            else np.empty(0, dtype=U64)
        return self.batch_fingerprints_flat(flat, lens)

    def batch_fingerprints_flat(self, flat: np.ndarray,
                                lens: np.ndarray) -> np.ndarray:
        """Fingerprints from a flat hash array + per-doc lengths (the
        zero-copy path for Arrow-flattened batches)."""
        lens = np.asarray(lens, dtype=np.int64)
        n = lens.size
        out = np.zeros(n, dtype=U64)
        nonempty = np.nonzero(lens > 0)[0]
        if nonempty.size == 0:
            return out
        flat = np.ascontiguousarray(flat, dtype=U64)
        starts = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
        # bit-plane sweep keeps memory O(total_tokens), not O(tokens x 64):
        # bit b's vote sum > half the token count <=> majority of 1s
        half = lens[nonempty].astype(np.int64)
        fp = np.zeros(nonempty.size, dtype=U64)
        for b in range(64):
            ones = np.add.reduceat(
                ((flat >> U64(b)) & U64(1)).astype(np.int64), starts)
            fp |= (2 * ones > half).astype(U64) << U64(b)
        out[nonempty] = fp
        return out

    @staticmethod
    def hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        x = np.bitwise_xor(a, b)
        # SWAR popcount on uint64
        x = x - ((x >> U64(1)) & U64(0x5555555555555555))
        x = (x & U64(0x3333333333333333)) + ((x >> U64(2)) & U64(0x3333333333333333))
        x = (x + (x >> U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
        return ((x * U64(0x0101010101010101)) >> U64(56)).astype(np.int64)

    def serialize(self, state) -> bytes:
        return codec.pack(codec.KIND_SIMHASH, [
            (2, np.ascontiguousarray(state).tobytes()),
        ])

    def deserialize(self, blob: bytes):
        fields = codec.expect_kind(blob, codec.KIND_SIMHASH)
        return np.frombuffer(fields[2], dtype=I64).copy()

    @classmethod
    def from_blob(cls, blob: bytes) -> "SimHash":
        codec.expect_kind(blob, codec.KIND_SIMHASH)
        return cls()


# ---------------------------------------------------------------------------
# b-bit minwise hashing (Li & Koenig, CACM 2011 / WWW 2010): keep only the
# lowest b bits of each of the k signature minima, packed 64/b lanes per
# uint64 word.  At k=128, b=1 a signature shrinks from 1 KiB to 16 B (64x)
# while the Jaccard estimate keeps the same 1/sqrt(k) error shape — for
# sparse sets (shingle universe 2^64, |doc| << 2^32) the lane-match
# probability is p = C + (1 - C) * J with C = 2^-b, so
# J^ = (p^ - C) / (1 - C), Var(J^) = p(1-p) / (k (1-C)^2).
#
# Scale role: banded LSH still uses the full minima (band hashes), but the
# candidate-pair VERIFICATION join — the stage that shuffles a signature per
# surviving candidate, twice — only needs the packed words.  At 10^12 docs
# that is the difference between shuffling ~2 KiB and ~32 B per pair.
# ---------------------------------------------------------------------------

def _bbit_check(k: int, b: int) -> int:
    if b not in (1, 2, 4, 8):
        raise ValueError("b must be one of 1, 2, 4, 8")
    if (k * b) % 64:
        raise ValueError("k*b must be a multiple of 64")
    return (k * b) // 64


def pack_bbit(sigs: np.ndarray, b: int = 1) -> np.ndarray:
    """Pack the low ``b`` bits of each signature slot into uint64 words.

    ``sigs``: uint64[n, k] (or uint64[k]) full MinHash signatures.
    Returns uint64[n, k*b/64]: slot ``j`` of a word occupies bits
    ``[j*b, (j+1)*b)`` — lane order is fixed so packs from different
    machines/batches compare bit-for-bit.
    """
    one = sigs.ndim == 1
    s = np.ascontiguousarray(sigs, dtype=U64).reshape(
        1 if one else sigs.shape[0], -1)
    k = s.shape[1]
    words = _bbit_check(k, b)
    lanes = 64 // b
    low = (s & U64((1 << b) - 1)).reshape(s.shape[0], words, lanes)
    shifts = (np.arange(lanes, dtype=U64) * U64(b))
    packed = (low << shifts[None, None, :]).sum(axis=2, dtype=U64)
    return packed[0] if one else packed


def _popcount_u64(x: np.ndarray) -> np.ndarray:
    # SWAR popcount (same ladder as SimHash.hamming)
    x = x - ((x >> U64(1)) & U64(0x5555555555555555))
    x = (x & U64(0x3333333333333333)) + ((x >> U64(2)) & U64(0x3333333333333333))
    x = (x + (x >> U64(4))) & U64(0x0F0F0F0F0F0F0F0F)
    return ((x * U64(0x0101010101010101)) >> U64(56)).astype(np.int64)


def bbit_match_counts(pa: np.ndarray, pb: np.ndarray, b: int = 1) -> np.ndarray:
    """Number of matching b-bit lanes between packed signatures.

    ``pa``/``pb``: uint64[..., words] from :func:`pack_bbit` (same k, b).
    A lane matches iff all ``b`` of its bits are equal: fold the XOR's
    bits onto each lane's LSB (OR of ``b`` in-lane right-shifts), mask to
    the LSB positions, popcount = mismatching lanes.
    """
    pa = np.asarray(pa, dtype=U64)
    pb = np.asarray(pb, dtype=U64)
    if pa.shape != pb.shape:
        raise ValueError("packed signature shapes must match")
    lanes = 64 // b
    k = pa.shape[-1] * lanes
    x = pa ^ pb
    fold = x
    for i in range(1, b):
        fold = fold | (x >> U64(i))
    lane_mask = U64(sum(1 << (j * b) for j in range(lanes)))
    mism = _popcount_u64(fold & lane_mask).sum(axis=-1)
    return k - mism


def bbit_jaccard(match_fraction, b: int = 1):
    """Unbiased (sparse-universe) Jaccard estimate from the matched-lane
    fraction: ``(p^ - 2^-b) / (1 - 2^-b)``.  Works on scalars or arrays;
    can go slightly negative for dissimilar pairs (the estimator is
    unbiased, not clamped)."""
    c = 2.0 ** -b
    return (np.asarray(match_fraction, dtype=np.float64) - c) / (1.0 - c)


def bbit_sigma(j: float, k: int, b: int = 1) -> float:
    """Estimator standard deviation at true Jaccard ``j``:
    sqrt(p(1-p)/k) / (1-C) with p = C + (1-C) j, C = 2^-b."""
    c = 2.0 ** -b
    p = c + (1.0 - c) * j
    return float(np.sqrt(p * (1.0 - p) / k) / (1.0 - c))
