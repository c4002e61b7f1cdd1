"""Bloom filter over URL-seen hashes.

Replaces the reference's shelve-backed ``self.save`` membership probe
(reference crawler/frontier.py:93) at scale, per the north_rule. The filter
is *advisory only*: a probe returning False proves the URL is new (skip the
anti-join for it); True means "maybe seen" and falls through to the
authoritative anti-join — so false positives can never drop a URL.

Index derivation needs no extra hashing: the seen key is already a sha256
hex string (functions/urlkit.url_hash), so k bit positions come from the
double-hashing scheme idx_i = (h1 + i*h2) mod m with h1/h2 = two 64-bit
slices of the digest.

Lifecycle in the relaxed engine: the filter is built from the seen table
at resume (``build_from_df``, one ``mapInArrow`` pass), broadcast once per
epoch, and probed inside the fetch+parse stage, which also ORs every probed
key's bits into an accumulator with ``OR_BITS``; the driver merges that
increment after the epoch's first job. OR is idempotent, so a retried or
recomputed task cannot corrupt the increment, and the extra keys it may
carry (robots-blocked links) can only add false positives.

Sizing note: at 10 bits/key one filter is ~1.2 GB per 10^9 URLs, and it is
broadcast whole. Beyond the size a worker can hold, the filter would have
to be split per frontier hash-bucket; no such layout is built here.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.accumulators import AccumulatorParam

__all__ = ["BloomFilter", "OR_BITS"]


class _OrBits(AccumulatorParam):
    """Accumulator over filter bitmaps (uint8 arrays of one shape): the
    sum is bitwise OR. ``None`` is the empty bitmap, so a task that adds
    nothing ships nothing back."""

    def zero(self, value):
        return None

    def addInPlace(self, value1, value2):
        if value1 is None:
            return value2
        if value2 is not None:
            np.bitwise_or(value1, value2, out=value1)
        return value1


OR_BITS = _OrBits()


class BloomFilter:
    def __init__(self, n_bits: int, k: int):
        # round bits up to a byte multiple
        n_bits = max(64, (n_bits + 7) // 8 * 8)
        self.n_bits = n_bits
        self.k = k
        self.bits = np.zeros(n_bits // 8, dtype=np.uint8)

    # -- construction -------------------------------------------------------
    @classmethod
    def sized_for(cls, n_items: int, bits_per_key: int = 12) -> "BloomFilter":
        k = max(1, int(round(bits_per_key * math.log(2))))
        return cls(max(1024, n_items * bits_per_key), k)

    def _positions(self, hex_hashes) -> np.ndarray:
        """(len, k) array of bit positions for sha256-hex keys; h1 and h2
        are the digest's first two big-endian 64-bit words."""
        raw = bytes.fromhex("".join([h[:32] for h in hex_hashes]))
        words = np.frombuffer(raw, dtype=">u8").astype(np.uint64).reshape(-1, 2)
        h1 = words[:, 0]
        h2 = words[:, 1] | np.uint64(1)
        ks = np.arange(self.k, dtype=np.uint64)
        return (
            (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(self.n_bits)
        )

    @staticmethod
    def _mark(bits: np.ndarray, pos: np.ndarray) -> None:
        pos = pos.ravel()
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))

    def add_many(self, hex_hashes) -> None:
        hex_hashes = list(hex_hashes)
        if hex_hashes:
            self._mark(self.bits, self._positions(hex_hashes))

    def _contains(self, pos: np.ndarray) -> np.ndarray:
        probe = (self.bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
        return probe.all(axis=1)

    def probe_and_mark(self, hex_hashes: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """One vectorized pass over non-empty ``hex_hashes``: the maybe-seen
        flag per key, and the bitmap of every probed key's bits (the
        increment that adds them all to the filter)."""
        pos = self._positions(hex_hashes)
        inc = np.zeros_like(self.bits)
        self._mark(inc, pos)
        return self._contains(pos), inc

    def fill_rate(self) -> float:
        """Fraction of set bits. Drives the saturation rebuild: estimated
        false-positive rate is fill**k, and fill > 0.5 means the filter has
        outgrown the sizing it was built with."""
        if hasattr(np, "bitwise_count"):  # numpy >= 2.0
            ones = int(np.bitwise_count(self.bits).sum())
        else:  # pragma: no cover
            ones = int(np.unpackbits(self.bits).sum())
        return ones / self.n_bits

    # -- distributed build / merge ------------------------------------------
    def merge_inplace(self, other: "BloomFilter") -> None:
        assert other.n_bits == self.n_bits and other.k == self.k
        np.bitwise_or(self.bits, other.bits, out=self.bits)

    @classmethod
    def build_from_df(cls, df, column: str, n_items_hint: int, bits_per_key: int = 12):
        """Build from a DataFrame column of sha256-hex keys, sized for
        ``n_items_hint`` keys."""
        proto = cls.sized_for(n_items_hint, bits_per_key)
        return cls.build_from_df_with_shape(df, column, proto.n_bits, proto.k)

    @classmethod
    def build_from_df_with_shape(cls, df, column: str, n_bits: int, k: int):
        """Build with a fixed shape: one ``mapInArrow`` task per partition
        returns its bitmap, and the driver ORs them."""
        import pyarrow as pa

        def build_part(batches):
            bf = cls(n_bits, k)
            for batch in batches:
                bf.add_many(batch.column(0).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [pa.array([bf.bits.tobytes()], pa.binary())], names=["bits"]
            )

        out = cls(n_bits, k)
        for row in df.select(column).mapInArrow(build_part, "bits binary").collect():
            out.bits |= np.frombuffer(row.bits, dtype=np.uint8)
        return out

