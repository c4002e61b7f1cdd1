"""Bloom seen-filter properties: no false negatives ever (a False probe
must prove novelty — the engine skips the authoritative anti-join on it),
bounded false-positive rate, merges, the pickle round-trip that ships
the filter to the workers (``sc.broadcast``), the distributed build
agreeing with the driver-side one, and the OR accumulator that carries
the engine's per-epoch increment being idempotent."""

from __future__ import annotations

import hashlib
import pickle

from spacetime_crawler4py_spark.functions.bloom import OR_BITS, BloomFilter


def _hashes(prefix: str, n: int) -> list[str]:
    return [hashlib.sha256(f"{prefix}-{i}".encode()).hexdigest() for i in range(n)]


SEEN = _hashes("seen", 5000)
FRESH = _hashes("fresh", 5000)


def _flags(bf: BloomFilter, keys: list[str]):
    return bf.probe_and_mark(keys)[0]


def test_no_false_negatives():
    bf = BloomFilter.sized_for(len(SEEN))
    bf.add_many(SEEN)
    assert _flags(bf, SEEN).all()


def test_false_positive_rate_bounded():
    bf = BloomFilter.sized_for(len(SEEN))
    bf.add_many(SEEN)
    fp = _flags(bf, FRESH).mean()
    # 12 bits/key with k=8 gives fpp ~ 3e-4; allow generous slack
    assert fp < 0.01, fp


def test_merge_equals_union():
    a = BloomFilter.sized_for(10000)
    b = BloomFilter.sized_for(10000)
    a.add_many(SEEN[:2500])
    b.add_many(SEEN[2500:])
    a.merge_inplace(b)
    assert _flags(a, SEEN).all()


def test_pickle_round_trip():
    bf = BloomFilter.sized_for(1000)
    bf.add_many(SEEN[:100])
    clone = pickle.loads(pickle.dumps(bf))
    assert (clone.n_bits, clone.k) == (bf.n_bits, bf.k)
    assert (clone.bits == bf.bits).all()
    assert _flags(clone, SEEN[:100]).all()
    # the clone owns its bitmap: marking it leaves the original unchanged
    clone.add_many(FRESH[:100])
    assert not (clone.bits == bf.bits).all()


def test_distributed_build_equals_add_many(spark):
    df = spark.createDataFrame([(h,) for h in SEEN], "url_hash string").repartition(7)
    built = BloomFilter.build_from_df(df, "url_hash", n_items_hint=len(SEEN))
    local = BloomFilter.sized_for(len(SEEN))
    local.add_many(SEEN)
    assert (built.n_bits, built.k) == (local.n_bits, local.k)
    assert (built.bits == local.bits).all()


def test_probe_and_mark_flags_and_increment():
    bf = BloomFilter.sized_for(len(SEEN))
    bf.add_many(SEEN[:2500])
    keys = SEEN[2000:3000]
    flags, inc = bf.probe_and_mark(keys)
    assert flags[:500].all()  # no false negatives
    assert flags[500:].mean() < 0.01  # the unadded half is mostly new
    # probing marks nothing in the filter itself
    before = bf.bits.copy()
    bf.probe_and_mark(keys)
    assert (bf.bits == before).all()
    alone = BloomFilter(bf.n_bits, bf.k)
    alone.add_many(keys)
    assert (inc == alone.bits).all()


def test_or_accumulator_is_idempotent(spark):
    bf = BloomFilter.sized_for(1000)
    bf.add_many(SEEN[:100])
    acc = spark.sparkContext.accumulator(None, OR_BITS)
    acc.add(bf.bits.copy())
    once = acc.value.copy()
    acc.add(bf.bits.copy())
    assert (acc.value == once).all() and (once == bf.bits).all()
    # the same bitmap added by every task of a job (as retried or
    # recomputed parse tasks would) is still the bitmap
    acc.value = None
    bits = bf.bits

    def add(_rows):
        acc.add(bits.copy())

    spark.sparkContext.parallelize(range(4), 4).foreachPartition(add)
    assert (acc.value == bits).all()
    # tasks that add nothing send back the empty bitmap
    acc.value = None
    spark.sparkContext.parallelize(range(4), 4).foreachPartition(lambda _r: None)
    assert acc.value is None
