"""The shared near-duplicate kernels in ``operators/dedup.py``.

``hamming_band_pairs`` is the one pigeonhole band self-join behind q153
and ``multimodal.image_near_dup``; ``_simhash_words`` is the one SimHash
vote builder behind the 16-bit signature (q48/q128/q167) and q153's
64-bit one.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from spatial_data_engineering_spark.catalog import load_spread
from spatial_data_engineering_spark.operators.dedup import (
    _HAM_MAX, _simhash_words, hamming_band_pairs)

from .conftest import SF_ORACLE


def _words(sig: int) -> tuple[int, ...]:
    return tuple((sig >> (16 * w)) & 0xFFFF for w in range(4))


def _flip(sig: int, bits: list[int]) -> int:
    for b in bits:
        sig ^= 1 << b
    return sig


def test_band_join_matches_bruteforce_popcount(spark):
    rng = random.Random(7)
    sigs = [rng.getrandbits(64) for _ in range(300)]
    # planted partners at Hamming distance 0..4, for each word w: the
    # flips all inside w, or one flip in each of d words other than w
    # (at distance 3 w is then the one word the pair shares; at
    # distance 4 the flips cover every word and no word is shared)
    for d in range(5):
        for w in range(4):
            others = [x for x in range(4) if x != w] if d < 4 else range(4)
            for bits in ([16 * w + b for b in rng.sample(range(16), d)],
                         [16 * x + rng.randrange(16) for x in others][:d]):
                base = rng.getrandbits(64)
                sigs += [base, _flip(base, bits)]
    rows = [(i, *_words(s)) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, w0 bigint, w1 bigint, w2 bigint, w3 bigint")

    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in hamming_band_pairs(df).collect()}

    dist = {(i, j): bin(sigs[i] ^ sigs[j]).count("1")
            for i in range(len(sigs)) for j in range(i + 1, len(sigs))}
    want = {p: h for p, h in dist.items() if h <= _HAM_MAX}
    assert got == want
    assert sorted(set(want.values())) == [0, 1, 2, 3]
    assert any(h == 4 for h in dist.values())


def test_one_word_simhash_is_word0_of_four(spark):
    d = load_spread(spark, SF_ORACLE, "documents")
    one = _simhash_words(d, 1)
    four = _simhash_words(d, 4)
    assert one.columns == ["doc_id", "w0"]
    assert four.columns == ["doc_id", "w0", "w1", "w2", "w3"]
    joined = one.alias("o").join(four.alias("f"), "doc_id", "full")
    n, n_diff = joined.agg(
        F.count(F.lit(1)),
        F.count(F.when(~F.col("o.w0").eqNullSafe(F.col("f.w0")), 1)),
    ).first()
    assert n == d.count() > 0
    assert n_diff == 0
