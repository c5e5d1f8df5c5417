"""Exhaustive checks of the SmallFloat int4/byte4 quantization.

Mirrors the reference's own exhaustive byte-table checks
(lucene/core/src/test/org/apache/lucene/util/TestSmallFloat.java pattern):
a direct scalar re-derivation of the documented algorithm
(util/SmallFloat.java:103-167) is the oracle for the vectorized code.
"""

import numpy as np
import pytest

from lucene_spark import smallfloat as sf


def ref_long_to_int4(i: int) -> int:
    assert i >= 0
    num_bits = i.bit_length()
    if num_bits < 4:
        return i
    shift = num_bits - 4
    encoded = (i >> shift) & 0x07
    return encoded | ((shift + 1) << 3)


def ref_int4_to_long(b: int) -> int:
    bits = b & 0x07
    shift = (b >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


def ref_int_to_byte4(i: int) -> int:
    if i < sf.NUM_FREE_VALUES:
        return i
    return sf.NUM_FREE_VALUES + ref_long_to_int4(i - sf.NUM_FREE_VALUES)


def test_constants():
    assert ref_long_to_int4(2**31 - 1) == sf.MAX_INT4 == 231
    assert sf.NUM_FREE_VALUES == 24


@pytest.mark.parametrize("hi", [5000])
def test_small_range_exhaustive(hi):
    vals = np.arange(hi)
    got = sf.int_to_byte4(vals)
    want = np.array([ref_int_to_byte4(int(v)) for v in vals], dtype=np.uint8)
    np.testing.assert_array_equal(got, want)


def test_boundaries():
    vals = [0, 1, 23, 24, 25, 31, 32, 39, 40, 41, 127, 128, 255, 256,
            1023, 1024, 2**20 - 1, 2**20, 2**31 - 1]
    for v in vals:
        assert int(sf.int_to_byte4([v])[0]) == ref_int_to_byte4(v), v


def test_byte4_roundtrip_monotone_floor():
    # decode(encode(x)) <= x, and decode table strictly increasing
    vals = np.unique(np.concatenate([np.arange(3000),
                                     2 ** np.arange(12, 31),
                                     2 ** np.arange(12, 31) - 1]))
    q = sf.quantize_doc_len(vals)
    assert np.all(q <= vals)
    table = sf.LENGTH_TABLE
    assert np.all(np.diff(table) > 0)
    assert table[0] == 0 and table[23] == 23  # free values exact
    # values below NUM_FREE_VALUES + 8 are exact (subnormal int4 region)
    small = np.arange(sf.NUM_FREE_VALUES + 8)
    np.testing.assert_array_equal(sf.quantize_doc_len(small), small)


def test_norm_expr_matches_int_to_byte4(spark):
    """The docs table's norm column is a Catalyst expression
    (builder._norm_expr); numpy int_to_byte4 is its oracle over every
    length below 2^20, 2^n and 2^n - 1 for n = 20..30, and 2^31 - 1."""
    from pyspark.sql import functions as F

    from lucene_spark.index.builder import _norm_expr

    extra = sorted({2**n for n in range(20, 31)} | {2**n - 1 for n in range(20, 31)}
                   | {2**31 - 1})
    dls = spark.range(1 << 20).union(
        spark.createDataFrame([(v,) for v in extra], "id long")
    ).select(F.col("id").cast("int").alias("dl"))
    got = dls.select("dl", _norm_expr(F.col("dl")).alias("norm")).toPandas()
    assert len(got) == (1 << 20) + len(extra)
    want = sf.int_to_byte4(got["dl"].to_numpy()).astype(np.int64)
    assert np.array_equal(got["norm"].to_numpy().astype(np.int64), want)
