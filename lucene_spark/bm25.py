"""BM25 arithmetic, float32-exact to the reference's default similarity.

Replicates the arithmetic contract of
`lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java`:

- idf   = (float) ln(1 + (N - n + 0.5)/(n + 0.5)), double math then cast
  (BM25Similarity.java:104-107); multi-term weight sums per-term *float*
  idfs in a double accumulator, cast to float (BM25Similarity.java:191-200).
- avgdl = (float)(sumTotalTermFreq / (double) docCount) (lines 114-117).
- cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl)),
  float32 ops throughout (lines 211-214).
- weight = boost * idf, float32 (line 242).
- score(freq, norm) = weight - weight / (1f + freq * cache[norm]),
  float32 (lines 246-258).
- Disjunction scores: per-clause float32 scores summed in a double
  accumulator, result cast to float (DisjunctionSumScorer.java:38-44).
  Spark's ``F.sum`` over FloatType accumulates in double -> cast float,
  which matches.

Everything here is numpy-vectorized; np.float32 ops are IEEE-754 single
round-to-nearest, identical to JVM float ops.

A parallel *double-precision* variant (``score_double``) exists solely so
query results can be checked against an ANSI-SQL oracle (DuckDB computes
in float64); it uses the same formula and the same quantized lengths.
"""

from __future__ import annotations

import math

import numpy as np

from lucene_spark.smallfloat import LENGTH_TABLE

K1 = 1.2
B = 0.75


def idf(doc_freq: int, doc_count: int) -> np.float32:
    """float32 idf from double-precision log. BM25Similarity.java:104-107."""
    return np.float32(math.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def combined_idf(doc_freqs, doc_count: int) -> np.float32:
    """Sum of per-term float idfs in a double accumulator, cast to float.

    BM25Similarity.java:191-200 (phrase / multi-term weights).
    """
    acc = 0.0
    for n in doc_freqs:
        acc += float(idf(n, doc_count))
    return np.float32(acc)


def avg_field_length(sum_total_term_freq: int, doc_count: int) -> np.float32:
    """(float)(sumTotalTermFreq / (double) docCount). BM25Similarity.java:114-117."""
    if doc_count == 0:
        return np.float32(0.0)
    return np.float32(sum_total_term_freq / float(doc_count))


def norm_cache(avgdl: np.float32, k1: float = K1, b: float = B) -> np.ndarray:
    """256-entry float32 cache: 1f/(k1*((1-b)+b*LENGTH_TABLE[i]/avgdl)).

    BM25Similarity.java:211-214. All intermediate ops float32.
    """
    k1f = np.float32(k1)
    bf = np.float32(b)
    one = np.float32(1.0)
    lt = LENGTH_TABLE.astype(np.float32)
    return (one / (k1f * ((one - bf) + bf * lt / np.float32(avgdl)))).astype(np.float32)


def score(freq, norm_bytes, weight: np.float32, cache: np.ndarray) -> np.ndarray:
    """score = weight - weight/(1f + freq * cache[norm]), all float32.

    BM25Similarity.java:246-258 (BM25Scorer.score).
    ``freq`` int/float array, ``norm_bytes`` uint8 array.
    """
    w = np.float32(weight)
    f = np.asarray(freq).astype(np.float32)
    inv = cache[np.asarray(norm_bytes, dtype=np.int64) & 0xFF]
    return (w - w / (np.float32(1.0) + f * inv)).astype(np.float32)


# ---------------------------------------------------------------------------
# Double-precision oracle-comparable variant (same formula, float64).
# Used only by queries that are cross-checked against an ANSI-SQL oracle.
# ---------------------------------------------------------------------------


def idf_double(doc_freq: int, doc_count: int) -> float:
    return math.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5))


def score_double(freq, quantized_dl, weight: float, avgdl: float,
                 k1: float = K1, b: float = B) -> np.ndarray:
    """Same BM25 shape in float64: w - w/(1 + freq/(k1*((1-b)+b*qdl/avgdl)))."""
    f = np.asarray(freq, dtype=np.float64)
    qdl = np.asarray(quantized_dl, dtype=np.float64)
    inv = 1.0 / (k1 * ((1.0 - b) + b * qdl / avgdl))
    return weight - weight / (1.0 + f * inv)
