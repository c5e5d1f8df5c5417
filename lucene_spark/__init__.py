"""lucene_spark — a PySpark-native inverted-index build + BM25 top-k query engine.

A from-scratch re-expression of the reference engine's capabilities
(Apache Lucene, jpountz/lucene @ /root/reference) on Spark DataFrames:

- index build  = tokenize (Arrow UDF) -> invert (map-side combine) ->
  grouped encode per (term-bucket, docid-range salt) -> FOR/PFor block
  encode -> flat Parquet postings (``bucket`` is a column, not a
  directory partition; lookups push it down as a filter)
- query serve  = driver-side terms-dictionary lookup (pyarrow over the
  sorted term_stats parquet, no Spark job; memoized per term) ->
  bucket-filtered postings scan -> vectorized block decode + float32
  BM25 -> per-partition top-k -> TakeOrderedAndProject global merge
- worker hook  = importing the package inside a Spark task makes the
  per-task zip-directory invalidation stat-checked (``worker_zipcache``)

Nothing is copied from the reference; reference files are cited in
docstrings (file:line) for the *semantics* each module replicates.
"""

__version__ = "0.1.0"

from lucene_spark import worker_zipcache
from lucene_spark.session import get_spark  # noqa: F401

worker_zipcache.install()
