"""Seeded workloads that measure the lucene_spark engine; see README.md."""
