"""Term vectors — the doc-major inverted view of each document.

Reference: ``codecs/lucene90/Lucene90TermVectorsFormat.java`` (per-doc
term/freq/position/offset records, opt-in via
``FieldType.setStoreTermVectors*``) and ``index/TermVectorsConsumer.java``
(the vectors are produced by the same inversion pass as the postings).

Spark shape: the postings table is term-major (term -> docs); term
vectors are the transpose (doc -> terms), stored as their OWN parquet
table so per-doc access never touches the postings. The table is
produced by one ``mapInPandas`` pass over the corpus snapshot — the
same pinned analyzer chain as the index build — and the snapshot is
already range-clustered by doc_id, so the vectors inherit that
clustering: a k-doc fetch prunes to a handful of parquet row groups
via the pushed ``doc_id`` filter (the row-aligned analog of Lucene's
per-doc vectors file + index). Like the reference, this is opt-in:
vectors roughly double the tokenize cost at build and store one row
per unique (doc, field, term).

At 100 TB the table stays doc-clustered (no shuffle is ever needed:
the map preserves the snapshot's partitioning), per-doc reads are
row-group pruned, and consumers (highlighting, MoreLikeThis) read
only the k hit docs' rows.
"""

from __future__ import annotations

import os
import time
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.index.commits import read_manifest
from lucene_spark.index.reader import read_parquet

TVEC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("freq", T.IntegerType()),
        # token positions of each occurrence, ascending
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        # character offsets of each occurrence: start / surface length
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("lengths", T.ArrayType(T.IntegerType())),
    ]
)


def _tvec_map(fields: list, analyzer: dict | None):
    """mapInPandas fn: corpus rows -> doc-major term vector rows.

    Same vectorized shape as the postings invert
    (index/builder.py:_invert_map) but doc-major: lexsort the flattened
    token stream by (doc, term, pos) so each (doc, term) run is one
    contiguous slice of the positions/offsets buffers
    (TermVectorsConsumerPerField.java finishes one doc's hash at a
    time; here the whole Arrow batch is one lexsort)."""
    from lucene_spark.analysis import analyze_batch

    _empty = pd.DataFrame(
        {
            "doc_id": np.array([], dtype=np.int64),
            "field": pd.array([], dtype=object),
            "term": pd.array([], dtype=object),
            "freq": np.array([], dtype=np.int32),
            "positions": pd.array([], dtype=object),
            "starts": pd.array([], dtype=object),
            "lengths": pd.array([], dtype=object),
        }
    )

    def fn(iterator):
        for pdf in iterator:
            for field_name, col in fields:
                an = analyze_batch(pdf[col], analyzer=analyzer, want_offsets=True)
                doc_ids = pdf["doc_id"].to_numpy()
                counts = np.fromiter(
                    (len(t) for t in an["terms"]), dtype=np.int64, count=len(an)
                )
                total = int(counts.sum())
                if total == 0:
                    yield _empty
                    continue
                terms_flat = pd.Series(
                    list(chain.from_iterable(an["terms"])), dtype=object
                )
                pos_flat = np.fromiter(
                    chain.from_iterable(an["positions"]), dtype=np.int64, count=total
                )
                off_flat = np.fromiter(
                    chain.from_iterable(an["offsets"]), dtype=np.int64, count=2 * total
                ).reshape(-1, 2)
                doc_rep = np.repeat(doc_ids, counts)
                term_codes, uniq = pd.factorize(terms_flat, sort=False)
                order = np.lexsort((pos_flat, term_codes, doc_rep))
                dc = doc_rep[order]
                tc = term_codes[order]
                ps = pos_flat[order]
                st = off_flat[:, 0][order]
                ln = off_flat[:, 1][order]
                change = np.empty(total, dtype=bool)
                change[0] = True
                change[1:] = (dc[1:] != dc[:-1]) | (tc[1:] != tc[:-1])
                starts_i = np.flatnonzero(change)
                freqs = np.diff(np.append(starts_i, total))
                cuts = starts_i[1:]  # np.split boundaries
                yield pd.DataFrame(
                    {
                        "doc_id": dc[starts_i],
                        "field": field_name,
                        "term": uniq[tc[starts_i]],
                        "freq": freqs.astype(np.int32),
                        "positions": [
                            a.astype(np.int32) for a in np.split(ps, cuts)
                        ],
                        "starts": [a.astype(np.int32) for a in np.split(st, cuts)],
                        "lengths": [a.astype(np.int32) for a in np.split(ln, cuts)],
                    }
                )

    return fn


def build_term_vectors(
    spark: SparkSession, index_dir: str, resume: bool = True
) -> str:
    """Materialize the ``tvec`` table for an existing index and commit it
    into the manifest (a resumable stage, like every build stage). Uses
    the manifest-pinned analyzer/fields so the vectors are exactly what
    the postings inversion saw."""
    from lucene_spark.index.builder import _stage_done, _update_manifest

    tvec_path = os.path.join(index_dir, "tvec")
    if resume and _stage_done(index_dir, "stage4_tvec"):
        return tvec_path
    manifest = read_manifest(index_dir)
    text_col = manifest["text_col"]
    fields = sorted(
        manifest.get("fields", {text_col: text_col}).items()
    )
    t0 = time.time()
    corpus = manifest["paths"]["corpus"]
    corpus = read_parquet(spark, *([corpus] if isinstance(corpus, str) else corpus))
    field_cols = sorted({c for _, c in fields})
    tvec = corpus.select("doc_id", *field_cols).mapInPandas(
        _tvec_map(fields, manifest.get("analyzer")), schema=TVEC_SCHEMA
    )
    tvec.write.mode("overwrite").parquet(tvec_path)
    _update_manifest(
        index_dir,
        "stage4_tvec",
        {"path": tvec_path, "elapsed_sec": round(time.time() - t0, 2)},
        extra={
            "paths": {**manifest["paths"], "tvec": tvec_path},
            "with_term_vectors": True,
        },
    )
    return tvec_path


def highlight_from_tvec(
    index,
    hits: DataFrame,
    terms: list[str],
    field: str | None = None,
    window: int = 120,
    pre: str = "<b>",
    post: str = "</b>",
) -> DataFrame:
    """Offset-accurate highlighting sourced from STORED TERM VECTORS
    (UnifiedHighlighter OffsetSource.TERM_VECTORS,
    highlighter/.../TermVectorOffsetStrategy.java): no re-tokenize, no
    postings decode — one doc_id-pruned read of the k hit docs' vector
    rows for the query terms, then the shared passage builder.

    Unlike the postings offset source (highlight.highlight_from_index),
    which scans the TERM-major table and slices to hit docs, this reads
    the DOC-major table: cost is O(hit docs), independent of the query
    terms' document frequency — the right source when a hot term's
    postings row is huge but k is small."""
    from lucene_spark.search.highlight import _passage_from_spans

    tv = index.term_vectors
    if tv is None:
        raise ValueError(
            "index has no term vectors (build_term_vectors(spark, index_dir))"
        )
    terms = [t.lower() for t in terms]
    fld = index.resolve_field(field)
    hit_ids = [int(r["doc_id"]) for r in hits.select("doc_id").collect()]
    rows = tv.filter(
        F.col("doc_id").isin(hit_ids)
        & (F.col("field") == fld)
        & F.col("term").isin(terms)
    ).select("doc_id", "starts", "lengths")
    text_col = index.manifest["text_col"]
    fetched = F.broadcast(hits.select("doc_id")).join(
        index.corpus.select("doc_id", text_col), "doc_id"
    )
    joined = fetched.join(rows, "doc_id", "left")

    _HL_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("passage", T.StringType()),
            T.StructField("n_matches", T.IntegerType()),
            T.StructField("first_offset", T.IntegerType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iat[0])
        text = pdf[text_col].iat[0] or ""
        spans = set()
        for st, ln in zip(pdf["starts"], pdf["lengths"]):
            if st is None or (isinstance(st, float) and pd.isna(st)):
                continue
            for s, l in zip(st, ln):
                spans.add((int(s), int(s) + int(l)))
        p, n, fo = _passage_from_spans(text, sorted(spans), window, pre, post)
        return pd.DataFrame(
            {
                "doc_id": [doc_id],
                "passage": [p],
                "n_matches": [n],
                "first_offset": [fo],
            }
        )

    return joined.groupBy("doc_id").applyInPandas(build, schema=_HL_SCHEMA)
