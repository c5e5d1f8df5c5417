"""Distributed inverted-index build: the IndexWriter analog.

Pipeline (reference lifecycle at index/IndexWriter.java:1476 ->
DocumentsWriterPerThread.java:209-247 -> Lucene90PostingsWriter, re-shaped
for Spark's execution model; see SURVEY.md §3.1):

stage0  corpus snapshot + deterministic global docIDs
        Reference docIDs are ingest-order ints
        (DocumentsWriterPerThread.java:239). We make that order explicit
        and cluster-reproducible: rank over a stable key. Implemented
        scalably as repartitionByRange(key) + sortWithinPartitions + a
        per-partition-count offset pass (no single-partition window).
        Written to <index>/corpus — the stored-fields analog
        (Lucene90StoredFieldsFormat.java:40-54; Parquet already gives us
        compressed columnar row storage) and the lineage checkpoint.

stage1  tokenize + invert + encode
        mapInPandas(tokenize batch, count freqs per (doc,term)) is the
        DWPT in-RAM hash analog (index/TermsHashPerField.java); the
        shuffle to (bucket(term), salt(docid-range)) is the SegmentMerger
        analog (index/SegmentMerger.java:107-142) — *salted* so a hot
        term ("the", "license") spreads over many reducers, a skew the
        single-node reference never faces. Each (term, salt) group
        becomes one postings row holding FOR/PFor-compressed blocks
        (codec.py). Posting rows stay sharded by docID range — shards
        are disjoint and mergeable by concatenation, so queries never
        need a giant single row per term (Lucene's analog: one term's
        postings span segments).

stage2  docs table (doc_id, dl, norm, keyword cols) — dl captured as an
        int column during the stage0 snapshot write (the pass already
        holding the text), so this is a column-pruned projection: no
        second tokenize/regex pass over the text anywhere.

stage3  term_stats (field, term, df, ttf, bucket) — the terms
        dictionary analog (blocktree Lucene90BlockTreeTermsWriter.java:198;
        we need no FST: the table is written sorted by (field, bucket,
        term) in ~1 MB row groups, so the reader's driver-side lookup
        reads only the row groups whose statistics span a query term —
        see write_term_stats).

manifest.json — SegmentInfos analog (index/SegmentInfos.java:113):
        global stats (N, sumTotalTermFreq), build params, per-stage AND
        per-partition lineage (every output file with row count and key
        span, from parquet footers — see _file_lineage), completion
        flags for resume. Commit = atomic rename, like Lucene's
        segments_N protocol.

Every build stage is idempotent and individually resumable: a stage whose
output + manifest entry exist is skipped on re-run (checkpoint-resume with
per-partition lineage recorded per stage).
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.analysis import analyze_batch
from lucene_spark.index import commits as _commits
from lucene_spark.codec import encode_posting_blocks, encode_value_stream
from lucene_spark.index.reader import read_parquet

BLOCK_STRUCT = T.StructType(
    [
        T.StructField("num", T.IntegerType()),
        T.StructField("first_docid", T.LongType()),
        T.StructField("last_docid", T.LongType()),
        T.StructField("bpv_docs", T.IntegerType()),
        T.StructField("docs", T.BinaryType()),
        T.StructField("bpv_freqs", T.IntegerType()),
        T.StructField("freqs", T.BinaryType()),
        T.StructField("fexc", T.BinaryType()),
        T.StructField("norms", T.BinaryType()),
        T.StructField(
            "impacts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("freq", T.IntegerType()),
                        T.StructField("norm", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        # per-field postings: the reference data model is per-field
        # everywhere (index/FieldInfos.java, IndexingChain.java:583-603);
        # a (field, term) pair is the dictionary key
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("ttf", T.LongType()),
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT)),
        T.StructField("pos", T.BinaryType()),
        # optional char offsets (IndexOptions ..._AND_OFFSETS,
        # Lucene90PostingsFormat.java:64-78): per position a
        # (startOffset delta, surface length) u32 pair; b"" when the
        # index was built without with_offsets (opt-in — offsets double
        # the per-position payload, so the default build never pays)
        T.StructField("off", T.BinaryType()),
        # optional per-position payloads (PayloadAttribute,
        # Lucene90PostingsFormat .pay file): one f32 (stored as its u32
        # bit pattern in the same FOR value-stream codec) per position,
        # aligned with the pos stream; b"" when built without payloads
        T.StructField("pay", T.BinaryType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)

INVERTED_SCHEMA = T.StructType(
    [
        # map-side PARTIALLY AGGREGATED postings chunks (the DWPT
        # in-memory segment analog, index/DocumentsWriterPerThread.java):
        # one row per (field, term, salt) per Arrow batch, docs packed
        # as fixed-width binary. The previous per-(term, doc) row layout
        # shuffled ~60 rows per doc; Tungsten's per-row overhead (hash,
        # row header, two string columns) dominated the exchange and
        # capped N->4N build scaling. Chunking collapses the exchange to
        # ~unique-terms-per-batch rows (measured 10-40x fewer) while the
        # byte payload stays identical.
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        # first docID-offset in the chunk (ordering key for the merge;
        # chunks from range-clustered input rarely interleave)
        T.StructField("first_off", T.LongType()),
        # per-doc docID offsets within the salt shard, u32le each
        T.StructField("doc_bytes", T.BinaryType()),
        # per-doc term frequency, u32le each, aligned with doc_bytes
        T.StructField("freq_bytes", T.BinaryType()),
        # per-doc SmallFloat norm, u32le each, aligned with doc_bytes
        T.StructField("norm_bytes", T.BinaryType()),
        # concatenated per-doc position DELTA streams (u32le; each doc's
        # deltas restart at its first position, so chunk concatenation
        # is associative)
        T.StructField("pos_bytes", T.BinaryType()),
        # (start_delta, len) u32 pairs per position, b"" unless offsets on
        T.StructField("off_bytes", T.BinaryType()),
        # f32 payload bits per position, b"" unless payloads on
        T.StructField("pay_bytes", T.BinaryType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
    ]
)


def term_bucket_py(terms: pd.Series, num_buckets: int) -> np.ndarray:
    """Stable term -> bucket hash (md5 low 8 bytes, little-endian).

    Matches DuckDB's md5_number_lower so oracles can reproduce it.
    """
    import hashlib

    return np.fromiter(
        (
            int.from_bytes(hashlib.md5(t.encode()).digest()[8:16], "little")
            % num_buckets
            for t in terms
        ),
        dtype=np.int64,
        count=len(terms),
    )


def _assign_doc_ids(
    df: DataFrame, order_cols: list[str], parts: int, base: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Deterministic global rank from ``base`` with ONE text shuffle, no
    join, no single-partition window.

    The full rows range-repartition by the key columns (the range
    sampling pass projects ONLY the keys — column-pruned at the source —
    so text bytes move exactly once) and sort within partitions for a
    total order. monotonically_increasing_id() then yields the
    per-partition row index (documented layout: partition id in the
    upper bits, consecutive record number in the lower 33); one tiny
    count job per partition gives global offsets, looked up by
    partition id in a literal array (a Catalyst constant: no Python
    rows, no broadcast job). doc_id = offset[pid] + local index == base
    + the global key rank, so the OUTPUT partitions already ARE
    contiguous docID ranges — the corpus write needs no second
    repartition and no sampling pass over the text. Any violation of
    the layout assumption fails loudly in _check_doc_ids (rows ==
    distinct ids == [base, base + N) is asserted per write).

    Returns the ranked frame and the persisted sorted rows it reads;
    the caller unpersists those once the ranked frame is written.

    `order_cols` must be a unique key (the reference ingest order is a
    total order; repo/path/commit is unique by construction)."""
    sdf = df.repartitionByRange(
        parts, *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)
    sdf = sdf.withColumn("__mid", F.monotonically_increasing_id())
    # PIN the partitioning: range boundaries come from sampling, and two
    # separate actions (the count below, the corpus write later) would
    # otherwise sample independently and could disagree on boundaries —
    # offsets from one layout applied to another. MEMORY_AND_DISK also
    # means the sorted rows materialize once and the corpus write reads
    # them back instead of re-shuffling. (At petabyte scale the same pin
    # is a localCheckpoint / staged write; the invariant check after the
    # write fails loudly if a layout mismatch ever slips through.)
    sdf = sdf.persist()
    pid = F.shiftright(F.col("__mid"), 33)
    row = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    try:
        counts = dict(sdf.groupBy(pid.alias("__pid")).count().collect())
    except BaseException:
        sdf.unpersist()
        raise
    offsets, acc = [], base
    for p in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(p, 0)
    off = F.array(*[F.lit(o).cast("long") for o in offsets])
    ranked = sdf.withColumn(
        "doc_id", F.element_at(off, (pid + 1).cast("int")) + row
    ).drop("__mid")
    return ranked, sdf


def _check_doc_ids(spark: SparkSession, corpus_path: str, base: int = 0) -> int:
    """Invariant check after docID assignment: every row got exactly one
    doc_id, ids dense in [base, base + N) (a build's corpus starts at 0,
    an appended segment's at the index's max_doc). Returns N. Proven
    from parquet FOOTER statistics alone — zero Spark jobs, no
    countDistinct shuffle (the check it replaces was a full-scan +
    exchange; at 10^12 rows footers are O(files)). The proof: each
    written file covers doc_id span [min, max] with rows == max-min+1
    (so if the spans are pairwise disjoint and their union is exactly
    [base, base + N), every id occurs exactly once). Disjointness + coverage are checked by sorting spans. Falls
    back to a Spark aggregate when any footer lacks doc_id stats."""
    import pyarrow.parquet as pq

    spans: list[tuple[int, int, int]] = []  # (lo, hi, rows)
    ok = True
    total = 0
    for name in os.listdir(corpus_path):
        if not name.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(corpus_path, name))
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if "doc_id" not in idx:
            ok = False
            break
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx["doc_id"])
            st = col.statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            rows = md.row_group(rg).num_rows
            if rows:
                spans.append((int(st.min), int(st.max), rows))
                total += rows
        if not ok:
            break

    if ok:
        bad = None
        spans.sort()
        expect = base
        for lo, hi, rows in spans:
            if lo != expect or hi - lo + 1 != rows:
                bad = (lo, hi, rows, expect)
                break
            expect = hi + 1
        if bad is None and (not spans or expect == base + total):
            return total
        raise ValueError(
            f"docID assignment violated: file span {bad} does not continue "
            f"a dense [{base}, {base} + N) sequence (total rows={total}) — "
            "order_cols is not a unique key (duplicate rows fan out) or ids "
            "were dropped"
        )

    chk = read_parquet(spark, corpus_path).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("doc_id").alias("ids"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    rows, ids = int(chk["rows"]), int(chk["ids"])
    if rows and (
        ids != rows
        or int(chk["lo"]) != base
        or int(chk["hi"]) != base + rows - 1
    ):
        raise ValueError(
            f"docID assignment violated: rows={rows} distinct_ids={ids} "
            f"range=[{chk['lo']},{chk['hi']}] — order_cols is not a unique "
            "key (duplicate rows fan out) or ids were dropped"
        )
    return rows


def _make_dl_expr(analyzer: dict | None):
    """Per-field doc-length column factory for the docs table.

    Default chains (standard OR uax29 tokenizer, no fold/stop/wd): ONE
    JVM regexp_count of the token-PIECE regex — each match is one
    emitted token piece including the 255-split and (for uax29) the
    separator-join semantics (analysis.UAX_PIECE_REGEX_SQL), so the
    count IS dl. Stays inside whole-stage codegen, no token-array
    materialization, no substitution passes (the previous
    regexp_extract_all + aggregate form was ~60% of the docs-stage wall
    at small scale — and the pre-uax29-default form silently counted
    plain tokens under a uax29 inverter, a dl/norm divergence on any
    corpus with "foo.bar"/"3.14"-style tokens). When the analyzer folds
    chars or removes stopwords the token COUNT itself depends on the
    Python chain, so an Arrow-batched UDF running the real analyzer
    (synonyms/stemmers stripped: neither changes dl) replaces it."""
    from lucene_spark.analysis import (
        PIECE_REGEX_SQL,
        UAX_PIECE_REGEX_SQL,
        _norm_analyzer,
    )

    ja = any(
        (analyzer or {}).get(k) not in (None, False)
        for k in ("ja", "ko", "zh")
    )
    if ja:
        # Japanese Viterbi chain (analysis_ja): dl is inherently a
        # product of the lattice — always the real-analyzer UDF
        tokenizer, fold, stopset, wd, cjk, fp, cf = (
            "ja", False, None, False, False, None, None)
    else:
        (tokenizer, fold, stopset, _syn, _ko, _filters, wd, _sh,
         cjk, _phon, fp, cf) = _norm_analyzer(analyzer)
    if (ja or fold or stopset or wd or cjk or fp is not None or cf
            or tokenizer not in ("standard", "uax29")):
        # synonyms/filters/phonetic never change dl: injections are
        # posIncr=0 overlaps (discounted), replaces are 1:1
        dl_conf = {**(analyzer or {}), "synonyms": {}, "filters": [],
                   "phonetic": None}

        def dl_expr_for(col: str):
            @F.pandas_udf(T.LongType())
            def dl_udf(texts: pd.Series) -> pd.Series:
                return pd.Series(
                    analyze_batch(texts, analyzer=dl_conf)["dl"].to_numpy()
                )

            return dl_udf(F.col(col))

        return dl_expr_for

    if tokenizer == "standard":

        def dl_expr_for(col: str):
            return F.coalesce(
                F.regexp_count(
                    F.lower(F.col(col)), F.lit(PIECE_REGEX_SQL)
                ).cast("long"),
                F.lit(0).cast("long"),
            )

        return dl_expr_for

    # uax29: run-count minus join-count (two cheap class-first regex
    # scans; the per-char lookaround alternation of UAX_PIECE_REGEX_SQL
    # is ~4x slower). Each eligible separator merges two runs, so
    # tokens = runs - joins; chains count correctly because the join
    # pattern consumes only the LEFT flank (lookahead on the right).
    # The subtraction can't do 255-piece accounting across joins, so any
    # row holding 256+ consecutive token/separator chars (a joined run
    # that might need splitting — vanishingly rare) falls back to the
    # exact piece regex via a lazily-evaluated when().
    def dl_expr_for(col: str):
        low = F.lower(F.col(col))
        fast = F.regexp_count(low, F.lit("[0-9a-z_]+")) - F.regexp_count(
            low, F.lit("[a-z]['.](?=[a-z])|[0-9]['.](?=[0-9])")
        )
        exact = F.regexp_count(low, F.lit(UAX_PIECE_REGEX_SQL))
        return F.coalesce(
            F.when(low.rlike("[0-9a-z_'.]{256}"), exact)
            .otherwise(fast)
            .cast("long"),
            F.lit(0).cast("long"),
        )

    return dl_expr_for


def _write_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    *,
    text_col: str,
    fields: list[tuple[str, str]],
    analyzer: dict | None,
    doc_id_col: str | None,
    order_cols: list[str] | None,
    parts: int,
    base: int = 0,
) -> int:
    """Stage 0 of a build and of an append: write the corpus snapshot
    with docIDs from ``base``, its sha256 and each field's doc length
    (computed in the pass that already holds the text, so the docs table
    projects ints and never re-scans it); return its row count.

    ``doc_id_col`` ids are shifted by ``base`` and range-clustered, so
    files align with docID ranges. Otherwise _assign_doc_ids ranks by
    ``order_cols``: its output is already range-clustered, so no second
    repartition runs, and the footer check proves the ids dense."""
    sorted_rows = None
    if doc_id_col:
        snap = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long") + base)
        if doc_id_col != "doc_id":
            snap = snap.drop(doc_id_col)
        snap = snap.repartitionByRange(parts, F.col("doc_id"))
    else:
        snap, sorted_rows = _assign_doc_ids(
            corpus, order_cols or corpus.columns, parts, base
        )
    snap = snap.withColumn("sha256", F.sha2(F.col(text_col), 256))
    for f, c in fields:
        snap = snap.withColumn(
            f"__dl__{f}", _make_dl_expr(analyzer)(c).cast("int")
        )
    try:
        snap.write.mode("overwrite").parquet(path)
    finally:
        if sorted_rows is not None:
            sorted_rows.unpersist()
    if doc_id_col:
        return _parquet_rows(path)
    return _check_doc_ids(spark, path, base)


def _dl_name(f: str, text_col: str) -> str:
    """A field's docs-table dl column; the default field keeps the legacy
    bare name (its norm column is likewise ``norm``, others ``norm__<f>``)."""
    return "dl" if f == text_col else f"dl__{f}"


def _norm_expr(dl) -> Column:
    """SmallFloat.intToByte4(dl) (smallfloat.int_to_byte4) as a Catalyst
    expression, so the docs write crosses into no Python worker. Below
    NUM_FREE_VALUES (24) the length is its own byte; above, x = dl - 24
    keeps its top 4 significant bits: sh = bit length(x) - 4, byte =
    ((x >> sh) & 7 | (sh + 1) << 3) + 24, and x < 8 (sh < 0) is exact."""
    x = dl - 24
    sh = F.length(F.bin(x)) - 4
    enc = F.call_function("shiftright", x, sh).bitwiseAND(7).bitwiseOR(
        F.call_function("shiftleft", sh + 1, F.lit(3))
    )
    return (
        F.when(dl < 24, dl).when(sh < 0, x + 24).otherwise(enc + 24).cast("int")
    )


def _doc_stat_aggs(field_names: list[str], text_col: str) -> list[Column]:
    """A segment's collection statistics over its docs table: n, and per
    field sum_dl__<f> (sumTotalTermFreq) and doc_count__<f> (docs with a
    token)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for f in field_names:
        dn = _dl_name(f, text_col)
        aggs.append(F.sum(dn).alias(f"sum_dl__{f}"))
        aggs.append(F.count(F.when(F.col(dn) > 0, 1)).alias(f"doc_count__{f}"))
    return aggs


def _field_stats(stats: dict, field_names: list[str]) -> dict:
    """The manifest's field_stats from a _doc_stat_aggs row."""
    return {
        f: {
            "sum_ttf": int(stats[f"sum_dl__{f}"] or 0),
            "doc_count": int(stats[f"doc_count__{f}"]),
        }
        for f in field_names
    }


def _observed_write(df: DataFrame, path: str, aggs: list[Column]) -> dict:
    """Write ``df`` to ``path`` and return ``aggs`` over its rows,
    observed during the write (no job reads the table back). The
    observed row count ``n`` is checked against the parquet footers."""
    obs = Observation()
    df.observe(obs, *aggs).write.mode("overwrite").parquet(path)
    stats = dict(obs.get)
    rows = _parquet_rows(path)
    if int(stats["n"]) != rows:
        raise RuntimeError(
            f"observed {stats['n']} rows while writing {path}, "
            f"its footers hold {rows}"
        )
    return stats


def _write_docs(
    corpus: DataFrame,
    path: str,
    *,
    fields: list[tuple[str, str]],
    text_col: str,
    keep_cols: list[str],
    analyzer: dict | None,
    soft_deletes_field: str | None,
) -> dict:
    """Write a segment's docs table (doc_id, kept columns, per-field dl
    and norm, the soft-deletes column) from its corpus snapshot and
    return the segment's _doc_stat_aggs, observed during the write.

    dl was computed during the stage0 write, so this is a column-pruned
    int read — no text touched; snapshots without it (resume of an old
    index) fall back to the full expression. norm is _norm_expr."""
    dl_expr_for = _make_dl_expr(analyzer)

    def dl_source(f: str, c: str):
        if f"__dl__{f}" in corpus.columns:
            return F.col(f"__dl__{f}")
        return dl_expr_for(c).cast("int")

    docs = corpus.select(
        "doc_id",
        *keep_cols,
        *[dl_source(f, c).alias(_dl_name(f, text_col)) for f, c in fields],
    )
    for f, _c in fields:
        dn = _dl_name(f, text_col)
        docs = docs.withColumn(dn.replace("dl", "norm", 1), _norm_expr(F.col(dn)))
    if soft_deletes_field:
        if soft_deletes_field in docs.columns:
            raise ValueError(
                f"soft_deletes_field {soft_deletes_field!r} collides "
                f"with an existing docs column"
            )
        docs = docs.withColumn(soft_deletes_field, F.lit(None).cast("long"))
    return _observed_write(
        docs, path, _doc_stat_aggs([f for f, _ in fields], text_col)
    )


# Payload sources (queries/payloads/PayloadScoreQuery.java consumes
# them): a vectorized fn over the ORDERED flat term array -> f32 per
# position. "token_length" is the built-in deterministic source (oracle-
# checkable); a DelimitedPayloadTokenFilter-style source plugs in here.
_PAYLOAD_SOURCES = {
    "token_length": lambda terms: np.fromiter(
        (len(t) for t in terms), dtype=np.float32, count=len(terms)
    ),
}


def _invert_map(fields: list, salt_rows: int, num_buckets: int,
                with_positions: bool, analyzer: dict | None = None,
                with_offsets: bool = False):
    """mapInPandas fn: corpus rows -> partially aggregated postings
    chunks, one row per (field, term, salt) per Arrow batch (see
    INVERTED_SCHEMA) — one inverted stream per field
    (IndexingChain.java:583-603 inverts each indexed field of a doc).

    `fields`: list of (field_name, source_column) pairs.

    Fully vectorized per Arrow batch (the DWPT in-RAM hash analog,
    index/TermsHashPerField.java, as a lexsort + run-length group-by):
    flatten every doc's token stream, factorize terms once per batch,
    lexsort by (term, doc, pos), cut (term, doc) runs and (term, salt)
    chunks with np.diff, and pack each chunk's per-doc arrays as raw
    u32le buffers — no per-token Python in the hot path. Buckets are
    md5-hashed per *unique* term.
    """
    from itertools import chain

    pay_source = _PAYLOAD_SOURCES.get((analyzer or {}).get("payloads") or "")
    _empty = pd.DataFrame(
        {
            "field": pd.array([], dtype=object),
            "term": pd.array([], dtype=object),
            "first_off": np.array([], dtype=np.int64),
            "doc_bytes": pd.array([], dtype=object),
            "freq_bytes": pd.array([], dtype=object),
            "norm_bytes": pd.array([], dtype=object),
            "pos_bytes": pd.array([], dtype=object),
            "off_bytes": pd.array([], dtype=object),
            "pay_bytes": pd.array([], dtype=object),
            "bucket": np.array([], dtype=np.int32),
            "salt": np.array([], dtype=np.int32),
        }
    )

    def fn(iterator):
        for pdf in iterator:
          for field_name, col in fields:
            an = analyze_batch(pdf[col], analyzer=analyzer,
                               want_offsets=with_offsets)
            doc_ids = pdf["doc_id"].to_numpy()
            # EMITTED tokens per doc (>= dl when the analyzer injects
            # synonym overlaps; dl/norm discount those, the stream no)
            counts = np.fromiter(
                (len(t) for t in an["terms"]), dtype=np.int64, count=len(an)
            )
            total = int(counts.sum())
            if total == 0:
                yield _empty
                continue
            terms_flat = pd.Series(list(chain.from_iterable(an["terms"])), dtype=object)
            pos_flat = np.fromiter(
                chain.from_iterable(an["positions"]), dtype=np.int64, count=total
            )
            doc_rep = np.repeat(doc_ids, counts)
            norm_rep = np.repeat(an["norm"].to_numpy(), counts)
            term_codes, uniq = pd.factorize(terms_flat, sort=False)
            # term-major sort: (term, doc, pos) — a (term, salt) chunk is
            # then one contiguous slice of every per-token buffer
            order = np.lexsort((pos_flat, doc_rep, term_codes))
            tc = term_codes[order]
            dc = doc_rep[order]
            ps = pos_flat[order]
            # run boundaries where (term, doc) changes
            change = np.empty(total, dtype=bool)
            change[0] = True
            change[1:] = (dc[1:] != dc[:-1]) | (tc[1:] != tc[:-1])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], total)
            freqs = np.diff(np.append(starts, total)).astype(np.int64)
            uniq_buckets = term_bucket_py(pd.Series(uniq), num_buckets).astype(np.int32)
            # run-level (per term-doc) arrays
            run_tc = tc[starts]
            run_doc = dc[starts]
            run_salt = run_doc // salt_rows
            run_off = (run_doc % salt_rows).astype(np.uint32)
            run_norm = norm_rep[order][starts].astype(np.uint32)
            n_runs = len(starts)
            # chunk boundaries where (term, salt) changes across runs
            cchange = np.empty(n_runs, dtype=bool)
            cchange[0] = True
            cchange[1:] = (run_tc[1:] != run_tc[:-1]) | (
                run_salt[1:] != run_salt[:-1]
            )
            cstarts = np.flatnonzero(cchange)
            cends = np.append(cstarts[1:], n_runs)
            csl = cstarts.tolist()
            cel = cends.tolist()
            dbuf = run_off.tobytes()
            fbuf = freqs.astype(np.uint32).tobytes()
            nbuf = run_norm.tobytes()
            doc_bytes = [dbuf[4 * s : 4 * e] for s, e in zip(csl, cel)]
            freq_bytes = [fbuf[4 * s : 4 * e] for s, e in zip(csl, cel)]
            norm_bytes = [nbuf[4 * s : 4 * e] for s, e in zip(csl, cel)]
            # token-index extent of each chunk in the sorted stream
            tsl = starts[cstarts].tolist()
            tel = ends[cends - 1].tolist()
            if with_positions:
                # one vectorized delta pass over the whole sorted stream:
                # delta[i] = pos[i] - pos[i-1] within a run, run starts
                # restart from 0 — then slice the u32 buffer per chunk
                deltas = np.diff(ps, prepend=np.int64(0))
                deltas[starts] = ps[starts]
                buf = deltas.astype(np.uint32).tobytes()
                pos_bytes = [buf[4 * s : 4 * e] for s, e in zip(tsl, tel)]
            else:
                pos_bytes = [b""] * len(cstarts)
            if with_offsets:
                # same delta trick on char start offsets, interleaved
                # with surface lengths: (start_delta, len) u32 per token
                off_flat = np.fromiter(
                    chain.from_iterable(an["offsets"]),
                    dtype=np.int64, count=2 * total,
                ).reshape(-1, 2)
                ost = off_flat[:, 0][order]
                oln = off_flat[:, 1][order]
                od = np.diff(ost, prepend=np.int64(0))
                od[starts] = ost[starts]
                inter = np.empty((total, 2), dtype=np.uint32)
                inter[:, 0] = od.astype(np.uint32)
                inter[:, 1] = oln.astype(np.uint32)
                obuf = inter.tobytes()
                off_bytes = [obuf[8 * s : 8 * e] for s, e in zip(tsl, tel)]
            else:
                off_bytes = [b""] * len(cstarts)
            if pay_source is not None:
                # f32 bit patterns, one per position, sliced per chunk in
                # the same sorted order as the pos stream
                pay_flat = pay_source(terms_flat)[order]
                pbuf = pay_flat.view(np.uint32).tobytes()
                pay_bytes = [pbuf[4 * s : 4 * e] for s, e in zip(tsl, tel)]
            else:
                pay_bytes = [b""] * len(cstarts)
            yield pd.DataFrame(
                {
                    "field": pd.array([field_name] * len(cstarts), dtype=object),
                    "term": uniq.take(run_tc[cstarts]),
                    "first_off": run_off[cstarts].astype(np.int64),
                    "doc_bytes": doc_bytes,
                    "freq_bytes": freq_bytes,
                    "norm_bytes": norm_bytes,
                    "pos_bytes": pos_bytes,
                    "off_bytes": off_bytes,
                    "pay_bytes": pay_bytes,
                    "bucket": uniq_buckets[run_tc[cstarts]],
                    "salt": run_salt[cstarts].astype(np.int32),
                }
            )

    return fn


def _token_permute(run_lens: np.ndarray, perm: np.ndarray) -> np.ndarray:
    """Token-level gather indices that reorder per-doc variable-length
    token runs (lengths ``run_lens``) into ``perm`` order — vectorized
    (np.repeat + cumsum), no per-doc loop."""
    starts = np.cumsum(run_lens) - run_lens
    lens_p = run_lens[perm]
    tot = int(lens_p.sum())
    offs = np.repeat(starts[perm], lens_p)
    within = np.arange(tot, dtype=np.int64) - np.repeat(
        np.cumsum(lens_p) - lens_p, lens_p
    )
    return offs + within


def _encode_group(with_positions: bool, with_offsets: bool = False,
                  with_payloads: bool = False, salt_rows: int = 1 << 14):
    """applyInPandas fn over (bucket, salt): merge the map-side chunks
    of every (field, term) in the group and block-encode them — the
    SegmentMerger step, consuming partially aggregated chunk rows
    (INVERTED_SCHEMA) instead of per-(term, doc) rows."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_rows = []
        base = int(pdf["salt"].iat[0]) * salt_rows if len(pdf) else 0
        pdf = pdf.sort_values(["field", "term", "first_off"], kind="mergesort")
        for (field_name, term), g in pdf.groupby(["field", "term"], sort=False):
            doc_ids = np.frombuffer(
                b"".join(bytes(b) for b in g["doc_bytes"]), dtype=np.uint32
            ).astype(np.int64) + base
            freqs = np.frombuffer(
                b"".join(bytes(b) for b in g["freq_bytes"]), dtype=np.uint32
            ).astype(np.int64)
            norms = np.frombuffer(
                b"".join(bytes(b) for b in g["norm_bytes"]), dtype=np.uint32
            ).astype(np.int64)
            # chunks from range-clustered input concatenate in docID
            # order (first_off sort); if batches ever interleave, fall
            # back to a vectorized token-level permutation
            perm = None
            if len(doc_ids) > 1 and np.any(doc_ids[1:] < doc_ids[:-1]):
                perm = np.argsort(doc_ids, kind="mergesort")
                doc_ids = doc_ids[perm]
                tok_idx = _token_permute(freqs, perm)
                freqs = freqs[perm]
                norms = norms[perm]
            blocks = encode_posting_blocks(doc_ids, freqs, norms)
            if with_positions:
                # chunks are already concatenated per-doc delta streams
                # (u32le) — one join + frombuffer, no per-doc diff loop
                allb = np.frombuffer(
                    b"".join(bytes(b) for b in g["pos_bytes"]), dtype=np.uint32
                )
                if perm is not None:
                    allb = allb[tok_idx]
                pos_bin = encode_value_stream(allb.astype(np.uint64))
            else:
                pos_bin = b""
            if with_offsets:
                allo = np.frombuffer(
                    b"".join(bytes(b) for b in g["off_bytes"]), dtype=np.uint32
                )
                if perm is not None:
                    # 2 u32 words per token: expand token gather to words
                    w = np.repeat(tok_idx * 2, 2)
                    w[1::2] += 1
                    allo = allo[w]
                off_bin = encode_value_stream(allo.astype(np.uint64))
            else:
                off_bin = b""
            if with_payloads:
                allp = np.frombuffer(
                    b"".join(bytes(b) for b in g["pay_bytes"]), dtype=np.uint32
                )
                if perm is not None:
                    allp = allp[tok_idx]
                pay_bin = encode_value_stream(allp.astype(np.uint64))
            else:
                pay_bin = b""
            out_rows.append(
                {
                    "field": field_name,
                    "term": term,
                    "salt": int(g["salt"].iat[0]),
                    "df": int(len(doc_ids)),
                    "ttf": int(freqs.sum()),
                    "blocks": blocks,
                    "pos": pos_bin,
                    "off": off_bin,
                    "pay": pay_bin,
                    "bucket": int(g["bucket"].iat[0]),
                }
            )
        return pd.DataFrame(out_rows, columns=POSTINGS_SCHEMA.fieldNames())

    return fn


def _read_postings(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Segment postings unioned for a merge, projected to the columns of
    POSTINGS_SCHEMA: a column an older build wrote and nothing reads is
    not shipped to the merge UDF. A column missing from some segments
    (a pre-upgrade segment) is null-filled."""
    allp = read_parquet(spark, paths[0])
    for p in paths[1:]:
        allp = allp.unionByName(read_parquet(spark, p), allowMissingColumns=True)
    return allp.select(
        *[c for c in POSTINGS_SCHEMA.fieldNames() if c in allp.columns]
    )


def write_term_stats(postings: DataFrame, path: str) -> None:
    """Write a segment's terms dictionary — one (field, term) row with
    df, ttf summed over its salt rows and the term's bucket. Rows are
    sorted by (field, bucket, term) within each task and written in
    ~1 MB row groups, so each row group's min/max
    statistics span a narrow key range and ``Index.stats_for_terms``
    prunes a lookup to a few row groups at any dictionary size. The sort
    is task-local: no shuffle and no job beyond the write."""
    stats = postings.groupBy("field", "term").agg(
        F.sum("df").alias("df"),
        F.sum("ttf").alias("ttf"),
        F.first("bucket").alias("bucket"),
    )
    stats.sortWithinPartitions("field", "bucket", "term").write.mode(
        "overwrite"
    ).option("parquet.block.size", 1 << 20).parquet(path)


def _parquet_rows(path: str) -> int:
    """Row count of a just-written parquet directory from file footers —
    metadata only, NO Spark job. Each small count job costs a fixed
    scheduler/worker round-trip that dominates small-scale builds; the
    footer sum is exact and instant at any scale (pyarrow datasets read
    only the metadata pages, local or object store)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _file_lineage(path: str, stat_cols: tuple = (), cap: int = 1024) -> dict:
    """Per-output-partition lineage from parquet footers (O(files), no
    Spark jobs): one entry per file with row count and min/max of the
    given numeric key columns — what the resume checkpoint records per
    stage so a restarted build (or an auditor) can account for every
    partition. Above ``cap`` files only the summary is kept (at extreme
    scale the per-file table belongs in a metastore, not the manifest)."""
    import pyarrow.parquet as pq

    files = []
    total = 0
    names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    for name in names:
        md = pq.read_metadata(os.path.join(path, name))
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        ent: dict = {"file": name, "rows": md.num_rows}
        total += md.num_rows
        for c in stat_cols:
            if c not in idx:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                ent[f"{c}_min"], ent[f"{c}_max"] = int(lo), int(hi)
        files.append(ent)
    out = {"n_files": len(files), "rows": total}
    if len(files) <= cap:
        out["files"] = files
    return out


def _stage_done(index_dir: str, stage: str) -> bool:
    mf = os.path.join(index_dir, "manifest.json")
    if not os.path.exists(mf):
        return False
    with open(mf) as f:
        manifest = json.load(f)
    return stage in manifest.get("stages", {})


def _invalidate_stage(index_dir: str, stage: str, path_key: str) -> None:
    """Drop a committed stage + its paths entry (used when an upstream
    stage re-runs, making the derived table stale)."""
    if not os.path.exists(os.path.join(index_dir, "manifest.json")):
        return
    manifest = _commits.read_manifest(index_dir)
    changed = manifest.get("stages", {}).pop(stage, None) is not None
    changed |= manifest.get("paths", {}).pop(path_key, None) is not None
    changed |= manifest.pop("with_term_vectors", None) is not None
    if changed:
        _commits.write_manifest(index_dir, manifest)


def _update_manifest(index_dir: str, stage: str, info: dict, extra: dict | None = None):
    manifest = {"stages": {}}
    if os.path.exists(os.path.join(index_dir, "manifest.json")):
        manifest = _commits.read_manifest(index_dir)
    manifest.setdefault("stages", {})[stage] = info
    if extra:
        manifest.update(extra)
    _commits.write_manifest(index_dir, manifest)  # atomic commit, segments_N-style


def _swap_manifest_commit(index_dir: str, manifest: dict) -> dict:
    """Atomic manifest swap + a durable commit point: every public
    mutator ends here, so each visible index state is also an immutable
    ``commits/segments_<gen>.json`` that :func:`lucene_spark.index.commits.read_commit`
    / ``Index(..., commit=gen)`` can reopen (IndexWriter.commit analog).
    Table paths are stored relative to ``index_dir``; the returned
    manifest keeps them resolved."""
    _commits.write_manifest(index_dir, manifest)
    manifest["gen"] = _commits.commit_point(index_dir)
    return manifest


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    *,
    text_col: str = "content",
    extra_fields: dict[str, str] | None = None,
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    keep_cols: list[str] | None = None,
    num_buckets: int = 8,
    salt_rows: int = 1 << 14,
    with_positions: bool = True,
    with_offsets: bool = False,
    with_term_vectors: bool = False,
    corpus_parts: int | None = None,
    resume: bool = True,
    analyzer: dict | None = None,
    soft_deletes_field: str | None = None,
) -> dict:
    """Build the full index under ``index_dir``. Returns the manifest.

    ``analyzer``: optional analysis-chain config (see
    lucene_spark/analysis.py) — stored in the manifest so query-time
    analysis and later segment appends use the identical chain (the
    IndexWriterConfig.setAnalyzer contract).

    ``doc_id_col``: pass an existing deterministic id column to skip rank
    assignment; else ``order_cols`` defines reference ingest order.
    ``salt_rows``: docID-range shard width — postings for one term are
    split into ceil(maxDoc/salt_rows) disjoint shards, defusing hot-term
    skew during the merge shuffle and bounding row size at query time.
    ``extra_fields``: {field_name: source_column} tokenized fields
    indexed ALONGSIDE the default field (named after ``text_col``) —
    per-field postings/norms/stats, the FieldInfos data model
    (index/FieldInfos.java, IndexingChain.java:583-603).
    ``soft_deletes_field``: IndexWriterConfig.setSoftDeletesField analog
    (index/IndexWriterConfig.java:464): reserves a nullable long docs
    column; :func:`soft_delete_docs` marks docs by docvalues update and
    readers mask non-null rows (SoftDeletesDirectoryReaderWrapper).
    """
    os.makedirs(index_dir, exist_ok=True)
    t0 = time.time()
    keep_cols = keep_cols or []
    with_payloads = bool((analyzer or {}).get("payloads"))
    fields: list[tuple[str, str]] = [(text_col, text_col)] + sorted(
        (extra_fields or {}).items()
    )
    field_names = [f for f, _ in fields]
    corpus_path = os.path.join(index_dir, "corpus")

    # ---- stage0: snapshot + docIDs ----
    if not (resume and _stage_done(index_dir, "stage0_corpus")):
        n_docs = _write_corpus(
            spark, corpus, corpus_path, text_col=text_col, fields=fields,
            analyzer=analyzer, doc_id_col=doc_id_col, order_cols=order_cols,
            parts=corpus_parts or spark.sparkContext.defaultParallelism * 2,
        )
        _update_manifest(
            index_dir,
            "stage0_corpus",
            {"rows": n_docs, "path": corpus_path, "elapsed_sec": time.time() - t0,
             "lineage": _file_lineage(corpus_path, ("doc_id",))},
        )

    corpus_ids = read_parquet(spark, corpus_path)
    n_docs = _parquet_rows(corpus_path)

    # ---- stage1: invert + encode postings ----
    postings_path = os.path.join(index_dir, "postings")
    docs_path = os.path.join(index_dir, "docs")
    if not (resume and _stage_done(index_dir, "stage1_postings")):
        t1 = time.time()
        field_cols = sorted({c for _, c in fields})
        inverted = corpus_ids.select("doc_id", *field_cols).mapInPandas(
            _invert_map(fields, salt_rows, num_buckets, with_positions, analyzer,
                        with_offsets),
            schema=INVERTED_SCHEMA,
        )
        # groupBy.applyInPandas hash-shuffles on (bucket, salt) itself —
        # ONE shuffle of the inverted stream, no pre-repartition. Group
        # count = num_buckets * ceil(maxDoc/salt_rows); tune salt_rows so
        # groups >= cores at the target scale.
        postings = inverted.groupBy("bucket", "salt").applyInPandas(
            _encode_group(with_positions, with_offsets, with_payloads, salt_rows),
            schema=POSTINGS_SCHEMA,
        )
        # Flat write, no dynamic partitioning: partitionBy("bucket")
        # costs a full UnsafeRow sort of the big binary rows per task
        # (~50% of stage wall at 8 cores, measured) and an extra shuffle
        # of the encoded rows costs nearly as much. Term lookups prune
        # through parquet row-group stats + dictionary filtering instead
        # (measured equal latency); _encode_group emits terms sorted
        # within each (bucket, salt) group, keeping row-group term
        # ranges tight. At petabyte scale an Iceberg bucket-transform
        # table layout would restore directory-level pruning without the
        # dynamic-write sort.
        postings.write.mode("overwrite").parquet(postings_path)
        t1_post = time.time()
        # a postings rebuild invalidates any previously committed
        # term-vectors stage (its rows describe the OLD snapshot)
        _invalidate_stage(index_dir, "stage4_tvec", "tvec")
        # docs table straight from the snapshot; the segment stats that
        # stage 3 records are observed during its write
        doc_stats = _write_docs(
            corpus_ids, docs_path, fields=fields, text_col=text_col,
            keep_cols=keep_cols, analyzer=analyzer,
            soft_deletes_field=soft_deletes_field,
        )
        _update_manifest(
            index_dir,
            "stage1_postings",
            {
                "postings_rows": _parquet_rows(postings_path),
                "docs_rows": int(doc_stats["n"]),
                "doc_stats": doc_stats,
                "path": postings_path,
                "postings_sec": round(t1_post - t1, 2),
                "docs_sec": round(time.time() - t1_post, 2),
                "elapsed_sec": time.time() - t1,
                "lineage": _file_lineage(postings_path, ("bucket", "salt")),
                "docs_lineage": _file_lineage(docs_path, ("doc_id",)),
            },
        )

    # ---- stage3: term stats + global stats ----
    stats_path = os.path.join(index_dir, "term_stats")
    if not (resume and _stage_done(index_dir, "stage3_stats")):
        t3 = time.time()
        postings = read_parquet(spark, postings_path)
        write_term_stats(postings, stats_path)
        gl = _commits.read_manifest(index_dir)["stages"]["stage1_postings"].get(
            "doc_stats"
        )
        if gl is None:  # stage 1 committed by a build that did not observe them
            gl = read_parquet(spark, docs_path).agg(
                *_doc_stat_aggs(field_names, text_col)
            ).first().asDict()
        field_stats = _field_stats(gl, field_names)
        # skew metrics: postings volume per (bucket, salt) reducer group
        # and the hottest terms — the observability the salting exists for
        grp = postings.groupBy("bucket", "salt").agg(F.sum("df").alias("p"))
        sk = grp.agg(
            F.max("p").alias("mx"), F.avg("p").alias("avg"), F.count(F.lit(1)).alias("groups")
        ).collect()[0]
        hot = [
            {"term": r["term"], "df": int(r["df"])}
            for r in read_parquet(spark, stats_path)
            .orderBy(F.desc("df"), F.asc("term")).limit(5).collect()
        ]
        skew = {
            "groups": int(sk["groups"]),
            "max_group_postings": int(sk["mx"] or 0),
            "avg_group_postings": round(float(sk["avg"] or 0), 1),
            "skew_ratio": round(float(sk["mx"] or 0) / max(float(sk["avg"] or 1), 1), 2),
            "hottest_terms": hot,
        }
        _update_manifest(
            index_dir,
            "stage3_stats",
            {"terms": _parquet_rows(stats_path), "elapsed_sec": time.time() - t3,
             "skew": skew},
            extra={
                "N": int(gl["n"]),
                "max_doc": int(gl["n"]),
                "sum_total_term_freq": field_stats[text_col]["sum_ttf"],
                "doc_count_field": field_stats[text_col]["doc_count"],
                "fields": dict(fields),
                "default_field": text_col,
                "field_stats": field_stats,
                "num_buckets": num_buckets,
                "salt_rows": salt_rows,
                "with_positions": with_positions,
                "with_offsets": with_offsets,
                "with_payloads": with_payloads,
                "text_col": text_col,
                "keep_cols": keep_cols,
                # index sort key (IndexWriterConfig.setIndexSort analog):
                # recorded so docvalues updates can reject sort fields
                "order_cols": list(order_cols or []),
                "soft_deletes_field": soft_deletes_field,
                "analyzer": analyzer,
                "paths": {
                    "corpus": corpus_path,
                    "postings": postings_path,
                    "docs": docs_path,
                    "term_stats": stats_path,
                },
                "built_docs": n_docs,
                "total_elapsed_sec": time.time() - t0,
            },
        )

    # ---- stage4 (opt-in): doc-major term vectors ----
    if with_term_vectors:
        from lucene_spark.index.termvectors import build_term_vectors

        build_term_vectors(spark, index_dir, resume=resume)

    # durable commit point for the completed build (no-op on a
    # resume that changed nothing -- IndexWriter.commit semantics)
    _commits.commit_point(index_dir)
    return _commits.read_manifest(index_dir)


def compact_index(
    spark: SparkSession, index_dir: str, soft_retention: str | None = None
) -> dict:
    """forceMerge(1) analog (SegmentMerger.merge, index/SegmentMerger.java:
    107-142 + TieredMergePolicy's end state): merge every appended segment
    back into one, dropping deleted docs for real (deletes reclaim).

    Spark shape: deletes are decode-filtered out of each posting row, then
    rows merge per (term, salt) by concatenating block lists in segment
    order (docIDs strictly increase across segments, so concatenation
    preserves global order; re-encode only when a row was delete-filtered
    or rows merged with positions). The docs/corpus tables are unions
    minus deletes; docIDs are NOT renumbered (Lucene renumbers per-merge;
    our global ids stay stable so readers never remap). New segment dirs
    + one atomic manifest swap; old segment files stay on disk for open
    readers (no vacuum here).

    ``soft_retention``: SoftDeletesRetentionMergePolicy analog
    (index/SoftDeletesRetentionMergePolicy.java:62): a SQL predicate
    over docs columns — soft-deleted docs matching it SURVIVE the merge
    (still masked, still marked); all other soft-deleted docs are
    reclaimed like hard deletes. None reclaims every soft-deleted doc.
    """
    manifest = _commits.read_manifest(index_dir)
    as_list = lambda v: [v] if isinstance(v, str) else list(v)  # noqa: E731
    paths = manifest["paths"]
    n_segs = len(as_list(paths["postings"]))
    del_paths = as_list(paths.get("deletes") or [])
    sd_field = manifest.get("soft_deletes_field")
    soft_reclaim = None
    if sd_field:
        sd_docs = apply_dv_overlays(
            spark, read_parquet(spark, *as_list(paths["docs"])), manifest
        )
        cond = F.col(sd_field).isNotNull()
        if soft_retention:
            cond = cond & ~F.expr(soft_retention)
        sd_ids = sd_docs.filter(cond).select("doc_id")
        if sd_ids.limit(1).count():
            soft_reclaim = sd_ids
    if n_segs == 1 and not del_paths and soft_reclaim is None:
        if not paths.get("dv_updates"):
            return manifest  # nothing to merge
        # postings are already one clean segment: fold the pending
        # docvalues-update generations into a rewritten docs table only
        # (the cheap end of Lucene's merge — no postings re-encode)
        gen = int(manifest.get("compaction_gen", 0)) + 1
        docs_path = os.path.join(index_dir, f"docs_compact{gen}")
        apply_dv_overlays(
            spark, read_parquet(spark, *as_list(paths["docs"])), manifest
        ).write.mode("overwrite").parquet(docs_path)
        manifest["paths"]["docs"] = docs_path
        manifest["paths"]["dv_updates"] = []
        manifest["compaction_gen"] = gen
        manifest["version"] = int(manifest.get("version", 0)) + 1
        return _swap_manifest_commit(index_dir, manifest)
    gen = int(manifest.get("compaction_gen", 0)) + 1
    t0 = time.time()
    with_positions = manifest["with_positions"]
    with_offsets = bool(manifest.get("with_offsets", False))
    with_payloads = bool(manifest.get("with_payloads", False))

    deletes = (
        read_parquet(spark, *del_paths).select("doc_id").distinct()
        if del_paths
        else None
    )
    if soft_reclaim is not None:
        # reclaimable soft deletes merge like hard deletes
        deletes = (
            soft_reclaim
            if deletes is None
            else deletes.union(soft_reclaim).distinct()
        )
    # Broadcast ONE sorted int64 array (not a Python set): merge_group does
    # a single vectorized np.isin per term against it. For delete sets too
    # big to broadcast, the right shape is a distributed anti-join of the
    # decoded postings on doc_id — not needed at current delete volumes.
    del_arr = (
        np.sort(
            np.fromiter(
                (r["doc_id"] for r in deletes.collect()), dtype=np.int64
            )
        )
        if deletes is not None
        else np.zeros(0, dtype=np.int64)
    )
    bdel = spark.sparkContext.broadcast(del_arr)

    # ---- postings: per (term, salt), re-emit a single merged row ----
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from lucene_spark.codec import decode_block, decode_value_stream

        dels = bdel.value
        out_rows = []
        pdf = pdf.sort_values("first_doc", kind="mergesort")
        for (field_name, term), g in pdf.groupby(["field", "term"], sort=False):
            docs_all, freqs_all, norms_all, pos_all, off_all = [], [], [], [], []
            pay_all = []
            for _, row in g.iterrows():
                f_row = []
                for blk in row["blocks"]:
                    d, f, nm = decode_block(blk)
                    docs_all.append(d)
                    f_row.append(f)
                    norms_all.append(nm)
                freqs_all.extend(f_row)
                if with_positions:
                    f_concat = (
                        np.concatenate(f_row) if f_row else np.zeros(0, np.int64)
                    )
                    pos_all.append(
                        (decode_value_stream(bytes(row["pos"])), f_concat)
                    )
                if with_offsets:
                    off_all.append(decode_value_stream(bytes(row["off"])))
                if with_payloads:
                    pay_all.append(decode_value_stream(bytes(row["pay"])))
            d = np.concatenate(docs_all) if docs_all else np.zeros(0, np.int64)
            f = np.concatenate(freqs_all) if freqs_all else np.zeros(0, np.int64)
            nm = np.concatenate(norms_all) if norms_all else np.zeros(0, np.uint8)
            if with_positions:
                pos_stream = (
                    np.concatenate([p for p, _ in pos_all])
                    if pos_all
                    else np.zeros(0, np.uint64)
                )
            if with_offsets:
                off_stream = (
                    np.concatenate(off_all) if off_all else np.zeros(0, np.uint64)
                )
            if with_payloads:
                pay_stream = (
                    np.concatenate(pay_all) if pay_all else np.zeros(0, np.uint64)
                )
            keep = (
                ~np.isin(d, dels, assume_unique=False)
                if len(dels)
                else np.ones(len(d), dtype=bool)
            )
            if not keep.any():
                continue
            if with_positions and len(d):
                # slice the delta stream per doc, keep survivors
                bounds = np.concatenate([[0], np.cumsum(f)]).astype(np.int64)
                kept_chunks = [
                    pos_stream[bounds[i] : bounds[i + 1]]
                    for i in range(len(d))
                    if keep[i]
                ]
                pos_bin = encode_value_stream(
                    np.concatenate(kept_chunks).astype(np.uint64)
                    if kept_chunks
                    else np.zeros(0, np.uint64)
                )
            else:
                pos_bin = b""
            if with_offsets and len(d):
                # offsets are (delta, len) pairs: 2 values per position
                ob = np.concatenate([[0], np.cumsum(2 * f)]).astype(np.int64)
                kept_off = [
                    off_stream[ob[i] : ob[i + 1]]
                    for i in range(len(d))
                    if keep[i]
                ]
                off_bin = encode_value_stream(
                    np.concatenate(kept_off).astype(np.uint64)
                    if kept_off
                    else np.zeros(0, np.uint64)
                )
            else:
                off_bin = b""
            if with_payloads and len(d):
                # one payload value per position, same slicing as pos
                pb = np.concatenate([[0], np.cumsum(f)]).astype(np.int64)
                kept_pay = [
                    pay_stream[pb[i] : pb[i + 1]]
                    for i in range(len(d))
                    if keep[i]
                ]
                pay_bin = encode_value_stream(
                    np.concatenate(kept_pay).astype(np.uint64)
                    if kept_pay
                    else np.zeros(0, np.uint64)
                )
            else:
                pay_bin = b""
            d, f, nm = d[keep], f[keep], nm[keep]
            out_rows.append(
                {
                    "field": field_name,
                    "term": term,
                    "salt": int(g["salt"].iat[0]),
                    "df": int(len(d)),
                    "ttf": int(f.sum()),
                    "blocks": encode_posting_blocks(d, f, nm),
                    "pos": pos_bin,
                    "off": off_bin,
                    "pay": pay_bin,
                    "bucket": int(g["bucket"].iat[0]),
                }
            )
        return pd.DataFrame(out_rows, columns=POSTINGS_SCHEMA.fieldNames())

    allp = _read_postings(spark, as_list(paths["postings"])).withColumn(
        "first_doc", F.element_at(F.col("blocks"), 1)["first_docid"]
    )
    merged = allp.groupBy("bucket", "salt").applyInPandas(
        merge_group,
        schema=POSTINGS_SCHEMA,
    )
    postings_path = os.path.join(index_dir, f"postings_compact{gen}")
    merged.write.mode("overwrite").parquet(postings_path)

    # ---- docs / corpus: union minus deletes, dv updates folded in ----
    docs_path = os.path.join(index_dir, f"docs_compact{gen}")
    docs = read_parquet(spark, *as_list(paths["docs"]))
    # committed docvalues-update generations bake into the rewrite
    # (Lucene merges gen-stamped .dvd updates into the merged segment)
    docs = apply_dv_overlays(spark, docs, manifest)
    if deletes is not None:
        docs = docs.join(F.broadcast(deletes), "doc_id", "left_anti")
    text_col_m = manifest["text_col"]
    cfield_names = sorted(
        manifest.get("fields", {text_col_m: text_col_m}),
        key=lambda f: (f != text_col_m, f),
    )
    gl = _observed_write(docs, docs_path, _doc_stat_aggs(cfield_names, text_col_m))
    corpus_path = os.path.join(index_dir, f"corpus_compact{gen}")
    corpus = read_parquet(spark, *as_list(paths["corpus"]))
    if deletes is not None:
        corpus = corpus.join(F.broadcast(deletes), "doc_id", "left_anti")
    corpus.write.mode("overwrite").parquet(corpus_path)

    # ---- stats ----
    stats_path = os.path.join(index_dir, f"term_stats_compact{gen}")
    write_term_stats(read_parquet(spark, postings_path), stats_path)

    manifest["paths"] = {
        "postings": postings_path,
        "docs": docs_path,
        "corpus": corpus_path,
        "term_stats": stats_path,
        "deletes": [],
    }
    # max_doc = next docID to hand out. Compaction reclaims deletes (N
    # shrinks to the live count) but docIDs of survivors keep their
    # original values, so the append base must NOT shrink with N —
    # preserve the pre-compaction high-water mark.
    manifest["max_doc"] = int(manifest.get("max_doc", manifest["N"]))
    manifest["N"] = int(gl["n"])
    manifest["field_stats"] = _field_stats(gl, cfield_names)
    manifest["sum_total_term_freq"] = manifest["field_stats"][text_col_m]["sum_ttf"]
    manifest["doc_count_field"] = manifest["field_stats"][text_col_m]["doc_count"]
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest["compaction_gen"] = gen
    manifest.setdefault("stages", {})[f"compact{gen}"] = {
        "rows": int(gl["n"]),
        "elapsed_sec": time.time() - t0,
        "lineage": _file_lineage(postings_path, ("bucket", "salt")),
        "docs_lineage": _file_lineage(docs_path, ("doc_id",)),
    }
    return _swap_manifest_commit(index_dir, manifest)


def _tiered_allowed_count(sizes: list[int], segs_per_tier: int,
                          max_merge_at_once: int, floor_docs: int) -> int:
    """TieredMergePolicy's allowed-segment budget (TieredMergePolicy
    .java:74-92 + doFindMerges' allowedSegCount loop): tiers of
    exponentially growing segment size (x maxMergeAtOnce per tier,
    floored at floorSegmentMB's doc analog) each admit segsPerTier
    segments."""
    if not sizes:
        return 0
    remaining = float(sum(sizes))
    level = float(max(floor_docs, min(sizes)))
    allowed = 0
    while True:
        count_at_level = remaining / level
        if count_at_level < segs_per_tier:
            allowed += int(np.ceil(count_at_level))
            return max(allowed, 1)
        allowed += segs_per_tier
        remaining -= segs_per_tier * level
        level *= max_merge_at_once


def merge_adjacent_segments(
    spark: SparkSession, index_dir: str, start: int, count: int
) -> dict:
    """Merge segments [start, start+count) — ADJACENT in the manifest —
    into one new segment (one TieredMergePolicy-selected merge;
    SegmentMerger.merge analog for the no-deletes case).

    Adjacency is the documented deviation from the reference:
    TieredMergePolicy merges arbitrary segment sets because Lucene
    renumbers docIDs per merge; our global docIDs are stable, and
    adjacent segments own adjacent docID ranges, so their posting rows
    merge by CONCATENATION — blocks are self-anchored (first_docid), so
    a term's block lists append in segment order with no decode, no
    re-delta. Only positions/offsets/payload streams re-encode (their
    framing has a length header). Terms present in a single source
    segment pass through byte-identical. Deletes stay masked at read
    time (reclaim remains compact_index's job, like Lucene where merges
    drop deletes only when the merged segment includes them — ours
    defers to the full compact)."""
    manifest = _commits.read_manifest(index_dir)
    as_list = lambda v: [v] if isinstance(v, str) else list(v)  # noqa: E731
    paths = manifest["paths"]
    p_post = as_list(paths["postings"])
    p_docs = as_list(paths["docs"])
    p_corp = as_list(paths["corpus"])
    p_stats = as_list(paths["term_stats"])
    n_segs = len(p_post)
    if not (0 <= start and count >= 2 and start + count <= n_segs):
        raise ValueError(f"bad merge slice [{start}, {start + count}) "
                         f"of {n_segs} segments")
    t0 = time.time()
    gen = int(manifest.get("tiered_gen", 0)) + 1
    with_positions = manifest["with_positions"]
    with_offsets = bool(manifest.get("with_offsets", False))
    with_payloads = bool(manifest.get("with_payloads", False))

    def merge_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        from lucene_spark.codec import decode_value_stream

        pdf = pdf.copy()
        pdf["_first"] = pdf["blocks"].map(lambda bs: bs[0]["first_docid"])
        pdf = pdf.sort_values("_first", kind="mergesort")
        out_rows = []
        for (field_name, term), g in pdf.groupby(
            ["field", "term"], sort=False
        ):
            if len(g) == 1:
                r = g.iloc[0]
                out_rows.append({
                    "field": field_name, "term": term,
                    "salt": int(r["salt"]), "df": int(r["df"]),
                    "ttf": int(r["ttf"]), "blocks": list(r["blocks"]),
                    "pos": bytes(r["pos"]) if r["pos"] is not None else b"",
                    "off": bytes(r["off"]) if r["off"] is not None else b"",
                    "pay": bytes(r["pay"]) if r["pay"] is not None else b"",
                    "bucket": int(r["bucket"]),
                })
                continue
            blocks = [b for _, row in g.iterrows() for b in row["blocks"]]

            def _cat_stream(col):
                vals = [
                    decode_value_stream(bytes(row[col]))
                    for _, row in g.iterrows()
                ]
                return encode_value_stream(
                    np.concatenate(vals).astype(np.uint64)
                    if vals else np.zeros(0, np.uint64)
                )

            out_rows.append({
                "field": field_name, "term": term,
                "salt": int(g["salt"].iat[0]),
                "df": int(g["df"].sum()), "ttf": int(g["ttf"].sum()),
                "blocks": blocks,
                "pos": _cat_stream("pos") if with_positions else b"",
                "off": _cat_stream("off") if with_offsets else b"",
                "pay": _cat_stream("pay") if with_payloads else b"",
                "bucket": int(g["bucket"].iat[0]),
            })
        return pd.DataFrame(out_rows, columns=POSTINGS_SCHEMA.fieldNames())

    sl = slice(start, start + count)
    allp = _read_postings(spark, p_post[sl])
    merged = allp.groupBy("bucket", "salt").applyInPandas(
        merge_rows, schema=POSTINGS_SCHEMA
    )
    tag = f"tiered{gen}_s{start}c{count}"
    postings_path = os.path.join(index_dir, f"postings_{tag}")
    merged.write.mode("overwrite").parquet(postings_path)
    docs_path = os.path.join(index_dir, f"docs_{tag}")
    read_parquet(spark, *p_docs[sl]).write.mode("overwrite").parquet(
        docs_path
    )
    corpus_path = os.path.join(index_dir, f"corpus_{tag}")
    read_parquet(spark, *p_corp[sl]).write.mode("overwrite").parquet(
        corpus_path
    )
    stats_path = os.path.join(index_dir, f"term_stats_{tag}")
    write_term_stats(read_parquet(spark, postings_path), stats_path)

    manifest["paths"]["postings"] = (
        p_post[: sl.start] + [postings_path] + p_post[sl.stop :]
    )
    manifest["paths"]["docs"] = (
        p_docs[: sl.start] + [docs_path] + p_docs[sl.stop :]
    )
    manifest["paths"]["corpus"] = (
        p_corp[: sl.start] + [corpus_path] + p_corp[sl.stop :]
    )
    manifest["paths"]["term_stats"] = (
        p_stats[: sl.start] + [stats_path] + p_stats[sl.stop :]
    )
    manifest["tiered_gen"] = gen
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest.setdefault("stages", {})[f"tiered_merge{gen}"] = {
        "merged_segments": list(range(start, start + count)),
        "elapsed_sec": time.time() - t0,
        "lineage": _file_lineage(postings_path, ("bucket", "salt")),
    }
    return _swap_manifest_commit(index_dir, manifest)


def maybe_merge(
    spark: SparkSession,
    index_dir: str,
    *,
    segs_per_tier: int = 10,
    max_merge_at_once: int = 10,
    floor_docs: int = 10_000,
    max_merged_docs: int | None = None,
) -> dict:
    """TieredMergePolicy.findMerges analog (index/TieredMergePolicy
    .java:74-92 defaults: maxMergeAtOnce=10, segsPerTier=10; floorDocs
    stands in for floorSegmentMB=2MB, max_merged_docs for
    maxMergedSegmentMB=5GB): while the segment count exceeds the tier
    budget, merge the cheapest ADJACENT run of segments (smallest total
    docs — the least-cost merge under the adjacency constraint, see
    merge_adjacent_segments) of width min(maxMergeAtOnce, excess+1).
    Call after append_to_index to keep a long-lived appended index's
    segment count bounded without forceMerge(1).

    Returns {"merges": [...], "segments": final_count, "sizes": [...]}.
    """
    merges = []
    while True:
        manifest = _commits.read_manifest(index_dir)
        p_docs = manifest["paths"]["docs"]
        p_docs = [p_docs] if isinstance(p_docs, str) else list(p_docs)
        sizes = [_parquet_rows(p) for p in p_docs]
        allowed = _tiered_allowed_count(
            sizes, segs_per_tier, max_merge_at_once, floor_docs
        )
        n = len(sizes)
        if n <= allowed:
            return {"merges": merges, "segments": n, "sizes": sizes}
        best_start, best_total = 0, None
        width = min(max_merge_at_once, n - allowed + 1)
        while width >= 2:
            for s in range(0, n - width + 1):
                tot = sum(sizes[s : s + width])
                if max_merged_docs is not None and tot > max_merged_docs:
                    continue
                if best_total is None or tot < best_total:
                    best_start, best_total = s, tot
            if best_total is not None:
                break
            width -= 1  # every width-run exceeds the size budget
        if best_total is None:
            return {"merges": merges, "segments": n, "sizes": sizes,
                    "stalled": "max_merged_docs"}
        merge_adjacent_segments(spark, index_dir, best_start, width)
        merges.append({"start": best_start, "count": width,
                       "docs": int(best_total)})


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> dict:
    """Mark docIDs deleted (IndexWriter.deleteDocuments analog). Writes a
    new immutable deletes file and commits via atomic manifest swap —
    snapshot isolation like segment appends. doc_ids: DataFrame with one
    long `doc_id` column (e.g. a Searcher.doc_set result: delete-by-query).
    """
    manifest = _commits.read_manifest(index_dir)
    existing = manifest["paths"].get("deletes") or []
    if isinstance(existing, str):
        existing = [existing]
    seg = len(existing)
    path = os.path.join(index_dir, f"deletes_seg{seg}")
    doc_ids.select(F.col("doc_id").cast("long")).distinct().write.mode(
        "overwrite"
    ).parquet(path)
    n = _parquet_rows(path)
    manifest["paths"]["deletes"] = existing + [path]
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest.setdefault("stages", {})[f"deletes_seg{seg}"] = {"rows": n}
    return _swap_manifest_commit(index_dir, manifest)


def soft_delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame, value: int = 1
) -> dict:
    """Soft-delete the given docIDs (the delete half of
    IndexWriter.softUpdateDocument, index/IndexWriter.java:1840): writes
    one docvalues-update generation setting the index's configured
    soft-deletes field (build_index's ``soft_deletes_field`` =
    IndexWriterConfig.setSoftDeletesField). Readers mask docs with a
    non-null value in that field (SoftDeletesDirectoryReaderWrapper
    semantics — Index applies it by default, pass
    ``include_soft_deleted=True`` to see through); the docs stay in the
    index until :func:`compact_index` reclaims them, except those
    matching its ``soft_retention`` predicate
    (SoftDeletesRetentionMergePolicy.java:62). Like the reference, a
    soft delete cannot be unset."""
    manifest = _commits.read_manifest(index_dir)
    sd = manifest.get("soft_deletes_field")
    if not sd:
        raise ValueError(
            "index was built without soft_deletes_field "
            "(IndexWriterConfig.setSoftDeletesField analog)"
        )
    upd = (
        doc_ids.select(F.col("doc_id").cast("long"))
        .distinct()
        .withColumn("value", F.lit(int(value)))
    )
    return update_doc_values(spark, index_dir, upd, sd)


def apply_dv_overlays(spark: SparkSession, docs: DataFrame, manifest: dict) -> DataFrame:
    """Merge-on-read of committed doc-values update generations
    (index/NumericDocValuesFieldUpdates analog): each generation is a
    tiny immutable (doc_id, value) parquet; applied oldest-first so the
    NEWEST generation wins per doc, exactly like Lucene's gen-stamped
    .dvd files shadowing the segment's base values. Every overlay is
    broadcast (updates are minuscule next to the corpus), so the base
    docs scan keeps its pushed filters."""
    for upd in manifest.get("paths", {}).get("dv_updates", []) or []:
        fld = upd["field"]
        ov = read_parquet(spark, upd["path"]).select(
            "doc_id", F.col("value").alias("__dvu")
        )
        docs = (
            docs.join(F.broadcast(ov), "doc_id", "left")
            .withColumn(fld, F.coalesce(F.col("__dvu"), F.col(fld)))
            .drop("__dvu")
        )
    return docs


def update_doc_values(
    spark: SparkSession, index_dir: str, updates: DataFrame, field: str
) -> dict:
    """IndexWriter.updateNumericDocValue / updateBinaryDocValue analog
    (index/IndexWriter.java:1864,1900): set doc-values `field` to a new
    per-doc value WITHOUT re-indexing the document. `updates` is a
    DataFrame (doc_id, value); the reference's term-keyed form is
    ``searcher.doc_set(TermQ(t)).withColumn("value", F.lit(v))``.

    Reference restrictions enforced the same way: only fields that
    already exist in the index can be updated ("can only update existing
    numeric-docvalues fields!", IndexWriter.java:1866), and fields in
    the index sort are rejected (IndexWriter.java:1869 — our index sort
    is the build's order_cols rank). Internal columns (doc_id, norms,
    field lengths) are never updatable.

    Commit shape: one immutable generation parquet + atomic manifest
    swap (snapshot isolation — open readers keep their view, a reopened
    Index sees the new generation), mirroring Lucene's gen-stamped
    docvalues update files. Readers merge-on-read via
    :func:`apply_dv_overlays`; :func:`compact_index` folds all
    generations into the rewritten docs table and clears the list."""
    manifest = _commits.read_manifest(index_dir)
    docs_paths = manifest["paths"]["docs"]
    if isinstance(docs_paths, str):
        docs_paths = [docs_paths]
    schema = read_parquet(spark, docs_paths[0]).schema
    by_name = {f_.name: f_ for f_ in schema.fields}
    text_col = manifest["text_col"]
    forbidden = {"doc_id"} | {
        n for n in by_name
        if n == "dl" or n == "norm" or n.startswith(("dl__", "norm__"))
    }
    if field in (manifest.get("order_cols") or []):
        raise ValueError(
            f"cannot update docvalues field involved in the index sort, "
            f"field={field}, sort={manifest['order_cols']}"
        )
    if field not in by_name:
        raise ValueError(
            f"can only update existing doc-values fields! {field!r} is not "
            f"a column of the docs table ({sorted(by_name)})"
        )
    if field in forbidden or field == text_col:
        raise ValueError(f"field {field!r} is internal/indexed — not updatable")
    dtype = by_name[field].dataType
    upd = updates.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("value").cast(dtype).alias("value"),
    )
    dup = upd.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"updates carry conflicting values for doc_id={dup[0]['doc_id']} "
            f"— one value per doc per generation"
        )
    gens = manifest["paths"].get("dv_updates") or []
    gen = len(gens)
    path = os.path.join(index_dir, f"dvu_gen{gen}_{field}")
    upd.write.mode("overwrite").parquet(path)
    n = _parquet_rows(path)
    manifest["paths"]["dv_updates"] = gens + [{"field": field, "path": path}]
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest.setdefault("stages", {})[f"dvu_gen{gen}_{field}"] = {"rows": n}
    return _swap_manifest_commit(index_dir, manifest)


def append_to_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    *,
    order_cols: list[str] | None = None,
    doc_id_col: str | None = None,
) -> dict:
    """Append a new segment to a committed index — the NRT-reopen path
    (SearcherManager / DocumentsWriter flush analog, SURVEY.md §2.12).

    New docs get docIDs starting at the current N (ingest order
    continues); their postings/docs/corpus/stats land in NEW directories
    (immutable segment files), and the commit is one atomic manifest
    swap listing the extra paths — readers opened before the swap keep
    their snapshot, a reopened Index sees the new segment. Build params
    (analyzer, buckets, salt width, kept columns) come from the manifest
    so segments stay mutually consistent. Per-segment term stats are
    summed at read time (the reader's cross-segment termStatistics)."""
    manifest = _commits.read_manifest(index_dir)
    text_col = manifest["text_col"]
    keep_cols = manifest["keep_cols"]
    num_buckets = manifest["num_buckets"]
    salt_rows = manifest["salt_rows"]
    with_positions = manifest["with_positions"]
    with_offsets = bool(manifest.get("with_offsets", False))
    with_payloads = bool(manifest.get("with_payloads", False))
    analyzer = manifest.get("analyzer")
    fields: list[tuple[str, str]] = sorted(
        manifest.get("fields", {text_col: text_col}).items(),
        key=lambda kv: (kv[0] != text_col, kv[0]),
    )
    field_names = [f for f, _ in fields]
    # base = max_doc (next free docID), NOT N: after a compaction that
    # reclaimed deletes N < max_doc and using N would reissue docIDs that
    # still belong to live docs.
    base = int(manifest.get("max_doc", manifest["N"]))
    as_list = lambda v: [v] if isinstance(v, str) else list(v)  # noqa: E731
    # Segment tag: MONOTONIC counter, never the current list length —
    # after a tiered merge or compaction shrinks the paths list,
    # len(paths) would reuse a tag whose directory still exists on disk
    # (kept for open readers) and mode("overwrite") would clobber live
    # segment files. Older manifests lack the counter: seed it past
    # every seg<N> tag already present on any path.
    seg = int(manifest.get(
        "next_seg",
        1 + max(
            (
                int(mm.group(1))
                for v in manifest["paths"].values()
                for p in as_list(v or [])
                for mm in [re.search(r"_seg(\d+)$", p)]
                if mm
            ),
            default=len(as_list(manifest["paths"]["postings"])) - 1,
        ),
    ))
    manifest["next_seg"] = seg + 1
    t0 = time.time()

    # docIDs continue the global ingest order at `base`
    corpus_path = os.path.join(index_dir, f"corpus_seg{seg}")
    _write_corpus(
        spark, new_docs, corpus_path, text_col=text_col, fields=fields,
        analyzer=analyzer, doc_id_col=doc_id_col, order_cols=order_cols,
        parts=max(2, spark.sparkContext.defaultParallelism), base=base,
    )
    corpus_ids = read_parquet(spark, corpus_path)

    postings_path = os.path.join(index_dir, f"postings_seg{seg}")
    docs_path = os.path.join(index_dir, f"docs_seg{seg}")
    stats_path = os.path.join(index_dir, f"term_stats_seg{seg}")

    field_cols = sorted({c for _, c in fields})
    inverted = corpus_ids.select("doc_id", *field_cols).mapInPandas(
        _invert_map(fields, salt_rows, num_buckets, with_positions, analyzer,
                    with_offsets),
        schema=INVERTED_SCHEMA,
    )
    postings = inverted.groupBy("bucket", "salt").applyInPandas(
        _encode_group(with_positions, with_offsets, with_payloads, salt_rows),
        schema=POSTINGS_SCHEMA,
    )
    postings.write.mode("overwrite").parquet(postings_path)
    gl = _write_docs(
        corpus_ids, docs_path, fields=fields, text_col=text_col,
        keep_cols=keep_cols, analyzer=analyzer,
        soft_deletes_field=manifest.get("soft_deletes_field"),
    )
    write_term_stats(read_parquet(spark, postings_path), stats_path)

    # ---- commit: extend path lists + global stats, one atomic swap ----
    paths = manifest["paths"]
    for name, p in (
        ("postings", postings_path),
        ("docs", docs_path),
        ("corpus", corpus_path),
        ("term_stats", stats_path),
    ):
        paths[name] = as_list(paths[name]) + [p]
    manifest["N"] = int(manifest["N"]) + int(gl["n"])
    manifest["max_doc"] = base + int(gl["n"])
    fs = manifest.get("field_stats") or {
        text_col: {
            "sum_ttf": int(manifest["sum_total_term_freq"]),
            "doc_count": int(manifest["doc_count_field"]),
        }
    }
    for f, seg_fs in _field_stats(gl, field_names).items():
        cur = fs.setdefault(f, {"sum_ttf": 0, "doc_count": 0})
        cur["sum_ttf"] = int(cur["sum_ttf"]) + seg_fs["sum_ttf"]
        cur["doc_count"] = int(cur["doc_count"]) + seg_fs["doc_count"]
    manifest["field_stats"] = fs
    manifest["sum_total_term_freq"] = fs[text_col]["sum_ttf"]
    manifest["doc_count_field"] = fs[text_col]["doc_count"]
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest.setdefault("stages", {})[f"append_seg{seg}"] = {
        "rows": int(gl["n"]),
        "elapsed_sec": time.time() - t0,
        "lineage": _file_lineage(postings_path, ("bucket", "salt")),
        "docs_lineage": _file_lineage(docs_path, ("doc_id",)),
    }
    return _swap_manifest_commit(index_dir, manifest)
