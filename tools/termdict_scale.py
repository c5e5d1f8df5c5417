"""Terms-dictionary lookup cost at scale: sorted vs legacy ``term_stats``.

``make_corpus`` has the same 657-term vocabulary at every size, so this
tool synthesizes the dictionary: ``--terms`` distinct terms of one field,
each with a df/ttf and its md5 bucket, written by Spark twice —

- ``sorted``: through ``builder.write_term_stats`` (sorted by
  ``(field, bucket, term)``, ~1 MB row groups), as every build writes it;
- ``legacy``: the same aggregate written with a plain ``.parquet()``, in
  hash-partition order and default row groups, as builds before the
  sorted writer did.

Each table gets a minimal manifest so a real ``Index`` opens it. For
``--lookups`` random draws of ``--k`` present terms, a fresh ``Index``
runs ``stats_for_terms``; the tool reports the median time, the row
groups the lookup reads against the total, and the compressed bytes of
the columns it reads (field, term, df, ttf) in those row groups.

    python tools/termdict_scale.py --terms 1200000 --out /tmp/termdict
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

READ_COLS = ("field", "term", "df", "ttf")
NUM_BUCKETS = 64


def _write_tables(spark, out: str, n_terms: int) -> dict:
    from pyspark.sql import functions as F

    from lucene_spark.index.builder import term_bucket_py, write_term_stats

    def with_bucket(batches):
        for pdf in batches:
            pdf["bucket"] = term_bucket_py(pdf["term"], NUM_BUCKETS).astype("int32")
            yield pdf

    rows = spark.range(n_terms).select(
        F.lit("content").alias("field"),
        F.concat(F.lit("t"), F.sha1(F.col("id").cast("string")).substr(1, 12)).alias("term"),
        (F.col("id") % 97 + 1).alias("df"),
        (F.col("id") % 389 + 1).alias("ttf"),
    ).mapInPandas(with_bucket, "field string, term string, df long, ttf long, bucket int")
    paths = {}
    for layout in ("sorted", "legacy"):
        d = os.path.join(out, layout)
        shutil.rmtree(d, ignore_errors=True)
        stats_path = os.path.join(d, "term_stats")
        if layout == "sorted":
            write_term_stats(rows, stats_path)
        else:
            rows.groupBy("field", "term").agg(
                F.sum("df").alias("df"),
                F.sum("ttf").alias("ttf"),
                F.first("bucket").alias("bucket"),
            ).write.parquet(stats_path)
        manifest = {
            "paths": {k: stats_path for k in ("postings", "docs", "corpus")}
            | {"term_stats": stats_path},
            "N": n_terms, "doc_count_field": n_terms,
            "sum_total_term_freq": n_terms, "num_buckets": NUM_BUCKETS,
            "fields": {"content": "content"},
        }
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        paths[layout] = d
    return paths


def _measure(spark, idx_dir: str, draws: list[list[str]]) -> dict:
    import pyarrow.parquet as pq

    from lucene_spark.index import Index

    times, groups, nbytes = [], [], []
    total_groups = None
    for terms in draws:
        index = Index(spark, idx_dir)
        t0 = time.perf_counter()
        got = index.stats_for_terms(terms)
        times.append(time.perf_counter() - t0)
        assert set(got) == set(terms), (terms, got)
        sel = index._stats_row_groups("content", terms)
        total_groups = sum(len(g) for _f, g in index._stats_fragments)
        groups.append(sum(len(r) for _f, r in sel))
        b = 0
        for frag, rgs in sel:
            md = pq.read_metadata(frag.path)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in rgs:
                r = md.row_group(rg)
                b += sum(r.column(names.index(c)).total_compressed_size for c in READ_COLS)
        nbytes.append(b)
    files = index._stats_fragments
    return {
        "files": len(files),
        "row_groups_total": total_groups,
        "row_groups_read_p50": statistics.median(groups),
        "bytes_read_p50": statistics.median(nbytes),
        "table_bytes": sum(os.path.getsize(f.path) for f, _g in files),
        "lookup_s_p50": round(statistics.median(times), 4),
        "lookup_s_min": round(min(times), 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--terms", type=int, default=1_200_000)
    ap.add_argument("--k", type=int, default=4, help="terms per lookup")
    ap.add_argument("--lookups", type=int, default=15)
    ap.add_argument("--out", required=True, help="scratch directory")
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from lucene_spark.session import get_spark

    spark = get_spark("termdict_scale")
    paths = _write_tables(spark, args.out, args.terms)
    stats_dir = os.path.join(paths["sorted"], "term_stats")
    vocab = [
        t
        for f in sorted(os.listdir(stats_dir)) if f.endswith(".parquet")
        for t in pq.read_table(os.path.join(stats_dir, f), columns=["term"])
        .column("term").to_pylist()
    ]
    rng = random.Random(7)
    draws = [rng.sample(vocab, args.k) for _ in range(args.lookups)]
    result = {"terms": len(vocab), "k": args.k, "lookups": args.lookups}
    for layout in ("sorted", "legacy"):
        result[layout] = _measure(spark, paths[layout], draws)
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
