"""Leaf-plan top-k at more than one salt: one checkout against another.

Times ``Searcher.top_k`` for a list of query shapes on ``make_corpus(N,
seed=7)`` indexes (``num_buckets=16``, default ``salt_rows``: 30,005 docs
are 2 salts, 300,005 docs are 19), and checks that both checkouts return
the same hits, bit for bit.

Every heavy step runs in its own process, so no process holds a corpus,
a build and a query session at once: the corpus parquet is written by
one process per size, the index is built by another (with this
checkout's code), and each timing run is one process per checkout. The
rounds alternate the checkouts, swapping which goes first. A timing
process runs ``--warm`` untimed and ``--timed`` timed calls per shape.

    python tools/leaf_scale.py --other /path/to/parent --docs 30000,300000 \\
        --out /tmp/leaf_scale

prints, per size and shape, the median (Q1-Q3) seconds of each side over
all its timed calls, and whether every call of both sides returned the
same hits. ``--other`` is a checkout of the commit to compare against
(``git archive <rev> | tar -x -C <dir>``); this checkout is "change".
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10


def shapes(P) -> dict:
    """name -> query, built from the checkout's own ``plans`` module."""
    return {
        "synonym(license, file)": P.SynonymQ(("license", "file")),
        "span_near(apache, license, slop 2)": P.SpanNearQ(
            (P.SpanTermQ("apache"), P.SpanTermQ("license")), slop=2),
        "automaton = \"apache license version\"": P.TermAutomatonQ(
            4, ((0, 1, "apache"), (1, 2, "license"), (2, 3, "version")), (3,)),
    }


def _spark(repo: str):
    sys.path.insert(0, repo)
    os.environ.setdefault("LUCENE_SPARK_DRIVER_MEM", "8g")
    from lucene_spark.session import get_spark

    return get_spark("leaf_scale", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))


def write_corpus(n: int, path: str) -> None:
    sys.path.insert(0, REPO)
    from lucene_spark.corpus import make_corpus

    make_corpus(n, seed=7).to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)


def build(corpus: str, index_dir: str) -> None:
    spark = _spark(REPO)
    from lucene_spark.index import build_index

    build_index(spark, spark.read.parquet(corpus), index_dir + ".tmp",
                text_col="content", order_cols=["repo", "path", "commit"],
                num_buckets=16)
    os.replace(index_dir + ".tmp", index_dir)


def time_shapes(repo: str, index_dir: str, warm: int, timed: int) -> dict:
    """One timing process: {shape: {"s": [seconds], "hits": [...]}}."""
    spark = _spark(repo)
    import numpy as np

    from lucene_spark.index import Index
    from lucene_spark.search import Searcher
    from lucene_spark.search import plans as P

    s = Searcher(Index(spark, index_dir))
    out = {}
    for name, q in shapes(P).items():
        secs, hits = [], set()
        for i in range(warm + timed):
            t0 = time.perf_counter()
            rows = s.top_k(q, K).collect()
            dt = time.perf_counter() - t0
            if i >= warm:
                secs.append(dt)
            hits.add(tuple((int(r["doc_id"]), int(np.float64(r["score"]).view(np.uint64)))
                           for r in rows))
        out[name] = {"s": secs, "hits": sorted(hits)}
    return out


def _child(*args, repo: str = REPO) -> str:
    """Run one step in its own process. Spark's Python workers import
    ``lucene_spark`` from the working directory and PYTHONPATH, so both
    point at the checkout under test."""
    env = {**os.environ, "PYTHONPATH": repo}
    r = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                       check=True, stdout=subprocess.PIPE, text=True,
                       cwd=repo, env=env)
    return r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""


def _quartiles(xs: list) -> str:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{med:.2f} ({q1:.2f}–{q3:.2f})"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--other", required=True, help="checkout to compare against")
    ap.add_argument("--docs", default="30000,300000")
    ap.add_argument("--out", default="/tmp/leaf_scale")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--timed", type=int, default=5)
    a = ap.parse_args()
    a.out = os.path.abspath(a.out)
    os.makedirs(a.out, exist_ok=True)
    sides = {"parent": os.path.abspath(a.other), "change": REPO}
    rows = []
    for n in (int(x) for x in a.docs.split(",")):
        corpus = os.path.join(a.out, f"corpus_{n}.parquet")
        index_dir = os.path.join(a.out, f"idx_{n}")
        if not os.path.exists(corpus):
            _child("_corpus", str(n), corpus)
        if not os.path.exists(index_dir):
            _child("_build", corpus, index_dir)
        got = {side: {} for side in sides}
        for r in range(a.rounds):
            order = list(sides) if r % 2 == 0 else list(sides)[::-1]
            for side in order:
                res = json.loads(_child("_time", sides[side], index_dir,
                                        str(a.warm), str(a.timed),
                                        repo=sides[side]))
                for name, v in res.items():
                    g = got[side].setdefault(name, {"s": [], "hits": set()})
                    g["s"] += v["s"]
                    g["hits"] |= {tuple(map(tuple, h)) for h in v["hits"]}
        with open(os.path.join(index_dir, "manifest.json")) as f:
            mf = json.load(f)
        docs = f"{mf['N']:,} ({-(-mf['N'] // mf.get('salt_rows', 1 << 14))} salts)"
        for name in got["change"]:
            p, c = got["parent"][name], got["change"][name]
            same = len(p["hits"]) == 1 and p["hits"] == c["hits"]
            rows.append((docs, name, _quartiles(p["s"]), _quartiles(c["s"]), same))
            print(json.dumps({"docs": n, "shape": name, "parent_s": p["s"],
                              "change_s": c["s"], "hits_identical": same}),
                  file=sys.stderr)
    print("| docs | shape | parent | change | hits bit-identical |")
    print("|---|---|---|---|---|")
    for n, name, p, c, same in rows:
        print(f"| {n} | `{name}` | {p} | {c} | {'yes' if same else 'NO'} |")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "_corpus":
        write_corpus(int(sys.argv[2]), sys.argv[3])
    elif len(sys.argv) > 1 and sys.argv[1] == "_build":
        build(sys.argv[2], sys.argv[3])
    elif len(sys.argv) > 1 and sys.argv[1] == "_time":
        print(json.dumps(time_shapes(sys.argv[2], sys.argv[3],
                                     int(sys.argv[4]), int(sys.argv[5]))))
    else:
        main()
