"""The two workloads: ``ingest`` (the write path) and ``search`` (the read path).

Each is a closed loop with one client. A workload function receives a
started :class:`Run`, does its untimed warm-up, measures for
``run.seconds`` and then checks every output outside the timed part.
It returns its end-to-end figures and, in a traced run, the per-layer
records that :func:`layer_metrics` turns into metrics.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pandas as pd

from perfbench.mix import FAMILIES, K, ORDER_COLS, QueryMix, hits_match, oracle_for
from perfbench.trace import RssSampler, manifest_bytes, python_nodes

KEEP_COLS = ["repo", "path", "lang"]
NRT_BATCH = 300  # docs per append, one of them the batch's marker doc
MIN_LOOPS = 2  # timed build-and-refresh loops per ingest run, however short --seconds is
MIN_ROUNDS = 2  # timed rounds of the mix per search run, however short --seconds is
REOPENS = 5  # fresh readers opened per search run, after the query rounds

now = time.perf_counter
_T0 = now()


def log(msg: str) -> None:
    print(f"[perfbench {now() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, corpus, op accounting."""

    def __init__(self, spark, groups, run_dir: str, seed: int, seconds: float,
                 pdf: pd.DataFrame):
        self.spark = spark
        self.groups = groups
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.pdf = pdf
        self.corpus_df = spark.createDataFrame(pdf)
        self.setup_s = 0.0
        self.ops: list[str] = []
        self.failed: set[str] = set()
        self.layers: dict = {}

    @contextmanager
    def op(self, name: str):
        """One attempted op; an exception marks it failed and the run goes on."""
        self.ops.append(name)
        try:
            yield
        except Exception:
            self.failed.add(name)
            print(f"op {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    def check(self, name: str, ok: bool, what: str) -> None:
        """A wrong answer counts its op as failed."""
        if not ok:
            self.failed.add(name)
            print(f"op {name}: wrong output: {what}", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def build(self, name: str):
        from lucene_spark.index import build_index

        return build_index(self.spark, self.corpus_df, self.path(name),
                           order_cols=ORDER_COLS, keep_cols=KEEP_COLS, resume=False)

    def group_counts(self, group: str) -> dict:
        return self.groups.counts(group) if self.groups.enabled else {}


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


def sha_multiset(contents) -> list[str]:
    return sorted(hashlib.sha256(c.encode()).hexdigest() for c in contents)


def nrt_batch(seed: int, i: int) -> tuple[pd.DataFrame, str]:
    """Append batch ``i``: fresh corpus rows under their own repos, the
    first of them carrying a term no other doc has."""
    from lucene_spark.corpus import make_corpus

    b = make_corpus(NRT_BATCH, seed=seed * 1_000 + i + 1).iloc[:NRT_BATCH].copy()
    b["repo"] = f"nrt{i}/" + b["repo"]
    marker = f"zzmarker_{seed}_{i}"
    b.iloc[0, b.columns.get_loc("content")] = f"{marker} {b['content'].iloc[0]}"
    return b.reset_index(drop=True), marker


def hits(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


# --------------------------------------------------------------------------
# ingest: warm full builds, each followed by one NRT append + reopen
# --------------------------------------------------------------------------


def ingest(run: Run) -> dict:
    from lucene_spark.index import Index, append_to_index, maybe_merge
    from lucene_spark.index.check import check_index
    from lucene_spark.search import Searcher, TermQ

    spark, pdf, n = run.spark, run.pdf, len(run.pdf)
    t = now()
    warm = run.build("warmup")
    Searcher(Index(spark, run.path("warmup"))).top_k(TermQ("import"), K).collect()
    run.setup_s += now() - t
    log(f"ingest set-up done: {run.setup_s:.1f}s")

    builds, refreshes = [], []
    last = None  # (build op, batch index) of the last build whose refresh ran
    with RssSampler() as rss:
        t_start = now()
        i = 0
        # whole loops, so that every run takes as many builds as refreshes
        while i < MIN_LOOPS or now() - t_start < run.seconds:
            name = f"build{i}"
            with run.op(name), run.groups.group("build", i) as g:
                t0 = now()
                m = run.build(name)
                builds.append({"op": name, "s": now() - t0, "manifest": m,
                               "bytes": manifest_bytes(m), "group": g,
                               **run.group_counts(g)})
            if name in run.failed:
                break
            batch, marker = nrt_batch(run.seed, i)
            batch_df = spark.createDataFrame(batch)
            rname = f"refresh{i}"
            with run.op(rname):
                with run.groups.group("append", i) as g:
                    t0 = now()
                    append_to_index(spark, batch_df, run.path(name), order_cols=ORDER_COLS)
                    t1 = now()
                with run.groups.group("reopen", i):
                    idx = Index(spark, run.path(name))
                    s = Searcher(idx)
                    t2 = now()
                    got = hits(s.top_k(TermQ(marker), K))
                    t3 = now()
                refreshes.append({"op": rname, "s": t3 - t0, "append_s": t1 - t0,
                                  "open_s": t2 - t1, "first_query_s": t3 - t2,
                                  "group": g, "segments": len(idx.manifest["paths"]["docs"]),
                                  **run.group_counts(g)})
                run.check(rname, len(got) == 1 and got[0][0] >= n,
                          f"marker {marker} returned {got}")
                run.check(rname, idx.N == n + NRT_BATCH, f"N {idx.N} after append")
                last = (name, i)
            i += 1
    peak_mb = rss.peak_mb
    log("timed phase done: builds " + ", ".join(f"{b['s']:.2f}s" for b in builds)
        + "; refreshes " + ", ".join(f"{r['s']:.2f}s" for r in refreshes))

    for b in builds:
        m = b["manifest"]
        run.check(b["op"], m["N"] == n and m["stages"]["stage1_postings"]["docs_rows"] == n,
                  f"N {m['N']} docs_rows {m['stages']['stage1_postings']['docs_rows']} "
                  f"for {n} corpus rows")

    # the last appended index (in a traced run after a tiered merge):
    # every invariant of the result
    merge = {}
    if last:
        name, i = last
        if run.groups.enabled:
            with run.op("merge"), run.groups.group("merge", 0) as g:
                t0 = now()
                maybe_merge(spark, run.path(name))
                merge = {"s": now() - t0, "group": g}
        with run.op("check"):
            idx = Index(spark, run.path(name))
            report = check_index(idx)
            batch, _ = nrt_batch(run.seed, i)
            want = sha_multiset(list(pdf["content"]) + list(batch["content"]))
            got = sorted(r["sha256"] for r in idx.corpus.select("sha256").collect())
            run.check("check", idx.docs.count() == n + NRT_BATCH, "docs row count")
            run.check("check", got == want, "snapshot sha256 != sha256(content)")
            run.check("check", report["sha256_mismatches"] == 0, str(report))

    if not builds:
        return {}
    build_s = statistics.median(b["s"] for b in builds)
    run.layers.update(builds=builds, refreshes=refreshes, merge=merge,
                      postings=warm["paths"]["postings"])
    out = {
        "peak_rss_mb": peak_mb,
        "index_bytes_per_content_byte":
            sum(builds[0]["bytes"].values()) / content_bytes(pdf),
        "main_op_p50_s": build_s,
    }
    if refreshes:
        out["refresh_p50_s"] = statistics.median(r["s"] for r in refreshes)
    return out


# --------------------------------------------------------------------------
# search: rounds of a seeded query mix through top_k, then fresh readers
# --------------------------------------------------------------------------


def search(run: Run) -> dict:
    from lucene_spark.index import Index
    from lucene_spark.search import Searcher

    spark, pdf = run.spark, run.pdf
    t = now()
    with run.groups.group("build", 0) as g:
        t0 = now()
        m = run.build("base")
        base_build = {"op": "base", "s": now() - t0, "manifest": m, "group": g,
                      **run.group_counts(g)}
    base_build["bytes"] = manifest_bytes(m)
    run.setup_s += now() - t

    # benchmark bookkeeping, outside setup_s: the oracle and the mix
    mix = QueryMix(pdf, oracle_for(pdf), run.seed)
    # warm-up: one untimed round on the reader the rounds will use, so its
    # tables are loaded and every family's plan shapes are compiled
    t = now()
    s = Searcher(Index(spark, run.path("base")))
    for _fam, q in mix.round():
        s.top_k(q, K).collect()
    run.setup_s += now() - t

    log(f"search set-up done: {run.setup_s:.1f}s, base build {base_build['s']:.1f}s")

    seq, reopens = [], []
    with RssSampler() as rss:
        t_start = now()
        i = 0
        # whole rounds, so that every family is measured equally often
        while i < MIN_ROUNDS * len(FAMILIES) or now() - t_start < run.seconds:
            for fam, q in mix.round():
                name = f"q{i}.{fam}"
                with run.op(name), run.groups.group(f"q.{fam}", i) as g:
                    t0 = now()
                    df = s.top_k(q, K)
                    t1 = now()
                    got = hits(df)
                    t2 = now()
                    rec = {"op": name, "family": fam, "q": q, "got": got, "plan_s": t1 - t0,
                           "exec_s": t2 - t1, "s": t2 - t0, "group": g}
                    if run.groups.enabled:
                        rec.update(run.group_counts(g), python_nodes=python_nodes(df))
                    seq.append(rec)
                i += 1
        # a fresh reader on the unchanged index, answering its first query
        for j in range(REOPENS):
            fam, q = "term", mix.make("term")
            name = f"reopen{j}"
            with run.op(name), run.groups.group("reopen", j):
                t0 = now()
                fresh = Searcher(Index(spark, run.path("base")))
                t1 = now()
                got = hits(fresh.top_k(q, K))
                t2 = now()
                reopens.append({"op": name, "family": fam, "q": q, "got": got,
                                "s": t2 - t0, "open_s": t1 - t0, "first_query_s": t2 - t1})
    peak_mb = rss.peak_mb
    log("timed phase done: " + ", ".join(f"{r['family']} {r['s']:.2f}s" for r in seq)
        + "; reopens " + ", ".join(f"{r['s']:.2f}s" for r in reopens))

    batches = top_k_batches(run, s, mix) if run.groups.enabled else []
    for rec in seq + reopens:
        want = mix.expected(rec["family"], rec["q"])
        run.check(rec["op"], hits_match(rec["got"], want),
                  f"{rec['q']}: got {rec['got']} want {want}")

    run.layers.update(builds=[base_build], queries=seq, reopens=reopens, batches=batches,
                      postings=m["paths"]["postings"])
    if not seq:
        return {}
    by_family: dict[str, list[float]] = {}
    for rec in seq:
        by_family.setdefault(rec["family"], []).append(rec["s"])
    out = {
        "peak_rss_mb": peak_mb,
        "index_bytes_per_content_byte":
            sum(base_build["bytes"].values()) / content_bytes(pdf),
        # every family weighs the same, however many of each the window held
        "main_op_p50_s": statistics.median(statistics.median(v) for v in by_family.values()),
    }
    if reopens:
        out["refresh_p50_s"] = statistics.median(r["s"] for r in reopens)
    return out


def top_k_batches(run: Run, s, mix: QueryMix) -> list[dict]:
    """Traced runs only: one round of the mix as one top_k_batch, checked
    query by query against the oracle. Returns its timings, or [] if it raised."""
    rnd = mix.round()
    with run.op("batch"), run.groups.group("batch", 0) as g:
        t0 = now()
        df = s.top_k_batch({f"b{x}": q for x, (_f, q) in enumerate(rnd)}, K)
        t1 = now()
        rows = df.collect()
        t2 = now()
        per_q: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            per_q.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
        for x, (fam, q) in enumerate(rnd):
            got, want = per_q.get(f"b{x}", []), mix.expected(fam, q)
            run.check("batch", hits_match(got, want), f"batch {q}: got {got} want {want}")
        return [{"plan_s": t1 - t0, "exec_s": t2 - t1, "group": g, **run.group_counts(g)}]
    return []


WORKLOADS = {"ingest": ingest, "search": search}


# --------------------------------------------------------------------------
# per-layer metrics of a traced run
# --------------------------------------------------------------------------


def _median(values, default=0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else default


def codec_and_analysis(run: Run) -> dict:
    """In-process rates of the analysis and codec layers over this run's
    corpus: MB of text analysed, and MB of raw postings (int64 docID,
    int64 freq, uint8 norm) encoded and decoded, per second."""
    import pyarrow.parquet as pq

    from lucene_spark.analysis import analyze_batch
    from lucene_spark.codec import decode_block, encode_posting_blocks

    def median_time(fn, reps=3):
        times = []
        for _ in range(reps):
            t0 = now()
            fn()
            times.append(now() - t0)
        return statistics.median(times)

    texts = run.pdf["content"].iloc[:500].reset_index(drop=True)
    text_mb = sum(len(t.encode()) for t in texts) / 2**20
    analyzed = analyze_batch(texts)
    analyze_s = median_time(lambda: analyze_batch(texts))

    runs: dict[str, tuple[list, list, list]] = {}
    for doc, (terms, norm) in enumerate(zip(analyzed["terms"], analyzed["norm"])):
        ts, counts = np.unique(np.asarray(list(terms), dtype=object), return_counts=True)
        for term, c in zip(ts, counts):
            r = runs.setdefault(term, ([], [], []))
            r[0].append(doc)
            r[1].append(int(c))
            r[2].append(int(norm))
    raw_mb = sum(len(r[0]) for r in runs.values()) * 17 / 2**20
    encode_s = median_time(lambda: [encode_posting_blocks(*r) for r in runs.values()])

    table = pq.read_table(run.layers["postings"], columns=["blocks"])
    blocks = [b for row in table.column("blocks").to_pylist() for b in row]
    decoded_mb = sum(b["num"] for b in blocks) * 17 / 2**20
    decode_s = median_time(lambda: [decode_block(b) for b in blocks])
    return {
        "analysis.analyze_mb_per_s": text_mb / analyze_s,
        "codec.encode_mb_per_s": raw_mb / encode_s,
        "codec.decode_mb_per_s": decoded_mb / decode_s,
    }


def layer_metrics(run: Run, session_s: float, counters: dict) -> dict:
    """Every per-layer metric; a layer this workload does not exercise
    in its measured ops reports 0."""
    L = run.layers
    ev = lambda g, k: counters.get(g, {}).get(k, 0)  # noqa: E731
    out = {"session.start_s": session_s}
    out.update(L.get("micro", {}))

    builds = L.get("builds", [])
    stage = lambda b, st, key="elapsed_sec": b["manifest"]["stages"][st][key]  # noqa: E731
    out.update({
        "builder.build_s": _median(b["s"] for b in builds),
        "builder.stage0_s": _median(stage(b, "stage0_corpus") for b in builds),
        "builder.stage1_postings_s": _median(
            stage(b, "stage1_postings", "postings_sec") for b in builds),
        "builder.stage1_docs_s": _median(stage(b, "stage1_postings", "docs_sec") for b in builds),
        "builder.stage3_s": _median(stage(b, "stage3_stats") for b in builds),
        "builder.skew_ratio": _median(
            b["manifest"]["stages"]["stage3_stats"]["skew"]["skew_ratio"] for b in builds),
    })
    for k in ("jobs", "stages", "tasks"):
        out[f"builder.{k}"] = _median(b.get(k) for b in builds)
    sizes = builds[0]["bytes"] if builds else {}
    for table in ("corpus", "postings", "docs", "term_stats"):
        out[f"builder.{table}_bytes"] = sizes.get(table, 0)

    refreshes = L.get("refreshes", [])
    merge = L.get("merge", {})
    out.update({
        "append.append_s": _median(r["append_s"] for r in refreshes),
        "append.jobs": _median(r.get("jobs") for r in refreshes),
        "append.merge_s": merge.get("s", 0.0),
        "append.segments": _median(r["segments"] for r in refreshes),
    })
    for k in ("shuffle_write_bytes", "spill_bytes", "executor_run_s"):
        out[f"builder.{k}"] = _median(ev(b["group"], k) for b in builds)
        out[f"append.{k}"] = _median(ev(r["group"], k) for r in refreshes)

    opened = refreshes + L.get("reopens", [])
    out["reader.open_s"] = _median(r["open_s"] for r in opened)
    out["reader.first_query_s"] = _median(r["first_query_s"] for r in opened)

    queries = L.get("queries", [])
    for fam in FAMILIES:
        recs = [q for q in queries if q["family"] == fam]
        p = f"searcher.{fam}."
        for k in ("plan_s", "exec_s", "jobs", "stages", "python_nodes"):
            out[p + k] = _median(q.get(k) for q in recs)
        out[p + "shuffle_bytes"] = _median(ev(q["group"], "shuffle_write_bytes") for q in recs)
        out[p + "tasks"] = _median(ev(q["group"], "tasks") for q in recs)
        out[p + "scan_rows"] = _median(ev(q["group"], "scan_rows") for q in recs)
    batches = L.get("batches", [])
    out["searcher.batch.plan_s"] = _median(b["plan_s"] for b in batches)
    out["searcher.batch.exec_s"] = _median(b["exec_s"] for b in batches)
    out["searcher.batch.jobs"] = _median(b.get("jobs") for b in batches)
    return out
