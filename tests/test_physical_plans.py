"""Physical-plan audit: the properties that make queries scale must be
visible in the executed plan (SURVEY.md §4 / the .explain discipline).

- term lookup: PushedFilters on bucket and term (postings are written
  flat; parquet row-group stats and dictionary filtering prune), and the
  scan reads only the columns the decode needs
- leaf plans (term-leaf booleans, phrases, synonyms, term automata,
  intervals): one postings scan and one grouped-map call per salt; on a
  one-salt index no Exchange and one job, otherwise one hash exchange
  on salt; other clause kinds keep the per-clause join tree
- top-k: TakeOrderedAndProject (per-partition heap + merge, never a
  global sort)
- multi-term expansion: broadcast semi join of the matching dictionary
  slice against postings
- pipeline projections: no shuffle (no Exchange) for per-row text ops
- Python UDFs: each evaluated once per row (one ArrowEvalPython node per
  UDF), counted by ``udf_evals``
- filter context: a doc set is the scored plan's doc_id column, so it
  has the scored plan's scans and shuffles
- empty results: a query that resolves to nothing plans no Python task
- jobs: a fresh reader builds a top-k plan without a Spark job (term
  stats and table schemas are read from parquet footers on the driver),
  so a term query's first collect is its only job; an NRT append runs
  at most APPEND_JOBS jobs
- stage 0: docID offsets are a literal array, not a broadcast join of
  rows built in Python
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import make_corpus
from lucene_spark.index import Index, append_to_index, build_index
from lucene_spark.index.builder import _assign_doc_ids, _check_doc_ids
from lucene_spark.pipeline import textstats
from lucene_spark.search import (BoolQ, PhraseQ, PrefixQ, Searcher, SynonymQ,
                                 TermAutomatonQ, TermQ)
from lucene_spark.search import plans as P
from lucene_spark.search.executor import _SCORE_SCHEMA

# jobs of a 60-doc append onto a 200-doc index; 19 while the builder
# inferred the schema of every table it read back, 16 while it broadcast
# docID offsets from Python rows, range-shuffled the text twice and
# aggregated the segment stats from the written docs table
APPEND_JOBS = 11


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(
        spark,
        spark.createDataFrame(make_corpus(200, seed=5)),
        idx_dir,
        text_col="content",
        order_cols=["repo", "path", "commit"],
        keep_cols=["lang"],
        num_buckets=4,
        salt_rows=64,
    )
    return Searcher(Index(spark, idx_dir))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def udf_evals(df) -> Counter:
    """ArrowEvalPython evaluations per Python UDF name in the executed
    plan of ``df``. Once an adaptive plan has run, its string lists the
    final plan and then the initial one; only the final plan counts."""
    plan = plan_of(df).split("== Initial Plan ==")[0]
    return Counter(re.findall(r"ArrowEvalPython \[(\w+)\(", plan))


def test_term_topk_plan(searcher):
    plan = plan_of(searcher.top_k(TermQ("license"), 10))
    assert "TakeOrderedAndProject" in plan, plan
    # both the bucket route and the term predicate reach the parquet scan
    assert "EqualTo(term,license)" in plan and "PushedFilters" in plan, plan
    assert "bucket" in plan.split("PushedFilters")[1][:200], plan
    assert plan.count("Exchange") == 0, plan  # term query: shuffle-free


def test_term_topk_reads_no_position_columns(searcher):
    plan = plan_of(searcher.top_k(TermQ("license"), 10))
    cols = {
        c.split("#")[0]
        for c in re.search(r"FileScan parquet \[([^\]]*)\]", plan).group(1).split(",")
    }
    assert "blocks" in cols, plan
    assert not cols & {"pos", "off", "pay"}, plan


LEAF_SHAPES = {
    "or": BoolQ(should=(TermQ("license"), TermQ("file"))),
    "and": BoolQ(must=(TermQ("license"), TermQ("file"))),
    "must_not": BoolQ(must=(TermQ("license"),), must_not=(TermQ("the"),)),
    "msm": BoolQ(should=(TermQ("license"), TermQ("file"), TermQ("the")),
                 min_should_match=2),
    "phrase": PhraseQ(("apache", "license")),
    "synonym": SynonymQ(("license", "file")),
}


def salt_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning\(salt#", plan))


@pytest.mark.parametrize("name", ["or", "and", "must_not", "msm"])
def test_term_bool_topk_one_scan(searcher, name):
    """A term-leaf boolean top-k is one postings scan and one grouped
    call per salt, whatever its clause kinds; on a many-salt index the
    compressed rows cross one hash exchange on salt."""
    q = LEAF_SHAPES[name]
    st = searcher._term_bool_state(q)
    assert len(st["kinds"]) == len(q.must + q.should + q.must_not)  # all present
    df = searcher.top_k(q, 10)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert salt_exchanges(plan) == 1 and plan.count("Exchange") == 1, plan
    assert "InMemoryRelation" not in plan, plan  # nothing persisted


@pytest.fixture(scope="module")
def one_salt(spark, tmp_path_factory):
    """The module's corpus in one salt (default salt_rows)."""
    d = str(tmp_path_factory.mktemp("plan_idx_one_salt"))
    build_index(spark, spark.createDataFrame(make_corpus(200, seed=5)), d,
                text_col="content", order_cols=["repo", "path", "commit"],
                num_buckets=4)
    return Searcher(Index(spark, d))


@pytest.mark.parametrize("name", list(LEAF_SHAPES))
def test_leaf_plan_one_salt_no_exchange(spark, one_salt, name):
    """On a one-salt index a leaf top-k plans no Exchange: one scan, one
    grouped call, and its collect is one Spark job."""
    assert -(-one_salt.index.max_doc // one_salt.index.salt_rows) == 1
    df = one_salt.top_k(LEAF_SHAPES[name], 10)
    rows = []
    assert _jobs_in_group(spark.sparkContext, f"leaf_one_salt_{name}",
                          lambda: rows.extend(df.collect())) == 1
    assert rows
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_bool_with_phrase_keeps_join_tree(searcher):
    q = BoolQ(must=(TermQ("license"), PhraseQ(("apache", "license"))))
    assert searcher._term_bool_state(q) is None
    plan = plan_of(searcher.top_k(q, 10))
    # the term clause's decode and the phrase's leaf call, joined
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1 and "Join" in plan, plan


@pytest.mark.parametrize("api", ["top_k", "top_k_batch"])
def test_bool_plan_build_runs_no_job(searcher, api):
    """A boolean top-k is a plan, not a collect: once the term stats are
    memoized, building the top-k DataFrame runs no Spark job through
    either entry point."""
    s = searcher
    q = BoolQ(must=(TermQ("license"), TermQ("file")),
              must_not=(TermQ("java"),))

    def build():
        if api == "top_k":
            return s.top_k(q, 5)
        return s.top_k_batch({"q": q, "q2": BoolQ(should=q.must)}, 5)

    build()  # warms the term-stats memo
    sc = searcher.index.spark.sparkContext
    group = f"bool_plan_build_{api}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.fixture(scope="module")
def job_audit_dirs(spark, searcher, tmp_path_factory):
    """Index dirs by shape: the module's one-segment index, a two-segment
    index (an append after the build) and a two-field index."""
    corpus = make_corpus(200, seed=5)
    two = str(tmp_path_factory.mktemp("plan_idx_2seg"))
    build_index(spark, spark.createDataFrame(corpus), two, text_col="content",
                order_cols=["repo", "path", "commit"], num_buckets=4,
                salt_rows=64)
    append_to_index(spark, spark.createDataFrame(make_corpus(60, seed=11)),
                    two, order_cols=["repo", "path", "commit"])
    mf = str(tmp_path_factory.mktemp("plan_idx_mf"))
    corpus["head"] = corpus["content"].str.slice(0, 120)
    build_index(spark, spark.createDataFrame(corpus), mf, text_col="content",
                extra_fields={"head": "head"},
                order_cols=["repo", "path", "commit"], num_buckets=4,
                salt_rows=64)
    return {"one_segment": searcher.index.index_dir, "two_segment": two,
            "multifield": mf}


def _jobs_in_group(sc, group: str, fn) -> int:
    """Spark jobs that ``fn()`` submits, counted by the status tracker
    once the listener bus has delivered every event."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shape", ["one_segment", "two_segment", "multifield"])
def test_fresh_reader_plan_build_runs_no_job(spark, job_audit_dirs, shape):
    """On a fresh Index and Searcher, building a top-k runs no Spark job:
    no schema inference for the tables it reads and no term-stats
    lookup. The first collect of a term top-k is then its only job."""
    sc = spark.sparkContext
    fld = "head" if shape == "multifield" else None
    queries = {
        "term": TermQ("license", field=fld),
        "bool": BoolQ(must=(TermQ("license", field=fld), TermQ("file", field=fld))),
        "phrase": PhraseQ(("apache", "license"), field=fld),
        "synonym": SynonymQ(("license", "file"), field=fld),
    }
    for name, q in queries.items():
        s = Searcher(Index(spark, job_audit_dirs[shape]))
        group = f"fresh_plan_{shape}_{name}"
        assert _jobs_in_group(sc, group, lambda: s.top_k(q, 10)) == 0, name
    s = Searcher(Index(spark, job_audit_dirs[shape]))
    df = s.top_k(queries["term"], 10)
    rows = []
    assert _jobs_in_group(sc, f"fresh_collect_{shape}",
                          lambda: rows.extend(df.collect())) == 1
    assert rows


def test_append_jobs(spark, tmp_path):
    """A 60-doc append_to_index reads the tables it has just written with
    their footer schemas, ranks the batch without a second text shuffle
    and observes the segment stats during its docs write. Neither the
    build nor the append leaves its sorted text snapshot cached. The
    segment's docIDs are proven dense in [base, base + n) from its corpus
    footers, with no Spark job."""
    sc = spark.sparkContext
    d = str(tmp_path / "append_jobs")
    cached = sc._jsc.getPersistentRDDs().size()
    base = build_index(spark, spark.createDataFrame(make_corpus(200, seed=5)), d,
                       text_col="content", order_cols=["repo", "path", "commit"],
                       num_buckets=4, salt_rows=64)["max_doc"]
    assert sc._jsc.getPersistentRDDs().size() == cached
    batch = spark.createDataFrame(make_corpus(60, seed=11))
    m = []
    n = _jobs_in_group(sc, "append_jobs", lambda: m.append(append_to_index(
        spark, batch, d, order_cols=["repo", "path", "commit"])))
    assert n <= APPEND_JOBS, n
    assert sc._jsc.getPersistentRDDs().size() == cached
    seg, got = m[0]["paths"]["corpus"][-1], []
    assert _jobs_in_group(sc, "append_ids", lambda: got.append(
        _check_doc_ids(spark, seg, base=base))) == 0
    assert got == [m[0]["max_doc"] - base] and got[0] > 0
    with pytest.raises(ValueError, match="docID assignment violated"):
        _check_doc_ids(spark, seg, base=0)


def test_corpus_write_plan_has_no_python_rows(spark, tmp_path):
    """Stage 0 looks docID offsets up in a literal array: its plan has no
    broadcast join of driver-built rows (no Scan ExistingRDD job)."""
    src = str(tmp_path / "src")
    pdf = make_corpus(100, seed=3)
    spark.createDataFrame(pdf).write.parquet(src)
    ranked, sorted_rows = _assign_doc_ids(
        spark.read.parquet(src), ["repo", "path", "commit"], 4
    )
    try:
        plan = plan_of(ranked)
        ids = sorted(r["doc_id"] for r in ranked.select("doc_id").collect())
    finally:
        sorted_rows.unpersist()
    assert "BroadcastHashJoin" not in plan and "Scan ExistingRDD" not in plan, plan
    assert ids == list(range(len(pdf)))


def test_multiterm_expansion_broadcast(searcher):
    plan = plan_of(searcher.doc_set(PrefixQ("lic")))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "StartsWith(term,lic)" in plan, plan  # dictionary filter pushed down


def test_top_field_plan(searcher):
    # multi-field sort: per-partition top-k + merge, never a global sort
    plan = plan_of(
        searcher.top_field(TermQ("license"), [("lang", False)], 5)
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan  # no global Sort node


def test_multiterm_scored_rewrite_plan(searcher):
    # scoring rewrite: ONE postings scan for all expansions (a single
    # parquet read of the postings table), term filter pushed down
    s = Searcher(searcher.index, scoring="double")
    plan = plan_of(s.scored(PrefixQ("lic", rewrite="scoring_boolean")))
    assert plan.count("Scan parquet") <= 2, plan  # postings (+deletes none)
    assert "term" in plan.split("PushedFilters")[1][:300], plan


def test_textstats_projection_shuffle_free(spark):
    docs = spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    )
    for op in (textstats.with_quality, textstats.with_token_counts,
               textstats.with_lang_id, textstats.with_fingerprint):
        plan = plan_of(op(docs))
        assert "Exchange" not in plan, (op.__name__, plan)


def test_docs_filter_pushdown(searcher):
    df = searcher.index.docs.filter(F.col("lang") == "java").select("doc_id")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,java)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint" in plan, plan  # column pruning


# ---------------------------------------------------------------------------
# dedup / ANN scale-path plan audits: the 100 TB-killer shapes must NOT
# appear — no cross join at any Hamming radius, no shingle self-join when
# LSH candidates bound the verify, partition-pruned ANN probes.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [(i, f"some text body number {i} with shared tokens alpha beta gamma") for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_pairs_no_cross_join(spark, docs_df):
    from lucene_spark.pipeline import dedup

    plan = plan_of(dedup.simhash_pairs(dedup.simhash(docs_df), max_hamming=8))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_decontam_broadcasts_benchmark_side(spark, docs_df):
    from lucene_spark.pipeline import dedup

    sh = dedup.shingle_hashes(docs_df)
    df = dedup.benchmark_overlap(
        sh.filter("doc_id >= 5"), sh.filter("doc_id < 5"), min_overlap=1
    )
    plan = plan_of(df)
    # the eval-set side is broadcast; the corpus shingles are probed
    # once and aggregated — no corpus-vs-corpus shuffle join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_verify_no_shingle_self_join(spark, docs_df):
    from lucene_spark.pipeline import dedup

    df = dedup.minhash_dedup_pairs(docs_df, tau=0.3)
    plan = plan_of(df)
    # verification joins candidate pairs to per-doc sets (array_intersect),
    # never the raw (a.sh == b.sh) self-join of the shingle stream
    assert "array_intersect" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    import re

    # no equi-join keyed on a shingle-hash column anywhere in the plan
    assert not re.search(r"\[sh#\d+L?\],\s*\[sh#\d+L?\]", plan), plan


def test_phrase_two_phase_plan(searcher):
    """A phrase, a synonym, a term automaton and an interval query are
    each one leaf call per salt: the docID conjunction and the position
    matching (or the freq sum) run inside it, so no position list
    crosses a shuffle (no collect_list) and no per-doc UDF runs (no
    ArrowEvalPython). A phrase keeps that shape as a MUST clause beside
    a term."""
    for q in (PhraseQ(("apache", "license")),
              BoolQ(must=(TermQ("license"), PhraseQ(("apache", "license")))),
              SynonymQ(("license", "file")),
              TermAutomatonQ(3, ((0, 1, "apache"), (1, 2, "license")), (2,)),
              P.IntervalQ(P.IntervalOrdered((P.IntervalTerm("apache"),
                                             P.IntervalTerm("license")),
                                            max_gaps=2))):
        df = searcher.top_k(q, 10)
        df.collect()
        plan = plan_of(df).split("== Initial Plan ==")[0]
        assert "collect_list" not in plan, plan
        assert udf_evals(df) == Counter(), plan
        assert plan.count("FlatMapGroupsInPandas") == 1, plan
        assert salt_exchanges(plan) == 1, plan


def test_term_doc_set_shuffle_free(searcher):
    plan = plan_of(searcher.doc_set(TermQ("license")))
    assert "Exchange" not in plan, plan


def test_term_bool_count_one_scan(searcher):
    """count() of a term-leaf BoolQ runs the scored plan's one postings
    scan, not one scan per clause."""
    q = BoolQ(should=(TermQ("license"), TermQ("file"), TermQ("the")),
              min_should_match=2)
    plan = plan_of(searcher.doc_set(q).groupBy().count())
    assert plan.count("FileScan parquet") == 1, plan


def test_empty_result_runs_no_python(searcher):
    """A query that resolves to nothing is a JVM-only empty relation,
    not a scan of an empty PythonRDD (which still runs Python tasks)."""
    df = searcher.top_k(TermQ("zzabsentzz"), 10)
    assert df.collect() == []
    plan = plan_of(df)
    assert not re.search(r"ExistingRDD|Python|InPandas", plan), plan
    assert df.schema == _SCORE_SCHEMA


def test_ann_probe_partition_pruned(spark, tmp_path):
    from lucene_spark.pipeline import similarity

    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ann_dir = str(tmp_path / "annidx")
    similarity.build_ann_index(emb, ann_dir, nbits=4, n_tables=2)
    index = spark.read.parquet(ann_dir)
    qv = rows[0][1]
    df = similarity.ann_topk(None, qv, 5, nbits=4, n_tables=2, index=index)
    plan = plan_of(df)
    # (table, bucket) are partition columns: the probe must prune, i.e.
    # carry PartitionFilters on both, and scan only candidate partitions
    pf = plan.split("PartitionFilters")[1][:400]
    assert "table" in pf and "bucket" in pf, plan
    # and the result agrees with a brute-force rerank over ALL vectors for
    # the probed candidate set (rows-only sanity: top-1 is the query itself)
    top = df.collect()
    assert top and top[0]["vec_id"] == 0, top
