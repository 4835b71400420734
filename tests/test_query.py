"""Rank-identity: engine (both paths) vs pure-Python oracle (SURVEY §5.2)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.analyzer import duckdb_tokens_sql
from data_prepper_spark.query.bm25 import bm25_topk
from data_prepper_spark.query.wand import bm25_topk_wand
from tests.oracle import bm25_topk as oracle_topk

# query shapes from FIXTURES.md §2: rare term, hot term, hot+rare
# conjunction, identifier-split, absent term, lang keyword; k in {1,10,100}
QUERIES = [
    ("parseJson buffer", 10),
    ("the", 10),
    ("the index_merge", 10),
    ("parse json response", 10),
    ("zzz_absent_term", 10),
    ("return", 10),
    ("scanChunk emitState", 100),
    ("INDEX_MERGE", 1),
    ("the int return i", 10),
    ("flushBatch shard term doc", 25),
]


def _norm(rows):
    return [(r[0], r[1], round(r[2], 6)) for r in rows]


@pytest.mark.parametrize("q,k", QUERIES)
def test_rank_identity(spark, index_dir, corpus_docs, q, k):
    want = _norm(oracle_topk(corpus_docs, q, k))
    got_df = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk(spark, index_dir, q, k).collect()]
    )
    got_wand = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    assert got_df == want
    assert got_wand == want


def test_duckdb_df_dl_crosscheck(spark, corpus_dir, index_dir):
    """df/doc_len recounted by DuckDB over the raw corpus (SURVEY §5.2)."""
    con = duckdb.connect()
    toks = duckdb_tokens_sql("content")
    duck = con.execute(
        f"""
        with t as (select repo, path, commit, unnest({toks}) as term
                   from read_parquet('{corpus_dir}/*.parquet')),
        dl as (select repo, path, commit, count(*) as doc_len from t group by all),
        df as (select term, count(distinct (repo, path, commit)) as df from t group by term)
        select (select sum(doc_len) from dl) as total_len,
               (select count(*) from df) as n_terms,
               (select sum(df) from df) as sum_df
        """
    ).fetchone()
    posts = spark.read.parquet(f"{index_dir}/postings")
    docs = spark.read.parquet(f"{index_dir}/docs")
    assert docs.agg(F.sum("doc_len")).collect()[0][0] == duck[0]
    dic = spark.read.parquet(f"{index_dir}/dictionary")
    assert dic.count() == duck[1]
    assert dic.agg(F.sum("df")).collect()[0][0] == duck[2]
    assert posts.count() == duck[2]


@pytest.mark.parametrize("q,k", [("the", 10), ("parse json response", 10), ("return", 100), ("the int return i", 10)])
def test_pointer_wand_equals_exhaustive(spark, index_dir, corpus_docs, q, k, monkeypatch):
    """The pointer (block-max pruning) kernel and the vectorized exhaustive
    kernel must return identical answers; the threshold only picks which
    one runs. Forces the pointer path by zeroing the threshold."""
    from data_prepper_spark.query import wand as wand_mod

    fast = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    monkeypatch.setattr(wand_mod, "EXHAUSTIVE_THRESHOLD", -1)
    slow = _norm(
        [(r.rank, r.doc_id, r.score) for r in bm25_topk_wand(spark, index_dir, q, k).collect()]
    )
    want = _norm(oracle_topk(corpus_docs, q, k))
    assert fast == want and slow == want


def test_batch_equals_per_query(spark, index_dir):
    """topk_batch (decode-once batch kernel) must be rank-identical to
    per-query topk for every query in the batch."""
    from data_prepper_spark.query.engine import IndexQueryEngine

    eng = IndexQueryEngine(spark, index_dir, persist_blocks=False)
    qmap = {f"q{i}": q for i, (q, _) in enumerate(QUERIES[:6])}
    batch = eng.topk_batch(qmap, 10).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], round(r["score"], 6)))
    for qid, q in qmap.items():
        single = _norm([(r.rank, r.doc_id, r.score) for r in eng.topk(q, 10).collect()])
        assert sorted(got.get(qid, [])) == sorted(single), qid


def test_bm25_topk_filtered_indexed(spark, index_dir, corpus_dir, corpus_docs):
    """Indexed filtered search: results satisfy the predicate, scores are
    the corpus-wide BM25 scores (filter narrows answers, not statistics)."""
    from data_prepper_spark.query.bm25 import bm25_topk_filtered

    docs = spark.read.parquet(corpus_dir)
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    lang = sorted(langs)[0]
    q = "return value"
    got = bm25_topk_filtered(spark, index_dir, q, f"lang = '{lang}'", k=10).collect()
    assert got
    allowed = {
        r["doc_id"]
        for r in spark.read.parquet(f"{index_dir}/docs").where(f"lang = '{lang}'").collect()
    }
    assert {r["doc_id"] for r in got} <= allowed
    full = {r.doc_id: round(r.score, 6) for r in bm25_topk(spark, index_dir, q, k=10**6).collect()}
    for r in got:
        assert round(r["score"], 6) == full[r["doc_id"]]
    # equals the brute-force answer: filter the oracle's full ranking
    want = [
        (d, round(s, 6))
        for _, d, s in oracle_topk(corpus_docs, q, 10**6)
        if d in allowed
    ][:10]
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == want


# serving inputs: all-absent, punctuation-only, k above the match count,
# k=1, and one query at two k (distinct k are distinct answers)
SERVING = [
    ("def return value", 10),
    ("def return value", 5),
    ("the int return i", 1),
    ("parse json response", 1000),
    ("qqqqxyzw", 3),
    ("!!! ... ;;", 10),
]


@pytest.mark.parametrize("path", ["local", "distributed"])
def test_engine_serving_paths_equal_topk(spark, index_dir, monkeypatch, path):
    """topk_rows and topk_batch return exactly topk(...).collect() on the
    driver-local path and on the distributed one (forced by a zero
    postings budget): same scores, same (score desc, doc_id asc) order."""
    from data_prepper_spark.query import engine as engine_mod

    if path == "distributed":
        monkeypatch.setattr(engine_mod, "LOCAL_POSTINGS_BUDGET", 0)
    eng = engine_mod.IndexQueryEngine(spark, index_dir, persist_blocks=False)
    for q, k in SERVING:
        want = eng.topk(q, k).collect()
        assert eng.topk_rows(q, k) == want, (q, k)
        batch = eng.topk_batch({"a": q, "b": "class import"}, k).collect()
        got = sorted((r.rank, r.doc_id, r.score) for r in batch if r.query_id == "a")
        assert got == [tuple(r) for r in want], (q, k)
    assert 0 < len(eng.topk_rows("parse json response", 1000)) < 1000  # k above the matches
    assert eng.topk_rows("qqqqxyzw", 3) == [] and eng.topk_rows("!!! ... ;;", 10) == []
    assert eng.topk_batch({"a": "qqqqxyzw", "b": "!!!"}, 3).collect() == []
    assert bool(eng._block_cache) == (path == "local")


def test_engine_topk_rows_serving_path(spark, index_dir, monkeypatch):
    """A warm topk_rows runs no Spark job and returns the DataFrame
    path's rows; the block cache stays within the postings budget (LRU)."""
    from data_prepper_spark.query import engine as engine_mod

    eng = engine_mod.IndexQueryEngine(spark, index_dir, persist_blocks=False)
    q = "def return value"
    want = eng.topk(q, 10).collect()
    assert eng.topk_rows(q, 10) == want  # cold: one fetch of its blocks
    sc = spark.sparkContext
    sc.setJobGroup("warm-topk-rows", "warm topk_rows")
    try:
        assert eng.topk_rows(q, 10) == want
        assert eng.topk_rows(q, 5) == want[:5]
        jobs = sc.statusTracker().getJobIdsForGroup("warm-topk-rows")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    # a budget that holds one query's terms: the next query evicts them
    budget = sum(s["df"] for s in eng._hstats(q).values())
    monkeypatch.setattr(engine_mod, "LOCAL_POSTINGS_BUDGET", budget)
    other = "class import"
    assert sum(s["df"] for s in eng._hstats(other).values()) <= budget
    assert eng.topk_rows(other, 10) == eng.topk(other, 10).collect()
    assert eng._cached_postings <= budget
    both = set(eng._hstats(q)) | set(eng._hstats(other))
    assert set(eng._hstats(other)) <= set(eng._block_cache) < both
    assert eng.topk_rows(q, 10) == want  # refetched after eviction
