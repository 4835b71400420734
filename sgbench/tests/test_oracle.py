"""The DuckDB oracle: agrees with the engine on a tiny corpus and catches
a planted wrong score."""

from __future__ import annotations

import os
import shutil

import pytest

from sgbench import inputs as gen
from sgbench.oracle import Bm25Oracle, compare, doc_ids

QUERIES = ["the int return data", "parse buffer", "merge batch shard", "zqabsent1", "index"]


def test_compare_accepts_ties_and_rejects_wrong_rows():
    want = [(10, 3.0), (20, 2.0), (30, 2.0 + 1e-12), (40, 1.0)]
    assert compare([(1, 10, 3.0), (2, 30, 2.0), (3, 20, 2.0)], want, 3) is None
    assert compare([(1, 10, 3.0 + 1e-3), (2, 20, 2.0), (3, 30, 2.0)], want, 3) is not None
    assert compare([(1, 10, 3.0), (2, 40, 2.0), (3, 20, 2.0)], want, 3) is not None
    assert compare([(1, 10, 3.0), (2, 20, 2.0)], want, 3) is not None
    assert compare([], [], 10) is None


@pytest.fixture(scope="module")
def tiny_index(tmp_path_factory):
    from data_prepper_spark.index.build import build_index
    from data_prepper_spark.session import get_spark

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ["PYTHONPATH"] = root  # Spark's Python workers import the program
    spark = get_spark("sgbench-tests", cores=2, shuffle_partitions=4)
    work = tmp_path_factory.mktemp("sgbench")
    rows = gen.gen_rows(500_000, 200)
    dirs = gen.write_inputs(gen.Inputs("serve", 0, 500_000, rows), str(work / "inputs"))
    idx = str(work / "index")
    build_index(spark, dirs["base"], idx, n_shards=4, units=1, shard_groups=1)
    yield spark, idx, rows
    shutil.rmtree(str(work), ignore_errors=True)
    spark.stop()


def test_oracle_agrees_with_the_engine_and_catches_a_planted_error(tiny_index):
    from pyspark.sql import functions as F

    from data_prepper_spark.query.engine import IndexQueryEngine

    spark, idx, rows = tiny_index
    ids = doc_ids(rows)
    spark_ids = [
        r[0]
        for r in spark.createDataFrame(rows[["repo", "path", "commit"]])
        .select(F.xxhash64("repo", "path", "commit"))
        .collect()
    ]
    assert ids == spark_ids
    oracle = Bm25Oracle(rows.assign(rk=range(len(rows)), doc_id=ids))
    oracle.add_state("all", range(len(rows)), range(len(rows)))
    engine = IndexQueryEngine(spark, idx)
    try:
        for q in QUERIES:
            got = [(r["rank"], r["doc_id"], r["score"]) for r in engine.topk_rows(q, 10)]
            want = oracle.topk("all", q, 10)
            assert compare(got, want, 10) is None, q
        q = QUERIES[1]
        got = [(r["rank"], r["doc_id"], r["score"]) for r in engine.topk_rows(q, 10)]
        want = oracle.topk("all", q, 10)
        assert compare(got, want, 10) is None
        wrong_score = list(want)
        wrong_score[3] = (want[3][0], want[3][1] + 1e-4)
        assert "score" in compare(got, wrong_score, 10)
        wrong_doc = list(want)
        wrong_doc[3] = (want[3][0] + 1, want[3][1])
        assert "doc" in compare(got, wrong_doc, 10)
        lang_want = oracle.topk("all", QUERIES[1], 10, lang="python")
        assert lang_want and len(lang_want) < len(oracle.topk("all", QUERIES[1], 20))
    finally:
        engine.close()
        oracle.close()
