"""Spark job budget of the indexed query paths.

Each operation (plan + collect) runs under its own Spark job group and
its jobs are counted through the status tracker, the same way
``perfbench/tracing.py`` counts ``session.jobs_per_op``.  A budget is
the job count the operation ran at when the budget was set; a change
that adds a job to a query path fails here.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.index import build_index
from anomaly_detection_spark.query import IndexReader, bm25_topk_indexed
from anomaly_detection_spark.query.index_search import (
    match_phrase_topk_indexed,
)
from anomaly_detection_spark.query.planner import search

BUDGET = {
    "bm25_topk": 4,
    "bm25_topk_role_filter": 4,
    "search_match_msm": 7,
    "match_phrase": 4,
}


@pytest.fixture(scope="module")
def reader(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_jobs_")
    paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                        block_size=64, segments_per_batch=2,
                        positions=True)
    yield IndexReader(spark, paths.root)
    shutil.rmtree(tmp, ignore_errors=True)


def _count_jobs(spark, name: str, run) -> int:
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"job-budget-{name}"
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, name)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    # job end events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(set(st.getJobIdsForGroup(group))
               | (set(st.getJobIdsForGroup(None)) - ungrouped))


def test_indexed_query_job_budget(spark, reader):
    q = "spark query data merge"
    ops = {
        "bm25_topk": lambda: bm25_topk_indexed(reader, q, k=10).collect(),
        "bm25_topk_role_filter": lambda: bm25_topk_indexed(
            reader, q, k=10, filter_cond=F.col("role") == "user").collect(),
        "search_match_msm": lambda: search(reader, {
            "query": {"match": {"text": {
                "query": q, "minimum_should_match": "50%"}}},
            "size": 10}).collect(),
        "match_phrase": lambda: match_phrase_topk_indexed(
            reader, "the data", k=10).collect(),
    }
    for op in ops.values():   # warm-up: first-call planning effects
        op()
    got = {name: _count_jobs(spark, name, op) for name, op in ops.items()}
    over = {n: (got[n], BUDGET[n]) for n in got if got[n] > BUDGET[n]}
    assert not over, f"jobs over budget (got, budget): {over}; all: {got}"
