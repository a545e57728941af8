"""Spark job budget of the indexed query paths and the detector tick.

Each operation (plan + collect) runs under its own Spark job group and
its jobs are counted through the status tracker, the same way
``perfbench/tracing.py`` counts ``session.jobs_per_op``.  A budget is
the job count the operation ran at when the budget was set; a change
that adds a job to a query path fails here.
"""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.detector import (
    Detector,
    run_once_stateful,
    run_once_stateful_joint,
)
from anomaly_detection_spark.features import rcf_stream_factory
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
    "detector_tick": 13,
    "detector_joint_tick": 9,
}

HOUR_MS = 3600_000


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


@pytest.fixture(scope="module")
def tick_source(spark, tmp_path_factory):
    """Two entities, five to seven events an hour over eight hours."""
    base = pd.Timestamp("2025-03-01")
    rows = []
    for ent in ("A", "B"):
        for h in range(8):
            for i in range(5 + h % 3):
                rows.append((len(rows), ent,
                             base + pd.Timedelta(hours=h, minutes=7 * i),
                             float(i % 3)))
    path = str(tmp_path_factory.mktemp("tick_budget") / "events")
    spark.createDataFrame(pd.DataFrame(
        rows, columns=["event_id", "service", "ts", "value"])) \
        .write.parquet(path)
    return path, int(base.value // 10**6)


def _tick_jobs(spark, tick_source, state_dir, name, run) -> int:
    """Jobs of the 6th hourly tick ``run(det, now_ms, state_dir)`` on the
    two-entity, two-feature fixture (shingle 3), after five warm-up
    ticks; the tick must score both entities."""
    path, t0 = tick_source
    det = Detector(
        detector_id="budget", indices=path,
        feature_specs={"n": {"value_count": {"field": "event_id"}},
                       "v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=HOUR_MS, category_fields=("service",),
        shingle_size=3)

    def tick(h):
        now_ms = t0 + (h + 1) * HOUR_MS + 60_000
        return run(det, now_ms, state_dir).collect()

    for h in range(5):
        tick(h)
    rows = []
    got = _count_jobs(spark, name, lambda: rows.extend(tick(5)))
    assert len(rows) == 2
    return got


def test_detector_tick_job_budget(spark, tick_source, tmp_path):
    """A steady-state scalar ``run_once_stateful`` tick (every shingle
    window full, so every entity scores) collected like perfbench's
    ``serve`` ticks."""
    got = _tick_jobs(spark, tick_source, str(tmp_path / "state"),
                     "detector_tick",
                     lambda det, now_ms, sd: run_once_stateful(
                         spark, det, now_ms, sd))
    assert got <= BUDGET["detector_tick"], (
        f"detector tick ran {got} jobs, budget {BUDGET['detector_tick']}")


def test_detector_joint_tick_job_budget(spark, tick_source, tmp_path):
    """The same steady-state tick through ``run_once_stateful_joint``
    with a small two-feature RCF stream (warm from the 4th tick)."""
    factory = rcf_stream_factory(n_features=2, shingle=2, n_trees=5,
                                 sample_size=16, min_samples=2)
    got = _tick_jobs(spark, tick_source, str(tmp_path / "state"),
                     "detector_joint_tick",
                     lambda det, now_ms, sd: run_once_stateful_joint(
                         spark, det, now_ms, sd, stream_factory=factory))
    assert got <= BUDGET["detector_joint_tick"], (
        f"joint tick ran {got} jobs, "
        f"budget {BUDGET['detector_joint_tick']}")
