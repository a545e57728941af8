"""Profile surface (round 5): detector state summary against a seeded
stateful run, and index profile against a built index."""

import numpy as np
import pandas as pd

from anomaly_detection_spark.detector import (
    Detector,
    run_historical,
    run_once_stateful,
)
from anomaly_detection_spark.profile import profile_detector, profile_index

INTERVAL = 600_000
BASE = pd.Timestamp("2025-03-01")


def _events(spark, tmp_path_factory, n=40):
    rng = np.random.default_rng(3)
    frames = []
    for svc in ("A", "B"):
        frames.append(pd.DataFrame({
            "service": svc,
            "ts": [BASE + pd.Timedelta(milliseconds=i * INTERVAL)
                   for i in range(n)],
            "value": rng.normal(10.0, 1.0, n),
        }))
    path = str(tmp_path_factory.mktemp("prof") / "events")
    spark.createDataFrame(pd.concat(frames)).write.parquet(path)
    return path


def test_profile_detector_lifecycle(spark, tmp_path_factory):
    path = _events(spark, tmp_path_factory)
    state = str(tmp_path_factory.mktemp("prof_state"))
    det = Detector(
        detector_id="prof-det", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL,
        category_fields=("service",), shingle_size=4, confidence_ramp=8)
    p0 = profile_detector(spark, det, state)
    assert p0["state"] == "INIT" and p0["init_progress"] == 0.0

    base_ms = int(BASE.value // 10**6)
    # ingest 6 intervals: shingle 4 → 2 scored < ramp 8 → RUNNING
    for i in range(6):
        run_once_stateful(spark, det, base_ms + (i + 1) * INTERVAL + 1,
                          state).count()
    p1 = profile_detector(spark, det, state)
    assert p1["state"] == "RUNNING"
    assert 0.0 < p1["init_progress"] < 1.0
    assert p1["entity_count"] == 2 and p1["model_count"] == 2
    assert p1["last_data_time_ms"] == base_ms + 5 * INTERVAL

    for i in range(6, 14):
        run_once_stateful(spark, det, base_ms + (i + 1) * INTERVAL + 1,
                          state).count()
    p2 = profile_detector(spark, det, state)
    assert p2["state"] == "READY" and p2["init_progress"] == 1.0


def test_profile_detector_rcf_model_bytes(spark, tmp_path_factory):
    from anomaly_detection_spark.features import rcf_stream_factory

    path = _events(spark, tmp_path_factory)
    wd = tmp_path_factory.mktemp("prof_hist")
    det = Detector(
        detector_id="prof-rcf", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL,
        category_fields=("service",), confidence_ramp=8)
    base_ms = int(BASE.value // 10**6)
    run_historical(
        spark, det, base_ms, base_ms + 40 * INTERVAL,
        state_dir=str(wd / "state"), results_dir=str(wd / "results"),
        piece_intervals=64,
        scorer_factory=rcf_stream_factory(
            shingle=4, n_trees=3, sample_size=16, min_samples=4)).count()
    p = profile_detector(spark, det, str(wd / "state"))
    assert p["model_count"] == 2
    assert p["total_model_bytes"] > 1000     # serialized RCF checkpoints
    assert p["state"] == "READY"


def test_profile_index(spark, tiny_transcripts, tmp_path_factory):
    from anomaly_detection_spark.index import build_index

    tmp = str(tmp_path_factory.mktemp("prof_idx"))
    paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                        block_size=64, segments_per_batch=2,
                        positions=True)
    n_docs = tiny_transcripts.count()
    p = profile_index(spark, paths.root)
    assert p["n_docs"] == n_docs
    assert p["positions"] is True
    assert p["segments"] >= 1 and p["terms"] > 0 and p["postings"] > 0
    assert p["postings_bytes"] > 0
    assert p["docid_range"] == [0, n_docs]
    assert "index_postings" in p["stage_walls_s"] or p["stage_walls_s"]


def test_maintain_state_keeps_unaged_rows_and_prunes_joint(spark, tmp_path):
    """Retention is prune_state's rule: a row that never ingested an
    interval (null ``last_ms``) is kept, and the ``__joint`` table is
    pruned alongside the scalar one."""
    from anomaly_detection_spark.profile import maintain_state

    det = Detector(detector_id="mnt", indices=str(tmp_path / "events"),
                   feature_specs={"v": {"avg": {"field": "value"}}},
                   time_field="ts", interval_ms=INTERVAL,
                   category_fields=("service",))
    day = 86_400_000
    now = int(BASE.value // 10**6) + 10 * day
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [("fresh", "v", 5, now - INTERVAL), ("stale", "v", 5, now - 5 * day),
         ("never", "v", 0, None)],
        "service string, _feat string, scored_cnt long, last_ms long",
    ).write.parquet(f"{state}/mnt")
    spark.createDataFrame(
        [("fresh", 5, now - INTERVAL), ("stale", 5, now - 5 * day)],
        "service string, scored_cnt long, last_ms long",
    ).write.parquet(f"{state}/mnt__joint")

    assert maintain_state(spark, det, state, now_ms=now) == {
        "kept": 3, "pruned": 2}

    def services(ident):
        return sorted(r.service for r in
                      spark.read.parquet(f"{state}/{ident}").collect())

    assert services("mnt") == ["fresh", "never"]
    assert services("mnt__joint") == ["fresh"]
    assert maintain_state(spark, det, state, now_ms=now) == {
        "kept": 3, "pruned": 0}


def test_stats_and_maintenance(spark, tmp_path_factory):
    from anomaly_detection_spark.profile import (expire_results,
                                                 maintain_state, stats)

    path = _events(spark, tmp_path_factory)
    state = str(tmp_path_factory.mktemp("stats_state"))
    det = Detector(
        detector_id="stats-det", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL,
        category_fields=("service",), shingle_size=4, confidence_ramp=8)
    base_ms = int(BASE.value // 10**6)
    for i in range(6):
        run_once_stateful(spark, det,
                          base_ms + (i + 1) * INTERVAL, state)
    s = stats(spark, [(det, state)])
    assert s["detector_count"] == 1 and s["hc_detector_count"] == 1
    assert s["detectors_by_state"].get("RUNNING", 0) == 1
    assert s["entity_count"] == 2 and s["model_count"] >= 2
    assert s["detectors"]["stats-det"]["state"] == "RUNNING"

    # maintenance: nothing expires inside the ttl...
    now = base_ms + 6 * INTERVAL
    r = maintain_state(spark, det, state, now_ms=now,
                       retention_ms=10 * INTERVAL)
    assert r["pruned"] == 0 and r["kept"] >= 2
    # ...everything does past it, and the prune is visible in profile
    r = maintain_state(spark, det, state, now_ms=now + 20 * INTERVAL,
                       retention_ms=10 * INTERVAL)
    assert r["kept"] == 0 and r["pruned"] >= 2
    assert profile_detector(spark, det, state)["model_count"] == 0

    # result retention: rows older than the cutoff get deleted
    import pandas as pd
    res_path = str(tmp_path_factory.mktemp("res") / "results")
    rows = pd.DataFrame({
        "entity": ["A"] * 4,
        "window_start": [BASE + pd.Timedelta(days=d)
                         for d in (0, 1, 40, 41)],
        "grade": [0.0, 0.1, 0.2, 0.3]})
    spark.createDataFrame(rows).write.parquet(res_path)
    now2 = int((BASE + pd.Timedelta(days=41)).value // 10**6)
    n = expire_results(spark, res_path, now_ms=now2,
                       retention_ms=30 * 86_400_000)
    assert n == 2
    assert spark.read.parquet(res_path).count() == 2


def test_profile_entity_lifecycle(spark, tmp_path_factory):
    import pytest

    from anomaly_detection_spark.profile import profile_entity

    path = _events(spark, tmp_path_factory)
    state = str(tmp_path_factory.mktemp("prof_ent"))
    det = Detector(
        detector_id="prof-ent", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL,
        category_fields=("service",), shingle_size=4, confidence_ramp=8)
    base_ms = int(BASE.value // 10**6)

    # validation: non-HC and mismatched entity keys reject by name
    flat = Detector(
        detector_id="flat", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL)
    with pytest.raises(ValueError, match="high cardinality"):
        profile_entity(spark, flat, state, {"service": "A"})
    with pytest.raises(ValueError, match="category fields"):
        profile_entity(spark, det, state, {"wrong": "A"})

    # before any run: UNKNOWN, inactive, zero-size model
    p = profile_entity(spark, det, state, {"service": "A"})
    assert p["state"] == "UNKNOWN" and p["is_active"] is False
    assert p["model"]["model_size_in_bytes"] == 0
    assert p["model"]["model_id"] == "prof-ent_entity_A"

    for i in range(6):
        run_once_stateful(spark, det, base_ms + (i + 1) * INTERVAL + 1,
                          state).count()
    # 6 ingested, shingle 4 → 2 scored of 8 required → INIT at 25%
    p = profile_entity(spark, det, state, {"service": "A"})
    assert p["state"] == "INIT" and p["total_updates"] == 2
    assert p["init_progress"]["percentage"] == 0.25
    assert p["init_progress"]["needed_intervals"] == 6
    assert p["init_progress"]["estimated_minutes_left"] == 60.0
    assert p["is_active"] is True
    assert p["last_active_timestamp_ms"] == base_ms + 5 * INTERVAL
    # an entity the detector never saw stays UNKNOWN
    assert profile_entity(spark, det, state,
                          {"service": "Z"})["state"] == "UNKNOWN"

    for i in range(6, 14):
        run_once_stateful(spark, det, base_ms + (i + 1) * INTERVAL + 1,
                          state).count()
    p = profile_entity(spark, det, state, {"service": "A"})
    assert p["state"] == "RUNNING" and p["total_updates"] >= 8
    assert "init_progress" not in p


def test_profile_entity_cache_activity(spark, tmp_path_factory):
    from anomaly_detection_spark.caching import CachePolicy
    from anomaly_detection_spark.profile import profile_entity

    path = _events(spark, tmp_path_factory)
    state = str(tmp_path_factory.mktemp("prof_entc"))
    det = Detector(
        detector_id="prof-entc", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=INTERVAL,
        category_fields=("service",), shingle_size=4, confidence_ramp=8)
    base_ms = int(BASE.value // 10**6)
    pol = CachePolicy(dedicated_cache_size=1,
                      doorkeeper_count_threshold=0)
    last_now = None
    for i in range(4):
        last_now = base_ms + (i + 1) * INTERVAL + 1
        run_once_stateful(spark, det, last_now, state,
                          cache_policy=pol).count()
    pa = profile_entity(spark, det, state, {"service": "A"})
    pb = profile_entity(spark, det, state, {"service": "B"})
    # one slot: A hosted (deterministic tie-break), B tracked but cold
    assert pa["is_active"] is True and pb["is_active"] is False
    assert pa["last_active_timestamp_ms"] == last_now
    assert pb["last_active_timestamp_ms"] == last_now
    assert pb["state"] == "UNKNOWN"     # no model rows → no updates
