"""Detector-level surface: config → preview / run_once → anomaly-result
rows (the reference's user API end to end)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.detector import Detector, preview, run_once

HOUR = 3600_000


@pytest.fixture(scope="module")
def spiky_events(spark, tmp_path_factory):
    """Two entities, hourly cadence over 3 days; entity B gets a 20x
    count spike in one interval near the end."""
    base = pd.Timestamp("2025-03-01")
    rows = []
    eid = 0
    for ent in ("A", "B"):
        for h in range(72):
            n = 5
            if ent == "B" and h == 60:
                n = 100
            for i in range(n):
                rows.append((eid, ent, base + pd.Timedelta(hours=h, minutes=i % 50),
                             float(10 + (i % 3))))
                eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "service", "ts", "value"])
    path = str(tmp_path_factory.mktemp("det") / "events")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


def _detector(path, **kw):
    args = dict(
        detector_id="det-1",
        indices=path,
        feature_specs={"n_events": {"value_count": {"field": "event_id"}}},
        time_field="ts",
        interval_ms=HOUR,
        category_fields=("service",),
        shingle_size=8,
    )
    args.update(kw)
    return Detector(**args)


def test_preview_flags_injected_spike(spark, spiky_events):
    det = _detector(spiky_events)
    res = preview(spark, det).toPandas()
    # anomaly-result shape
    assert {"detector_id", "entity", "data_start_time", "data_end_time",
            "n_events", "anomaly_score", "anomaly_grade",
            "confidence"} <= set(res.columns)
    assert (res.detector_id == "det-1").all()
    # entity is the nested name/value list the reference persists
    ent0 = res.entity.iloc[0]
    assert ent0[0]["name"] == "service" and ent0[0]["value"] in ("A", "B")
    flagged = res[res.anomaly_grade > 0]
    assert len(flagged) == 1
    row = flagged.iloc[0]
    assert row["service"] == "B"
    assert pd.Timestamp(row.bucket_start) == pd.Timestamp("2025-03-03 12:00:00")
    assert row.n_events == 100
    # steady entity A never alarms
    assert (res[res.service == "A"].anomaly_grade == 0).all()


def test_preview_respects_filter_query(spark, spiky_events):
    det = _detector(spiky_events,
                    filter_query={"term": {"service": "A"}},
                    category_fields=())
    res = preview(spark, det).toPandas()
    assert (res.anomaly_grade == 0).all()
    assert (res.n_events == 5).all()
    # single-stream detector: empty entity list
    assert res.entity.map(len).eq(0).all()


# ignore_anomaly when the count exceeds its expected value by at most 1000
# (the B spike's margin is about 95)
IGNORE_SMALL_MARGIN = ({"action": "ignore_anomaly", "conditions": [{
    "feature_name": "n_events",
    "threshold_type": "actual_over_expected_margin",
    "operator": "lte", "value": 1000}]},)


@pytest.mark.parametrize("rules", [(), IGNORE_SMALL_MARGIN],
                         ids=["no_rules", "ignore_rule"])
def test_run_once_scores_single_interval(spark, spiky_events, rules):
    det = _detector(spiky_events, suppression_rules=rules)
    # "now" = spike interval end + 5 min; delay 0
    now_ms = int(pd.Timestamp("2025-03-03 13:05:00").value // 10**6)
    spike = pd.Timestamp("2025-03-03 12:00:00")
    res = run_once(spark, det, now_ms).toPandas()
    assert set(res.bucket_start.map(pd.Timestamp)) == {spike}
    assert len(res) == 2  # one row per live entity
    byent = {r.service: r for r in res.itertuples()}
    assert byent["A"].anomaly_grade == 0
    if not rules:
        assert byent["B"].anomaly_grade > 0.9
        return
    # run_once honors every Detector field: its B row is preview's
    want = preview(spark, det).toPandas()
    want = want[(want.service == "B")
                & (want.bucket_start.map(pd.Timestamp) == spike)]
    assert len(want) == 1
    for c in ("n_events", "anomaly_score", "anomaly_grade", "confidence"):
        assert getattr(byent["B"], c) == want[c].iloc[0], c
    assert byent["B"].anomaly_grade == 0


def test_run_once_window_delay_shifts_interval(spark, spiky_events):
    det = _detector(spiky_events, window_delay_ms=HOUR)
    now_ms = int(pd.Timestamp("2025-03-03 13:05:00").value // 10**6)
    res = run_once(spark, det, now_ms).toPandas()
    assert set(res.bucket_start.map(pd.Timestamp)) == {
        pd.Timestamp("2025-03-03 11:00:00")}
    assert (res.anomaly_grade == 0).all()


def test_quality_floor_cosine_labeled(spark, tmp_path_factory):
    """Reference-style model-quality e2e (SingleStreamModelPerfIT.java:
    47-53 asserts precision >= 0.4 / recall >= 0.7 on a synthetic cosine
    stream with labeled anomalies; dataset shape mirrors
    dataGeneration/generate-cosine-data-multi-entity.py defaults: 600 s
    interval, cosine base signal, injected spikes)."""
    import numpy as np

    rng = np.random.RandomState(42)
    n, interval_s = 1500, 600
    base = pd.Timestamp("2025-01-01")
    t = np.arange(n)
    value = (100.0 + 10.0 * np.cos(2 * np.pi * t / 288.0)
             + rng.normal(0.0, 2.0, n))
    # 10 injected anomalies past the warm-up, spaced out
    anom_idx = sorted(rng.choice(np.arange(50, n - 1), 10, replace=False))
    value[anom_idx] += 25.0
    pdf = pd.DataFrame({
        "event_id": np.arange(n),
        "ts": [base + pd.Timedelta(seconds=int(i) * interval_s) for i in t],
        "value": value,
    })
    path = str(tmp_path_factory.mktemp("cosine") / "events")
    spark.createDataFrame(pdf).write.parquet(path)

    det = Detector(
        detector_id="det-cos", indices=path,
        feature_specs={"v": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=interval_s * 1000,
        # the z-score stand-in needs a longer baseline than RCF's
        # shingle 8 to keep its small-sample std tails below the 3-sigma
        # grade threshold (8-sample std estimates fire ~4% on pure
        # noise); 48 trailing intervals is its honest operating point
        category_fields=(), shingle_size=48)
    res = preview(spark, det).toPandas()
    got = set(
        (pd.Timestamp(b) - base).total_seconds() // interval_s
        for b in res[res.anomaly_grade > 0].bucket_start)
    labeled = set(float(i) for i in anom_idx)
    tp = len(got & labeled)
    precision = tp / max(len(got), 1)
    recall = tp / len(labeled)
    # the reference's own floor, same thresholds
    assert precision >= 0.4, (precision, sorted(got))
    assert recall >= 0.7, (recall, sorted(got), sorted(labeled))
