"""Round-4 advisor-item regression tests: stateful idempotency (A3),
historical piece atomicity (A1), confidence unification across
detector paths (A5), expr-injection hardening (A4), and builder
side-thread error propagation (A2)."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.detector import (
    Detector,
    preview,
    run_historical,
    run_once_stateful,
)

HOUR = 3_600_000
BASE = pd.Timestamp("2025-03-01")


def _spiky_pdf(hours=20, null_value_hour=None, spike_hour=15):
    """Two entities, hourly cadence; B spikes at ``spike_hour``.  If
    ``null_value_hour`` is set, entity A's ``value`` column is null for
    that hour (so an avg feature misses a bucket a count feature has)."""
    rows = []
    eid = 0
    for ent in ("A", "B"):
        for h in range(hours):
            n = 100 if (ent == "B" and h == spike_hour) else 5
            for i in range(n):
                v = float(10 + (i % 3))
                if ent == "A" and h == null_value_hour:
                    v = None
                rows.append((eid, ent,
                             BASE + pd.Timedelta(hours=h, minutes=i % 50),
                             v))
                eid += 1
    return pd.DataFrame(rows, columns=["event_id", "service", "ts", "value"])


def _det(indices, **kw):
    args = dict(
        detector_id="det-r4", indices=indices,
        feature_specs={"n_events": {"value_count": {"field": "event_id"}},
                       "v_avg": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=HOUR,
        category_fields=("service",), shingle_size=4)
    args.update(kw)
    return Detector(**args)


def _write(spark, pdf, path):
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


# --- A3: run_once_stateful is idempotent per interval ------------------------


# a rule that suppresses B's spike: its margin over the expected value
# is far below 1000
IGNORE_SPIKE = ({"action": "ignore_anomaly", "conditions": [{
    "feature_name": "n_events",
    "threshold_type": "actual_over_expected_margin",
    "operator": "lte", "value": 1000}]},)


@pytest.mark.parametrize("rules,spike_hour,hours", [
    ((), 15, 20),
    # the spike lands on the replayed hour: the replay grades it
    # against the stored expected value, like the first call
    (IGNORE_SPIKE, 10, 11),
], ids=["no_rules", "ignore_rule"])
def test_stateful_retry_same_interval_is_replay(spark, tmp_path_factory,
                                                rules, spike_hour, hours):
    root = tmp_path_factory.mktemp("replay")
    pdf = _spiky_pdf(spike_hour=spike_hour)
    src = _write(spark, pdf, str(root / "events"))
    state_dir = str(root / "state")
    det = _det(src, suppression_rules=rules)

    want = preview(spark, det).toPandas()
    want = want.set_index([want.service, want.bucket_start.map(pd.Timestamp)])
    want = want[want.bucket_start < BASE + pd.Timedelta(hours=hours)]

    got = []
    for h in range(hours):
        now_ms = int((BASE + pd.Timedelta(hours=h + 1)).value // 10**6) + 1
        res = run_once_stateful(spark, det, now_ms, state_dir).toPandas()
        if h == 10:
            # simulate a scheduler re-fire / downstream write failure:
            # the SAME interval runs again — must return the same rows
            # and leave the state untouched (no double ingest)
            st_before = (spark.read.parquet(state_dir + "/det-r4")
                         .toPandas().sort_values(["service", "_feat"])
                         .reset_index(drop=True))
            res2 = run_once_stateful(spark, det, now_ms, state_dir).toPandas()
            pd.testing.assert_frame_equal(
                res.sort_values("service").reset_index(drop=True),
                res2.sort_values("service").reset_index(drop=True))
            st_after = (spark.read.parquet(state_dir + "/det-r4")
                        .toPandas().sort_values(["service", "_feat"])
                        .reset_index(drop=True))
            pd.testing.assert_frame_equal(st_before, st_after)
        got.append(res)
    gotc = pd.concat(got, ignore_index=True)

    # the retried sequence still matches preview exactly
    assert len(gotc) == len(want)
    for r in gotc.itertuples():
        w = want.loc[(r.service, pd.Timestamp(r.bucket_start))]
        assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, r
        assert abs(r.anomaly_grade - float(w.anomaly_grade)) < 1e-9, r
        assert abs(r.confidence - float(w.confidence)) < 1e-9, r
    if rules:
        spike = gotc[(gotc.service == "B")
                     & (gotc.bucket_start == BASE
                        + pd.Timedelta(hours=spike_hour))]
        assert len(spike) == 1 and spike.anomaly_score.iloc[0] > 3.0
        assert spike.anomaly_grade.iloc[0] == 0.0


def test_stateful_out_of_order_interval_is_noop(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ooo")
    src = _write(spark, _spiky_pdf(hours=8), str(root / "events"))
    state_dir = str(root / "state")
    det = _det(src)
    for h in range(6):
        now_ms = int((BASE + pd.Timedelta(hours=h + 1)).value // 10**6) + 1
        run_once_stateful(spark, det, now_ms, state_dir)
    st_before = (spark.read.parquet(state_dir + "/det-r4")
                 .toPandas().sort_values(["service", "_feat"])
                 .reset_index(drop=True))
    # an interval OLDER than the last ingested one: no rows, no mutation
    old_ms = int((BASE + pd.Timedelta(hours=3)).value // 10**6) + 1
    res = run_once_stateful(spark, det, old_ms, state_dir)
    assert res.count() == 0
    st_after = (spark.read.parquet(state_dir + "/det-r4")
                .toPandas().sort_values(["service", "_feat"])
                .reset_index(drop=True))
    pd.testing.assert_frame_equal(st_before, st_after)


# --- A1: run_historical pieces are atomic ------------------------------------


def test_historical_crash_mid_piece_resumes_exactly(
        spark, tmp_path_factory, monkeypatch):
    """Crash after a piece's state snapshot is written but before its
    results/marker land: the re-run must NOT double-ingest (the exact
    hazard: state advanced past an incomplete piece)."""
    root = tmp_path_factory.mktemp("crash")
    pdf = _spiky_pdf()
    src = _write(spark, pdf, str(root / "events"))
    det = _det(src)
    want = preview(spark, det).toPandas()
    want = want.set_index([want.service, want.bucket_start.map(pd.Timestamp)])

    start = int(BASE.value // 10**6)
    end = start + 20 * HOUR
    state_dir = str(root / "state")
    results_dir = str(root / "results")

    # first attempt "crashes" at finalize (after all pieces) so the
    # per-piece snapshots survive for us to build the crash state from
    real_copytree = shutil.copytree

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(shutil, "copytree", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_historical(spark, det, start, end, state_dir, results_dir,
                       piece_intervals=7)
    monkeypatch.setattr(shutil, "copytree", real_copytree)

    # craft the advisor's scenario for piece 1: its snapshot exists
    # (state "advanced") but its results and marker are gone
    assert os.path.exists(os.path.join(results_dir, "_state_piece_1"))
    os.remove(os.path.join(results_dir, "_piece_1.done"))
    shutil.rmtree(os.path.join(results_dir, "piece=1"))

    got = run_historical(spark, det, start, end, state_dir, results_dir,
                         piece_intervals=7).toPandas()
    assert len(got) == len(want)
    for r in got.itertuples():
        w = want.loc[(r.service, pd.Timestamp(r.bucket_start))]
        assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, r
        assert abs(r.confidence - float(w.confidence)) < 1e-9, r
    # snapshots cleaned up, live state published once
    assert not any(f.startswith("_state_piece_")
                   for f in os.listdir(results_dir))
    st = spark.read.parquet(state_dir + "/det-r4").toPandas()
    assert (st.vals.map(len) == 4).all()


# --- A5: confidence identical across paths when a feature misses -------------


def test_confidence_agrees_when_one_feature_misses_a_bucket(
        spark, tmp_path_factory):
    """Entity A's v_avg aggregates to null at h=10 (all values null)
    while n_events still counts — the exact case where preview's old
    row_number confidence diverged from the stateful max(scored_cnt)."""
    root = tmp_path_factory.mktemp("confmin")
    pdf = _spiky_pdf(null_value_hour=10)
    src = _write(spark, pdf, str(root / "events"))
    det = _det(src)

    want = preview(spark, det).toPandas()
    want = want.set_index([want.service, want.bucket_start.map(pd.Timestamp)])

    state_dir = str(root / "state")
    got = []
    for h in range(20):
        now_ms = int((BASE + pd.Timedelta(hours=h + 1)).value // 10**6) + 1
        got.append(run_once_stateful(
            spark, det, now_ms, state_dir).toPandas())
    gotc = pd.concat(got, ignore_index=True)

    assert len(gotc) == len(want)
    for r in gotc.itertuples():
        w = want.loc[(r.service, pd.Timestamp(r.bucket_start))]
        assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, r
        assert abs(r.confidence - float(w.confidence)) < 1e-9, \
            (r.service, r.bucket_start, r.confidence, float(w.confidence))


# --- A4: unsafe names rejected before reaching expr strings ------------------


def test_unsafe_feature_and_filter_names_rejected(spark):
    with pytest.raises(ValueError, match="feature names"):
        Detector(detector_id="d", indices="x",
                 feature_specs={"a`b": {"avg": {"field": "v"}}})
    with pytest.raises(ValueError, match="feature names"):
        Detector(detector_id="d", indices="x",
                 feature_specs={"a', 1) --": {"avg": {"field": "v"}}})

    from anomaly_detection_spark.query.aggs import filters_agg

    df = spark.range(3).withColumn("v", F.col("id").cast("double"))
    with pytest.raises(ValueError, match="filters bucket names"):
        filters_agg(df, {"x' or '1'='1": F.col("id") > 0})
    with pytest.raises(ValueError, match="filters sub-agg names"):
        filters_agg(df, {"ok": F.col("id") > 0},
                    {"bad`name": {"avg": {"field": "v"}}})


# --- A2: a failing side-thread job fails the batch ---------------------------


def test_builder_side_thread_error_propagates():
    from anomaly_detection_spark.index.builder import _run_overlapped

    ran = []
    with pytest.raises(RuntimeError, match="norms failed"):
        _run_overlapped(
            lambda: (_ for _ in ()).throw(RuntimeError("norms failed")),
            lambda: ran.append(True))
    assert ran == [True]


# --- LSH duplicate-class guards (verdict #3) ---------------------------------


def test_minhash_lsh_survives_deep_duplicate_class(spark):
    """10k identical docs + a near-dup tail: banding must see ONE row
    per duplicate class (no d² single-bucket blow-up), the deep class
    comes back as a star to its representative, and tail recall vs
    exact Jaccard is unchanged."""
    from anomaly_detection_spark.pipeline import (
        duplicate_clusters, minhash_lsh_pairs, ngram_jaccard_pairs)

    base = ("spark builds the posting lists from transcript turns and "
            "merges them by term shards")
    rows = [(i, base) for i in range(10_000)]
    # a small exact class (3 copies) → expands to all 3 pairs
    small_txt = "a tiny exact duplicate class of three documents here"
    rows += [(20_000 + i, small_txt) for i in range(3)]
    # near-dup tail: 20 pairs of almost-identical sentences
    for p in range(20):
        t = (f"document number {p} talks about feature matrices windows "
             f"imputation shingles and scoring in the detector engine")
        rows.append((30_000 + 2 * p, t))
        rows.append((30_001 + 2 * p, t.replace("scoring", "grading")))
    # unrelated docs
    for u in range(20):
        rows.append((40_000 + u,
                     f"totally unrelated text {u} with distinct words "
                     f"alpha{u} beta{u} gamma{u} delta{u} epsilon{u}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = minhash_lsh_pairs(df, threshold=0.5, num_hashes=64, bands=16,
                            n=3, bucket_cap=256).toPandas()

    # deep class: star to the representative (doc 0), jaccard 1 — NOT
    # the 10k·(10k-1)/2 all-pairs expansion
    deep = got[(got.id_a < 10_000) & (got.id_b < 10_000)]
    assert len(deep) == 9_999
    assert (deep.id_a == 0).all() and (deep.jaccard == 1.0).all()
    assert set(deep.id_b) == set(range(1, 10_000))

    # small class: full expansion (3 pairs, jaccard 1)
    small = got[(got.id_a >= 20_000) & (got.id_b < 30_000)]
    assert sorted(zip(small.id_a, small.id_b)) == [
        (20_000, 20_001), (20_000, 20_002), (20_001, 20_002)]
    assert (small.jaccard == 1.0).all()

    # tail recall unchanged vs exact jaccard on the tail alone
    tail = df.filter((F.col("doc_id") >= 30_000) & (F.col("doc_id") < 40_000))
    exact = ngram_jaccard_pairs(tail, threshold=0.5, n=3).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    got_tail = set(zip(got[got.id_a >= 30_000].id_a,
                       got[got.id_a >= 30_000].id_b))
    assert exact_pairs, "tail must contain true near-dup pairs"
    assert len(got_tail & exact_pairs) / len(exact_pairs) >= 0.9
    # precision 1: every emitted tail pair is exact-verified
    assert got_tail <= exact_pairs

    # the star encoding clusters identically to all-pairs
    clusters = duplicate_clusters(
        spark.createDataFrame(got[["id_a", "id_b"]])).toPandas()
    deep_cluster = clusters[clusters.doc_id < 10_000]
    assert (deep_cluster.cluster_id == 0).all()
    assert (deep_cluster.cluster_size == 10_000).all()


def test_capped_self_pairs_equal_uncapped(spark):
    """The triangular chunk split emits exactly the uncapped pair set."""
    from anomaly_detection_spark.pipeline.dedup import _self_pairs_capped

    rows = [(i, i % 3) for i in range(200)]
    st = spark.createDataFrame(rows, "_id long, bv int")
    capped = _self_pairs_capped(st, ["bv"], "_id", cap=10).toPandas()
    want = {(a, b) for a in range(200) for b in range(200)
            if a < b and a % 3 == b % 3}
    got = set(zip(capped.id_a, capped.id_b))
    assert got == want and len(capped) == len(want)


# --- percentiles scale to approx by default (verdict #6) ---------------------


def test_percentiles_approx_default_exact_flag(spark):
    from anomaly_detection_spark.query.aggs import metric_agg_column

    df = spark.range(1, 10_001).select(F.col("id").cast("double").alias("v"))
    exact = df.agg(metric_agg_column(
        {"percentiles": {"field": "v", "percents": [50.0], "exact": True}},
        "p50")).collect()[0]["p50"]
    assert exact == 5000.5
    approx = df.agg(metric_agg_column(
        {"percentiles": {"field": "v", "percents": [50.0]}},
        "p50")).collect()[0]["p50"]
    assert abs(approx - 5000.5) <= 10  # GK sketch, accuracy 10k
    # approximate is the DEFAULT plan (no full-value buffering)
    plan = df.agg(metric_agg_column(
        {"percentiles": {"field": "v"}}, "p"))._jdf.queryExecution() \
        .analyzed().toString()
    assert "percentile_approx" in plan
    multi = df.agg(metric_agg_column(
        {"percentiles": {"field": "v", "percents": [25.0, 75.0]}},
        "p")).collect()[0]["p"]
    assert abs(multi[0] - 2500.75) <= 10 and abs(multi[1] - 7500.25) <= 10


# --- HC dense grid bounded (verdict #5) --------------------------------------


def test_hc_dense_grid_capped_and_entity_span(spark):
    """100k entities over a 2001-bucket global span: the global dense
    grid (2×10⁸ cells) fails fast; dense='entity_span' completes with
    output linear in per-entity activity."""
    from anomaly_detection_spark.query.aggs import date_histogram

    hour = 3_600_000
    base_ms = 1_740_787_200_000  # 2025-03-01T00:00Z
    ents = spark.range(100_000)
    ev = ents.select(
        F.col("id").alias("ent"),
        F.explode(F.array(
            (F.col("id") % 50).cast("long"),
            F.when(F.col("id") == 0, F.lit(2000)).otherwise(
                (F.col("id") % 50) + 3).cast("long"))).alias("b"))
    df = ev.select("ent", F.timestamp_millis(
        F.lit(base_ms) + F.col("b") * hour).alias("ts"))

    with pytest.raises(ValueError, match="max_dense_cells"):
        date_histogram(df, "ts", hour, min_doc_count=0,
                       group_cols=["ent"])

    out = date_histogram(df, "ts", hour, min_doc_count=0,
                         group_cols=["ent"], dense="entity_span")
    # entity 0 spans 2001 buckets; all others span 4
    assert out.count() == 99_999 * 4 + 2001
    sums = out.groupBy().agg(
        F.sum("doc_count").alias("docs"),
        F.sum(F.when(F.col("doc_count") == 0, 1).otherwise(0)).alias("gaps")
    ).collect()[0]
    assert sums["docs"] == 200_000
    assert sums["gaps"] == 99_999 * 2 + 1999

    # small global grids still work (under the cap), identical shape
    small = date_histogram(df.filter(F.col("ent") < 3), "ts", hour,
                           min_doc_count=0, group_cols=["ent"])
    n_b = small.select("bucket_start").distinct().count()
    assert small.count() == 3 * n_b


# --- imputation parity (verdict #7, ImputationMethod.java:12-20) -------------


def test_impute_fill_reference_formulas(spark):
    from anomaly_detection_spark.features import impute_fill, impute_linear

    hour = 3_600_000
    base = pd.Timestamp("2025-03-01")
    # buckets 0,1,4,5 present; 2,3 missing; per-entity
    rows = []
    for ent in ("A", "B"):
        off = 0.0 if ent == "A" else 100.0
        for b, v in [(0, 10.0), (1, 20.0), (4, 50.0), (5, 60.0)]:
            rows.append((ent, base + pd.Timedelta(hours=b), v + off))
    fm = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ent", "bucket_start", "v"]))

    def _series(df, ent):
        p = df.toPandas()
        p = p[p.ent == ent].sort_values("bucket_start")
        return list(p.v), list(p.is_filled) if "is_filled" in p else None

    z, zf = _series(impute_fill(fm, hour, ["v"], ("ent",), "zero"), "A")
    assert z == [10.0, 20.0, 0.0, 0.0, 50.0, 60.0]
    assert zf == [False, False, True, True, False, False]

    fx, _ = _series(impute_fill(fm, hour, ["v"], ("ent",), "fixed_values",
                                fixed_values={"v": -1.5}), "B")
    assert fx == [110.0, 120.0, -1.5, -1.5, 150.0, 160.0]

    pv, _ = _series(impute_fill(fm, hour, ["v"], ("ent",), "previous"), "A")
    assert pv == [10.0, 20.0, 20.0, 20.0, 50.0, 60.0]

    # linear (LinearUniformImputer.java:62-75): gap of 2 between 20→50
    li = impute_linear(fm, hour, ["v"], ("ent",)).toPandas()
    li = li[li.ent == "A"].sort_values("bucket_start")
    assert list(li.v) == [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]

    with pytest.raises(ValueError, match="missing"):
        impute_fill(fm, hour, ["v"], ("ent",), "fixed_values")
    with pytest.raises(ValueError, match="supports"):
        impute_fill(fm, hour, ["v"], ("ent",), "nearest")


def test_detector_imputation_dispatch(spark, tmp_path_factory):
    """Detector config names an ImputationMethod → preview densifies and
    scores the imputed series (a gap no longer drops shingle history)."""
    from anomaly_detection_spark.detector import Detector, preview

    root = tmp_path_factory.mktemp("imp")
    pdf = _spiky_pdf(hours=20)
    # remove ALL events of hour 12 → a missing bucket for both entities
    pdf = pdf[~((pdf.ts >= BASE + pd.Timedelta(hours=12))
                & (pdf.ts < BASE + pd.Timedelta(hours=13)))]
    src = _write(spark, pdf, str(root / "events"))

    det_skip = _det(src, feature_specs={"v_avg": {"avg": {"field": "value"}}})
    det_prev = _det(src, feature_specs={"v_avg": {"avg": {"field": "value"}}},
                    imputation_method="previous")
    skip = preview(spark, det_skip).toPandas()
    prev = preview(spark, det_prev).toPandas()
    h12 = BASE + pd.Timedelta(hours=12)
    assert h12 not in set(skip[skip.service == "A"]
                          .bucket_start.map(pd.Timestamp))
    a_prev = prev[prev.service == "A"]
    got12 = a_prev[a_prev.bucket_start.map(pd.Timestamp) == h12]
    assert len(got12) == 1  # imputed bucket is scored
    # previous-value carry: the imputed v_avg equals hour 11's value
    a11 = a_prev[a_prev.bucket_start.map(pd.Timestamp)
                 == BASE + pd.Timedelta(hours=11)]
    assert abs(float(got12.v_avg.iloc[0]) - float(a11.v_avg.iloc[0])) < 1e-9
    # one more scored bucket per entity than the skipping detector
    assert len(prev) == len(skip) + 2

    # the realtime stateful path now supports zero/fixed/previous
    # (test_stateful_imputation_matches_preview); only linear — which
    # needs the NEXT sample — still refuses there
    from anomaly_detection_spark.detector import run_once_stateful
    det_lin = _det(src, feature_specs={"v_avg": {"avg": {"field": "value"}}},
                   imputation_method="linear")
    with pytest.raises(NotImplementedError, match="linear"):
        run_once_stateful(spark, det_lin, 0, str(root / "st"))


# --- insights anomaly correlation (verdict #8) -------------------------------


def test_insights_correlated_clusters_recover_planted_groups(spark):
    """Three detectors spike together around T1, two around T2, one
    isolated at T3 → clusters {3, 2, 1} with the reference's similarity
    (delta-dilated IoU × duration penalty) and event windows spanning
    member intervals."""
    from anomaly_detection_spark.insights import correlated_anomaly_clusters

    m = 60_000
    t1, t2, t3 = 1_000_000_000, 1_000_000_000 + 6 * 3_600_000, \
        1_000_000_000 + 12 * 3_600_000
    rows = [
        # cluster 1: overlapping ~10-min anomalies, slightly offset
        ("detA", t1, t1 + 10 * m, 0.9),
        ("detB", t1 + 2 * m, t1 + 12 * m, 0.8),
        ("detC", t1 + 3 * m, t1 + 11 * m, 0.7),
        # cluster 2
        ("detA", t2, t2 + 8 * m, 0.6),
        ("detD", t2 + 1 * m, t2 + 9 * m, 0.5),
        # singleton
        ("detE", t3, t3 + 10 * m, 0.9),
        # grade 0 rows are ignored entirely
        ("detF", t1, t1 + 10 * m, 0.0),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["detector_id", "s", "e", "anomaly_grade"])
    ).select(
        "detector_id",
        F.timestamp_millis("s").alias("data_start_time"),
        F.timestamp_millis("e").alias("data_end_time"),
        "anomaly_grade")

    out = correlated_anomaly_clusters(df).toPandas()
    assert len(out) == 6
    by_cluster = {}
    for r in out.itertuples():
        by_cluster.setdefault(r.cluster_id, []).append(r)
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes == [1, 2, 3]
    big = next(v for v in by_cluster.values() if len(v) == 3)
    assert sorted(r.detector_id for r in big) == ["detA", "detB", "detC"]
    assert all(r.cluster_size == 3 for r in big)
    # event window spans earliest start .. latest end of raw intervals
    assert big[0].window_start == t1 and big[0].window_end == t1 + 12 * m
    mid = next(v for v in by_cluster.values() if len(v) == 2)
    assert sorted(r.detector_id for r in mid) == ["detA", "detD"]
    single = next(v for v in by_cluster.values() if len(v) == 1)
    assert single[0].detector_id == "detE"

    # include_singletons=False drops the uncorrelated anomaly (the
    # Dashboard rendering mode, clusterWithEventWindows(..., false))
    no_single = correlated_anomaly_clusters(
        df, include_singletons=False).toPandas()
    assert len(no_single) == 5 and "detE" not in set(no_single.detector_id)

    # far-apart same-detector anomalies never bridge: detA appears in
    # two different clusters
    a_clusters = set(out[out.detector_id == "detA"].cluster_id)
    assert len(a_clusters) == 2


# --- self-review fixes (round-4 code review) ---------------------------------


def test_pin_geometry_tolerates_pre_upgrade_checkpoints(tmp_path):
    """An index checkpointed before new geometry keys existed must
    resume cleanly — absent pinned keys are governed by the meta, not
    treated as a mismatch."""
    from anomaly_detection_spark.index.storage import (
        IndexPaths, mark_done, pin_geometry)

    paths = IndexPaths(str(tmp_path / "idx"))
    # old-format checkpoint: no positions/codec keys
    mark_done(paths, "build_conf", seg_size=512, block_size=64,
              segments_per_batch=2, bucket_size=256)
    pin_geometry(paths, "build_conf", resume=True, seg_size=512,
                 block_size=64, segments_per_batch=2, bucket_size=256,
                 positions=False, codec="leb128")  # must not raise
    with pytest.raises(ValueError, match="geometry mismatch"):
        pin_geometry(paths, "build_conf", resume=True, seg_size=1024,
                     block_size=64, segments_per_batch=2,
                     bucket_size=256)


def test_hyphen_feature_names_allowed_dots_rejected(spark, tmp_path):
    from anomaly_detection_spark.detector import Detector, preview

    pdf = _spiky_pdf(hours=12)
    src = _write(spark, pdf, str(tmp_path / "ev"))
    det = Detector(
        detector_id="d", indices=src,
        feature_specs={"n-events": {"value_count": {"field": "event_id"}}},
        time_field="ts", interval_ms=HOUR,
        category_fields=("service",), shingle_size=4)
    out = preview(spark, det).toPandas()
    assert "n-events" in out.columns and len(out) > 0
    with pytest.raises(ValueError, match="feature names"):
        Detector(detector_id="d", indices=src,
                 feature_specs={"a.b": {"avg": {"field": "value"}}})


def test_entity_span_honors_hard_bounds(spark):
    from anomaly_detection_spark.query.aggs import date_histogram

    base_ms = 1_740_787_200_000
    ev = spark.createDataFrame(
        [(e, base_ms + b * HOUR) for e, b in
         [("A", 0), ("A", 5), ("B", 2), ("B", 3), ("C", 10)]],
        "ent string, ms long").select(
        "ent", F.timestamp_millis("ms").alias("ts"))
    out = date_histogram(
        ev, "ts", HOUR, min_doc_count=0, group_cols=["ent"],
        dense="entity_span",
        hard_bounds=(base_ms + 1 * HOUR, base_ms + 5 * HOUR)).toPandas()
    # A clamps to [1h,5h) → buckets 1..4 (its own extent is 0..5);
    # B keeps 2..3; C (bucket 10) has no overlap and drops
    assert set(out.ent) == {"A", "B"}
    assert len(out[out.ent == "A"]) == 4
    assert len(out[out.ent == "B"]) == 2


def test_class_key_distinguishes_sum_xor_ties(spark):
    """Docs whose shingle multisets tie a naive sum+xor combination
    must NOT collapse into one exact-duplicate class."""
    from anomaly_detection_spark.pipeline import minhash_lsh_pairs

    rows = [(1, "alpha beta gamma delta one two three"),
            (2, "alpha beta gamma delta four five six"),
            (3, "alpha beta gamma delta one two three")]  # 1 ≡ 3 exactly
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_pairs(df, threshold=0.2, num_hashes=64, bands=16,
                            n=3).toPandas()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert pairs[(1, 3)] == 1.0
    # 1-2 and 2-3 are near-dups, NOT exact: jaccard strictly < 1
    assert 0 < pairs[(1, 2)] < 1.0 and pairs[(1, 2)] == pairs[(2, 3)]


def test_top_anomaly_results_severity_and_occurrence(spark):
    """SearchTopAnomalyResult analog: severity ranks by max grade,
    occurrence by anomalous-interval count; window + grade filters."""
    import pandas as pd

    from anomaly_detection_spark.insights import top_anomaly_results

    base = pd.Timestamp("2025-01-01")
    m = 60_000
    rows = []
    # A: one extreme anomaly; B: many mild ones; C: outside window
    rows.append(("A", 0.9, base + pd.Timedelta(minutes=1)))
    for i in range(5):
        rows.append(("B", 0.2, base + pd.Timedelta(minutes=2 + i)))
    rows.append(("C", 1.0, base + pd.Timedelta(minutes=500)))
    rows.append(("A", 0.0, base + pd.Timedelta(minutes=9)))  # grade 0
    pdf = pd.DataFrame(rows, columns=["service", "anomaly_grade",
                                      "data_end_time"])
    df = spark.createDataFrame(pdf)
    start = int(base.value // 10**6)
    end = start + 100 * m

    sev = top_anomaly_results(df, start, end, ("service",),
                              order="severity").toPandas()
    assert list(sev.service) == ["A", "B"]
    assert sev.max_anomaly_grade.iloc[0] == 0.9
    assert sev.doc_count.tolist() == [1, 5]      # grade-0 row excluded

    occ = top_anomaly_results(df, start, end, ("service",),
                              order="occurrence").toPandas()
    assert list(occ.service) == ["B", "A"]

    import pytest as _pt
    with _pt.raises(ValueError, match="order"):
        top_anomaly_results(df, start, end, ("service",), order="nope")
    with _pt.raises(ValueError, match="size"):
        top_anomaly_results(df, start, end, ("service",), size=0)


def test_run_historical_imputation_matches_preview(spark, tmp_path):
    """run_historical with zero/previous imputation equals the
    imputing preview over the same gappy span — including a gap that
    SPANS a piece boundary (the previous-carry rides the snapshot)
    and entities whose extent ends mid-range (imputation stops at the
    entity's last observed bucket, like preview's dense grid)."""
    from anomaly_detection_spark.detector import Detector, preview

    base = pd.Timestamp("2025-02-01")
    HOUR = 3600_000
    # entity A: hourly 0..39 with gaps {14,15,16} (15|16 crosses the
    # piece boundary at 16 when piece_intervals=16) and {25}
    # entity B: stops at 19 — its extent must not extend past 19
    rows = []
    eid = 0
    for h in range(40):
        if h not in (14, 15, 16, 25):
            for i in range(3):
                rows.append((eid, "A",
                             base + pd.Timedelta(hours=h, minutes=i),
                             float(10 + (h % 4))))
                eid += 1
        if h < 20 and h != 9:
            rows.append((eid, "B",
                         base + pd.Timedelta(hours=h), float(5 + h % 2)))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "service", "ts", "v"])
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).write.parquet(src)
    t0 = int(base.value // 1_000_000)

    for method in ("zero", "previous", "linear"):
        det = Detector(
            detector_id=f"hist-imp-{method}", indices=src,
            feature_specs={"va": {"avg": {"field": "v"}}},
            time_field="ts", interval_ms=HOUR, shingle_size=4,
            category_fields=("service",), imputation_method=method)
        want = preview(spark, det).toPandas()
        got = run_historical(
            spark, det, t0, t0 + 40 * HOUR,
            str(tmp_path / f"st_{method}"),
            str(tmp_path / f"res_{method}"),
            piece_intervals=16).toPandas()
        key = ["service", "bucket_start"]
        want = want.sort_values(key).reset_index(drop=True)
        got = got.sort_values(key).reset_index(drop=True)
        assert len(got) == len(want), method
        assert (got.service.values == want.service.values).all()
        assert (got.bucket_start.values == want.bucket_start.values).all()
        assert abs(got.anomaly_score - want.anomaly_score).max() < 1e-9
        assert abs(got.va - want.va).max() < 1e-9
        for g, w in zip(got.feature_imputed, want.feature_imputed):
            assert [dict(e.asDict()) if hasattr(e, "asDict") else dict(e)
                    for e in g] == \
                   [dict(e.asDict()) if hasattr(e, "asDict") else dict(e)
                    for e in w], method
        # B's extent ends at hour 19: nothing imputed past it
        bmax = got[got.service == "B"].bucket_start.max()
        assert pd.Timestamp(bmax) <= base + pd.Timedelta(hours=19)
        if method == "linear":
            # the interpolated values themselves: A's 3-gap between
            # h13 (v=11) and h17 (v=11) fills with 11s spanning the
            # piece-16 boundary; B's h9 gap midpoints h8/h10 (5, 5)
            a = got[(got.service == "A")
                    & (got.bucket_start
                       == base + pd.Timedelta(hours=15))].va
            assert len(a) == 1 and abs(a.iloc[0] - 11.0) < 1e-9
            b = got[(got.service == "B")
                    & (got.bucket_start
                       == base + pd.Timedelta(hours=9))].va
            assert len(b) == 1 and abs(b.iloc[0] - 5.0) < 1e-9
