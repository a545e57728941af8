"""Round-3 coverage extensions: numeric histogram, stats/extended_stats,
missing agg, match_phrase filter, multi_match routing (see
test_brute_force for multi_match scoring semantics)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_histogram_agg_grid_and_offset(spark):
    from anomaly_detection_spark.query.aggs import histogram_agg

    df = spark.createDataFrame(pd.DataFrame(
        {"v": [0.5, 1.5, 1.7, 7.2, None]}))
    out = (histogram_agg(df, "v", 1.0).orderBy("key").toPandas())
    # dense grid 0..7 incl. empty buckets, nulls excluded
    assert list(out.key) == [float(i) for i in range(8)]
    assert list(out.doc_count) == [1, 2, 0, 0, 0, 0, 0, 1]

    off = histogram_agg(df, "v", 2.0, offset=0.5,
                        min_doc_count=1).orderBy("key").toPandas()
    # offset grid: [0.5,2.5) [2.5,4.5) [4.5,6.5) [6.5,8.5) — 0.5,1.5,1.7
    # land in the first, 7.2 in the last
    assert list(off.key) == [0.5, 6.5]
    assert list(off.doc_count) == [3, 1]

    with pytest.raises(ValueError, match="interval"):
        histogram_agg(df, "v", 0)


def test_stats_and_extended_stats_body(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0]}))
    st = run_aggs(df, {"aggs": {"s": {"stats": {"field": "v"}}}})["s"] \
        .toPandas()
    assert (st.s_count[0], st.s_min[0], st.s_max[0], st.s_avg[0],
            st.s_sum[0]) == (4, 1.0, 4.0, 2.5, 10.0)

    ex = run_aggs(df, {"aggs": {"s": {
        "extended_stats": {"field": "v"}}}})["s"].toPandas()
    assert ex.s_sum_of_squares[0] == 30.0
    assert abs(ex.s_variance[0] - 1.25) < 1e-12        # population
    assert abs(ex.s_std_deviation[0] - 1.25 ** 0.5) < 1e-12

    # as a sub-agg of a bucket agg
    df2 = spark.createDataFrame(pd.DataFrame(
        {"g": ["a", "a", "b"], "v": [1.0, 3.0, 5.0]}))
    t = run_aggs(df2, {"aggs": {"t": {
        "terms": {"field": "g"},
        "aggs": {"s": {"stats": {"field": "v"}}}}}})["t"].toPandas()
    row_a = t[t.g == "a"].iloc[0]
    assert (row_a.s_count, row_a.s_sum) == (2, 4.0)


def test_missing_agg(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(
        pd.DataFrame({"f": ["x", None, None], "v": [1.0, 2.0, 3.0]}))
    out = run_aggs(df, {"aggs": {"m": {
        "missing": {"field": "f"},
        "aggs": {"v_sum": {"sum": {"field": "v"}}}}}})["m"].toPandas()
    assert out.doc_count[0] == 2
    assert out.v_sum[0] == 5.0


def test_match_phrase_filter(spark):
    from anomaly_detection_spark.query.planner import compile_filter

    df = spark.createDataFrame(pd.DataFrame({"text": [
        "the quick brown fox",       # phrase present
        "quick the brown fox",       # tokens present, wrong order
        "THE  QUICK,  brown fox",    # analyzer normalizes → present
        "the quickest brown fox",    # 'quick' only as prefix — no match
        None,
    ], "i": [0, 1, 2, 3, 4]}))
    cond = compile_filter(df, {"match_phrase": {"text": "the quick"}})
    got = sorted(r["i"] for r in df.filter(cond).collect())
    assert got == [0, 2]

    # slop supported since r5: one word between / transposition match
    cond2 = compile_filter(df, {"match_phrase": {
        "text": {"query": "the quick", "slop": 2}}})
    got2 = sorted(r["i"] for r in df.filter(cond2).collect())
    assert got2 == [0, 1, 2]
    with pytest.raises(ValueError, match="slop"):
        compile_filter(df, {"match_phrase": {
            "text": {"query": "the quick", "slop": -1}}})


def test_prefix_and_ids_queries(spark):
    from anomaly_detection_spark.query.planner import compile_filter

    df = spark.createDataFrame(pd.DataFrame(
        {"docid": [1, 2, 3], "s": ["abc", "abd", "xbc"]}))
    got = sorted(r["docid"] for r in df.filter(
        compile_filter(df, {"prefix": {"s": "ab"}})).collect())
    assert got == [1, 2]
    got = sorted(r["docid"] for r in df.filter(
        compile_filter(df, {"ids": {"values": [2, 3]}})).collect())
    assert got == [2, 3]


def test_range_agg_open_ended_and_overlap(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame(
        {"v": [10.0, 60.0, 210.0, None]}))
    out = run_aggs(df, {"aggs": {"r": {"range": {
        "field": "v", "ranges": [
            {"to": 100.0}, {"from": 50.0, "to": 250.0},
            {"from": 200.0}]}}}})["r"].toPandas()
    out = out.sort_values("range_id").reset_index(drop=True)
    # [,100): 10,60 — [50,250): 60,210 (overlap) — [200,): 210; null drops
    assert list(out.doc_count) == [2, 2, 1]


def test_top_hits_flattened_rank(spark):
    from anomaly_detection_spark.query.aggs import top_hits_agg

    df = spark.createDataFrame(pd.DataFrame({
        "g": ["a", "a", "a", "b"], "id": [1, 2, 3, 4],
        "v": [5.0, 9.0, 9.0, 1.0]}))
    out = top_hits_agg(df, ["g"], [("v", "desc"), ("id", "asc")],
                       size=2, select=["id", "v"]).toPandas()
    a = out[out.g == "a"].sort_values("hit_rank")
    # ties break by id asc: id 2 then id 3
    assert list(a.id) == [2, 3] and list(a.hit_rank) == [1, 2]
    assert list(out[out.g == "b"].id) == [4]


def test_pipeline_aggs_family(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(["2025-01-01 00:05", "2025-01-01 00:40",
                              "2025-01-01 01:10", "2025-01-01 02:20",
                              "2025-01-01 02:30"]),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0]}))
    out = run_aggs(df, {"aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {
            "cum": {"cumulative_sum": {"buckets_path": "doc_count"}},
            "mavg": {"moving_avg": {"buckets_path": "doc_count",
                                    "window": 2}},
        }}}})["h"].toPandas().sort_values("bucket_start")
    assert list(out.doc_count) == [2, 1, 2]
    assert list(out.cum) == [2, 3, 5]
    assert list(out.mavg) == [2.0, 1.5, 1.5]

    mx = run_aggs(df, {"aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {"m": {"max_bucket": {"buckets_path": "doc_count"}}},
    }}})["h"].toPandas()
    assert mx.max_doc_count[0] == 2


def test_weighted_avg_and_percentile_ranks(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "v": [1.0, 2.0, 3.0, None], "w": [1.0, 1.0, 2.0, 5.0]}))
    wa = run_aggs(df, {"aggs": {"wa": {"weighted_avg": {
        "value": {"field": "v"}, "weight": {"field": "w"}}}}})["wa"] \
        .toPandas()
    # null v rows drop entirely (weight excluded too): (1+2+6)/4
    assert abs(wa.wa[0] - 9.0 / 4.0) < 1e-12

    pr = run_aggs(df, {"aggs": {"pr": {"percentile_ranks": {
        "field": "v", "values": [1.5, 3.0]}}}})["pr"].toPandas()
    ranks = list(pr.pr[0])
    assert abs(ranks[0] - 100.0 / 3.0) < 1e-9   # 1 of 3 non-null ≤ 1.5
    assert abs(ranks[1] - 100.0) < 1e-9


def test_filters_agg_single_pass_and_global(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "t": ["a", "a", "b", "b"], "v": [1.0, 3.0, 5.0, 7.0]}))
    out = run_aggs(df, {"aggs": {"f": {
        "filters": {"filters": {
            "as": {"term": {"t": "a"}},
            "big": {"range": {"v": {"gte": 3.0}}}}},
        "aggs": {"v_sum": {"sum": {"field": "v"}}}}}})["f"].toPandas()
    out = out.set_index("filter_key")
    assert out.loc["as"].doc_count == 2 and out.loc["as"].v_sum == 4.0
    # overlapping bucket: v=3 counts in both
    assert out.loc["big"].doc_count == 3 and out.loc["big"].v_sum == 15.0

    # global escapes the query scope
    g = run_aggs(df, {"query": {"term": {"t": "a"}}, "aggs": {
        "all": {"global": {}, "aggs": {"v_sum": {"sum": {"field": "v"}}}},
    }})["all"].toPandas()
    assert g.doc_count[0] == 4 and g.v_sum[0] == 16.0

    import pytest as _pt
    with _pt.raises(ValueError, match="filters sub-aggs"):
        run_aggs(df, {"aggs": {"f": {
            "filters": {"filters": {"as": {"term": {"t": "a"}}}},
            "aggs": {"p": {"percentiles": {"field": "v"}}}}}})


def test_significant_terms_keyword_jlh(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "grp": ["a"] * 4 + ["b"] * 4,
        "tag": ["x", "x", "x", "y", "y", "y", "y", "z"]}))
    out = run_aggs(df, {
        "query": {"term": {"grp": "a"}},
        "aggs": {"sig": {"significant_terms": {
            "field": "tag", "min_doc_count": 1}}}})["sig"].toPandas()
    # x: fg 3/4 vs bg 3/8 -> strongly significant; y: fg 1/4 vs bg 5/8
    # -> negative score, dropped; z: fg 0 -> dropped
    assert list(out.term) == ["x"]
    fg_pct, bg_pct = 3 / 4, 3 / 8
    want = (fg_pct - bg_pct) * fg_pct / bg_pct
    assert abs(out.score[0] - want) < 1e-12
    assert out.fg_count[0] == 3 and out.bg_count[0] == 3


# --- historical (batch) analysis: pieces ≡ preview, resumable ----------------


HOUR = 3_600_000


def test_run_historical_pieces_match_preview_and_resume(
        spark, tmp_path_factory):
    """run_historical over [start, end) in 7-interval pieces produces
    rows identical to preview over the same span (scores, grades,
    confidence), carries shingle state ACROSS piece boundaries, and
    resumes: re-running skips completed pieces (results unchanged)."""
    import os

    from anomaly_detection_spark.detector import (
        Detector, preview, run_historical)

    base_ts = pd.Timestamp("2025-03-01")
    rows = []
    eid = 0
    for ent in ("A", "B"):
        for h in range(20):
            n = 100 if (ent == "B" and h == 15) else 5
            for i in range(n):
                rows.append((eid, ent,
                             base_ts + pd.Timedelta(hours=h, minutes=i % 50),
                             float(10 + (i % 3))))
                eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "service", "ts", "value"])
    root = tmp_path_factory.mktemp("hist")
    src = str(root / "events")
    spark.createDataFrame(pdf).write.parquet(src)

    det = Detector(
        detector_id="det-h", indices=src,
        feature_specs={"n_events": {"value_count": {"field": "event_id"}},
                       "v_avg": {"avg": {"field": "value"}}},
        time_field="ts", interval_ms=HOUR,
        category_fields=("service",), shingle_size=8)

    want = preview(spark, det).toPandas()
    want = want.set_index(
        [want.service, want.bucket_start.map(pd.Timestamp)]).sort_index()

    start = int(base_ts.value // 10**6)
    end = start + 20 * HOUR
    state_dir = str(root / "state")
    results_dir = str(root / "results")
    # 7-interval pieces: shingle windows MUST cross piece boundaries
    got_df = run_historical(spark, det, start, end, state_dir,
                            results_dir, piece_intervals=7)
    got = got_df.toPandas()

    assert len(got) == len(want)
    for r in got.itertuples():
        w = want.loc[(r.service, pd.Timestamp(r.bucket_start))]
        assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, r
        assert abs(r.anomaly_grade - float(w.anomaly_grade)) < 1e-9
        assert abs(r.confidence - float(w.confidence)) < 1e-9
        assert r.n_events == int(w.n_events)
    assert list(got[got.anomaly_grade > 0].service) == ["B"]

    # resume: all pieces marked done -> rerun is a no-op with the same
    # results, even with a poisoned state dir (it must not be re-read)
    markers = sorted(f for f in os.listdir(results_dir)
                     if f.endswith(".done"))
    assert len(markers) == 3  # ceil(20 / 7)
    again = run_historical(spark, det, start, end, state_dir,
                           results_dir, piece_intervals=7).toPandas()
    assert len(again) == len(got)
    pd.testing.assert_frame_equal(
        got.sort_values(["service", "bucket_start"]).reset_index(drop=True),
        again.sort_values(["service", "bucket_start"]).reset_index(drop=True))

    # the published state carries the tick's replay columns: a tick on
    # the last historical interval replays it — no state change, the
    # stored grades
    from anomaly_detection_spark.detector import (
        _state_path, run_once_stateful)

    spath = _state_path(state_dir, det.detector_id)

    def state():
        return (spark.read.parquet(spath).toPandas()
                .sort_values(["service", "_feat"]).reset_index(drop=True))

    before = state()
    tick = run_once_stateful(spark, det, end, state_dir).toPandas()
    after = state()
    assert [list(v) for v in after.vals] == [list(v) for v in before.vals]
    assert list(after.scored_cnt) == list(before.scored_cnt)
    last = got[got.bucket_start == got.bucket_start.max()] \
        .set_index("service")
    assert sorted(tick.service) == sorted(last.index)
    for r in tick.itertuples():
        assert abs(r.anomaly_grade
                   - float(last.loc[r.service].anomaly_grade)) < 1e-9
        assert abs(r.anomaly_score
                   - float(last.loc[r.service].anomaly_score)) < 1e-9


def test_top_hits_body_sub_agg(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "g": ["a", "a", "a", "b", "b"], "id": [1, 2, 3, 4, 5],
        "v": [5.0, 9.0, 7.0, 1.0, 2.0]}))
    out = run_aggs(df, {"aggs": {"t": {
        "terms": {"field": "g", "size": 10},
        "aggs": {"h": {"top_hits": {
            "size": 2, "sort": [{"v": {"order": "desc"}}],
            "_source": ["id", "v"]}}}}}})["t"].toPandas()
    a = out[out.g == "a"].sort_values("hit_rank")
    assert list(a.id) == [2, 3]
    assert list(out[out.g == "b"].sort_values("hit_rank").id) == [5, 4]

    import pytest as _pt
    with _pt.raises(ValueError, match="sole sub-agg"):
        run_aggs(df, {"aggs": {"t": {
            "terms": {"field": "g"},
            "aggs": {"h": {"top_hits": {"sort": [{"v": {}}]}},
                     "m": {"avg": {"field": "v"}}}}}})


def test_bucket_script_and_selector(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(["2025-01-01 00:10", "2025-01-01 00:20",
                              "2025-01-01 01:10", "2025-01-01 02:10",
                              "2025-01-01 02:20", "2025-01-01 02:30"]),
        "v": [2.0, 4.0, 6.0, 1.0, 1.0, 1.0]}))
    out = run_aggs(df, {"aggs": {"h": {
        "date_histogram": {"field": "ts", "fixed_interval": "1h"},
        "aggs": {
            "v_sum": {"sum": {"field": "v"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"s": "v_sum", "c": "doc_count"},
                "script": "params.s / params.c"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"c": "doc_count"},
                "script": "params.c >= 2"}},
        }}}})["h"].toPandas().sort_values("bucket_start")
    # hour 1 (single doc) dropped by the selector; per_doc = sum/count
    assert list(out.doc_count) == [2, 3]
    assert list(out.per_doc) == [3.0, 1.0]

    import pytest as _pt
    with _pt.raises(ValueError, match="unsupported bucket script"):
        run_aggs(df, {"aggs": {"h": {
            "date_histogram": {"field": "ts", "fixed_interval": "1h"},
            "aggs": {"x": {"bucket_script": {
                "buckets_path": {"c": "doc_count"},
                "script": "java.lang.Runtime.getRuntime()"}}}}}})


def test_match_phrase_scored_overlap_and_ranking(spark):
    """Lucene PhraseQuery semantics: tf = POSITIONAL phrase frequency
    (overlapping occurrences count), weight = sum of term idfs."""
    import math

    from anomaly_detection_spark.query import analyze_docs
    from anomaly_detection_spark.query.planner import search

    df = spark.createDataFrame(pd.DataFrame({
        "docid": [0, 1, 2, 3],
        "text": ["go go go stop",      # "go go" occurs at 2 positions
                 "go go stop",         # 1 occurrence
                 "go stop go",         # 0 (not consecutive)
                 "stop stop"]}))
    an = analyze_docs(df)
    out = search(an, {"query": {"match_phrase": {"text": "go go"}},
                      "size": 10}).toPandas()
    assert list(out.docid) == [0, 1]
    # exact score check for doc 0: idf(go)*2, tf=2, dl=4, avgdl=13/4
    n, df_go = 4, 3
    idf2 = 2 * math.log(1 + (n - df_go + 0.5) / (df_go + 0.5))
    k1, b = 1.2, 0.75
    avgdl = (4 + 3 + 3 + 2) / 4
    want = idf2 * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 4 / avgdl))
    assert abs(out.score[0] - want) < 1e-9
