"""Round-3 regression tests: judge fixes (delete_by_query null rows,
bounded timeout collect, msm>=2) + advisor fixes (calendar_interval
fail-fast, bucket-grid rounding, mixed bm-format fallback, confidence
ramp, single-pass multi-feature preview)."""

import glob
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.query.planner import compile_filter, search
from anomaly_detection_spark.sources import delete_by_query


# --- delete_by_query must not delete null-predicate rows --------------------


def test_delete_by_query_keeps_null_rows(spark, tmp_path):
    src = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, None), (3, "a"), (4, None)],
        "id long, grp string").write.parquet(src)
    n = delete_by_query(spark, src, {"term": {"grp": "a"}})
    assert n == 2
    left = spark.read.parquet(src).toPandas().sort_values("id")
    # null-grp docs don't match the term query → must SURVIVE
    assert sorted(left.id) == [1, 2, 4]


# --- search(timeout_s=) must page-bound the driver collect ------------------


def test_timeout_search_bounds_driver_collect(spark):
    from anomaly_detection_spark.query.brute_force import analyze_docs

    df = spark.createDataFrame(
        [(i, "match me please", "u") for i in range(100)],
        "docid long, text string, role string")
    analyzed = analyze_docs(df)
    # pure filter, NO size, with a timeout: previously collected all 100
    out = search(analyzed, {"query": {"term": {"role": "u"}}}, timeout_s=30)
    assert out.count() == 10  # default page size


# --- minimum_should_match >= 2 ----------------------------------------------


@pytest.fixture(scope="module")
def msm_df(spark):
    return spark.createDataFrame(
        [(0, "alpha beta", "x", 1), (1, "alpha", "y", 2),
         (2, "gamma", "y", 1), (3, "alpha", None, 1),
         (4, "alpha zeta", "y", 1)],
        "id long, text string, tag string, v long")


def test_minimum_should_match_two(msm_df):
    cond = compile_filter(msm_df, {"bool": {"should": [
        {"match": {"text": "alpha"}},
        {"term": {"tag": "y"}},
        {"range": {"v": {"gte": 2}}}],
        "minimum_should_match": 2}})
    got = sorted(r.id for r in msm_df.filter(cond).collect())
    # 0: alpha only (1) — out; 1: alpha+y+v≥2 (3) — in; 2: y only — out;
    # 3: alpha + NULL tag (null counts as non-match) — out; 4: alpha+y — in
    assert got == [1, 4]


def test_minimum_should_match_all_three(msm_df):
    cond = compile_filter(msm_df, {"bool": {"should": [
        {"match": {"text": "alpha"}},
        {"term": {"tag": "y"}},
        {"range": {"v": {"gte": 2}}}],
        "minimum_should_match": 3}})
    assert sorted(r.id for r in msm_df.filter(cond).collect()) == [1]


def test_minimum_should_match_rejects_bad_values(msm_df):
    for bad in (-1, 5, "75%"):
        with pytest.raises(ValueError, match="minimum_should_match"):
            compile_filter(msm_df, {"bool": {
                "should": [{"term": {"tag": "y"}},
                           {"term": {"tag": "x"}}],
                "minimum_should_match": bad}})


# --- date_histogram interval handling (ADVICE: no silent 1h default) --------


def test_calendar_interval_fixed_widths_map(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(
        pd.DataFrame({"ts": [pd.Timestamp("2025-01-01 00:10:00"),
                             pd.Timestamp("2025-01-01 01:20:00")],
                      "value": [1.0, 2.0]}))
    fixed = run_aggs(df, {"aggs": {"h": {"date_histogram": {
        "field": "ts", "fixed_interval": "1h"}}}})["h"].toPandas()
    cal = run_aggs(df, {"aggs": {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "hour"}}}})["h"].toPandas()
    pd.testing.assert_frame_equal(fixed, cal)


def test_calendar_interval_month_buckets_and_dense_grid(spark):
    """calendar_interval=month truncates to month starts and the
    minDocCount(0) grid fills the empty month in between; quarter and
    week truncate on their own boundaries (week → Monday, like
    OpenSearch UTC rounding)."""
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(
        pd.DataFrame({"ts": [pd.Timestamp("2025-01-15 07:00:00"),
                             pd.Timestamp("2025-01-31 23:59:59"),
                             pd.Timestamp("2025-03-01 00:00:00")],
                      "value": [1.0, 2.0, 4.0]}))
    out = run_aggs(df, {"aggs": {"m": {"date_histogram": {
        "field": "ts", "calendar_interval": "month"},
        "aggs": {"v_sum": {"sum": {"field": "value"}}}}}})["m"].toPandas()
    out = out.sort_values("bucket_start").reset_index(drop=True)
    assert list(out.bucket_start) == [pd.Timestamp("2025-01-01"),
                                      pd.Timestamp("2025-02-01"),
                                      pd.Timestamp("2025-03-01")]
    assert list(out.doc_count) == [2, 0, 1]
    assert out.v_sum[0] == 3.0

    wk = run_aggs(df, {"aggs": {"w": {"date_histogram": {
        "field": "ts", "calendar_interval": "week",
        "min_doc_count": 1}}}})["w"].toPandas()
    # 2025-01-15 is a Wednesday → its week bucket starts Mon 2025-01-13
    assert pd.Timestamp("2025-01-13") in set(wk.bucket_start)

    with pytest.raises(ValueError, match="unsupported calendar_interval"):
        run_aggs(df, {"aggs": {"h": {"date_histogram": {
            "field": "ts", "calendar_interval": "fortnight"}}}})
    with pytest.raises(ValueError, match="fixed_interval"):
        run_aggs(df, {"aggs": {"h": {"date_histogram": {"field": "ts"}}}})


# --- bucket grid: round seg_size up, never collapse bucket_size -------------


def test_seg_size_rounds_to_bucket_grid(spark, tiny_transcripts):
    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.index.storage import read_meta

    tmp = tempfile.mkdtemp(prefix="adspark_grid_")
    try:
        # 1000 is not a multiple of 256; the gcd-era code collapsed
        # bucket_size to 8 here (one impact entry per ~8 postings)
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=1000,
                            block_size=64, segments_per_batch=4)
        meta = read_meta(paths.root)
        assert meta.bucket_size == 256
        assert meta.seg_size == 1024
        assert meta.seg_size % meta.bucket_size == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- mixed bm-format postings fall back to the legacy bound -----------------


def test_mixed_bm_format_falls_back_not_crashes(spark, tiny_transcripts):
    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.query import (
        IndexReader, analyze_docs, bm25_topk_bruteforce, bm25_topk_indexed,
        corpus_stats)

    tmp = tempfile.mkdtemp(prefix="adspark_mixedbm_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                            block_size=64, segments_per_batch=4)
        # simulate a parquet schema-union with a pre-impact-table batch:
        # null out the bm columns on half the posting rows
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i, f in enumerate(sorted(glob.glob(
                os.path.join(paths.postings, "**", "*.parquet"),
                recursive=True))):
            if i % 2:
                continue
            t = pq.read_table(f)
            for cname in ("bm_buckets", "bm_tf", "bm_dl"):
                idx = t.schema.get_field_index(cname)
                t = t.set_column(idx, t.schema.field(idx),
                                 pa.nulls(len(t), t.schema.field(idx).type))
            pq.write_table(t, f)
            crc = os.path.join(os.path.dirname(f),
                               "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)  # stale hadoop checksum after rewrite
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts)
        stats = corpus_stats(analyzed)
        q = "spark query data merge"
        got = bm25_topk_indexed(reader, q, k=10, prune=True).toPandas()
        want = bm25_topk_bruteforce(analyzed, q, k=10, stats=stats).toPandas()
        assert list(got.docid) == list(want.docid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- confidence ramp + single-pass multi-feature preview ---------------------


HOUR = 3600_000


@pytest.fixture(scope="module")
def steady_events(spark, tmp_path_factory):
    base = pd.Timestamp("2025-03-01")
    rows = []
    eid = 0
    for ent in ("A", "B"):
        for h in range(72):
            for i in range(5):
                rows.append((eid, ent,
                             base + pd.Timedelta(hours=h, minutes=i),
                             float(10 + (i % 3))))
                eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "service", "ts", "value"])
    path = str(tmp_path_factory.mktemp("r3det") / "events")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


def test_confidence_ramps_with_history(spark, steady_events):
    from anomaly_detection_spark.detector import Detector, preview

    det = Detector(
        detector_id="d", indices=steady_events,
        feature_specs={"n": {"value_count": {"field": "event_id"}}},
        time_field="ts", interval_ms=HOUR,
        category_fields=("service",), shingle_size=8, confidence_ramp=32)
    res = preview(spark, det).toPandas().sort_values(
        ["service", "bucket_start"])
    for _, grp in res.groupby("service"):
        conf = grp.confidence.to_numpy()
        assert conf[0] == round(1 / 32, 6)          # first scored interval
        assert (pd.Series(conf).diff().dropna() >= 0).all()  # monotone
        assert conf[-1] == 1.0                       # warm
        assert conf[31] == 1.0 and conf[30] < 1.0    # ramp length exact


def test_preview_single_pass_multi_feature(spark, steady_events):
    from anomaly_detection_spark.detector import Detector, preview

    det = Detector(
        detector_id="d3", indices=steady_events,
        feature_specs={"n": {"value_count": {"field": "event_id"}},
                       "v_avg": {"avg": {"field": "value"}},
                       "v_max": {"max": {"field": "value"}}},
        time_field="ts", interval_ms=HOUR,
        category_fields=("service",), shingle_size=8)
    res = preview(spark, det)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # one stateful scoring pass for 3 features, not 3
    assert plan.count("FlatMapGroupsInPandas") == 1
    pdf = res.toPandas()
    assert {"n", "v_avg", "v_max"} <= set(pdf.columns)
    assert len(pdf) == 2 * 64  # 72 buckets − 8 warm-up per entity
    assert (pdf.anomaly_grade == 0).all()


# --- model-state checkpoint: run_once_stateful ≡ preview ---------------------


# ignore_anomaly whenever n_events exceeds its expected value by at most
# 1000: suppresses every anomaly of the fixture, the B spike included
IGNORE_SMALL_MARGIN = ({"action": "ignore_anomaly", "conditions": [{
    "feature_name": "n_events",
    "threshold_type": "actual_over_expected_margin",
    "operator": "lte", "value": 1000}]},)


@pytest.mark.parametrize("rules", [(), IGNORE_SMALL_MARGIN],
                         ids=["no_rules", "ignore_rule"])
def test_stateful_run_once_matches_preview(spark, tmp_path_factory, rules):
    """Sequence of run_once_stateful calls == preview rows at the same
    buckets (scores, grades, confidence), while each call reads only
    one interval of raw events — proven by feeding each call a source
    table that CONTAINS only that interval.  Suppression rules grade
    the ticks' rows exactly as they grade preview's."""
    from anomaly_detection_spark.detector import (
        Detector, preview, run_once_stateful)

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
    root = tmp_path_factory.mktemp("stateful")
    full = str(root / "events_full")
    spark.createDataFrame(pdf).write.parquet(full)
    state_dir = str(root / "state")

    def mk(indices):
        return Detector(
            detector_id="det-st", indices=indices,
            feature_specs={"n_events": {"value_count": {"field": "event_id"}},
                           "v_avg": {"avg": {"field": "value"}}},
            time_field="ts", interval_ms=HOUR,
            category_fields=("service",), shingle_size=8,
            suppression_rules=rules)

    want = preview(spark, mk(full)).toPandas()
    want = want.set_index(
        [want.service, want.bucket_start.map(pd.Timestamp)])

    got_rows = []
    for h in range(20):
        lo = base_ts + pd.Timedelta(hours=h)
        hi = lo + pd.Timedelta(hours=1)
        # source containing ONLY this interval: if the stateful runner
        # needed history it would get different (wrong) results
        one = str(root / f"events_h{h}")
        spark.createDataFrame(
            pdf[(pdf.ts >= lo) & (pdf.ts < hi)]).write.parquet(one)
        now_ms = int(hi.value // 10**6) + 120_000
        res = run_once_stateful(spark, mk(one), now_ms, state_dir)
        got_rows.append(res.toPandas())
    got = pd.concat(got_rows, ignore_index=True)

    assert len(got) == len(want)  # 2 entities × (20 − 8) scored buckets
    for r in got.itertuples():
        w = want.loc[(r.service, pd.Timestamp(r.bucket_start))]
        assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, r
        assert abs(r.anomaly_grade - float(w.anomaly_grade)) < 1e-9
        assert abs(r.confidence - float(w.confidence)) < 1e-9
        assert r.n_events == int(w.n_events)

    # spike interval flagged through the stateful path too, unless the
    # rule suppresses it
    spike = got[got.anomaly_grade > 0]
    assert list(spike.service) == ([] if rules else ["B"])

    # state survives "restart": a fresh read of the parquet state shows
    # full windows and monotone scored counts
    st = spark.read.parquet(state_dir + "/det-st").toPandas()
    assert set(st.service) == {"A", "B"}
    assert (st.vals.map(len) == 8).all()
    assert (st.scored_cnt == 12).all()


# --- incremental index maintenance: build(A); append(B) ≡ build(A∪B) --------


def test_append_index_equals_full_build(spark, tiny_transcripts):
    from anomaly_detection_spark.index import append_index, build_index
    from anomaly_detection_spark.query import IndexReader, bm25_topk_indexed

    tmp = tempfile.mkdtemp(prefix="adspark_append_")
    try:
        n = tiny_transcripts.count()
        cut = (n * 2) // 3  # NOT segment-aligned: boundary segment spans
        a = tiny_transcripts.filter(F.col("docid") < cut)
        b = tiny_transcripts.filter(F.col("docid") >= cut)
        build_index(a, f"{tmp}/inc", seg_size=512, block_size=64,
                    segments_per_batch=2)
        append_index(b, f"{tmp}/inc")
        build_index(tiny_transcripts, f"{tmp}/full", seg_size=512,
                    block_size=64, segments_per_batch=2)

        inc = IndexReader(spark, f"{tmp}/inc")
        full = IndexReader(spark, f"{tmp}/full")
        assert inc.meta.n_docs == full.meta.n_docs == n
        assert abs(inc.meta.avgdl - full.meta.avgdl) < 1e-9
        for q in ["spark query data merge", "the", "naïve éclair",
                  "error result table join small", "the the"]:
            for prune in (True, False):
                gi = bm25_topk_indexed(inc, q, k=10, prune=prune).collect()
                gf = bm25_topk_indexed(full, q, k=10, prune=prune).collect()
                # 6-dp score tolerance: avgdl is a float average over
                # differently-ordered doc_stats files, so the last few
                # ulps legitimately differ between the two indexes
                assert [(r.docid, round(r.score, 6)) for r in gi] == \
                       [(r.docid, round(r.score, 6)) for r in gf], (q, prune)
        # appending nothing is a no-op
        append_index(b.filter(F.lit(False)), f"{tmp}/inc")
        # appending a non-contiguous range errors
        import pytest as _pt
        with _pt.raises(ValueError, match="dense docid range"):
            append_index(tiny_transcripts.limit(5)
                         .withColumn("docid", F.col("docid") + n + 10),
                         f"{tmp}/inc")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- match operator:and (conjunctive) ----------------------------------------


def test_conjunctive_match_filter_context(spark):
    from anomaly_detection_spark.query.brute_force import analyze_docs

    df = spark.createDataFrame(
        [(0, "spark merge fast"), (1, "spark only here"),
         (2, "merge alone"), (3, "no relevant tokens"), (4, None)],
        "docid long, text string")
    cond = compile_filter(df, {"match": {"text": {
        "query": "spark merge", "operator": "and"}}})
    assert sorted(r.docid for r in df.filter(cond).collect()) == [0]
    cond_or = compile_filter(df, {"match": {"text": "spark merge"}})
    assert sorted(r.docid for r in df.filter(cond_or).collect()) == [0, 1, 2]


def test_conjunctive_match_scored_indexed_vs_bruteforce(spark,
                                                        tiny_transcripts):
    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.query import (
        IndexReader, analyze_docs, bm25_topk_bruteforce, bm25_topk_indexed,
        corpus_stats)

    tmp = tempfile.mkdtemp(prefix="adspark_conj_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                            block_size=64, segments_per_batch=4)
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts).persist()
        stats = corpus_stats(analyzed)
        q = "spark merge data"
        bf = bm25_topk_bruteforce(analyzed, q, k=10, stats=stats,
                                  conjunctive=True).toPandas()
        ix = bm25_topk_indexed(reader, q, k=10, conjunctive=True).toPandas()
        assert len(bf) > 0  # corpus has docs with all three tokens
        assert list(ix.docid) == list(bf.docid)
        assert (abs(ix.score - bf.score) < 1e-9).all()
        # every hit really contains all tokens
        hits = set(bf.docid)
        toks = {r.docid: set(r.tokens) for r in analyzed.filter(
            F.col("docid").isin(list(map(int, hits)))).collect()}
        for d in hits:
            assert {"spark", "merge", "data"} <= toks[d]
        # AND is a subset of OR, scores equal where both return the doc
        orr = bm25_topk_bruteforce(analyzed, q, k=1000, stats=stats).toPandas()
        or_scores = dict(zip(orr.docid, orr.score))
        for d, sc in zip(bf.docid, bf.score):
            assert abs(or_scores[d] - sc) < 1e-9
        # a corpus-absent token makes AND return nothing
        assert bm25_topk_indexed(reader, "spark qqqqzzzz", k=5,
                                 conjunctive=True).count() == 0
        analyzed.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_imputation_matches_preview(spark, tmp_path_factory):
    """run_once_stateful with imputation_method zero/previous fills
    the CURRENT interval for stateful entities with no bucket row —
    sequential calls over a gappy span equal preview-with-imputation
    row-for-row (scores, feature values, feature_imputed flags)."""
    from anomaly_detection_spark.detector import (
        Detector, preview, run_once_stateful)

    base_ts = pd.Timestamp("2025-03-01")
    gaps = {5, 6, 11}                     # interior missing intervals
    rows = []
    eid = 0
    for h in range(20):
        if h in gaps:
            continue
        for i in range(4 + (h % 3)):
            rows.append((eid, base_ts + pd.Timedelta(hours=h, minutes=i),
                         float(10 + (i % 3))))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
    root = tmp_path_factory.mktemp("impstate")
    full = str(root / "events_full")
    spark.createDataFrame(pdf).write.parquet(full)

    for method in ("zero", "previous"):
        def mk(indices):
            return Detector(
                detector_id=f"det-imp-{method}", indices=indices,
                feature_specs={
                    "n_events": {"value_count": {"field": "event_id"}},
                    "v_avg": {"avg": {"field": "value"}}},
                time_field="ts", interval_ms=HOUR, shingle_size=4,
                imputation_method=method)

        want = preview(spark, mk(full)).toPandas()
        want = want.set_index(want.bucket_start.map(pd.Timestamp))

        state_dir = str(root / f"state_{method}")
        got_rows = []
        for h in range(20):
            lo = base_ts + pd.Timedelta(hours=h)
            hi = lo + pd.Timedelta(hours=1)
            one = str(root / f"ev_{method}_h{h}")
            (spark.read.parquet(full)
             .filter((F.col("ts") >= F.lit(lo))
                     & (F.col("ts") < F.lit(hi)))
             .write.parquet(one))
            now_ms = int(hi.value // 10**6) + 120_000
            got_rows.append(run_once_stateful(
                spark, mk(one), now_ms, state_dir).toPandas())
        got = pd.concat(got_rows, ignore_index=True)

        # the imputed buckets are SCORED in both paths
        got_idx = {pd.Timestamp(b) for b in got.bucket_start}
        gap_buckets = {base_ts + pd.Timedelta(hours=g) for g in gaps}
        assert gap_buckets <= got_idx, method
        assert len(got) == len(want), method
        for r in got.itertuples():
            w = want.loc[pd.Timestamp(r.bucket_start)]
            assert abs(r.anomaly_score - float(w.anomaly_score)) < 1e-9, \
                (method, r)
            assert abs(r.confidence - float(w.confidence)) < 1e-9
            assert abs(r.v_avg - float(w.v_avg)) < 1e-9
            assert abs(r.n_events - float(w.n_events)) < 1e-9
            gi = {e["feature_id"]: e["imputed"] for e in r.feature_imputed}
            wi = {e["feature_id"]: e["imputed"] for e in w.feature_imputed}
            assert gi == wi, (method, r.bucket_start)

    # linear still refuses on the realtime path, by name
    with pytest.raises(NotImplementedError, match="linear"):
        run_once_stateful(
            spark, Detector(
                detector_id="d", indices=full,
                feature_specs={"v": {"avg": {"field": "value"}}},
                time_field="ts", interval_ms=HOUR,
                imputation_method="linear"),
            int(base_ts.value // 10**6) + HOUR, str(root / "s2"))
