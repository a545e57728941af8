"""Round-5 metric-agg ring: boxplot, median_absolute_deviation,
string_stats, t_test, matrix_stats — DuckDB / numpy oracles.
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.query import run_aggs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(f"create view events as select * from '{SF}/events.parquet'")
    c.execute(f"create view documents as "
              f"select * from '{SF}/documents.parquet'")
    yield c
    c.close()


def test_boxplot_exact_vs_duckdb(events, con):
    body = {"aggs": {"bp": {"boxplot": {"field": "value",
                                        "exact": True}}}}
    got = run_aggs(events, body)["bp"].collect()[0]
    want = con.execute("""
      select min(value), max(value),
             quantile_cont(value, 0.25), quantile_cont(value, 0.5),
             quantile_cont(value, 0.75) from events""").fetchone()
    assert got["bp_min"] == pytest.approx(want[0])
    assert got["bp_max"] == pytest.approx(want[1])
    assert got["bp_q1"] == pytest.approx(want[2])
    assert got["bp_q2"] == pytest.approx(want[3])
    assert got["bp_q3"] == pytest.approx(want[4])


def test_boxplot_as_subagg_of_terms(events):
    body = {"aggs": {"by_type": {
        "terms": {"field": "event_type", "size": 3},
        "aggs": {"bp": {"boxplot": {"field": "value",
                                    "exact": True}}}}}}
    got = run_aggs(events, body)["by_type"].toPandas()
    assert {"bp_min", "bp_max", "bp_q1", "bp_q2", "bp_q3"} <= \
        set(got.columns)
    assert (got.bp_q1 <= got.bp_q2).all() and \
        (got.bp_q2 <= got.bp_q3).all()


def test_mad_exact_vs_duckdb(events, con):
    body = {"query": {"term": {"event_type": "click"}},
            "aggs": {"vmad": {"median_absolute_deviation": {
                "field": "value", "exact": True}}}}
    got = run_aggs(events, body)["vmad"].collect()[0]["vmad"]
    want = con.execute("""
      with m as (select quantile_cont(value, 0.5) as med from events
                 where event_type = 'click')
      select quantile_cont(abs(value - m.med), 0.5)
      from events, m where event_type = 'click'""").fetchone()[0]
    assert got == pytest.approx(want)


def test_mad_grouped(spark):
    from anomaly_detection_spark.query.aggs import mad_agg

    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "g": ["a"] * 5 + ["b"] * 4,
        "v": [1.0, 2, 3, 4, 100, 10, 10, 10, 50]}))
    got = {r["g"]: r["mad"]
           for r in mad_agg(df, "v", ["g"], exact=True).collect()}
    # g=a: median 3, |dev| = [2,1,0,1,97] → median 1
    # g=b: median 10, |dev| = [0,0,0,40] → median 0
    assert got["a"] == pytest.approx(1.0)
    assert got["b"] == pytest.approx(0.0)


def test_string_stats_vs_duckdb(con, spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    body = {"aggs": {"ss": {"string_stats": {"field": "lang"}}}}
    got = run_aggs(docs, body)["ss"].collect()[0]
    want = con.execute("""
      select count(lang), min(length(lang)), max(length(lang)),
             avg(length(lang)) from documents""").fetchone()
    assert (got["count"], got["min_length"], got["max_length"]) == \
        (want[0], want[1], want[2])
    assert got["avg_length"] == pytest.approx(want[3])
    ent = con.execute("""
      with ch as (select unnest(string_split(lang, '')) as c
                  from documents where lang is not null),
      p as (select c, count(*) * 1.0 / (select count(*) from ch) as p
            from ch group by c)
      select -sum(p * log2(p)) from p""").fetchone()[0]
    assert got["entropy"] == pytest.approx(ent)


def test_string_stats_distribution(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"s": ["ab", "aab", None]}))
    got = run_aggs(df, {"aggs": {"ss": {"string_stats": {
        "field": "s", "show_distribution": True}}}})["ss"].collect()[0]
    assert got["count"] == 2 and got["min_length"] == 2
    dist = {r["char"]: r["prob"] for r in got["distribution"]}
    assert dist["a"] == pytest.approx(3 / 5)
    assert dist["b"] == pytest.approx(2 / 5)
    want_e = -(3 / 5) * np.log2(3 / 5) - (2 / 5) * np.log2(2 / 5)
    assert got["entropy"] == pytest.approx(want_e)


def _p_oracle(t, df):
    """Two-sided t p-value by numerical integration (log-spaced grid
    reaches the heavy tails at small df)."""
    from math import lgamma

    x = np.concatenate([np.linspace(abs(t), abs(t) + 60, 2_000_001),
                        np.geomspace(abs(t) + 60, 1e9, 200_001)])
    c = np.exp(lgamma((df + 1) / 2) - lgamma(df / 2)) / \
        np.sqrt(df * np.pi)
    pdf = c * (1 + x ** 2 / df) ** (-(df + 1) / 2)
    return 2 * np.trapz(pdf, x)


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_t_pvalue_special_function():
    from anomaly_detection_spark.functions.stats import t_sf_two_sided

    for t, df in [(2.0, 10), (1.0, 1), (1.96, 1000), (0.5, 3),
                  (4.2, 7), (0.0, 5)]:
        got = t_sf_two_sided(np.array([t]), np.array([float(df)]))[0]
        assert got == pytest.approx(_p_oracle(t, df), abs=1e-6), (t, df)


def test_t_test_welch_vs_numpy(events):
    pdf = events.select("event_type", "value").toPandas()
    a = pdf[pdf.event_type == "click"].value.dropna().to_numpy()
    b = pdf[pdf.event_type == "error"].value.dropna().to_numpy()
    body = {"aggs": {"tt": {"t_test": {
        "a": {"field": "value",
              "filter": {"term": {"event_type": "click"}}},
        "b": {"field": "value",
              "filter": {"term": {"event_type": "error"}}},
        "type": "heteroscedastic"}}}}
    got = run_aggs(events, body)["tt"].collect()[0]["p_value"]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    na, nb = len(a), len(b)
    se2 = va / na + vb / nb
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    dof = se2 ** 2 / ((va / na) ** 2 / (na - 1)
                      + (vb / nb) ** 2 / (nb - 1))
    assert got == pytest.approx(_p_oracle(t, dof), abs=1e-6)


def test_t_test_paired_and_homoscedastic(spark):
    import pandas as pd

    rng = np.random.RandomState(7)
    before = rng.normal(10, 2, 40)
    after = before - 0.8 + rng.normal(0, 0.5, 40)
    df = spark.createDataFrame(pd.DataFrame(
        {"before": before, "after": after}))
    got = run_aggs(df, {"aggs": {"tt": {"t_test": {
        "a": {"field": "before"}, "b": {"field": "after"},
        "type": "paired"}}}})["tt"].collect()[0]["p_value"]
    d = before - after
    t = d.mean() / np.sqrt(d.var(ddof=1) / len(d))
    assert got == pytest.approx(_p_oracle(t, len(d) - 1), abs=1e-6)
    assert got < 0.01  # the planted shift is detected

    got2 = run_aggs(df, {"aggs": {"tt": {"t_test": {
        "a": {"field": "before"}, "b": {"field": "after"},
        "type": "homoscedastic"}}}})["tt"].collect()[0]["p_value"]
    na = nb = len(before)
    sp2 = ((na - 1) * before.var(ddof=1)
           + (nb - 1) * after.var(ddof=1)) / (na + nb - 2)
    t2 = (before.mean() - after.mean()) / \
        np.sqrt(sp2 * (1 / na + 1 / nb))
    assert got2 == pytest.approx(_p_oracle(t2, na + nb - 2), abs=1e-6)
    with pytest.raises(ValueError, match="t_test type"):
        run_aggs(df, {"aggs": {"tt": {"t_test": {
            "a": {"field": "before"}, "b": {"field": "after"},
            "type": "zscore"}}}})


def test_matrix_stats_vs_numpy(events):
    pdf = (events.select("value", "user_id").dropna().toPandas())
    body = {"aggs": {"ms": {"matrix_stats": {
        "fields": ["value", "user_id"]}}}}
    got = run_aggs(events.dropna(subset=["value", "user_id"]),
                   body)["ms"].toPandas()
    assert len(got) == 4
    row = got[(got.field_a == "value")
              & (got.field_b == "user_id")].iloc[0]
    v = pdf.value.to_numpy()
    d = pdf.user_id.to_numpy(dtype="float64")
    assert row["count"] == len(v)
    assert row["mean"] == pytest.approx(v.mean())
    assert row["variance"] == pytest.approx(v.var(ddof=1))
    m2, m3, m4 = [(np.mean((v - v.mean()) ** k)) for k in (2, 3, 4)]
    assert row["skewness"] == pytest.approx(m3 / m2 ** 1.5)
    assert row["kurtosis"] == pytest.approx(m4 / m2 ** 2 - 3)
    cov = np.cov(v, d, ddof=1)[0, 1]
    assert row["covariance"] == pytest.approx(cov)
    assert row["correlation"] == pytest.approx(np.corrcoef(v, d)[0, 1])
    diag = got[(got.field_a == "value") & (got.field_b == "value")]
    assert diag.iloc[0]["correlation"] == pytest.approx(1.0)


# ------------------------------------------- variable_width_histogram

def test_variable_width_histogram_numpy_replay(spark):
    import numpy as np

    from anomaly_detection_spark.query.aggs import (
        variable_width_histogram)

    rng = np.random.RandomState(7)
    # three well-separated value clumps + stragglers
    vals = np.concatenate([rng.normal(0, 1, 200),
                           rng.normal(50, 2, 150),
                           rng.normal(200, 5, 100)]).round(4)
    df = spark.createDataFrame([(float(x),) for x in vals], ["v"])
    got = variable_width_histogram(df, "v", buckets=3).toPandas()
    # independent replay: same quantile seeding + 1-D Lloyd on numpy
    cents = sorted(set(np.percentile(
        vals, [100 * (i + 0.5) / 3 for i in range(3)],
        method="inverted_cdf").astype(float)))
    for _ in range(4):
        mids = [(cents[i] + cents[i + 1]) / 2 for i in range(len(cents) - 1)]
        lab = np.digitize(vals, mids)
        new = sorted(vals[lab == i].mean() for i in np.unique(lab))
        if new == cents:
            break
        cents = new
    lab = np.digitize(vals, [(cents[i] + cents[i + 1]) / 2
                             for i in range(len(cents) - 1)])
    assert len(got) == 3
    for i, r in got.iterrows():
        sel = vals[lab == sorted(np.unique(lab))[i]]
        assert r["doc_count"] == len(sel)
        assert r["key"] == pytest.approx(sel.mean(), rel=1e-9)
        assert r["min"] == pytest.approx(sel.min())
        assert r["max"] == pytest.approx(sel.max())
    # clumps recovered: keys near 0 / 50 / 200
    assert np.allclose(sorted(got.key), [vals[:200].mean(),
                                         vals[200:350].mean(),
                                         vals[350:].mean()], atol=1.0)


def test_variable_width_histogram_body_and_edges(spark):
    from anomaly_detection_spark.query.aggs_body import run_aggs

    df = spark.createDataFrame(
        [(1.0,), (1.1,), (9.0,), (None,)], ["v"])
    out = run_aggs(df, {"aggs": {"h": {"variable_width_histogram": {
        "field": "v", "buckets": 2}}}})["h"].toPandas()
    assert list(out.doc_count) == [2, 1]
    assert out.key[0] == pytest.approx(1.05)
    with pytest.raises(ValueError, match="unsupported"):
        run_aggs(df, {"aggs": {"h": {
            "variable_width_histogram": {"field": "v", "buckets": 2},
            "aggs": {"m": {"avg": {"field": "v"}}}}}})
    # degenerate: fewer distinct values than buckets
    tiny = spark.createDataFrame([(3.0,), (3.0,)], ["v"])
    from anomaly_detection_spark.query.aggs import (
        variable_width_histogram)

    one = variable_width_histogram(tiny, "v", buckets=4).toPandas()
    assert len(one) == 1 and one.doc_count[0] == 2
