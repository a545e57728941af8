"""Detector-level API: the reference's user surface, end to end.

A reference user defines an anomaly detector as a config document —
source indices (possibly a pattern), a filter query, feature
aggregations, a detection interval, a window delay, category (entity)
fields, and a shingle size (``Config.java:97``, the detector mapping in
``src/main/resources/mappings/config.json``) — and reads back anomaly
results rows (``anomaly-results.json`` mapping: entity as a nested
name/value list, anomaly_grade/confidence, data_start/end_time).

This module composes the engine's pieces into exactly that surface.
Every detection path — :func:`preview` (scalar and joint), the two
realtime ticks :func:`run_once_stateful` / :func:`run_once_stateful_joint`
and the :func:`run_historical` piece loop — shares one helper per step:

    load_table(pattern) → _interval_frame (compile_filter(query JSON)
    over [lo, hi) → feature_matrix per (entity, interval)) → _melt (one
    row per feature) → scoring kernel → _join_scores (pivot the
    per-feature scores back) → _result_rows (grade, confidence, rules,
    entity list, feature_imputed)

The joint paths skip the melt and the pivot: their kernels score the
whole feature vector of an entity.

Both ticks are one private ``_tick``: the state read, ``_admit``
(entity-cache admission), ``_with_presence`` (which entities produced
a bucket), the cold-start training frame, one row kernel (fill, skip,
replay, cold start, step) and ``_swap_state_dir`` (the state rewrite).
A model kind supplies only what differs: the state keys, the melt or
the feature vector, the state schema, the model it rebuilds from a
state row, and the result tail.

The models live in :mod:`features.scoring`, with the same shape
(built from a state row's columns, ``state()`` gives them back;
``fill`` imputes, ``step`` scores then ingests, ``replay`` gives the
last step's outputs again): the scalar tick, the ``run_historical``
pieces and the
streaming detector advance one
:class:`~anomaly_detection_spark.features.scoring.ScalarModel` per
(entity, feature), through the ``window_z`` formula preview's
``zscore_scorer`` uses; the joint tick advances one
:class:`~anomaly_detection_spark.features.scoring.JointModel` per
entity.  Each kernel keeps only its I/O.

The model stand-in is the deterministic trailing-window z-score from
:mod:`features.scoring` (RCF lives in a library the survey scopes
out); ``anomaly_grade`` maps |z| through the same shape the reference
uses for its threshold (0 below 3σ, saturating at 6σ), and
``confidence`` ramps with history like the reference's cold-start
handling (``ResultProcessor.java:204-331`` fan-out; scores per entity).
"""

from __future__ import annotations

import functools
import operator
import os
import shutil
from dataclasses import dataclass, field as dc_field, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from .index.storage import read_table

from .features import (feature_matrix, impute_fill, impute_linear,
                       score_entities, zscore_scorer)
from .features.scoring import JointModel, ScalarModel, has_value
from .functions.entity import with_entity
from .query.planner import compile_filter
from .sources import load_table


@dataclass
class Detector:
    """The detector config subset the engine consumes (Config.java)."""
    detector_id: str
    indices: str | list[str]
    feature_specs: dict[str, dict]          # {name: {agg: {"field": col}}}
    time_field: str = "ts"
    interval_ms: int = 600_000              # 10-minute default, like the plugin
    window_delay_ms: int = 0
    filter_query: dict | None = None
    category_fields: tuple[str, ...] = ()   # empty = single-stream
    shingle_size: int = 8
    confidence_ramp: int = 32               # intervals to full confidence
    # ImputationMethod.java:12-20 parity: zero | fixed_values |
    # previous | linear (None = skip missing buckets, the default)
    imputation_method: str | None = None
    imputation_values: dict[str, float] | None = None
    # Config "rules" parity (AbstractRuleTestCase.java:99-108 shape):
    # [{"action": "ignore_anomaly", "conditions": [{"feature_name": ...,
    #   "threshold_type": "actual_over_expected_margin" | "expected_over_
    #   actual_margin" | "actual_over_expected_ratio" | "expected_over_
    #   actual_ratio", "operator": "lte", "value": ...}, ...]}]
    # — an anomaly is suppressed (grade forced to 0) when EVERY
    # condition of a rule holds; "expected" is the model's trailing
    # baseline (the scorer's window mean here).
    suppression_rules: tuple = ()
    # |z| at which anomaly_grade lifts off 0 (saturates at 2×); the
    # z-score stand-in's default 3σ matches the oracle formula
    anomaly_threshold: float = 3.0

    def __post_init__(self):
        if self.imputation_method not in (
                None, "zero", "fixed_values", "previous", "linear"):
            raise ValueError(
                f"imputation_method must be zero/fixed_values/previous/"
                f"linear, got {self.imputation_method!r}")
        # feature names are interpolated into a stack() expr string by
        # the scoring melt — reject names that could escape it
        from .query.aggs import require_safe_names

        require_safe_names(self.feature_specs, "feature names")


class TaskCancelledError(RuntimeError):
    """A cancel flag was observed between pieces — the reference's
    TaskCancelledException (``ADBatchTaskRunner.java:1377-1396``: the
    runner checks the cancel flag when starting the next piece and
    throws with the recorded reason + who stopped it)."""

    def __init__(self, reason: str, stopped_by: str | None = None):
        super().__init__(reason)
        self.reason = reason
        self.stopped_by = stopped_by


def _grade(z: F.Column, thr: float = 3.0) -> F.Column:
    """|z| → anomaly grade in [0, 1]: 0 below ``thr``σ, 1 at ≥2·thr σ."""
    return F.greatest(F.lit(0.0),
                      F.least(F.lit(1.0), (F.abs(z) - thr) / thr))


def _attribution_ring(result: DataFrame, feats: list[str],
                      interval_ms: int) -> DataFrame:
    """Attach the anomaly-results explanation ring from normalized
    intermediate columns (shared by preview's joint path and
    :func:`run_once_stateful_joint`, so the two can never drift):

    - ``_attr``: array<double> per-feature shares, null when the model
      didn't attribute (grade ≤ alert threshold)
    - ``_exp``: array<double> expected feature vector, null when warm
    - ``_rel``: int relative index (≤ 0), null when no attribution
    - ``_past``: array<double> raw inputs at the relative slot, null
      unless the anomaly is in the past

    Emits ``relevant_attribution`` / ``expected_values`` /
    ``relative_index`` / ``approx_anomaly_start_time`` /
    ``past_values`` — all null when ``anomaly_grade`` is 0, matching
    the mapping's presence contract (raw attribution null at grade ≤ 0,
    ``ModelUtil.java:133-136``; approx start only when relativeIndex
    < 0, ``AnomalyResult.java:489-491``)."""
    graded = F.col("anomaly_grade") > 0
    anomalous = graded & F.col("_attr").isNotNull()
    result = result.withColumn(
        "relevant_attribution",
        F.when(anomalous, F.array(*[
            F.struct(F.lit(n).alias("feature_id"),
                     F.round(F.element_at("_attr", j + 1), 6)
                     .alias("data"))
            for j, n in enumerate(feats)])))
    # expected values come from the model on every scored row — gate
    # on the grade alone
    result = result.withColumn(
        "expected_values",
        F.when(graded & F.col("_exp").isNotNull(), F.array(F.struct(
            F.lit(1.0).alias("likelihood"),
            F.array(*[
                F.struct(F.lit(n).alias("feature_id"),
                         F.element_at("_exp", j + 1).alias("data"))
                for j, n in enumerate(feats)]).alias("value_list")))))
    result = result.withColumn(
        "relative_index", F.when(anomalous, F.col("_rel")))
    result = result.withColumn(
        "approx_anomaly_start_time",
        F.when(anomalous & (F.col("_rel") < 0),
               F.timestamp_millis(
                   F.unix_millis(F.col("data_start_time")
                                 .cast("timestamp"))
                   + F.col("_rel").cast("long") * interval_ms)))
    return result.withColumn(
        "past_values",
        F.when(anomalous & (F.col("_rel") < 0)
               & F.col("_past").isNotNull(),
               F.array(*[
                   F.struct(F.lit(n).alias("feature_id"),
                            F.element_at("_past", j + 1).alias("data"))
                   for j, n in enumerate(feats)])))


RING_COLS = ["relevant_attribution", "expected_values", "relative_index",
             "approx_anomaly_start_time", "past_values"]


def _check_attr_threshold(alert_threshold, det: Detector) -> None:
    """The model attributes points past ITS alert threshold; the grade
    lifts off at ``det.anomaly_threshold``.  If the model's is higher,
    rows the detector reports anomalous would carry null attribution —
    reject the inconsistent wiring instead of silently violating the
    "present iff grade > 0" contract (the reference derives both from
    the same thresholder so they can never diverge)."""
    if alert_threshold is not None and alert_threshold > det.anomaly_threshold:
        raise ValueError(
            f"model alert_threshold ({alert_threshold}) > detector "
            f"anomaly_threshold ({det.anomaly_threshold}): anomalous "
            f"rows would lack attribution — pass "
            f"alert_threshold={det.anomaly_threshold} to the model")


def _rule_suppressed(det: Detector, feats: list[str]) -> F.Column:
    """Compile ``det.suppression_rules`` to a boolean Column over the
    per-feature actual (`<f>`) and expected (`_exp_<f>`) columns.

    Reference semantics (the plugin's Config "rules", issued by e.g.
    AbstractRuleTestCase.java:99-108): a rule with action
    ``ignore_anomaly`` suppresses the anomaly when ALL its conditions
    hold; threshold types compare the actual-vs-expected margin
    (difference) or ratio against ``value`` with ``lte``/``gte``."""
    any_rule = F.lit(False)
    for rule in det.suppression_rules:
        if rule.get("action") != "ignore_anomaly":
            raise ValueError(f"unsupported rule action {rule.get('action')!r}")
        all_conds = F.lit(True)
        for cond in rule["conditions"]:
            f = cond["feature_name"]
            if f not in feats:
                raise ValueError(f"rule names unknown feature {f!r}")
            a, e = F.col(f).cast("double"), F.col(f"_exp_{f}")
            tt = cond["threshold_type"]
            if tt == "actual_over_expected_margin":
                metric = a - e
            elif tt == "expected_over_actual_margin":
                metric = e - a
            elif tt == "actual_over_expected_ratio":
                metric = (a - e) / F.greatest(F.abs(e), F.lit(1e-12))
            elif tt == "expected_over_actual_ratio":
                metric = (e - a) / F.greatest(F.abs(e), F.lit(1e-12))
            else:
                raise ValueError(f"unsupported threshold_type {tt!r}")
            op = cond.get("operator", "lte")
            if op == "lte":
                c = metric <= F.lit(float(cond["value"]))
            elif op == "gte":
                c = metric >= F.lit(float(cond["value"]))
            else:
                raise ValueError(f"unsupported rule operator {op!r}")
            all_conds = all_conds & F.coalesce(c, F.lit(False))
        any_rule = any_rule | all_conds
    return any_rule


def _state_path(state_dir: str, detector_id: str) -> str:
    return os.path.join(state_dir, detector_id)


def _swap_in(tmp: str, spath: str) -> None:
    """Replace dir ``spath`` with the finished dir ``tmp`` (the crash
    window is two renames, and the new data survives either way)."""
    trash = spath + ".__old__"
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.exists(spath):
        shutil.move(spath, trash)
    shutil.move(tmp, spath)
    shutil.rmtree(trash, ignore_errors=True)


def _swap_state_dir(frame: DataFrame, spath: str,
                    field_names: list[str]) -> None:
    """Atomic-ish state rewrite: write ``frame[field_names]`` to a tmp
    dir, then swap it in (:func:`_swap_in`)."""
    tmp = spath + ".__tmp__"
    frame.select(*field_names).write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, spath)


def _check_imputation(det: Detector, realtime: bool) -> None:
    """Reject an imputation setting the detection path cannot honor."""
    if realtime and det.imputation_method == "linear":
        raise NotImplementedError(
            "linear imputation interpolates toward the NEXT sample, "
            "which a single realtime interval cannot observe — use "
            "zero/fixed_values/previous here, or preview/"
            "run_historical for linear series")
    if det.imputation_method == "fixed_values":
        missing = [f for f in det.feature_specs
                   if f not in (det.imputation_values or {})]
        if missing:
            raise ValueError(
                f"fixed_values imputation needs a value per feature; "
                f"missing {missing}")


def _closed_interval(det: Detector, now_ms: int) -> tuple[int, int]:
    """``[start, end)`` of the latest interval closed at ``now -
    window_delay``."""
    end = ((now_ms - det.window_delay_ms) // det.interval_ms) \
        * det.interval_ms
    return end - det.interval_ms, end


def _range_query(det: Detector, lo: int, hi: int) -> dict:
    """The detector's filter query restricted to ``[lo, hi)``."""
    rng = {"range": {det.time_field: {"gte": lo, "lt": hi}}}
    return ({"bool": {"filter": [rng, det.filter_query]}}
            if det.filter_query else rng)


def _interval_frame(src: DataFrame, det: Detector, lo: int | None = None,
                    hi: int | None = None) -> DataFrame:
    """Feature rows per (entity, bucket) of the filtered source over
    ``[lo, hi)`` (the whole source when ``lo`` is None).  A
    single-stream detector gets the constant group column ``_g``, so
    every path groups by ``category_fields or ["_g"]``."""
    q = det.filter_query if lo is None else _range_query(det, lo, hi)
    fm = feature_matrix(src, det.time_field, det.interval_ms,
                        det.feature_specs,
                        entity_cols=tuple(det.category_fields),
                        filter_cond=compile_filter(src, q) if q else None)
    return fm if det.category_fields else fm.withColumn("_g", F.lit("_"))


def _bucket_ms() -> F.Column:
    """``bucket_start`` as epoch milliseconds."""
    return F.unix_millis(F.col("bucket_start").cast("timestamp"))


def _melt(frame: DataFrame, feats: list[str], *cols) -> DataFrame:
    """One row per (``cols``, feature): ``_feat`` names the feature and
    ``_v`` holds its value as a double."""
    pairs = ", ".join(f"'{n}', cast(`{n}` as double)" for n in feats)
    return frame.select(
        *cols, F.expr(f"stack({len(feats)}, {pairs})").alias("_feat", "_v"))


def _complete(feats: list[str]) -> F.Column:
    """Every feature aggregated to a value: the joint model needs the
    whole vector."""
    return functools.reduce(operator.and_,
                            [F.col(n).isNotNull() for n in feats])


def _expected_cols(det: Detector, out: DataFrame,
                   feats: list[str]) -> DataFrame:
    """The rule margins' ``_exp_<f>`` columns from a joint model's
    expected vector ``_exp`` (only when the detector has rules)."""
    if det.suppression_rules:
        for j, n in enumerate(feats):
            out = out.withColumn(f"_exp_{n}", F.element_at("_exp", j + 1))
    return out


def _join_scores(scored: DataFrame, keys: list[str], feats: list[str],
                 det: Detector, onto: DataFrame | None = None,
                 cnt_col: str | None = None) -> DataFrame:
    """Pivot per-feature score rows (one per ``keys`` + ``_feat``) to
    one row per ``keys`` with ``_z_<f>``, plus ``_exp_<f>`` (the model's
    expected value) when the detector has rules, and join them onto the
    ``onto`` feature rows.  With no ``onto`` the feature values come
    from the score rows themselves (``_vu`` → ``<f>``, ``_imp`` →
    ``_imp_<f>``): an imputed entity has no feature row this interval.
    ``cnt_col`` adds ``_cnt``, its min across features — the preview
    definition of scored history (a feature that missed an interval
    holds the entity's count back)."""
    aggs = {"z": "_z"}
    if det.suppression_rules:
        aggs["exp"] = "_exp"
    if onto is None:
        aggs.update(v="_vu", imp="_imp")
    names = {"z": "_z_{}", "exp": "_exp_{}", "v": "{}", "imp": "_imp_{}"}
    wide = (scored.groupBy(*keys).pivot("_feat", feats)
            .agg(*[F.first(c).alias(a) for a, c in aggs.items()]))
    for n in feats:
        for a in aggs:
            wide = wide.withColumnRenamed(
                f"{n}_{a}" if len(aggs) > 1 else n, names[a].format(n))
    out = wide if onto is None else onto.join(wide, keys)
    if cnt_col is not None:
        out = out.join(scored.groupBy(*keys)
                       .agg(F.min(cnt_col).alias("_cnt")), keys)
    return out


def _result_rows(det: Detector, out: DataFrame, feats: list[str],
                 z_cols: list[str], imputed: list[F.Column],
                 ring: bool = False) -> DataFrame:
    """Anomaly-result rows from scored feature rows.

    ``out`` holds the group columns, ``bucket_start``, the feature
    values, the ``z_cols`` scores (a row is kept only if every one is
    present; the score is the largest |z|), ``_cnt`` (scored history,
    for the confidence ramp), ``_exp_<f>`` when the detector has rules,
    and the :func:`_attribution_ring` inputs when ``ring``.
    ``imputed`` holds one boolean Column per feature for the
    ``feature_imputed`` field, emitted when the detector imputes."""
    for c in z_cols:
        out = out.filter(F.col(c).isNotNull())
    score = F.greatest(*[F.abs(F.col(c)) for c in z_cols]) \
        if len(z_cols) > 1 else F.abs(F.col(z_cols[0]))
    grade = F.round(_grade(score, det.anomaly_threshold), 6)
    if det.suppression_rules:
        # ignore_anomaly: a matching rule forces the grade to 0 (the
        # anomaly is reported as non-anomalous, like the reference)
        grade = F.when(_rule_suppressed(det, feats), F.lit(0.0)) \
            .otherwise(grade)
    conf = F.least(F.lit(1.0),
                   F.col("_cnt") / F.lit(float(det.confidence_ramp)))
    result = (out
              .withColumn("anomaly_score", F.round(score, 6))
              .withColumn("anomaly_grade", grade)
              .withColumn("confidence", F.round(conf, 6))
              .withColumn("detector_id", F.lit(det.detector_id))
              .withColumn("data_start_time", F.col("bucket_start"))
              .withColumn("data_end_time", F.timestamp_millis(
                  _bucket_ms() + det.interval_ms)))
    ent = list(det.category_fields)
    if ent:
        result = with_entity(result, {c: c for c in ent})
    else:
        result = result.withColumn(
            "entity",
            F.array().cast("array<struct<name:string,value:string>>"))
    extra_cols = []
    if ring:
        result = _attribution_ring(result, feats, det.interval_ms)
        extra_cols = list(RING_COLS)
    imp_cols = []
    if det.imputation_method:
        # anomaly-results.json nested {feature_id, imputed}
        # (ModelUtil.calculateImputedFeatures)
        result = result.withColumn("feature_imputed", F.array(*[
            F.struct(F.lit(n).alias("feature_id"),
                     F.coalesce(c, F.lit(False)).alias("imputed"))
            for n, c in zip(feats, imputed)]))
        imp_cols = ["feature_imputed"]
    return result.select(
        "detector_id", "entity", "data_start_time", "data_end_time",
        *feats, "anomaly_score", "anomaly_grade", "confidence",
        *extra_cols, *ent, "bucket_start", *imp_cols)


def _admit(spark: SparkSession, det: Detector, state_dir: str,
           now_ms: int, cache_policy, state: DataFrame, cur: DataFrame,
           gcols: list[str]) -> tuple[DataFrame, DataFrame]:
    """HC entity-cache admission for a tick (:func:`~anomaly_detection_
    spark.caching.admit_entities`): evicted models drop from ``state``
    (cold-start on re-admission); cold and doorkeeper-skipped entities
    drop from ``cur`` and contribute nothing this interval."""
    if cache_policy is None:
        return state, cur
    from .caching import admit_entities

    hot, _cold, evicted = admit_entities(
        spark, state_dir, det.detector_id, cur.select(*gcols).distinct(),
        state.select(*gcols).distinct(), cache_policy, now_ms,
        det.interval_ms)
    return (state.join(evicted, gcols, "left_anti"),
            cur.join(hot, gcols, "left_semi"))


def _with_presence(joined: DataFrame, present: DataFrame,
                   gcols: list[str], impute: str | None) -> DataFrame:
    """Flag ``_ent_present`` on the tick's state ⋈ interval rows: the
    entity has a bucket row in ``present`` this interval.  Imputation
    fills only entities with NO bucket row (preview's imputation fills
    MISSING buckets; a present bucket whose feature aggregated to null
    stays null there too); without imputation the flag is null."""
    if not impute:
        return joined.withColumn("_ent_present",
                                 F.lit(None).cast("boolean"))
    return joined.join(
        present.select(*gcols).distinct()
        .withColumn("_ent_present", F.lit(True)),
        gcols, "left_outer")


def _training_frame(src: DataFrame, det: Detector, new_ent: DataFrame,
                    start: int, cold_start_history: int) -> DataFrame:
    """Cold-start training rows: the ``max(32, cold_start_history)``
    intervals before ``start`` (selectNumberOfSamples: at least
    numMinSamples), read only for the entities in ``new_ent`` — a
    broadcast semi-join before aggregation (at steady state new
    entities per interval are few)."""
    n_train = max(32, int(cold_start_history))
    ent = list(det.category_fields)
    src_new = (src.join(F.broadcast(new_ent), ent, "left_semi")
               if ent else src)
    return _interval_frame(src_new, det,
                           start - n_train * det.interval_ms, start)


def preview(spark: SparkSession, det: Detector,
            scorer=None) -> DataFrame:
    """Historical/preview analysis: score every closed interval
    (PreviewAnomalyDetectorTransportAction analog).  Returns anomaly-
    result-shaped rows; intervals inside the model's warm-up window
    (``shingle_size`` points) are omitted, like the reference's
    cold-start."""
    # detection scores a point against history that EXCLUDES it
    scorer = scorer or zscore_scorer(det.shingle_size,
                                     include_current=False)
    feats = sorted(det.feature_specs)
    # single-stream detectors score as one constant entity group
    gcols = list(det.category_fields) or ["_g"]
    base = _interval_frame(load_table(spark, det.indices), det)
    if det.imputation_method:
        # densify + fill missing buckets per the configured
        # ImputationMethod before scoring (the reference imputes the
        # feature series ahead of the model, FeatureManager.java:459-466)
        if det.imputation_method == "linear":
            base = impute_linear(base, det.interval_ms, feats,
                                 entity_cols=tuple(gcols))
        else:
            base = impute_fill(base, det.interval_ms, feats,
                               entity_cols=tuple(gcols),
                               method=det.imputation_method,
                               fixed_values=det.imputation_values)
        base = base.withColumn("doc_count",
                               F.coalesce("doc_count", F.lit(0)))
    # a bucket the imputation step materialized carries doc_count 0 —
    # imputation fills whole missing buckets, so the flag is uniform
    # across features (the reference flags per-NaN coordinate)
    imputed = [F.col("doc_count") == 0] * len(feats)
    conf_w = Window.partitionBy(*gcols).orderBy("bucket_start")

    if getattr(scorer, "multivariate", False):
        # JOINT scoring (the reference's model shape): one model per
        # entity over the feature VECTOR — the scorer sees the
        # (n_buckets × n_features) matrix, returns one z per interval
        # plus per-feature expected values.  Buckets missing any
        # feature are skipped (the joint model needs the full vector;
        # configure imputation for gappy entities).
        basej = base.filter(_complete(feats))
        # a joint scorer may also attribute each anomaly across the
        # feature vector (returns_attribution — e.g. rcf_scorer_joint's
        # DiVector split): surfaced as the reference's
        # relevant_attribution / expected_value result fields
        # (AnomalyResult.java:66-67,171; null when the point isn't
        # anomalous, ModelUtil.normalizeAttribution's null contract)
        ret_attr = getattr(scorer, "returns_attribution", False)
        if ret_attr:
            _check_attr_threshold(
                getattr(scorer, "alert_threshold", None), det)
        out_schema = T.StructType(basej.schema.fields + [
            T.StructField("_z", T.DoubleType()),
            T.StructField("_exp", T.ArrayType(T.DoubleType())),
            *(_JointKind.ring_fields if ret_attr else [])])

        def fnj(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("bucket_start").reset_index(drop=True)
            z, exps, *ring = scorer(pdf[feats].to_numpy(dtype=np.float64))
            pdf["_z"], pdf["_exp"] = z, list(exps)
            if ret_attr:
                # the scorer's NaN rows are the ring's null cells, in
                # the joint tick's shape
                attrs, rel, past = ring
                pdf["_attr"] = [None if np.isnan(a[0]) else list(a)
                                for a in attrs]
                pdf["_rel"] = pd.array([None if np.isnan(r) else int(r)
                                        for r in rel], dtype="Int32")
                pdf["_past"] = [None if np.isnan(p[0]) else list(p)
                                for p in past]
            out = pdf[~pdf["_z"].isna()]
            return out[[f.name for f in out_schema.fields]]

        out = (basej.groupBy(*gcols).applyInPandas(fnj, schema=out_schema)
               .withColumn("_cnt", F.count("_z").over(conf_w)))
        return _result_rows(det, _expected_cols(det, out, feats), feats,
                            ["_z"], imputed, ring=ret_attr)
    # Single-pass multi-feature scoring: melt features to rows, run ONE
    # applyInPandas over (entity, feature), pivot the scores back.  An
    # F-feature detector costs one FlatMapGroupsInPandas + one pivot
    # shuffle instead of F stateful passes + F joins.
    melted = _melt(base, feats, *gcols, "bucket_start")
    # a null feature value (e.g. avg over an all-null bucket) is skipped
    # — the window holds the last k SCORED values, exactly like the
    # stateful paths, which never ingest a null
    melted = melted.filter(F.col("_v").isNotNull())
    if det.suppression_rules and not getattr(scorer, "returns_expected",
                                             False):
        # the model's expected value for rule margins: scorers that
        # expose their own baseline (returns_expected) surface it
        # through the seam as ``_exp``; otherwise it is the z-score
        # stand-in's trailing-window mean (prior shingle_size points)
        wexp = (Window.partitionBy(*gcols, "_feat").orderBy("bucket_start")
                .rowsBetween(-det.shingle_size, -1))
        melted = melted.withColumn("_exp", F.avg("_v").over(wexp))
    scored = score_entities(melted, "_v", scorer=scorer,
                            entity_cols=(*gcols, "_feat"), score_col="_z")
    out = _join_scores(scored, [*gcols, "bucket_start"], feats, det,
                       onto=base)
    # Confidence ramps with scored history per entity (the reference
    # reports <1 confidence until the model is warm).  The count is the
    # MIN across features of each feature's cumulative scored intervals
    # — computed BEFORE the all-features filter so it agrees exactly
    # with the per-feature scored_cnt state run_once_stateful and
    # run_historical carry (min across features there too).
    cum = [F.count(F.col(f"_z_{n}")).over(conf_w) for n in feats]
    out = out.withColumn("_cnt", F.least(*cum) if len(cum) > 1 else cum[0])
    return _result_rows(det, out, feats, [f"_z_{n}" for n in feats],
                        imputed)


def run_once(spark: SparkSession, det: Detector, now_ms: int,
             history_intervals: int = 64, scorer=None) -> DataFrame:
    """One realtime detection interval (ResultProcessor analog): score
    the latest closed interval ending at ``now - window_delay``, using
    the trailing ``history_intervals`` for context."""
    start, end = _closed_interval(det, now_ms)
    scoped = replace(det, filter_query=_range_query(
        det, end - history_intervals * det.interval_ms, end))
    res = preview(spark, scoped, scorer=scorer)
    return res.filter(_bucket_ms() == start)


# --- model-state checkpoint for realtime detection --------------------------
#
# The reference persists per-(detector, entity) model/shingle state
# between intervals (timeseries/ml/CheckpointDao.java; the
# anomaly-checkpoint.json mapping is the one dynamic:true index) so a
# realtime pass reads ONE interval of raw data plus its checkpoint.
# The Spark analog: a parquet state table per detector holding, per
# (entity, feature), the trailing shingle window and the count of
# scored intervals.  run_once_stateful scans only [start, end) of the
# source, scores the new point against the checkpointed window, and
# rewrites the state (tmp-dir + swap, same crash posture as
# delete_by_query; on a real cluster this is an Iceberg MERGE INTO).


class _TickKind:
    """What one model kind brings to :func:`_tick`: ``keys`` key a
    state row, :meth:`shape` gives a frame's value column ``_v``,
    ``state_fields`` follow the keys in the state table (``last_ms``
    and the model's own row, which :meth:`model` rebuilds and the
    model's ``state()`` gives back), ``ring_fields`` follow ``_exp`` in
    the kernel's output, :meth:`fixed` gives each row's
    ``fixed_values`` fill, :meth:`training` turns a cold-start series
    into steps and :meth:`tail` shapes the scored rows."""

    suffix = ""                  # of the state dir name
    ring_fields: list = []

    def __init__(self, det: Detector, factory):
        self.det = det
        self.factory = factory
        self.feats = sorted(det.feature_specs)
        self.gcols = self.keys = list(det.category_fields) or ["_g"]
        self.fixed_vals = det.imputation_values or {}

    def training(self, times, values):
        return values


class _ScalarKind(_TickKind):
    """One :class:`ScalarModel` per (entity, feature), fed by the melt;
    the replay payload is ``(last_z, last_exp)``, and the result tail
    pivots the per-feature scores back (:func:`_join_scores`)."""

    # run_historical's state schema too: it publishes last_ms and the
    # replay columns for its last pieces
    state_fields = [T.StructField("vals", T.ArrayType(T.DoubleType())),
                    T.StructField("scored_cnt", T.LongType()),
                    T.StructField("model", T.BinaryType()),
                    T.StructField("last_v", T.DoubleType()),
                    T.StructField("last_ms", T.LongType()),
                    T.StructField("last_z", T.DoubleType()),
                    T.StructField("last_exp", T.DoubleType())]

    def __init__(self, det: Detector, factory, eps: float):
        super().__init__(det, factory)
        self.eps = eps
        self.keys = [*self.gcols, "_feat"]

    def shape(self, frame: DataFrame, *cols) -> DataFrame:
        return _melt(frame, self.feats, *cols)

    def model(self, **row) -> ScalarModel:
        return ScalarModel(self.det.shingle_size, self.eps, self.factory,
                           **row)

    def fixed(self, pdf) -> list:
        return [self.fixed_vals.get(f) for f in pdf["_feat"]]

    def training(self, times, values):
        """Interior gaps linearly interpolated between present
        neighboring samples (``ModelColdStart.java:346``)."""
        if len(times) < 2:
            return values
        times = np.asarray(times, dtype=np.float64)
        grid = np.arange(times[0], times[-1] + self.det.interval_ms / 2,
                         self.det.interval_ms)
        return np.interp(grid, times, np.asarray(values, dtype=np.float64))

    def tail(self, scored: DataFrame, base: DataFrame):
        # an imputed entity has NO base row this interval: its feature
        # values and _imp flags come from the update rows
        out = _join_scores(scored, self.gcols, self.feats, self.det,
                           onto=None if self.det.imputation_method
                           else base, cnt_col="scored_cnt")
        return (out, [f"_z_{n}" for n in self.feats],
                [F.col(f"_imp_{n}") for n in self.feats], False)


class _JointKind(_TickKind):
    """One :class:`JointModel` per entity, fed by the complete-feature
    vector (cold start too, with no interpolation: the model skips an
    incomplete bucket live); the replay payload is the pickled
    ``last_out``, and the result tail carries the attribution ring."""

    suffix = "__joint"
    state_fields = [T.StructField("scored_cnt", T.LongType()),
                    T.StructField("last_ms", T.LongType()),
                    T.StructField("model", T.BinaryType()),
                    T.StructField("last_out", T.BinaryType()),
                    T.StructField("last_vec", T.ArrayType(T.DoubleType()))]
    ring_fields = [T.StructField("_attr", T.ArrayType(T.DoubleType())),
                   T.StructField("_rel", T.IntegerType()),
                   T.StructField("_past", T.ArrayType(T.DoubleType()))]

    def shape(self, frame: DataFrame, *cols) -> DataFrame:
        return frame.filter(_complete(self.feats)).select(
            *cols, F.array(*[F.col(n).cast("double")
                             for n in self.feats]).alias("_v"))

    def model(self, **row) -> JointModel:
        return JointModel(self.factory, len(self.feats), **row)

    def fixed(self, pdf) -> list:
        return [[self.fixed_vals.get(f) for f in self.feats]] * len(pdf)

    def tail(self, scored: DataFrame, base: DataFrame):
        scored = scored.withColumnRenamed("scored_cnt", "_cnt")
        ring_in = ["_cnt", "_z", "_exp", "_attr", "_rel", "_past"]
        if self.det.imputation_method:
            # imputed entities have no base row — feature values come
            # from the vector the model actually ingested
            out = scored.select(*self.gcols, *ring_in, "_vu", "_imp")
            for j, n in enumerate(self.feats):
                out = out.withColumn(n, F.element_at("_vu", j + 1))
        else:
            out = base.join(scored.select(*self.gcols, *ring_in),
                            self.gcols)
        return (_expected_cols(self.det, out, self.feats), ["_z"],
                [F.col("_imp")] * len(self.feats), True)


def _tick(spark: SparkSession, det: Detector, now_ms: int, state_dir: str,
          kind: _TickKind, cache_policy, cold_start_history) -> DataFrame:
    """One realtime interval over the checkpointed models of ``kind``
    (both public ticks): read the interval and the state table, admit
    entities, run one row kernel over state ⋈ interval, rewrite the
    state, then shape the scored rows.  Per state row the kernel fills
    a missing value, skips (no value, or an out-of-order call),
    replays an already-ingested interval, cold-starts a new key and
    steps the model."""
    _check_imputation(det, realtime=True)
    impute = det.imputation_method
    start, end = _closed_interval(det, now_ms)
    gcols, keys = kind.gcols, kind.keys

    src = load_table(spark, det.indices)
    base = _interval_frame(src, det, start, end)
    cur = kind.shape(base, *gcols)
    vtype = cur.schema["_v"].dataType      # a double, or the joint vector
    spath = _state_path(state_dir, det.detector_id + kind.suffix)
    state_fields = ([f for f in cur.schema.fields if f.name != "_v"]
                    + kind.state_fields)
    # an older state table reads the columns it lacks as null
    state = read_table(spark, spath, T.StructType(state_fields))
    state, cur = _admit(spark, det, state_dir, now_ms, cache_policy,
                        state, cur, gcols)
    # entity presence = a bucket ROW exists (before the joint kind's
    # complete-vector filter): a partial bucket is present but skipped,
    # like preview's joint path over an imputed-fill grid
    joined = _with_presence(state.join(cur, keys, "full_outer"), base,
                            gcols, impute)
    if cold_start_history:
        new_keys = (cur.select(*keys).distinct()
                    .join(state.select(*keys).distinct(), keys,
                          "left_anti"))
        bh = _training_frame(src, det, new_keys.select(*gcols).distinct(),
                             start, cold_start_history)
        # the bucket times order the series for both kinds; only the
        # scalar kind's interpolation reads them back (_cs_ms)
        cs = (kind.shape(bh, *gcols, _bucket_ms().alias("_bms"))
              .filter(F.col("_v").isNotNull())
              .groupBy(*keys)
              .agg(F.array_sort(F.collect_list(F.struct("_bms", "_v")))
                   .alias("_p"))
              .select(*keys, F.col("_p._bms").alias("_cs_ms"),
                      F.col("_p._v").alias("_cs_v"))
              .join(new_keys, keys, "left_semi"))
        joined = joined.join(cs, keys, "left_outer")
    else:
        joined = (joined
                  .withColumn("_cs_ms", F.lit(None).cast("array<long>"))
                  .withColumn("_cs_v",
                              F.lit(None).cast(T.ArrayType(vtype))))
    upd_schema = T.StructType(
        state_fields + [T.StructField("_z", T.DoubleType()),
                        T.StructField("_exp", vtype), *kind.ring_fields,
                        T.StructField("_vu", vtype),
                        T.StructField("_imp", T.BooleanType())])

    # the model's own state columns: all but the tick's last_ms
    model_cols = [f.name for f in kind.state_fields if f.name != "last_ms"]

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            lm = pdf["last_ms"].to_numpy(dtype=np.float64)  # NaN = never
            absent = ~(pdf["_ent_present"] == True) \
                .to_numpy(dtype=bool)      # noqa: E712 (None-safe)
            models = [kind.model(**dict(zip(model_cols, row)))
                      for row in zip(*(pdf[c] for c in model_cols))]
            fixed = kind.fixed(pdf)
            values = list(pdf["_v"])
            res: list = [None] * n
            imputed = np.zeros(n, dtype=bool)
            for i, (m, cs_ms, cs_v) in enumerate(zip(
                    models, pdf["_cs_ms"], pdf["_cs_v"])):
                if (impute and not has_value(values[i]) and absent[i]
                        and not np.isnan(lm[i])):
                    # synthesize the missing value BEFORE the replay /
                    # ingest checks so it flows through them exactly
                    # like an observed one — a replay recomputes the
                    # same value (constants, or the carried last one)
                    fv = m.fill(impute, fixed[i])
                    if fv is not None:
                        values[i], imputed[i] = fv, True
                # no value, or an interval older than last_ms (an
                # out-of-order call): no-op
                if not has_value(values[i]) or lm[i] > start:
                    continue
                if lm[i] == start:
                    # already-ingested interval → replay the stored
                    # outputs, no ingest
                    res[i] = m.replay()
                    continue
                if has_value(cs_v) and len(cs_v):
                    # historical cold start: a key with no state row
                    # steps through its trailing series first, so its
                    # model equals a sequential run's
                    for x in kind.training(cs_ms, cs_v):
                        m.step(x)
                res[i], lm[i] = m.step(values[i]), start
            out = pdf[keys].copy()
            out["last_ms"] = pd.Series(lm).astype("Int64")
            out["_z"] = [np.nan if r is None else r[0] for r in res]
            out["_exp"] = [None if r is None else r[1] for r in res]
            for j, f in enumerate(kind.ring_fields):
                out[f.name] = pd.Series(
                    [None if r is None else r[2][j] for r in res],
                    dtype=object)
            out["_vu"] = values
            out["_imp"] = imputed
            states = [m.state() for m in models]
            for c in model_cols:
                out[c] = [st[c] for st in states]
            yield out[[f.name for f in upd_schema.fields]]

    upd = joined.mapInPandas(kernel, schema=upd_schema)
    # truncate lineage before swapping the state dir the plan reads from
    upd = upd.localCheckpoint()
    _swap_state_dir(upd, spath, [f.name for f in state_fields])
    out, z_cols, imputed, ring = kind.tail(
        upd.filter(F.col("_z").isNotNull()), base)
    out = out.withColumn("bucket_start", F.timestamp_millis(F.lit(start)))
    return _result_rows(det, out, kind.feats, z_cols, imputed, ring=ring)


def run_once_stateful(spark: SparkSession, det: Detector, now_ms: int,
                      state_dir: str, eps: float = 1e-9,
                      scorer_factory=None, cache_policy=None,
                      cold_start_history: int | None = None) -> DataFrame:
    """One realtime interval using checkpointed per-(entity, feature)
    state: reads only the new interval's raw events, and produces rows
    identical to :func:`preview`'s at the same bucket (same trailing-z
    model, warm-up, confidence ramp and ``suppression_rules`` margins)
    when called once per interval in order.

    Idempotent per interval: the state rows carry the last-ingested
    bucket (``last_ms``), its score (``last_z``) and expected value
    (``last_exp``), so a retry of the same interval (scheduler
    re-fire, downstream write failure after the state swap) REPLAYS
    them without ingesting the value again.  A call for an interval
    older than ``last_ms`` is a no-op (no mutation, no rows).

    ``scorer_factory`` (:func:`run_historical`'s protocol — e.g.
    :func:`~anomaly_detection_spark.features.rcf_stream_factory`)
    swaps the trailing-z window for a streaming model whose serialized
    bytes ride the state table's ``model`` column, restored and
    re-serialized each interval — the reference's realtime checkpoint
    round-trip (``CheckpointDao``).

    ``cache_policy`` (a :class:`~anomaly_detection_spark.caching.
    CachePolicy`) bounds how many entities hold state rows — the
    reference's HC PriorityCache (doorkeeper, decayed-frequency
    priority, dedicated/shared budget with strict-greater
    replacement).  Entities the cache defers produce no result and no
    state mutation this interval; evicted entities lose their model
    rows and cold-start on re-admission.  With no policy every entity
    is hosted.

    ``imputation_method`` zero/fixed_values/previous imputes the
    CURRENT interval for entities that hold state but produced no
    bucket row (the reference's imputer fills the model's missing data
    point, ``ImputationMethod.java``); rows carry ``feature_imputed``
    like preview's, and sequential calls over a gappy span equal
    preview-with-imputation inside each entity's observed extent.
    ``previous`` carries the last ingested value (``last_v``);
    ``linear`` raises, since it interpolates toward the NEXT sample.

    ``cold_start_history`` enables the reference's historical cold
    start (``ModelColdStart.java:340-418``, ``ADColdStart.java:192``):
    a key with NO state row first trains on up to ``max(32,
    cold_start_history)`` trailing intervals ending at the scored
    bucket's start, interior gaps linearly interpolated, so a detector
    started over existing data initializes in ONE call.  Training runs
    the live recurrence, so the state equals a sequential run's; the
    trailing scan is restricted to new entities by a broadcast
    semi-join.
    """
    return _tick(spark, det, now_ms, state_dir,
                 _ScalarKind(det, scorer_factory, eps), cache_policy,
                 cold_start_history)


def run_once_stateful_joint(spark: SparkSession, det: Detector,
                            now_ms: int, state_dir: str,
                            stream_factory=None,
                            scorer_factory=None,
                            cache_policy=None,
                            cold_start_history: int | None = None) -> DataFrame:
    """One realtime interval with ONE checkpointed JOINT multivariate
    model per entity — the reference's actual model shape (one
    ThresholdedRandomCutForest over the feature vector per entity,
    ``ADModelManager``), where :func:`run_once_stateful` checkpoints a
    scalar model per (entity, feature).

    ``stream_factory`` builds/restores a multivariate stream (e.g.
    :func:`~anomaly_detection_spark.features.rcf_stream_factory` with
    ``n_features=len(feature_specs)``): ``update(vector) -> (z,
    expected_vector)`` plus the attribution state
    (``last_attribution``/``last_relative_index``/``last_past_values``).
    Result rows carry the full anomaly-results ring —
    ``relevant_attribution``, ``expected_values``, ``relative_index``,
    ``approx_anomaly_start_time``, ``past_values`` — for anomalous
    intervals (null at grade 0, like preview's joint path).

    Replay, out-of-order calls, ``cache_policy`` and
    ``cold_start_history`` behave as in :func:`run_once_stateful`,
    per entity instead of per (entity, feature): a retried interval
    replays the pickled outputs in ``last_out``, and the cache table
    is shared per detector across both state layouts, like the
    reference's one EntityCache per detector.  Buckets missing any
    feature are skipped, like preview's joint path, so cold start
    trains on the trailing complete-feature buckets with no
    interpolation.  ``imputation_method`` zero/fixed_values/previous
    imputes the WHOLE vector for stateful entities with no bucket row
    this interval (``previous`` carries the last ingested vector via
    the ``last_vec`` state column; partial buckets stay skipped;
    ``linear`` raises).  State lives under ``<detector_id>__joint`` so
    the two stateful modes never read each other's schema.
    """
    # scorer_factory is the JobStore.tick runner-seam spelling of the
    # same argument (tick calls run(..., scorer_factory=...)) — accept
    # either name so the joint path schedules like the scalar one
    if stream_factory is None:
        stream_factory = scorer_factory
    if stream_factory is None:
        raise ValueError("run_once_stateful_joint needs a stream/"
                         "scorer factory (e.g. rcf_stream_factory("
                         "n_features=F))")
    _check_attr_threshold(
        getattr(stream_factory, "alert_threshold", None), det)
    return _tick(spark, det, now_ms, state_dir,
                 _JointKind(det, stream_factory), cache_policy,
                 cold_start_history)


#: the reference's checkpoint TTL (AnomalyDetectorSettings.java:213-218)
CHECKPOINT_TTL_MS = 7 * 24 * 3600 * 1000


def prune_state(spark: SparkSession, detector_id: str, state_dir: str,
                now_ms: int, ttl_ms: int = CHECKPOINT_TTL_MS) -> int:
    """Expire per-entity model checkpoints not updated within the TTL
    (the reference's checkpoint maintenance: a periodic delete of
    checkpoint docs whose last update is older than ``checkpoint_ttl``,
    default 7 days — ``AnomalyDetectorSettings.java:213-218``,
    ``ADCheckpointMaintainWorker``).

    Scale posture: under entity churn (the HC-detector norm — new
    session/user entities appear, old ones stop emitting), the state
    table otherwise grows monotonically with every entity EVER seen;
    at the 100 TB / million-entity target that's unbounded model bytes
    scanned by every interval's full-outer join.  Pruning keeps the
    state bounded by the ACTIVE entity count.  Expired entities that
    reappear later cold-start fresh, exactly like the reference after
    a checkpoint expiry.

    Both state layouts are pruned — the scalar per-(entity, feature)
    table under ``detector_id`` and the joint multivariate table under
    ``<detector_id>__joint`` (:func:`run_once_stateful_joint`).  Same
    tmp+swap crash posture as the state writes; returns the total
    number of rows pruned.  A retention pass is idempotent."""
    return _expire_state(spark, detector_id, state_dir, now_ms - ttl_ms)[1]


def _expire_state(spark: SparkSession, detector_id: str, state_dir: str,
                  cutoff: int) -> tuple[int, int]:
    """Drop the rows of both state layouts whose ``last_ms`` is older
    than ``cutoff``; returns ``(kept, pruned)`` row counts.  Rows that
    never ingested an interval (``last_ms`` null, or a table written
    without the column, like :func:`run_historical`'s) are KEPT: they
    carry no timestamp to age them by, and counting them as expiries
    would misreport the prune."""
    kept = pruned = 0
    for ident in (detector_id, f"{detector_id}__joint"):
        spath = _state_path(state_dir, ident)
        if not os.path.exists(spath):
            continue
        state = spark.read.parquet(spath)
        n_total = state.count()
        if "last_ms" not in state.columns:
            kept += n_total
            continue
        keep = state.filter(F.col("last_ms").isNull()
                            | (F.col("last_ms") >= cutoff))
        keep = keep.localCheckpoint()        # cut lineage before swap
        n_keep = keep.count()
        kept += n_keep
        if n_keep < n_total:
            _swap_state_dir(keep, spath, keep.columns)
            pruned += n_total - n_keep
    return kept, pruned


# --- historical (batch) analysis ---------------------------------------------
#
# The reference's historical analysis (ADBatchTaskRunner.java) walks a
# [start, end) range in bounded pieces (MAX_BATCH_TASK_PIECE_SIZE =
# 10_000 intervals per query, TimeSeriesSettings.java:99), carrying
# model state across pieces and checkpointing progress so an
# interrupted task resumes at the next piece.  The Spark analog below
# reuses the run_once_stateful state table, scores each piece's
# buckets SEQUENTIALLY per (entity, feature) inside one applyInPandas
# pass, appends piece results to a parquet results dir with an atomic
# done-marker per piece, and skips completed pieces on resume.


def run_historical(
    spark: SparkSession,
    det: Detector,
    start_ms: int,
    end_ms: int,
    state_dir: str,
    results_dir: str,
    piece_intervals: int = 128,
    eps: float = 1e-9,
    scorer_factory=None,
    on_piece=None,
    cancel_check=None,
) -> DataFrame:
    """Batch detection over ``[start_ms, end_ms)`` in pieces.

    Row-identical to :func:`preview` over the same span (same trailing-z
    model, warm-up and confidence ramp) while scanning each raw event
    exactly once; interruption loses at most one piece of work.
    Returns the accumulated results frame (all completed pieces).

    The piece is the atomic unit: piece ``p`` reads piece ``p-1``'s
    state SNAPSHOT (under ``results_dir``) and writes its own snapshot
    + results + done-marker; the live state dir (``state_dir``) is
    swapped only once, after every piece is done.  A crash anywhere
    inside a piece re-runs that piece from the previous snapshot — the
    state it ingests from can never have advanced past it.

    ``scorer_factory`` swaps the trailing-z model for a checkpointable
    streaming model (the reference's historical task likewise restores
    the entity's RCF checkpoint per piece, ``ADBatchTaskRunner.java``):
    a callable returning a fresh stream with ``update(v) -> (z,
    expected)`` and ``to_bytes()``, plus a ``restore(bytes)`` attribute
    — e.g. :func:`~anomaly_detection_spark.features.rcf_stream_factory`.
    The per-(entity, feature) model bytes ride in the state snapshot's
    ``model`` column.  ``det.suppression_rules`` are honored in both
    modes (margins against the model's expected value, like preview).

    ``imputation_method`` zero/fixed_values/previous fills each
    entity's missing buckets inside its observed extent — the extent
    is computed ONCE up front (one raw min/max agg, broadcast into
    every piece) because preview's dense grid stops at the entity's
    last bucket and a piece cannot know that locally; gaps spanning
    piece boundaries impute correctly (the ``previous`` carry rides
    the state snapshot's ``last_v``).  ``linear`` interpolates toward
    neighbors that may live in DIFFERENT pieces, so its fill table is
    computed ONCE up front instead (one extra whole-range feature
    aggregation through the same :func:`impute_linear` preview uses —
    fill values depend only on the raw series, never on model state)
    and each piece unions in its range-slice of fills; the table holds
    only the MISSING buckets, so it stays small relative to the data.
    Results carry ``feature_imputed`` for every method.

    Task-tracking hooks (both opt-in; see
    :mod:`anomaly_detection_spark.tasks`): ``cancel_check()`` is called
    before each piece — return a ``(reason, stopped_by)`` pair to abort
    with :class:`TaskCancelledError` (the reference checks its cancel
    flag exactly there, ``ADBatchTaskRunner.java:1377``); ``on_piece(p,
    n_pieces, snapshot_path)`` fires after piece ``p`` completes (or is
    skipped on resume) so a task store can record progress.
    """
    _check_imputation(det, realtime=False)
    impute = det.imputation_method
    fixed_vals = dict(det.imputation_values or {})
    k = det.shingle_size
    start_ms = (start_ms // det.interval_ms) * det.interval_ms
    end_ms = (end_ms // det.interval_ms) * det.interval_ms
    ent = list(det.category_fields)
    gcols = ent or ["_g"]
    feats = sorted(det.feature_specs)
    spath = _state_path(state_dir, det.detector_id)
    os.makedirs(results_dir, exist_ok=True)

    piece_ms = piece_intervals * det.interval_ms
    n_pieces = max(1, -(-(end_ms - start_ms) // piece_ms))

    src = load_table(spark, det.indices)
    ext = None
    fills = None
    if impute == "linear":
        # linear's fill values interpolate toward present neighbors
        # that may live in DIFFERENT pieces, but they depend only on
        # the raw feature series — never on model state — so the whole
        # fill table is computed ONCE up front through the exact
        # function preview uses (impute_linear: dense per-entity grid,
        # anchor semantics, edge clamps), then each piece unions in
        # its range-slice.  Only the MISSING buckets are kept, so the
        # table is small relative to the data; one extra whole-range
        # feature aggregation is the cost.
        # Memory profile: impute_linear's per-entity window functions
        # sort one entity's dense bucket series within a task, so peak
        # per-task memory is O(range/interval) rows per entity — for a
        # years-long span with few entities this spills before it OOMs
        # (window sort is spillable), but it does bypass the piece
        # bound the zero/previous paths enjoy.  A chunk-wise fill
        # (each gap only needs its two anchor neighbors, so pieces
        # extended one present bucket each side suffice) is the
        # escape hatch if that profile ever bites; not done while the
        # fill table stays preview-identical by construction here.
        lin = impute_linear(_interval_frame(src, det, start_ms, end_ms),
                            det.interval_ms, feats, entity_cols=tuple(gcols))
        fills = (_melt(lin.filter(F.col("is_filled")), feats, *gcols,
                       _bucket_ms().alias("bucket_ms"))
                 .localCheckpoint())
    elif impute:
        # per-entity bucket extent over the WHOLE range, computed once
        # up front: preview's dense grid spans each entity's extent, so
        # imputation must stop at the entity's last observed bucket —
        # a piece cannot know that locally.  One raw-event min/max agg
        # (no feature evaluation); output is one small row per entity,
        # broadcast into every piece.
        from .query.aggs import to_millis

        bms = (F.floor(to_millis(det.time_field) / det.interval_ms)
               * det.interval_ms)
        ev = src.filter(compile_filter(
            src, _range_query(det, start_ms, end_ms)))
        ev = (ev.select(*ent, bms.alias("_bms")) if ent
              else ev.select(F.lit("_").alias("_g"), bms.alias("_bms")))
        ext = (ev.groupBy(*gcols)
               .agg(F.min("_bms").alias("_elo"),
                    F.max("_bms").alias("_ehi"))).localCheckpoint()
    # group-col types from the source (gcols order preserved — the
    # UDF's output columns are matched positionally against the schema)
    gstruct = ([src.schema[c] for c in ent] if ent
               else [T.StructField("_g", T.StringType())])
    state_schema = T.StructType(
        gstruct + [T.StructField("_feat", T.StringType())]
        + _ScalarKind.state_fields)
    # a bucket row fills scored_cnt (the count after it) and the bucket
    # columns; the trailing row (bucket_ms null) fills the state
    out_schema = T.StructType(
        state_schema.fields
        + [T.StructField("bucket_ms", T.LongType()),
           T.StructField("_z", T.DoubleType()),
           T.StructField("_exp", T.DoubleType()),
           T.StructField("_vu", T.DoubleType()),
           T.StructField("_imp", T.BooleanType())])
    model_cols = [f.name for f in _ScalarKind.state_fields
                  if f.name != "last_ms"]
    blank = dict.fromkeys(out_schema.names)   # every column null

    def snap(p: int) -> str:
        return os.path.join(results_dir, f"_state_piece_{p}")

    for p in range(n_pieces):
        if cancel_check is not None:
            cancelled = cancel_check()
            if cancelled:
                raise TaskCancelledError(*cancelled)
        marker = os.path.join(results_dir, f"_piece_{p}.done")
        if os.path.exists(marker):
            if on_piece is not None:
                on_piece(p, n_pieces, snap(p))
            continue
        lo = start_ms + p * piece_ms
        hi = min(end_ms, lo + piece_ms)
        base = _interval_frame(src, det, lo, hi)
        cur = _melt(base, feats, *gcols, _bucket_ms().alias("bucket_ms"))

        # piece p's input state: piece p-1's snapshot; piece 0 starts
        # from the live state dir (e.g. a prior run_once_stateful)
        in_state = snap(p - 1) if p > 0 and os.path.exists(snap(p - 1)) \
            else spath
        # an older snapshot reads model / last_v as null
        st = read_table(spark, in_state, state_schema)
        if impute == "linear":
            # this piece's slice of the precomputed fill table rides
            # the melt itself (no join): fill rows ingest in bucket
            # order like any present value, flagged imputed
            cur = cur.withColumn("_impin", F.lit(False)).unionByName(
                fills.filter((F.col("bucket_ms") >= lo)
                             & (F.col("bucket_ms") < hi))
                .withColumn("_impin", F.lit(True)))
        elif impute:
            cur = cur.join(F.broadcast(ext), gcols, "left")
            # renamed copy for the state side — joining the SAME frame
            # onto both cogroup inputs is an ambiguous self-join
            ext_r = ext.select(*gcols,
                               F.col("_elo").alias("_elo_r"),
                               F.col("_ehi").alias("_ehi_r"))
            st = st.join(F.broadcast(ext_r), gcols, "left")
        # COGROUP, not a full-outer join: a serialized model checkpoint
        # is ~MBs, and joining it onto every bucket row would shuffle
        # piece_intervals copies of it per entity (measured: a 1.7 MB
        # RCF blob × 4096 buckets = 14 GB for a 2-entity piece).  With
        # cogroup the state row crosses the wire exactly once per key.
        def fn(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            r0 = rpdf.iloc[0] if len(rpdf) else {}
            m = ScalarModel(k, eps, scorer_factory,
                            **{c: r0.get(c) for c in model_cols})
            # the tick's last_ms: the last stepped bucket (the input
            # row's when no step runs in this piece)
            last_ms = r0.get("last_ms")
            rows = lpdf.sort_values("bucket_ms")
            # (bucket_ms, value, was_imputed) sequence: observed rows
            # as-is, or — under imputation — the entity-extent grid
            # with missing buckets marked (preview's
            # fill-missing-buckets-only semantics: a present bucket
            # whose feature aggregated to null stays null)
            has_fill = "_impin" in rows.columns
            seq: list = [(int(r["bucket_ms"]), r["_v"],
                          bool(r["_impin"]) if has_fill else False)
                         for _, r in rows.iterrows()]
            if impute and impute != "linear":
                elo = ehi = None
                for side, sfx in ((rows, ""), (rpdf, "_r")):
                    if len(side) and f"_elo{sfx}" in side.columns \
                            and not pd.isna(side[f"_elo{sfx}"].iloc[0]):
                        elo = int(side[f"_elo{sfx}"].iloc[0])
                        ehi = int(side[f"_ehi{sfx}"].iloc[0])
                        break
                if elo is not None:
                    merged = {b: (v, False) for b, v, _i in seq}
                    for b in range(max(elo, lo),
                                   min(ehi, hi - det.interval_ms) + 1,
                                   det.interval_ms):
                        merged.setdefault(b, (None, True))
                    seq = [(b, *merged[b]) for b in sorted(merged)]
            out = []
            for bms, v, was_imp in seq:
                if was_imp and impute != "linear":
                    # filled at ingest time: the 'previous' carry
                    # evolves as values ingest
                    v = m.fill(impute, fixed_vals.get(key[-1]))
                z = exp = np.nan
                used = None
                if v is not None and not pd.isna(v):
                    used = float(v)
                    z, exp = m.step(used)
                    last_ms = bms
                out.append({**blank, "bucket_ms": bms, "_z": z,
                            "_exp": exp, "scored_cnt": m.scored_cnt,
                            "_vu": used, "_imp": bool(was_imp)})
            out.append({**blank, **m.state(), "last_ms": last_ms})
            out = pd.DataFrame(out, columns=out_schema.names)
            out[[*gcols, "_feat"]] = key
            return out

        upd = (cur.groupBy(*gcols, "_feat")
               .cogroup(st.groupBy(*gcols, "_feat"))
               .applyInPandas(fn, schema=out_schema)
               .localCheckpoint())

        # piece-local state snapshot — the live state dir is untouched
        # until every piece is done, so a crashed piece always re-runs
        # against the state it started from
        new_state = (upd.filter(F.col("bucket_ms").isNull())
                     .select(*state_schema.names))
        new_state.write.mode("overwrite").parquet(snap(p))

        scored = upd.filter(F.col("_z").isNotNull())
        keys = [*gcols, "bucket_ms"]
        if impute:
            # imputed buckets have no base row — feature values come
            # from what the model actually ingested
            out = (_join_scores(scored, keys, feats, det,
                                cnt_col="scored_cnt")
                   .withColumn("bucket_start",
                               F.timestamp_millis(F.col("bucket_ms"))))
        else:
            out = _join_scores(
                scored, keys, feats, det, cnt_col="scored_cnt",
                onto=base.withColumn("bucket_ms", _bucket_ms()))
        (_result_rows(det, out, feats, [f"_z_{n}" for n in feats],
                      [F.col(f"_imp_{n}") for n in feats])
         .write.mode("overwrite").parquet(
             os.path.join(results_dir, f"piece={p}")))
        with open(marker, "w") as f:
            f.write("done")
        if on_piece is not None:
            on_piece(p, n_pieces, snap(p))

    # finalize: publish the last piece's snapshot as the live state
    # (tmp+swap), then drop the snapshots.  Re-running after a crash
    # here re-publishes the same content — idempotent.
    last = snap(n_pieces - 1)
    if os.path.exists(last):
        tmp = spath + ".__tmp__"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(last, tmp)
        _swap_in(tmp, spath)
        for p in range(n_pieces):
            shutil.rmtree(snap(p), ignore_errors=True)

    # the listed piece dirs, not a "piece=*" glob: a glob path sends
    # Spark's streaming-metadata probe into a warning with a stack trace
    return spark.read.parquet(*[os.path.join(results_dir, f"piece={p}")
                                for p in range(n_pieces)])
