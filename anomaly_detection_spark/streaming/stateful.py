"""Custom stateful streaming operator: per-entity sliding shingles.

The reference keeps per-entity model/shingle state in memory with
checkpoint persistence (``FeatureManager.java:248-263`` batchShingle +
``anomaly-checkpoint.json`` state docs).  The Structured Streaming
equivalent is ``applyInPandasWithState``: state = the last (k-1) feature
points per entity; every closed interval emits one shingle row once k
consecutive points exist.

State survives restarts via the streaming checkpoint location — the
same durability contract as the reference's checkpoint index.
"""

from __future__ import annotations

from typing import Any, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..features.scoring import ScalarModel


def streaming_shingles(
    features: DataFrame,
    k: int = 8,
    entity_col: str = "entity",
    bucket_col: str = "window_start",
    value_col: str = "v",
) -> DataFrame:
    """(entity, bucket, value) stream → (entity, bucket, shingle array<double>)
    emitted for every bucket that completes a k-window.

    Input should be the output of a windowed aggregation (one row per
    closed (entity, bucket)); rows inside one micro-batch may arrive
    unordered — they are sorted by bucket before folding into state.
    """
    out_schema = (f"{entity_col} string, {bucket_col} timestamp, "
                  "shingle array<double>")
    state_schema = "buckets array<long>, values array<double>"

    def fn(key: Any, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        # vectorized fold: concat state tail + new points, emit one
        # sliding window per new point once k consecutive points exist
        if state.exists:
            sb, sv = state.get
            sb = np.asarray(sb, dtype=np.int64)
            sv = np.asarray(sv, dtype=np.float64)
        else:
            sb = np.empty(0, dtype=np.int64)
            sv = np.empty(0, dtype=np.float64)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(bucket_col).reset_index(drop=True)
        nb = (pd.to_datetime(rows[bucket_col])
              .to_numpy(dtype="datetime64[ms]").astype(np.int64))
        nv = rows[value_col].to_numpy(dtype=np.float64)
        n0 = len(sv)
        all_b = np.concatenate([sb, nb])
        all_v = np.concatenate([sv, nv])
        state.update((all_b[-k:].tolist(), all_v[-k:].tolist()))
        if len(all_v) < k:
            return iter(())
        # window ending at global index i lives at sliding view row i-k+1
        wins = np.lib.stride_tricks.sliding_window_view(all_v, k)
        emit = np.arange(max(n0, k - 1), len(all_v))
        if len(emit) == 0:
            return iter(())
        return iter([pd.DataFrame({
            entity_col: [key[0]] * len(emit),
            bucket_col: rows[bucket_col].iloc[emit - n0].to_numpy(),
            "shingle": [w.tolist() for w in wins[emit - k + 1]],
        })])

    return (features.groupBy(entity_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


_STREAM_AGGS = ("value_count", "sum", "avg", "min", "max")


def streaming_detector(
    events: DataFrame,
    ts_col: str,
    interval_ms: int,
    agg: str,
    value_col: str,
    entity_col: str,
    k: int = 8,
    confidence_ramp: int = 32,
    anomaly_threshold: float = 3.0,
    eps: float = 1e-9,
    scorer_factory=None,
    imputation_method: str | None = None,
    imputation_value: float | None = None,
    impute_limit: int | None = None,
) -> DataFrame:
    """Realtime detection as ONE stateful stream over RAW events:
    bucket aggregation, the per-entity trailing window, and the scored
    count all live in streaming state — the ``run_once_stateful``
    model (CheckpointDao analog) as a single
    ``applyInPandasWithState`` operator.

    Spark cannot chain ``applyInPandasWithState`` after a streaming
    aggregation in append mode, so the operator owns the bucketing
    itself: state holds MERGEABLE partials (count/sum/min/max) per
    open interval; an interval closes — is scored and emitted — when
    the event-time watermark passes its end, driven by data arrival or
    an event-time TIMEOUT (so quiet entities still flush).  Late
    events for closed intervals are dropped, the watermark contract.

    ``events`` must carry ``withWatermark(ts_col, ...)`` (the
    ``window_delay`` analog).  Each closed interval advances the
    entity's :class:`~anomaly_detection_spark.features.scoring.
    ScalarModel` — the one model the scalar tick and the historical
    pieces drive too — so scores are the same float sequence as the
    batch paths (prior-k z, grade lift-off at ``anomaly_threshold`` σ,
    scored-count confidence ramp), and the emitted rows match
    ``detector.preview`` exactly (tested).  State survives restarts
    via the streaming checkpoint.

    ``scorer_factory`` (the same protocol as the batch stateful
    paths — e.g. :func:`~anomaly_detection_spark.features.
    rcf_stream_factory`) swaps the trailing-z window for a
    checkpointed streaming model: the serialized model rides in the
    streaming state (the CheckpointDao round-trip inside Structured
    Streaming's own checkpoint), updated once per closed interval in
    bucket order — so the emitted scores are the same float sequence
    as ``preview(scorer=rcf_scorer(...))`` / ``run_once_stateful``
    with the same config (tested).  The state's ``values`` window
    then stays empty: the stream is the model.

    ``imputation_method`` zero/fixed_values/previous closes EVERY
    bucket between an entity's data buckets — missing ones are
    synthesized and flagged in a new ``imputed`` output column, and
    an event-time timeout keeps flushing a quiet entity's intervals
    (``impute_limit`` caps the consecutive synthetic run — the
    cache-eviction analog; the entity goes dormant until data
    returns).  Output/state schemas extend ONLY when imputation is
    configured, so existing checkpoints stay compatible; ``linear``
    raises (it needs the NEXT sample)."""
    if agg not in _STREAM_AGGS:
        raise ValueError(f"agg must be one of {_STREAM_AGGS}; got {agg!r}")
    impute = imputation_method
    if impute not in (None, "zero", "fixed_values", "previous"):
        raise NotImplementedError(
            f"streaming imputation supports zero/fixed_values/previous"
            f"; got {impute!r} (linear needs the NEXT sample)")
    if impute == "fixed_values" and imputation_value is None:
        raise ValueError("fixed_values imputation needs imputation_value")
    # schemas extend ONLY when imputation is configured, so existing
    # streaming checkpoints (state schema is pinned per query) and
    # result consumers are untouched on the default path
    out_schema = (f"{entity_col} string, bucket_start timestamp, "
                  "v double, anomaly_score double, "
                  "anomaly_grade double, confidence double"
                  + (", imputed boolean" if impute else ""))
    state_schema = ("open_ms array<long>, open_cnt array<long>, "
                    "open_sum array<double>, open_min array<double>, "
                    "open_max array<double>, "
                    "values array<double>, scored_cnt long, "
                    "model binary"
                    + (", last_closed long, last_v double, imp_run long"
                       if impute else ""))
    thr = float(anomaly_threshold)
    iv = int(interval_ms)

    def fn(key: Any, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterable[pd.DataFrame]:
        last_closed, last_v, imp_run = None, None, 0
        if state.exists:
            if impute:
                (o_ms, o_cnt, o_sum, o_min, o_max, win, cnt0, mb,
                 last_closed, last_v, imp_run) = state.get
                imp_run = int(imp_run or 0)
            else:
                o_ms, o_cnt, o_sum, o_min, o_max, win, cnt0, mb = \
                    state.get
            opens = {int(m): [int(c), float(s), float(lo), float(hi)]
                     for m, c, s, lo, hi
                     in zip(o_ms, o_cnt, o_sum, o_min, o_max)}
        else:
            opens, win, cnt0, mb = {}, [], 0, None
        model = ScalarModel(k, eps, scorer_factory, win, mb, cnt0, last_v)

        wm_in = state.getCurrentWatermarkMs()
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows[rows[value_col].notna()]
            if len(rows):
                ms = (pd.to_datetime(rows[ts_col])
                      .to_numpy(dtype="datetime64[ms]").astype(np.int64))
                vals = rows[value_col].to_numpy(dtype=np.float64)
                bk = ms - ms % iv
                # drop events for already-closed intervals (late beyond
                # the watermark) — they must not re-open a bucket
                live = bk + iv > wm_in
                bk, vals = bk[live], vals[live]
            if len(rows) and len(bk):
                # one in-batch partial per bucket, merged into state
                order = np.argsort(bk, kind="stable")
                bk, vals = bk[order], vals[order]
                starts = np.flatnonzero(
                    np.concatenate(([True], bk[1:] != bk[:-1])))
                ends = np.append(starts[1:], len(bk))
                for s, e in zip(starts, ends):
                    b = int(bk[s])
                    seg = vals[s:e]
                    p = opens.setdefault(
                        b, [0, 0.0, float("inf"), float("-inf")])
                    p[0] += int(e - s)
                    p[1] += float(seg.sum())
                    p[2] = min(p[2], float(seg.min()))
                    p[3] = max(p[3], float(seg.max()))

        wm = state.getCurrentWatermarkMs()
        closed = sorted(b for b in opens if b + iv <= wm)
        if impute and (last_closed is not None or opens):
            # close EVERY bucket from the entity's last closed one
            # (or its FIRST open one, when nothing closed yet — a gap
            # between two early buckets must impute too) up to the
            # watermark — missing ones get imputed (the run_once
            # posture: an entity holding state imputes its quiet
            # intervals), bounded by impute_limit consecutive
            # synthetic intervals (the cache-eviction analog: a long-
            # dead entity goes dormant until data returns)
            start_b = (int(last_closed) + iv if last_closed is not None
                       else min(opens))
            closed = list(range(start_b, wm - iv + 1, iv))
        emit_rows = []
        for b in closed:
            was_imp = impute is not None and b not in opens
            if was_imp:
                last_closed = b      # the bucket is closed either way
                if impute_limit is not None and imp_run >= impute_limit:
                    continue                   # dormant until data
                v = model.fill(impute, imputation_value)
                if v is None:
                    continue                   # nothing to carry yet
                imp_run += 1
            else:
                imp_run = 0
                last_closed = b
                c, s, lo, hi = opens.pop(b)
                if agg == "value_count":
                    v = float(c)
                elif agg == "sum":
                    v = s
                elif agg == "avg":
                    v = s / c
                elif agg == "min":
                    v = lo
                else:
                    v = hi
            z, _ = model.step(v)
            if z == z:                        # scored (model warm)
                az = abs(z)
                row = (key[0], pd.Timestamp(b, unit="ms"), v,
                       round(az, 6),
                       round(min(max((az - thr) / thr, 0.0), 1.0), 6),
                       round(min(1.0, model.scored_cnt
                                 / float(confidence_ramp)), 6))
                emit_rows.append(row + (bool(was_imp),)
                                 if impute else row)

        ob = sorted(opens)
        base_state = (
            ob,
            [opens[b][0] for b in ob], [opens[b][1] for b in ob],
            [opens[b][2] for b in ob], [opens[b][3] for b in ob],
            model.vals, model.scored_cnt, model.model_bytes)
        state.update(base_state + (last_closed, model.last_v, imp_run)
                     if impute else base_state)
        if (impute and last_closed is not None
                and (impute_limit is None or imp_run < impute_limit)):
            # keep flushing intervals for the quiet entity: the NEXT
            # bucket (last_closed + iv) becomes closable when the
            # watermark reaches last_closed + 2·iv — never later than
            # any open bucket's own close (last_closed + iv <= ob[0])
            state.setTimeoutTimestamp(int(last_closed) + 2 * iv)
        elif ob:
            # flush the earliest open interval when the watermark
            # passes its end, even if no new data arrives for this key
            state.setTimeoutTimestamp(ob[0] + iv)
        cols = [entity_col, "bucket_start", "v", "anomaly_score",
                "anomaly_grade", "confidence"] \
            + (["imputed"] if impute else [])
        if not emit_rows:
            return iter(())
        return iter([pd.DataFrame(emit_rows, columns=cols)])

    return (events.groupBy(entity_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))
