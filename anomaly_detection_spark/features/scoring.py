"""Per-entity model-scoring seam (SURVEY.md §3.1 end-to-end).

The reference fans detector results out per entity and feeds each
entity's shingled feature history to its model
(``ResultProcessor.java:204-331`` → per-entity RCF update/score).  The
Spark seam is ``applyInPandas`` over the entity key: one pandas batch
per entity, rows bucket-ordered, a pluggable vectorized scorer over the
value series.  RCF itself lives in a library the survey scopes out; the
stand-in scorer is a trailing-window z-score — deliberately
SQL-expressible so the whole seam is oracle-checkable, while any numpy
scorer (an actual RCF binding included) plugs into the same signature.
"""

from __future__ import annotations

import pickle
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def window_z(W: np.ndarray, v: np.ndarray,
             eps: float = 1e-9) -> tuple[np.ndarray, np.ndarray]:
    """z of each ``v[i]`` against the window row ``W[i]``, and the
    window mean: ``(v − m) / (std + eps)`` with the variance as
    avg(v²) − avg(v)², so the float sequence matches the SQL oracle
    bit-for-bit.  Every scalar path scores through here — the
    vectorized :func:`zscore_scorer` with its sliding windows, and
    :meth:`ScalarModel.step` one window at a time."""
    k = W.shape[1]
    m = W.sum(axis=1) / k
    m2 = (W * W).sum(axis=1) / k
    std = np.sqrt(np.maximum(m2 - m * m, 0.0))
    return (v - m) / (std + eps), m


def zscore_scorer(k: int = 8, eps: float = 1e-9,
                  include_current: bool = True) -> Callable[[np.ndarray], np.ndarray]:
    """Trailing-window z-score (:func:`window_z`); NaN until a full
    k-window exists.

    ``include_current=True``: window is v_{i−k+1..i} (the SQL-window
    shape) — note |z| is then bounded by √(k−1), since the point damps
    its own baseline.  ``include_current=False``: window is the PRIOR
    k points v_{i−k..i−1} — the detection shape (a spike is judged
    against history it isn't part of; reference models likewise score
    a point against the model state before ingesting it)."""

    def score(values: np.ndarray) -> np.ndarray:
        n = len(values)
        out = np.full(n, np.nan)
        need = k if include_current else k + 1
        if n < need:
            return out
        win = np.lib.stride_tricks.sliding_window_view(values, k)
        if include_current:
            out[k - 1:] = window_z(win, values[k - 1:], eps)[0]
        else:
            out[k:] = window_z(win[:n - k], values[k:], eps)[0]
        return out

    return score


def has_value(x) -> bool:
    """A state cell holds a value (not None / a pandas NaN)."""
    return x is not None and not (isinstance(x, float) and np.isnan(x))


class _StreamModel:
    """The checkpointed-stream half of a model: ``factory()`` builds a
    fresh stream, ``factory.restore(bytes)`` revives a serialized one.
    The stream is restored on first use, and its bytes pass through
    untouched while it is never used.  A model is built from its state
    row's columns (the constructor's keyword arguments) and
    :meth:`state` gives them back; :meth:`replay` gives the outputs of
    the last :meth:`step`, which a retried interval emits again."""

    def __init__(self, factory, model):
        self._factory = factory
        self._stream = None
        self._model = bytes(model) if has_value(model) else None

    def _live(self):
        if self._stream is None:
            self._stream = (self._factory() if self._model is None
                            else self._factory.restore(self._model))
        return self._stream

    @property
    def model_bytes(self) -> bytes | None:
        """The serialized stream (the restored bytes until stepped)."""
        return (self._stream.to_bytes() if self._stream is not None
                else self._model)


class ScalarModel(_StreamModel):
    """One (entity, feature) model advanced one interval at a time —
    the recurrence the scalar tick, the historical pieces and the
    streaming detector all drive (the reference's ``ResultProcessor``
    → ``CheckpointDao`` round trip).  Built from a state row's
    ``(vals, model bytes, scored count, last value, last z, last
    expected)``, nulls reading as a fresh model.  The model is the prior-k window ``vals``, or,
    given a ``scorer_factory``, the stream restored on the first
    :meth:`step`."""

    def __init__(self, k: int, eps: float = 1e-9, scorer_factory=None,
                 vals=None, model=None, scored_cnt=None, last_v=None,
                 last_z=None, last_exp=None):
        super().__init__(scorer_factory, model)
        self.k = k
        self.eps = eps
        self.vals = list(vals) if has_value(vals) else []
        self.scored_cnt = int(scored_cnt) if has_value(scored_cnt) else 0
        # the carry: the last ingested value, else the window's last
        self.last_v = (float(last_v) if has_value(last_v)
                       else float(self.vals[-1]) if self.vals else None)
        self.last_out = (last_z, last_exp)

    def state(self) -> dict:
        return {"vals": self.vals, "model": self.model_bytes,
                "scored_cnt": self.scored_cnt, "last_v": self.last_v,
                "last_z": self.last_out[0], "last_exp": self.last_out[1]}

    def replay(self) -> tuple:
        return self.last_out

    def fill(self, method: str, fixed_value: float | None = None
             ) -> float | None:
        """The imputed value of a missing interval: 0, ``fixed_value``,
        or (``previous``) the carry — None when there is none yet."""
        if method == "zero":
            return 0.0
        if method == "fixed_values":
            return float(fixed_value)
        return self.last_v

    def step(self, v: float) -> tuple[float, float]:
        """Score ``v`` against the prior state, then ingest it; returns
        ``(z, expected)`` (NaN until the model is warm)."""
        v = float(v)
        if self._factory is not None:
            z, exp = self._live().update(v)
        else:
            z = exp = np.nan
            if len(self.vals) == self.k:
                zs, ms = window_z(np.asarray([self.vals], dtype=np.float64),
                                  np.asarray([v]), self.eps)
                z, exp = zs[0], ms[0]
            self.vals = (self.vals + [v])[-self.k:]
        if z == z:
            self.scored_cnt += 1
        self.last_v = v
        self.last_out = (z, exp)
        return z, exp


class JointModel(_StreamModel):
    """One entity's model over its whole feature vector, advanced one
    interval at a time — the joint tick's counterpart of
    :class:`ScalarModel`, and the reference's model shape (one
    ThresholdedRandomCutForest per entity, ``ADModelManager``).  Built
    from a joint state row's ``(model bytes, scored count, last
    vector, last outputs)``, nulls reading as a fresh model, plus the
    stream factory (e.g. ``rcf_stream_factory(n_features=F)``) and the
    feature count ``F``."""

    def __init__(self, stream_factory, n_features: int, model=None,
                 scored_cnt=None, last_vec=None, last_out=None):
        super().__init__(stream_factory, model)
        self.n_features = n_features
        self.scored_cnt = int(scored_cnt) if has_value(scored_cnt) else 0
        # the carry: the last ingested vector
        self.last_vec = last_vec if has_value(last_vec) else None
        # the last step's outputs, pickled
        self.last_out = bytes(last_out) if has_value(last_out) else None

    def state(self) -> dict:
        return {"model": self.model_bytes, "scored_cnt": self.scored_cnt,
                "last_vec": self.last_vec, "last_out": self.last_out}

    def replay(self) -> tuple | None:
        if self.last_out is None:
            return None
        o = pickle.loads(self.last_out)
        return o["z"], o["exp"], (o["attr"], o["rel"], o["past"])

    def fill(self, method: str, fixed_vec=None) -> list[float] | None:
        """The imputed vector of a missing interval: zeros,
        ``fixed_vec``, or (``previous``) the carry — None when there is
        none yet."""
        if method == "zero":
            return [0.0] * self.n_features
        if method == "fixed_values":
            return [float(x) for x in fixed_vec]
        return (None if self.last_vec is None
                else [float(x) for x in self.last_vec])

    def step(self, vec) -> tuple[float, list[float] | None, tuple]:
        """Score ``vec`` against the prior state, then ingest it; returns
        ``(z, expected, ring)``: ``z`` is NaN until the model is warm,
        ``expected`` the per-feature expected vector once ``z`` is not
        NaN (None before), and ``ring`` the stream's ``(attribution,
        relative index, past values)``.  An F=1 stream takes a scalar
        (``RCFStream.update``'s univariate spelling)."""
        vec = [float(x) for x in vec]
        stream = self._live()
        z, exp = stream.update(vec[0] if self.n_features == 1 else vec)
        if z == z:
            self.scored_cnt += 1
            exp = ([float(x) for x in exp] if self.n_features > 1
                   else [float(exp)])
        else:
            exp = None
        self.last_vec = vec
        ring = (stream.last_attribution, stream.last_relative_index,
                stream.last_past_values)
        # z pickles as a numpy float, as in the tables already written
        self.last_out = pickle.dumps({"z": np.float64(z), "exp": exp,
                                      "attr": ring[0], "rel": ring[1],
                                      "past": ring[2]})
        return z, exp, ring


def seasonal_zscore_scorer(
    period: int,
    n_periods: int = 4,
    resid_window: int = 288,
    min_periods: int = 72,
    eps: float = 1e-9,
) -> Callable[[np.ndarray], tuple[np.ndarray, np.ndarray]]:
    """Seasonal-baseline scorer for periodic series (the shape RCF
    learns through shingles): expected value = MEDIAN of the same slot
    over the past ``n_periods`` periods (median so one anomalous period
    can't poison the next period's baseline), residuals are RELATIVE
    (``(v − exp)/|exp|`` — robust to trend/level drift), and the score
    is the residual's z against a trailing ``resid_window`` of
    residuals whose mean absorbs steady drift.

    Returns ``(z, expected_adj)`` where ``expected_adj`` is the
    drift-corrected expected value (``exp · (1 + resid_mean)``) — the
    "expected" the suppression rules compare margins against.  NaN
    until one full period plus ``min_periods`` residuals exist.

    The series must be on a DENSE time grid (one value per interval):
    pair with the detector's imputation for gappy entities."""

    def score(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        n = len(values)
        exp = np.full(n, np.nan)
        lags = np.full((n_periods, n), np.nan)
        for j in range(1, n_periods + 1):
            off = j * period
            if off < n:
                lags[j - 1, off:] = values[:n - off]
        with np.errstate(all="ignore"):
            exp = np.nanmedian(lags, axis=0)
        rr = (values - exp) / np.maximum(np.abs(exp), 1.0)
        s = pd.Series(rr)
        rm = s.rolling(resid_window, min_periods=min_periods) \
            .mean().shift(1).to_numpy()
        rs = s.rolling(resid_window, min_periods=min_periods) \
            .std().shift(1).to_numpy()
        z = (rr - rm) / (rs + eps)
        exp_adj = exp * (1.0 + rm)
        return z, exp_adj

    score.returns_expected = True
    return score


def score_entities(
    features: DataFrame,
    value_col: str,
    scorer: Callable[[np.ndarray], np.ndarray] | None = None,
    entity_cols: tuple[str, ...] = ("entity",),
    bucket_col: str = "bucket_start",
    score_col: str = "score",
) -> DataFrame:
    """(entity…, bucket, value) → + ``score`` from the per-entity scorer.

    One task per entity group (hash-partitioned on the entity key — the
    same fan-out shape as the reference's per-entity model hosting);
    rows are sorted by bucket inside the batch, and the scorer sees the
    full ordered value series at once (vectorized, no per-row Python).
    Rows whose score is NaN (warm-up) are dropped, mirroring the
    reference's cold-start interval handling.
    """
    scorer = scorer or zscore_scorer()
    ent = list(entity_cols)
    # a scorer may also return its expected baseline per point
    # (returns_expected attribute) — surfaced as an ``_exp`` column for
    # rule suppression (actual-vs-expected margins)
    ret_exp = getattr(scorer, "returns_expected", False)
    # copy, don't .add(): DataFrame.schema is cached and add() mutates it
    fields = list(features.schema.fields)
    if ret_exp:
        fields.append(T.StructField("_exp", T.DoubleType()))
    out_schema = T.StructType(fields + [T.StructField(score_col,
                                                      T.DoubleType())])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col).reset_index(drop=True)
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        if ret_exp:
            z, exp = scorer(vals)
            pdf["_exp"] = exp
            pdf[score_col] = z
        else:
            pdf[score_col] = scorer(vals)
        out = pdf[pdf[score_col].notna()]
        return out[[f.name for f in out_schema.fields]]

    return features.groupBy(*ent).applyInPandas(fn, schema=out_schema)
