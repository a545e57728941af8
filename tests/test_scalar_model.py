"""The scalar model every stateful path drives (no Spark): one ``step``
at a time reproduces the vectorized preview scorer bit for bit, and
``fill`` imputes a missing interval per method."""

import numpy as np
import pytest

from anomaly_detection_spark.features import ScalarModel, zscore_scorer


def test_step_equals_zscore_scorer_bitwise():
    k = 8
    rng = np.random.default_rng(7)
    series = rng.normal(100.0, 15.0, 200)
    series[[60, 130]] += 400.0                     # two spikes
    want = zscore_scorer(k, include_current=False)(series)

    m = ScalarModel(k)
    got = np.array([m.step(v)[0] for v in series])
    warm = ~np.isnan(want)
    assert np.array_equal(np.isnan(got), ~warm)
    assert got[warm].tobytes() == want[warm].tobytes()
    assert m.scored_cnt == int(warm.sum())
    assert m.vals == list(series[-k:]) and m.last_v == series[-1]

    # a model restored mid-series from its state row continues the
    # same float sequence
    m1 = ScalarModel(k)
    for v in series[:100]:
        m1.step(v)
    m2 = ScalarModel(k, vals=np.asarray(m1.vals), scored_cnt=m1.scored_cnt,
                     last_v=m1.last_v)
    tail = np.array([m2.step(v)[0] for v in series[100:]])
    assert tail.tobytes() == want[100:].tobytes()


def test_step_expected_is_prior_window_mean():
    m = ScalarModel(3, vals=[1.0, 2.0, 3.0])
    z, exp = m.step(10.0)
    assert exp == 2.0 and z > 0
    assert m.vals == [2.0, 3.0, 10.0] and m.scored_cnt == 1


@pytest.mark.parametrize("method,fixed,vals,last_v,want", [
    ("zero", None, None, None, 0.0),
    ("zero", None, [4.0], 5.0, 0.0),
    ("fixed_values", 7.5, None, None, 7.5),
    ("fixed_values", 7.5, [4.0], 5.0, 7.5),
    ("previous", None, None, None, None),          # nothing to carry
    ("previous", None, [4.0], float("nan"), 4.0),  # window's last value
    ("previous", None, [4.0], 5.0, 5.0),           # last_v wins
    ("previous", None, None, 5.0, 5.0),            # streamed model
])
def test_fill(method, fixed, vals, last_v, want):
    m = ScalarModel(4, vals=vals, last_v=last_v)
    assert m.fill(method, fixed) == want


def test_untouched_stream_keeps_its_bytes():
    class Stream:
        def __init__(self, n=0):
            self.n = n

        def update(self, v):
            self.n += 1
            return (float("nan") if self.n < 3 else v), v

        def to_bytes(self):
            return str(self.n).encode()

    def factory():
        return Stream()

    factory.restore = lambda b: Stream(int(b.decode()))

    idle = ScalarModel(4, scorer_factory=factory, model=b"5")
    assert idle.model_bytes == b"5"
    fresh = ScalarModel(4, scorer_factory=factory)
    assert fresh.model_bytes is None
    assert np.isnan(fresh.step(1.0)[0]) and fresh.scored_cnt == 0
    assert fresh.vals == [] and fresh.last_v == 1.0
    warm = ScalarModel(4, scorer_factory=factory, model=b"5",
                       scored_cnt=3)
    assert warm.step(2.0) == (2.0, 2.0)
    assert warm.model_bytes == b"6" and warm.scored_cnt == 4
