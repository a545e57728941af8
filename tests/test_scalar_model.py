"""The models the stateful paths drive (no Spark): one ``step`` at a
time reproduces the vectorized preview scorer bit for bit (the scalar
window against ``zscore_scorer``, the joint stream against
``rcf_scorer_joint``), and ``fill`` imputes a missing interval per
method."""

import numpy as np
import pytest

from anomaly_detection_spark.features import (
    JointModel,
    ScalarModel,
    rcf_scorer_joint,
    rcf_stream_factory,
    zscore_scorer,
)


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
        last = m1.step(v)
    m2 = ScalarModel(k, vals=np.asarray(m1.vals), scored_cnt=m1.scored_cnt,
                     last_v=m1.last_v)
    tail = np.array([m2.step(v)[0] for v in series[100:]])
    assert tail.tobytes() == want[100:].tobytes()
    # ... and so does one rebuilt from state(), which replays the last
    # step's outputs until it steps again
    m3 = ScalarModel(k, **m1.state())
    assert m3.replay() == last and m3.state() == m1.state()
    outs = [m3.step(v) for v in series[100:]]
    assert np.array([z for z, _ in outs]).tobytes() == want[100:].tobytes()
    assert m3.replay() == outs[-1]


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


def test_joint_step_equals_rcf_scorer_joint():
    conf = dict(shingle=4, n_trees=10, sample_size=32, min_samples=8,
                seed=3)
    rng = np.random.default_rng(11)
    series = rng.normal([100.0, 5.0], [10.0, 1.0], size=(120, 2))
    series[[70, 100], 0] += 300.0                   # spikes
    series[90, 1] += 40.0
    z, exp, attr, rel, past = rcf_scorer_joint(2, **conf)(series)
    factory = rcf_stream_factory(n_features=2, **conf)

    def steps(model, rows):
        return [model.step(v) for v in rows]

    whole = JointModel(factory, 2)
    got_whole = steps(whole, series)
    # rebuilt from its state row halfway, the model continues the same
    # sequence
    half = JointModel(factory, 2)
    got_half = steps(half, series[:60])
    rebuilt = JointModel(factory, 2, **half.state())
    # until it steps, the rebuilt model replays the last step's outputs
    assert rebuilt.replay()[0] == got_half[-1][0]
    assert rebuilt.replay()[1:] == got_half[-1][1:]
    got_half += steps(rebuilt, series[60:])
    assert rebuilt.replay()[2] == got_half[-1][2]

    warm = ~np.isnan(z)
    assert (~np.isnan(attr[:, 0])).any()           # some point attributed
    for got, model in ((got_whole, whole), (got_half, rebuilt)):
        gz = np.array([g[0] for g in got])
        assert np.array_equal(np.isnan(gz), ~warm)
        assert gz[warm].tobytes() == z[warm].tobytes()
        for i, (_, e, (a, r, p)) in enumerate(got):
            assert e == (list(exp[i]) if warm[i] else None)
            if np.isnan(attr[i, 0]):
                assert a is None and r is None
            else:
                assert a == list(attr[i]) and r == rel[i]
            assert (p is None if np.isnan(past[i, 0])
                    else p == list(past[i]))
        assert model.scored_cnt == int(warm.sum())
        assert model.last_vec == list(series[-1])


@pytest.mark.parametrize("method,fixed,last_vec,want", [
    ("zero", None, None, [0.0, 0.0]),
    ("zero", None, [4.0, 5.0], [0.0, 0.0]),
    ("fixed_values", [7.5, 1.0], None, [7.5, 1.0]),
    ("fixed_values", [7.5, 1.0], [4.0, 5.0], [7.5, 1.0]),
    ("previous", None, None, None),                # nothing to carry
    ("previous", None, float("nan"), None),        # a null state cell
    ("previous", None, np.array([4.0, 5.0]), [4.0, 5.0]),
])
def test_joint_fill(method, fixed, last_vec, want):
    m = JointModel(None, 2, last_vec=last_vec)
    assert m.fill(method, fixed) == want
