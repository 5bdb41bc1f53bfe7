"""As-of join: parity vs pandas.merge_asof and the zero-temporal-leakage
property (SURVEY.md §5.2 item 5)."""

import numpy as np
import pandas as pd
import pytest

from netml_spark.operators.asof import asof_join, backfill


@pytest.fixture(scope="module")
def asof_frames():
    rng = np.random.default_rng(7)
    n_l, n_r = 2000, 400
    left = pd.DataFrame(
        {
            "ent": rng.integers(0, 30, n_l).astype(str),
            "ts": np.round(rng.uniform(0, 1000, n_l), 3),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "ent": rng.integers(0, 30, n_r).astype(str),
            "ts": np.round(rng.uniform(0, 1000, n_r), 3),
            "feat": np.round(rng.normal(size=n_r), 6),
        }
    ).drop_duplicates(["ent", "ts"])
    return left, right


def _pandas_asof(left, right, tolerance=None):
    l = left.sort_values("ts", kind="stable")
    r = right.sort_values("ts", kind="stable")
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = tolerance
    return pd.merge_asof(l, r, on="ts", by="ent", direction="backward", **kw)


@pytest.mark.parametrize("tolerance", [None, 50.0])
def test_asof_matches_merge_asof(spark, asof_frames, tolerance):
    left, right = asof_frames
    got = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on=("ent",), left_ts="ts", right_ts="ts", value_cols=("feat",),
        tolerance=tolerance,
    ).toPandas().sort_values("lid").reset_index(drop=True)
    exp = _pandas_asof(left, right, tolerance).sort_values("lid").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["feat"], exp["feat"], check_names=False, check_index=False
    )


def test_no_temporal_leakage(spark, asof_frames):
    """Perturb every right row strictly in the future of a probe time: the
    as-of output at or before that time must be unchanged."""
    left, right = asof_frames
    cut = 500.0
    future = right["ts"] > cut
    right2 = right.copy()
    right2.loc[future, "feat"] = right2.loc[future, "feat"] + 1e6  # corrupt future

    base = asof_join(
        spark.createDataFrame(left[left.ts <= cut]), spark.createDataFrame(right),
        on=("ent",), value_cols=("feat",),
    ).toPandas().sort_values("lid").reset_index(drop=True)
    pert = asof_join(
        spark.createDataFrame(left[left.ts <= cut]), spark.createDataFrame(right2),
        on=("ent",), value_cols=("feat",),
    ).toPandas().sort_values("lid").reset_index(drop=True)
    pd.testing.assert_frame_equal(base, pert)


def test_backfill_ignores_future(spark):
    pdf = pd.DataFrame(
        {
            "ent": ["a"] * 5,
            "ts": [1.0, 2.0, 3.0, 4.0, 5.0],
            "v": [None, 10.0, None, None, 20.0],
        }
    )
    got = (
        backfill(spark.createDataFrame(pdf), ["v"], ("ent",), "ts")
        .toPandas().sort_values("ts")["v"].tolist()
    )
    assert got[0] is None or np.isnan(got[0])
    assert got[1:] == [10.0, 10.0, 10.0, 20.0]
