"""Model layer: PCA / GMM detectors separate planted anomalies; AUC is
rank-correct. End-to-end: FeaturePlan STATS features -> detector -> AUC."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from netml_spark import ndm


def _toy(seed=0, n=300, d=6):
    rng = np.random.default_rng(seed)
    X_norm = rng.normal(0, 1, (n, d))
    X_anom = rng.normal(5, 3, (n // 10, d))
    X = np.vstack([X_norm, X_anom])
    y = np.concatenate([np.zeros(n, dtype=int), np.ones(n // 10, dtype=int)])
    return X, y


def test_auc_score_rank_semantics():
    y = np.array([0, 0, 1, 1])
    assert ndm.auc_score(y, np.array([0.1, 0.2, 0.8, 0.9])) == 1.0
    assert ndm.auc_score(y, np.array([0.9, 0.8, 0.2, 0.1])) == 0.0
    assert ndm.auc_score(y, np.array([0.5, 0.5, 0.5, 0.5])) == 0.5
    # partly tied: the pairwise Mann-Whitney count, a tie scoring 1/2
    rng = np.random.default_rng(4)
    y = rng.integers(0, 2, 60)
    s = rng.integers(0, 6, 60).astype(np.float64)
    pos, neg = s[y == 1], s[y == 0]
    u = (pos[:, None] > neg).sum() + 0.5 * (pos[:, None] == neg).sum()
    assert ndm.auc_score(y, s) == pytest.approx(u / (len(pos) * len(neg)), abs=1e-12)


def test_pca_detector_separates():
    X, y = _toy()
    det = ndm.PCADetector(n_components=2).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9


def test_gmm_detector_separates():
    X, y = _toy(seed=1)
    det = ndm.GMMDetector(n_components=2, n_iter=30).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9


def test_iforest_detector_separates():
    X, y = _toy(seed=2)
    det = ndm.IForestDetector(n_estimators=50).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9


def test_iforest_deterministic():
    X, y = _toy(seed=3)
    s1 = ndm.IForestDetector(n_estimators=20, seed=7).fit(X).score(X)
    s2 = ndm.IForestDetector(n_estimators=20, seed=7).fit(X).score(X)
    np.testing.assert_array_equal(s1, s2)


def test_kde_detector_separates():
    X, y = _toy(seed=4)
    det = ndm.KDEDetector(bandwidth=1.0).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9


def test_ocsvm_detector_separates():
    X, y = _toy(seed=6, n=200)
    det = ndm.OCSVMDetector(nu=0.1).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9


def test_ocsvm_dual_constraints():
    X, _ = _toy(seed=7, n=150)
    det = ndm.OCSVMDetector(nu=0.5).fit(X)
    a = det.alpha_
    n = len(X)
    assert abs(a.sum() - 1.0) < 1e-6
    assert (a >= -1e-12).all() and (a <= 1.0 / (0.5 * n) + 1e-12).all()
    # nu property: support-vector fraction >= nu (approximately)
    assert (a > 1e-8).mean() >= 0.4


def test_ae_detector_separates_and_deterministic():
    X, y = _toy(seed=8, n=250)
    det = ndm.AEDetector(epochs=120, seed=3).fit(X[y == 0])
    assert ndm.auc_score(y, det.score(X)) > 0.9
    det2 = ndm.AEDetector(epochs=120, seed=3).fit(X[y == 0])
    np.testing.assert_array_equal(det.score(X), det2.score(X))


def test_model_wrapper_threshold_and_persistence(tmp_path):
    X, y = _toy(seed=5)
    m = ndm.Model(ndm.IForestDetector(n_estimators=50), contamination=0.1)
    m.train(X[y == 0])
    auc = m.test(X, y)
    assert auc > 0.9 and m.history["score"] == auc
    pred = m.predict(X)
    # threshold at the 90th train-score percentile: anomalies mostly above
    assert pred[y == 1].mean() > 0.8
    assert pred[y == 0].mean() < 0.2
    p = str(tmp_path / "model.pkl")
    m.save(p)
    m2 = ndm.Model.load(p)
    np.testing.assert_array_equal(m2.predict(X), pred)


def test_predict_stable_under_batch_float_drift():
    """np.quantile at an integral order-statistic index makes threshold_
    EQUAL one train score bit-for-bit (11 train rows, contamination 0.1
    -> index 10*0.9 = 9.0 exactly); BLAS matmul drift across Arrow batch
    shapes then flips a strict `>` between executor and driver scoring
    (observed live in test_classify_distributed_scoring_parity). predict
    must resolve the tie to 0 and absorb ulp-scale drift either way."""

    class _Fixed:
        def fit(self, X):
            return self

        def score(self, X):
            return np.asarray(X, dtype=np.float64)[:, 0]

    m = ndm.Model(_Fixed(), contamination=0.1)
    train = np.arange(11, dtype=np.float64).reshape(-1, 1)
    m.train(train)
    assert m.threshold_ == 9.0  # exact order statistic, the tie case
    at = np.float64(9.0)
    up = np.nextafter(at, np.inf)    # +1 ulp: executor-side drift
    down = np.nextafter(at, -np.inf)
    got = m.predict(np.array([[down], [at], [up], [9.1], [8.9]]))
    np.testing.assert_array_equal(got, [0, 0, 0, 1, 0])


def test_e2e_features_to_model(spark, token_events_df):
    from netml_spark.pipeline import FeaturePlan

    plan = FeaturePlan(feat_type="STATS")
    feats = plan.extract(token_events_df, ("doc_id",), "ts", "token", ("seq",))
    X, _ = ndm.collect_matrix(feats)
    assert X.shape[1] == 12 and X.dtype == np.float64
    det = ndm.PCADetector(n_components=3).fit(X)
    s = det.score(X)
    assert np.isfinite(s).all() and len(s) == len(X)


def test_feature_matrix_ragged_rows_raise(spark):
    """Feature rows are read as one flat buffer; a ragged row raises in
    collect_matrix and in the scoring kernel even when the flat total
    divides evenly into the row count (6 values over 3 rows here)."""
    rows = [[1.0, 2.0, 3.0], [4.0], [5.0, 6.0]]
    df = spark.createDataFrame([(r,) for r in rows], "features array<double>")
    with pytest.raises(ValueError, match="one length"):
        ndm.collect_matrix(df)
    m = ndm.Model(ndm.PCADetector(n_components=1)).train(np.eye(3))
    with pytest.raises(ValueError, match="one length"):
        ndm.predict_batch(m, pa.array(rows))
    with pytest.raises(ValueError, match="one length"):
        ndm.predict_batch(m, pa.array([[1.0, 2.0, 3.0], None]))
    ok = pa.array([[9.0] * 3, *rows[:1] * 2, [0.0, 1.0, 2.0]]).slice(1)
    np.testing.assert_array_equal(ndm.feature_matrix(ok), [[1, 2, 3], [1, 2, 3], [0, 1, 2]])
    assert ndm.predict_batch(m, ok).type == pa.int32()
