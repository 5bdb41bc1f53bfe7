"""Minimal model layer — numpy-only twins of the reference's ndm package.

The reference trains sklearn/pyod/torch detectors on the final (tiny)
feature matrix (ndm/model.py:47-104; SURVEY.md §2.12 — downstream of the
engine, "only the feature vectors must match"). Neither sklearn nor torch
exists in this sandbox, so this module provides numpy-only equivalents of
the two detectors that need nothing beyond linear algebra, with the same
train/test/AUC workflow shape as the reference's MODEL wrapper:

- ``PCADetector``: PCA reconstruction-error anomaly score — the same idea
  as the reference's ndm/pca.py (project onto top-k principal components,
  score = residual norm).
- ``GMMDetector``: spherical Gaussian mixture via plain EM,
  log-likelihood score (reference ndm/gmm.py:145 logsumexp scoring).
- ``IForestDetector``: isolation forest (reference ndm/iforest.py:11-94
  wraps pyod's IForest with inverted scores so higher = more anomalous);
  here the standard Liu/Ting/Zhou algorithm in numpy — random subsample
  trees, score = 2^(-E[path length]/c(n)).
- ``KDEDetector``: gaussian kernel density (reference ndm/kde.py:15-128
  wraps sklearn KernelDensity with inverted scores); here brute-force
  pairwise gaussian KDE, score = negative log-density.
- ``OCSVMDetector``: RBF one-class SVM (reference ndm/ocsvm.py:11-81
  wraps sklearn OneClassSVM); here the dual solved by projected gradient
  with an exact box-simplex projection.
- ``AEDetector``: autoencoder reconstruction error (reference
  ndm/ae.py:22-228 is a torch MLP); here a numpy MLP with manual
  backprop + Adam.
- ``Model``: train/test/AUC wrapper (reference ndm/model.py:47-104) plus
  the pyod-style contamination threshold -> ``predict`` used by
  `netml classify` (cli.py:202), and pickle save/load (reference persists
  (model, history) via dump_data, cli.py:167-184).
- ``auc_score``: rank-based ROC-AUC (Mann-Whitney), matching
  sklearn.roc_auc_score semantics used at ndm/model.py:101-102.

Features arrive as a Spark DataFrame with ``features:array<double>`` (and
optionally ``label``); ``collect_matrix`` is the documented driver-side
hand-off — by this point the data is one row per flow, small by design.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def feature_matrix(features) -> np.ndarray:
    """The (rows, dim) float64 matrix of an array<double> Arrow column, read
    as one flat buffer. A null or ragged row raises ValueError: reshaping a
    ragged buffer whose total happens to divide would misalign the rows."""
    lens = pc.list_value_length(features).to_numpy(zero_copy_only=False)
    if features.null_count or len(np.unique(lens)) > 1:
        raise ValueError("feature rows must be non-null and of one length")
    X = pc.list_flatten(features).to_numpy(zero_copy_only=False)
    return X.astype(np.float64, copy=False).reshape(len(lens), lens[0] if len(lens) else 0)


def collect_matrix(df, features_col: str = "features", label_col: str | None = None):
    tbl = df.select(features_col, *([label_col] if label_col else [])).toArrow()
    y = tbl.column(label_col).to_numpy() if label_col else None
    return feature_matrix(tbl.column(features_col)), y


def predict_batch(model: Model, features: pa.Array) -> pa.Array:
    """``model.predict`` over one Arrow batch of feature rows, as int32
    (Spark sends an Arrow UDF no empty batch, not even for an empty
    partition)."""
    return pa.array(model.predict(feature_matrix(features)).astype(np.int32))


def auc_score(y_true: np.ndarray, scores: np.ndarray) -> float:
    """ROC-AUC via the Mann-Whitney U statistic (ties get mid-ranks)."""
    y_true = np.asarray(y_true).astype(int)
    scores = np.asarray(scores, dtype=np.float64)
    pos = scores[y_true == 1]
    neg = scores[y_true == 0]
    if len(pos) == 0 or len(neg) == 0:
        raise ValueError("need both classes for AUC")
    # mid-rank of each distinct value: the ranks before it plus (count+1)/2
    _, inv, cnt = np.unique(np.concatenate([neg, pos]), return_inverse=True,
                            return_counts=True)
    mid = np.cumsum(cnt) - (cnt - 1) / 2
    r_pos = mid[inv[len(neg):]].sum()
    u = r_pos - len(pos) * (len(pos) + 1) / 2
    return float(u / (len(pos) * len(neg)))


class PCADetector:
    """Anomaly score = PCA reconstruction error (ndm/pca.py analogue)."""

    def __init__(self, n_components: int = 2):
        self.n_components = n_components

    def fit(self, X: np.ndarray):
        X = np.asarray(X, dtype=np.float64)
        self.mean_ = X.mean(axis=0)
        Xc = X - self.mean_
        _, _, vt = np.linalg.svd(Xc, full_matrices=False)
        self.components_ = vt[: self.n_components]
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous."""
        Xc = np.asarray(X, dtype=np.float64) - self.mean_
        proj = Xc @ self.components_.T @ self.components_
        return np.linalg.norm(Xc - proj, axis=1)


class GMMDetector:
    """Spherical GMM by EM; anomaly score = negative log-likelihood
    (ndm/gmm.py analogue, logsumexp scoring)."""

    def __init__(self, n_components: int = 2, n_iter: int = 50, seed: int = 42):
        self.k = n_components
        self.n_iter = n_iter
        self.seed = seed

    def fit(self, X: np.ndarray):
        X = np.asarray(X, dtype=np.float64)
        n, d = X.shape
        rng = np.random.default_rng(self.seed)
        mu = X[rng.choice(n, self.k, replace=False)]
        var = np.full(self.k, X.var() + 1e-6)
        pi = np.full(self.k, 1.0 / self.k)
        for _ in range(self.n_iter):
            ll = self._log_prob(X, mu, var, pi)          # (n, k)
            m = ll.max(axis=1, keepdims=True)
            r = np.exp(ll - m)
            r /= r.sum(axis=1, keepdims=True)
            nk = r.sum(axis=0) + 1e-12
            mu = (r.T @ X) / nk[:, None]
            for j in range(self.k):
                diff = X - mu[j]
                var[j] = (r[:, j] @ (diff * diff).sum(axis=1)) / (nk[j] * d) + 1e-9
            pi = nk / n
        self.mu_, self.var_, self.pi_ = mu, var, pi
        return self

    @staticmethod
    def _log_prob(X, mu, var, pi):
        n, d = X.shape
        out = np.empty((n, len(mu)))
        for j in range(len(mu)):
            diff = X - mu[j]
            out[:, j] = (
                np.log(pi[j])
                - 0.5 * d * np.log(2 * np.pi * var[j])
                - 0.5 * (diff * diff).sum(axis=1) / var[j]
            )
        return out

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous (negative logsumexp likelihood)."""
        ll = self._log_prob(np.asarray(X, dtype=np.float64), self.mu_, self.var_, self.pi_)
        m = ll.max(axis=1)
        return -(m + np.log(np.exp(ll - m[:, None]).sum(axis=1)))


class _ITree:
    """One isolation tree over a subsample — flat-array node storage."""

    __slots__ = ("feature", "threshold", "left", "right", "size", "_n")

    def __init__(self, X: np.ndarray, max_depth: int, rng: np.random.Generator):
        cap = 4 * len(X)  # loose bound on node count
        self.feature = np.full(cap, -1, dtype=np.int32)
        self.threshold = np.zeros(cap, dtype=np.float64)
        self.left = np.full(cap, -1, dtype=np.int32)
        self.right = np.full(cap, -1, dtype=np.int32)
        self.size = np.zeros(cap, dtype=np.int64)
        self._n = 0
        self._build(X, 0, max_depth, rng)

    def _new_node(self) -> int:
        i = self._n
        self._n += 1
        return i

    def _build(self, X: np.ndarray, depth: int, max_depth: int,
               rng: np.random.Generator) -> int:
        node = self._new_node()
        self.size[node] = len(X)
        if depth >= max_depth or len(X) <= 1:
            return node
        spans = X.max(axis=0) - X.min(axis=0)
        usable = np.flatnonzero(spans > 0)
        if len(usable) == 0:  # all points identical
            return node
        f = int(rng.choice(usable))
        lo, hi = X[:, f].min(), X[:, f].max()
        t = rng.uniform(lo, hi)
        mask = X[:, f] < t
        self.feature[node] = f
        self.threshold[node] = t
        self.left[node] = self._build(X[mask], depth + 1, max_depth, rng)
        self.right[node] = self._build(X[~mask], depth + 1, max_depth, rng)
        return node

    def path_lengths(self, X: np.ndarray) -> np.ndarray:
        """Vectorized level-synchronous traversal: all rows descend one
        level per iteration (depth <= max_depth ~ log2(256) = 8 steps)."""
        n = len(X)
        node = np.zeros(n, dtype=np.int32)
        depth = np.zeros(n, dtype=np.float64)
        active = self.feature[node] >= 0
        while active.any():
            f = self.feature[node[active]]
            goleft = X[active, f] < self.threshold[node[active]]
            nxt = np.where(goleft, self.left[node[active]], self.right[node[active]])
            node[active] = nxt
            depth[active] += 1.0
            active = self.feature[node] >= 0
        # external-node adjustment c(size) for unsplit subsamples
        return depth + _avg_path(self.size[node])


def _avg_path(n) -> np.ndarray:
    """c(n): average BST unsuccessful-search path length (Liu et al.)."""
    n = np.asarray(n, dtype=np.float64)
    out = np.zeros_like(n)
    m = n > 2
    out[m] = 2.0 * (np.log(n[m] - 1.0) + np.euler_gamma) - 2.0 * (n[m] - 1.0) / n[m]
    out[n == 2] = 1.0
    return out


class IForestDetector:
    """Isolation forest (ndm/iforest.py analogue: pyod IForest defaults
    n_estimators=100, max_samples='auto'=256, scores inverted so higher =
    more anomalous — here the score 2^(-E[h]/c(psi)) is anomalous-high by
    construction, so the ranking matches the reference's inverted one)."""

    def __init__(self, n_estimators: int = 100, max_samples: int = 256,
                 seed: int = 42):
        self.n_estimators = n_estimators
        self.max_samples = max_samples
        self.seed = seed

    def fit(self, X: np.ndarray):
        X = np.asarray(X, dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        psi = min(self.max_samples, len(X))
        max_depth = int(np.ceil(np.log2(max(psi, 2))))
        self.psi_ = psi
        self.trees_ = []
        for _ in range(self.n_estimators):
            idx = rng.choice(len(X), size=psi, replace=False)
            self.trees_.append(_ITree(X[idx], max_depth, rng))
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous."""
        X = np.asarray(X, dtype=np.float64)
        h = np.mean([t.path_lengths(X) for t in self.trees_], axis=0)
        c = _avg_path(np.array([self.psi_]))[0] or 1.0
        return np.power(2.0, -h / c)


class KDEDetector:
    """Gaussian KDE (ndm/kde.py analogue: sklearn KernelDensity
    score_samples with inverted order). Anomaly score = negative
    log-density under the gaussian kernel sum — brute-force pairwise
    distances (the train matrix is the post-engine feature table, small
    by design)."""

    def __init__(self, bandwidth: float = 1.0):
        self.bandwidth = float(bandwidth)

    def fit(self, X: np.ndarray):
        self.X_ = np.asarray(X, dtype=np.float64)
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous (= -log p̂(x), matching invert_order of
        sklearn's log-density up to a monotone transform)."""
        X = np.asarray(X, dtype=np.float64)
        n, d = self.X_.shape
        h = self.bandwidth
        # -||x - xi||^2 / (2 h^2) via the expansion trick, then logsumexp
        x2 = (X * X).sum(axis=1)[:, None]
        t2 = (self.X_ * self.X_).sum(axis=1)[None, :]
        sq = np.maximum(x2 + t2 - 2.0 * (X @ self.X_.T), 0.0)
        ll = -sq / (2.0 * h * h)
        m = ll.max(axis=1)
        logp = (
            m + np.log(np.exp(ll - m[:, None]).sum(axis=1))
            - np.log(n) - 0.5 * d * np.log(2.0 * np.pi * h * h)
        )
        return -logp


class OCSVMDetector:
    """One-class SVM with RBF kernel (ndm/ocsvm.py analogue: sklearn
    OneClassSVM(kernel='rbf', gamma='scale', nu=0.5) with inverted
    scores). The dual
        min 1/2 a'Ka   s.t. 0 <= a_i <= 1/(nu*n), sum a = 1
    is solved by projected gradient descent with an exact simplex-box
    projection (bisection on the shift); score = rho - sum_i a_i k(x_i, x)
    so higher = more anomalous, matching the reference's invert_order."""

    def __init__(self, nu: float = 0.5, gamma: str | float = "scale",
                 n_iter: int = 300, lr: float | None = None):
        self.nu = float(nu)
        self.gamma = gamma
        self.n_iter = n_iter
        self.lr = lr

    @staticmethod
    def _proj_box_simplex(v: np.ndarray, C: float) -> np.ndarray:
        """Project v onto {0 <= a <= C, sum a = 1} (bisection on tau of
        sum clip(v - tau, 0, C) = 1)."""
        lo, hi = v.min() - C - 1.0, v.max() + 1.0
        for _ in range(60):
            tau = 0.5 * (lo + hi)
            s = np.clip(v - tau, 0.0, C).sum()
            if s > 1.0:
                lo = tau
            else:
                hi = tau
        return np.clip(v - 0.5 * (lo + hi), 0.0, C)

    def _kernel(self, A: np.ndarray, B: np.ndarray) -> np.ndarray:
        a2 = (A * A).sum(axis=1)[:, None]
        b2 = (B * B).sum(axis=1)[None, :]
        sq = np.maximum(a2 + b2 - 2.0 * (A @ B.T), 0.0)
        return np.exp(-self.gamma_ * sq)

    def fit(self, X: np.ndarray):
        X = np.asarray(X, dtype=np.float64)
        n, d = X.shape
        self.X_ = X
        if self.gamma == "scale":  # sklearn: 1 / (d * X.var())
            self.gamma_ = 1.0 / (d * max(X.var(), 1e-12))
        elif self.gamma == "auto":
            self.gamma_ = 1.0 / d
        else:
            self.gamma_ = float(self.gamma)
        K = self._kernel(X, X)
        C = 1.0 / (self.nu * n)
        a = np.full(n, 1.0 / n)
        # Lipschitz constant of the gradient is ||K||_2 <= n (rbf diag 1)
        eta = self.lr or 1.0 / max(np.linalg.norm(K, 2), 1e-9)
        for _ in range(self.n_iter):
            a = self._proj_box_simplex(a - eta * (K @ a), C)
        self.alpha_ = a
        dec = K @ a
        margin = (a > 1e-8) & (a < C - 1e-8)
        self.rho_ = float(np.median(dec[margin])) if margin.any() else float(np.median(dec))
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous (rho - decision)."""
        dec = self._kernel(np.asarray(X, dtype=np.float64), self.X_) @ self.alpha_
        return self.rho_ - dec


class AEDetector:
    """Autoencoder reconstruction-error detector (ndm/ae.py analogue:
    pyod-style AE, torch in the reference — absent here, so a numpy MLP
    in->hid->lat->hid->in with leaky-relu, Adam, MSE; inputs standardized;
    score = per-row reconstruction MSE, higher = more anomalous)."""

    def __init__(self, hid_dim: int = 16, lat_dim: int = 4, epochs: int = 200,
                 batch_size: int = 32, lr: float = 1e-3, seed: int = 42):
        self.hid_dim, self.lat_dim = hid_dim, lat_dim
        self.epochs, self.batch_size, self.lr, self.seed = epochs, batch_size, lr, seed

    @staticmethod
    def _lrelu(z):
        return np.where(z > 0, z, 0.01 * z)

    @staticmethod
    def _dlrelu(z):
        return np.where(z > 0, 1.0, 0.01)

    def fit(self, X: np.ndarray):
        X = np.asarray(X, dtype=np.float64)
        self.mu_, self.sd_ = X.mean(axis=0), np.maximum(X.std(axis=0), 1e-9)
        Z = (X - self.mu_) / self.sd_
        n, d = Z.shape
        rng = np.random.default_rng(self.seed)
        dims = [d, self.hid_dim, self.lat_dim, self.hid_dim, d]
        W = [rng.normal(0, np.sqrt(2.0 / dims[i]), (dims[i], dims[i + 1]))
             for i in range(4)]
        b = [np.zeros(dims[i + 1]) for i in range(4)]
        mW = [np.zeros_like(w) for w in W]; vW = [np.zeros_like(w) for w in W]
        mb = [np.zeros_like(x) for x in b]; vb = [np.zeros_like(x) for x in b]
        b1, b2, eps, t = 0.9, 0.999, 1e-8, 0
        for _ in range(self.epochs):
            order = rng.permutation(n)
            for s in range(0, n, self.batch_size):
                xb = Z[order[s:s + self.batch_size]]
                # forward: leaky-relu on hidden layers, linear output
                acts, pre = [xb], []
                h = xb
                for li in range(4):
                    z = h @ W[li] + b[li]
                    pre.append(z)
                    h = z if li == 3 else self._lrelu(z)
                    acts.append(h)
                g = 2.0 * (acts[-1] - xb) / len(xb)  # dMSE/dout
                t += 1
                for li in range(3, -1, -1):
                    gz = g if li == 3 else g * self._dlrelu(pre[li])
                    gW, gb = acts[li].T @ gz, gz.sum(axis=0)
                    g = gz @ W[li].T
                    mW[li] = b1 * mW[li] + (1 - b1) * gW
                    vW[li] = b2 * vW[li] + (1 - b2) * gW * gW
                    mb[li] = b1 * mb[li] + (1 - b1) * gb
                    vb[li] = b2 * vb[li] + (1 - b2) * gb * gb
                    W[li] -= self.lr * (mW[li] / (1 - b1 ** t)) / (np.sqrt(vW[li] / (1 - b2 ** t)) + eps)
                    b[li] -= self.lr * (mb[li] / (1 - b1 ** t)) / (np.sqrt(vb[li] / (1 - b2 ** t)) + eps)
        self.W_, self.b_ = W, b
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Higher = more anomalous (standardized reconstruction MSE)."""
        Z = (np.asarray(X, dtype=np.float64) - self.mu_) / self.sd_
        h = Z
        for li in range(4):
            z = h @ self.W_[li] + self.b_[li]
            h = z if li == 3 else self._lrelu(z)
        return ((h - Z) ** 2).mean(axis=1)


DETECTORS = {
    "pca": PCADetector,
    "gmm": GMMDetector,
    "iforest": IForestDetector,
    "kde": KDEDetector,
    "ocsvm": OCSVMDetector,
    "ae": AEDetector,
}


class Model:
    """Train/test/AUC wrapper (reference ndm/model.py:47-104) with the
    pyod-style contamination threshold for hard predictions
    (`netml classify` consumes model.predict, cli.py:202)."""

    def __init__(self, detector, contamination: float = 0.1):
        self.detector = detector
        self.contamination = float(contamination)
        self.history: dict = {}

    def train(self, X_train: np.ndarray, y_train=None):
        import time as _t

        t0 = _t.time()
        self.detector.fit(X_train)
        train_scores = self.detector.score(X_train)
        # pyod BaseDetector._process_decision_scores: threshold at the
        # (1 - contamination) quantile of train scores
        self.threshold_ = float(
            np.quantile(train_scores, 1.0 - self.contamination)
        )
        # train-score spread: sets the predict() tolerance scale (ADVICE
        # r5 — a fixed 1e-9 floor misclassifies genuine anomalies when a
        # detector's whole score scale is below 1e-9, e.g. near-zero
        # reconstruction errors)
        self.score_spread_ = float(np.ptp(train_scores)) if len(train_scores) else 0.0
        self.history["train_time"] = _t.time() - t0
        return self

    def test(self, X_test: np.ndarray, y_test: np.ndarray) -> float:
        scores = self.detector.score(X_test)
        self.score = auc_score(y_test, scores)
        self.history["score"] = self.score
        return self.score

    def predict(self, X: np.ndarray) -> np.ndarray:
        """1 = anomaly (score above the contamination threshold), 0 = normal.

        The comparison carries a relative tolerance: np.quantile at
        (n_train-1)*(1-contamination) integral lands EXACTLY on an order
        statistic, so one train flow's score equals threshold_ bit-for-bit
        — and BLAS matmul reduction order varies with batch shape, so the
        same row scored in a different-sized Arrow batch on an executor
        can drift by ~1 ulp and flip a strict `>`. The tolerance (1e-9
        relative to the TRAIN-SCORE SPREAD or |threshold|, whichever is
        larger — ADVICE r5: an absolute floor silently swallowed real
        anomalies on detectors whose whole score scale is below 1e-9;
        BLAS drift is ~1e-15 relative, real score gaps are O(spread))
        makes executor-batch and driver-batch predictions agree, and
        resolves the exact-tie case to 0 like pyod's strict `>`."""
        spread = getattr(self, "score_spread_", None)
        scale = max(abs(self.threshold_),
                    spread if spread is not None else 1.0)
        tol = 1e-9 * scale
        return (self.detector.score(X) > self.threshold_ + tol).astype(int)

    def save(self, path: str) -> None:
        import pickle

        with open(path, "wb") as fh:
            pickle.dump({"model": self, "history": self.history}, fh)

    @staticmethod
    def load(path: str) -> "Model":
        import pickle

        with open(path, "rb") as fh:
            return pickle.load(fh)["model"]
