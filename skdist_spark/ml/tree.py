"""CART decision trees (numpy, vectorized split search).

Exact splits via per-feature sort + cumulative class counts — O(d · n
log n) per node, adequate for the task-parallel training model where
each Spark task fits one small tree on broadcast data.

A node's split search runs in blocks of at most ``_SPLIT_BLOCK_ELEMS``
(features x rows x outputs) elements. The choice between features stays
a scalar loop in ``feats`` order: its strict ``>`` compares
``gain / total_w * total_w``, and a vectorized choice could round
differently.

Exactness contract: a change here must keep every fitted bit (check
with ``tools/ml_fingerprint.py`` before and after).
"""

from __future__ import annotations

import numpy as np

from .base import BaseEstimator, ClassifierMixin, RegressorMixin, check_is_fitted, row_sum

_LEAF = -1
# float64 elements in one split-search block: 512 KiB per array keeps a
# fit's peak near its input size; larger blocks measured no faster
_SPLIT_BLOCK_ELEMS = 1 << 16


class _Tree:
    """Flat-array tree: feature, threshold, left, right, value-per-node.

    No __slots__: instances cross the Spark boundary via cloudpickle's
    by-value class path, which requires a plain __dict__.
    """

    def __init__(self):
        self.feature: list[int] = []
        self.threshold: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.value: list[np.ndarray] = []

    def add(self, feature=_LEAF, threshold=0.0, value=None) -> int:
        self.feature.append(feature)
        self.threshold.append(threshold)
        self.left.append(_LEAF)
        self.right.append(_LEAF)
        self.value.append(value)
        return len(self.feature) - 1

    def apply(self, X: np.ndarray) -> np.ndarray:
        feature = np.asarray(self.feature)
        threshold = np.asarray(self.threshold)
        left = np.asarray(self.left)
        right = np.asarray(self.right)
        node = np.zeros(len(X), dtype=np.int64)
        while True:
            f = feature[node]
            active = f != _LEAF
            if not active.any():
                return node
            go_left = np.zeros(len(X), dtype=bool)
            go_left[active] = X[active, f[active]] <= threshold[node[active]]
            nxt = node.copy()
            nxt[active & go_left] = left[node[active & go_left]]
            nxt[active & ~go_left] = right[node[active & ~go_left]]
            if (nxt == node).all():
                return node
            node = nxt


class _BaseDecisionTree(BaseEstimator):
    def __init__(
        self,
        max_depth=None,
        min_samples_split=2,
        min_samples_leaf=1,
        max_features=None,
        random_state=None,
    ):
        self.max_depth = max_depth
        self.min_samples_split = min_samples_split
        self.min_samples_leaf = min_samples_leaf
        self.max_features = max_features
        self.random_state = random_state

    def _n_features_to_try(self, d: int) -> int:
        mf = self.max_features
        if mf is None:
            return d
        if mf == "sqrt":
            return max(1, int(np.sqrt(d)))
        if mf == "log2":
            return max(1, int(np.log2(d)))
        if isinstance(mf, float):
            return max(1, int(mf * d))
        return min(int(mf), d)

    def _fit_common(self, X, y_enc, n_out, sample_weight):
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X.reshape(-1, 1)
        n, d = X.shape
        sw = np.ones(n) if sample_weight is None else np.asarray(sample_weight, dtype=np.float64)
        rng = np.random.RandomState(self.random_state)
        tree = _Tree()
        max_depth = np.inf if self.max_depth is None else self.max_depth
        k_feat = self._n_features_to_try(d)

        importances = np.zeros(d)
        # rows of zero weight (out of a bootstrap sample) are out of the
        # fit, as in scikit-learn's splitter: every node holds only rows
        # of positive weight, so its row count is its sampled-row count
        stack = [(np.flatnonzero(sw > 0), 0, None, False)]  # indices, depth, parent, is_right
        while stack:
            idx, depth, parent, is_right = stack.pop()
            node_val = self._leaf_value(y_enc[idx], sw[idx], n_out)
            node_id = tree.add(value=node_val)
            if parent is not None:
                (tree.right if is_right else tree.left)[parent] = node_id
            if (
                depth >= max_depth
                or len(idx) < self.min_samples_split
                or self._is_pure(y_enc[idx])
            ):
                continue
            feats = (
                np.arange(d)
                if k_feat == d
                else rng.choice(d, size=k_feat, replace=False)
            )
            best = self._best_split(X[idx], y_enc[idx], sw[idx], feats, n_out)
            if best is None:
                continue
            f, thr, gain = best
            mask = X[idx, f] <= thr
            # a midpoint that rounds onto the upper value moves its rows left
            n_left = mask.sum()
            if min(n_left, len(idx) - n_left) < self.min_samples_leaf:
                continue
            importances[f] += gain
            tree.feature[node_id] = int(f)
            tree.threshold[node_id] = float(thr)
            stack.append((idx[mask], depth + 1, node_id, False))
            stack.append((idx[~mask], depth + 1, node_id, True))
        self.tree_ = tree
        self.n_features_in_ = d
        total = importances.sum()
        self.feature_importances_ = importances / total if total > 0 else importances
        return self

    def _best_split(self, X, y, sw, feats, n_out):
        n = len(y)
        if n < 2:
            return None
        best_gain, best = 1e-12, None
        parent_imp = self._impurity_total(y, sw, n_out)
        total_w = sw.sum()
        # split positions that leave min_samples_leaf rows a side
        # (position i leaves i + 1 rows left)
        n_left = np.arange(1, n)
        sized = (n_left >= self.min_samples_leaf) & (n - n_left >= self.min_samples_leaf)
        step = max(1, _SPLIT_BLOCK_ELEMS // (n * n_out))
        for lo in range(0, len(feats), step):
            chunk = feats[lo : lo + step]
            xt = X.T[chunk]  # (features, rows)
            order = np.argsort(xt, axis=1, kind="mergesort")
            xs = np.take_along_axis(xt, order, axis=1)
            ws = sw[order]
            cut = (xs[:, :-1] != xs[:, 1:]) & sized  # valid split positions
            left_imp, right_imp = self._prefix_impurities(y[order], ws, n_out)
            gain = parent_imp - (left_imp + right_imp)
            gain[~cut] = -np.inf
            top = np.argmax(gain, axis=1)
            for j in np.flatnonzero(cut.any(axis=1)):
                i = top[j]
                if gain[j, i] > best_gain * total_w:
                    best_gain = gain[j, i] / total_w
                    best = (chunk[j], (xs[j, i] + xs[j, i + 1]) / 2.0, best_gain)
        return best

    def apply(self, X):
        check_is_fitted(self, "tree_")
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X.reshape(-1, 1)
        return self.tree_.apply(X)


class DecisionTreeClassifier(_BaseDecisionTree, ClassifierMixin):
    def fit(self, X, y, sample_weight=None):
        y = np.asarray(y)
        self.classes_, y_enc = np.unique(y, return_inverse=True)
        return self._fit_common(X, y_enc, len(self.classes_), sample_weight)

    @staticmethod
    def _is_pure(y):
        return len(np.unique(y)) <= 1

    @staticmethod
    def _leaf_value(y, sw, n_out):
        counts = np.bincount(y, weights=sw, minlength=n_out)
        total = counts.sum()
        return counts / total if total > 0 else np.full(n_out, 1.0 / n_out)

    @staticmethod
    def _impurity_total(y, sw, n_out):
        """Weighted gini * total_weight."""
        counts = np.bincount(y, weights=sw, minlength=n_out)
        total = counts.sum()
        if total == 0:
            return 0.0
        return total * (1.0 - np.sum((counts / total) ** 2))

    @staticmethod
    def _prefix_impurities(ys, ws, n_out):
        """For each split position i (left = [..., :i+1]), weighted gini sums."""
        onehot = np.zeros(ys.shape + (n_out,))
        np.put_along_axis(onehot, ys[..., None], ws[..., None], axis=-1)
        cum = np.cumsum(onehot, axis=-2)  # class-weight prefix, per split
        total_c = cum[..., -1:, :]  # == bincount(ys, ws): it only adds +0.0
        cum = cum[..., :-1, :]
        wl = np.cumsum(ws, axis=-1)[..., :-1]
        wr = ws.sum(axis=-1, keepdims=True) - wl
        with np.errstate(divide="ignore", invalid="ignore"):
            gini_l = wl - row_sum(cum**2) / np.where(wl > 0, wl, 1)
            right = total_c - cum
            right **= 2
            gini_r = wr - row_sum(right) / np.where(wr > 0, wr, 1)
        return gini_l, gini_r

    def predict_proba(self, X):
        nodes = self.apply(X)
        return np.asarray(self.tree_.value, dtype=np.float64)[nodes]

    def predict(self, X):
        return self.classes_[np.argmax(self.predict_proba(X), axis=1)]


class DecisionTreeRegressor(_BaseDecisionTree, RegressorMixin):
    def fit(self, X, y, sample_weight=None):
        y = np.asarray(y, dtype=np.float64)
        return self._fit_common(X, y, 1, sample_weight)

    @staticmethod
    def _is_pure(y):
        return len(y) <= 1 or np.ptp(y) < 1e-12

    @staticmethod
    def _leaf_value(y, sw, n_out):
        return np.array([np.average(y, weights=sw)]) if len(y) else np.zeros(1)

    @staticmethod
    def _impurity_total(y, sw, n_out):
        """Weighted SSE around the weighted mean."""
        if len(y) == 0:
            return 0.0
        mu = np.average(y, weights=sw)
        return float(np.sum(sw * (y - mu) ** 2))

    @staticmethod
    def _prefix_impurities(ys, ws, n_out):
        wy = ws * ys
        wy2 = ws * ys**2
        cw, cy, cy2 = (np.cumsum(a, axis=-1)[..., :-1] for a in (ws, wy, wy2))
        tw, ty, ty2 = (a.sum(axis=-1, keepdims=True) for a in (ws, wy, wy2))
        with np.errstate(divide="ignore", invalid="ignore"):
            sse_l = cy2 - cy**2 / np.where(cw > 0, cw, 1)
            rw = tw - cw
            sse_r = (ty2 - cy2) - (ty - cy) ** 2 / np.where(rw > 0, rw, 1)
        return sse_l, sse_r

    def predict(self, X):
        nodes = self.apply(X)
        return np.asarray(self.tree_.value, dtype=np.float64)[nodes, 0]
