"""Auto feature encoding with optional distributed transformer fitting.

Reference parity: Encoderizer / EncoderizerExtractor
(skdist/distribute/encoder.py:33,390): a FeatureUnion whose steps are
inferred per column (numeric -> impute+scale, string -> hashed n-gram
text vectors, list -> multihot, dict -> dict-vectorizer, low-cardinality
-> one-hot), with each step's fit distributed as a Spark task through
the same engine as the meta-estimators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..ml.base import BaseEstimator, TransformerMixin, clone
from ..preprocessing import (
    DictVectorizer,
    FeatureUnion,
    HashingVectorizerChunked,
    ImputeNull,
    MultihotEncoder,
    OneHotEncoder,
    Pipeline,
    SelectField,
    SimpleImputer,
    StandardScaler,
    VarianceThreshold,
)
from ._engine import run_tasks, strip_spark

# hashing-vector sizes per Encoderizer size class (dense matrices here,
# so far smaller than sklearn's 2**20 sparse default)
_TEXT_FEATURES = {"small": 512, "medium": 1024, "large": 2048}
_CHAR_RANGES = {"medium": (3, 4), "large": (2, 5)}


def _numeric_encoder(col):
    return [(f"{col}_scaler", Pipeline([
        ("var", SelectField(cols=[col])),
        ("imputer", SimpleImputer(strategy="median")),
        ("scaler", StandardScaler()),
    ]))]


def _onehot_encoder(col):
    return [(f"{col}_onehot", Pipeline([
        ("var", SelectField(cols=[col], single_dimension=True)),
        ("fillna", ImputeNull("")),
        ("vec", OneHotEncoder()),
    ]))]


def _multihot_encoder(col):
    return [(f"{col}_multihot", Pipeline([
        ("var", SelectField(cols=[col], single_dimension=True)),
        ("fillna", ImputeNull([])),
        ("vec", MultihotEncoder()),
    ]))]


def _dict_encoder(col):
    return [(f"{col}_dict_encoder", Pipeline([
        ("var", SelectField(cols=[col], single_dimension=True)),
        ("fillna", ImputeNull({})),
        ("vec", DictVectorizer()),
    ]))]


def _text_encoder(col, size):
    n_feat = _TEXT_FEATURES[size]
    steps = [(f"{col}_word_vec", Pipeline([
        ("var", SelectField(cols=[col], single_dimension=True)),
        ("fillna", ImputeNull(" ")),
        ("vec", HashingVectorizerChunked(
            n_features=n_feat, ngram_range=(1, 2) if size == "small" else (1, 3),
            analyzer="word",
        )),
        ("var_thresh", VarianceThreshold()),
    ]))]
    if size in _CHAR_RANGES:
        steps.append((f"{col}_char_vec", Pipeline([
            ("var", SelectField(cols=[col], single_dimension=True)),
            ("fillna", ImputeNull(" ")),
            ("vec", HashingVectorizerChunked(
                n_features=n_feat, ngram_range=_CHAR_RANGES[size], analyzer="char",
            )),
            ("var_thresh", VarianceThreshold()),
        ])))
    return steps


_DEFAULT_ENCODERS = {
    "string_vectorizer": lambda c, size: _text_encoder(c, size),
    "onehotencoder": lambda c, size: _onehot_encoder(c),
    "multihotencoder": lambda c, size: _multihot_encoder(c),
    "numeric": lambda c, size: _numeric_encoder(c),
    "dict": lambda c, size: _dict_encoder(c),
}


def _fit_transformer_task(task, shared):
    name, trans = shared["transformers"][task["idx"]]
    trans = clone(trans)
    trans.fit(shared["X"], shared["y"])
    return name, trans


class Encoderizer(BaseEstimator, TransformerMixin):
    """Column-type-inferred FeatureUnion; per-step fits run as Spark
    tasks when a Spark handle is provided.
    """

    def __init__(
        self,
        transformer_list=None,
        transformer_weights=None,
        size="small",
        config=None,
        col_names=None,
        sc=None,
        partitions="auto",
    ):
        self.transformer_list = transformer_list
        self.transformer_weights = transformer_weights
        self.size = size
        self.config = config
        self.col_names = col_names
        self.sc = sc
        self.partitions = partitions

    # -- input handling ------------------------------------------------
    def _process_input(self, X, fit=True):
        if isinstance(X, pd.DataFrame):
            out = X
        elif isinstance(X, dict):
            out = pd.DataFrame.from_dict(X, orient="columns")
        elif isinstance(X, (np.ndarray, list)):
            if fit and self.col_names is None:
                raise ValueError("Must supply col_names with array input")
            out = pd.DataFrame(X, columns=self.col_names if fit else self.fields_)
        else:
            try:
                from pyspark.sql import DataFrame as SparkDataFrame

                if isinstance(X, SparkDataFrame):
                    out = X.toPandas()
                else:
                    raise ValueError(f"Cannot parse input of type {type(X)}")
            except ImportError:  # pragma: no cover
                raise ValueError(f"Cannot parse input of type {type(X)}")
        if fit:
            self.fields_ = list(out.columns)
        return out

    def _infer_column(self, col_name, col, thresh=0.10):
        sample = col.dropna()
        if len(sample) == 0:
            return None
        first = sample.iloc[0]
        if isinstance(first, dict):
            return _dict_encoder(col_name)
        if isinstance(first, (list, tuple, np.ndarray)):
            return _multihot_encoder(col_name)
        if isinstance(first, (int, float, np.integer, np.floating)) and not isinstance(first, bool):
            return _numeric_encoder(col_name)
        # strings: low cardinality -> one-hot, else text vectorizer
        if sample.nunique() / float(len(sample)) < thresh:
            return _onehot_encoder(col_name)
        return _text_encoder(col_name, self.size)

    def _infer_transformers(self, X):
        if self.config is not None:
            lst = [
                _DEFAULT_ENCODERS[enc_type](col, self.size)
                for col, enc_type in self.config.items()
            ]
        else:
            lst = [self._infer_column(c, X[c]) for c in X.columns]
        return [step for group in lst if group is not None for step in group]

    # -- fit/transform -------------------------------------------------
    def fit(self, X, y=None):
        Xp = self._process_input(X, fit=True)
        transformers = (
            list(self.transformer_list)
            if self.transformer_list is not None
            else self._infer_transformers(Xp)
        )
        tasks = [{"idx": i} for i in range(len(transformers))]
        shared = {"transformers": transformers, "X": Xp, "y": y}
        self.transformer_list = run_tasks(
            self.sc, tasks, _fit_transformer_task, shared, self.partitions
        )
        self.transformer_lengths = [
            np.asarray(t.transform(Xp.head(2))).shape[1] for _, t in self.transformer_list
        ]
        strip_spark(self)
        return self

    def transform(self, X):
        Xp = self._process_input(X, fit=False)
        return FeatureUnion(
            self.transformer_list, transformer_weights=self.transformer_weights
        ).transform(Xp)

    def fit_transform(self, X, y=None, **fit_params):
        return self.fit(X, y).transform(X)

    def transform_distributed(self, sdf, id_col: str):
        """Apply the FITTED encoder to a Spark DataFrame via Arrow-
        batched ``mapInPandas`` — the scale path for encoding a corpus
        (the plain ``transform`` is the driver-local pandas path).
        Returns (id_col, features array<double>); the fitted
        transformer list ships inside the closure (cloudpickle), one
        deserialize per task, vectorized transform per batch.
        """
        from pyspark import cloudpickle

        payload = cloudpickle.dumps(
            (self.transformer_list, self.transformer_weights, self.fields_)
        )

        def run(batches):
            import pickle as _pickle

            tl, tw, fields = _pickle.loads(payload)
            fu = FeatureUnion(tl, transformer_weights=tw)
            for pdf in batches:
                T = np.asarray(fu.transform(pdf[fields]), dtype=np.float64)
                # numpy row views, not .tolist(): Arrow converts
                # float64 rows directly — the per-element Python float
                # boxing was O(rows * dims) of pure conversion cost
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "features": list(T)}
                )

        return sdf.mapInPandas(run, schema=f"{id_col} long, features array<double>")

    # -- reference extras ----------------------------------------------
    @property
    def step_names(self):
        return [name for name, _ in self.transformer_list]

    def extract(self, step_names):
        """Fitted copy containing only the whitelisted steps
        (reference: encoder.py:88)."""
        import copy as _copy

        enc = _copy.copy(self)
        keep = [i for i, n in enumerate(self.step_names) if n in step_names]
        enc.transformer_list = [self.transformer_list[i] for i in keep]
        enc.transformer_lengths = [self.transformer_lengths[i] for i in keep]
        return enc

    def feature_origin(self, index, mask=None):
        """Which step produced output feature ``index``
        (reference: encoder.py:209)."""
        bounds = np.cumsum([0] + list(self.transformer_lengths))
        for si in range(len(self.transformer_list)):
            if bounds[si] <= index < bounds[si + 1]:
                return self.step_names[si]
        raise IndexError(index)


class EncoderizerExtractor(BaseEstimator, TransformerMixin):
    """Transformer wrapper applying a step-slice of a fitted
    Encoderizer (reference: encoder.py:390)."""

    def __init__(self, encoderizer, step_names):
        self.encoderizer = encoderizer
        self.step_names = step_names

    def fit(self, X, y=None):
        return self

    def transform(self, X):
        return self.encoderizer.extract(self.step_names).transform(X)
