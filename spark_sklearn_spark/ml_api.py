"""User-facing API parity with the reference's public surface
(SURVEY.md §2A): ``GridSearchCV``, ``RandomizedSearchCV``,
``KeyedEstimator``/``KeyedModel``, ``Converter`` — the names a
`spark_sklearn` user calls today, rebuilt MLlib-native.

Deliberate deltas from the reference (documented, not hidden):
- Estimators are ``pyspark.ml`` estimators, not sklearn (sklearn is
  not installed here; SURVEY §0). Param grids use sklearn-style
  ``{param_name: [values]}`` dicts and are resolved against the
  estimator's Params by name.
- ``fit`` takes a DataFrame (features vector + label column), not
  numpy X/y: data stays distributed instead of being broadcast whole
  (`grid_search.py` ≈L190-260 broadcast X,y to every executor — the
  pattern that stops working the moment X outgrows one machine).
- Candidate×fold fan-out (`base_search.py#_fit` ≈L60-180,
  sc.parallelize one task per tuple) is one thread-pool wave of MLlib
  fits over the cached input, with CrossValidator's rand(seed) split
  (or a user fold column) and its avgMetrics.

Per-key models keep the reference's data model exactly
(`keyed_models.py` ≈L30-320): a models DataFrame of
``keyCols + model:binary`` (pickled), fitted per group inside
``applyInPandas``, applied by a broadcast join + batch predict.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F


# --------------------------------------------------------------------------
# Distributed model selection (A1-A3)
# --------------------------------------------------------------------------


class GridSearchCV:
    """Exhaustive cross-validated parameter search, distributed.

    Parity: ``python/spark_sklearn/grid_search.py#GridSearchCV``
    (≈L1-330). After ``fit``: ``best_params_``, ``best_score_``,
    ``best_model_``, ``cv_results_`` (one dict per candidate).
    """

    def __init__(
        self,
        estimator,
        param_grid: dict[str, list],
        evaluator=None,
        cv: int = 3,
        parallelism: int = 8,
        seed: int = 42,
        fold_col: str | None = None,
    ):
        self.estimator = estimator
        self.param_grid = param_grid
        self.evaluator = evaluator
        self.cv = cv
        self.parallelism = parallelism
        self.seed = seed
        # Optional user-supplied fold assignment (CrossValidator's
        # foldCol): values must lie in [0, cv). With a deterministic
        # hash-derived column the SPLIT itself becomes reproducible
        # across engines/runs — the sklearn `cv=iterable` analogue —
        # where the default rand(seed) split is engine-internal.
        self.fold_col = fold_col
        self._best_model = None
        self._fit_df = None

    def _grid(self):
        from pyspark.ml.tuning import ParamGridBuilder

        b = ParamGridBuilder()
        for name, values in self.param_grid.items():
            b = b.addGrid(self.estimator.getParam(name), list(values))
        return b.build()

    def _evaluator(self):
        if self.evaluator is not None:
            return self.evaluator
        from pyspark.ml.evaluation import MulticlassClassificationEvaluator

        return MulticlassClassificationEvaluator(metricName="accuracy")

    def fit(self, df: DataFrame) -> "GridSearchCV":
        """Run the cross-validated search on a (features, label)
        DataFrame; populates best_params_/best_score_/best_model_/
        cv_results_ and returns self (sklearn-style).

        All candidate×fold fits fan out in ONE thread-pool wave (the
        reference's base_search.py#_fit posture — one task per
        (candidate, fold) tuple) instead of CrossValidator's sequential
        per-fold waves, and the best-model refit on the full data runs
        lazily on first access of best_model_. The avgMetrics equal
        CrossValidator's for both split modes: validation = rows of
        fold i, training = the rest, avgMetric = mean over folds of
        evaluator.evaluate(model.transform(validation))."""
        from concurrent.futures import ThreadPoolExecutor
        from functools import partial

        from pyspark.storagelevel import StorageLevel
        from pyspark.util import inheritable_thread_target

        grid = self._grid()
        evaluator = self._evaluator()  # one instance: CV + direction check
        # Every fit recomputes its input; caching it is the distributed
        # analogue of the reference's broadcast of X/y
        # (grid_search.py ≈L190-260). Respect an existing persist;
        # release ours when done.
        cached_here = df.storageLevel == StorageLevel.NONE
        if cached_here:
            df = df.persist()
        fold_col = self.fold_col or "__fold"
        folded = df if self.fold_col else self._rand_folds(df, fold_col)
        fold = F.col(fold_col)
        fold_datasets = [
            (
                folded.filter(fold != f).drop(fold_col),
                folded.filter(fold == f).drop(fold_col),
            )
            for f in range(self.cv)
        ]

        def one(i, f):
            train, test = fold_datasets[f]
            model = self.estimator.fit(train, grid[i])
            return i, f, evaluator.evaluate(model.transform(test))

        # Each task carries its own copy of the caller's local
        # properties (job group, scheduler pool, tags), so the fits on
        # pool threads run under the caller's job group and concurrent
        # SQL executions never mutate one shared property set.
        tasks = [
            inheritable_thread_target(df.sparkSession)(partial(one, i, f))
            for i in range(len(grid))
            for f in range(self.cv)
        ]
        metrics = np.zeros((self.cv, len(grid)))
        try:
            if self.fold_col:
                self._check_folds(df)
            with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
                for i, f, m in pool.map(lambda task: task(), tasks):
                    metrics[f, i] = m
        finally:
            if cached_here:
                df.unpersist()
        # CrossValidator._gen_avg_and_std_metrics' reduction, so the
        # averages match it to the last bit.
        avg_metrics = np.mean(metrics, axis=0).tolist()
        self._best_model = None
        self._fit_df = df.drop(self.fold_col) if self.fold_col else df
        self._grid_cache = grid
        self.cv_results_ = [
            {
                "params": {p.name: v for p, v in pm.items()},
                "mean_test_score": float(m),
            }
            for pm, m in zip(grid, avg_metrics)
        ]
        # Respect the metric direction: argmax only for larger-is-better
        # evaluators (an rmse evaluator must pick argmin or best_params_
        # would disagree with CrossValidator's own bestModel).
        if evaluator.isLargerBetter():
            best = int(np.argmax(avg_metrics))
        else:
            best = int(np.argmin(avg_metrics))
        self.best_index_ = best
        self.best_params_ = self.cv_results_[best]["params"]
        self.best_score_ = self.cv_results_[best]["mean_test_score"]
        return self

    def _rand_folds(self, df: DataFrame, fold_col: str) -> DataFrame:
        """CrossValidator._kFold's default split as a fold column: with
        h = 1/cv, row r is in validation fold i iff i*h <= r < (i+1)*h
        over rand(seed). rand is drawn on the persisted input, where
        CrossValidator draws it; a row with r >= cv*h gets fold cv and
        so trains in every fold, as in CrossValidator. rand lies in
        [0, 1), so the first bound r < (i+1)*h that holds names i."""
        h = 1.0 / self.cv
        r = F.col("__rand")
        fold = F.when(r < h, 0)
        for i in range(1, self.cv):
            fold = fold.when(r < (i + 1) * h, i)
        return (
            df.select("*", F.rand(self.seed).alias("__rand"))
            .withColumn(fold_col, fold.otherwise(self.cv))
            .drop("__rand")
        )

    def _check_folds(self, df: DataFrame) -> None:
        """Fail loudly on NULL or out-of-range fold values — one
        aggregate over the persisted input, before the fan-out. A NULL
        fold would otherwise silently drop its row from every split,
        and a value outside [0, cv) would put its row in every training
        set and no validation set."""
        fold = F.col(self.fold_col)
        bad = df.agg(
            F.count(F.when(fold.isNull() | (fold < 0) | (fold >= self.cv), 1))
        ).first()[0]
        if bad:
            raise ValueError(
                f"fold column {self.fold_col!r} must hold values in "
                f"[0, {self.cv}); found {bad} NULL or out-of-range rows"
            )

    @property
    def best_model_(self):
        """The best candidate refit on the full data. Lazy: the refit
        is a full extra fit the search itself never consumes, so it
        runs on first access only."""
        if self._best_model is None:
            if self._fit_df is None:
                raise AttributeError(
                    "best_model_ is not available: call fit() first"
                )
            self._best_model = self.estimator.fit(
                self._fit_df, self._grid_cache[self.best_index_]
            )
        return self._best_model


class RandomizedSearchCV(GridSearchCV):
    """Sampled parameter search (``random_search.py`` parity):
    ``param_distributions`` values are lists or scipy-style
    distributions exposing ``rvs``; ``n_iter`` candidates are drawn
    with a fixed seed, then evaluated by the same CV machinery."""

    def __init__(
        self,
        estimator,
        param_distributions: dict[str, Any],
        n_iter: int = 10,
        **kwargs,
    ):
        super().__init__(estimator, {}, **kwargs)
        self.param_distributions = param_distributions
        self.n_iter = n_iter

    def _grid(self):
        import itertools
        import random

        from pyspark.ml.tuning import ParamGridBuilder

        rng = random.Random(self.seed)
        dists = self.param_distributions
        all_lists = all(not hasattr(d, "rvs") for d in dists.values())
        if all_lists:
            # sklearn's ParameterSampler semantics (the reference
            # wrapped it): with a finite grid, sample WITHOUT
            # replacement — drawing per-iteration would repeat
            # candidates and pay duplicate candidate×fold fits
            names = list(dists)
            combos = list(itertools.product(*(list(dists[n]) for n in names)))
            picks = rng.sample(combos, min(self.n_iter, len(combos)))
            grid = []
            for combo in picks:
                b = ParamGridBuilder()
                for name, v in zip(names, combo):
                    b = b.addGrid(self.estimator.getParam(name), [v])
                grid.extend(b.build())
            return grid
        grid = []
        for _ in range(self.n_iter):
            b = ParamGridBuilder()
            for name, dist in dists.items():
                if hasattr(dist, "rvs"):
                    v = float(dist.rvs(random_state=rng.randrange(2**31)))
                else:
                    v = rng.choice(list(dist))
                b = b.addGrid(self.estimator.getParam(name), [v])
            grid.extend(b.build())
        return grid


# --------------------------------------------------------------------------
# Per-key models (A5-A6)
# --------------------------------------------------------------------------


class _OLS:
    """Picklable closed-form linear predictor (module-level on purpose:
    pickled models cross the executor boundary)."""

    def __init__(self, beta):
        self.beta = beta

    def predict(self, X):
        return np.hstack([X, np.ones((len(X), 1))]) @ self.beta


def _ols_fit(X: np.ndarray, y: np.ndarray):
    """Default per-key estimator: closed-form least squares with
    intercept. Returns a picklable predictor."""
    Xb = np.hstack([X, np.ones((len(X), 1))])
    beta, *_ = np.linalg.lstsq(Xb, y, rcond=None)
    return _OLS(beta)


class KeyedModel:
    """Models-as-DataFrame (``keyed_models.py#KeyedModel`` ≈L200-320):
    ``model_df`` holds keyCols + a pickled model per key; transform
    broadcast-joins it and predicts per Arrow batch."""

    def __init__(self, model_df: DataFrame, key_cols, x_cols, output_col):
        self.model_df = model_df
        self.key_cols = list(key_cols)
        self.x_cols = list(x_cols)
        self.output_col = output_col

    def transform(self, df: DataFrame) -> DataFrame:
        """Score ``df``: broadcast-join the models table on the key
        columns and predict per Arrow batch (KeyedModel.transform
        parity). LEFT join: a key unseen at fit time (or NULL) keeps
        its rows with a NULL prediction — an inner join would make
        transform() silently return fewer rows than its input, which
        is data loss a scoring API must surface, not hide."""
        x_cols, out = self.x_cols, self.output_col

        @F.pandas_udf("double")
        def predict(model_bin: pd.Series, *xs: pd.Series) -> pd.Series:
            # One model per joined group would be ideal; within a batch
            # models can differ per row, so group rows by model bytes
            # and predict per group (still vectorized per model).
            # Unseen keys carry a null blob (factorize code -1) and
            # keep the NaN initializer -> NULL after the Arrow crossing.
            X = np.column_stack([x.to_numpy(dtype="float64") for x in xs])
            result = np.full(len(X), np.nan)
            codes, uniques = pd.factorize(model_bin)
            for code, blob in enumerate(uniques):
                if blob is None:
                    continue
                m = pickle.loads(blob)
                mask = codes == code
                result[mask] = m.predict(X[mask])
            return pd.Series(result)

        joined = df.join(F.broadcast(self.model_df), self.key_cols, "left")
        scored = joined.withColumn(out, predict("__model", *x_cols))
        return scored.withColumn(
            out, F.when(~F.isnan(F.col(out)), F.col(out))
        ).drop("__model")


class KeyedEstimator:
    """Per-key model training (``keyed_models.py#KeyedEstimator``
    ≈L30-200): one estimator fitted per distinct key inside
    applyInPandas; sklearn estimators are replaced by any picklable
    ``fit_fn(X, y) -> model`` (default: closed-form OLS)."""

    def __init__(
        self,
        key_cols: list[str],
        x_cols: list[str],
        y_col: Optional[str] = None,
        output_col: str = "output",
        fit_fn: Callable[[np.ndarray, np.ndarray], Any] = _ols_fit,
    ):
        if fit_fn is _ols_fit and y_col is None:
            # caught here, not as a lstsq failure inside a Python worker
            raise ValueError("the default OLS fit_fn needs a y_col")
        self.key_cols = list(key_cols)
        self.x_cols = list(x_cols)
        self.y_col = y_col
        self.output_col = output_col
        self.fit_fn = fit_fn

    def fit(self, df: DataFrame) -> KeyedModel:
        """Fit one model per distinct key combination; returns a
        KeyedModel holding the keyCols + pickled-model DataFrame."""
        key_cols, x_cols, y_col, fit_fn = (
            self.key_cols,
            self.x_cols,
            self.y_col,
            self.fit_fn,
        )
        key_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.select(*key_cols).schema.fields
        )
        schema = f"{key_schema}, __model binary"

        def fit_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            X = pdf[x_cols].to_numpy(dtype="float64")
            y = pdf[y_col].to_numpy(dtype="float64") if y_col else None
            model = fit_fn(X, y)
            row = {c: [k] for c, k in zip(key_cols, key)}
            row["__model"] = [pickle.dumps(model)]
            return pd.DataFrame(row)

        # Project BEFORE the grouping shuffle: applyInPandas is opaque
        # to Catalyst, so without this every column of df is scanned,
        # shuffled and Arrow-serialized even though fit_one reads only
        # the key/x/y columns.
        need = list(
            dict.fromkeys(key_cols + x_cols + ([y_col] if y_col else []))
        )
        models = df.select(*need).groupBy(*key_cols).applyInPandas(fit_one, schema)
        return KeyedModel(models, key_cols, x_cols, self.output_col)


# --------------------------------------------------------------------------
# Converter (A7-A9)
# --------------------------------------------------------------------------


class Converter:
    """Model/DataFrame conversion surface (``converter.py#Converter``).

    - ``toPandas(df)``: DataFrame → pandas with MLlib Vector columns
      expanded to numpy arrays (A9) — via vector_to_array + Arrow.
    - ``toSpark(model)``: any object with ``coef_``/``intercept_``
      (the sklearn linear-model protocol, A7) → a LinearPredictor
      that scores DataFrames JVM-side (dot product as columnar
      arithmetic; no Python in the scoring path).
    - ``toSKLearn``: optional-import path (A8) — materializes MLlib
      linear-model coefficients onto a sklearn estimator when sklearn
      is importable; raises NotImplementedError with an explanation
      when it is not (the SURVEY §0 environment).
    """

    def toPandas(self, df: DataFrame) -> pd.DataFrame:
        """DataFrame → pandas with MLlib Vector columns expanded to
        numpy arrays (A9 parity, Arrow transfer)."""
        from pyspark.ml.functions import vector_to_array
        from pyspark.ml.linalg import VectorUDT

        cols = [
            vector_to_array(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, VectorUDT)
            else F.col(f.name)
            for f in df.schema.fields
        ]
        pdf = df.select(*cols).toPandas()
        return pdf

    def toSpark(self, model) -> "LinearPredictor":
        """sklearn-protocol linear model (coef_/intercept_) → JVM-side
        LinearPredictor (A7 parity; binary/regression only)."""
        coef = np.asarray(getattr(model, "coef_"))
        if coef.ndim > 1 and coef.shape[0] > 1:
            # a multiclass coef matrix raveled into one weight vector
            # would silently score garbage (wrong length → null fill)
            raise NotImplementedError(
                f"toSpark supports binary/regression models only; got a "
                f"coef_ matrix of shape {coef.shape} (multiclass)"
            )
        coef = coef.ravel()
        intercept = float(np.ravel(getattr(model, "intercept_"))[0])
        return LinearPredictor(coef, intercept)

    def toSKLearn(self, model):
        """A8 surface (``converter.py#Converter.toSKLearn``): MLlib
        linear model → fitted sklearn estimator, when sklearn is
        importable. The coefficient/intercept arrays are materialized
        onto ``LinearRegression`` / ``LogisticRegression`` shells
        (fit-free: attributes set directly, the documented sklearn
        escape hatch for pre-computed models). Without sklearn on the
        box the documented raise is preserved (SURVEY §0)."""
        try:
            import sklearn.linear_model as skl
        except ImportError:
            raise NotImplementedError(
                "sklearn is not available in this environment; export "
                "coefficients via model.coefficients / model.intercept "
                "instead"
            ) from None

        coef = np.asarray(model.coefficients.toArray())
        intercept = float(model.intercept)
        name = type(model).__name__
        if "LogisticRegression" in name:
            if getattr(model, "numClasses", 2) != 2:
                raise NotImplementedError(
                    "toSKLearn supports binary logistic models only; "
                    f"got numClasses={model.numClasses}"
                )
            out = skl.LogisticRegression()
            out.coef_ = coef.reshape(1, -1)
            out.intercept_ = np.array([intercept])
            out.classes_ = np.array([0.0, 1.0])
        elif "LinearRegression" in name:
            out = skl.LinearRegression()
            out.coef_ = coef
            out.intercept_ = intercept
        else:
            raise NotImplementedError(
                f"toSKLearn supports LinearRegressionModel / binary "
                f"LogisticRegressionModel; got {name}"
            )
        out.n_features_in_ = coef.size if coef.ndim == 1 else coef.shape[1]
        return out


class LinearPredictor:
    """JVM-side linear scorer: ŷ = xᵀw + b as a zip_with/aggregate
    fold over an array column — whole-stage codegen, no UDF."""

    def __init__(self, coef: np.ndarray, intercept: float):
        self.coef = [float(c) for c in coef]
        self.intercept = float(intercept)

    def transform(
        self, df: DataFrame, features_col: str, output_col: str = "prediction"
    ) -> DataFrame:
        """Append ``output_col`` = xᵀw + b over the array column —
        whole-stage-codegen arithmetic, no UDF."""
        w = F.array(*[F.lit(c) for c in self.coef])
        dot = F.aggregate(
            F.zip_with(
                F.col(features_col), w, lambda x, c: x.cast("double") * c
            ),
            F.lit(self.intercept),
            lambda acc, x: acc + x,
        )
        return df.withColumn(output_col, dot)
