"""Per-product demand forecasting (ref EP3 / EDA.ipynb cells 54-69).

Feature relation = the W1 lag stack (plans/windowed.q_lag_features) with
a typed date. Splits are per-product positional (last ``TEST_ROWS``
observations held out) because the TPC-H-ish testdata is sparse per
product — a global last-14-days cutoff (ref dashboard.py:716-724, kept
as the ``train_test_time_split`` query) would leave most products with
an empty test set here.

Scale: training is one ``applyInPandas`` over products — each group is
(days × 1 product) rows, small by construction, and groups parallelize
across executors; the pyspark.ml variant trains one global model with
JVM-distributed least squares. No driver-side collect anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.money import DEC, dsum, oracle_dsum
from ..plans.registry import register
from ..plans.windowed import _DAILY_SQL, _daily

#: AR order for ML features (shorter than the reference's 14 so sparse
#: per-product series keep enough training rows; the 14-lag relation
#: itself is the oracle-checked `lag_features` query).
ML_LAGS = 7
TEST_ROWS = 3

FEATURES = [f"lag_{i}" for i in range(1, ML_LAGS + 1)] + [
    "month", "day_of_week", "is_weekend",
]


def feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product × date grain with lag_1..lag_7 + calendar features and a
    per-product positional split marker (is_test on the last 3 rows)."""
    w = Window.partitionBy("product").orderBy("date")
    wdesc = Window.partitionBy("product").orderBy(F.desc("date"))
    lag_cols = [
        F.lag("total_quantity", i).over(w).alias(f"lag_{i}")
        for i in range(1, ML_LAGS + 1)
    ]
    return (
        _daily(spark, sf_dir)
        .select(
            "product", "date", "total_quantity", *lag_cols,
            F.month("date").alias("month"),
            ((F.dayofweek("date") + 5) % 7).alias("day_of_week"),
            (((F.dayofweek("date") + 5) % 7) >= 5).cast("int").alias("is_weekend"),
        )
        .na.drop(subset=[f"lag_{i}" for i in range(1, ML_LAGS + 1)])
        .withColumn("is_test", (F.row_number().over(wdesc) <= TEST_ROWS).cast("int"))
    )


@register(
    "wape_seasonal_naive",
    oracle=_DAILY_SQL + f"""
    , lagged AS (
      SELECT product, total_quantity,
             lag(total_quantity, 7) OVER (PARTITION BY product ORDER BY date) AS yhat
      FROM daily
    )
    SELECT product,
           COUNT(*) AS n,
           {oracle_dsum('abs(total_quantity - yhat)', 'sum_abs_err')},
           {oracle_dsum('total_quantity', 'sum_actual')},
           CAST(CAST(SUM(CAST(abs(total_quantity - yhat) AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(total_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS wape
    FROM lagged WHERE yhat IS NOT NULL GROUP BY 1
    """,
    doc="U4 as pure expressions: seasonal-naive baseline (yhat = lag_7 "
        "quantity) scored per product with WAPE = Σ|err|/Σy — both sums "
        "decimal-exact, so the ratio is bit-deterministic cross-engine "
        "(plain MAPE averages per-row float ratios → order-dependent; "
        "the trainers report it, the oracle checks WAPE)",
)
def q_wape_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("product").orderBy("date")
    lagged = _daily(spark, sf_dir).select(
        "product", "total_quantity",
        F.lag("total_quantity", 7).over(w).alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    err = F.abs(F.col("total_quantity") - F.col("yhat"))
    return lagged.groupBy("product").agg(
        F.count("*").alias("n"),
        dsum(err, "sum_abs_err", dec=DEC),
        dsum("total_quantity", "sum_actual", dec=DEC),
        (dsum(err, dec=DEC) / dsum("total_quantity", dec=DEC)).alias("wape"),
    )


#: Hyperparameter grid — the deterministic counterpart of the
#: reference's RF/SVR/MLP grid search with per-product best-model
#: selection by validation MAPE (EDA.ipynb cells 58-69; winners
#: persisted as best_model_*.pkl, dashboard.py:753-757). Here the model
#: family is closed-form ridge AR, so the searched axes are
#: regularization strength × AR order.
GRID_LAMBDAS = (1e-3, 1e-1, 1.0, 10.0)
GRID_LAGS = (3, 7)

#: Competing model families, mirroring the reference's RF-vs-SVR-vs-MLP
#: selection: the ridge-AR grid vs two fit-free baselines. The winner
#: per product is whichever family+config has the lowest validation
#: MAPE — baselines win exactly where a fitted model can't beat them,
#: which is the point of family selection.
FAMILIES = ("ridge", "seasonal_naive", "moving_avg7")

_TRAIN_SCHEMA = (
    "product string, best_family string, best_lambda double, best_n_lags int, "
    "n_train int, n_test int, "
    "train_wape double, test_wape double, test_mape double, "
    "coef array<double>"
)
_TRAIN_COLS = [f.strip().split(" ")[0] for f in _TRAIN_SCHEMA.split(",")]


def _design(d: pd.DataFrame, n_lags: int) -> np.ndarray:
    cols = [f"lag_{i}" for i in range(1, n_lags + 1)] + [
        "month", "day_of_week", "is_weekend",
    ]
    x = d[cols].to_numpy(dtype=np.float64)
    return np.hstack([np.ones((len(d), 1)), x])


def _ridge(x: np.ndarray, y: np.ndarray, lam: float) -> np.ndarray:
    return np.linalg.solve(x.T @ x + lam * np.eye(x.shape[1]), x.T @ y)


def _fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grid search + best-model selection for ONE product.

    Every (λ, n_lags) config is fit on the train split and scored on the
    held-out rows; the winner is the lowest validation MAPE with a
    deterministic (mape, λ, n_lags) tie-break. The winner's config is
    then refit on the full history — those coefficients are what gets
    persisted and used for forecasting (select-on-validation,
    refit-on-all, the standard deployment protocol).
    """
    pdf = pdf.sort_values("date")
    train = pdf[pdf.is_test == 0]
    val = pdf[pdf.is_test == 1]
    if len(train) < len(FEATURES) + 2 or len(val) == 0:
        return pd.DataFrame(columns=_TRAIN_COLS).astype({"product": str})

    ytr = train.total_quantity.to_numpy(np.float64)
    yv = val.total_quantity.to_numpy(np.float64)
    wape = lambda y, yh: float(np.abs(y - yh).sum() / np.abs(y).sum())  # noqa: E731

    # candidates: (sort_key, family, lam, nl, train_wape, val_wape)
    # sort_key leads with val MAPE; family index + (lam, nl) break ties
    # deterministically.
    best = None
    for lam in GRID_LAMBDAS:
        for nl in GRID_LAGS:
            xtr = _design(train, nl)
            beta = _ridge(xtr, ytr, lam)
            yhat_v = _design(val, nl) @ beta
            mape = float(np.mean(np.abs((yv - yhat_v) / yv)))
            key = (mape, 0, lam, nl)
            if best is None or key < best[0]:
                best = (key, "ridge", lam, nl, wape(ytr, xtr @ beta), wape(yv, yhat_v))
    for fam_ix, fam in ((1, "seasonal_naive"), (2, "moving_avg7")):
        if fam == "seasonal_naive":
            yhat_tr = train["lag_7"].to_numpy(np.float64)
            yhat_v = val["lag_7"].to_numpy(np.float64)
        else:
            lag7 = [f"lag_{i}" for i in range(1, 8)]
            yhat_tr = train[lag7].to_numpy(np.float64).mean(axis=1)
            yhat_v = val[lag7].to_numpy(np.float64).mean(axis=1)
        mape = float(np.mean(np.abs((yv - yhat_v) / yv)))
        key = (mape, fam_ix, 0.0, 7)
        if key < best[0]:
            best = (key, fam, 0.0, 7, wape(ytr, yhat_tr), wape(yv, yhat_v))
    _, fam, lam, nl, train_wape, val_wape = best
    if fam == "ridge":
        coef = list(map(float, _ridge(
            _design(pdf, nl), pdf.total_quantity.to_numpy(np.float64), lam)))
    else:
        coef = []  # fit-free family: the "model" is its name
    return pd.DataFrame({
        "product": [pdf["product"].iloc[0]],
        "best_family": [fam],
        "best_lambda": [lam], "best_n_lags": [nl],
        "n_train": [len(train)], "n_test": [len(val)],
        "train_wape": [train_wape],
        "test_wape": [val_wape],
        "test_mape": [best[0][0]],
        "coef": [coef],
    })


def train_best_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product grid search → one best-config row (with refit
    coefficients) per product. One shuffle on product; the 8-config grid
    runs inside each pandas group, so grid size multiplies CPU per
    group, not shuffle volume."""
    return (
        feature_frame(spark, sf_dir)
        .groupBy("product")
        .applyInPandas(_fit_group, schema=_TRAIN_SCHEMA)
    )


@register(
    "ml_train_per_product",
    oracle=None,  # linear solve isn't SQL-expressible; rows-only + unit tests
    doc="U3 faithful: per-product search over MODEL FAMILIES (ridge-AR "
        "grid of 4 λ × 2 orders vs seasonal-naive vs 7-day moving "
        "average) in groupBy(product).applyInPandas, winner selected by "
        "validation MAPE with a deterministic tie-break, ridge winners "
        "refit on full history — the reference's RF/SVR/MLP grid + "
        "best-model-per-product protocol (EDA.ipynb cells 58-69) with "
        "deterministic families. Winners persist via save_models/"
        "load_models (parquet model sink, S5) and drive ml_forecast_14d. "
        "Driver-facing projection serializes coef (array<double>) to a "
        "JSON string: the harness canonicalizes results through pandas "
        "sort_values, which cannot hash list cells; the internal "
        "relation train_best_models() keeps the typed array for the "
        "model sink.",
)
def q_ml_train_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return train_best_models(spark, sf_dir).withColumn(
        "coef", F.to_json(F.transform("coef", lambda c: F.round(c, 6)))
    )


def save_models(models: DataFrame, path: str) -> None:
    """Model sink (S5): the per-product winners ARE a relation —
    persist as parquet (schema'd, splittable, readable by any engine),
    the distributed analog of the reference's per-product .pkl files."""
    models.write.mode("overwrite").parquet(path)


def load_models(spark: SparkSession, path: str) -> DataFrame:
    """Model source (S5): reload persisted per-product models."""
    return spark.read.parquet(path)


@register(
    "ml_sparkml_global",
    oracle=None,  # iterative/JVM training; rows-only + unit tests
    doc="U3 idiomatic scale path: ONE global pyspark.ml model "
        "(StringIndexer(product) → OneHotEncoder → VectorAssembler → "
        "LinearRegression solver='normal', JVM-distributed WLS) scored "
        "per product with expression-level WAPE on the held-out rows",
)
def q_ml_sparkml_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    # right-size before caching: the lag/window pipeline leaves the frame
    # at spark.sql.shuffle.partitions (200 under the driver's defaults);
    # iterative fitting then runs many small jobs over the cached frame,
    # each paying per-task overhead on every near-empty partition
    # hash-partition on product (not round-robin: RoundRobinPartitioning
    # perturbs row order, and seeded tree/sample draws are order-
    # sensitive — results must not depend on the incoming partitioning)
    df = (feature_frame(spark, sf_dir)
          .repartition(spark.sparkContext.defaultParallelism, "product")
          .sortWithinPartitions("product", "date")
          .cache())
    train = df.filter(F.col("is_test") == 0)
    pipe = Pipeline(stages=[
        StringIndexer(inputCol="product", outputCol="product_ix",
                      handleInvalid="keep", stringOrderType="alphabetAsc"),
        OneHotEncoder(inputCol="product_ix", outputCol="product_oh"),
        VectorAssembler(inputCols=FEATURES + ["product_oh"],
                        outputCol="features"),
        LinearRegression(featuresCol="features", labelCol="total_quantity",
                         solver="normal", regParam=1e-3,
                         elasticNetParam=0.0, standardization=True),
    ])
    model = pipe.fit(train)
    scored = model.transform(df.filter(F.col("is_test") == 1))
    out = scored.groupBy("product").agg(
        F.count("*").alias("n_test"),
        (F.sum(F.abs(F.col("total_quantity") - F.col("prediction")))
         / F.sum(F.abs("total_quantity"))).alias("test_wape"),
    )
    # the cache exists for the iterative fit, which is done — drop it
    # so repeated invocations (bench reps, the 187-query driver sweep)
    # don't pin one copy per run; the returned plan recomputes the
    # feature frame once at action time instead
    df.unpersist()
    return out


_FORECAST_SCHEMA = "product string, step int, date date, predicted_quantity double"


HORIZON = 14


def _forecast_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Recursive multi-step forecast for one product (ref EP3 forecast
    table, dashboard.py:769-784) using that product's PERSISTED best
    model: roll forward ``HORIZON`` days feeding each prediction back
    into the lag vector. (Single-argument on purpose: applyInPandas
    passes (key, pdf) to two-parameter functions.)"""
    pdf = pdf.sort_values("date")
    fam = str(pdf["best_family"].iloc[0]) if "best_family" in pdf else "ridge"
    nl = int(pdf["best_n_lags"].iloc[0])
    beta = np.asarray(pdf["coef"].iloc[0], dtype=np.float64)

    lags = list(pdf.total_quantity.iloc[-nl:])[::-1]  # lag_1 first
    last_date = pd.Timestamp(pdf.date.iloc[-1])
    rows = []
    for step in range(1, HORIZON + 1):
        d = last_date + pd.Timedelta(days=step)
        dow = (d.dayofweek) % 7
        if fam == "seasonal_naive":
            pred = float(lags[6])
        elif fam == "moving_avg7":
            pred = float(np.mean(lags[:7]))
        else:
            feat = np.array([1.0, *lags, float(d.month), float(dow),
                             1.0 if dow >= 5 else 0.0])
            pred = float(feat @ beta)
        rows.append((pdf["product"].iloc[0], step, d.date(), pred))
        lags = [pred] + lags[:-1]
    return pd.DataFrame(rows, columns=["product", "step", "date", "predicted_quantity"])


def forecast_from_models(features: DataFrame, models: DataFrame) -> DataFrame:
    """14-day recursive forecast driven by a models relation (either
    fresh from :func:`train_best_models` or reloaded via
    :func:`load_models` — the round-trip is tested bit-identical).

    The models side is tiny (one row per product) → broadcast join onto
    the feature history; the applyInPandas group then carries its own
    (n_lags, coef) so no driver-side state exists at all.
    """
    return (
        features.join(
            F.broadcast(models.select("product", "best_family", "best_n_lags", "coef")),
            "product",
        )
        .groupBy("product")
        .applyInPandas(_forecast_group, schema=_FORECAST_SCHEMA)
    )


@register(
    "ml_forecast_14d",
    oracle=None,  # recursive linear solve — rows-only + determinism test
    doc="EP3's forecast table: 14-day recursive forecast per product "
        "using each product's grid-selected best model (broadcast model "
        "join + applyInPandas; each step feeds its prediction back into "
        "the lag vector — the reference's predict-with-best_model loop, "
        "distributed across products)",
)
def q_ml_forecast_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    models = train_best_models(spark, sf_dir)
    return forecast_from_models(feature_frame(spark, sf_dir), models)


@register(
    "ml_rf_grid",
    oracle=None,  # iterative JVM training — rows-only + unit test
    doc="U3's RF grid, JVM-native: RandomForestRegressor under "
        "TrainValidationSplit over a numTrees x maxDepth grid (the "
        "reference's 3x3 RF search, EDA.ipynb cell 58, sized 2x2 here), "
        "seeded throughout for determinism; winner scored per product "
        "with expression-level WAPE on the held-out rows. Training is "
        "JVM-distributed — each grid candidate fits on the cluster, no "
        "Python in the loop.",
)
def q_ml_rf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import StringIndexer, VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    # right-size before caching: the lag/window pipeline leaves the frame
    # at spark.sql.shuffle.partitions (200 under the driver's defaults);
    # iterative fitting then runs many small jobs over the cached frame,
    # each paying per-task overhead on every near-empty partition
    # hash-partition on product (not round-robin: RoundRobinPartitioning
    # perturbs row order, and seeded tree/sample draws are order-
    # sensitive — results must not depend on the incoming partitioning)
    df = (feature_frame(spark, sf_dir)
          .repartition(spark.sparkContext.defaultParallelism, "product")
          .sortWithinPartitions("product", "date")
          .cache())
    train = df.filter(F.col("is_test") == 0)
    rf = RandomForestRegressor(
        featuresCol="features", labelCol="total_quantity", seed=42,
        maxBins=128,  # >= |products|: the indexed product col is categorical
    )
    pipe = Pipeline(stages=[
        StringIndexer(inputCol="product", outputCol="product_ix",
                      handleInvalid="keep", stringOrderType="alphabetAsc"),
        VectorAssembler(inputCols=FEATURES + ["product_ix"], outputCol="features"),
        rf,
    ])
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, [10, 30])
        .addGrid(rf.maxDepth, [3, 6])
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            metricName="mae", labelCol="total_quantity", predictionCol="prediction"
        ),
        trainRatio=0.8,
        seed=42,
        # fit all 4 grid candidates concurrently — each fit is itself
        # JVM-distributed, and candidate-level parallelism does not
        # change the (seeded) result, only the wall time
        parallelism=4,
    )
    model = tvs.fit(train)
    best_rf = model.bestModel.stages[-1]
    scored = model.transform(df.filter(F.col("is_test") == 1))
    out = scored.groupBy("product").agg(
        F.count("*").alias("n_test"),
        (F.sum(F.abs(F.col("total_quantity") - F.col("prediction")))
         / F.sum(F.abs("total_quantity"))).alias("test_wape"),
        F.lit(best_rf.getNumTrees).alias("best_num_trees"),
        F.lit(best_rf.getMaxDepth()).alias("best_max_depth"),
    )
    # cache served the TrainValidationSplit fits — release it (see
    # q_ml_sparkml_global)
    df.unpersist()
    return out
