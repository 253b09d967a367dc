"""Inference-engine tests mirroring the reference's test strategy
(SURVEY.md §5): differential parity vs the bare estimator on the same
data, NoData skip/scatter-back, declared outputs, name validation."""

import numpy as np
import pandas as pd
import pytest

from sklearn_raster_spark.estimator import NotFittedError, SparkEstimator
from sklearn_raster_spark.estimators import (
    GaussianNBNP,
    KNeighborsRegressorNP,
    LinearRegressionNP,
    PCANP,
    StandardScalerNP,
)
from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.ufunc import FeaturewiseUfunc, Output

RNG = np.random.default_rng(42)
N = 200
FEATURES = ["f0", "f1", "f2"]


@pytest.fixture(scope="module")
def train():
    X = RNG.normal(size=(N, 3))
    y = X @ np.array([1.5, -2.0, 0.5]) + 3.0 + RNG.normal(scale=0.1, size=N)
    return pd.DataFrame(X, columns=FEATURES), pd.Series(y, name="y")


@pytest.fixture(scope="module")
def sdf(spark, train):
    Xp, _ = train
    pdf = Xp.copy()
    pdf.insert(0, "id", range(len(pdf)))
    return spark.createDataFrame(pdf).repartition(4)


def _collect_sorted(df, key="id"):
    return df.orderBy(key).toPandas()


@pytest.mark.parametrize("compiled", [False, True], ids=["mapinpandas", "compiled"])
def test_predict_parity_with_bare_estimator(spark, sdf, train, compiled):
    """Differential oracle: wrapped == bare (reference
    tests/test_estimator.py:300-318) — on both execution paths."""
    Xp, y = train
    est = SparkEstimator(LinearRegressionNP()).fit(Xp, y)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    got = _collect_sorted(est.predict(ff, compile_expressions=compiled).df)["y"].to_numpy()
    want = est.estimator.predict(Xp.to_numpy())
    np.testing.assert_allclose(got, want, rtol=1e-12)


@pytest.mark.parametrize("compiled", [False, True], ids=["mapinpandas", "compiled"])
def test_predict_skips_and_scatters_nodata(spark, train, compiled):
    Xp, y = train
    est = SparkEstimator(LinearRegressionNP()).fit(Xp, y)
    pdf = Xp.copy()
    pdf.insert(0, "id", range(len(pdf)))
    pdf.loc[pdf.index[:20], "f1"] = np.nan  # NaN is implicit NoData
    sdf = spark.createDataFrame(pdf).repartition(4)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    out = _collect_sorted(est.predict(ff, nodata_output=-9999.0, compile_expressions=compiled).df)
    assert (out.loc[:19, "y"] == -9999.0).all()
    want = est.estimator.predict(Xp.to_numpy()[20:])
    np.testing.assert_allclose(out.loc[20:, "y"].to_numpy(), want, rtol=1e-12)


def test_sentinel_nodata_nullify(spark, train):
    Xp, _ = train
    pdf = Xp.copy()
    pdf.insert(0, "id", range(len(pdf)))
    pdf.loc[pdf.index[:5], "f0"] = -777.0
    sdf = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES, nodata_input={"f0": -777.0})
    assert ff.invalid().count() == 5
    nn = ff.nullify_nodata()
    assert nn.df.filter("f0 IS NULL").count() == 5
    assert "history" in nn.metadata


def test_predict_proba_columns_and_parity(spark):
    X = RNG.normal(size=(300, 4))
    y = (X[:, 0] + X[:, 1] > 0).astype(int)
    cols = [f"x{i}" for i in range(4)]
    Xp = pd.DataFrame(X, columns=cols)
    est = SparkEstimator(GaussianNBNP()).fit(Xp, pd.Series(y, name="label"))
    pdf = Xp.copy()
    pdf.insert(0, "id", range(len(pdf)))
    sdf = spark.createDataFrame(pdf).repartition(3)
    ff = FeatureFrame.from_dataframe(sdf, cols)
    out = _collect_sorted(est.predict_proba(ff).df)
    assert {"proba_0", "proba_1"} <= set(out.columns)
    np.testing.assert_allclose(
        out[["proba_0", "proba_1"]].sum(axis=1).to_numpy(), 1.0, rtol=1e-9
    )
    want = est.estimator.predict_proba(X)
    np.testing.assert_allclose(out[["proba_0", "proba_1"]].to_numpy(), want, rtol=1e-9)


def test_transform_inverse_roundtrip(spark, sdf, train):
    Xp, _ = train
    est = SparkEstimator(StandardScalerNP()).fit(Xp)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    scaled = est.transform(ff)
    assert list(scaled.features) == ["scaled_0", "scaled_1", "scaled_2"]
    restored = est.inverse_transform(scaled, features=list(scaled.features))
    got = _collect_sorted(restored.df)[list(FEATURES)].to_numpy()
    np.testing.assert_allclose(got, Xp.to_numpy(), rtol=1e-9)


def test_pca_transform_shapes(spark, sdf, train):
    Xp, _ = train
    est = SparkEstimator(PCANP(n_components=2)).fit(Xp)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    out = est.transform(ff)
    pdf = _collect_sorted(out.df)
    assert {"pc0", "pc1"} <= set(pdf.columns)
    want = est.estimator.transform(Xp.to_numpy())
    np.testing.assert_allclose(pdf[["pc0", "pc1"]].to_numpy(), want, rtol=1e-9)


def test_kneighbors_parity(spark, sdf, train):
    Xp, y = train
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=3)).fit(Xp, y)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    out = _collect_sorted(est.kneighbors(ff, n_neighbors=3).df)
    dist_want, idx_want = est.estimator.kneighbors(Xp.to_numpy(), n_neighbors=3)
    np.testing.assert_allclose(
        out[["dist_1", "dist_2", "dist_3"]].to_numpy(), dist_want, rtol=1e-9
    )
    np.testing.assert_array_equal(out[["idx_1", "idx_2", "idx_3"]].to_numpy(), idx_want)


def test_feature_name_validation(spark, sdf, train):
    Xp, y = train
    est = SparkEstimator(LinearRegressionNP()).fit(Xp, y)
    # a model fitted on a bare array knows no names: a DataFrame input
    # needs features=
    unnamed = SparkEstimator(LinearRegressionNP()).fit(Xp.to_numpy(), y.to_numpy())
    scaler = SparkEstimator(StandardScalerNP()).fit(Xp.to_numpy())
    ff_reordered = FeatureFrame.from_dataframe(sdf, ["f1", "f0", "f2"])
    sdf2 = sdf.withColumnRenamed("f2", "other")
    ff_missing = FeatureFrame.from_dataframe(sdf2, ["f0", "f1", "other"])
    for compiled in (False, True):
        with pytest.raises(ValueError, match="reordered"):
            est.predict(ff_reordered, compile_expressions=compiled)
        with pytest.raises(ValueError, match="mismatch"):
            est.predict(ff_missing, compile_expressions=compiled)
        with pytest.raises(ValueError, match="pass features="):
            unnamed.predict(sdf, compile_expressions=compiled)
        with pytest.raises(ValueError, match="pass features="):
            scaler.transform(sdf, compile_expressions=compiled)


@pytest.mark.parametrize("compile_expressions", [True, False])
def test_ufunc_options_act_on_both_backends(spark, sdf, train, compile_expressions):
    """A ufunc option is honored whatever compile_expressions says: the
    options act inside the Arrow kernel, so passing one selects it."""
    Xp, _ = train
    est = SparkEstimator(StandardScalerNP()).fit(Xp)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    out = est.transform(ff, compile_expressions=compile_expressions, keep_features=True)
    assert {*FEATURES, "scaled_0", "scaled_1", "scaled_2"} <= set(out.df.columns)


def test_backend_controls_are_not_public_options(spark, sdf, train):
    """The apply path's backend controls never leak through a public
    method's **kw: an unknown key fails with the ufunc's TypeError
    instead of switching a check or a backend."""
    Xp, y = train
    reg = SparkEstimator(LinearRegressionNP()).fit(Xp, y)
    clf = SparkEstimator(GaussianNBNP()).fit(Xp, (y > y.median()).astype(int))
    scaler = SparkEstimator(StandardScalerNP()).fit(Xp)
    knn = SparkEstimator(KNeighborsRegressorNP(n_neighbors=2)).fit(Xp, y)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    calls = [
        lambda: reg.predict(ff, fit_names=False),
        lambda: scaler.transform(ff, lsh=True),
        lambda: clf.predict_proba(ff, count_collisions=True),
        lambda: clf.predict_proba(ff, compile_expressions=True),
        lambda: knn.kneighbors(ff, method="exact", compile_expressions=True),
        lambda: knn.kneighbors(ff, method="lsh", method_kwargs={}),
    ]
    for call in calls:
        with pytest.raises(TypeError, match="unexpected keyword"):
            call()


@pytest.mark.parametrize("compile_expressions", [True, False])
def test_inverse_transform_dataframe_needs_features(spark, sdf, train, compile_expressions):
    """inverse_transform's inputs are transformed columns, never the fit
    names: on a DataFrame that holds both, the fit names must not be
    taken as inputs (that would invert the original columns)."""
    Xp, _ = train
    est = SparkEstimator(StandardScalerNP()).fit(Xp)
    both = est.transform(
        FeatureFrame.from_dataframe(sdf, FEATURES), compile_expressions=False, keep_features=True
    ).df
    assert {*FEATURES, "scaled_0", "scaled_1", "scaled_2"} <= set(both.columns)
    with pytest.raises(ValueError, match="pass features="):
        est.inverse_transform(both, compile_expressions=compile_expressions)


def test_unfitted_raises(spark, sdf):
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    calls = [
        lambda: SparkEstimator(LinearRegressionNP()).predict(ff),
        lambda: SparkEstimator(GaussianNBNP()).predict_proba(ff),
        lambda: SparkEstimator(StandardScalerNP()).transform(ff),
        lambda: SparkEstimator(StandardScalerNP()).inverse_transform(ff),
        lambda: SparkEstimator(KNeighborsRegressorNP()).kneighbors(ff),
    ]
    for call in calls:
        with pytest.raises(NotFittedError):
            call()


def test_missing_method_raises(spark, sdf, train):
    Xp, y = train
    est = SparkEstimator(LinearRegressionNP()).fit(Xp, y)
    ff = FeatureFrame.from_dataframe(sdf, FEATURES)
    with pytest.raises(NotImplementedError):
        est.predict_proba(ff)


def test_ensure_min_samples_pads_small_batches(spark):
    """A partition with fewer valid rows than the estimator needs gets
    padded in-batch and padding is dropped (reference O6)."""
    calls = []

    def needs_five(X):
        assert X.shape[0] >= 5, f"batch of {X.shape[0]} reached the func"
        return X.sum(axis=1)

    vals = [float(i) for i in range(1, 7)]
    pdf = pd.DataFrame({"id": range(6), "a": vals, "b": [v + 3 for v in vals]})
    # total rows (6) satisfy the global check; per-partition batches (3)
    # are still smaller than the requested minimum, so padding kicks in
    sdf = spark.createDataFrame(pdf).repartition(2)
    ff = FeatureFrame.from_dataframe(sdf, ["a", "b"])
    uf = FeaturewiseUfunc(needs_five, [Output(("total",), "double")])
    out = uf(ff, ensure_min_samples=5).df.orderBy("id").toPandas()
    np.testing.assert_allclose(out["total"].to_numpy(), [v * 2 + 3 for v in vals])


def test_multi_output_ufunc(spark):
    pdf = pd.DataFrame({"id": range(4), "a": [1.0, 2.0, 3.0, 4.0]})
    sdf = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(sdf, ["a"])

    def double_and_square(X):
        return X[:, 0] * 2, X[:, 0] ** 2

    uf = FeaturewiseUfunc(
        double_and_square,
        [Output(("doubled",), "double"), Output(("squared",), "double")],
    )
    out = uf(ff).df.orderBy("id").toPandas()
    np.testing.assert_allclose(out["doubled"], [2, 4, 6, 8])
    np.testing.assert_allclose(out["squared"], [1, 4, 9, 16])


def test_ufunc_round_trips_nan_like_compiled_path(spark):
    """NaN is a value, not a NULL: a float passthrough column comes back
    unchanged on valid and masked rows alike, and a NaN the kernel
    computes for a valid row is written as computed, as the compiled
    path's when(mask, nodata).otherwise(expr) writes it."""
    nan = float("nan")
    extra = [nan, 1.5, nan, 2.5]
    sdf = spark.createDataFrame(
        [(0, extra[0], 1.0), (1, extra[1], -1.0), (2, extra[2], nan), (3, extra[3], 4.0)],
        "id long, extra double, a double",  # row 2 is NoData
    )
    assert sdf.filter("extra IS NULL").count() == 0  # NaN cells, not NULL
    ff = FeatureFrame.from_dataframe(sdf, ["a"])

    def sqrt(X):
        with np.errstate(invalid="ignore"):
            return np.sqrt(X[:, 0])  # NaN for the valid row a=-1

    uf = FeaturewiseUfunc(sqrt, [Output(("root",), "double", nodata=-9999.0)])
    rows = {r["id"]: r for r in uf(ff).df.collect()}
    for i, want in enumerate(extra):
        got = rows[i]["extra"]
        assert got is not None and (np.isnan(got) if np.isnan(want) else got == want), (i, got)
    assert rows[0]["root"] == 1.0
    assert rows[1]["root"] is not None and np.isnan(rows[1]["root"])
    assert rows[2]["root"] == -9999.0
    assert rows[3]["root"] == 2.0


def test_ufunc_without_skip_nodata_fills_and_computes(spark):
    """skip_nodata=False: a NaN or NULL feature is filled with nan_fill
    and the row reaches the kernel — its output is computed from the
    filled value, never set to nodata."""
    sdf = spark.createDataFrame(
        [(0, 1.0, 10.0), (1, float("nan"), 20.0), (2, 3.0, 30.0), (3, None, 40.0)],
        "id long, a double, b double",
    )
    ff = FeatureFrame.from_dataframe(sdf, ["a", "b"])

    def total(X):
        return X.sum(axis=1)

    uf = FeaturewiseUfunc(total, [Output(("total",), "double", nodata=-9999.0)])
    out = uf(ff, skip_nodata=False, nan_fill=5.0).df.orderBy("id").toPandas()
    assert out["total"].tolist() == [11.0, 25.0, 33.0, 45.0]
    masked = uf(ff, nan_fill=5.0).df.orderBy("id").toPandas()
    assert masked["total"].tolist() == [11.0, -9999.0, 33.0, -9999.0]


def test_nodata_output_dtype_validation(spark):
    from sklearn_raster_spark.utils.casting import validate_nodata

    with pytest.raises(ValueError, match="does not fit"):
        validate_nodata(0.5, "int")
    assert validate_nodata(2.0, "int", allow_cast=True) == 2
    with pytest.raises(ValueError, match="does not fit"):
        validate_nodata(float("nan"), "bigint")
    assert validate_nodata(3, "double") == 3


def test_encode_nodata_roundtrip(spark):
    pdf = pd.DataFrame({"id": range(4), "a": [1.0, np.nan, 3.0, np.nan]})
    sdf = spark.createDataFrame(pdf)
    ff = FeatureFrame.from_dataframe(sdf, ["a"]).nullify_nodata()
    enc = ff.encode_nodata(-1.0)
    vals = enc.df.orderBy("id").toPandas()["a"].tolist()
    assert vals == [1.0, -1.0, 3.0, -1.0]


def test_wrap_prefitted_resets_and_warns(train):
    """Reference parity (estimator.py:763-774): wrapping an estimator
    that is already fitted warns and resets it to an unfitted clone
    with the same hyperparameters — fit must go through the wrapper."""
    Xp, y = train
    bare = LinearRegressionNP()
    bare.fit(Xp.to_numpy(), y.to_numpy())
    assert hasattr(bare, "coef_")
    with pytest.warns(UserWarning, match="already been fit"):
        est = SparkEstimator(bare)
    # reset: the wrapped instance is a clean clone, not the fitted one
    assert est.estimator is not bare
    assert not hasattr(est.estimator, "coef_")
    assert not est._fitted
    with pytest.raises(NotFittedError):
        est.predict(None)
    # hyperparameters survive the clone (k-NN keeps its n_neighbors)
    knn = KNeighborsRegressorNP(n_neighbors=4)
    knn.fit(Xp.to_numpy(), y.to_numpy())
    with pytest.warns(UserWarning, match="already been fit"):
        wrapped = SparkEstimator(knn)
    assert wrapped.estimator.n_neighbors == 4
    assert not hasattr(wrapped.estimator, "_X")
    # refit-from-clean works and produces a usable estimator
    wrapped.fit(Xp, y)
    assert wrapped._fitted


def test_wrap_fresh_estimator_does_not_warn(train):
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        SparkEstimator(LinearRegressionNP())
