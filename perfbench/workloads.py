"""The benchmark's workloads: which operations a pass runs, and how each
operation's output is checked.

Every operation is called through the engine's public entry points: a
registered query builder (``plans.registry``) or a ``SparkEstimator``
method. ``Op.run`` is the timed call; ``Op.check`` runs afterwards,
outside the timed window, and returns an error string or ``None``.
Query results that have a DuckDB oracle are compared with it at the end
of the run (``OracleCheck``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

# The registry queries of the "queries" workload, sized so that a run
# (JVM start, warm passes, timed passes) fits the benchmark's time
# budget; one representative per mechanism.
QUERIES = (
    # Entity resolution: q-gram blocking candidates, edit-distance
    # verification, and the connected-components fixpoint the dedup/CC
    # family shares.
    "q145_entity_resolution",
    # SimHash near-duplicates: the fingerprint fold runs in
    # utils.fold_kernels.
    "q53_simhash_neardup",
    # An availableNow windowed aggregation through the state store,
    # checkpoint and WAL into a memory sink.
    "q130_stream_tumbling_window",
    # A merge-upsert read: a refresh batch anti-joined against orders,
    # unioned in and aggregated (nothing is written).
    "q71_merge_upsert",
)

WORKLOADS = ("queries", "raster")
# Per workload: (warm passes, typical wall seconds of one timed pass and
# its output checks on a 4-core host; a raster check recomputes the
# call, so it costs as much as the timed call). The warm passes are
# untimed; the first one runs every code path cold, the others let JIT
# warm-up settle. A run then makes round(seconds / typical) timed passes
# (at least 2): a fixed count, so the median pass does not depend on how
# many passes happened to fit.
PASS_PLAN = {"queries": (2, 7.3), "raster": (2, 5.4)}

# Raster geometry: an H x W grid of BANDS float64 features, with
# NODATA_FRAC of the pixels masked (half by NaN, half by the registered
# sentinel). The k-NN fit set is kept small: the exact path sorts the
# full (batch x fit) distance matrix, so its cost grows with fit size.
RASTER_H = RASTER_W = 512
RASTER_BANDS = 8
RASTER_FILES = 8
NODATA_FRAC = 0.15
NODATA_SENTINEL = -9999.0
TRAIN_ROWS = 2000
KNN_FIT_ROWS = 32
KNN_K = 5
SAMPLE_VALID = 48
SAMPLE_MASKED = 16
INT32_MIN = -(2**31)


@dataclass
class Op:
    name: str
    run: Callable[[Callable[[], None]], Any]
    check: Callable[[Any], str | None]
    kind: str = "query"  # "query" | "raster"


# --------------------------------------------------------------------
# registry queries

# Row count of each benchmarked query that has no DuckDB oracle, as the
# engine returns it at sf0.1.
ROWS_ONLY = {"q53_simhash_neardup": 10041}


@dataclass
class QueryOutput:
    cols: list
    rows: list
    df: Any


def result_digest(rows, cols) -> str:
    """Order-insensitive digest of a result: sorted column names plus
    the oracle tests' canonical row multiset."""
    from oracle_utils import rows_to_multiset

    return hashlib.sha256(repr((sorted(cols), rows_to_multiset(rows, cols))).encode()).hexdigest()


class OracleCheck:
    """Compares query outputs with their DuckDB oracle at the end of a
    run. Each output is reduced to a row count and digest right after
    its timed window; the oracle SQL runs once, in ``finish``, after the
    Spark session has stopped, so it adds to neither ``setup_s`` nor
    any timed window."""

    def __init__(self, sf_dir: str, oracles: dict):
        self.sf_dir = sf_dir
        self.oracles = oracles  # query name -> oracle SQL
        self.outputs: list[tuple[str, int, str]] = []

    def record(self, name: str, out: QueryOutput) -> None:
        self.outputs.append((name, len(out.rows), result_digest(out.rows, out.cols)))

    def finish(self) -> list[str]:
        """One error per recorded output that differs from its oracle."""
        from oracle_utils import duckdb_conn

        expected = {}
        con = duckdb_conn(self.sf_dir)
        try:
            for name in sorted({n for n, _, _ in self.outputs}):
                res = con.execute(self.oracles[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                expected[name] = (len(rows), result_digest(rows, cols))
        finally:
            con.close()
        errors = []
        for name, n_rows, digest in self.outputs:
            exp_rows, exp_digest = expected[name]
            if n_rows != exp_rows:
                errors.append(f"{name}: {n_rows} rows, DuckDB oracle has {exp_rows}")
            elif digest != exp_digest:
                errors.append(f"{name}: values differ from the DuckDB oracle")
        return errors


def query_ops(spark, sf_dir: str, names) -> tuple[list[Op], OracleCheck]:
    from sklearn_raster_spark.plans.registry import load_all_queries

    registry = load_all_queries()
    oracle = OracleCheck(
        sf_dir, {n: registry[n].oracle for n in names if registry[n].oracle is not None}
    )
    ops = []
    for name in names:
        spec = registry[name]
        if spec.oracle is None and name not in ROWS_ONLY:
            raise KeyError(f"{name} has no oracle and no recorded row count")

        def run(after_build, fn=spec.fn):
            df = fn(spark, sf_dir)
            after_build()
            return QueryOutput(df.columns, df.collect(), df)

        def check(out: QueryOutput, name=name) -> str | None:
            if name in oracle.oracles:
                oracle.record(name, out)
                return None
            if len(out.rows) != ROWS_ONLY[name]:
                return f"{name}: {len(out.rows)} rows, expected {ROWS_ONLY[name]}"
            return None

        ops.append(Op(name, run, check))
    return ops, oracle


# --------------------------------------------------------------------
# raster


@dataclass
class Raster:
    path: str
    X: np.ndarray  # (n_pixels, bands), NaN / sentinel where masked
    masked: np.ndarray  # (n_pixels,) bool
    sample: np.ndarray  # pixel ids checked value by value

    @property
    def n_pixels(self) -> int:
        return self.X.shape[0]

    @property
    def n_masked(self) -> int:
        return int(self.masked.sum())


def band_names() -> list[str]:
    return [f"b{i}" for i in range(RASTER_BANDS)]


def generate_raster(seed: int, out_dir: str) -> Raster:
    """Seeded grid: smooth per-band gradients plus noise, with masked
    pixels placed uniformly at random. Written as RASTER_FILES parquet
    files so the scan splits into several tasks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = RASTER_H * RASTER_W
    yy, xx = np.divmod(np.arange(n), RASTER_W)
    X = rng.normal(size=(n, RASTER_BANDS))
    X += np.sin(yy / 97.0)[:, None] * np.arange(1, RASTER_BANDS + 1)
    X += np.cos(xx / 61.0)[:, None]
    n_masked = int(round(NODATA_FRAC * n))
    masked_ids = rng.choice(n, size=n_masked, replace=False)
    band = rng.integers(RASTER_BANDS, size=n_masked)
    half = n_masked // 2
    X[masked_ids[:half], band[:half]] = np.nan
    X[masked_ids[half:], band[half:]] = NODATA_SENTINEL
    masked = np.zeros(n, dtype=bool)
    masked[masked_ids] = True

    valid_ids = np.flatnonzero(~masked)
    sample = np.concatenate(
        [
            rng.choice(valid_ids, size=SAMPLE_VALID, replace=False),
            rng.choice(masked_ids, size=SAMPLE_MASKED, replace=False),
        ]
    )

    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, RASTER_FILES + 1).astype(int)
    for i in range(RASTER_FILES):
        lo, hi = bounds[i], bounds[i + 1]
        cols = {"pid": pa.array(np.arange(lo, hi, dtype=np.int64))}
        for b, name in enumerate(band_names()):
            cols[name] = pa.array(X[lo:hi, b])
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{i:02d}.parquet"))
    return Raster(out_dir, X, masked, np.sort(sample))


@dataclass
class RasterOutput:
    n_rows: int
    n_nodata: int
    sample: dict  # pid -> tuple of output values


@dataclass
class RasterCall:
    ff: Any  # the estimator's FeatureFrame
    output: RasterOutput | None = None  # filled in by the check


def _nodata_cond(col_name: str, dtype: str):
    from pyspark.sql import functions as F

    c = F.col(col_name)
    if dtype in ("double", "float"):
        return c.isNull() | F.isnan(c)
    return c.isNull() | (c == F.lit(INT32_MIN))


def _read_output(ff, sample_ids) -> RasterOutput:
    """Recompute the estimator's output in one aggregate action: row
    count, NoData rows, and the sample pixels' values."""
    from pyspark.sql import functions as F

    df = ff.df
    outs = list(ff.features)
    first = outs[0]
    pick = F.col("pid").isin([int(p) for p in sample_ids])
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(_nodata_cond(first, dict(df.dtypes)[first]), 1).otherwise(0)).alias("nd"),
        F.collect_list(F.when(pick, F.struct("pid", *outs))).alias("s"),
    ).first()
    sample = {r["pid"]: tuple(r[c] for c in outs) for r in got["s"]}
    return RasterOutput(int(got["n"]), int(got["nd"] or 0), sample)


def _compare(name, raster: Raster, out: RasterOutput, expect_fn, masked_value) -> str | None:
    if out.n_rows != raster.n_pixels:
        return f"{name}: {out.n_rows} output rows, expected {raster.n_pixels}"
    if out.n_nodata != raster.n_masked:
        return f"{name}: {out.n_nodata} NoData rows, generator masked {raster.n_masked}"
    if sorted(out.sample) != [int(p) for p in raster.sample]:
        return f"{name}: sample pixels missing from the output"
    valid = raster.sample[~raster.masked[raster.sample]]
    expected = expect_fn(raster.X[valid])
    for pid, exp_row in zip(valid, expected):
        got = np.asarray(out.sample[int(pid)], dtype=np.float64)
        if not np.allclose(got, exp_row, rtol=1e-9, atol=1e-12):
            return f"{name}: pixel {pid} output {got.tolist()} != driver model {list(exp_row)}"
    for pid in raster.sample[raster.masked[raster.sample]]:
        if not all(masked_value(v) for v in out.sample[int(pid)]):
            return f"{name}: masked pixel {pid} has a non-NoData output"
    return None


def _is_nan(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))


def raster_ops(spark, raster: Raster, seed: int, timings: dict) -> list[Op]:
    """The four SparkEstimator calls of the raster workload. Model fits
    happen here, once, and their driver time goes to ``timings``."""
    import time

    import pandas as pd

    from sklearn_raster_spark.estimator import SparkEstimator
    from sklearn_raster_spark.estimators.numpy_models import (
        GaussianNBNP,
        KNeighborsRegressorNP,
        LinearRegressionNP,
    )
    from sklearn_raster_spark.features import FeatureFrame

    names = band_names()
    ff = FeatureFrame.from_dataframe(
        spark.read.parquet(raster.path), names, nodata_input=NODATA_SENTINEL
    )

    rng = np.random.default_rng(seed + 1)
    valid_ids = np.flatnonzero(~raster.masked)
    train = pd.DataFrame(raster.X[rng.choice(valid_ids, TRAIN_ROWS, replace=False)], columns=names)
    w = rng.normal(size=RASTER_BANDS)
    y_reg = train.to_numpy() @ w + rng.normal(scale=0.1, size=TRAIN_ROWS)
    y_cls = np.digitize(y_reg, np.quantile(y_reg, [0.25, 0.5, 0.75]))
    knn_fit = train.iloc[:KNN_FIT_ROWS]

    t = time.perf_counter()
    linear = SparkEstimator(LinearRegressionNP()).fit(train, pd.Series(y_reg, name="y"))
    nb = SparkEstimator(GaussianNBNP()).fit(train, pd.Series(y_cls, name="cls"))
    knn = SparkEstimator(KNeighborsRegressorNP(n_neighbors=KNN_K)).fit(
        knn_fit, pd.Series(y_reg[:KNN_FIT_ROWS], name="y")
    )
    timings["fit_ms"] = (time.perf_counter() - t) * 1e3

    def knn_expect(X):
        dist, idx = knn.estimator.kneighbors(X, n_neighbors=KNN_K)
        return np.hstack([dist, idx])

    specs = [
        (
            "predict_arrow",
            lambda: linear.predict(ff, compile_expressions=False),
            linear.estimator.predict,
        ),
        (
            "predict_compiled",
            lambda: linear.predict(ff, compile_expressions=True),
            linear.estimator.predict,
        ),
        ("predict_proba", lambda: nb.predict_proba(ff), nb.estimator.predict_proba),
        ("kneighbors", lambda: knn.kneighbors(ff, method="exact"), knn_expect),
    ]

    def masked_value(v):
        return _is_nan(v) or v == INT32_MIN

    ops = []
    for name, build, expect_fn in specs:

        def run(after_build, build=build):
            ff = build()
            after_build()
            ff.df.write.format("noop").mode("overwrite").save()
            return RasterCall(ff)

        def check(call: RasterCall, name=name, expect_fn=expect_fn) -> str | None:
            # a second action, outside the timed window: the timed call
            # ends in the noop sink, which returns nothing to compare
            call.output = _read_output(call.ff, raster.sample)
            return _compare(name, raster, call.output, expect_fn, masked_value)

        ops.append(Op(name, run, check, kind="raster"))
    return ops
