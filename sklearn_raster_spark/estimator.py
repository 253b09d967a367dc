"""SparkEstimator: apply a fitted sklearn-compatible estimator to a
FeatureFrame, distributed.

Reference parity: src/sklearn_raster/estimator.py wraps an estimator so
predict / predict_proba / transform / inverse_transform / kneighbors
run batch-wise over an n-d array with NoData handling. Here every method
first runs ``SparkEstimator._prepare``: it checks the fit, turns a
DataFrame into a FeatureFrame and validates feature names. Then
``SparkEstimator._apply`` picks a backend — Catalyst expressions when
the model can compile the method (``*_to_spark_columns``), else
``FeaturewiseUfunc`` (one ``mapInArrow`` pass that skips NoData rows and
scatters the nodata encoding back itself) with the model broadcast to
executors once, not per task. Approximate kneighbors takes the LSH
bucket join instead of ``_apply``. Every backend builds its result
through ``ufunc.output_frame``, so the output NoData registry is derived
from the declared ``Output`` list in one place.

The wrapped estimator is duck-typed (fit/predict/...); no sklearn
import is required — any object with the method works, including the
numpy reference models in ``sklearn_raster_spark.estimators``.

Output dtype policy (reference estimator.py:29-33, 200-203, 328,
496-497): classifier/clusterer -> int, regressor/unknown -> double,
predict_proba -> double, kneighbors -> (double distances, int indices).
"""

from __future__ import annotations

import warnings
from typing import Any, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.ufunc import FeaturewiseUfunc, Output, output_frame

# method -> the model hook that compiles it to Catalyst expressions
_COMPILED_HOOKS = {
    "predict": "to_spark_columns",
    "transform": "transform_to_spark_columns",
    "inverse_transform": "inverse_transform_to_spark_columns",
}


class NotFittedError(RuntimeError):
    pass


def warn_if_output_collisions(result: FeatureFrame) -> int:
    """Emit the reference's nodata-collision warning
    (ufunc/_base.py:453-466) if the predict kernel counted any valid
    outputs equal to the NoData encoding. Call after EXACTLY ONE action
    has run on the result: accumulators populate with job execution and
    RE-ADD on every further action (and on task retries/speculation),
    so the count is only exact for a single clean action — treat it as
    "nonzero means collisions exist", not as an exact tally. Returns
    the accumulated count."""
    acc = getattr(result, "_collision_acc", None)
    n = acc.value if acc is not None else 0
    if n:
        warnings.warn(
            f"{n} valid output value(s) equal the nodata_output encoding and "
            "will be indistinguishable from masked NoData downstream. Choose "
            "a nodata_output outside the estimator's output range.",
            stacklevel=2,
        )
    return n


def _require_fitted(est: "SparkEstimator") -> None:
    if not est._fitted:
        raise NotFittedError(
            "estimator is not fitted; call .fit(X, y) before applying it"
        )


def _require_method(obj: Any, name: str) -> None:
    if not callable(getattr(obj, name, None)):
        raise NotImplementedError(
            f"wrapped estimator {type(obj).__name__} does not implement {name}()"
        )


def _estimator_is_fitted(estimator: Any) -> bool:
    """Duck-typed fitted check (sklearn ``check_is_fitted`` convention):
    any instance attribute ending in a single trailing underscore marks
    post-fit state; ``_X``/``_y`` cover the local k-NN models that keep
    their training set directly."""
    try:
        attrs = vars(estimator)
    except TypeError:
        return False
    return any(
        (k.endswith("_") and not k.startswith("__")) or k in ("_X", "_y")
        for k in attrs
    )


def _clone_unfitted(estimator: Any) -> Any:
    """Fresh unfitted instance with the same hyperparameters —
    ``sklearn.base.clone`` semantics without the sklearn dependency:
    use ``get_params()`` when offered, else pull constructor-signature
    names off the instance (the sklearn convention that ``__init__``
    stores each arg verbatim under its own name)."""
    import inspect

    cls = type(estimator)
    if callable(getattr(estimator, "get_params", None)):
        return cls(**estimator.get_params())
    params = {}
    for name, p in inspect.signature(cls.__init__).parameters.items():
        if name == "self" or p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD):
            continue
        if hasattr(estimator, name):
            params[name] = getattr(estimator, name)
        elif p.default is inspect.Parameter.empty:
            # constructor arg we cannot recover: give up on cloning
            raise TypeError(
                f"cannot clone {cls.__name__}: required __init__ arg "
                f"{name!r} is not stored on the instance"
            )
    return cls(**params)


class SparkEstimator:
    """Wrap an sklearn-compatible estimator for distributed inference."""

    def __init__(self, estimator: Any):
        # reference parity (estimator.py:763-774 `_reset_estimator`):
        # wrapping an already-fitted estimator warns and resets to a
        # clean clone — the wrapper's fit metadata (feature names,
        # target names) only exists for fits made THROUGH the wrapper.
        if _estimator_is_fitted(estimator):
            warnings.warn(
                "Wrapping estimator that has already been fit. The "
                "estimator must be fit again after wrapping.",
                stacklevel=2,
            )
            try:
                estimator = _clone_unfitted(estimator)
            except TypeError:
                pass  # unclonable: keep as-is (still must refit via wrapper)
        self.estimator = estimator
        self._fitted = False
        self.feature_names_in_: tuple[str, ...] | None = None
        self.n_features_in_: int | None = None
        self.target_names_in_: tuple[str, ...] = ("target",)

    # -- fit (driver-side; reference estimator.py:81-115) --------------

    def fit(
        self,
        X,
        y=None,
        feature_cols: Sequence[str] | None = None,
        label_cols: Sequence[str] | None = None,
        **kwargs,
    ) -> "SparkEstimator":
        """Fit driver-side. ``X`` may be a pandas DataFrame / ndarray, or
        a Spark DataFrame (collected; sample upstream for big tables —
        model fitting is intentionally NOT distributed, matching the
        reference where fit runs on plot/sample tables, not rasters)."""
        if isinstance(X, DataFrame):
            if feature_cols is None:
                raise ValueError("feature_cols is required when fitting from a Spark DataFrame")
            if y is not None and label_cols is None:
                # a separately-supplied y cannot be row-aligned with a
                # distributed X (toPandas order is not the caller's
                # order) — silently dropping it would fit unsupervised
                raise ValueError(
                    "pass label_cols= instead of y when fitting from a "
                    "Spark DataFrame; a driver-side y cannot be aligned "
                    "with distributed rows"
                )
            pdf = X.select(*feature_cols, *(label_cols or [])).toPandas()
            Xp = pdf[list(feature_cols)]
            y = pdf[list(label_cols)] if label_cols else None
        else:
            Xp = X

        if isinstance(Xp, pd.DataFrame):
            self.feature_names_in_ = tuple(map(str, Xp.columns))
            self.n_features_in_ = len(Xp.columns)
            X_arr = Xp.to_numpy(dtype=np.float64)
        else:
            X_arr = np.asarray(Xp, dtype=np.float64)
            self.feature_names_in_ = None
            self.n_features_in_ = X_arr.shape[1]

        y_arr = None
        if y is not None:
            if isinstance(y, pd.DataFrame):
                self.target_names_in_ = tuple(map(str, y.columns))
                y_arr = y.to_numpy()
            elif isinstance(y, pd.Series):
                self.target_names_in_ = (str(y.name or "target"),)
                y_arr = y.to_numpy()
            else:
                y_arr = np.asarray(y)
                self.target_names_in_ = tuple(
                    f"target_{i}" for i in range(y_arr.shape[1])
                ) if y_arr.ndim > 1 else ("target",)
            # squeeze (n,1) -> (n,) like the reference (estimator.py:96-101)
            if y_arr.ndim == 2 and y_arr.shape[1] == 1:
                y_arr = y_arr[:, 0]

        if y_arr is None:
            self.estimator.fit(X_arr, **kwargs)
        else:
            self.estimator.fit(X_arr, y_arr, **kwargs)
        self._fitted = True
        return self

    # -- name validation (reference estimator.py:796-851) --------------

    def _check_feature_names(self, names: Sequence[str]) -> None:
        fit_names = self.feature_names_in_
        if fit_names is None:
            warnings.warn(
                "estimator was fitted without feature names; applying to named columns",
                stacklevel=4,
            )
            return
        if tuple(names) == tuple(fit_names):
            return
        missing = [n for n in fit_names if n not in names]
        unseen = [n for n in names if n not in fit_names]
        if missing or unseen:
            raise ValueError(
                f"feature names mismatch: missing={missing} unseen={unseen} "
                f"(fitted on {list(fit_names)})"
            )
        raise ValueError(
            f"feature names are reordered: got {list(names)}, fitted on {list(fit_names)}"
        )

    def _estimator_kind(self) -> str:
        kind = getattr(self.estimator, "_estimator_type", None)
        if kind in ("classifier", "clusterer", "regressor"):
            return kind
        return "unknown"

    # -- the one apply path --------------------------------------------

    def _prepare(
        self,
        ff: FeatureFrame | DataFrame,
        method: str,
        features: Sequence[str] | None,
        fit_names: bool = True,
    ) -> FeatureFrame:
        """Check the fit and the method, turn a DataFrame into a
        FeatureFrame and check its feature names. ``fit_names`` says
        whether the inputs are the fit-time features: they name a
        DataFrame's features when ``features`` is not given, and a
        FeatureFrame's features must match them. Off for
        inverse_transform, whose inputs are transformed columns."""
        _require_fitted(self)
        _require_method(self.estimator, method)
        known = self.feature_names_in_ if fit_names else None
        if isinstance(ff, DataFrame):
            if features is None:
                if known is None:
                    raise ValueError("pass features= when the model has no fitted names")
                features = known
            ff = FeatureFrame.from_dataframe(ff, features)
        if fit_names:
            self._check_feature_names(ff.features)
        return ff

    def _apply(
        self,
        ff: FeatureFrame,
        method: str,
        outputs: list[Output],
        ufunc_kwargs: dict,
        *,
        compile_expressions: bool = False,
        count_collisions: bool = False,
        method_kwargs: dict | None = None,
    ) -> FeatureFrame:
        """Run ``estimator.<method>`` over the prepared ``ff`` into
        ``outputs``. ``ufunc_kwargs`` are the caller's
        ``FeaturewiseUfunc.map_batches`` options, kept apart from the
        backend controls so an unknown key fails there with a TypeError.

        Backends, each producing the same NoData scatter-back:
        - compiled: ``compile_expressions``, no ufunc options, and the
          model has the method's ``*_to_spark_columns`` hook — Catalyst
          expressions, one ``when(mask, nodata).otherwise(expr)`` per
          output, whole-stage codegen and no Python boundary. The ufunc
          options act inside the Arrow kernel, so passing any selects
          the Arrow backend; collisions are never counted here;
        - Arrow: otherwise — the model is broadcast once and
          ``FeaturewiseUfunc`` runs ``model.<method>(X, **method_kwargs)``
          per batch. ``count_collisions`` counts valid outputs equal to
          a registered encoding into an accumulator that
          ``warn_if_output_collisions`` reads."""
        hook_name = _COMPILED_HOOKS.get(method) if compile_expressions and not ufunc_kwargs else None
        hook = getattr(self.estimator, hook_name, None) if hook_name else None
        if callable(hook):
            exprs = hook(list(ff.features))
            slots = [(n, o) for o in outputs for n in o.names]
            if len(exprs) != len(slots):
                raise ValueError(f"compiled {len(exprs)} expressions for {len(slots)} outputs")
            mask = ff.nodata_mask()
            passthrough = [c for c in ff.df.columns if c not in ff.features]
            df = ff.df.select(
                *passthrough,
                *(
                    F.when(mask, F.lit(o.resolved_nodata())).otherwise(e).cast(o.dtype).alias(n)
                    for e, (n, o) in zip(exprs, slots)
                ),
            )
            return output_frame(df, outputs, ff, f"{method}:compiled")
        if count_collisions and any(o.registered_nodata() is not None for o in outputs):
            ufunc_kwargs["collision_counter"] = ff.df.sparkSession.sparkContext.accumulator(0)
        bc = ff.df.sparkSession.sparkContext.broadcast(self.estimator)
        kw = method_kwargs or {}

        def kernel(X):
            return getattr(bc.value, method)(X, **kw)

        df = FeaturewiseUfunc(kernel, outputs).map_batches(ff, **ufunc_kwargs)
        result = output_frame(df, outputs, ff, f"ufunc:{method}")
        result._collision_acc = ufunc_kwargs.get("collision_counter")
        return result

    # -- public surface (reference E3-E7) -------------------------------

    def predict(
        self,
        ff,
        features=None,
        nodata_output=None,
        compile_expressions=True,
        check_output_for_nodata=True,
        **kw,
    ) -> FeatureFrame:
        """``check_output_for_nodata`` (reference estimator.py predict
        kwarg; warning logic ufunc/_base.py:453-466): when True and the
        NoData encoding is not NaN, the Arrow kernel counts valid
        predictions that equal the encoding into a Spark accumulator;
        after any action on the result, ``warn_if_output_collisions``
        raises the reference's warning. (Execution is lazy, so the
        warning cannot fire before a job runs — the accumulator is the
        Spark dual of the reference's in-kernel warn.) The compiled
        backend does not count."""
        ff = self._prepare(ff, "predict", features)
        kind = self._estimator_kind()
        dtype = "int" if kind in ("classifier", "clusterer") else "double"
        names = self.target_names_in_ if kind not in ("clusterer",) else ("cluster",)
        out = Output(tuple(names), dtype=dtype, nodata=nodata_output)
        return self._apply(
            ff,
            "predict",
            [out],
            kw,
            compile_expressions=compile_expressions,
            count_collisions=check_output_for_nodata,
        )

    def predict_proba(self, ff, features=None, nodata_output=None, **kw) -> FeatureFrame:
        ff = self._prepare(ff, "predict_proba", features)
        classes = getattr(self.estimator, "classes_", None)
        if classes is None:
            raise NotImplementedError("predict_proba requires fitted classes_")
        names = tuple(f"proba_{c}" for c in classes)
        out = Output(names, dtype="double", nodata=nodata_output)
        return self._apply(ff, "predict_proba", [out], kw)

    def transform(self, ff, features=None, nodata_output=None, compile_expressions=True, **kw) -> FeatureFrame:
        ff = self._prepare(ff, "transform", features)
        _require_method(self.estimator, "get_feature_names_out")
        names = tuple(map(str, self.estimator.get_feature_names_out()))
        out = Output(names, dtype="double", nodata=nodata_output)
        return self._apply(ff, "transform", [out], kw, compile_expressions=compile_expressions)

    def inverse_transform(self, ff, features=None, nodata_output=None, compile_expressions=True, **kw) -> FeatureFrame:
        ff = self._prepare(ff, "inverse_transform", features, fit_names=False)
        if self.feature_names_in_ is not None:
            names = tuple(self.feature_names_in_)
        else:
            names = tuple(f"feature_{i}" for i in range(self.n_features_in_ or 0))
        out = Output(names, dtype="double", nodata=nodata_output)
        return self._apply(
            ff,
            "inverse_transform",
            [out],
            kw,
            compile_expressions=compile_expressions,
        )

    # fit sets at or below this row count broadcast comfortably; larger
    # ones route to the LSH similarity join under method="auto"
    KNN_BROADCAST_MAX_ROWS = 1_000_000

    def kneighbors(
        self,
        ff,
        n_neighbors: int | None = None,
        return_distance: bool = True,
        features=None,
        method: str = "auto",
        **kw,
    ) -> FeatureFrame:
        """k-NN of every row against the fit-time samples (reference
        estimator.py:345-518: distances + indices into the fit set,
        per-output nodata nan / int32 min).

        ``method``:
        - "exact": broadcast the fit set, brute-force per Arrow batch —
          exact, right whenever the fit set broadcasts (the reference's
          regime: plot tables).
        - "lsh": BucketedRandomProjectionLSH similarity join — the fit
          set becomes a DataFrame, candidates form only on bucket
          collisions, then per-row top-k. Approximate (rows with no
          colliding candidate get nodata), sub-linear candidate work:
          the 100 TB path when the fit set outgrows a broadcast.
        - "auto": exact while the fit set is broadcastable, else lsh.
        """
        if method not in ("auto", "exact", "lsh"):
            raise ValueError(f"method must be auto/exact/lsh, got {method!r}")
        ff = self._prepare(ff, "kneighbors", features)
        k = n_neighbors or getattr(self.estimator, "n_neighbors", 5)
        if method == "auto":
            n_fit = len(getattr(self.estimator, "_X", ()))
            method = "exact" if n_fit <= self.KNN_BROADCAST_MAX_ROWS else "lsh"
        # default encodings by dtype: NaN distances, int32-min indices
        dist_out = Output(tuple(f"dist_{i}" for i in range(1, k + 1)), "double")
        idx_out = Output(tuple(f"idx_{i}" for i in range(1, k + 1)), "int")
        outputs = [dist_out, idx_out] if return_distance else [idx_out]
        if method == "lsh":
            return output_frame(self._kneighbors_lsh(ff, outputs, **kw), outputs, ff, "kneighbors:lsh")
        return self._apply(
            ff,
            "kneighbors",
            outputs,
            kw,
            method_kwargs={"n_neighbors": k, "return_distance": return_distance},
        )

    def _kneighbors_lsh(
        self,
        ff: FeatureFrame,
        outputs: list[Output],
        bucket_length: float = 2.0,
        # 4 OR-amplified tables: measured recall 0.97 vs the exact path
        # on the driver embeddings (6 tables: 0.996 at ~2x the join
        # cost; the pytest floor is 0.9)
        num_hash_tables: int = 4,
        # the standard ufunc kwargs the EXACT path accepts, so a
        # method='auto' resolution flip (fit set crossing the broadcast
        # bound) cannot turn a working call into a TypeError: LSH
        # always skips NoData (the O4 filter below), so skip_nodata=
        # False is the one combination with no LSH meaning and raises;
        # ensure_min_samples mirrors the ufunc's O6 total-count check;
        # keep_features carries the input feature columns into the
        # output like the exact path's keep_cols; nan_fill is accepted
        # and ignored — it only ever acts under skip_nodata=False (with
        # skip-compaction on, NaN cells ARE row-level NoData and never
        # reach the kernel), and that regime raises on this path;
        # inner_thread_limit is accepted and ignored (no Python kernel
        # exists on this path); collision_counter is accepted but never
        # incremented — the LSH outputs cannot collide with their
        # encodings (dist nodata is NaN, which never equals a valid
        # float, and idx nodata is INT32_MIN while fit indices are
        # 0..n_fit-1).
        skip_nodata: bool = True,
        ensure_min_samples: int = 1,
        inner_thread_limit: int | None = None,
        nan_fill: float | None = 0.0,
        keep_features: bool = False,
        collision_counter=None,
    ) -> DataFrame:
        """Approximate kneighbors as an LSH bucket join (euclidean, same
        metric as the exact path) into ``outputs`` (the idx group last,
        optionally preceded by the dist group): both sides are hashed
        with ``BucketedRandomProjectionLSH``'s hash function, candidates
        form where ANY of the ``num_hash_tables`` buckets agree
        (OR-amplification), and each row keeps its top-k by
        (distance, fit_idx). Rows whose buckets caught fewer than k
        candidates carry the per-output nodata (nan / int32 min) in the
        tail slots — same encoding as the exact path.

        The join is hand-rolled rather than ``approxSimilarityJoin``:
        Spark's built-in dedups candidate PAIRS AS FULL ROWS (a distinct
        over struct<id, vector, hashes> on both sides) and re-evaluates
        the distance UDF per pair; here the hashing is the SAME family
        (h = floor(x·v / bucketLength), unit-norm Gaussian v, seeded) as
        ``BucketedRandomProjectionLSH`` but evaluated without an ML
        pipeline — fit-side keys come straight out of numpy on the
        driver (the fit set is already local), query-side dots run in
        one vectorized kernel against literal hyperplanes, so no
        fit/transform jobs and no vector-UDF round-trips sit in the hot
        path — same candidates, same recall, a fraction of the overhead."""
        if skip_nodata is False:
            raise NotImplementedError(
                "kneighbors(method='lsh') always skips NoData rows (they "
                "carry the nodata encodings via the left join); "
                "skip_nodata=False has no LSH meaning"
            )
        del inner_thread_limit  # accepted for exact-path parity; no Python kernel here
        del collision_counter  # accepted for parity; LSH outputs cannot collide (see above)
        del nan_fill  # accepted for parity; only meaningful under skip_nodata=False (raises here)
        if ensure_min_samples > 1:
            # reference O6 (mirrors ufunc.py): a minimum above the TOTAL
            # row count can never be satisfied by unmasking
            total = ff.df.count()
            if ensure_min_samples > total:
                raise ValueError(
                    f"Cannot ensure {ensure_min_samples} samples: the input "
                    f"has only {total} rows in total."
                )
        k = len(outputs[-1].names)
        fit_X = np.asarray(getattr(self.estimator, "_X"), dtype=np.float64)
        spark = ff.df.sparkSession

        # Seeded unit-norm Gaussian hyperplanes (the same projection
        # family BucketedRandomProjectionLSH draws; numpy-side so both
        # the fit keys and the literal query-side planes share them).
        rng = np.random.RandomState(42)
        planes = rng.standard_normal((num_hash_tables, fit_X.shape[1]))
        planes /= np.linalg.norm(planes, axis=1, keepdims=True)

        # Fit-side bucket keys computed on the driver: one vectorized
        # matmul over the (local) fit set replaces an ML-pipeline fit +
        # transform + posexplode subplan.
        fit_buckets = np.floor(fit_X @ planes.T / bucket_length).astype(np.int64)
        n_fit = fit_buckets.shape[0]
        fit_keys = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_tbl": np.tile(
                        np.arange(num_hash_tables, dtype=np.int64), n_fit
                    ),
                    "_bucket": fit_buckets.reshape(-1),
                    "fit_idx": np.repeat(
                        np.arange(n_fit, dtype=np.int64), num_hash_tables
                    ),
                }
            ),
            # scalar int64 columns infer fine on both paths, but the
            # explicit schema keeps this upload bare-session-proof too
            schema="_tbl long, _bucket long, fit_idx long",
        )

        from sklearn_raster_spark.utils.cache import shared_lineage

        # PIN the row ids: monotonically_increasing_id is partition-
        # layout dependent, and `data` is evaluated twice (the vec/topk
        # subtree and the scatter-back left join below) — without the
        # persist, an upstream repartition/sample/task-retry could
        # assign DIFFERENT ids per evaluation and join rows to the
        # wrong top-k (the same self-join-input rule every dedup
        # operator follows via shared_lineage).
        data = shared_lineage(ff.df.withColumn("_rid", F.monotonically_increasing_id()))
        # NoData rows never enter the join (the skip-compaction filter,
        # O4); they fall out of the left join below with NULL candidates
        # and therefore carry the nodata encodings — scatter-back for free
        arr_expr = F.expr(
            "array(" + ", ".join(f"CAST(`{c}` AS DOUBLE)" for c in ff.features) + ")"
        )
        vec = data.filter(~ff.nodata_mask()).select("_rid", arr_expr.alias("arr"))

        # Query-side bucket ids: floor(dot(arr, plane_t) / bucket_length)
        # per table. plane_dots_kernel evaluates each dot as the same
        # sequential float64 fold as the SQL expression
        #   CAST(FLOOR(aggregate(zip_with(arr, array(<plane lits>),
        #        (x, p) -> x * p), 0D, (acc, x) -> acc + x) / <len>D)
        #        AS LONG)
        # (bit-equality pinned by tests/test_fold_kernels.py), so every
        # row lands in the bucket that expression defines. The query
        # side CARRIES its feature array through the explode: the
        # bucket join below is broadcast (fit side is the small one), so
        # scan -> hash -> explode -> join -> candidate-set aggregate
        # fuses into ONE map-side stage — no shuffle of candidate pairs,
        # no join back to the query vectors.
        from sklearn_raster_spark.utils.fold_kernels import (
            knn_topk_map,
            plane_dots_kernel,
        )

        dots = plane_dots_kernel([list(map(float, p)) for p in planes])
        q_keys = vec.select(
            "_rid",
            "arr",
            F.posexplode(
                F.transform(
                    dots(F.col("arr")),
                    lambda x: F.floor(x / F.lit(float(bucket_length))).cast("long"),
                )
            ).alias("_tbl", "_bucket"),
        ).withColumn("_tbl", F.col("_tbl").cast("long"))
        # Candidate DEDUP happens map-side, BEFORE any distance math: a
        # (_rid, fit_idx) pair colliding in several tables appears once
        # per table, and the partial (map-side) hash aggregate of the
        # groupBy collapses duplicates locally — the exchange carries ONE
        # slim row per query row per input partition (candidate-idx set
        # + its feature array), not candidate pairs.
        cand_sets = q_keys.join(F.broadcast(fit_keys), ["_tbl", "_bucket"]).groupBy(
            "_rid"
        ).agg(
            F.collect_set("fit_idx").alias("cand_idx"),
            F.first("arr").alias("arr"),  # identical across a _rid's rows
        )
        # Distance + top-k run in ONE mapInArrow kernel over the
        # aggregated candidate sets: each query row crosses the Python
        # boundary once with its candidate ID SET, never once per pair.
        # Bit-identical dist values, tie order and padding to the exact
        # brute force (tests/test_fold_kernels.py::test_knn_topk).
        # cand_sets left the exchange hash-partitioned on _rid and
        # mapInArrow preserves partitioning, so the scatter-back join
        # below reuses that layout: one shuffle on the candidate path.
        topk = knn_topk_map(
            cand_sets.select("_rid", "arr", "cand_idx"), fit_X, k
        )
        out_cols = [
            F.coalesce(F.col(n), F.lit(o.resolved_nodata())).alias(n)
            for o in outputs
            for n in o.names
        ]
        # keep_features mirrors the exact path's passthrough columns
        # (FeaturewiseUfunc.map_batches)
        passthrough = [
            c
            for c in data.columns
            if c != "_rid" and (keep_features or c not in ff.features)
        ]
        return data.join(topk, "_rid", "left").select(*passthrough, *out_cols)


def wrap(estimator: Any) -> SparkEstimator:
    """Reference-compatible constructor name (estimator.py:855-883)."""
    return SparkEstimator(estimator)
