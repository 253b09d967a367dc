"""FeaturewiseUfunc: declared-output batch kernels over FeatureFrames.

Reference parity: src/sklearn_raster/ufunc/_base.py:141-268 orchestrates
"apply an arbitrary (samples, features) -> (samples, k) callable per
chunk, with NoData skip/scatter-back and declared output metadata". The
Spark-native translation (SURVEY.md O1-O15):

- chunk            -> Arrow ``RecordBatch`` inside ``mapInArrow``
- declared outputs -> the ``mapInArrow`` output schema (Spark, like the
                      reference, needs output schema before execution)
- skip-NoData      -> the row-level NoData mask is one boolean column
                      of the projection over the source (JVM codegen);
                      the kernel runs ``func`` on the unmasked rows only
                      (reference O4, ufunc/_base.py:292-302)
- scatter-back     -> inside the same kernel: each output is allocated
                      full-size, prefilled with its ``nodata`` encoding,
                      and the valid results are written into the
                      unmasked slots (reference O5,
                      ufunc/_base.py:384-408). One scan of the source
                      and one pass across the Python boundary per call.
- ensure_min_samples -> per-batch padding of the valid rows inside the
                      kernel (not expressible relationally; reference
                      ufunc/_base.py:366-382)
- result frame     -> ``output_frame``: the declared outputs become the
                      features and register their encodings
                      (``Output.registered_nodata``). SparkEstimator's
                      compiled and LSH backends build their results
                      through it too.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from sklearn_raster_spark.features import FeatureFrame
from sklearn_raster_spark.utils.casting import default_nodata_for, validate_nodata
from sklearn_raster_spark.utils.threads import limit_inner_threads

def align_feature_frames(ffs: "list[FeatureFrame]", on: "list[str]") -> FeatureFrame:
    """Multi-input alignment (reference O11/O12, ufunc/_meta.py:263-285):
    equi-join the frames on their coordinate/key columns so one batch
    kernel sees all inputs' features; a sample is NoData if ANY input
    masks it (ufunc/_base.py:101-113) — with each input nullified
    first, NULL propagation through the join gives exactly that."""
    if not ffs:
        raise ValueError("need at least one FeatureFrame")
    all_feats: list[str] = []
    for ff in ffs:
        for f in ff.features:
            if f in all_feats:
                raise ValueError(f"duplicate feature {f!r} across inputs")
            all_feats.append(f)
    base = ffs[0].nullify_nodata()
    joined = base.df
    for ff in ffs[1:]:
        nn = ff.nullify_nodata()
        joined = joined.join(nn.df.select(*on, *nn.features), on=on, how="inner")
    md: dict = {}
    for ff in ffs:
        md.update(ff.metadata)
    return FeatureFrame(df=joined, features=tuple(all_feats), nodata_input={}, metadata=md)


def count_output_collisions(ff: FeatureFrame, nodata_output) -> int:
    """Reference O8 (ufunc/_base.py:453-466): count rows where a
    *valid* output legitimately equals the NoData encoding — the caller
    can warn that those rows will be indistinguishable after encoding.
    Eager (one count job); call only when the check matters.

    Must run BEFORE ``nodata_output`` is encoded into the frame: once a
    feature's registered NoData equals the tested value, masked rows
    and colliding valid rows are the same bit pattern and no post-hoc
    count can separate them (that in-flight distinction is what the
    kernel-side accumulator in FeaturewiseUfunc provides) — raise on
    that ambiguous call instead of silently counting masked rows."""
    from pyspark.sql import functions as F  # local: keep module header lean

    ambiguous = [
        n for n in ff.features if ff.nodata_input.get(n) == nodata_output
    ]
    if ambiguous:
        raise ValueError(
            f"features {ambiguous} already register {nodata_output!r} as "
            "their NoData encoding — masked rows are indistinguishable "
            "from colliding valid rows here; use the kernel-side "
            "collision accumulator (warn_if_output_collisions) instead"
        )
    cond = None
    for name in ff.features:
        c = F.col(name) == F.lit(nodata_output)
        cond = c if cond is None else (cond | c)
    return ff.df.filter(cond).count() if cond is not None else 0


_NP_DTYPE = {
    "double": np.float64,
    "float": np.float32,
    "int": np.int32,
    "bigint": np.int64,
    "smallint": np.int16,
    "tinyint": np.int8,
    "boolean": np.bool_,
}


@dataclass(frozen=True)
class Output:
    """Declared output column group (reference Dimension/Output,
    ufunc/_meta.py:22-150): names + one dtype + NoData encoding."""

    names: tuple[str, ...]
    dtype: str = "double"
    nodata: Any = None  # None => default for dtype (NaN / int min)

    def resolved_nodata(self):
        if self.nodata is None:
            return default_nodata_for(self.dtype)
        return validate_nodata(self.nodata, self.dtype)

    def registered_nodata(self):
        """The encoding a result frame registers in ``nodata_input``, or
        None for NaN: NaN is implicit NoData for float features and never
        equals a valid value, so it needs no sentinel and cannot collide
        (reference O8, ufunc/_base.py:453-466)."""
        nd = self.resolved_nodata()
        return None if isinstance(nd, float) and np.isnan(nd) else nd


def output_frame(
    df: DataFrame, outputs: Sequence[Output], source: FeatureFrame, op: str
) -> FeatureFrame:
    """The result FeatureFrame of one apply: the declared output columns
    become the features, each registering its output encoding so masked
    rows read as NoData downstream (a chained op must never consume a
    sentinel as a real value); ``op`` is appended to the history."""
    out = FeatureFrame(
        df=df,
        features=tuple(n for o in outputs for n in o.names),
        nodata_input={n: o.registered_nodata() for o in outputs for n in o.names},
        metadata=dict(source.metadata),
    )
    out._append_history(op)
    return out


class FeaturewiseUfunc:
    """Wrap ``func((n, n_features) ndarray) -> ndarray | tuple`` with
    declared outputs, NoData handling and batch padding."""

    def __init__(self, func: Callable[..., Any], outputs: Sequence[Output]):
        self.func = func
        self.outputs = tuple(outputs)
        names = [n for o in self.outputs for n in o.names]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate output names: {names}")

    # ------------------------------------------------------------------

    def __call__(self, ff: FeatureFrame, **kwargs) -> FeatureFrame:
        """Apply ``func`` to ``ff``; ``kwargs`` as for ``map_batches``."""
        name = getattr(self.func, "__name__", "callable")
        return output_frame(self.map_batches(ff, **kwargs), self.outputs, ff, f"ufunc:{name}")

    def map_batches(
        self,
        ff: FeatureFrame,
        *,
        skip_nodata: bool = True,
        ensure_min_samples: int = 1,
        nan_fill: float | None = 0.0,
        inner_thread_limit: int | None = 1,
        keep_features: bool = False,
        collision_counter=None,
    ) -> DataFrame:
        """The output DataFrame: the kept source columns followed by the
        declared outputs, computed in one ``mapInArrow`` pass."""
        from sklearn_raster_spark.session import ensure_workers_can_import

        ensure_workers_can_import(ff.df.sparkSession)
        df = ff.df
        if ensure_min_samples > 1:
            # reference O6 validation (ufunc/_base.py:367-371): a minimum
            # that exceeds the TOTAL sample count can never be satisfied
            # by unmasking — padding would silently fabricate data. Costs
            # one count job, only on the non-default path.
            total = df.count()
            if ensure_min_samples > total:
                raise ValueError(
                    f"Cannot ensure {ensure_min_samples} samples: the input "
                    f"has only {total} rows in total."
                )
        cols = df.columns
        feat_idx = [cols.index(f) for f in ff.features]
        keep_idx = [i for i, c in enumerate(cols) if keep_features or c not in ff.features]
        keep_cols = [cols[i] for i in keep_idx]
        out_names = [n for o in self.outputs for n in o.names]

        in_dtypes = dict(df.dtypes)
        schema = ", ".join(
            [f"`{c}` {in_dtypes[c]}" for c in keep_cols]
            + [f"`{n}` {o.dtype}" for o in self.outputs for n in o.names]
        )

        func = self.func
        outputs = self.outputs
        out_np = [_NP_DTYPE[o.dtype] for o in outputs]
        out_pa = [pa.from_numpy_dtype(t) for t in out_np]
        out_nodata = [o.resolved_nodata() for o in outputs]
        # reference O8: VALID outputs equal to the encoding are counted,
        # since downstream they are indistinguishable from masked rows
        out_collision_vals = [o.registered_nodata() for o in outputs]
        # the row mask rides as the last column of the one projection
        # over the source; it is never NULL (isNull ORs into it)
        mask_idx = len(cols) if skip_nodata else None

        def kernel(batches):
            with limit_inner_threads(inner_thread_limit):
                for batch in batches:
                    n = batch.num_rows
                    if n == 0:
                        continue
                    rows = (
                        slice(None)
                        if mask_idx is None
                        else ~batch.column(mask_idx).to_numpy(zero_copy_only=False)
                    )
                    # column-major (n_valid, n_features), one contiguous
                    # run per feature as the Arrow columns arrive: BLAS
                    # picks its summation order by memory layout, so the
                    # layout is part of the bit-exact output contract
                    X = np.vstack(
                        [
                            pc.cast(batch.column(i), pa.float64()).to_numpy(zero_copy_only=False)[rows]
                            for i in feat_idx
                        ]
                    ).T
                    nv = len(X)
                    # (k, n): each output column is a contiguous row
                    full = [
                        np.full((len(o.names), n), nd, dtype=npdt)
                        for o, nd, npdt in zip(outputs, out_nodata, out_np)
                    ]
                    if nv:
                        if nan_fill is not None:
                            X = np.where(np.isnan(X), nan_fill, X)
                        pad = max(0, ensure_min_samples - nv)
                        if pad:
                            # reference O6: temporarily unmask dummy rows so
                            # min-sample estimators see a full batch
                            X = np.vstack([X, np.full((pad, X.shape[1]), nan_fill or 0.0)])
                        res = func(X)
                        if not isinstance(res, tuple):
                            res = (res,)
                        if len(res) != len(outputs):
                            raise ValueError(
                                f"func returned {len(res)} outputs, declared {len(outputs)}"
                            )
                        hits = 0
                        for arr, dst, npdt, cval in zip(res, full, out_np, out_collision_vals):
                            arr = np.asarray(arr)
                            if arr.ndim == 1:
                                arr = arr[:, None]
                            if pad:
                                arr = arr[:nv]
                            if arr.shape != (nv, len(dst)):
                                raise ValueError(
                                    f"output shape {arr.shape} != ({nv}, {len(dst)})"
                                )
                            dst[:, rows] = arr.T.astype(npdt, copy=False)
                            if cval is not None and collision_counter is not None:
                                hits += int((arr == cval).sum())
                        if hits:
                            collision_counter.add(hits)
                    arrays = [batch.column(i) for i in keep_idx] + [
                        pa.array(col, type=pat) for dst, pat in zip(full, out_pa) for col in dst
                    ]
                    yield pa.RecordBatch.from_arrays(arrays, names=keep_cols + out_names)

        src = df.select("*", ff.nodata_mask().alias("_nodata_mask")) if skip_nodata else df
        return src.mapInArrow(kernel, schema=schema)
