"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Two tiers, as a 100 TB engine needs both:
- brute-force cosine top-k (q55): exact baseline. The query set is tiny
  and broadcast; the corpus streams through a single narrow pass —
  dot products run JVM-side via F.aggregate (no Python, no shuffle of
  the corpus). Scales linearly; right up to ~10^9 corpus rows per query
  batch.
- LSH-bucketed ANN (q56): random-hyperplane buckets restrict candidates
  to matching buckets — the sub-linear scale path. Rows-only check
  (randomized projections aren't SQL).

Reference analog: kneighbors (estimator.py:345-518) is exactly a
similarity join of samples vs fit-set; q55 keeps its top-k-per-row
semantics (Window + row_number).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage
from sklearn_raster_spark.utils.vectors import finite_embedding

N_QUERIES = 5
TOP_K = 5


def dot_seq(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_reduce order:
    0.0 + x == x, then left-to-right)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def _cosine(qe: str, qnrm: str, ne: str, nnrm: str) -> Column:
    """6dp-rounded sequential-fold cosine from precomputed norms."""
    return F.round(
        dot_seq(F.col(qe), F.col(ne)) / (F.col(qnrm) * F.col(nnrm)), 6
    ).alias("cosine")


def cosine_top_k(sims: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (qid, nid, cosine) rows: cosine descending,
    ties by nid, 1-based int ``rn``. Every cosine ANN family ends
    here: brute force (q55), IVF (q69/q157) and sign-LSH (q155)."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "nid", "cosine", "rn")
    )


def embedding_dim(emb: DataFrame, expect: int | None = None) -> int:
    """Driver-side probe of the embedding dimension (one first() on a
    single-column projection — a bounded driver action, see VERDICT r5
    anti-pattern sweep). Raises ValueError on an empty table (first()
    would otherwise surface as an opaque NoneType TypeError) and, when
    `expect` is given, on dimension drift — zip_with/LIST_ZIP would
    null-pad and silently degenerate every downstream dot/band key."""
    # probe the first NON-NULL vector: with NULL embeddings in the
    # table, first() can land on a hole and misreport "empty"
    # (random-instance fuzz, seed 5)
    row = emb.filter(F.col("embedding").isNotNull()).select("embedding").first()
    if row is None or row[0] is None:
        raise ValueError(
            "embeddings table has no non-NULL vectors — cannot probe dimension"
        )
    dim = len(row[0])
    if expect is not None and dim != expect:
        raise ValueError(f"embeddings dim {dim} != expected {expect}")
    return dim


@query(
    "q55_knn_cosine_bruteforce",
    oracle=f"""
    WITH nn AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nn WHERE vec_id < {N_QUERIES}),
    sims AS (
        SELECT
            q.qid,
            e.vec_id AS nid,
            ROUND(
                LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, e.embedding),
                            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)
                / (SQRT(LIST_REDUCE(LIST_TRANSFORM(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b))
                 * SQRT(LIST_REDUCE(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)))
            , 6) AS cosine
        FROM q, nn e
        WHERE e.vec_id != q.qid
    )
    SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM sims
    ) WHERE rn <= {TOP_K}
    """,
    doc="Exact cosine top-k: broadcast query vectors x corpus scan, "
        "JVM-side sequential-fold dot product, per-query ranking window. "
        "Cosine rounded to 6 on both sides before ranking (ties broken "
        "by id) so cross-engine float summation cannot flip ranks.",
)
def q55_knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL vectors have no cosine; their NULL scores would also rank
    # differently across engines (Spark sorts NULL first, DuckDB last)
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qnrm"),
    )
    # corpus norms computed once per row BEFORE the join (not per pair)
    corpus = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nnrm"),
    )
    return cosine_top_k(
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", _cosine("qe", "qnrm", "ne", "nnrm")),
        TOP_K,
    )


@query(
    "q56_ann_lsh",
    doc="Approximate NN via BucketedRandomProjectionLSH over normalized "
        "embeddings (euclidean distance on unit vectors is monotone in "
        "cosine). Bucketing restricts candidates — the sub-linear path. "
        "Rows-only (seeded random projections).",
)
def q56_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # NULL vectors cannot be normalized or hashed
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # norm projected FIRST: referencing l2_norm(embedding) inside the
    # transform lambda re-evaluates the whole norm fold per element
    # (O(d^2) per row)
    norm = (
        emb.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias("unit"),
        )
        .select("vec_id", array_to_vector("unit").alias("features"))
    )
    # eager shared cache: the approxSimilarityJoin scans this lineage
    # for both the query side and the corpus side inside one job —
    # materialize once, tracked against repeat-invocation leaks
    norm = shared_lineage(norm)

    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(norm)
    queries = norm.filter(F.col("vec_id") < N_QUERIES)
    pairs = model.approxSimilarityJoin(queries, norm, threshold=1.2, distCol="euclid")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("qid"),
            F.col("datasetB.vec_id").alias("nid"),
            F.round("euclid", 6).alias("euclid"),
        )
    )


@query(
    "q54_kneighbors_lsh",
    doc="kneighbors through the LSH backend: the SAME estimator "
        "surface as q44 (SparkEstimator.kneighbors) with method='lsh' "
        "— fit set joined via BucketedRandomProjectionLSH buckets "
        "instead of broadcast brute force, the path that survives fit "
        "sets too big to broadcast. Rows-only (seeded random "
        "projections; recall >= 0.9 vs the exact path is pytest-"
        "asserted).",
)
def q54_kneighbors_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from sklearn_raster_spark.estimator import SparkEstimator
    from sklearn_raster_spark.estimators import KNeighborsRegressorNP
    from sklearn_raster_spark.operators.inference import (
        EMB_DIM,
        _collect_embeddings,
        _embedding_frame,
    )

    X, y = _collect_embeddings(spark, sf_dir)
    est = SparkEstimator(KNeighborsRegressorNP(n_neighbors=3))
    est.fit(
        pd.DataFrame(X[:100], columns=[f"e{i}" for i in range(EMB_DIM)]),
        pd.Series(y[:100].astype(float), name="label"),
    )
    ff = _embedding_frame(spark, sf_dir)
    out = est.kneighbors(ff, n_neighbors=3, method="lsh")
    return out.df.select("vec_id", "dist_1", "dist_2", "dist_3", "idx_1", "idx_2", "idx_3")


@query(
    "q57_embedding_neardup",
    oracle="""
    WITH nn AS (
        -- NULL embeddings (failed embedding jobs) cannot participate
        -- in similarity; without this filter LIST_REDUCE errors on
        -- the empty zip (random-instance fuzz)
        SELECT * FROM embeddings WHERE embedding IS NOT NULL
    ),
    sims AS (
        SELECT
            a.vec_id AS id_a,
            b.vec_id AS id_b,
            ROUND(
                LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding),
                            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x + y)
                / (SQRT(LIST_REDUCE(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y))
                 * SQRT(LIST_REDUCE(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y)))
            , 6) AS cosine
        FROM nn a
        JOIN nn b ON a.vec_id < b.vec_id AND a.label = b.label
    )
    SELECT id_a, id_b, cosine FROM sims WHERE cosine >= 0.35
    """,
    doc="High-similarity embedding pairs (cosine >= 0.35; the synthetic "
        "vectors are near-orthogonal, max intra-label cosine ~0.47) "
        "(a cheap blocking key standing in for an LSH bucket — the "
        "same pattern at scale, with hash buckets instead of labels).",
)
def q57_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.session import ensure_workers_can_import
    from sklearn_raster_spark.utils.fold_kernels import pairwise_cosine_table

    ensure_workers_can_import(spark)  # kernel resolves module globals
    # NULL embeddings drop at the scan (see oracle comment); NULL
    # labels never match the equi-join predicate (a.label = b.label is
    # never true on NULL in either engine), so they drop here too —
    # the grouped form would otherwise pair them with each other
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    # r12 OPT (guide §8, §4.2): the label-blocked self-join shipped
    # every embedding once PER PAIR (~block_size copies through the
    # join) and ran one interpreted 64-element fold per pair; the
    # grouped Arrow kernel ships each embedding ONCE per block and
    # computes the identical sequential-fold cosines vectorized
    # (bit-equality pinned by tests/test_fold_kernels.py; oracle hash
    # unchanged at sf0.01/sf0.1). Round + threshold stay in Spark, so
    # the query's boundary semantics are untouched.
    pairs = emb.select("vec_id", "label", "embedding").groupBy("label").applyInArrow(
        pairwise_cosine_table,
        schema="id_a bigint, id_b bigint, cosine_raw double",
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round("cosine_raw", 6).alias("cosine")
        )
        .filter(F.col("cosine") >= 0.35)
    )


def ivf_fit_centroids(
    emb: DataFrame,
    n_clusters: int = 16,
    fit_cap: int = 10_000,
    seed: int = 42,
):
    """Fit the IVF coarse quantizer on a HASH-ordered capped sample
    (unit-normalized for the cosine metric). Split out of ivf_topk so
    the sampling discipline is testable in isolation: the skew test
    (tests/test_ivf_sampling.py) fits on a deliberately id-correlated
    corpus and asserts the resulting cells stay bounded — the exact
    collapse q175 measured when the sample was an id prefix."""
    import numpy as np

    from sklearn_raster_spark.estimators.numpy_models import KMeansNP

    fit_pdf = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(fit_cap)
        .select("embedding")
        .toPandas()
    )
    X = np.array([np.asarray(e, dtype=np.float64) for e in fit_pdf["embedding"]])
    # cosine metric: quantize on the unit sphere
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    km = KMeansNP(n_clusters=min(n_clusters, len(Xn)), seed=seed).fit(Xn)
    return km.cluster_centers_


def ivf_topk(
    emb: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    n_clusters: int = 16,
    n_probe: int = 8,
    fit_cap: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate NN: the second scale path next
    to LSH (q56), trading LSH's oblivious random buckets for a LEARNED
    coarse quantizer.

    - Train: k-means on a deterministic capped sample, driver-side
      (the reference's fit-on-sample contract; centroid table is
      n_clusters x dim — trivially broadcastable at any corpus size).
      The sample is HASH-ordered (xxhash64 of the id), not id-ordered:
      an id-prefix sample covers only whatever region of the
      distribution early ids happen to occupy, and on id-correlated
      data the quantizer then collapses — measured on q175's derived
      item factors, where a prefix-fit left ONE cell holding 80% of
      the corpus (no pruning, no parallelism, 13x slower). The
      fixture embeddings are i.i.d., so recall there is unchanged;
      the hash order is what keeps the plan honest at 100x on real
      (id-correlated) corpora.
    - Index: ONE narrow corpus pass assigns each vector its nearest
      centroid via an Arrow-batched gemm kernel — no shuffle; at rest
      this would be the partition/Z-order key of the vector table.
    - Probe: each query explodes to its n_probe nearest centroids;
      candidates = corpus rows in probed cells via broadcast hash join
      (candidate volume ~ n_probe/n_clusters of the corpus; at real
      scale 64/4096 => 1.6% scanned).
    - Re-rank: exact JVM-fold cosine + per-query ranking window, same
      as the brute path — so precision loss comes ONLY from cell
      recall, pytest-pinned >= 0.75 vs q55.

    The driver corpus is near-orthogonal random vectors — the
    hardest case for a learned quantizer (cells carry little
    signal), hence the generous default n_probe=8/16; clustered
    real-world embeddings are where IVF's probe ratio pays off.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType

    from sklearn_raster_spark.session import ensure_workers_can_import

    spark = emb.sparkSession
    ensure_workers_can_import(spark)

    # NULL vectors can neither train the quantizer nor take a cell
    # assignment (the dense matrix builds below require a rectangle)
    emb = emb.filter(F.col("embedding").isNotNull())

    centers = ivf_fit_centroids(emb, n_clusters=n_clusters, fit_cap=fit_cap, seed=seed)
    bc = spark.sparkContext.broadcast(centers)

    def _cell_d2(vecs):
        c = bc.value
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        return (V * V).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * (V @ c.T)

    def _nearest(vecs):
        return pd.Series(np.argmin(_cell_d2(vecs), axis=1).astype(np.int32))

    def _probe(vecs):
        order = np.argsort(_cell_d2(vecs), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    nearest_cell = F.pandas_udf(_nearest, IntegerType())
    probe_cells = F.pandas_udf(_probe, "array<int>")

    corpus = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nnrm"),
        nearest_cell("embedding").alias("cell"),
    )
    probes = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            l2_norm(F.col("embedding")).alias("qnrm"),
            F.explode(probe_cells("embedding")).alias("cell"),
        )
    )
    return cosine_top_k(ivf_candidates(corpus, probes), k)


def ivf_candidates(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF candidate stage shared by the fitted (q69) and portable
    (q157) quantizers, which differ only in how cells are assigned:
    ``corpus`` is (nid, ne, nnrm, cell), one cell per vector;
    ``probes`` is (qid, qe, qnrm, cell), one row per probed cell of
    each query. Candidates are the corpus rows in probed cells
    (broadcast hash join — the probe table is n_queries x n_probe
    rows), scored by exact cosine. Each corpus row lives in exactly
    one cell and a query's probe cells are distinct, so pairs are
    already unique — no DISTINCT; the scanned fraction per query is
    n_probe / n_cells of the corpus."""
    return (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", _cosine("qe", "qnrm", "ne", "nnrm"))
    )


@query(
    "q69_ann_ivf",
    doc="IVF approximate NN: learned k-means coarse quantizer "
        "(driver-fit on the capped sample, broadcast), one-pass "
        "Arrow-gemm cell assignment, candidates restricted to each "
        "query's n_probe nearest cells via broadcast join, exact "
        "cosine re-rank. Rows-only (k-means init is seeded RNG, not "
        "SQL); recall >= 0.8 vs exact q55 is pytest-asserted.",
)
def q69_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(read_table(spark, sf_dir, "embeddings"))


# --- bounded-block embedding near-dup (the q57 scale companion) --------
#
# q57 blocks on `label` alone: all-pairs WITHIN a label is O(n²/L) and a
# hot label degenerates quadratic (round-2 finding). Here the block key
# is (label ∧ sign-bucket): each of SIGN_BANDS bands hashes a vector to
# SIGN_BITS sign bits of fixed random hyperplane projections, so every
# band splits a label block ~2^SIGN_BITS ways (bounded candidates), and
# OR-ing the bands recovers recall (p_collide = 1-(1-p_band)^B ≈ 0.98
# for cosine ≥ 0.35 at B=8, r=2). The hyperplanes are FIXED module
# constants (seeded, rounded to 6 dp), which makes the whole pipeline —
# projection folds, sign buckets, banded self-joins — bit-deterministic
# and therefore exactly replicable in the DuckDB oracle: a hash-graded
# LSH blocking query, unlike the rows-only seeded-RNG paths (q56/q69).

SIGN_BANDS = 8
SIGN_BITS = 2
_EMB_DIM = 64


def _sign_planes() -> list:
    """SIGN_BANDS × SIGN_BITS fixed hyperplanes (values rounded to 6 dp
    so both engines parse the identical doubles from literals)."""
    import numpy as np

    rng = np.random.RandomState(7)
    return np.round(
        rng.standard_normal((SIGN_BANDS, SIGN_BITS, _EMB_DIM)), 6
    ).tolist()


_PLANES = _sign_planes()


def _band_key_col(emb: Column, band: list) -> Column:
    bits = [
        F.when(dot_seq(emb, F.array(*[F.lit(float(v)) for v in plane])) > 0, "1").otherwise("0")
        for plane in band
    ]
    return F.concat(*bits)


def _oracle_dot(expr: str, plane: list) -> str:
    lits = ", ".join(repr(float(v)) for v in plane)
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP({expr}, [{lits}]), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x + y)"
    )


def _oracle_band_key(expr: str, band: list) -> str:
    bits = " || ".join(
        f"(CASE WHEN {_oracle_dot(expr, plane)} > 0 THEN '1' ELSE '0' END)"
        for plane in band
    )
    return bits


def _q100_oracle() -> str:
    keyed = ",\n               ".join(
        f"{_oracle_band_key('embedding', band)} AS bk{i}"
        for i, band in enumerate(_PLANES)
    )
    cand = "\n        UNION\n".join(
        f"        SELECT a.vec_id AS id_a, b.vec_id AS id_b\n"
        f"        FROM wb a JOIN wb b\n"
        f"          ON a.label = b.label AND a.vec_id < b.vec_id AND a.bk{i} = b.bk{i}"
        for i in range(len(_PLANES))
    )
    return f"""
    WITH wb AS (
        SELECT vec_id, label, embedding,
               {keyed}
        FROM embeddings
        WHERE embedding IS NOT NULL  -- NULL vectors carry no band key
    ),
    cand AS (
{cand}
    ),
    sims AS (
        SELECT c.id_a, c.id_b,
               ROUND(
                   LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding),
                               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x + y)
                   / (SQRT(LIST_REDUCE(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y))
                    * SQRT(LIST_REDUCE(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y)))
               , 6) AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, cosine FROM sims WHERE cosine >= 0.35
    """


def sign_band_keys(emb: DataFrame, planes: list, bits: int, carry: tuple) -> DataFrame:
    """Sign-LSH band keys shared by q100 and q155: (*carry, key0..),
    where band b's key is the '0'/'1' string of the signs of the
    embedding's dots with ``planes[b*bits:(b+1)*bits]`` (a flat list of
    hyperplanes). The dots come from one vectorized Arrow kernel,
    bit-identical to the ``_band_key_col`` expression folds, and keep
    the hyperplane literals out of the expression tree; the sign
    decisions (dot > 0, NULL -> '0') stay in Spark, matching the
    oracles' CASE WHEN."""
    from sklearn_raster_spark.utils.fold_kernels import plane_dots_kernel

    dotted = emb.select(
        *carry, plane_dots_kernel(planes)(F.col("embedding")).alias("_pd")
    )
    return dotted.select(
        *carry,
        *[
            F.concat(
                *[
                    F.when(F.element_at(F.col("_pd"), b * bits + k + 1) > 0, "1").otherwise("0")
                    for k in range(bits)
                ]
            ).alias(f"key{b}")
            for b in range(len(planes) // bits)
        ],
    )


def banded_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Distinct candidate pairs under the composed (label, sign-bucket)
    block key, unioned across bands. Per-band blocks are label blocks
    split ~2^SIGN_BITS ways (pytest-pinned below the label-only max);
    identical vectors still share every bucket — that floor is the
    point (they ARE the near-dups)."""
    wb = sign_band_keys(
        emb, [p for band in _PLANES for p in band], SIGN_BITS, ("vec_id", "label")
    )
    # eager shared cache: the key projection feeds BOTH sides of all 8
    # band self-joins — 16 re-evaluations without materialization
    wb = shared_lineage(wb)
    # Per-band self-joins, not one explode+(label, band, key) self-join
    # (the q155 shape): both give the identical pair set (multiset-
    # pinned in tests/test_llm_ops.py::test_banded_candidates_match_
    # per_band_reference), but the explode form measured SLOWER at
    # sf0.1 (medians 2.24/2.40/2.44 -> 2.72/2.81 s in alternating
    # same-window legs): the per-band joins all broadcast-probe this
    # small cached key table with zero exchanges, while the explode
    # form pays a real shuffle plus a double explode of the cache. At
    # cluster scale the two shuffle the same bytes (explode: one
    # exchange of 8x rows; per-band: 8 exchanges of 1x), so the local
    # form is kept — it is strictly better here and no worse there.
    per_band = [
        wb.alias("a").join(
            wb.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col(f"a.key{i}") == F.col(f"b.key{i}")),
        ).select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        for i in range(len(_PLANES))
    ]
    cand = per_band[0]
    for other in per_band[1:]:
        cand = cand.unionByName(other)
    return cand.distinct()


@query(
    "q100_bounded_neardup",
    oracle=_q100_oracle(),
    doc="Embedding near-dup pairs under BOUNDED blocks: the q57 scale "
        "companion. Candidates form only where label AND one of 8 "
        "two-bit sign-projection buckets agree (fixed 6-dp hyperplane "
        "constants, so the banding is bit-deterministic and the DuckDB "
        "oracle replicates it exactly — a hash-graded LSH pipeline). "
        "Exact cosine re-rank on the deduped candidate set. Per-band "
        "blocks are label blocks split ~4x (pytest-pinned), bounding "
        "the O(n²/B) blowup a hot label causes in q57; recall vs the "
        "exhaustive label join is ~0.98 by the banding math and "
        "pytest-pinned >= 0.85.",
)
def q100_bounded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings drop at the scan (they have no band key and no
    # cosine; the oracle's wb CTE applies the same filter)
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    with_norm = emb.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    cand = banded_candidate_pairs(emb)
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    return (
        cand.join(a, cand.id_a == F.col("a.vec_id"))
        .join(b, cand.id_b == F.col("b.vec_id"))
        .select("id_a", "id_b", _cosine("a.embedding", "a.nrm", "b.embedding", "b.nrm"))
        .filter(F.col("cosine") >= 0.35)
    )


@query(
    "q112_embedding_quantize",
    oracle="""
    WITH ex AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i)
        -- a missing vector quantizes to nothing, and a non-finite
        -- element poisons the per-dim scale (NaN*scale crashes the INT
        -- cast here while Spark yields NULL) — invalid vectors drop at
        -- the scan (utils/vectors.py contract)
        WHERE embedding IS NOT NULL
          AND LEN(LIST_FILTER(embedding, x -> NOT ISFINITE(x))) = 0
    ), sc AS (
        SELECT i, 127.0 / NULLIF(MAX(ABS(x)), 0) AS scale FROM ex GROUP BY i
    ), q AS (
        SELECT e.vec_id, e.i, CAST(FLOOR(e.x * s.scale + 0.5) AS INTEGER) AS qv
        FROM ex e JOIN sc s ON e.i = s.i
    )
    SELECT vec_id,
           CAST(SUM(qv * i) AS BIGINT) AS checksum,
           CAST(SUM(ABS(qv)) AS BIGINT) AS l1_norm,
           CAST(SUM(CASE WHEN ABS(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
    FROM q
    GROUP BY vec_id
    """,
    doc="Symmetric int8 quantization of the embedding corpus — the "
        "compression step that makes billion-vector ANN serving "
        "memory-feasible (4x smaller vectors, SIMD integer dot "
        "products). Per-dimension scale = 127/max|x| from one "
        "mergeable aggregate (64 rows at ANY corpus size, broadcast "
        "back); quantized value = floor(x*scale + 0.5), which is "
        "deterministic scalar IEEE arithmetic on both engines — "
        "engine ROUND() is deliberately avoided because HALF_UP vs "
        "HALF_EVEN differ at .5 boundaries. The per-vector "
        "position-weighted checksum + L1 norm + saturation count pin "
        "every quantized component through the driver's hash without "
        "shipping array columns. Plan: explode once (persisted for "
        "its two consumers), tiny dim-stats broadcast join, one "
        "groupBy vec_id — no window, no Python.",
)
def q112_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL or non-finite vectors quantize to nothing (oracle applies
    # the identical predicate; utils/vectors.py contract)
    emb = read_table(spark, sf_dir, "embeddings").filter(finite_embedding())
    # LAZY persist (r12 opt, guide §5): the dim-stats BROADCAST build
    # job populates the cache before the quantize pass scans it;
    # deterministic lineage (posexplode of parquet embeddings)
    ex = shared_lineage(
        emb.select(
            "vec_id",
            F.posexplode("embedding").alias("dim", "xf"),
        ).select("vec_id", (F.col("dim") + 1).alias("i"), F.col("xf").cast("double").alias("x")),
        eager=False,
    )
    sc = ex.groupBy("i").agg(
        (F.lit(127.0) / F.nullif(F.max(F.abs(F.col("x"))), F.lit(0.0))).alias("scale")
    )
    qv = F.floor(F.col("x") * F.col("scale") + F.lit(0.5)).cast("int")
    q = ex.join(F.broadcast(sc), "i").select("vec_id", "i", qv.alias("qv"))
    return q.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("i")).cast("bigint").alias("checksum"),
        F.sum(F.abs("qv")).cast("bigint").alias("l1_norm"),
        F.sum(F.when(F.abs("qv") == 127, 1).otherwise(0)).cast("bigint").alias("n_saturated"),
    )


MAXSIM_QUERY_MOD = 25  # vec_id % this == 0 -> query token
# cap the query-token set: a retrieval system's query batch is a FIXED
# workload — it must not grow with the corpus, or exact MaxSim turns
# quadratic (measured 141 s at derived sf1 uncapped vs linear capped)
MAXSIM_QUERY_CAP = 5_000


@query(
    "q128_maxsim_late_interaction",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS qe,
               SQRT(LIST_REDUCE(LIST_TRANSFORM(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)) AS qnrm
        FROM embeddings
        WHERE vec_id % {MAXSIM_QUERY_MOD} = 0 AND vec_id < {MAXSIM_QUERY_CAP}
          AND embedding IS NOT NULL
          AND LEN(LIST_FILTER(embedding, x -> NOT ISFINITE(x))) = 0
    ),
    c AS (
        SELECT vec_id AS cid, label AS clabel, embedding AS ce,
               SQRT(LIST_REDUCE(LIST_TRANSFORM(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)) AS cnrm
        FROM embeddings
        -- non-finite elements poison qnrm/cnrm and the dot products;
        -- invalid vectors drop at the scan (utils/vectors.py contract)
        WHERE embedding IS NOT NULL
          AND LEN(LIST_FILTER(embedding, x -> NOT ISFINITE(x))) = 0
    ),
    sims AS (
        SELECT q.qid, q.qlabel, c.clabel,
               CAST(ROUND(
                   LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, c.ce),
                       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)
                   / (q.qnrm * c.cnrm), 6) AS DECIMAL(18, 6)) AS sim
        FROM q, c
        WHERE c.cid != q.qid
    ),
    tokmax AS (
        SELECT qid, qlabel, clabel, MAX(sim) AS m
        FROM sims GROUP BY qid, qlabel, clabel
    )
    SELECT qlabel, clabel,
           CAST(SUM(m) AS DOUBLE) AS maxsim_score,
           COUNT(*) AS n_qtokens
    FROM tokmax GROUP BY qlabel, clabel
    """,
    doc="ColBERT-style MaxSim late interaction: a query 'document' is "
        "the bag of its token vectors (here: the sampled vectors of "
        "each label group), a candidate document is its label's full "
        "vector set; score(q, c) = sum over query tokens of the MAX "
        "cosine against any candidate token. This is the multi-vector "
        "retrieval scorer single-vector ANN (q55/q56/q69) cannot "
        "express. Plan: query tokens are tiny and broadcast; the "
        "corpus streams through ONE narrow pass of JVM-fold dot "
        "products; per-(token, candidate) max then per-pair sum are "
        "two hash aggregates that reuse the same grouping columns. "
        "Determinism: cosines round to 6 dp into DECIMAL before "
        "max/sum, so aggregation order cannot flip a bit — a float "
        "scoring pipeline graded by exact hash. At 100 TB the "
        "broadcast side stays token-count-sized and candidate max/sum "
        "aggregates combine map-side; an ANN pre-filter (q69) bounds "
        "the candidate set per query.",
)
def q128_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL or non-finite token vectors contribute no similarity
    # (oracle CTEs filter identically; utils/vectors.py contract)
    emb = read_table(spark, sf_dir, "embeddings").filter(finite_embedding())
    qv = emb.filter(
        (F.col("vec_id") % MAXSIM_QUERY_MOD == 0)
        & (F.col("vec_id") < MAXSIM_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qnrm"),
    )
    cv = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
        l2_norm(F.col("embedding")).alias("cnrm"),
    )
    # r12 OPT (guide §4.2): the broadcast cross join evaluated one
    # INTERPRETED 64-element dot fold per (corpus row, query token)
    # pair; the query-token side is a FIXED bounded workload (the cap
    # above — the same argument under which q136 collects its query
    # rows), so collect it once and compute every query dot per corpus
    # row in ONE vectorized plane_dots_kernel pass (bit-identical to
    # dot_seq per plane — float multiply commutes bitwise, fold order
    # unchanged; pinned by tests/test_fold_kernels.py). qnrm values are
    # the Spark-computed ones, re-uploaded and broadcast-joined by
    # token position, so sim arithmetic is untouched. Oracle hash
    # verified at sf0.001/0.01/0.1.
    q_rows = qv.collect()
    if not q_rows:
        sims = (
            cv.crossJoin(F.broadcast(qv))
            .filter(F.col("cid") != F.col("qid"))
            .select(
                "qid",
                "qlabel",
                "clabel",
                F.round(
                    dot_seq(F.col("qe"), F.col("ce"))
                    / (F.col("qnrm") * F.col("cnrm")),
                    6,
                )
                .cast("decimal(18,6)")
                .alias("sim"),
            )
        )
    else:
        from pyspark.sql.types import IntegerType, StructField, StructType

        from sklearn_raster_spark.utils.fold_kernels import plane_dots_kernel

        planes = [[float(x) for x in r["qe"]] for r in q_rows]
        meta_schema = StructType(
            [StructField("pos", IntegerType(), False)]
            + [qv.schema["qid"], qv.schema["qlabel"], qv.schema["qnrm"]]
        )
        meta = spark.createDataFrame(
            [(i, r["qid"], r["qlabel"], r["qnrm"]) for i, r in enumerate(q_rows)],
            meta_schema,
        )
        sims = (
            cv.select(
                "cid",
                "clabel",
                "cnrm",
                F.posexplode(plane_dots_kernel(planes)(F.col("ce"))).alias(
                    "pos", "dot"
                ),
            )
            .join(F.broadcast(meta), "pos")
            .filter(F.col("cid") != F.col("qid"))
            .select(
                "qid",
                "qlabel",
                "clabel",
                F.round(F.col("dot") / (F.col("qnrm") * F.col("cnrm")), 6)
                .cast("decimal(18,6)")
                .alias("sim"),
            )
        )
    tokmax = sims.groupBy("qid", "qlabel", "clabel").agg(F.max("sim").alias("m"))
    return tokmax.groupBy("qlabel", "clabel").agg(
        F.sum("m").cast("double").alias("maxsim_score"),
        F.count(F.lit(1)).alias("n_qtokens"),
    )


PQ_SUBSPACES = 8  # 64-dim -> 8 subvectors of 8 dims
PQ_CODEBOOK = 16  # centroids per subspace -> 4-bit codes


def _pq_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sliced into PQ subvector columns (vec_id, sub0..subN) —
    the shared input of the fitted (q135/q136) and portable (q160) PQ
    paths. One narrow projection, persisted once."""
    # NULL vectors have no PQ code (the portable oracle's dists CTE
    # applies the same filter; without it their NULL adc_dist sorts
    # FIRST in Spark and LAST in DuckDB, diverging the candidate cut)
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    dim = embedding_dim(emb)
    sub_d = dim // PQ_SUBSPACES
    base = emb.select(
        "vec_id",
        *[
            F.slice(F.col("embedding"), s * sub_d + 1, sub_d)
            .cast("array<double>")
            .alias(f"sub{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    return shared_lineage(base)


def _pq_fit(spark: SparkSession, sf_dir: str):
    """Shared PQ trainer for q135/q136: slice the corpus into
    subvector columns (persisted once) and fit one KMeans codebook
    per subspace CONCURRENTLY on a deterministic sample (standard PQ
    practice: centroids need a representative sample, not the
    corpus; driver threads let Spark schedule the fixed-count fits
    in parallel). Returns (base, centroids) with centroids as plain
    Python lists, ready for the PQ Arrow kernels.

    Sampling audit (the q175/q69 id-prefix hazard): this sample is
    ``vec_id % 5 == 0`` — a MODULO stride, not a prefix — so it spans
    the full id range and stays representative even when ids correlate
    with content; no hash-reorder needed. The failure mode is also
    structurally milder here: PQ codebooks feed an ADC lookup over
    every code, not a cell-partitioned join, so a skewed codebook
    costs recall, not a straggler task."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = _pq_base(spark, sf_dir)
    train = base.filter(F.col("vec_id") % 5 == 0)
    train = shared_lineage(train)

    def fit_codebook(s: int):
        km = KMeans(k=PQ_CODEBOOK, seed=42 + s, maxIter=5, featuresCol="feat")
        model = km.fit(train.select(array_to_vector(f"sub{s}").alias("feat")))
        return s, [[float(x) for x in c] for c in model.clusterCenters()]

    with ThreadPoolExecutor(max_workers=PQ_SUBSPACES) as pool:
        centroids = dict(pool.map(fit_codebook, range(PQ_SUBSPACES)))
    return base, [centroids[s] for s in range(PQ_SUBSPACES)]


def _pq_code_terms(centroids):
    """Per-subspace (code, squared-distance-to-assigned-centroid)
    column expressions: the codebook embeds as literal arrays,
    per-row distances to all centroids compute via zip_with folds,
    the code is the argmin position — one narrow projection over the
    corpus, no join, no Python, no model.transform lineage (the
    join-chain alternative cost 2x at sf0.1 and shuffled the corpus
    per subspace)."""

    def one(s: int):
        cents = F.array(
            *[F.array(*[F.lit(x) for x in c]) for c in centroids[s]]
        )
        dists = F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(F.col(f"sub{s}"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        best = F.array_min(dists)
        code = (F.array_position(dists, best) - 1).cast("int")
        return code, best

    return [one(s) for s in range(PQ_SUBSPACES)]


@query(
    "q135_product_quantization",
    doc=f"Product quantization (the IVF-PQ compression stage): the "
        f"64-d embedding splits into {PQ_SUBSPACES} subvectors; each "
        f"subspace learns a {PQ_CODEBOOK}-centroid k-means codebook "
        "and every vector encodes as one code per subspace — "
        f"{PQ_SUBSPACES} x 4 bits instead of 64 floats (64x "
        "compression), the representation a billion-vector ANN index "
        "actually stores beside q69's IVF coarse quantizer. Spark "
        "shape: subspace slicing is a pure column projection; each "
        "codebook fit is an MLlib KMeans over ONE narrow slice "
        "(a FIXED subspace count of concurrent driver-thread fits on "
        "a deterministic sample — not data-dependent); encoding "
        "embeds the tiny codebooks as literal arrays and picks the "
        f"argmin-distance code JVM-side (a {PQ_CODEBOOK}-element "
        "fold per subspace — one narrow projection over the corpus, "
        "no join, no Python). The graded `codes` column is the "
        "'-'-joined code STRING (scalar schema — the driver's "
        "canonicalizer cannot sort array cells, round-4 VERDICT.md "
        "item 2 — while still pinning every per-subspace code "
        "value). Rows-only: "
        "codebooks are fitted model state; the laws (code range, "
        "codebook utilization, reconstruction error beating the "
        "mean-predictor baseline) are pytest-pinned.",
)
def q135_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.utils.fold_kernels import (
        pq_codes_kernel,
        pq_sqerr_kernel,
    )

    base, centroids = _pq_fit(spark, sf_dir)
    # Arrow kernels, not interpreted per-row distance folds: identical
    # sequential-fold float64 distances (cumsum operand order),
    # first-occurrence argmin codes and left-to-right sq_error sum —
    # bit-equality with the expression form (_pq_code_terms) pinned by
    # tests/test_fold_kernels.py.
    subs = F.array(*[f"sub{s}" for s in range(PQ_SUBSPACES)])
    codes_arr = pq_codes_kernel(centroids)(subs)
    sq_err = pq_sqerr_kernel(centroids)(subs)
    return base.select(
        "vec_id",
        F.array_join(codes_arr.cast("array<string>"), "-").alias("codes"),
        F.round(sq_err, 6).alias("sq_error"),
    )


PQ_ANN_TOP = 10
PQ_RERANK_FACTOR = 10  # ADC candidates per final result, exact re-ranked


@query(
    "q136_pq_ann_search",
    doc=f"PQ asymmetric-distance ANN search (the query path of an "
        "IVF-PQ index, completing q135's build path): each query "
        "vector precomputes a lookup table of squared distances from "
        f"its {PQ_SUBSPACES} subvectors to every codebook centroid "
        f"({PQ_SUBSPACES} x {PQ_CODEBOOK} doubles, computed in-engine "
        "and broadcast with the query row); a corpus "
        "document's approximate distance is then just the SUM OF "
        f"{PQ_SUBSPACES} TABLE LOOKUPS indexed by its codes — the ADC "
        "trick that scores billions of 4-bit-coded vectors without "
        "touching a float vector. Plan: q160's encode -> ADC -> "
        "exact re-rank stage with fitted codebooks: one narrow "
        "encode projection over the corpus, a broadcast "
        "cross-join against the tiny query-LUT table, per-query "
        "top-k via ranking window (group-limit pushdown). Rows-only "
        "(k-means codebooks are fitted state); recall vs the exact "
        "scan is pytest-pinned.",
)
def q136_pq_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, centroids = _pq_fit(spark, sf_dir)
    return pq_adc_search(
        base, centroids, read_table(spark, sf_dir, "embeddings")
    ).withColumn("qid", F.col("qid").cast("int"))


def pq_adc_search(base: DataFrame, codebooks: list, emb: DataFrame) -> DataFrame:
    """PQ asymmetric-distance search shared by the fitted (q136) and
    portable (q160) codebooks: ``base`` is the _pq_base subvector
    table, ``emb`` the raw embeddings for the exact re-rank.

    - Encode: one narrow projection, first-occurrence argmin code per
      subspace (Arrow kernel, bit-identical to _pq_code_terms).
    - Query LUTs: lut[s][c] = ||query_sub_s - codebook[s][c]||^2 for
      the N_QUERIES query rows, computed in-engine by pq_lut_kernel
      (the same left-to-right float64 fold as the oracle's LIST_REDUCE)
      — the codebook literals stay out of the expression tree.
    - ADC score: the S table lookups indexed by a row's codes, summed
      left to right, against a broadcast of the query LUTs.
    - Candidate cut: PQ_ANN_TOP * PQ_RERANK_FACTOR rows per query by
      (adc_dist, nid); ADC is a coarse 4-bit-per-subvector score, so
      the exact squared distance re-ranks only that cut into the
      top-PQ_ANN_TOP by (exact_dist, nid)."""
    from sklearn_raster_spark.utils.fold_kernels import pq_codes_kernel, pq_lut_kernel

    subs = F.array(*[f"sub{s}" for s in range(PQ_SUBSPACES)])
    coded = base.select(
        F.col("vec_id").alias("nid"), pq_codes_kernel(codebooks)(subs).alias("codes")
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), pq_lut_kernel(codebooks)(subs).alias("lut")
    )
    adc = None
    for s in range(PQ_SUBSPACES):
        term = F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        adc = term if adc is None else adc + term
    scored = (
        coded.crossJoin(F.broadcast(queries))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(adc, 6).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("qid").orderBy("adc_dist", "nid")
    cands = (
        scored.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= PQ_ANN_TOP * PQ_RERANK_FACTOR)
        .select("qid", "nid", "adc_dist")
    )
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    ne = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("n_emb"))
    exact_d = F.aggregate(
        F.zip_with(
            "q_emb", "n_emb",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    reranked = (
        cands.join(F.broadcast(qe), "qid")
        .join(ne, "nid")
        .select("qid", "nid", "adc_dist", F.round(exact_d, 6).alias("exact_dist"))
    )
    w = Window.partitionBy("qid").orderBy("exact_dist", "nid")
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_ANN_TOP)
        .select("qid", "nid", "adc_dist", "exact_dist", "rn")
    )


# --- q155: portable sign-LSH ANN (hash-graded hyperplane banding) ----

SIGN_LSH_BANDS = 8  # OR-amplification: 8 bands x 4 sign bits
SIGN_LSH_BITS = 4
SIGN_EMB_DIM = _EMB_DIM  # embeddings dimension, asserted at plan build


def _sign_lsh_planes() -> list:
    """Deterministic pseudo-random hyperplanes derived from md5 — the
    SAME literal doubles are embedded in the Spark plan and inlined in
    the oracle SQL text (repr round-trips float64 exactly), so both
    engines compute identical sequential-fold dots and identical sign
    bits. Components are uniform in [-1, 1): md5_int60 / 2^59 - 1.
    Shaped [band][bit][dim] for the shared q100 band-key helpers
    (_band_key_col / _oracle_band_key)."""
    import hashlib

    def comp(j: int, i: int) -> float:
        return (
            int(hashlib.md5(f"plane{j}:{i}".encode()).hexdigest()[:15], 16)
            / 2**59
            - 1.0
        )

    return [
        [
            [comp(b * SIGN_LSH_BITS + k, i) for i in range(SIGN_EMB_DIM)]
            for k in range(SIGN_LSH_BITS)
        ]
        for b in range(SIGN_LSH_BANDS)
    ]


_SIGN_LSH_PLANES = _sign_lsh_planes()


def _sign_lsh_oracle() -> str:
    n_bands = SIGN_LSH_BANDS
    band_keys = [
        f"({_oracle_band_key('embedding', _SIGN_LSH_PLANES[b])}) AS key{b}"
        for b in range(n_bands)
    ]
    keys_sql = ",\n               ".join(band_keys)
    union_bands = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, {b} AS band, key{b} AS key FROM keyed"
        for b in range(SIGN_LSH_BANDS)
    )
    return f"""
    WITH keyed AS (
        SELECT vec_id, embedding,
               {keys_sql}
        FROM embeddings
        WHERE embedding IS NOT NULL  -- NULL vectors carry no band key
    ),
    banded AS (
{union_bands}
    ),
    qb AS (SELECT * FROM banded WHERE vec_id < {N_QUERIES}),
    cand AS (
        SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nid
        FROM qb q JOIN banded e ON q.band = e.band AND q.key = e.key
        WHERE e.vec_id != q.vec_id
    ),
    sims AS (
        SELECT c.qid, c.nid,
               ROUND(
                   LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe.embedding, ne.embedding),
                               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)
                   / (SQRT(LIST_REDUCE(LIST_TRANSFORM(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b))
                    * SQRT(LIST_REDUCE(LIST_TRANSFORM(ne.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)))
               , 6) AS cosine
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.qid
        JOIN embeddings ne ON ne.vec_id = c.nid
    )
    SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM sims
    ) WHERE rn <= {TOP_K}
    """


@query(
    "q155_ann_signlsh_portable",
    oracle=_sign_lsh_oracle(),
    doc=f"Sign-hyperplane LSH ANN with a PORTABLE plane family — the "
        "vector-space completion of the q150/q151 pattern, upgrading "
        "the third LSH family (random-projection ANN, q56's "
        "mechanism) from a rows-only waiver to a full value grade: "
        f"{SIGN_LSH_BANDS * SIGN_LSH_BITS} md5-derived hyperplanes "
        f"(identical literal doubles in plan and oracle) give "
        f"{SIGN_LSH_BANDS} x {SIGN_LSH_BITS}-bit sign bands via q100's "
        "shared band-key helpers; same-band candidates re-rank by "
        "exact 6dp-rounded cosine (sequential-fold dots matching "
        "LIST_REDUCE) into per-query top-k. Every stage — sign bits, "
        "band collisions, candidate set, final ranking — is "
        "bit-reproducible in DuckDB, so the probabilistic recall "
        "loss itself is graded (both engines miss the same "
        "neighbors). q56 (MLlib seeded projections) remains the "
        "library path.",
)
def q155_ann_signlsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL vectors carry no sign-band key (oracle keyed CTE matches)
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # fail fast on a dimension mismatch: zip_with/LIST_ZIP would
    # null-pad, collapsing every vector into band key '0000...' and
    # degenerating the band join into an all-pairs cross
    embedding_dim(emb, expect=SIGN_EMB_DIM)
    keyed = sign_band_keys(
        emb,
        [p for band in _SIGN_LSH_PLANES for p in band],
        SIGN_LSH_BITS,
        ("vec_id", "embedding"),
    )
    keyed = shared_lineage(keyed)  # feeds both sides of the band join
    banded = keyed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"key{b}").alias("key"))
                    for b in range(SIGN_LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    qb = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "band", "key"
    )
    cand = (
        qb.join(banded.withColumnRenamed("vec_id", "nid"), ["band", "key"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
        .distinct()
    )
    vecs = keyed.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    qv = vecs.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    nv = vecs.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"), F.col("nrm").alias("nn")
    )
    return cosine_top_k(
        cand.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .select("qid", "nid", _cosine("qe", "qn", "ne", "nn")),
        TOP_K,
    )


# --- portable IVF (q157): the learned-quantizer family, hash-graded ----
#
# q69 is rows-only because its coarse quantizer is FIT (seeded k-means on
# a driver sample — not SQL). This twin swaps the learned centroids for
# FIXED md5-derived unit-norm centroid literals and keeps q69's exact
# plan shape — assign -> probe -> exact re-rank — so every stage (cell
# argmax, probe set, candidate join, ranked top-k) replays bit-identically
# in DuckDB: the last ANN family (IVF) joins MinHash (q150), SimHash
# (q151) and sign-LSH (q155) in the value-graded column. Centroids are
# unit-normalized IN PYTHON before being embedded as literals, so
# "nearest centroid by angle" reduces to argmax of one sequential-fold
# dot per cell — no norms, no sqrt in the assignment path.

IVF_CELLS = 8
IVF_PROBE = 4


def _ivf_centroids() -> list:
    """IVF_CELLS fixed unit-norm centroids (md5-derived, like
    _sign_lsh_planes): components uniform in [-1,1), then L2-normalized.
    repr() round-trips float64 exactly, so the identical doubles appear
    in the Spark plan and the oracle SQL text."""
    import hashlib

    import numpy as np

    def comp(c: int, i: int) -> float:
        return (
            int(hashlib.md5(f"ivfcent{c}:{i}".encode()).hexdigest()[:15], 16)
            / 2**59
            - 1.0
        )

    cents = np.array(
        [[comp(c, i) for i in range(_EMB_DIM)] for c in range(IVF_CELLS)]
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents.tolist()


_IVF_CENTROIDS = _ivf_centroids()


def _ivf_cell_dots(emb: Column) -> Column:
    """array<double> of the IVF_CELLS centroid dots for one vector."""
    return F.array(
        *[
            dot_seq(emb, F.array(*[F.lit(float(v)) for v in cent]))
            for cent in _IVF_CENTROIDS
        ]
    )


def _ivf_oracle() -> str:
    dots = ",\n               ".join(
        f"{_oracle_dot('embedding', _IVF_CENTROIDS[c])} AS d{c}"
        for c in range(IVF_CELLS)
    )
    dots_list = ", ".join(f"d{c}" for c in range(IVF_CELLS))
    probe_union = "\n        UNION ALL\n".join(
        f"        SELECT vec_id AS qid, {c} AS cell, d{c} AS dot FROM dotted WHERE vec_id < {N_QUERIES}"
        for c in range(IVF_CELLS)
    )
    return f"""
    WITH dotted AS (
        SELECT vec_id, embedding,
               {dots}
        FROM embeddings
        WHERE embedding IS NOT NULL  -- NULL vectors have no cell
    ),
    assigned AS (
        SELECT vec_id, embedding,
               CAST(LIST_POSITION([{dots_list}], LIST_AGGREGATE([{dots_list}], 'max')) - 1 AS INTEGER) AS cell
        FROM dotted
    ),
    qcell AS (
{probe_union}
    ),
    probes AS (
        SELECT qid, cell FROM (
            SELECT qid, cell, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cell) AS pr
            FROM qcell
        ) WHERE pr <= {IVF_PROBE}
    ),
    sims AS (
        SELECT p.qid, e.vec_id AS nid,
               ROUND(
                   LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe.embedding, e.embedding),
                               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a,b) -> a + b)
                   / (SQRT(LIST_REDUCE(LIST_TRANSFORM(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b))
                    * SQRT(LIST_REDUCE(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)))
               , 6) AS cosine
        FROM probes p
        JOIN assigned e ON e.cell = p.cell AND e.vec_id != p.qid
        JOIN embeddings qe ON qe.vec_id = p.qid
    )
    SELECT qid, nid, cosine, CAST(rn AS INTEGER) AS rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        FROM sims
    ) WHERE rn <= {TOP_K}
    """


@query(
    "q157_ann_ivf_portable",
    oracle=_ivf_oracle(),
    doc=f"IVF ANN with a PORTABLE fixed-centroid coarse quantizer — "
        "completes the hash-graded ANN program (q150 MinHash / q151 "
        "SimHash / q155 sign-LSH): q69's assign->probe->re-rank plan "
        f"with {IVF_CELLS} md5-derived unit-norm centroid LITERALS in "
        "place of the fitted k-means. Cell = argmax of one "
        "sequential-fold dot per centroid (first-match tie-break in "
        "both engines via array_position/LIST_POSITION); queries probe "
        f"their {IVF_PROBE} best cells; candidates re-rank by exact "
        "6dp-rounded cosine into per-query top-k. Assignment, probe "
        "set, candidate join and ranking all replay bit-identically in "
        "DuckDB, so the quantizer's recall loss itself is graded. q69 "
        "(fitted quantizer) remains the learned path, recall-pinned vs "
        "exact q55. Reference analog: kneighbors (estimator.py:345-518).",
)
def q157_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_top_k(ivf_portable_candidates(spark, sf_dir), TOP_K)


def ivf_portable_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q157's candidate stage, pre-top-k: every (qid, nid, cosine) pair
    the probed cells admit. Exposed so the candidate-bound scale
    contract (|candidates per query| == sum of probed-cell populations,
    minus self) is testable against an independent recomputation."""
    # NULL vectors have no cell assignment (oracle dotted CTE matches)
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # fail fast on dimension drift: zip_with would null-pad and every
    # dot (hence every cell) would silently degenerate
    embedding_dim(emb, expect=_EMB_DIM)
    dotted = emb.select("vec_id", "embedding", _ivf_cell_dots(F.col("embedding")).alias("dots"))
    dotted = shared_lineage(dotted)  # feeds corpus cells AND query probes
    # corpus side: one narrow pass, cell = argmax dot (1-based position
    # of the max => first occurrence => lowest-index tie-break, matching
    # LIST_POSITION in the oracle); at rest this cell id would be the
    # vector table's partition key — assignment never shuffles
    corpus = dotted.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("ne"),
        l2_norm(F.col("embedding")).alias("nnrm"),
        (F.array_position(F.col("dots"), F.array_max(F.col("dots"))) - 1)
        .cast("int")
        .alias("cell"),
    )
    # query side: explode the tiny query set's dot arrays to (cell, dot)
    # and keep each query's IVF_PROBE best cells — N_QUERIES x IVF_CELLS
    # rows, window cost nil, then broadcast into the candidate join
    qdots = dotted.filter(F.col("vec_id") < N_QUERIES)
    qcell = qdots.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qnrm"),
        F.posexplode(F.col("dots")).alias("cell", "dot"),
    )
    pw = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("cell"))
    probes = (
        qcell.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= IVF_PROBE)
        .select("qid", "qe", "qnrm", F.col("cell").cast("int").alias("cell"))
    )
    return ivf_candidates(corpus, probes)


# --- portable PQ-ADC (q160): the compression family, hash-graded ------
#
# q135/q136 are rows-only because their codebooks are FIT (MLlib KMeans
# per subspace). This twin swaps the learned codebooks for md5-derived
# LITERAL codebooks and keeps q136's exact plan — encode -> ADC table
# lookups -> candidate cut -> exact re-rank — so every stage (per-
# subspace argmin code, the query distance LUTs, the lookup sum, both
# ranked cuts) replays bit-identically in DuckDB: after q157 closed
# IVF, this closes PQ, the last ANN/compression family without an exact
# driver grade. All distances are sequential zip-folds of doubles
# (identical operand order in both engines), codes are first-occurrence
# argmin positions, and the LUTs are computed in-engine by the same
# kernel q136 uses (no driver-side float math).

PQP_SPREAD = 0.25  # codebook component range: ~±2σ of unit-norm 64-d comps


def _pq_portable_codebooks() -> list:
    """PQ_SUBSPACES x PQ_CODEBOOK x sub_d fixed codebook literals
    (md5-derived like _ivf_centroids): components uniform in
    [-PQP_SPREAD, PQP_SPREAD) — the ±2-sigma band of unit-norm 64-dim
    embedding components, so codes spread over the codebook instead of
    collapsing to a nearest corner. repr() round-trips float64 exactly,
    so the identical doubles appear in the Spark plan and the oracle."""
    import hashlib

    sub_d = _EMB_DIM // PQ_SUBSPACES

    def comp(s: int, c: int, i: int) -> float:
        u = (
            int(hashlib.md5(f"pqcent{s}:{c}:{i}".encode()).hexdigest()[:15], 16)
            / 2**59
            - 1.0
        )
        return u * PQP_SPREAD

    return [
        [[comp(s, c, i) for i in range(sub_d)] for c in range(PQ_CODEBOOK)]
        for s in range(PQ_SUBSPACES)
    ]


_PQP_CODEBOOKS = _pq_portable_codebooks()


def _oracle_sqdist(expr: str, cent: list) -> str:
    """DuckDB sequential-fold squared distance between a list column
    slice and a centroid literal — operand-order twin of
    _pq_code_terms' zip_with fold."""
    lits = ", ".join(repr(float(v)) for v in cent)
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP({expr}, [{lits}]), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
        "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), (x,y) -> x + y)"
    )


def _pqp_oracle() -> str:
    sub_d = _EMB_DIM // PQ_SUBSPACES
    # stage 1: every (subspace, centroid) squared distance as a column
    dist_cols = []
    for s in range(PQ_SUBSPACES):
        sl = f"embedding[{s * sub_d + 1}:{(s + 1) * sub_d}]"
        for c in range(PQ_CODEBOOK):
            dist_cols.append(
                f"{_oracle_sqdist(sl, _PQP_CODEBOOKS[s][c])} AS d{s}_{c}"
            )
    dists_sql = ",\n               ".join(dist_cols)

    def dlist(s: int) -> str:
        return "[" + ", ".join(f"d{s}_{c}" for c in range(PQ_CODEBOOK)) + "]"

    codes = ", ".join(
        f"LIST_POSITION({dlist(s)}, LIST_AGGREGATE({dlist(s)}, 'min')) - 1"
        for s in range(PQ_SUBSPACES)
    )
    luts = ", ".join(f"{dlist(s)} AS l{s}" for s in range(PQ_SUBSPACES))
    adc = " + ".join(f"l{s}[codes[{s + 1}] + 1]" for s in range(PQ_SUBSPACES))
    exact = (
        "LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe.embedding, ne.embedding), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) "
        "* (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), (x,y) -> x + y)"
    )
    return f"""
    WITH dists AS (
        SELECT vec_id,
               {dists_sql}
        FROM embeddings
        WHERE embedding IS NOT NULL  -- NULL vectors have no PQ code
    ),
    coded AS (
        SELECT vec_id, [{codes}] AS codes FROM dists
    ),
    qlut AS (
        SELECT vec_id AS qid, {luts} FROM dists WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT q.qid, c.vec_id AS nid, ROUND({adc}, 6) AS adc_dist
        FROM qlut q JOIN coded c ON c.vec_id != q.qid
    ),
    cand AS (
        SELECT qid, nid, adc_dist FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY adc_dist, nid) AS arn
            FROM adc
        ) WHERE arn <= {PQ_ANN_TOP * PQ_RERANK_FACTOR}
    )
    SELECT qid, nid, adc_dist, exact_dist, CAST(rn AS INTEGER) AS rn FROM (
        SELECT cand.qid, cand.nid, cand.adc_dist,
               ROUND({exact}, 6) AS exact_dist,
               ROW_NUMBER() OVER (
                   PARTITION BY cand.qid
                   ORDER BY ROUND({exact}, 6), cand.nid) AS rn
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.qid
        JOIN embeddings ne ON ne.vec_id = cand.nid
    ) WHERE rn <= {PQ_ANN_TOP}
    """


@query(
    "q160_pq_adc_portable",
    oracle=_pqp_oracle(),
    doc=f"PQ asymmetric-distance ANN search with PORTABLE fixed "
        "codebooks — closes the last ANN/compression family (after "
        "q157 closed IVF): q136's exact encode -> ADC-lookup -> "
        f"re-rank plan with {PQ_SUBSPACES}x{PQ_CODEBOOK} md5-derived "
        "codebook LITERALS in place of the fitted per-subspace "
        "k-means. Codes are first-occurrence argmin positions over "
        "sequential-fold squared distances; the per-query distance "
        "LUTs are computed in-engine by the same sequential fold "
        "(no driver-side float math); a "
        f"corpus row's ADC score is {PQ_SUBSPACES} list lookups summed "
        "left-to-right; candidates cut at "
        f"{PQ_ANN_TOP * PQ_RERANK_FACTOR} by (adc, nid) and re-ranked "
        f"by exact 6dp squared distance into top-{PQ_ANN_TOP}. Every "
        "stage replays bit-identically in DuckDB, so the quantizer's "
        "approximation error itself is graded. q135/q136 (fitted "
        "codebooks) remain the learned path, recall/utilization "
        "pytest-pinned. Scale shape unchanged from q136: encode is one "
        "narrow projection, scoring a broadcast join against "
        f"{N_QUERIES} query rows, exact math only on the candidate "
        "cut. Reference analog: kneighbors (estimator.py:345-518).",
)
def q160_pq_adc_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    embedding_dim(emb, expect=_EMB_DIM)
    return pq_adc_search(_pq_base(spark, sf_dir), _PQP_CODEBOOKS, emb)
