"""Deduplication operators over the ``documents`` table — first-class
LLM-data-pipeline surface (BASELINE.json north star; no reference
analog, the closest structure is the kneighbors similarity join,
reference estimator.py:345-518).

Scale design:
- exact dedup: hash-groupBy on sha2(text) — shuffles 32-byte digests,
  never full documents;
- n-gram Jaccard: token inverted-index join (PPJoin-lite) — candidate
  pairs only materialize for docs sharing a token. At 100 TB add
  prefix filtering (drop the most frequent tokens from the index);
  here the synthetic vocab is small so the index join is exercised
  fully;
- MinHash LSH: sub-quadratic banding, one salted-xxhash64 minhash
  per OR-table as pure column expressions — THE scale path for
  near-dedup;
- SimHash: 64-bit fingerprints entirely in JVM expressions
  (xxhash64 + bit arithmetic), banded self-join on 16-bit keys,
  hamming distance via bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.operators.pipeline import word_shingle_array
from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table
from sklearn_raster_spark.utils.cache import shared_lineage


@query(
    "q50_exact_dedup",
    oracle="""
    SELECT
        MIN(doc_id) AS keep_doc_id,
        COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    doc="Exact dedup: group by content hash, keep lowest doc_id. Spark "
        "groups by sha2(text) so only 32-byte digests shuffle; the "
        "oracle groups by raw text (same result absent collisions).",
)
def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("_h"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def ppjoin_prefix_index(toks: DataFrame, threshold: float, carry: tuple = ()) -> DataFrame:
    """PPJoin prefix index, shared by q51 (self-join) and q122
    (asymmetric batch x corpus — operators/corpus.py).

    ``toks`` has (doc_id, ts, *carry) with ts = distinct token array.
    Tokens are globally ordered by ascending document frequency (ties
    by token); each doc indexes ONLY its first |d| - ceil(t*|d|) + 1
    tokens in that order — any pair with Jaccard >= t must collide on
    at least one prefix token. The df table is |vocab| rows (tiny at
    any corpus size, Heaps' law) and broadcast; prefix selection runs
    directly on the exploded tokens with a per-doc row_number, so the
    ranked token arrays of the naive formulation never materialize.
    Returns (doc_id, *carry, ntok, tok, _rn)."""
    exploded = toks.select(
        "doc_id", *carry, F.size("ts").alias("ntok"), F.explode("ts").alias("tok")
    )
    tok_df = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix_len = (F.col("ntok") - F.ceil(F.lit(threshold) * F.col("ntok")) + 1).cast("int")
    return (
        exploded.join(F.broadcast(tok_df), "tok")
        .withColumn("_rn", F.row_number().over(w_doc))
        .filter(F.col("_rn") <= F.greatest(prefix_len, F.lit(1)))
        .select("doc_id", *carry, "ntok", "tok", "_rn")
    )


def ppjoin_pair_pruning(a_n, a_rn, b_n, b_rn, threshold: float):
    """PPJoin length + positional candidate filters (shared with
    q122): J >= t forces t*|x| <= |y| <= |x|/t, and a collision at
    prefix positions (pa, pb) can contribute at most
    1 + min(na-pa, nb-pb) overlap, which must reach
    alpha = ceil(t/(1+t)*(na+nb)) — collisions deep in both prefixes
    are pruned before they become candidate rows (measured: halves
    raw candidate rows on the driver corpus)."""
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (a_n + b_n))
    return (
        (b_n * threshold <= a_n)
        & (a_n * threshold <= b_n)
        & (F.lit(1) + F.least(a_n - a_rn, b_n - b_rn) >= alpha)
    )


@query(
    "q51_jaccard_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS ts
        FROM documents
    ), ex AS (
        SELECT doc_id, source, LEN(ts) AS ntok, UNNEST(ts) AS tok FROM toks
    )
    SELECT
        a.doc_id AS doc_a,
        b.doc_id AS doc_b,
        COUNT(*) AS n_common,
        CAST(COUNT(*) AS DOUBLE) / (a.ntok + b.ntok - COUNT(*)) AS jaccard
    FROM ex a
    JOIN ex b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.ntok, b.ntok
    HAVING CAST(COUNT(*) AS DOUBLE) / (a.ntok + b.ntok - COUNT(*)) >= 0.6
    """,
    doc="Near-dup pairs by exact token-set Jaccard >= 0.6 via PPJoin "
        "prefix + positional filtering: tokens are globally ordered by "
        "ascending document frequency, each doc indexes ONLY its prefix "
        "(|d| - ceil(t*|d|) + 1 rarest tokens) — any pair with "
        "J >= t must collide on at least one prefix token, so hot "
        "high-df tokens never enter the index and the candidate join "
        "stays sub-quadratic; collisions too deep in both prefixes are "
        "pruned by the positional overlap bound. Candidates are then "
        "verified with an exact array_intersect Jaccard, so results "
        "are IDENTICAL to the full inverted-index join (same oracle). "
        "NOTE on local bench time: the driver corpus is degenerate "
        "(31-token vocabulary => 354k TRUE pairs from 5k docs at "
        "sf0.1), so runtime here is bound by OUTPUT size, not by the "
        "candidate strategy; on a realistic corpus the prefix index "
        "is the difference between linear and quadratic work.",
)
def q51_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.6) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # tokens are xxhash64-hashed up front: the join key, the window
    # sort and the verify intersect all run on fixed-width longs
    # instead of strings (measured ~2x end-to-end; set sizes — the
    # only thing Jaccard needs — are preserved, 64-bit collisions
    # are ~1e-15 per doc)
    toks = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        ).alias("ts"),
    )
    # eager shared cache: this lineage (scan + split + hash + distinct)
    # feeds THREE consumers — the prefix index and both sides of the
    # exact verify — and would otherwise recompute per consumer (the
    # round-2 persist-before-self-join finding, ROUND2_NOTES.md);
    # tracked so repeated invocations don't leak cache entries
    toks = shared_lineage(toks)

    # shared PPJoin machinery (ppjoin_prefix_index / ppjoin_pair_pruning
    # — the identical index and filters drive q122's asymmetric form,
    # so a pruning fix lands in both graded queries at once); the
    # exact-verify step below reuses the RAW token sets, so the ranked
    # arrays of the naive formulation never exist.
    # NOTE (r12, measured and rejected): persisting `prefixed` for the
    # two self-join sides HALVED wall-clock locally but cost 5-10x the
    # CPU (taskCpuTime 5-6 s -> 42-50 s at sf0.1): the InMemoryRelation
    # swaps AQE's runtime-planned join for a cached-stats broadcast
    # join, loses AQE partition coalescing, and pays columnar
    # cache (de)serialization per side — wall fell only because 10x
    # the work spread over 32 cores. At 100 TB CPU work is the budget,
    # so the lazy form (AQE stage reuse dedups the shuffle map side)
    # stays.
    prefixed = ppjoin_prefix_index(toks, threshold, carry=("source",))
    # r12 OPT (guide §2.5/§4.2): the candidate SELF-JOIN on
    # (tok, source) is replaced by grouped-Arrow enumeration
    # (fold_kernels.ppjoin_pairs_self) — the SMJ enumerated every
    # same-token collision row-at-a-time with parallelism bounded by
    # distinct key groups (a hot token's postings land in ONE task and
    # AQE cannot split a single key); the kernel ships the same slim
    # posting rows once per group and applies the IDENTICAL length +
    # positional predicates vectorized. Same pair multiset (pinned by
    # tests), same distinct, same exact verify -> same result. The old
    # join form remains the semantic reference:
    #   a.join(b, a.tok==b.tok & a.source==b.source & a.doc_id<b.doc_id
    #            & ppjoin_pair_pruning(...))
    from sklearn_raster_spark.utils.fold_kernels import ppjoin_pairs_self

    candidates = (
        ppjoin_pairs_self(prefixed, threshold, group_cols=("source", "tok"))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .distinct()
    )
    # exact verify on the candidate set only, against the RAW token
    # sets (a plain scan+split — no df join in this lineage)
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"), F.size("ts").alias("ntok_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"), F.size("ts").alias("ntok_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = inter.cast("double") / (F.col("ntok_a") + F.col("ntok_b") - inter)
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_candidates(sigs: DataFrame, n_tables: int) -> DataFrame:
    """MinHash banding shared by both hash families (q52 xxhash64,
    q150 md5-60bit): ``sigs`` has one row per doc with the per-table
    signatures h0..h{n_tables-1}; a pair is a candidate when ANY table
    agrees (OR-amplification). One self-join on (table, signature)
    yields distinct slim (doc_a, doc_b) pairs, doc_a < doc_b, before
    any distance math."""
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(n_tables)])
        ).alias("tbl", "h"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_pairs(
    docs: DataFrame, threshold: float = 0.7, shingle: int = 3, n_tables: int = 3
) -> DataFrame:
    """MinHash-LSH near-dup pairs over (doc_id, text): shingle ->
    n_tables one-minhash band keys -> banded self-join -> exact verify.

    Shingles are represented as xxhash64 values of the word k-gram
    (computed positionally — no k-gram STRINGS are ever materialized:
    at ~|words| shingles/doc the concat+distinct of string shingles
    was the single hottest expression in the plan).

    The banding runs as PURE column expressions end to end — table i's
    signature is min(xxhash64(shingle, i)) over the shingle set, the
    same one-minhash-per-table OR-amplification MinHashLSH(numHashTables
    = n_tables) performs, without the MLlib formulation's
    (HashingTF + MinHashLSH.fit + approxSimilarityJoin) ML fit job,
    array->sparse-vector conversion, pair-level distinct over FULL rows
    (id + vector + hashes structs on both sides) and per-pair distance
    UDF. Candidates are slim
    (doc_a, doc_b) pairs deduped before any distance math, and the
    exact Jaccard verify (on the raw shingle sets — no HashingTF bucket
    aliasing) evaluates once per distinct candidate as a JVM
    array_intersect. Same recall family (P(miss) for a 0.5-sim pair is
    (1-0.5)^3 ~ 12%, negligible for real near-dups), measured ~3x
    faster at sf0.1, and at 100 TB the shuffle carries pairs of longs
    instead of pairs of featurized rows."""
    # filter BEFORE shingling (q150's guard): a sub-`shingle`-word doc
    # would make element_at read past the array end — INVALID_ARRAY_INDEX
    # under default ANSI mode. Sub-shingle docs have no k-shingles, so
    # dropping them is the defined semantics (they can never
    # band-collide).
    # Shingles are hashed on exploded ROWS, not inside array lambdas:
    # higher-order lambdas run interpreted, outside whole-stage codegen,
    # while these are the same xxhash64 expressions in codegen'd
    # projections. Shingle hash via window leads over token position,
    # table minhashes as plain min aggregates (min over duplicate
    # shingles == min over distinct ones), shingle sets via collect_set
    # (set-equal to array_distinct; only set ops consume them). The
    # groupBy reuses the window's hash(doc_id) partitioning, so this is
    # one shuffle of skinny token rows (set-equality with the in-array
    # form pinned by
    # tests/test_fold_kernels.py::test_minhash_exploded_matches_in_array).
    tokens = docs.select("doc_id", F.split("text", " ").alias("words")).filter(
        F.size("words") >= shingle
    )
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    ex = tokens.select("doc_id", F.posexplode("words").alias("pos", "w0"))
    lead_cols = [F.lead("w0", j).over(w_pos).alias(f"w{j}") for j in range(1, shingle)]
    sh_rows = (
        ex.select("doc_id", F.col("w0"), *lead_cols)
        .filter(F.col(f"w{shingle - 1}").isNotNull())
        .select(
            "doc_id",
            F.xxhash64(*[f"w{j}" for j in range(shingle)]).alias("sh"),
        )
    )
    # signature table: one grouped pass gives every per-table minhash
    # AND the distinct shingle set for the exact verify. EAGERLY
    # materialized: it feeds the band explode and both verify sides,
    # which would otherwise each recompute the shingling.
    toks = shared_lineage(
        sh_rows.groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64("sh", F.lit(i))).alias(f"h{i}")
                for i in range(n_tables)
            ],
            F.collect_set("sh").alias("shingles"),
        )
        .select(
            "doc_id",
            *[f"h{i}" for i in range(n_tables)],
            "shingles",
            F.size("shingles").alias("nsh"),
        )
    )

    candidates = minhash_candidates(toks, n_tables)
    ta = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("nsh").alias("n_a"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("nsh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", F.round(1.0 - jac, 6).alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") < threshold)
    )


@query(
    "q52_minhash_lsh_pairs",
    doc="MinHash LSH near-dup candidates (expression-native: one "
        "salted-xxhash64 minhash per OR-table over hashed 3-word "
        "shingle sets): the sub-quadratic banding path for 100 TB "
        "near-dedup — candidates form only on minhash collisions, "
        "deduped as slim id pairs, then exact shingle-Jaccard filters "
        "them. Shingling keeps the similarity space sparse (token-"
        "level sets degenerate on a ~50-word vocabulary). Rows-only "
        "(the salted hash family is not SQL-expressible).",
)
def q52_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs(read_table(spark, sf_dir, "documents"))


MINHASH_PORT_TABLES = 3
MINHASH_PORT_SHINGLE = 3
MINHASH_PORT_THRESHOLD = 0.7


def _md5_int60(col: F.Column) -> F.Column:
    """Portable 60-bit integer hash: first 15 hex digits of md5,
    parsed base-16 — bit-identical in Spark (conv) and DuckDB
    (CAST('0x…' AS BIGINT)); 60 bits stays inside signed BIGINT in
    both engines (the q72/_oracle_bucket trick, widened)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


@query(
    "q150_minhash_portable",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ARRAY_TO_STRING(ws[i:i+{MINHASH_PORT_SHINGLE - 1}], ' ') AS shingle
        FROM toks, UNNEST(RANGE(1, LEN(ws) - {MINHASH_PORT_SHINGLE - 2})) AS t(i)
        WHERE LEN(ws) >= {MINHASH_PORT_SHINGLE}
    ),
    sigs AS (
        SELECT doc_id, tbl.i AS tbl,
               MIN(CAST(('0x' || SUBSTR(MD5(shingle || '#' || tbl.i), 1, 15))
                   AS BIGINT)) AS h
        FROM sh, (SELECT UNNEST(RANGE({MINHASH_PORT_TABLES})) AS i) tbl
        GROUP BY doc_id, tbl.i
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b
          ON a.tbl = b.tbl AND a.h = b.h AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, LIST(shingle) AS ss FROM sh GROUP BY doc_id),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(LEN(LIST_INTERSECT(x.ss, y.ss)) AS DOUBLE)
               / (LEN(x.ss) + LEN(y.ss) - LEN(LIST_INTERSECT(x.ss, y.ss)))
                   AS jac
        FROM cand c JOIN sets x ON c.doc_a = x.doc_id
                    JOIN sets y ON c.doc_b = y.doc_id
    )
    SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard
    FROM verified WHERE jac >= {MINHASH_PORT_THRESHOLD}
    """,
    doc=f"MinHash LSH with a PORTABLE hash family — the hash-graded "
        "twin of q52, upgrading the LSH mechanism itself from a "
        "rows-only waiver to a full value-level driver grade: "
        f"{MINHASH_PORT_TABLES} one-minhash OR-tables where table "
        "i's signature is min(md5-60bit(shingle || '#' || i)) over "
        f"the doc's distinct {MINHASH_PORT_SHINGLE}-word shingles, "
        "banded self-join on (table, signature), exact shingle-"
        "Jaccard verify on candidates only (threshold "
        f"{MINHASH_PORT_THRESHOLD}) — so the oracle reproduces the "
        "ENTIRE pipeline including which qualifying pairs the "
        "banding probabilistically misses (both engines miss the "
        "same ones: the hash family is deterministic and "
        "bit-identical). q52 remains the production path — xxhash64 "
        "costs a fraction of md5 and its positional shingling never "
        "materializes shingle strings; this twin exists to prove the "
        "banding MECHANISM end-to-end, priced at test scale.",
)
def q150_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    k = MINHASH_PORT_SHINGLE
    with_ws = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= k
    )
    sh = with_ws.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingle_array(k))).alias("shingle"),
    )
    # ONE grouped pass over the shingle rows computes every per-table
    # signature (min of each salted md5-60bit hash, equal to the
    # oracle's min per (doc, tbl)) AND the verify shingle set; the
    # persisted table is the 1-row-per-doc signature table, not the
    # exploded shingle rows.
    toks = shared_lineage(
        sh.groupBy("doc_id").agg(
            *[
                F.min(
                    _md5_int60(F.concat_ws("#", F.col("shingle"), F.lit(str(i))))
                ).alias(f"h{i}")
                for i in range(MINHASH_PORT_TABLES)
            ],
            F.collect_set("shingle").alias("ss"),
        )
    )
    cand = minhash_candidates(toks, MINHASH_PORT_TABLES)
    sa = toks.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    sb = toks.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    jac = inter.cast("double") / (F.size("ss_a") + F.size("ss_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        # filter on the UNROUNDED value (matches the oracle's WHERE,
        # which also precedes its ROUND) — filtering post-round would
        # flip boundary pairs
        .filter(jac >= F.lit(MINHASH_PORT_THRESHOLD))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash_col(hashes_col: str = "tok_hashes", bits: int = 64) -> F.Column:
    """64-bit SimHash over a precomputed array<long> of token hashes:
    sum +1/-1 per bit position, set bit where the sum is positive.
    Takes hashes (not words) so xxhash64 runs once per token, not once
    per (token, bit) — Catalyst does not CSE lambda bodies across the
    64 fold expressions."""
    tok_hashes = F.col(hashes_col)

    def _vote_fn(bit: int):
        def fn(acc, h):
            return acc + F.when(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return fn

    terms = []
    for b in range(bits):
        # +1 if bit b set else -1, summed over tokens
        vote = F.aggregate(tok_hashes, F.lit(0).cast("long"), _vote_fn(b))
        terms.append(F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long")))
    fp = terms[0]
    for t in terms[1:]:
        fp = fp.bitwiseOR(t)
    return fp


def simhash_pairs(
    docs: DataFrame, tok_hash, bits: int, band_bits: int, max_hamming: int
) -> DataFrame:
    """SimHash near-dup pairs over (doc_id, text), shared by both hash
    families (q53 xxhash64, q151 md5-60bit): ``tok_hash`` maps a word
    column to a bigint, every token votes its ``bits`` hash bits +1/-1
    and the sign vector is the fingerprint (one vectorized Arrow
    kernel, integer-exact vs the expression fold ``simhash_col``);
    ``bits // band_bits`` bands of ``band_bits`` bits form the
    self-join key, and pairs within ``max_hamming`` (bit_count of xor)
    are kept."""
    from sklearn_raster_spark.utils.fold_kernels import simhash_pack_kernel

    # NULL-text docs have no tokens and therefore no fingerprint; an
    # unfiltered split(NULL) folds to a constant fp that bands every
    # NULL doc with every other (the oracle's UNNEST of a NULL split
    # contributes no votes, so the doc never gets a fingerprint)
    fps = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", F.transform("words", tok_hash).alias("tok_hashes"))
        .select("doc_id", simhash_pack_kernel(bits)("tok_hashes").alias("fp"))
    )
    # both sides of the banded self-join read this lineage; without a
    # persist the fingerprint kernel runs TWICE per doc. Eager: a lazy
    # persist is not populated in time for the second scan when both
    # sides materialize inside the self-join's one job.
    fps = shared_lineage(fps)
    band_mask = (1 << band_bits) - 1
    banded = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("fp", band_bits * i).bitwiseAND(F.lit(band_mask)).alias("key"),
                    )
                    for i in range(bits // band_bits)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        # hamming filter BEFORE the dedup shuffle: far-apart pairs that
        # happen to collide on one band never enter the distinct
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


@query(
    "q53_simhash_neardup",
    doc="SimHash near-dup: 64-bit fingerprint per doc (xxhash64 token "
        "hashes JVM-side, bit votes packed by one vectorized Arrow "
        "kernel, integer-exact vs the expression fold), "
        "banded self-join on four 16-bit bands, keep pairs "
        "with hamming distance <= 6 via bit_count(xor). Rows-only.",
)
def q53_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4 x 16-bit bands with hamming <= 6: a recall-oriented candidate
    # filter (pigeonhole guarantees a shared band only up to hamming 3)
    return simhash_pairs(
        read_table(spark, sf_dir, "documents"), lambda w: F.xxhash64(w), 64, 16, 6
    )


SIMHASH_PORT_BITS = 60  # md5-int60 hash width (q150's portable family)
SIMHASH_PORT_BAND_BITS = 15  # 4 bands x 15 bits
SIMHASH_PORT_HAMMING = 6


@query(
    "q151_simhash_portable",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    th AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(w), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b.i AS bit,
               SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM th, (SELECT UNNEST(RANGE({SIMHASH_PORT_BITS})) AS i) b
        GROUP BY doc_id, b.i
    ),
    fp AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                        ELSE 0 END) AS fp
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, fp, band.i AS band,
               (fp >> ({SIMHASH_PORT_BAND_BITS} * band.i))
                   & {(1 << SIMHASH_PORT_BAND_BITS) - 1} AS key
        FROM fp, (SELECT UNNEST(
            RANGE({SIMHASH_PORT_BITS // SIMHASH_PORT_BAND_BITS})) AS i) band
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.fp, b.fp)) <= {SIMHASH_PORT_HAMMING}
    """,
    doc=f"SimHash near-dup with the PORTABLE md5-60bit hash family — "
        "q53's hash-graded twin (q150's pattern applied to the second "
        "fingerprint family): every token occurrence votes its 60 "
        "hash bits +1/-1, the sign vector is the fingerprint, "
        f"{SIMHASH_PORT_BITS // SIMHASH_PORT_BAND_BITS} x "
        f"{SIMHASH_PORT_BAND_BITS}-bit bands generate candidates, "
        f"and hamming <= {SIMHASH_PORT_HAMMING} (bit_count of xor) "
        "keeps near-dups. Deterministic and bit-identical in both "
        "engines, so the ORACLE reproduces fingerprints, band "
        "collisions, and the exact surviving pair set — upgrading "
        "the banded-fingerprint mechanism from a rows-only waiver to "
        "a full value grade. q53 (xxhash64, 64-bit) remains the "
        "production path: xxhash64 is one JVM instruction stream vs "
        "md5's, and the SQL dual's token x 60-bit vote expansion "
        "exists only to make the oracle exact.",
)
def q151_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        read_table(spark, sf_dir, "documents"),
        _md5_int60,
        SIMHASH_PORT_BITS,
        SIMHASH_PORT_BAND_BITS,
        SIMHASH_PORT_HAMMING,
    )


@query(
    "q104_dedup_corpus",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS ts
        FROM documents
    ), ex AS (
        SELECT doc_id, source, LEN(ts) AS ntok, UNNEST(ts) AS tok FROM toks
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ex a
        JOIN ex b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.ntok, b.ntok
        HAVING CAST(COUNT(*) AS DOUBLE) / (a.ntok + b.ntok - COUNT(*)) >= 0.6
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach AS (
        SELECT src AS node, src AS lbl FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
        SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS keeper,
           (COALESCE(c.component, d.doc_id) = d.doc_id) AS kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
    doc="END-TO-END corpus dedup — the composition a real pipeline "
        "runs: near-dup pairs (the q51 PPJoin machinery, Jaccard >= "
        "0.6 within source) -> connected components (q84's pointer-"
        "jumping fixpoint loop) -> canonical keeper = min doc_id per "
        "cluster -> row-level verdict for EVERY corpus doc (keeper + "
        "kept flag; singletons keep themselves). The DuckDB oracle "
        "recomputes the identical closure via a recursive CTE, so the "
        "whole three-stage pipeline is hash-checked end to end. Scale "
        "shape: the only additions over q51+q84 are one left join on "
        "doc_id and the components loop's O(log diameter) rounds — "
        "near-dup graphs are small-world, and the keeper map is tiny "
        "relative to the corpus (broadcastable at 100 TB).",
)
def q104_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = q51_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # q51 pairs are DISTINCT (doc_a, doc_b) with doc_a < doc_b
    comps = connected_components(pairs, src="doc_a", dst="doc_b", assume_distinct=True)
    keeper = F.coalesce(F.col("component"), F.col("doc_id"))
    # r12 OPT (guide §3.1): the keeper map is near-dup nodes only —
    # tiny relative to the corpus by construction (the docstring's
    # 100 TB argument) — so broadcast it instead of shuffling every
    # corpus doc_id into a sort-merge join.
    return (
        docs.select("doc_id")
        .join(F.broadcast(comps), docs.doc_id == comps.node, "left")
        .select(
            "doc_id",
            keeper.alias("keeper"),
            (keeper == F.col("doc_id")).alias("kept"),
        )
    )
