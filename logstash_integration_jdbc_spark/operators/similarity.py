"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query
set against the (huge) corpus, scored with ``zip_with``/``aggregate``
expressions (JVM, codegen) and reduced with a per-query top-k window.
Scale path: IVF — corpus pre-assigned to its nearest centroid
(one-time map pass), queries probe only the ``n_probe`` nearest
centroid buckets → the scan touches n_probe/n_centroids of the data.
Sign-LSH sketches serve the near-dup variant (dedup.embedding_near_dups).

Everything is deterministic: centroids are chosen by id, hyperplanes by
fixed hash coefficients.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrow_kernels import Ragged, list_udf


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _topk_per_query(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """Two-phase per-query top-k over a (query_id, corpus_id, cosine) frame.

    A single ``Window.partitionBy(query_id)`` funnels every score for a
    query into ONE task — with a 100 TB corpus and a handful of queries
    that is a single-task sort of billions of rows. Phase 1 ranks within
    ``(query_id, spark_partition_id())`` so every task sorts only its own
    slice and keeps ≤ k; phase 2 ranks the ≤ k×partitions survivors —
    a tiny exchange. Identical results to the single-window form
    (top-k of a union = top-k of per-part top-ks).
    """
    order = [F.desc("cosine"), F.asc(corpus_id)]
    wl = Window.partitionBy(query_id, "__pid").orderBy(*order)
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(wl))
        .filter(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
    )
    w = Window.partitionBy(query_id).orderBy(*order)
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query (brute force baseline).

    corpus × broadcast(queries) — map-only scoring over the corpus, then
    a two-phase per-query top-k. Excludes self-matches when ids collide.
    Returns (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.select(F.col(corpus_id), F.col(vec_col)).crossJoin(F.broadcast(q))
    scored = scored.select(
        query_id,
        corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    ).filter(F.col(corpus_id) != F.col(query_id))
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- sign-LSH ----------------------------------------------------------------

def _plane_coeff(bit: int, dim_idx: int) -> float:
    """Deterministic pseudo-gaussian hyperplane coefficient in [-1, 1]."""
    x = (bit * 1_000_003 + dim_idx * 7919 + 12345) * 6364136223846793005 % (1 << 63)
    return (x % 2_000_001) / 1_000_000.0 - 1.0


def hyperplane_sketch(vec: Column, bits: int = 16) -> Column:
    """bits-wide sign sketch as a bigint (random-hyperplane LSH).

    sign(v·p_i) per deterministic plane p_i; bit i set iff positive.
    Pure expressions — the per-plane dot product is a zip_with over a
    literal coefficient array.
    """
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        # coefficient array literal per plane; element_at is 1-based
        plane = F.array(*[F.lit(_plane_coeff(i, j)) for j in range(64)])
        d = F.aggregate(
            F.zip_with(vec, F.slice(plane, 1, F.size(vec)), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(d > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0))
    return out


@functools.cache
def hyperplane_sketch_udf(bits: int = 64):
    """Arrow UDF computing the SAME sign sketch as ``hyperplane_sketch``
    for any width up to 64, via one numpy matmul.

    The batch's vectors form an (n × d) matrix multiplied against
    the deterministic (d × bits) plane matrix (same ``_plane_coeff``
    coefficients as the expression form) — BLAS does the work, no
    per-row Python. This is the production path: the expression form
    builds ``bits`` interpreted zip_with/aggregate trees, fine for 16
    bits, pathological for 64. Every vector in a batch must have the
    same dimension (``Ragged.matrix`` raises otherwise).
    """
    planes: dict[int, np.ndarray] = {}

    def plane_matrix(dim: int) -> np.ndarray:
        if dim not in planes:
            planes[dim] = np.array(
                [[_plane_coeff(i, j) for i in range(bits)] for j in range(dim)],
                dtype=np.float64,
            )
        return planes[dim]

    @list_udf("long")
    def _sketch(vs: Ragged):
        mat = vs.matrix().astype(np.float64, copy=False)
        sign_bits = (mat @ plane_matrix(mat.shape[1]) > 0).astype(np.uint64)
        # distinct powers of two: the sum is the bitwise OR
        return (sign_bits << np.arange(bits, dtype=np.uint64)).sum(
            axis=1, dtype=np.uint64).view(np.int64)

    return _sketch


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 16,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of 4 sketch chunks.

    The 16-bit sketch splits into 4 nibbles-of-4-bits blocks; a corpus row
    is a candidate for a query iff some block matches (pigeonhole over
    small angular distance). Exact cosine ranks the candidates.

    The candidate pair set is deduped as BARE (query_id, corpus_id)
    pairs — a pair can match in up to 4 blocks, and the dedup exchange
    must not carry two embedding vectors per duplicate (at 768-d float
    that is ~6 KB of dead weight per row through the shuffle). Vectors
    re-attach afterwards: corpus side by join on corpus_id, query side
    by broadcast (the query set is small by contract).
    """
    def id_blocks(df: DataFrame, idc: str) -> DataFrame:
        sk = hyperplane_sketch(F.col(vec_col), bits)
        return df.select(F.col(idc), sk.alias("__sk")).select(
            idc,
            F.posexplode(F.array(*[
                F.shiftright(F.col("__sk"), b * 4).bitwiseAND(F.lit(0xF))
                for b in range(bits // 4)
            ])).alias("__blk", "__val"),
        )

    pairs = (
        id_blocks(corpus, corpus_id)
        .join(F.broadcast(id_blocks(queries, query_id)), ["__blk", "__val"])
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(query_id, corpus_id)
        .dropDuplicates([query_id, corpus_id])
    )
    scored = (
        pairs.join(corpus.select(F.col(corpus_id), F.col(vec_col)), corpus_id)
        .join(F.broadcast(queries.select(F.col(query_id),
                                         F.col(vec_col).alias("__qvec"))), query_id)
        .select(
            query_id, corpus_id,
            cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- IVF ----------------------------------------------------------------------

def _centroid_sims(vec_col: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """array<struct<sim,centroid_id>> of cosine(vec, c) per literal centroid.

    The centroid set is collected to the driver (tiny by definition) and
    inlined as literal arrays, so per-row scoring is a pure map-side
    projection — zero join, zero shuffle. Centroid norms are constants;
    the row norm is computed once and reused across centroids.
    """
    row_norm = norm_expr(vec_col)
    sims = []
    for cid, cvec in cents:
        cnorm = _seq_norm(cvec)
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        sims.append(F.struct(
            (dot_expr(vec_col, lit_vec) / (row_norm * F.lit(cnorm))).alias("sim"),
            F.lit(cid).alias("centroid_id"),
        ))
    return F.array(*sims)


def _seq_norm(vec: list[float]) -> float:
    """Sequential-sum L2 norm — same association order as norm_expr /
    DuckDB list_sum, so driver-side constants stay bit-identical."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return acc ** 0.5


def _collect_centroids(corpus: DataFrame, n_centroids: int,
                       corpus_id: str, vec_col: str) -> list[tuple[int, list[float]]]:
    rows = (
        corpus.orderBy(corpus_id).limit(n_centroids)
        .select(F.col(corpus_id).alias("centroid_id"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return [(r["centroid_id"], list(r["cvec"])) for r in rows]


def _lloyd_refine(corpus: DataFrame, cents: list[tuple[int, list[float]]],
                  corpus_id: str, vec_col: str,
                  iters: int) -> list[tuple[int, list[float]]]:
    """``iters`` Lloyd steps: assign (map-side literal argmax) → per-
    cluster element-wise mean → collect the (n_centroids × dim)-row
    aggregate → new literal centroids. Each iteration is ONE small
    shuffle (posexplode → groupBy(centroid, pos) partial-avg); the
    collect is n_centroids·dim rows — driver-tiny by definition. Empty
    clusters keep their previous centroid; centroid ids are stable."""
    for _ in range(iters):
        best = F.array_max(F.transform(
            _centroid_sims(F.col(vec_col), cents),
            lambda s: F.struct(
                s["sim"].alias("sim"),
                (-s["centroid_id"]).alias("__negid"),
                s["centroid_id"].alias("centroid_id"),
            ),
        ))
        # two selects: a generator (posexplode) alongside the argmax
        # lambda in ONE select trips analyzer lambda-field resolution
        rows = (
            corpus.select(best["centroid_id"].alias("__c"),
                          F.col(vec_col).alias("__v"))
            .select("__c", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["__c"], {})[r["__p"]] = r["__m"]
        cents = [
            (cid, [means[cid][p] for p in range(len(vec))])
            if cid in means else (cid, vec)
            for cid, vec in cents
        ]
    return cents


def _assign_expr(vec_col: str, cents: list[tuple[int, list[float]]]) -> Column:
    """Map-side nearest-centroid assignment: argmax cosine over the
    literal centroid array via array_max on (sim, -centroid_id) structs
    — ties break to the smallest centroid_id, no shuffle, no crossJoin."""
    best = F.array_max(F.transform(
        _centroid_sims(F.col(vec_col), cents),
        lambda s: F.struct(
            s["sim"].alias("sim"),
            (-s["centroid_id"]).alias("__negid"),
            s["centroid_id"].alias("centroid_id"),
        ),
    ))
    return best["centroid_id"]


def ivf_index(corpus: DataFrame, n_centroids: int = 16,
              corpus_id: str = "vec_id", vec_col: str = "embedding",
              _cents: list[tuple[int, list[float]]] | None = None,
              kmeans_iters: int = 0) -> tuple[DataFrame, DataFrame]:
    """Assign each corpus vector to its nearest centroid (one map pass).

    Centroids: the vectors with the n_centroids smallest ids —
    deterministic; ``kmeans_iters`` > 0 refines them with that many
    Lloyd steps (assign → element-wise cluster mean → re-broadcast; see
    ``_lloyd_refine``) before the final assignment, which balances
    buckets on clustered corpora. Assignment is a map-side argmax over
    the literal centroid array — ``array_max`` on (sim, -centroid_id)
    structs — NOT a crossJoin + per-row window, which would shuffle
    |corpus|×n_centroids rows just to take an argmax. Ties break to the
    smallest centroid_id. Returns (assigned_corpus, centroids).
    """
    cents = _cents if _cents is not None else _collect_centroids(
        corpus, n_centroids, corpus_id, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(corpus, cents, corpus_id, vec_col, kmeans_iters)
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents],
        f"centroid_id long, __cvec {dict(corpus.dtypes)[vec_col]}",
    )
    assigned = corpus.select(
        F.col(corpus_id), F.col(vec_col),
        _assign_expr(vec_col, cents).alias("centroid_id"),
    )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF search: probe the n_probe nearest centroid buckets per query.

    At scale the assigned corpus is written bucketed/partitioned by
    centroid_id so a probe prunes partitions; here the join on
    centroid_id expresses the same pruning. Probe selection is the same
    map-side literal-centroid scoring as assignment (sort the per-query
    sim array, slice n_probe) — no crossJoin, no window.
    ``kmeans_iters`` refines the centroids first (``_lloyd_refine``);
    probes then use the refined set, keeping probe and assignment
    consistent.
    """
    cents = _collect_centroids(corpus, n_centroids, corpus_id, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(corpus, cents, corpus_id, vec_col, kmeans_iters)
    assigned, _ = ivf_index(corpus, n_centroids, corpus_id, vec_col, _cents=cents)
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    # sort by (-sim, centroid_id) ascending ≡ sim DESC, centroid_id ASC
    probe_arr = F.slice(
        F.sort_array(F.transform(
            _centroid_sims(F.col("__qvec"), cents),
            lambda s: F.struct((-s["sim"]).alias("negsim"),
                               s["centroid_id"].alias("centroid_id")),
        )),
        1, n_probe,
    )
    probes = q.select(
        query_id, "__qvec",
        F.explode(probe_arr).alias("__p"),
    ).select(query_id, "__qvec", F.col("__p.centroid_id").alias("centroid_id"))
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col(corpus_id) != F.col(query_id)
    )
    scored = cand.select(
        query_id, corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- int8 scalar quantization -------------------------------------------------

def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "q_vec",
                        scale_col: str = "q_scale") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q = round(v / scale)``
    with ``scale = max(|v|) / 127`` — the standard ANN memory path
    (4× smaller than float32, 8× than float64 in the shuffle and in
    executor cache; at 10^9 vectors the index fits where floats
    don't). Pure Catalyst (``transform``/``array_max``); cosine over
    the quantized vectors needs NO dequantization because the
    per-vector scale cancels in the ratio.

    An all-zero vector keeps scale 1.0 (quantizes to zeros) rather
    than dividing by zero.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale.cast("double"))
    return out.withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x / F.col(scale_col))
                    .cast("tinyint")))


def cosine_topk_quantized(corpus_q: DataFrame, queries_q: DataFrame,
                          k: int = 10, corpus_id: str = "vec_id",
                          query_id: str = "query_id",
                          q_col: str = "q_vec") -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — the same
    broadcast + two-phase top-k plan as ``cosine_topk``, scoring the
    tinyint arrays directly (scales cancel in cosine, so the only
    error is the ±0.5-step rounding noise, ~1e-2 on unit vectors)."""
    q = queries_q.select(F.col(query_id), F.col(q_col).alias("__qq"))
    scored = (corpus_q.select(F.col(corpus_id), F.col(q_col))
              .crossJoin(F.broadcast(q)))
    a = F.transform(F.col(q_col), lambda x: x.cast("double"))
    b = F.transform(F.col("__qq"), lambda x: x.cast("double"))
    scored = scored.select(
        query_id, corpus_id,
        cosine_expr(a, b).alias("cosine"),
    ).filter(F.col(corpus_id) != F.col(query_id))
    return _topk_per_query(scored, query_id, corpus_id, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for retrieval / embedding-model training:
    for each query, the ``k`` most-similar corpus items with a
    DIFFERENT label — the near-miss negatives a contrastive loss
    learns most from (random negatives are trivially separable).

    Same scale shape as ``cosine_topk`` (broadcast queries, map-only
    scoring, two-phase per-query top-k) with the positive/self
    exclusion applied MAP-SIDE before any ranking: rows sharing the
    query's label never enter the top-k exchange, so the selection
    cost is paid only by candidate negatives. Swap the brute-force
    scoring for the IVF/LSH candidate generators when the corpus
    outgrows exact scan — the label gate composes unchanged.

    Returns (query_id, vec_id, cosine, rank) — rank 1 is the hardest
    negative.
    """
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    scored = corpus.select(
        F.col(corpus_id), F.col(vec_col), F.col(label_col)
    ).crossJoin(F.broadcast(q))
    scored = scored.filter(
        (F.col(label_col) != F.col("__qlabel"))
        & (F.col(corpus_id) != F.col(query_id))
    ).select(
        query_id,
        corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- product quantization (PQ / ADC) ------------------------------------------
#
# The ANN *memory* path beyond scalar int8: split each d-dim vector into
# n_subspaces contiguous sub-vectors and replace each sub-vector with the
# id of its nearest codeword from a per-subspace codebook of n_codes
# entries. A 64-dim float64 vector (512 B) becomes n_subspaces=8 one-byte
# codes (8 B) — 64× smaller, so a 10^9-vector index that cannot fit in
# executor memory as floats fits comfortably as codes. Queries stay
# exact; scoring is ADC (asymmetric distance computation): the query's
# per-(subspace, codeword) inner products form a tiny lookup table and a
# candidate's approximate score is the sum of n_subspaces lookups —
# never touching the original vectors.
#
# Everything is deterministic and pure Catalyst: codebooks initialise
# from the sub-vectors of the n_codes smallest-id corpus vectors and are
# optionally refined with distributed Lloyd steps (all subspaces in ONE
# small shuffle per iteration); encode and ADC scoring are map-only
# projections over literal codeword arrays — no UDF, no join for the
# codebook, no raw vectors in the top-k exchange.

PQCodebooks = list[list[tuple[int, list[float]]]]


def _sub_slice(vec_col: Column, sub: int, dsub: int) -> Column:
    # F.slice is 1-based
    return F.slice(vec_col, sub * dsub + 1, dsub)


def _l2_argmin_score(sub_vec: Column, w: list[float]) -> Column:
    """argmin_c ||v - w_c||² ≡ argmax_c (v·w_c − ||w_c||²/2); the ||v||²
    term is constant per row so it never needs computing."""
    lit_w = F.array(*[F.lit(float(x)) for x in w])
    half_n2 = 0.0
    for x in w:
        half_n2 += float(x) * float(x)
    half_n2 *= 0.5
    return dot_expr(sub_vec, lit_w) - F.lit(half_n2)


def _pq_code_expr(vec_col: Column, sub: int, dsub: int,
                  book: list[tuple[int, list[float]]]) -> Column:
    """Map-side nearest-codeword id for one subspace: array_max over
    (score, -code, code) structs — ties break to the smallest code."""
    sv = _sub_slice(vec_col, sub, dsub)
    cands = F.array(*[
        F.struct(
            _l2_argmin_score(sv, w).alias("score"),
            F.lit(-code).alias("__negcode"),
            F.lit(code).alias("code"),
        )
        for code, w in book
    ])
    return F.array_max(cands)["code"]


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> PQCodebooks:
    """Per-subspace codebooks, deterministically initialised from the
    sub-vectors of the ``n_codes`` smallest-id corpus vectors, optionally
    refined with ``train_iters`` Lloyd steps.

    Each Lloyd step handles ALL subspaces in one distributed pass:
    assign codes map-side (literal argmin, no join), posexplode the
    assigned sub-vectors to (subspace, code, pos, x), partial-avg
    groupBy — ONE small shuffle — and collect the
    n_subspaces·n_codes·dsub-row mean table (8·16·8 = 1024 rows for the
    default shape: driver-tiny regardless of corpus size). Empty codes
    keep their previous codeword; code ids are stable.
    """
    seeds = _collect_centroids(corpus, n_codes, corpus_id, vec_col)
    dim = len(seeds[0][1])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces
    books: PQCodebooks = [
        [(code, cvec[m * dsub:(m + 1) * dsub]) for code, cvec in
         ((i, seeds[i][1]) for i in range(n_codes))]
        for m in range(n_subspaces)
    ]
    for _ in range(train_iters):
        v = F.col(vec_col)
        if n_codes > 32:
            # expression-form assignment stalls codegen past ~32 codes;
            # assign with the einsum UDF, then explode codes → subvectors
            assigned = (
                pq_encode_udf(corpus, books, vec_col, "__codes")
                .select(F.col(vec_col).alias("__v"),
                        F.posexplode("__codes").alias("__sub", "__code"))
                .select("__sub", "__code", F.posexplode(F.expr(
                    f"slice(__v, __sub * {dsub} + 1, {dsub})")).alias("__p", "__x"))
            )
        else:
            per_sub = F.array(*[
                F.struct(
                    F.lit(m).alias("sub"),
                    _pq_code_expr(v, m, dsub, books[m]).alias("code"),
                    _sub_slice(v, m, dsub).alias("sv"),
                )
                for m in range(n_subspaces)
            ])
            assigned = (
                corpus.select(F.explode(per_sub).alias("__s"))
                .select(F.col("__s.sub").alias("__sub"),
                        F.col("__s.code").alias("__code"),
                        F.posexplode("__s.sv").alias("__p", "__x"))
            )
        rows = (
            assigned
            .groupBy("__sub", "__code", "__p")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((r["__sub"], r["__code"]), {})[r["__p"]] = r["__m"]
        books = [
            [
                (code, [means[(m, code)][p] for p in range(dsub)])
                if (m, code) in means else (code, w)
                for code, w in books[m]
            ]
            for m in range(n_subspaces)
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    books: PQCodebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector to its ``array<int>`` of per-subspace codeword
    ids — one map-only projection, no shuffle, no UDF. Downstream keeps
    only (id, codes): n_subspaces small ints per vector is the whole
    index footprint.

    This expression form builds n_subspaces·n_codes literal codeword
    structs — fine for small codebooks (≤ ~32 codes), pathological to
    compile beyond that; use ``pq_encode_udf`` for production-size
    codebooks (the exact analogue of ``hyperplane_sketch`` vs
    ``hyperplane_sketch_udf``)."""
    n_subspaces = len(books)
    dsub = len(books[0][0][1])
    codes = F.array(*[
        _pq_code_expr(F.col(vec_col), m, dsub, books[m])
        for m in range(n_subspaces)
    ])
    return corpus.withColumn(out_col, codes)


def pq_encode_udf(
    corpus: DataFrame,
    books: PQCodebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Arrow-batched PQ encode for production-size codebooks: the
    batch's vectors reshape into an (n × m × dsub) tensor scored against
    the (m × K × dsub) codebook tensor with ONE einsum — no per-row
    Python, and expression-tree size is independent of K (the
    expression form compiles O(m·K) literal structs, which stalls
    codegen past ~32 codes). Same argmin semantics as ``pq_encode``:
    L2 via the v·w − ‖w‖²/2 identity, ties to the smallest code id
    (np.argmax returns the first maximum)."""
    n_subspaces = len(books)
    dsub = len(books[0][0][1])
    W = np.array(
        [[w for _, w in sorted(bm, key=lambda cw: cw[0])] for bm in books],
        dtype=np.float64)                      # (m, K, dsub)
    half_n2 = 0.5 * np.einsum("mkd,mkd->mk", W, W)   # (m, K)

    @list_udf("array<int>")
    def _enc(vs: Ragged):
        sub = vs.matrix().astype(np.float64, copy=False).reshape(
            len(vs.lengths), n_subspaces, dsub)
        scores = np.einsum("nmd,mkd->nmk", sub, W) - half_n2[None, :, :]
        return np.argmax(scores, axis=2).astype(np.int32)

    return corpus.withColumn(out_col, _enc(F.col(vec_col)))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    books: PQCodebooks | None = None,
    use_udf_encode: bool | None = None,
    rerank_factor: int = 0,
) -> DataFrame:
    """PQ-compressed approximate cosine top-k via ADC.

    The corpus is encoded once (map-only) and the raw vectors are
    DROPPED before scoring — the cross join against the broadcast query
    set carries only (corpus_id, pq_codes), so at 10^9 vectors the
    scored relation is ~n_subspaces bytes/row instead of 8·dim. The
    approximate cosine is

        adc_cos = Σ_m q_m · w_m[code_m]  /  (‖q‖ · √(Σ_m ‖w_m[code_m]‖²))

    i.e. the exact cosine of the query against the candidate's
    RECONSTRUCTION — computed without materialising it, through
    ``element_at`` lookups into literal per-subspace codeword arrays.
    Codeword norms are driver-side constants (sequential sums, matching
    DuckDB ``list_sum`` association order for oracle bit-parity).

    Composes with IVF: assign + probe on the same corpus first, then ADC
    only inside the probed buckets (codes ride along the bucketed
    layout). Ties break to the smallest corpus id; rank 1 is best.

    ``rerank_factor`` > 0 adds the standard recall-repair stage: ADC
    shortlists ``k·rerank_factor`` candidates per query, the raw vectors
    are re-attached FOR THE SHORTLIST ONLY (a join whose left side is
    ≤ queries·k·factor rows — driver-tiny however big the corpus), and
    the final top-k is exact cosine. Memory path preserved: the full
    corpus is still scanned as codes; floats are touched only for the
    shortlist.

    Scoring path: for ≤ 32 codes the ADC sum is a pure Catalyst
    projection over literal codeword arrays; beyond that (literal-array
    expressions stall codegen) an Arrow ``mapInPandas`` kernel gathers
    each batch's scores from a precomputed (queries × m × K) lookup
    table — one numpy fancy-index per query per batch, no per-row
    Python. Both paths score identical values.
    """
    if books is None:
        books = pq_codebooks(corpus, n_subspaces, n_codes, corpus_id,
                             vec_col, train_iters)
    n_subspaces = len(books)
    n_codes = len(books[0])
    dsub = len(books[0][0][1])
    if use_udf_encode is None:
        use_udf_encode = n_codes > 32
    enc_fn = pq_encode_udf if use_udf_encode else pq_encode
    encoded = enc_fn(corpus, books, vec_col).select(
        F.col(corpus_id), F.col("pq_codes"))

    if n_codes > 32:
        scored = _adc_score_lut(encoded, queries, books, corpus_id,
                                query_id, vec_col)
    else:
        q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
        pairs = encoded.crossJoin(F.broadcast(q)).filter(
            F.col(corpus_id) != F.col(query_id))
        ip = F.lit(0.0)
        n2 = F.lit(0.0)
        for m in range(n_subspaces):
            # codes are dense 0..n_codes-1 in codebook order; element_at
            # is 1-based, so index code+1 into the code-ordered literals
            ordered = sorted(books[m], key=lambda cw: cw[0])
            w_arr = F.array(*[
                F.array(*[F.lit(float(x)) for x in w]) for _, w in ordered])
            n2_consts = []
            for _, w in ordered:
                acc = 0.0
                for x in w:
                    acc += float(x) * float(x)
                n2_consts.append(acc)
            n2_arr = F.array(*[F.lit(v) for v in n2_consts])
            code_m = F.element_at("pq_codes", m + 1)
            ip = ip + dot_expr(_sub_slice(F.col("__qvec"), m, dsub),
                               F.element_at(w_arr, code_m + F.lit(1)))
            n2 = n2 + F.element_at(n2_arr, code_m + F.lit(1))
        scored = pairs.select(
            query_id, corpus_id,
            (ip / (norm_expr(F.col("__qvec")) * F.sqrt(n2))).alias("cosine"),
        )

    if not rerank_factor:
        return _topk_per_query(scored, query_id, corpus_id, k)
    short = _topk_per_query(scored, query_id, corpus_id, k * rerank_factor)
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    exact = (
        short.select(query_id, corpus_id)
        .join(corpus.select(F.col(corpus_id), F.col(vec_col)), corpus_id)
        .join(F.broadcast(q), query_id)
        .select(query_id, corpus_id,
                cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"))
    )
    return _topk_per_query(exact, query_id, corpus_id, k)


def _adc_score_lut(encoded: DataFrame, queries: DataFrame,
                   books: PQCodebooks, corpus_id: str, query_id: str,
                   vec_col: str) -> DataFrame:
    """ADC scoring for production-size codebooks: the query set (small
    by contract) is collected once, its per-(query, subspace, codeword)
    inner-product table — queries × m × K doubles — is closed over, and
    an Arrow ``mapInPandas`` kernel scores every (candidate, query) pair
    in a batch with numpy gathers. Emits (query_id, corpus_id, cosine)
    long-form, self-matches excluded."""
    n_subspaces = len(books)
    dsub = len(books[0][0][1])
    W = np.array(
        [[w for _, w in sorted(bm, key=lambda cw: cw[0])] for bm in books],
        dtype=np.float64)                               # (m, K, dsub)
    n2 = np.einsum("mkd,mkd->mk", W, W)                 # (m, K)
    qrows = queries.select(F.col(query_id), F.col(vec_col)).collect()
    qids = [r[0] for r in qrows]
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    lut = np.einsum("qmd,mkd->qmk",
                    Q.reshape(len(qids), n_subspaces, dsub), W)
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    spark = encoded.sparkSession
    qid_type = dict(queries.dtypes)[query_id]
    cid_type = dict(encoded.dtypes)[corpus_id]
    out_schema = (f"{query_id} {qid_type}, {corpus_id} {cid_type}, "
                  "cosine double")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy())      # (n, m)
            cids = pdf[corpus_id].to_numpy()
            subs = np.arange(n_subspaces)
            cand_n2 = np.sqrt(n2[subs, codes].sum(axis=1))    # (n,)
            for qi, qid in enumerate(qids):
                ip = lut[qi][subs, codes].sum(axis=1)
                cos = ip / (qnorm[qi] * cand_n2)
                keep = cids != qid
                yield pd.DataFrame({
                    query_id: np.repeat(qid, keep.sum()),
                    corpus_id: cids[keep],
                    "cosine": cos[keep],
                })

    return encoded.mapInPandas(score, out_schema)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    train_iters: int = 0,
    rerank_factor: int = 0,
) -> DataFrame:
    """IVF-PQ: centroid-probed candidate pruning composed with RESIDUAL
    product quantization — the full 10^9-vector recipe.

    IVF alone prunes candidates but still scores floats; PQ alone
    compresses but scans the whole corpus. Composed: each vector is
    assigned to its nearest centroid (map-side literal argmax, as
    ``ivf_index``), its RESIDUAL v − c is PQ-encoded (residuals cluster
    far tighter than raw vectors, so the same codebook budget quantizes
    much finer), and a query scores only the probed buckets, against
    codes. The scored relation per candidate is (centroid_id, id,
    n_subspaces bytes) — at 10^9 vectors the index is ~GBs, not TBs,
    and a probe touches n_probe/n_centroids of it.

    The approximate cosine is exact cosine against the reconstruction
    c + r̂, computed without materialising it:

        ip  = q·c + Σ_m q_m · w_m[code_m]
        ‖c+r̂‖² = ‖c‖² + Σ_m (2·c_m·w_m[code_m] + ‖w_m[code_m]‖²)

    q·c is computed once per (query, probed centroid) — on the
    broadcast probe side, never per candidate; every c/w-only term is a
    driver-side constant folded into literal lookup arrays indexed by
    (centroid pos, code). Scoring is a pure Catalyst projection: no
    UDF, no join beyond the probe, and raw vectors never enter a
    shuffle after encode. ``rerank_factor`` > 0 re-scores the
    ≤ k·factor shortlist with exact cosine (floats touched for the
    shortlist only). Ties break to the smallest corpus id.

    Codebooks >32 codes stall literal-expression codegen; production
    sizes should extend this with the ``_adc_score_lut`` Arrow route
    (flat ``pq_adc_topk`` shows the pattern) — declared boundary here.
    """
    if n_codes > 32:
        raise NotImplementedError(
            "ivf_pq_topk literal-expression scoring is bounded at 32 codes; "
            "route production codebooks through the Arrow LUT kernel as in "
            "pq_adc_topk(_adc_score_lut)")
    cents = _collect_centroids(corpus, n_centroids, corpus_id, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(corpus, cents, corpus_id, vec_col, kmeans_iters)
    assigned, _ = ivf_index(corpus, n_centroids, corpus_id, vec_col,
                            _cents=cents)
    dim = len(cents[0][1])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces

    pos_map = F.create_map(*[
        F.lit(v) for i, (cid, _) in enumerate(cents) for v in (cid, i)])
    lit_cents = F.array(*[
        F.array(*[F.lit(float(x)) for x in cv]) for _, cv in cents])
    with_res = assigned.withColumn(
        "__cpos", pos_map[F.col("centroid_id")]
    ).withColumn(
        "__resid",
        F.zip_with(F.col(vec_col),
                   F.element_at(lit_cents, F.col("__cpos") + 1),
                   lambda x, c: x - c),
    )
    # codebook seeds/training skip the centroid rows themselves: a
    # centroid vector's residual is exactly zero, so with smallest-id
    # seeding up to n_centroids codewords would sit at the origin and
    # collapse into one usable code (ties → smallest). Excluding ≤
    # n_centroids rows from Lloyd training is statistically nothing.
    max_cid = max(cid for cid, _ in cents)
    books = pq_codebooks(with_res.filter(F.col(corpus_id) > max_cid),
                         n_subspaces, n_codes, corpus_id,
                         "__resid", train_iters)
    encoded = pq_encode(with_res, books, "__resid").select(
        F.col(corpus_id), "centroid_id", "__cpos", "pq_codes")

    # probe side: top n_probe centroids per query + the per-(query,
    # centroid) constant q·c — queries × n_probe rows, broadcast
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    probe_arr = F.slice(
        F.sort_array(F.transform(
            _centroid_sims(F.col("__qvec"), cents),
            lambda s: F.struct((-s["sim"]).alias("negsim"),
                               s["centroid_id"].alias("centroid_id")),
        )),
        1, n_probe,
    )
    probes = (
        q.select(query_id, "__qvec", F.explode(probe_arr).alias("__p"))
        .select(query_id, "__qvec", F.col("__p.centroid_id").alias("centroid_id"))
        .withColumn("__qc", dot_expr(
            F.col("__qvec"),
            F.element_at(lit_cents, pos_map[F.col("centroid_id")] + 1)))
    )
    cand = encoded.join(F.broadcast(probes), "centroid_id").filter(
        F.col(corpus_id) != F.col(query_id))

    # driver-side constants (sequential sums — deterministic folds)
    def _sdot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    n2c_arr = F.array(*[F.lit(_sdot(cv, cv)) for _, cv in cents])
    ip_res = F.lit(0.0)
    n2_res = F.lit(0.0)
    for m in range(n_subspaces):
        ordered = sorted(books[m], key=lambda cw: cw[0])
        w_arr = F.array(*[
            F.array(*[F.lit(float(x)) for x in w]) for _, w in ordered])
        n2w_arr = F.array(*[F.lit(_sdot(w, w)) for _, w in ordered])
        cdw_arr = F.array(*[
            F.array(*[
                F.lit(_sdot(cv[m * dsub:(m + 1) * dsub], w))
                for _, w in ordered])
            for _, cv in cents])
        code_m = F.element_at("pq_codes", m + 1)
        ip_res = ip_res + dot_expr(
            _sub_slice(F.col("__qvec"), m, dsub),
            F.element_at(w_arr, code_m + F.lit(1)))
        # parenthesized (2·c·w + ‖w‖²) so the fold order matches the
        # oracle's per-subspace term sum exactly
        n2_res = n2_res + (
            F.lit(2.0) * F.element_at(
                F.element_at(cdw_arr, F.col("__cpos") + 1),
                code_m + F.lit(1))
            + F.element_at(n2w_arr, code_m + F.lit(1))
        )
    recon_n2 = F.element_at(n2c_arr, F.col("__cpos") + 1) + n2_res
    scored = cand.select(
        query_id, corpus_id,
        ((F.col("__qc") + ip_res)
         / (norm_expr(F.col("__qvec")) * F.sqrt(recon_n2))).alias("cosine"),
    )
    if not rerank_factor:
        return _topk_per_query(scored, query_id, corpus_id, k)
    short = _topk_per_query(scored, query_id, corpus_id, k * rerank_factor)
    exact = (
        short.select(query_id, corpus_id)
        .join(corpus.select(F.col(corpus_id), F.col(vec_col)), corpus_id)
        .join(F.broadcast(q), query_id)
        .select(query_id, corpus_id,
                cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"))
    )
    return _topk_per_query(exact, query_id, corpus_id, k)
