"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (it has no dedup); required first-class components
for the 100 TB training-data story. All exact/minhash/ngram paths are
pure Catalyst expressions (codegen, no Python) in their reference
forms; the production signature, band-bucket, winnow and simhash
kernels are numpy-vectorized Arrow UDFs on ``functions.arrow_kernels``
(bit-twiddling built-ins can't express them cleanly, and interpreted
higher-order expressions are ~50× slower).

Scale design notes:
- exact dedup shuffles on a 256-bit digest of the text, never the text
  itself — shuffle payload is O(rows·32B) regardless of document size;
- MinHash+LSH: signatures and band buckets are computed map-side; the
  only shuffle is the band-bucket exchange (rows×bands short rows), and
  candidate verification joins only within buckets — the classic
  near-linear near-dup pipeline (Broder minhash + banding as in the
  Mining of Massive Datasets formulation);
- all hash "randomness" is fixed-coefficient universal hashing
  (a_i·h+b_i mod p) so results are deterministic across runs/clusters.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrow_kernels import Ragged, list_udf, segment_reduce
from ..functions.xxhash import spark_xxhash64_longs_np

# Mersenne prime 2^31-1: with 31-bit coefficients and 31-bit-folded
# shingle hashes, a·h+b < 2^62 stays exact in BIGINT (no silent wrap).
_P = (1 << 31) - 1


def _perm_coeffs(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal hash permutations."""
    coeffs = []
    x = seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _P
        coeffs.append((a, b))
    return coeffs


# -- exact ----------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min") -> DataFrame:
    """Keep one representative row per distinct text (hash-grouped).

    Representative = min (default) or max id — deterministic. Returns the
    full rows of the representatives.
    """
    h = F.sha2(F.col(text_col), 256).alias("__h")
    agg = F.min if keep == "min" else F.max
    reps = df.select(h, F.col(id_col)).groupBy("__h").agg(agg(id_col).alias(id_col))
    return df.join(reps.select(id_col), id_col, "left_semi")


def dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dup clusters: (rep_id, n_dups) for groups with >1 member."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .drop("__h")
    )


def normalize_text_expr(text: Column) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip punctuation,
    collapse whitespace runs. Catches the trivially-reformatted copies
    (case, smart spacing, trailing punctuation) that exact sha2 dedup
    misses while staying a deterministic map-side expression."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def exact_dedup_normalized(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Keep one representative per NORMALIZED-text group.

    Same digest-grouped plan as ``exact_dedup`` (shuffles 32-byte
    sha2 digests, never text) over ``normalize_text_expr``.
    """
    h = F.sha2(normalize_text_expr(F.col(text_col)), 256).alias("__h")
    agg = F.min if keep == "min" else F.max
    reps = df.select(h, F.col(id_col)).groupBy("__h").agg(agg(id_col).alias(id_col))
    return df.join(reps.select(id_col), id_col, "left_semi")


# -- shingling ------------------------------------------------------------

def shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles (JVM-side).

    words → sliding n-grams (concat_ws of slices) → xxhash64 → distinct.
    Semantic reference form; the minhash pipeline uses the staged
    ``token_hashes`` + ``gram_hashes`` pair below, measured ~8× faster
    (higher-order functions evaluate interpreted, and slice+concat_ws
    re-copies O(n) strings per gram where the staged form combines three
    already-computed int64 token hashes).
    """
    words = F.split(F.trim(F.lower(text_col)), r"\s+")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))),
    )
    # fewer than n words → fall back to hashing the whole text as one shingle
    grams = F.when(k > 0, grams).otherwise(F.array(F.xxhash64(text_col)))
    return F.array_distinct(grams)


def token_hashes(text_col: Column) -> Column:
    """xxhash64 per whitespace token (same tokenization as
    ``shingle_hashes``)."""
    return F.transform(
        F.split(F.trim(F.lower(text_col)), r"\s+"), lambda w: F.xxhash64(w)
    )


def gram_hashes(th_col: Column, text_col: Column, n: int = 3,
                distinct: bool = True) -> Column:
    """n-gram shingle hashes from PRE-MATERIALIZED token hashes:
    gram hash = xxhash64 over the n consecutive token hashes.

    Hash values differ from ``shingle_hashes`` (hash-of-hashes vs
    hash-of-string), but every shingle-SET relation (equality, jaccard)
    is preserved modulo 64-bit collisions — which is all minhash/LSH
    consumes. ``th_col`` MUST reference a materialized column (a prior
    select/withColumn), not an inline expression: interpreted
    higher-order evaluation would recompute the token-hash array once
    per element, turning O(words) into O(words²).
    """
    k = F.greatest(F.size(th_col) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(*[F.element_at(th_col, i + F.lit(j))
                               for j in range(n)]),
    )
    grams = F.when(k > 0, grams).otherwise(F.array(F.xxhash64(text_col)))
    # distinct=False skips the per-row hash-set pass for consumers that
    # only take the MIN over the grams (minhash signatures: min over a
    # multiset == min over its set — bucket values verified identical).
    # Jaccard consumers must keep distinct=True.
    return F.array_distinct(grams) if distinct else grams


# -- MinHash + LSH ---------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """num_hashes-wide minhash signature as array<bigint> (expression form).

    Each permutation i: min over shingles of (a_i·h + b_i) mod P, with h
    first folded into [0, P). Pure `transform`+`array_min` expressions —
    zero Python, but higher-order functions evaluate *interpreted* (no
    whole-stage codegen), so this form is ~50× slower than the Arrow UDF
    below. Kept as the semantic reference; production path is
    `minhash_signature_udf` (identical output, tested in test_dedup).
    """
    def perm(a: int, b: int):
        return lambda h: (F.pmod(h, F.lit(_P)) * F.lit(a) + F.lit(b)) % F.lit(_P)

    sigs = [
        F.array_min(F.transform(shingles, perm(a, b)))
        for a, b in _perm_coeffs(num_hashes)
    ]
    return F.array(*sigs)


def _signature_matrix(rows: Ragged, num_hashes: int) -> np.ndarray:
    """(rows × num_hashes) minhash signatures of a shingle-hash batch —
    the ``minhash_signature`` values for every non-empty row (empty and
    null rows hold ``_P``, which no real signature value reaches).

    Per permutation k: (h·a_k + b_k) mod P over the flat vector, then one
    segment min — O(total_shingles) per permutation, no Python row loop.
    h < 2^31 and a_k < 2^31 keep the product exact in int64. Memory stays
    O(total_shingles): per-permutation passes, never a
    (total × num_hashes) matrix."""
    coeffs = _perm_coeffs(num_hashes)
    hm = rows.values % _P  # numpy % matches pmod (non-negative) for positive divisor
    sig = np.empty((len(rows.lengths), num_hashes), dtype=np.int64)
    # NOTE (r6): a Mersenne-fold replacement for `% _P` was benchmarked
    # and REVERTED — the loop is memory-bandwidth bound (3 passes over
    # the flat vector per permutation), so trading one modulo pass for
    # four cheap passes measured ~10% SLOWER. Kept as the minimal-pass form.
    for k, (a, b) in enumerate(coeffs):
        sig[:, k] = segment_reduce(np.minimum, (hm * a + b) % _P, rows.lengths, _P)
    return sig


@functools.cache
def minhash_signature_udf(num_hashes: int = 64):
    """Arrow UDF computing the SAME signature as `minhash_signature`,
    numpy-vectorized across the whole batch (``_signature_matrix``).
    Null/empty shingle arrays → [null]*num_hashes, matching the
    expression form (array_min over an empty/null transform)."""

    @list_udf("array<bigint>")
    def _sig(rows: Ragged):
        sig = _signature_matrix(rows, num_hashes)
        return np.ma.masked_array(sig, np.broadcast_to(
            (rows.lengths == 0)[:, None], sig.shape))

    return _sig


@functools.cache
def minhash_band_bucket_udf(num_hashes: int = 64, bands: int = 16):
    """Arrow UDF: shingle-hash array → per-band LSH bucket keys.

    Fuses ``minhash_signature_udf`` with the band hashing (guide §4.1:
    control what crosses the Python boundary): the (rows × num_hashes)
    signature matrix stays numpy-local and only ``bands`` bucket longs
    per doc return over Arrow — ¼ of the bytes at 64/16. The bucket
    value is SPARK-PARITY ``xxhash64`` over the band's signature values
    as BIGINTs — the chained 8-byte XXH64 (running seed from 42) that
    ``F.xxhash64(sig[i], ..., sig[i+r-1])`` computes, evaluated for all
    bands at once by ``spark_xxhash64_longs_np``; parity is pinned
    against the JVM expression in test_dedup. Rows with null/empty
    shingles emit the all-null-input value (the seed, 42) for every
    band, matching the JVM's skip-null fold over an all-null signature.
    """
    r = num_hashes // bands

    # Optimizer fence (guide §4.4): without it, the plan duplicates
    # the ArrowEvalPython below the spread exchange with the WHOLE
    # shingle pipeline inlined into the UDF argument — the inlined
    # higher-order form re-evaluates the token-hash array per element
    # (O(words²), the exact trap the gram_hashes docstring documents)
    # and ran 5× slower at 1M docs.
    @list_udf("array<bigint>", nondeterministic=True)
    def _buckets(rows: Ragged):
        sig = _signature_matrix(rows, num_hashes)[:, :bands * r]
        sig = sig.reshape(-1, bands, r)
        out = spark_xxhash64_longs_np(sig[:, :, j] for j in range(r))
        out[rows.lengths == 0] = 42  # xxhash64 over all-null = seed
        return out

    return _buckets


def _spread(df: DataFrame, id_col: str, text_col: str,
            force: bool = False) -> DataFrame:
    """Null-safe (id, text) projection spread across all cores — the
    shingle/signature stages must not run in the source's 1-2
    file-partitions (measured ~70% slower at sf0.1).

    The repartition is skipped when the input already carries at least
    ``defaultParallelism`` partitions (guide §2.4: a repartition added
    "for parallelism" is a pure extra exchange when the scan is already
    parallel — measured ~0.45 s of the 1M-doc minhash wall). ``force``
    keeps it unconditional for consumers whose DOWNSTREAM plan relies on
    the id-hash partitioning itself (the window/sort winnow reference in
    the tests: its per-id window sort would otherwise exchange the
    token-EXPLODED rows, ~40× the text bytes)."""
    out = df.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
    n = df.sparkSession.sparkContext.defaultParallelism
    if force or out.rdd.getNumPartitions() < n:
        out = out.repartition(n, F.col(id_col))
    return out


def _shingled(src: DataFrame, id_col: str, text_col: str,
              n_shingle: int, distinct: bool = True) -> DataFrame:
    """(id, __sh) via the staged token-hash → gram-hash form (~8× faster
    than the reference shingle_hashes; see gram_hashes docstring). The
    intermediate select MATERIALIZES __th — required, not style.
    ``distinct=False`` is the signature-only fast path (see
    gram_hashes)."""
    return (
        src.select(F.col(id_col), F.col(text_col),
                   token_hashes(F.col(text_col)).alias("__th"))
        .select(F.col(id_col),
                gram_hashes(F.col("__th"), F.col(text_col),
                            n_shingle, distinct=distinct).alias("__sh"))
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, __band, __bucket) LSH band keys — one row per (doc, band).

    The building block of ``minhash_lsh_candidates``; public so
    diagnostics (e.g. the bench's bucket-size histogram, the first thing
    to inspect when a corpus degenerates the banding) can reuse the
    exact production lineage.
    """
    # Band key = xxhash64 over the band's signature values as BIGINTs,
    # computed INSIDE the Arrow kernel (minhash_band_bucket_udf): the
    # r5 concat_ws form stringified all num_hashes values and
    # string-hashed per band (measured +3.1 s of the 1M-doc 5.4 s
    # pre-exchange wall); the fused numeric form also returns only
    # ``bands`` longs per doc over Arrow instead of the full signature.
    # Equal band slices still hash equal, so no true candidate is ever
    # lost; hash collisions only ADD candidates, which the
    # exact-jaccard verify filters — downstream ≥-threshold outputs are
    # unchanged (verified vs brute-force jaccard at sf0.01/sf0.1).
    base = _shingled(_spread(df, id_col, text_col), id_col, text_col,
                     n_shingle, distinct=False).withColumn(
        "__bk", minhash_band_bucket_udf(num_hashes, bands)(F.col("__sh")))
    return base.select(
        id_col,
        F.posexplode("__bk").alias("__band", "__bucket"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via LSH banding.

    bands×rows = num_hashes; a pair is a candidate iff some band's rows
    agree exactly. Returns (id_a, id_b, jaccard) with exact shingle
    jaccard verified (so downstream filters by threshold; no false
    positives survive).
    """
    # Shingle hashing stays JVM-side (staged token/gram xxhash64); the
    # signature is the CPU hot spot and runs as a numpy-vectorized Arrow
    # UDF — both inside minhash_band_buckets.
    spread = _spread(df, id_col, text_col)
    band_keys = minhash_band_buckets(df, id_col, text_col, n_shingle,
                                     num_hashes, bands)
    # Pair generation: group ids per (band, bucket) and emit ordered pairs
    # from each bucket's id list. One shuffle on the bucket key, signature
    # computed exactly once (vs a self-join recomputing both sides). At
    # 100 TB a degenerate bucket (e.g. boilerplate docs) yields O(B²)
    # pairs either way; exact-dedup upstream is the intended guard.
    cand = (
        band_keys.groupBy("__band", "__bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.posexplode("__ids").alias("__i", "id_a"), F.col("__ids"))
        .select(
            "id_a",
            F.explode(F.expr("slice(__ids, __i + 2, size(__ids))")).alias("id_b"),
        )
        .distinct()
        # Materialized eagerly: the candidate PAIR set is small by
        # design (bounded by the banding precision) and feeds two
        # branches below — the id-prune and the verify join — which
        # would otherwise recompute the whole shingle+signature+band
        # pipeline once each. localCheckpoint (not persist) because its
        # RDD blocks are reclaimed by the ContextCleaner when the
        # DataFrame is dropped, whereas CacheManager entries from
        # persist() accumulate across calls until an explicit unpersist
        # the lazy API gives callers no natural point to issue.
        .localCheckpoint(eager=True)
    )
    # Verify only the docs that appear in some candidate pair: shingling
    # is the measured hot spot (interpreted higher-order exprs), and
    # re-shingling the FULL corpus twice for the two verify joins cost
    # more than the band pipeline itself (~2×12 s of a 41 s total at 1M
    # docs, local[32]). The prune makes verify cost proportional to the
    # candidate set, not the corpus.
    pair_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    sh = _shingled(spread.join(pair_ids, id_col), id_col, text_col, n_shingle)
    return (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "__sh": "__sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "__sh": "__sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: (corpus_id, bench_id, n_overlap) for
    every corpus doc sharing ≥ ``min_overlap`` word n-gram shingles
    with a benchmark/eval doc (the GPT-3/PaLM-style n-gram overlap
    check; 8-13 grams are the usual production settings).

    Scale shape: the benchmark side is SMALL by definition (eval sets),
    so its exploded distinct shingles broadcast — the corpus side is
    one map pass (tokenize + gram-hash + explode) into a broadcast hash
    join, then one shuffle on (corpus_id, bench_id) for the overlap
    count. Nothing is quadratic in the corpus. Shingle arrays are
    distinct per doc, so the count IS the intersection size.

    Self-pairs (same id on both sides, e.g. when the benchmark is a
    subset of the corpus) are excluded.
    """
    c = _shingled(_spread(corpus, id_col, text_col), id_col, text_col,
                  n_shingle).select(
        F.col(id_col).alias("corpus_id"), F.explode("__sh").alias("__g"))
    b = _shingled(_spread(benchmark, id_col, text_col), id_col, text_col,
                  n_shingle).select(
        F.col(id_col).alias("bench_id"), F.explode("__sh").alias("__g"))
    return (
        c.join(F.broadcast(b), "__g")
        .filter(F.col("corpus_id") != F.col("bench_id"))
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_shingle: int = 3) -> DataFrame:
    """Near-dup pairs with exact n-gram jaccard ≥ threshold (LSH-pruned)."""
    return minhash_lsh_candidates(df, id_col, text_col, n_shingle).filter(
        F.col("jaccard") >= threshold
    )


# -- exact-substring duplication (winnowed anchors) ------------------------

def _run_heads(doc: np.ndarray, val: np.ndarray) -> np.ndarray:
    """True where (doc, val) differs from the previous element."""
    head = np.ones(len(val), dtype=bool)
    head[1:] = (doc[1:] != doc[:-1]) | (val[1:] != val[:-1])
    return head


@functools.cache
def winnow_anchor_udf(min_tokens: int = 10, window: int = 4):
    """Arrow UDF: token-hash array → distinct winnow anchors.

    The fused kernel form of window/sort winnowing (guide §1.2 step 2 /
    §4.2): positional gram hashes are the Spark-parity chained XXH64
    over ``min_tokens`` consecutive token hashes (the exact values
    ``xxhash64(t, lead(t,1), …)`` computes, via
    ``spark_xxhash64_longs_np``), the winnow minimum is a shifted
    ``np.minimum`` ladder over the batch-flattened gram vector with
    INT64_MAX sentinels at invalid positions, and each doc's anchors
    deduplicate in one batch-wide sort. A full window never leaves its
    doc; a doc with 1..window−1 grams takes the segment min of its own
    grams (its pos-0 window would run into the next doc whenever the
    doc has fewer than ``window`` tokens). Replaces one 40×
    token-exploded sort + three window passes + a dropDuplicates
    exchange with a map-only kernel.
    """
    L, W = min_tokens, window
    _MAX = np.iinfo(np.int64).max

    # same optimizer fence as minhash_band_bucket_udf (guide §4.4)
    @list_udf("array<bigint>", nondeterministic=True)
    def _anchors(th: Ragged):
        lens, N = th.lengths, len(th.values)
        pad = np.concatenate([th.values, np.zeros(L - 1, dtype=np.int64)])
        g = spark_xxhash64_longs_np(pad[j:j + N] for j in range(L))
        # token position p of doc d is a gram iff p <= len_d - L; invalid
        # positions (doc tails, whose hashes span the next doc) become
        # +inf sentinels
        doc = np.repeat(np.arange(len(lens)), lens)
        pos = np.arange(N) - th.starts[doc]
        gc = np.maximum(lens - L + 1, 0)  # grams per doc
        ga = np.where(pos < gc[doc], g, _MAX)
        # winnow minimum of each W consecutive gram positions
        wpad = np.concatenate([ga, np.full(W - 1, _MAX, dtype=np.int64)])
        m = ga
        for j in range(1, W):
            m = np.minimum(m, wpad[j:j + N])
        full = pos <= gc[doc] - W
        few = (gc > 0) & (gc < W)
        # a window min repeats over the consecutive windows sharing it:
        # drop those runs first, so the per-doc sort below sees ~2/(W+1)
        # of the gram positions
        d, v = doc[full], m[full]
        head = _run_heads(d, v)
        a_doc = np.concatenate([d[head], np.flatnonzero(few)])
        a_val = np.concatenate(
            [v[head], segment_reduce(np.minimum, ga, lens, _MAX)[few]])
        # per-doc distinct anchors, ascending: sort by value, then stably
        # by doc (a radix sort while doc ids fit 16 bits)
        order = np.argsort(a_val)
        order = order[np.argsort(
            a_doc[order].astype(np.min_scalar_type(len(lens))), kind="stable")]
        a_doc, a_val = a_doc[order], a_val[order]
        head = _run_heads(a_doc, a_val)
        return a_val[head], np.bincount(a_doc[head], minlength=len(lens))

    return _anchors


def winnow_anchors(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_tokens: int = 10,
                   window: int = 4) -> DataFrame:
    """(id, __anchor) winnowing fingerprints for exact-substring
    detection — kernel form: JVM-side token hashing feeds
    ``winnow_anchor_udf`` (chained-XXH64 gram hashes + shifted-minimum
    winnowing + per-doc dedup, all numpy), whose anchor arrays explode
    to rows. Identical output to the window/sort reference formulation
    ``winnow_anchors_expr`` in ``tests/test_dedup.py``, which pins it.

    Guarantee (Schleimer/Wilkerson/Aiken winnowing): two documents
    sharing an exact token run of length ≥ ``min_tokens + window - 1``
    select at least one identical anchor; runs in
    [min_tokens, min_tokens+window-2] may or may not anchor. Anchor
    density is ~2/(window+1) of gram positions, so the pair exchange
    carries a fraction of the corpus token count. Docs shorter than
    ``min_tokens`` tokens have no gram, hence no anchors; docs with
    fewer than ``window`` grams contribute their single minimum gram.
    """
    if min_tokens < 2 or window < 1:
        raise ValueError("min_tokens must be >= 2 and window >= 1")
    src = _spread(df, id_col, text_col)
    return src.select(
        F.col(id_col),
        F.explode(
            winnow_anchor_udf(min_tokens, window)(token_hashes(F.col(text_col)))
        ).alias("__anchor"),
    )


def substring_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_tokens: int = 10,
                        window: int = 4) -> DataFrame:
    """Document pairs (id_a < id_b, n_shared_anchors) sharing an EXACT
    token run of ≥ min_tokens tokens — the training-data substring-dedup
    primitive (the suffix-array method of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", re-expressed as a
    winnowed gram-anchor join: suffix arrays don't distribute, anchor
    grouping is one bucket shuffle).

    Same bucketed pair-emission plan as minhash banding: group ids per
    anchor, emit ordered pairs per bucket, ONE exchange on the anchor
    key, then count shared anchors per pair. A shared anchor implies an
    identical min_tokens-token sequence modulo xxhash64 collisions
    (~2⁻⁶⁴ per candidate; at 100 TB add a verify join on the anchored
    token slice if bit-exactness is contractual). Degenerate anchors
    (boilerplate runs shared by B docs) emit O(B²) pairs — the same
    guard applies as minhash banding: exact-dedup upstream, and feed
    the pairs to ``dedup_components``/``keep_representatives`` to drop
    all-but-one survivor per cluster.
    """
    anch = winnow_anchors(df, id_col, text_col, min_tokens, window)
    return (
        anch.groupBy("__anchor")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.posexplode("__ids").alias("__i", "id_a"), F.col("__ids"))
        .select(
            "id_a",
            F.explode(F.expr("slice(__ids, __i + 2, size(__ids))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_anchors"))
    )


# -- SimHash ----------------------------------------------------------------

def _hash_bit_votes(rows: Ragged) -> np.ndarray:
    """(rows × 64) per-row sums of ±1 over each bit of the row's int64
    hashes (column j = bit j, +1 where set): the un-thresholded simhash
    that ``simhash`` signs and ``embed.embed_text`` keeps as its vector.
    Null and empty rows sum to 0."""
    bits = np.unpackbits(rows.values.astype("<i8", copy=False).view(np.uint8)
                         .reshape(-1, 8), axis=1, bitorder="little")
    ones = segment_reduce(np.add, bits, rows.lengths, 0, dtype=np.int64)
    return 2 * ones - rows.lengths[:, None]


@functools.cache
def _get_simhash_udf():
    """Simhash Arrow UDF over an array of 64-bit *token hashes*
    (computed JVM-side with xxhash64 — string work never crosses into
    Python): bit j is set iff more of the row's tokens set it than not
    (``_hash_bit_votes``); null/empty rows → 0. No per-row or per-token
    Python loop."""

    @list_udf("long")
    def _simhash64(th: Ragged):
        set_bits = _hash_bit_votes(th) > 0
        return np.packbits(set_bits, axis=1, bitorder="little").view("<i8") \
            .ravel().astype(np.int64)

    return _simhash64


def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    token_hashes = F.transform(words, lambda w: F.xxhash64(w))
    return df.withColumn(out_col, _get_simhash_udf()(token_hashes))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Scale path: block on 4 16-bit chunks (pigeonhole — any pair within
    hamming ≤ 3 agrees on ≥1 chunk), join within blocks, verify with
    bit_count(xor) — all JVM-side after the signature.
    """
    spread = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    sh = simhash(spread, text_col).select(id_col, "simhash")
    chunks = sh.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF))
            for k in range(4)
        ])).alias("__chunk_idx", "__chunk"),
    )
    # Group per block and emit ordered pairs from the member list: the
    # signature UDF runs once (a self-join would evaluate it per side)
    # and the only shuffle is the block-key exchange.
    return (
        chunks.groupBy("__chunk_idx", "__chunk")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col(id_col).alias("id"), F.col("simhash")))).alias("__ms"))
        .filter(F.size("__ms") > 1)
        .select(F.posexplode("__ms").alias("__i", "__a"), F.col("__ms"))
        .select("__a", F.explode(
            F.expr("slice(__ms, __i + 2, size(__ms))")).alias("__b"))
        .select(
            F.col("__a.id").alias("id_a"), F.col("__b.id").alias("id_b"),
            F.bit_count(F.col("__a.simhash").bitwiseXOR(F.col("__b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- embedding near-dup -------------------------------------------------------

def _tile_count(n_rows: int, target_tile_rows: int,
                min_parallelism: int = 1) -> int:
    """Number of hash blocks B so a tile holds ≤ target_tile_rows vectors
    AND the B(B+1)/2 tile-pair groups keep ≥ min_parallelism tasks busy
    (a small corpus with the memory-bound B alone would run 3 GEMM tasks
    on a 32-core cluster). Shuffle volume is n·B, so the floor only
    raises B when the memory bound leaves cores idle — and never past
    the point of one-row tiles."""
    import math

    b_mem = math.ceil(max(n_rows, 1) / max(target_tile_rows, 1))
    # smallest B with B(B+1)/2 >= min_parallelism
    b_par = math.ceil((math.sqrt(8 * max(min_parallelism, 1) + 1) - 1) / 2)
    return max(min(max(b_mem, b_par), max(n_rows, 1)), 1)


def exact_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       min_cosine: float = 0.95,
                       n_blocks: int | None = None,
                       target_tile_rows: int = 8192,
                       n_rows: int | None = None) -> DataFrame:
    """ALL pairs with cosine ≥ min_cosine — exact, tiled block-GEMM.

    Why this exists (measured, sf0.1, local[32]): real embedding corpora
    are clustered — background pairs sit at cosine ≈ 0.7-0.8, where each
    hyperplane sign bit agrees with p ≈ 0.75-0.8 vs 0.9 for a true
    0.95-pair. That thin gap makes exact-recall LSH pruning futile:
    the multi-probe chunk blocking admits ~97% of ALL pairs as
    candidates here, so "LSH + verify" degenerates into all-pairs with
    per-pair interpreted expressions (~9 s). The exact algorithm done
    right is distributed brute force:

    - rows hash into ``B = ceil(n / target_tile_rows)`` blocks, so
      TILE size — not corpus size — bounds every memory unit: no row or
      task ever holds more than ~2·target_tile_rows vectors (the
      round-2 shape collected corpus/16 vectors into ONE row — an
      executor OOM ceiling at sf10+);
    - each row replicates to its B tile-pair groups (lo ≤ hi) — the
      same n·B shuffle volume the cross-join paid, minus the giant rows;
    - an ``applyInPandas`` kernel runs one BLAS matmul per tile pair and
      emits ids with numpy-cosine ≥ min_cosine − 1e-9 (float64 matmul
      error ~1e-15, so no true pair can be lost);
    - survivors (a few hundred) re-verify with the exact sequential
      expression arithmetic, keeping the output bit-identical to a
      sequential-sum oracle.

    Quadratic by nature — at 100 TB pre-cluster (ivf_index) and run this
    within buckets; for high thresholds (≥0.99) on less-clustered data
    ``embedding_near_dups`` prunes genuinely and scales further.

    Tile sizing: when neither ``n_blocks`` nor ``n_rows`` is given, a
    ``df.select(id_col).count()`` derives B — that is an EXTRA full
    action that recomputes the upstream lineage. If ``df`` comes from
    expensive transforms, pass ``n_rows`` (a known/estimated row count;
    B only sizes tiles, so an estimate within ~2× is fine) or persist
    the input around the call.
    """
    from logstash_integration_jdbc_spark.operators.similarity import (
        dot_expr,
        norm_expr,
    )

    if n_blocks is None:
        if n_rows is None:
            n_rows = df.select(id_col).count()
        n_blocks = _tile_count(
            n_rows, target_tile_rows,
            min_parallelism=df.sparkSession.sparkContext.defaultParallelism)
    margin = min_cosine - 1e-9

    # row → B replicas, one per tile pair it participates in; its own
    # block id rides along so the kernel can split the two sides
    proj = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__b"),
    )
    # single-row-group inputs scan as one task; spread BEFORE the ×B
    # explode so the replication and shuffle write parallelize (and the
    # exchange carries 1/B of the exploded bytes). No-op on
    # well-partitioned inputs.
    par = df.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < par:
        proj = proj.repartition(par, F.col("__id"))
    tiles = (
        proj
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("__lo", F.least("__b", "__j"))
        .withColumn("__hi", F.greatest("__b", "__j"))
    )

    def kernel(key, pdf):
        import pandas as pd

        def normed(side):
            ids = side["__id"].to_numpy(dtype=np.int64)
            M = np.stack(side["__v"].map(lambda v: np.asarray(v, dtype=np.float64)))
            with np.errstate(divide="ignore", invalid="ignore"):
                M /= np.linalg.norm(M, axis=1)[:, None]  # zero-norm → nan row,
            return ids, M                                # all comparisons False

        lo, hi = key
        if lo == hi:
            ids_a, A = normed(pdf)
            ids_b, B = ids_a, A
        else:
            a_side = pdf[pdf["__b"] == lo]
            b_side = pdf[pdf["__b"] == hi]
            if a_side.empty or b_side.empty:
                return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                     "id_b": pd.Series(dtype="int64")})
            ids_a, A = normed(a_side)
            ids_b, B = normed(b_side)
        # Rows are unit-normalized BEFORE the matmul so the kernel never
        # materializes the tile-sized np.outer(norms) + division (3 full
        # tile² arrays → memory-bandwidth thrash with one task per core;
        # measured 16-41 s/rep tails at 40k vectors), and the matmul runs
        # in row chunks to bound per-task live memory at ~chunk × tile.
        # Float error vs the divide-after form is ~1e-13, absorbed by the
        # 1e-9 margin; survivors are re-verified exactly below, so output
        # is unchanged.
        Bt = np.ascontiguousarray(B.T)
        out_a, out_b = [], []
        step = 2048
        for s in range(0, len(A), step):
            C = A[s:s + step] @ Bt
            ii, jj = np.nonzero(C >= margin)
            ii += s
            if lo == hi:
                keep = ids_a[ii] < ids_b[jj]
                ii, jj = ii[keep], jj[keep]
            out_a.append(np.minimum(ids_a[ii], ids_b[jj]))
            out_b.append(np.maximum(ids_a[ii], ids_b[jj]))
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
            "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
        })

    cand = (
        tiles.groupBy("__lo", "__hi")
        .applyInPandas(kernel, schema="id_a bigint, id_b bigint")
    )
    vecs = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__n", norm_expr(F.col(vec_col))
    )
    return (
        cand.join(vecs.withColumnsRenamed(
            {id_col: "id_a", vec_col: "__va", "__n": "__na"}), "id_a")
        .join(vecs.withColumnsRenamed(
            {id_col: "id_b", vec_col: "__vb", "__n": "__nb"}), "id_b")
        .withColumn("cosine",
                    dot_expr(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )

def embedding_near_dups(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        min_cosine: float = 0.95,
                        bits: int = 64, chunk_bits: int = 8) -> DataFrame:
    """Pairs with cosine ≥ min_cosine (exact verify, sketch-blocked).

    Round-1 shape (join on full 16-bit sketch equality) collapsed below
    cosine≈1: a genuine 0.95-pair agrees on each sign bit with
    p ≈ 1-acos(0.95)/π ≈ 0.9, so requiring all 16 equal keeps only
    ≈0.9^16 ≈ 18% of true pairs. Fixed with multi-probe chunk blocking:

    - 64-bit hyperplane sketch (numpy-matmul Arrow UDF, computed ONCE);
    - split into 8 chunks of 8 bits; each row lands in its exact chunk
      bucket AND every hamming-1 flip of it (8 probes per chunk);
    - a pair is a candidate iff some bucket holds one side's exact entry
      and the other side (exact or probe) — i.e. the pair has ≤1 bit
      mismatch in at least one chunk;
    - exact cosine (zip_with/aggregate, JVM) verifies candidates, so no
      false positives survive.

    Miss probability at cosine 0.95: a missed pair needs ≥2 mismatched
    bits in ALL 8 chunks → (1 - (p⁸ + 8(1-p)p⁷))⁸ ≈ 1.5e-6 at p=0.9 —
    exact vs the O(n²) oracle in practice. Candidate volume is the price
    of exactness in the hard 0.95 regime (p=0.9 vs 0.5 per bit is a thin
    gap): ~9/256 per chunk on sketch-uniform pairs. For stricter
    thresholds raise chunk_bits (0.99 → 16); at 100 TB run exact-dedup
    upstream and pre-cluster (IVF assignment) so blocks stay small —
    same degenerate-bucket caveat as minhash banding.

    Pair emission groups ids per bucket (one shuffle on the bucket key,
    sketch computed once); vectors re-join only for surviving candidates.
    """
    from logstash_integration_jdbc_spark.operators.similarity import (
        dot_expr,
        hyperplane_sketch_udf,
        norm_expr,
    )

    n_chunks = bits // chunk_bits
    mask = (1 << chunk_bits) - 1
    spread = df.select(F.col(id_col), F.col(vec_col)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    base = spread.withColumn("__sk", hyperplane_sketch_udf(bits)(F.col(vec_col)))

    # entry array: per chunk, the exact value + its hamming-1 flips; the
    # full sketch rides along for the first-collision filter below
    entries = []
    for c in range(n_chunks):
        val = F.shiftrightunsigned(F.col("__sk"), c * chunk_bits).bitwiseAND(F.lit(mask))
        entries.append(F.struct(F.lit(c).alias("chunk"), val.alias("val"),
                                F.lit(True).alias("exact")))
        for b in range(chunk_bits):
            entries.append(F.struct(F.lit(c).alias("chunk"),
                                    val.bitwiseXOR(F.lit(1 << b)).alias("val"),
                                    F.lit(False).alias("exact")))
    exploded = base.select(
        F.col(id_col), F.col("__sk"), F.explode(F.array(*entries)).alias("__e")
    ).select(id_col, "__sk", "__e.chunk", "__e.val", "__e.exact")

    # Each qualifying pair is emitted EXACTLY ONCE (no distinct needed):
    # - only when the smaller-id side is the exact entry (a hamming-1
    #   pair otherwise surfaces in both members' exact-value buckets);
    # - only in the FIRST chunk where the pair is within hamming 1 (the
    #   sketches ride along, so earlier-chunk collisions are a cheap
    #   bit_count check instead of a multi-million-row distinct).
    no_prior = (
        "chunk = 0 OR NOT exists(sequence(0, chunk - 1), c -> "
        f"bit_count(shiftrightunsigned(__a.sk ^ __b.sk, CAST(c * {chunk_bits} AS INT))"
        f" & {mask}) <= 1)"
    )
    cand = (
        exploded.groupBy("chunk", "val")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col(id_col).alias("id"), F.col("exact"),
            F.col("__sk").alias("sk")))).alias("__ms"))
        .filter(F.size("__ms") > 1)
        .select("chunk", F.posexplode("__ms").alias("__i", "__a"), F.col("__ms"))
        .select("chunk", "__a", F.explode(
            F.expr("slice(__ms, __i + 2, size(__ms))")).alias("__b"))
        .filter(F.col("__a.exact") & F.expr(no_prior))
        .select(F.col("__a.id").alias("id_a"), F.col("__b.id").alias("id_b"))
    )
    # Row norms are computed once per ROW and carried into the pair
    # verify, so each pair costs one interpreted aggregate (the dot),
    # not three — float-identical to dot/(norm(a)·norm(b)) per pair.
    vecs = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__n", norm_expr(F.col(vec_col))
    )
    return (
        cand.join(vecs.withColumnsRenamed(
            {id_col: "id_a", vec_col: "__va", "__n": "__na"}), "id_a")
        .join(vecs.withColumnsRenamed(
            {id_col: "id_b", vec_col: "__vb", "__n": "__nb"}), "id_b")
        .withColumn("cosine",
                    dot_expr(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def dedup_components(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b", max_iter: int = 12) -> DataFrame:
    """Connected components over near-dup PAIRS → (id, component) where
    component = the smallest id reachable from ``id``.

    The missing step between pair emission (minhash/simhash/embedding
    near-dup all return pairs) and actually DROPPING duplicates: near-
    dups are transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}),
    so the keep-set is one representative per connected component, not
    per pair.

    Algorithm: iterative min-label propagation (the standard large-
    scale CC formulation) — every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels (one join
    + one groupBy-min per round). Rounds needed = graph diameter;
    near-dup graphs are overwhelmingly tiny cliques and short chains,
    so convergence is typically 2-4 rounds — the loop checks an O(1)
    changed-count aggregate per round and stops early, raising if
    ``max_iter`` rounds don't converge (a pathology worth surfacing,
    not truncating silently). Each round shuffles only (node, label)
    pairs — never text or vectors.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    cur = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(cur.select(F.col("id").alias("dst"), "component"),
                           "dst")
                .groupBy("src").agg(F.min("component").alias("__nbr"))
                .withColumnRenamed("src", "id")
            )
            # localCheckpoint (eager) BOTH caches the round's result and
            # TRUNCATES its logical plan — an iterative loop that only
            # persists keeps nesting the plan tree and dies in the
            # analyzer after ~10 rounds (measured: OOM generating the
            # plan string). Checkpointed blocks are reclaimed by the
            # context cleaner once unreferenced.
            nxt = (
                cur.select("id", "component").join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("__nbr"), F.col("component")),
                    ).alias("component"),
                    (F.col("__nbr") < F.col("component")).alias("__chg"),
                )
            ).localCheckpoint()
            changed = nxt.agg(
                F.sum(F.when(F.col("__chg"), 1).otherwise(0))).first()[0]
            cur = nxt.select("id", "component")
            if not changed:
                return cur
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            "the pair graph has an unexpectedly long chain; raise max_iter")
    finally:
        edges.unpersist()


def keep_representatives(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Drop every near-dup except the min-id representative of its
    connected component: the end-to-end "dedup the corpus" form.
    Rows never mentioned in ``pairs`` pass through untouched (an
    anti-join against the non-representative member set — the only
    full-corpus operation, and it carries bare ids)."""
    comps = dedup_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def build_minhash_index(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_shingle: int = 3,
                        num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """The persistable LSH index of a corpus: one (id, __band, __bucket)
    row per (doc, band) — exactly the band keys
    ``minhash_lsh_candidates`` computes internally, exposed so an
    ingest pipeline can WRITE them once and probe them every batch.

    At 100 TB: write this table partitioned/bucketed by
    (__band, __bucket) (e.g. ``writeTo(...).partitionedBy(bucket(N,
    "__bucket"))``) so every later probe joins co-located, and append
    each accepted batch's keys — the index grows by O(batch), never
    recomputed.
    """
    return minhash_band_buckets(df, id_col, text_col, n_shingle,
                                num_hashes, bands)


def dedup_against_index(new_df: DataFrame, index: DataFrame,
                        index_texts: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_shingle: int = 3,
                        num_hashes: int = 64, bands: int = 16,
                        ) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch against the
    stored band-key index of everything ingested so far — the daily
    production shape (crawl batch vs history) where re-running
    all-pairs LSH over history+batch would cost O(history) per day.

    Returns (new_id, index_id, jaccard) with exact shingle jaccard
    verified — filter by threshold downstream. Plan: the batch's band
    keys (batch-sized) join the index on (__band, __bucket) — map-side
    co-located when the index is bucket-partitioned, otherwise one
    exchange of the BATCH side; history never re-shingles. Verification
    re-reads text for candidate ids only (both sides pruned by the
    candidate id set, so the index_texts scan is id-pushdown-prunable).
    ``index_texts`` is (id, text) for index members; only candidate
    rows are ever read.
    """
    new_bands = minhash_band_buckets(new_df, id_col, text_col, n_shingle,
                                     num_hashes, bands)
    idx = index.select(F.col(id_col).alias("index_id"),
                       F.col("__band"), F.col("__bucket"))
    cand = (new_bands
            .select(F.col(id_col).alias("new_id"), "__band", "__bucket")
            .join(idx, ["__band", "__bucket"])
            .where(F.col("new_id") != F.col("index_id"))
            .select("new_id", "index_id")
            .distinct()
            # small by banding design; feeds the two id-prunes below —
            # same eager-materialization rationale as
            # minhash_lsh_candidates (localCheckpoint, not persist)
            .localCheckpoint(eager=True))
    new_ids = cand.select(F.col("new_id").alias(id_col)).distinct()
    idx_ids = cand.select(F.col("index_id").alias(id_col)).distinct()
    sh_new = _shingled(_spread(new_df.join(new_ids, id_col), id_col,
                               text_col), id_col, text_col, n_shingle)
    sh_idx = _shingled(_spread(index_texts.join(idx_ids, id_col), id_col,
                               text_col), id_col, text_col, n_shingle)
    return (cand
            .join(sh_new.withColumnsRenamed(
                {id_col: "new_id", "__sh": "__sh_n"}), "new_id")
            .join(sh_idx.withColumnsRenamed(
                {id_col: "index_id", "__sh": "__sh_i"}), "index_id")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("__sh_n", "__sh_i"))
                / F.size(F.array_union("__sh_n", "__sh_i")))
            .select("new_id", "index_id", "jaccard"))


def novel_in_batch(new_df: DataFrame, index: DataFrame,
                   index_texts: DataFrame, threshold: float = 0.8,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_shingle: int = 3, num_hashes: int = 64,
                   bands: int = 16) -> DataFrame:
    """The accept set: new-batch rows with NO index match ≥ threshold.

    Anti-join of the batch against its verified matches — the rows to
    append to the corpus (and whose band keys to append to the index).
    """
    matches = (dedup_against_index(new_df, index, index_texts, id_col,
                                   text_col, n_shingle, num_hashes, bands)
               .where(F.col("jaccard") >= threshold)
               .select(F.col("new_id").alias(id_col)).distinct())
    return new_df.join(matches, [id_col], "left_anti")


# -- line-level corpus dedup ---------------------------------------------

def duplicated_lines(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", delimiter: str = "\n",
                     min_dup_docs: int = 2,
                     min_line_chars: int = 1) -> DataFrame:
    """Hashes of lines that appear in >= ``min_dup_docs`` distinct docs.

    Corpus-level boilerplate detection (the RefinedWeb / MassiveText
    line-wise dedup primitive): split every document on ``delimiter``,
    count DISTINCT documents per line, keep the duplicated ones. Lines
    shorter than ``min_line_chars`` are exempt (never reported).

    Returns (line_hash) — 64-bit xxhash of the line text. The shuffle
    payload is (hash, doc_id) pairs with map-side partial aggregation;
    line TEXT never crosses the exchange.
    """
    import re as _re

    parts = F.split(F.col(text_col), _re.escape(delimiter), -1)
    lines = df.select(F.col(id_col), F.explode(parts).alias("__line"))
    return (
        lines.where(F.length("__line") >= min_line_chars)
        .select(F.xxhash64("__line").alias("line_hash"), id_col)
        .groupBy("line_hash")
        .agg(F.countDistinct(id_col).alias("__docs"))
        .where(F.col("__docs") >= min_dup_docs)
        .select("line_hash")
    )


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", delimiter: str = "\n",
                min_dup_docs: int = 2, min_line_chars: int = 1) -> DataFrame:
    """Remove corpus-duplicated lines from every document (RefinedWeb-
    style line-wise deduplication: lines shared by >= ``min_dup_docs``
    documents — navboxes, license boilerplate, cookie banners — are
    deleted from ALL documents; the rest of each document is rejoined
    in order). Not in the reference (no dedup there); a first-class
    100 TB curation component.

    Returns ``df`` with ``text_col`` rewritten (a fully-duplicated
    document becomes the empty string, the row is kept) plus
    ``n_lines_removed``.

    Scale design: three narrow shuffles and the line text never moves —
      1. (line_hash, doc_id) partial-agg exchange for the distinct-doc
         counts (16 B rows);
      2. (doc_id, pos, line_hash) x dup-hash join keyed on the hash
         (AQE broadcasts the dup side when boilerplate is sparse);
      3. the removal-position sets join back to ``df`` on ``doc_id`` —
         the ONE move of document text, inherent to rewriting it.
    The rewrite itself is a map-side ``filter(split(text), (l, i) ->
    NOT array_contains(rm, i))`` — pure Catalyst, no Python.
    """
    import re as _re

    pat = _re.escape(delimiter)
    parts = F.split(F.col(text_col), pat, -1)
    lines = df.select(
        F.col(id_col), F.posexplode(parts).alias("__pos", "__line")
    ).where(F.length("__line") >= min_line_chars)
    dup = duplicated_lines(df, text_col, id_col, delimiter,
                           min_dup_docs, min_line_chars)
    removals = (
        lines.select(id_col, "__pos", F.xxhash64("__line").alias("line_hash"))
        .join(dup, "line_hash")
        .groupBy(id_col)
        .agg(F.collect_set("__pos").alias("__rm"))
    )
    rm = F.col("__rm")
    rewritten = F.when(rm.isNull(), F.col(text_col)).otherwise(
        F.array_join(
            F.filter(parts, lambda l, i: ~F.array_contains(rm, i)),
            delimiter,
        )
    )
    out = (
        df.join(removals, [id_col], "left")
        .withColumn("__new_text", rewritten)
        .withColumn(
            "n_lines_removed",
            # size(NULL) is -1 under non-ANSI Spark, so branch explicitly
            F.when(rm.isNull(), F.lit(0)).otherwise(F.size(rm)).cast("long"),
        )
        .drop("__rm")
    )
    return out.withColumn(text_col, F.col("__new_text")).drop("__new_text")


# -- semantic dedup (SemDeDup) -------------------------------------------

def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_clusters: int = 16,
                   threshold: float = 0.95, kmeans_iters: int = 0,
                   max_cluster_rows: int = 2_000_000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then search
    near-duplicates ONLY within clusters and keep one representative
    per duplicate relation.

    Drop rule (deterministic, SQL-replayable): a row is dropped iff
    some SMALLER-id row in the SAME cluster has cosine >= ``threshold``
    with it. (The paper keeps the point with lowest centroid
    similarity; a fixed-id rule makes the output run-, partitioning-
    and cluster-size-independent.)

    Scale design: centroids are driver-side literals (smallest-id seed
    vectors + optional Lloyd refinement — ``similarity.ivf_index``), so
    assignment is a map-side argmax with NO shuffle; the quadratic work
    is confined to clusters — ONE groupBy(centroid) exchange, then an
    O(|C|^2) float64 GEMM per cluster inside applyInPandas.
    ``n_clusters`` is the memory/skew knob: size it so n/k rows of dim
    doubles fit one task (the paper's own strategy — they use k≈11k for
    LAION); a cluster larger than ``max_cluster_rows`` raises rather
    than silently OOMing an executor.

    Returns the surviving rows of ``df`` plus their ``centroid_id``.
    """
    from .similarity import _assign_expr, _collect_centroids, _lloyd_refine

    vecs = df.select(id_col, vec_col)
    cents = _collect_centroids(vecs, n_clusters, id_col, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(vecs, cents, id_col, vec_col, kmeans_iters)
    assigned = vecs.withColumn("centroid_id", _assign_expr(vec_col, cents))

    def _dropped(pdf):
        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup cluster of {len(pdf)} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise n_clusters "
                f"(or the guard) so per-cluster GEMM fits a task")
        pdf = pdf.sort_values(id_col)
        V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0.0] = 1.0
        S = (V / nrm[:, None]) @ (V / nrm[:, None]).T
        drop = np.tril(S >= threshold, -1).any(axis=1)
        return pdf.loc[drop, [id_col]]

    dropped = (
        assigned.groupBy("centroid_id")
        .applyInPandas(_dropped, schema=f"{id_col} long")
    )
    survivors = df.join(dropped, [id_col], "left_anti")
    # assignment is a map-side literal argmax — recompute it on the
    # survivors instead of joining `assigned` back (saves a full-table
    # shuffle; the anti-join's dropped side is the only other exchange
    # and AQE broadcasts it when small)
    return survivors.withColumn("centroid_id", _assign_expr(vec_col, cents))
