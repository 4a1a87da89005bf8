"""Hashed random-projection text embeddings (model-free).

Gives raw text an ``array<double>`` embedding column INSIDE the engine
so the embedding-space operators (`semantic_dedup`, `cosine_topk`,
`exact_cosine_pairs`) compose with text corpora without an external
model: the classic signed-random-projection / feature-hashing
construction (Charikar 2002 simhash un-thresholded; Weinberger et al.
2009 hashing trick) — component j of a document's vector is the sum
over token occurrences of ±1 by bit j of the token's xxhash64.
Documents sharing most tokens get high cosine; disjoint vocabularies
decorrelate (E[cos] = 0 under the hash).

Scale design: the whole operator is MAP-ONLY — token hashing is the
JVM's ``xxhash64`` inside a Catalyst ``transform`` (same staged-hash
pattern the minhash path measured at 8.4× vs string concat), and the
bit-projection reduce is one Arrow UDF (``functions.arrow_kernels``)
whose interior is a batch-wide bit unpack and segment sum — no Python
loops over rows or tokens, no shuffle, deterministic across runs and
cluster sizes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrow_kernels import Ragged, list_udf
from .dedup import _hash_bit_votes
from .textstats import tokens_expr


@functools.cache
def _projection_udf(dim: int):
    """±1-bit projection reduce: array<long> token hashes → dim sums
    (the first ``dim`` columns of ``_hash_bit_votes``); null/empty rows
    → zeros."""

    @list_udf("array<double>")
    def proj(hashes: Ragged):
        return _hash_bit_votes(hashes)[:, :dim].astype("float64")

    return proj


def embed_text(df: DataFrame, text_col: str = "text",
               out_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Append a ``dim``-component hashed bag-of-words embedding.

    ``dim`` is capped at 64 (one xxhash64 supplies the sign bits); a
    wider space would chain salted hashes per 64-bit block — raise the
    cap there if recall at extreme scale demands it.
    """
    if not 1 <= dim <= 64:
        raise ValueError("embed_text: dim must be in [1, 64] "
                         "(one xxhash64 word of sign bits)")
    hashes = F.transform(tokens_expr(F.col(text_col)),
                         lambda t: F.xxhash64(t))
    return df.withColumn(out_col, _projection_udf(dim)(hashes))
