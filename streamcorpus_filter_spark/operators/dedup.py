"""Dedup & similarity building blocks shared by the registered queries.

All-DataFrame implementations where Spark can express the semantics
(word shingling, exact shingle Jaccard, cosine via higher-order array
functions); numpy-in-pandas only for the SimHash bit kernel, which
Spark lacks. MinHash-LSH is not here: ``dedup_minhash_lsh`` and
``dedup_incremental_minhash`` share the md5 hash family in
``inventory/_minhash.py``, which the DuckDB oracle recomputes
bit-identically.

Scale notes (the 100TB story):
  * shingle self-joins are keyed equi-joins (shuffle on shingle hash) with
    doc-pair aggregation — never a cartesian
  * cosine stays JVM-side, so brute-force ANN can broadcast the (small)
    query set and the corpus side never shuffles
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles: (id, shingle). Built-ins only."""
    toks = F.filter(F.split(F.col(text_col), "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    df = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))

    def gram(i):
        return F.concat_ws(" ", *[F.element_at("_toks", i + j) for j in range(k)])

    # sequence(1, n) with n < 1 DESCENDS ([1, 0]) instead of being empty,
    # and element_at(_toks, 0) then throws — docs shorter than one
    # shingle must short-circuit to an empty gram array
    grams = F.when(
        F.size("_toks") >= k,
        F.transform(F.sequence(F.lit(1), F.size("_toks") - (k - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .select(F.col("_id").alias(id_col), "shingle")
    )


def jaccard_pairs(
    shingles: DataFrame, id_col: str, threshold: float, max_df: int | None = None
) -> DataFrame:
    """Exact Jaccard over a shingle table: returns (a, b, jaccard) with
    a < b and jaccard >= threshold. One shuffle on shingle, one on pair.

    ``max_df`` caps shingle document frequency BEFORE the self-join: a
    shingle appearing in n docs yields n^2 join rows, so without a cap one
    hot stop-phrase shingle ("of the and" at crawl scale) degenerates the
    equi-join toward a cartesian on that key. With the cap, both the
    intersection AND the per-doc sizes are computed over the capped
    shingle space (= exact Jaccard restricted to informative shingles —
    the standard df-capped search-index semantics, mirrored verbatim in
    the DuckDB oracle). The uncapped exact path remains for
    fixtures/candidate verification; LSH is the scale path either way.

    The cap itself must not recreate the skew it guards against: a
    window `count(*) OVER (PARTITION BY shingle)` gathers every copy of
    the hot shingle in ONE reducer before filtering it out (hashing
    never splits equal keys — the same trap ql_line_dedup had). The df
    count is therefore a map-side-combinable groupBy + a semi-join back:
    the hot key's probe rows stream through the join and drop, and AQE
    can split a skewed probe partition."""
    if max_df is not None:
        keep = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        shingles = shingles.join(keep, "shingle", "left_semi")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingles.select(F.col(id_col).alias("a"), "shingle")
    b = shingles.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def cosine_expr(x: Column, y: Column) -> Column:
    """Cosine similarity of two array<float> columns via built-in HOFs —
    stays JVM-side (no Python fence)."""
    dot = F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nx = F.sqrt(
        F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    ny = F.sqrt(
        F.aggregate(y, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    # zero-norm guard: cosine vs the zero vector is DEFINED as 0.0 (real
    # embedding tables contain zero rows — padding, failed encoders) —
    # without it ANSI mode throws DIVIDE_BY_ZERO and kills the job
    denom = nx * ny
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


# ------------------------------------------------------------------ simhash


def simhash_fn(id_col: str, text_col: str):
    """64-bit SimHash over distinct-word hashes, fully batch-vectorized:
    one Arrow pass computes FNV-1a for EVERY word of EVERY doc in the
    batch as a numpy column sweep over a packed byte buffer (no per-word
    Python hashing — that was the one row-at-a-time-ish kernel left in
    round 1), then per-doc bit votes via a single segmented reduction.
    Bit b of the sketch = sign of sum over words of (+1 if hash bit b set
    else -1). Parity with the scalar `_poly_hash64` twin is asserted in
    tests/test_dedup_similarity.py."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.rules import TOKEN_SPLIT_PY

        for pdf in batches:
            # distinct words per doc (pinned ASCII whitespace class — a
            # bare str.split() splits on Unicode whitespace and diverges
            # from the SQL oracle's RE2 class on NBSP etc.); vote sums
            # are order-independent, so set iteration order is irrelevant
            doc_words = [
                [w.encode("utf-8") for w in {x for x in TOKEN_SPLIT_PY.split(t) if x}]
                if isinstance(t, str)
                else []
                for t in pdf[text_col]
            ]
            out = simhash_batch(doc_words)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": pd.array(out, dtype="int64")}
            )

    return fn


def simhash_batch(doc_words: list[list[bytes]]) -> np.ndarray:
    """SimHash for a batch of docs (each a list of distinct encoded words).

    Vectorization: all words are packed into one uint8 buffer; FNV-1a
    advances column-by-column (h = (h ^ byte) * prime on the still-active
    rows), so the Python-level loop is over max word LENGTH (~10s), never
    over words (~10^5 per batch). Per-doc votes come from one
    np.add.reduceat over the word-bit matrix."""
    n_docs = len(doc_words)
    out = np.zeros(n_docs, dtype=np.int64)
    counts = np.fromiter((len(ws) for ws in doc_words), dtype=np.int64, count=n_docs)
    flat = [w for ws in doc_words for w in ws]
    n = len(flat)
    if n == 0:
        return out
    lens = np.fromiter((len(w) for w in flat), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(flat), dtype=np.uint8)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    h = np.full(n, 1469598103934665603, dtype=np.uint64)  # FNV offset basis
    prime = np.uint64(1099511628211)
    for j in range(int(lens.max())):
        active = lens > j
        h[active] = (h[active] ^ buf[offs[active] + j].astype(np.uint64)) * prime
    # (n_words, 64) uint8 bit matrix via unpackbits on the raw uint64
    # bytes — a broadcasted >>/& does the same thing ~25x slower
    hb = h.astype("<u8", copy=False).view(np.uint8).reshape(n, 8)
    bits = np.unpackbits(hb, axis=1, bitorder="little")  # col k = bit k
    nz = counts > 0
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    sums = np.add.reduceat(bits, starts[nz], axis=0, dtype=np.int64)
    votes = 2 * sums - counts[nz, None]
    masks = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out[nz] = ((votes > 0).astype(np.uint64) @ masks).astype(np.int64)
    return out


def _poly_hash64(data: bytes) -> int:
    """Deterministic 64-bit FNV-1a (process-stable, unlike Python's builtin
    hash) — the scalar oracle twin of the vectorized column sweep in
    simhash_batch."""
    h = 1469598103934665603  # FNV offset basis
    for byte in data:
        h = ((h ^ byte) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def hamming64_expr(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
