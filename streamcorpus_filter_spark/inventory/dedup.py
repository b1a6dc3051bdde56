"""Dedup + similarity-search + text-analysis + multimodal query inventory
(training-data-pipeline operators; graded alongside SURVEY.md §2).

Near-dup fixtures are derived deterministically inside each query (the
fixture tables have no natural near-dups): every doc_id % 10 == 0 gets a
truncated twin with id doc_id + 1_000_000 — reproduced identically in the
DuckDB oracle SQL, so exact-Jaccard pairs are value-checked end to end.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..kernels.rules import STOPWORD_SET
from ..operators.dedup import (
    cosine_expr,
    hamming64_expr,
    jaccard_pairs,
    simhash_fn,
    word_shingles,
)
from ..queries import cached_broadcast, load, register

# shared near-dup planted fixture (twin SQL fragment + Spark twin builder)
# lives in twins.py so extras.py can import it without a circular chain.
from .twins import MAX_SHINGLE_DF, TWINNED_SQL  # noqa: E402
from .twins import twinned as _twinned_impl  # noqa: E402

_TWINNED = TWINNED_SQL


def _twinned(spark: SparkSession, sf: str) -> DataFrame:
    return _twinned_impl(spark, sf, load)


@register(
    "dedup_exact_hash",
    """
    SELECT md5(text) AS content_hash, count(*) AS copies, min(doc_id) AS canonical_id
    FROM documents GROUP BY md5(text) HAVING count(*) >= 1
    """,
)
def dedup_exact_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content dedup: hash-groupBy, canonical = smallest id."""
    return (
        load(spark, sf, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("copies"), F.min("doc_id").alias("canonical_id"))
    )




@register(
    "dedup_ngram_jaccard",
    f"""
    WITH t AS ({_TWINNED}),
    w AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words FROM t),
    sh0 AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(range(1, greatest(len(words) - 1, 1))) AS r(i)
    ),
    sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM sh0
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT a, b, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs on the twinned corpus,
    with the df > {MAX_SHINGLE_DF} hot-shingle cap active on both engines
    (exact Jaccard over the capped/informative shingle space)."""
    sh = word_shingles(_twinned(spark, sf), "doc_id", "text", k=3)
    return jaccard_pairs(sh, "doc_id", threshold=0.2, max_df=MAX_SHINGLE_DF)



_CONT_NUM, _CONT_DEN = 9, 10  # containment threshold 0.9 as an exact ratio


@register(
    "dedup_containment",
    f"""
    WITH t AS ({_TWINNED}),
    w AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words FROM t),
    sh0 AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(range(1, greatest(len(words) - 1, 1))) AS r(i)
    ),
    dfk AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}),
    sh AS (SELECT s.doc_id, s.shingle FROM sh0 s JOIN dfk USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.a AS contained_doc, i.b AS container_doc,
           round(CAST(i.inter AS DOUBLE) / sa.sz, 6) AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a
    WHERE i.inter * {_CONT_DEN} >= {_CONT_NUM} * sa.sz
    """,
)
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: C(A in B) = |A∩B| / |A|
    over df-capped word 3-shingles, emitted when >= 0.9 — the detector
    for a short doc living INSIDE a longer one (a quoted article, a
    syndicated excerpt, the planted 40-word twins of long docs), which
    symmetric Jaccard structurally misses: a 40-word twin of a 400-word
    original has containment 1.0 but Jaccard ~0.1, below any sane
    Jaccard threshold. Standard companion to Jaccard in crawl dedup
    (Broder's containment sketch problem).

    Scale shape: same df-capped inverted-index equi-join as
    jaccard_pairs (never a cartesian; the hot-shingle cap is a groupBy
    + semi-join, no window) with BOTH orientations of each pair scored
    — containment is directional. The threshold comparison is the exact
    integer cross-multiply inter*10 >= 9*|A| on both engines; only the
    reported score divides (rounded, both engines)."""
    sh = word_shingles(_twinned(spark, sf), "doc_id", "text", k=3)
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa"))
    return (
        inter.join(sa, "a")
        .filter(F.col("inter") * _CONT_DEN >= _CONT_NUM * F.col("sa"))
        .select(
            F.col("a").alias("contained_doc"),
            F.col("b").alias("container_doc"),
            F.round(F.col("inter") / F.col("sa"), 6).alias("containment"),
        )
    )

from ._minhash import MINHASH_TOK as _MINHASH_TOK  # noqa: E402
from ._minhash import MH_P as _MH_P  # noqa: E402
from ._minhash import mh_constants as _mh_constants  # noqa: E402

# universal-hash family for the MinHash permutations: p = 2^31 - 1
# (Mersenne prime), per-perm constants derived from md5 at codegen time
# so both engines inline identical literals. a_i*x < 2^62 — exact BIGINT.


def _minhash_sql(n_perm: int = 32, bands: int = 16, threshold: float = 0.2) -> str:
    """The MinHash+LSH query as ONE generated SQL string. Built in a
    single spark.sql parse: the DataFrame form's ~200 Column-API calls
    cost 1.4s of Py4J round-trips per invocation — 40% of the query's
    wall time — vs ~0.2s for one SQL parse.

    Hash family (round 2): ONE md5 per shingle reduced to a base value
    x < p = 2^31 - 1, then perm_i = (a_i * x + b_i) mod p — the
    pairwise-independent universal family MinHash implementations use
    (e.g. the datasketch library), with the per-permutation constants
    a_i, b_i derived from md5 at codegen time and INLINED in the SQL.
    All arithmetic stays < 2^62 (exact in BIGINT on any engine) and md5
    is bit-identical everywhere, so the whole sketch — minima, band
    keys, candidates — is recomputable in DuckDB and value-checked,
    unlike the previous engine-specific xxhash64 sketches. (First
    attempt used Kirsch-Mitzenmacher h1 + i*h2 WITHOUT a modulus: the
    per-perm orderings stay correlated — the same small-h1 shingle wins
    every perm — and banding recall collapsed 0.9 -> 0.76 on the twin
    fixture. The mod-p affine family restored it.) Cost on the Spark
    side is one md5 + 32 multiply-mods per shingle instead of 32
    xxhash64 calls — measured wall-neutral.

    Plan notes (measured, also apply to the SQL form): keep the shingle
    expression inline in the explode (naming the array and exploding
    later trips InferFiltersFromGenerate, whose inferred size()>0 filter
    gets the whole expression re-inlined and evaluated twice per row —
    8x); the explode+partial-min-agg shape shuffles ~1 row/doc
    (map-side combine); a row-local array_min(transform) variant is 10x
    slower (interpreted HOF hashing, no codegen)."""
    rows = n_perm // bands
    min_cols = ", ".join(
        f"min(({a} * x + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_mh_constants(n_perm))
    )
    band_structs = ", ".join(
        "named_struct('band', {bi}, 'bh', md5(concat_ws(',', {parts})))".format(
            bi=bi,
            parts=", ".join(f"cast(m{bi * rows + j} AS string)" for j in range(rows)),
        )
        for bi in range(bands)
    )
    return f"""
    WITH twinned AS (
      SELECT doc_id, text FROM docs_v
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_join(slice(filter(split(text, '{_MINHASH_TOK}'), x -> x != ''), 1, 40), ' ') AS text
      FROM docs_v WHERE doc_id % 10 = 0
    ),
    toks AS (SELECT doc_id, filter(split(text, '{_MINHASH_TOK}'), x -> x != '') AS t FROM twinned),
    sh AS (
      SELECT doc_id,
             explode(CASE WHEN size(t) >= 3 THEN
                 array_distinct(transform(sequence(1, size(t) - 2),
                   i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
               ELSE array() END) AS shingle
      FROM toks
    ),
    h0 AS (SELECT doc_id, md5(shingle) AS mh FROM sh),
    hashed AS (
      SELECT doc_id,
             cast(conv(substring(mh, 1, 12), 16, 10) AS bigint) % {_MH_P} AS x
      FROM h0
    ),
    sigs AS (SELECT doc_id, {min_cols} FROM hashed GROUP BY doc_id),
    banded AS (
      SELECT doc_id, bb.band AS band, bb.bh AS bh
      FROM sigs LATERAL VIEW explode(array({band_structs})) t AS bb
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
    ),
    sets AS (SELECT doc_id, collect_set(shingle) AS shset FROM sh GROUP BY doc_id)
    SELECT a, b, round(jac, 6) AS jaccard FROM (
      SELECT a, b,
             size(array_intersect(sa.shset, sb.shset)) /
             CAST(size(sa.shset) + size(sb.shset) - size(array_intersect(sa.shset, sb.shset)) AS DOUBLE) AS jac
      FROM cands JOIN sets sa ON cands.a = sa.doc_id JOIN sets sb ON cands.b = sb.doc_id
    ) WHERE jac >= {threshold}
    """


def _minhash_oracle(n_perm: int = 32, bands: int = 16, threshold: float = 0.2) -> str:
    """DuckDB recomputation of the ENTIRE MinHash+LSH pipeline — same
    md5 double-hash family (hex halves parsed via CAST('0x…')), same
    minima, same md5 band keys, same candidates-only exact Jaccard — so
    the sketch path is value-checked end to end, not rows-only."""
    rows = n_perm // bands
    min_cols = ", ".join(
        f"min(({a} * x + {b}) % {_MH_P}) AS m{i}"
        for i, (a, b) in enumerate(_mh_constants(n_perm))
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, md5(concat_ws(',', {parts})) AS bh FROM sigs".format(
            bi=bi,
            parts=", ".join(
                f"CAST(m{bi * rows + j} AS VARCHAR)" for j in range(rows)
            ),
        )
        for bi in range(bands)
    )
    return f"""
    WITH t AS ({_TWINNED}),
    w AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words FROM t),
    sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(range(1, greatest(len(words) - 1, 1))) AS r(i)
    ),
    h0 AS (SELECT doc_id, md5(shingle) AS mh FROM sh),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(mh, 1, 12)) AS BIGINT) % {_MH_P} AS x
      FROM h0
    ),
    sigs AS (SELECT doc_id, {min_cols} FROM hashed GROUP BY doc_id),
    banded AS ({band_rows}),
    cands AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT c.a, c.b,
           round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
    FROM cands c
    JOIN inter i ON i.a = c.a AND i.b = c.b
    JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
    WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= {threshold}
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash (32 perms) + LSH banding (16 bands x 2 rows, ~certain
    recall above j~0.5) candidate pairs, verified by exact Jaccard on the
    candidates only — the linear-time near-dup path at scale. The md5
    double-hash family makes the sketch engine-portable, so the whole
    pipeline is value-checked against _minhash_oracle (round 2; formerly
    the one rows-only query). pytest additionally checks recall vs the
    exact pairs on planted twins; see _minhash_sql for why this query is
    generated SQL rather than Column-API calls."""
    load(spark, sf, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(_minhash_sql(n_perm=32, bands=16, threshold=0.2))


def _simhash_oracle() -> str:
    """The whole SimHash pipeline — FNV-1a word hashes, bit votes, 16-bit
    band join, hamming verify — recomputed in SQL. The FNV inner loop
    (h = (h XOR byte) * prime mod 2^64, inherently sequential per word)
    becomes a RECURSIVE CTE advancing one byte per iteration over every
    (doc, distinct word) pair, in HUGEINT arithmetic; DuckDB's xor() and
    the HUGEINT modulo reproduce numpy's wrapping uint64 exactly
    (verified step-for-step vs kernels' _poly_hash64)."""
    two64, two63 = 1 << 64, 1 << 63
    pow2 = ", ".join(f"({b}, {1 << b})" for b in range(64))
    band_pow = ", ".join(f"({b}, {1 << (16 * b)})" for b in range(4))
    return f"""
    WITH RECURSIVE twinned AS ({_TWINNED}),
    words AS (
      SELECT DISTINCT doc_id, w
      FROM twinned, UNNEST(string_split_regex(text, '[ \t\n\r\f\x0B]+')) AS u(w)
      WHERE w <> ''
    ),
    fnv AS (
      SELECT doc_id, w, 0 AS i, CAST(1469598103934665603 AS HUGEINT) AS h
      FROM words
      UNION ALL
      SELECT doc_id, w, i + 1,
             (xor(h, CAST(CAST(('0x' || substring(hex(encode(w)), CAST(2*i + 1 AS BIGINT), 2)) AS BIGINT) AS HUGEINT))
              * 1099511628211) % {two64}
      FROM fnv WHERE i < octet_length(encode(w))
    ),
    wh AS (SELECT doc_id, h FROM fnv WHERE i = octet_length(encode(w))),
    pow2(bit, p) AS (VALUES {pow2}),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v,
             any_value(p) AS p2
      FROM wh, pow2 GROUP BY doc_id, bit
    ),
    sig AS (
      SELECT doc_id, sum(CASE WHEN v > 0 THEN p2 ELSE 0 END) AS hu
      FROM votes GROUP BY doc_id
    ),
    s AS (
      SELECT doc_id, hu,
             CAST(hu - CASE WHEN hu >= {two63} THEN {two64} ELSE 0 END
                  AS BIGINT) AS simhash
      FROM sig
    ),
    bp(band, bpw) AS (VALUES {band_pow}),
    banded AS (
      SELECT doc_id, simhash, band, (hu // bpw) % 65536 AS bits
      FROM s, bp
    )
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM banded x
    JOIN banded y ON x.band = y.band AND x.bits = y.bits
                 AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash near-dup pairs: 16-bit band join, hamming <= 6
    verify. Bands make it an equi-join (no cartesian) at any scale.
    Value-checked against the recursive-CTE FNV recomputation in
    _simhash_oracle."""
    t = _twinned(spark, sf)
    # token-less docs (NULL/empty/whitespace-only text) carry no signal:
    # the oracle's words CTE yields no sig row for them, so they must
    # not enter banding here either — otherwise every such doc gets
    # simhash 0 and they all spuriously pair with each other at
    # hamming 0 (same pinned ASCII token class as the kernel/oracle)
    t = t.filter(
        F.size(
            F.filter(
                F.split(F.coalesce("text", F.lit("")), "[ \t\n\r\f\x0B]+"),
                lambda x: x != "",
            )
        )
        > 0
    )
    sh = t.mapInPandas(simhash_fn("doc_id", "text"), schema="doc_id bigint, simhash bigint")
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    a = banded.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band", "bits"
    )
    b = banded.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band", "bits"
    )
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64_expr(F.col("ha"), F.col("hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 6)
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20)
    SELECT q.vec_id AS query_id, nn.vec_id AS nn_id,
           round(nn.cos, 4) AS cosine
    FROM q, LATERAL (
      SELECT e.vec_id, CASE WHEN list_inner_product(q.embedding, q.embedding) > 0 AND list_inner_product(e.embedding, e.embedding) > 0 THEN list_cosine_similarity(q.embedding, e.embedding) ELSE 0.0 END AS cos
      FROM embeddings e WHERE e.vec_id <> q.vec_id
      ORDER BY round(CASE WHEN list_inner_product(q.embedding, q.embedding) > 0 AND list_inner_product(e.embedding, e.embedding) > 0 THEN list_cosine_similarity(q.embedding, e.embedding) ELSE 0.0 END, 6) DESC, e.vec_id LIMIT 1
    ) nn
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup: nearest neighbor by cosine for a query slice.
    Query side broadcast; corpus never shuffles until the tiny top-1 agg."""
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    joined = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("nn_id"),
        cosine_expr(F.col("qv"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.round(F.col("cos"), 6).desc(), "nn_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "nn_id", F.round("cos", 4).alias("cosine"))
    )


# ------------------------------------------------------- similarity search


@register(
    "sim_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)
    SELECT query_id, nn_id, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(CASE WHEN list_inner_product(q.embedding, q.embedding) > 0 AND list_inner_product(e.embedding, e.embedding) > 0 THEN list_cosine_similarity(q.embedding, e.embedding) ELSE 0.0 END, 6) DESC, e.vec_id
             ) AS rank
      FROM q, embeddings e WHERE e.vec_id <> q.vec_id
    ) WHERE rank <= 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 ANN baseline: broadcast queries x corpus
    scan, JVM-side dot products, per-query top-k window.

    (ranks, not raw cosines, are the checked values: float32 summation
    order differs between engines at the 1e-7 level.)"""
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    joined = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("nn_id"),
        cosine_expr(F.col("qv"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.round(F.col("cos"), 6).desc(), "nn_id")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "nn_id", "rank")
    )


def _sql_list(vec) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def _lsh_oracle() -> str:
    """The hyperplane-LSH query recomputed in SQL: the 96 plane vectors
    (16 rotations x 6 bits, RandomState(7)) are inlined as DOUBLE-list
    VALUES, bucket = sum of sign bits via list_inner_product, candidate
    and re-rank logic mirrors the DataFrame plan."""
    P = np.random.RandomState(7).randn(16, 6, 64)
    rows = ", ".join(
        f"({r}, {b}, {_sql_list(P[r, b])})"
        for r in range(16)
        for b in range(6)
    )
    return f"""
    WITH planes(rot, bit, pv) AS (VALUES {rows}),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    dots AS (
      SELECT e.vec_id, p.rot, p.bit,
             list_inner_product(e.emb, p.pv) AS d
      FROM e CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, rot,
             sum(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS bucket
      FROM dots GROUP BY vec_id, rot
    ),
    q AS (SELECT vec_id AS query_id, rot, bucket FROM buckets WHERE vec_id < 5),
    cands AS (
      SELECT DISTINCT q.query_id, b.vec_id AS nn_id
      FROM buckets b JOIN q ON b.rot = q.rot AND b.bucket = q.bucket
      WHERE b.vec_id <> q.query_id
    ),
    scored AS (
      SELECT c.query_id, c.nn_id,
             CASE WHEN list_inner_product(qe.embedding, qe.embedding) > 0 AND list_inner_product(ne.embedding, ne.embedding) > 0 THEN list_cosine_similarity(qe.embedding, ne.embedding) ELSE 0.0 END AS cos
      FROM cands c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.nn_id
    )
    SELECT query_id, nn_id, rank, round(cos, 4) AS cosine FROM (
      SELECT query_id, nn_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, nn_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@register("sim_lsh_bucketed", _lsh_oracle())
def sim_lsh_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 6-bit sign buckets over 16 rotations;
    candidates = bucket collisions in any rotation; exact cosine re-rank.
    The scale path: corpus hashed once, lookup is an equi-join on bucket.
    pytest checks recall@10 vs brute force; the driver value-checks the
    full output against the inlined-plane SQL recomputation."""
    bc = cached_broadcast(
        spark, "lsh_planes",
        lambda: np.random.RandomState(7).randn(16, 6, 64).astype(np.float64),
    )  # (rot, bit, dim)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            if not len(pdf):
                continue  # np.stack([]) raises; empty Arrow batches are legal
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            rows = {"vec_id": pdf["vec_id"]}
            for r in range(P.shape[0]):
                signs = (V @ P[r].T) > 0  # (n, 6)
                rows[f"b{r}"] = (signs @ (1 << np.arange(6))).astype("int64")
            yield pd.DataFrame(rows)

    e = load(spark, sf, "embeddings")
    schema = "vec_id bigint, " + ", ".join(f"b{r} bigint" for r in range(16))
    buckets = e.select("vec_id", "embedding").mapInPandas(bucketize, schema=schema)
    buckets = buckets.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("rot"), F.col(f"b{r}").alias("bucket"))
                for r in range(16)
            ])
        ).alias("rb"),
    ).select("vec_id", "rb.rot", "rb.bucket")

    q = buckets.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "rot", "bucket"
    )
    cands = (
        buckets.join(F.broadcast(q), ["rot", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("nn_id"))
        .distinct()
    )
    ev = load(spark, sf, "embeddings")
    qv = ev.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(ev, F.col("vec_id") == F.col("nn_id"))
        .select("query_id", "nn_id", cosine_expr(F.col("qv"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.round(F.col("cos"), 6).desc(), "nn_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "nn_id", "rank", F.round("cos", 4).alias("cosine"))
    )


# IVF index constants: K cells, NPROBE probed cells per query, integer
# milli-unit quantization clamp (same clamp rationale as selection.py's
# PQ codebook: squared diffs over 64 dims must stay far inside int64 on
# BOTH engines — DuckDB silently widens to HUGEINT, Spark wraps/errors).
IVF_K = 16
IVF_NPROBE = 4
IVF_ITERS = 2
IVF_SAMPLE = 2048
IVF_CLAMP = 1_000_000
IVF_DIM = 64

_IVF_QUANT_DUCK = (
    "list_transform(embedding, x -> greatest(least(CAST(floor(CAST(x AS"
    f" DOUBLE) * 1000) AS BIGINT), {IVF_CLAMP}), -{IVF_CLAMP}))"
)
# exact integer squared L2 between two quantized lists (1-based SQL idx)
_IVF_SQDIST = (
    "list_sum(list_transform(range(1, {d}), j -> "
    "({a}[CAST(j AS INT)] - {b}[CAST(j AS INT)])"
    " * ({a}[CAST(j AS INT)] - {b}[CAST(j AS INT)])))"
)


def _ivf_quant(V: "np.ndarray") -> "np.ndarray":
    """floor(float64(x) * 1000) clamped — bit-identical to the SQL
    transform in _IVF_QUANT_DUCK (IEEE double widen + multiply + floor,
    then greatest/least)."""
    q = np.floor(V.astype(np.float64) * 1000.0)
    return np.clip(q, -IVF_CLAMP, IVF_CLAMP).astype(np.int64)


def _ivf_sqdist_int(Q: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n, K) exact int64 squared L2: expanded form so the (n, K) matmul
    does the heavy lifting; identical values to the per-pair sum (all
    terms exact integers, |q| <= 1e6 so every intermediate < 2^60)."""
    return (
        (Q * Q).sum(axis=1, keepdims=True)
        - 2 * (Q @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )


def _ivf_kmeans_int(Qs: "np.ndarray") -> "np.ndarray":
    """Fixed-iteration Lloyd k-means in EXACT integer arithmetic — the
    one training routine mirrored verbatim by the oracle's unrolled SQL
    CTEs, so the codebook is recomputable at ANY sf (this removed the
    registry's one contract-scale-only oracle, VERDICT r3 task 5):
      * init: the K smallest-vec_id sample vectors (deterministic seed)
      * assign: argmin integer squared L2, ties -> smallest k
        (numpy first-min == SQL row_number ORDER BY d, k)
      * update: element-wise integer mean via the +CLAMP offset so the
        numerator is non-negative — DuckDB's // truncates toward zero
        while Python's floors, and the offset makes them agree
      * empty cluster: centroid carries over (SQL: coalesce via left join)
    """
    C = Qs[:IVF_K].copy()
    for _ in range(IVF_ITERS):
        assign = _ivf_sqdist_int(Qs, C).argmin(axis=1)
        for k in range(IVF_K):
            m = assign == k
            if m.any():
                C[k] = (Qs[m] + IVF_CLAMP).sum(axis=0) // int(m.sum()) - IVF_CLAMP
    return C


def _ivf_cells_ctes() -> str:
    """The WITH-chain (sans the leading WITH) recomputing the integer
    IVF index in SQL: quantization, k-means init + IVF_ITERS unrolled
    Lloyd iterations (integer means with the +CLAMP offset), per-vector
    cell assignment (``cells``), and per-query nprobe probing
    (``probes``). Shared by _ivf_oracle and _ann_oracle so both value
    checks recompute the identical index at WHATEVER sf the driver
    mounts — no constants trained outside the query."""
    d1 = IVF_DIM + 1
    iters = []
    for i in range(IVF_ITERS):
        dist_i = _IVF_SQDIST.format(d=d1, a="s.qe", b="c.cv")
        iters.append(f"""
    dist{i} AS (
      SELECT s.vec_id, c.k, {dist_i} AS d
      FROM samp s CROSS JOIN cent{i} c
    ),
    assign{i} AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM dist{i}
      ) WHERE rn = 1
    ),
    upd{i} AS (
      SELECT a.k, r.j,
             (sum(s.qe[CAST(r.j AS INT)] + {IVF_CLAMP}) // count(*)) - {IVF_CLAMP} AS v
      FROM assign{i} a
      JOIN samp s ON s.vec_id = a.vec_id
      CROSS JOIN range(1, {d1}) r(j)
      GROUP BY a.k, r.j
    ),
    packed{i} AS (SELECT k, list(v ORDER BY j) AS cv FROM upd{i} GROUP BY k),
    cent{i + 1} AS (
      SELECT p.k, coalesce(u.cv, p.cv) AS cv
      FROM cent{i} p LEFT JOIN packed{i} u ON u.k = p.k
    )""")
    iter_sql = ",".join(iters)
    final_dist = _IVF_SQDIST.format(d=d1, a="q.qe", b="c.cv")
    return f"""
    q AS (
      SELECT vec_id, {_IVF_QUANT_DUCK} AS qe FROM embeddings
    ),
    samp AS (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT {IVF_SAMPLE}),
    cent0 AS (
      SELECT rn - 1 AS k, qe AS cv FROM (
        SELECT qe, row_number() OVER (ORDER BY vec_id) AS rn FROM samp
      ) WHERE rn <= {IVF_K}
    ),{iter_sql},
    cent AS (SELECT k, cv FROM cent{IVF_ITERS}),
    alldist AS (
      SELECT q.vec_id, c.k, {final_dist} AS d
      FROM q CROSS JOIN cent c
    ),
    ranked AS (
      SELECT vec_id, k,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
      FROM alldist
    ),
    cells AS (SELECT vec_id, k AS cell FROM ranked WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, k AS cell FROM ranked
      WHERE vec_id < 5 AND rn <= {IVF_NPROBE}
    )
    """


def _ivf_centroids_bc(spark: SparkSession, e: DataFrame, sf: str):
    """Broadcast of the trained integer IVF centroids, memoized per
    (app, table) — the build-once index artifact shared by sim_ivf_topk
    and sim_ann_persisted."""

    def _train() -> np.ndarray:
        samp = np.stack(
            e.orderBy("vec_id").limit(IVF_SAMPLE).toPandas()["embedding"].map(np.asarray)
        )
        return _ivf_kmeans_int(_ivf_quant(samp))

    return cached_broadcast(spark, f"ivf_int_centroids_{sf}", _train)


def _ivf_oracle() -> str:
    """sim_ivf_topk recomputed end-to-end in SQL: the shared integer
    index chain (_ivf_cells_ctes), candidates from probed cells, and
    the exact-cosine re-rank — value-checkable at any sf."""
    return f"""
    WITH {_ivf_cells_ctes().strip()},
    cands AS (
      SELECT DISTINCT p.query_id, c.vec_id AS nn_id
      FROM cells c JOIN probes p ON c.cell = p.cell
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.nn_id,
             CASE WHEN list_inner_product(qe.embedding, qe.embedding) > 0 AND list_inner_product(ne.embedding, ne.embedding) > 0 THEN list_cosine_similarity(qe.embedding, ne.embedding) ELSE 0.0 END AS cos
      FROM cands c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.nn_id
    )
    SELECT query_id, nn_id, rank, round(cos, 4) AS cosine FROM (
      SELECT query_id, nn_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, nn_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@register("sim_ivf_topk", _ivf_oracle())
def sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (inverted-file) ANN: integer-exact k-means centroids trained
    driver-side on a bounded vec_id-ordered sample (IVF_SAMPLE rows — at
    10^12 rows this would be `ORDER BY hash LIMIT n` / reservoir),
    broadcast; every corpus vector is assigned to its nearest centroid
    (integer squared-L2 argmin) in one numpy pass; a query probes only
    its nprobe nearest cells (equi-join on cell id) and exact-cosine
    re-ranks the candidates. The scale path for 10^9+ vectors: the
    corpus is hashed once into cell-keyed layout, query cost is
    ~nprobe/K of a full scan, and the join is an equi-join AQE can plan.

    All index math (quantize, train, assign, probe) is exact int64, so
    the oracle RECOMPUTES the identical index in SQL at any sf — the
    candidate sets are bit-equal by construction and only the final
    re-rank touches floats (rounded, the attested cosine convention).
    pytest checks recall@10 vs brute force."""
    e = load(spark, sf, "embeddings")
    bc = _ivf_centroids_bc(spark, e, sf)

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value  # (K, dim) int64
        for pdf in batches:
            if not len(pdf):
                continue  # np.stack([]) raises; empty Arrow batches are legal
            Q = _ivf_quant(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            )
            cell = _ivf_sqdist_int(Q, C).argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell.astype("int32")}
            )

    def probe_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue  # np.stack([]) raises; empty Arrow batches are legal
            Q = _ivf_quant(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            )
            # stable sort: ties keep index order == SQL ORDER BY d, k
            order = np.argsort(
                _ivf_sqdist_int(Q, C), axis=1, kind="stable"
            )[:, :IVF_NPROBE]
            ids = np.repeat(pdf["vec_id"].to_numpy(), IVF_NPROBE)
            yield pd.DataFrame(
                {"query_id": ids, "cell": order.ravel().astype("int32")}
            )

    cells = e.select("vec_id", "embedding").mapInPandas(
        assign_cells, schema="vec_id bigint, cell int"
    )
    probes = (
        e.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .mapInPandas(probe_cells, schema="query_id bigint, cell int")
    )
    cands = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("nn_id"))
        .distinct()
    )
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(e, F.col("vec_id") == F.col("nn_id"))
        .select(
            "query_id", "nn_id", cosine_expr(F.col("qv"), F.col("embedding")).alias("cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.round(F.col("cos"), 6).desc(), "nn_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "nn_id", "rank", F.round("cos", 4).alias("cosine"))
    )


ANN_SHORTLIST = 32  # ADC shortlist size per query before exact re-rank


def _ann_oracle() -> str:
    """sim_ann_persisted recomputed end-to-end in SQL: the shared
    integer IVF chain (cells + probes), PQ codes re-derived from the
    table (same codebook-from-smallest-vec_ids scheme as
    selection._pq_oracle), ADC = sum over subspaces of the integer
    squared distance between the QUERY's quantized subvector and the
    CANDIDATE's assigned codeword, shortlist by (adc, nn_id), then the
    exact-cosine re-rank. Everything before the re-rank is exact int64,
    so the shortlist is bit-equal across engines at any sf."""
    from ._pq import PQ_K, PQ_M, PQ_SUB  # leaf: safe at decorator time

    sub = (
        "list_sum(list_transform(range(1, {s}), j -> "
        "({a}[CAST(mm.m*{w}+j AS INT)] - {b}[CAST(mm.m*{w}+j AS INT)])"
        " * ({a}[CAST(mm.m*{w}+j AS INT)] - {b}[CAST(mm.m*{w}+j AS INT)])))"
    )
    code_dist = sub.format(s=PQ_SUB + 1, w=PQ_SUB, a="v.qe", b="c.qe")
    adc_dist = (
        "list_sum(list_transform(range(1, {s}), j -> "
        "(qq.qe[CAST(cd.m*{w}+j AS INT)] - cb.qe[CAST(cd.m*{w}+j AS INT)])"
        " * (qq.qe[CAST(cd.m*{w}+j AS INT)] - cb.qe[CAST(cd.m*{w}+j AS INT)])))"
    ).format(s=PQ_SUB + 1, w=PQ_SUB)
    return f"""
    WITH {_ivf_cells_ctes().strip()},
    pqcb AS (SELECT vec_id AS k, qe FROM q WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT v.vec_id, mm.m, c.k,
               row_number() OVER (PARTITION BY v.vec_id, mm.m
                                  ORDER BY {code_dist}, c.k) AS rn
        FROM q v CROSS JOIN range(0, {PQ_M}) mm(m) CROSS JOIN pqcb c
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT DISTINCT p.query_id, cl.vec_id AS nn_id
      FROM cells cl JOIN probes p ON cl.cell = p.cell
      WHERE cl.vec_id <> p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.nn_id, sum(d) AS adc FROM (
        SELECT ca.query_id, ca.nn_id, cd.m, {adc_dist} AS d
        FROM cand ca
        JOIN codes cd ON cd.vec_id = ca.nn_id
        JOIN pqcb cb ON cb.k = cd.code
        JOIN q qq ON qq.vec_id = ca.query_id
      ) c GROUP BY c.query_id, c.nn_id
    ),
    short AS (
      SELECT query_id, nn_id FROM (
        SELECT query_id, nn_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, nn_id) AS rn
        FROM adc
      ) WHERE rn <= {ANN_SHORTLIST}
    ),
    scored AS (
      SELECT s.query_id, s.nn_id,
             CASE WHEN list_inner_product(qe.embedding, qe.embedding) > 0 AND list_inner_product(ne.embedding, ne.embedding) > 0 THEN list_cosine_similarity(qe.embedding, ne.embedding) ELSE 0.0 END AS cos
      FROM short s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.nn_id
    )
    SELECT query_id, nn_id, rank, round(cos, 4) AS cosine FROM (
      SELECT query_id, nn_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, nn_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@register("sim_ann_persisted", _ann_oracle())
def sim_ann_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted-index ANN serving (VERDICT r3 stretch task 9): the
    index-build-once / probe-many shape a 10^12-row vector store needs.

    BUILD (once per corpus): one map-only pass quantizes every vector
    and emits (vec_id, IVF cell, 8 PQ codes) — 64 float32 dims become
    ~9 small ints, the ~40x row shrink that lets the index live in a
    catalog table instead of RAM. The rows are committed to a
    SnapshotCatalog table across TWO append snapshots (the
    accrete-per-ingest shape); the probe reads the CATALOG, never the
    build plan.

    PROBE (per query batch): each query precomputes an 8x16 integer LUT
    of subspace distances to the PQ codebook (the classic ADC trick —
    per-candidate cost is 8 LUT lookups, no vector math); candidates =
    persisted rows in the query's nprobe IVF cells (broadcast equi-join
    on cell); ADC-rank the candidates, keep a {ANN_SHORTLIST}-deep
    shortlist, exact-cosine re-rank ONLY the shortlist (the only stage
    that touches full vectors, and only ~shortlist rows per query).

    Every stage before the re-rank is exact int64 (quantize, k-means,
    cells, codes, LUT, ADC), so the DuckDB oracle recomputes the
    identical shortlist at any sf. Composes sim_ivf_topk's integer IVF
    with emb_pq_quantize's codebook scheme."""
    from ..catalog import SnapshotCatalog
    from ._scratch import scratch_dir
    from ._pq import PQ_K, PQ_M, PQ_SUB
    from .selection import _pq_codebook

    e = load(spark, sf, "embeddings")
    bc = _ivf_centroids_bc(spark, e, sf)
    bc_pq = cached_broadcast(
        spark, f"pq_codebook_{sf}",
        lambda: np.asarray(_pq_codebook(spark, sf), dtype=np.int64),
    )

    def build_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value           # (K, 64) int64 IVF centroids
        CB = bc_pq.value       # (M, K, SUB) int64 PQ codebook
        for pdf in batches:
            if not len(pdf):
                continue  # np.stack([]) raises; empty Arrow batches are legal
            Q = _ivf_quant(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            )
            cols = {
                "vec_id": pdf["vec_id"],
                "cell": _ivf_sqdist_int(Q, C).argmin(axis=1).astype("int32"),
            }
            for m in range(PQ_M):
                sub = Q[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                d = ((sub[:, None, :] - CB[m][None, :, :]) ** 2).sum(axis=-1)
                cols[f"c{m}"] = d.argmin(axis=1).astype("int32")
            yield pd.DataFrame(cols)

    schema = "vec_id bigint, cell int, " + ", ".join(
        f"c{m} int" for m in range(PQ_M)
    )
    idx_df = e.select("vec_id", "embedding").mapInPandas(build_index, schema=schema)

    cat = SnapshotCatalog(scratch_dir("ann_index_"))
    cat.append(idx_df.where(F.col("vec_id") % 2 == 0))
    cat.append(idx_df.where(F.col("vec_id") % 2 == 1))
    index = cat.read(spark)

    # per-query probe cells + ADC lookup table, from a bounded collect
    # of the query rows (5 here; a real serving batch is still tiny
    # next to the corpus) — all integer math, mirrored by the oracle
    C = bc.value
    CB = bc_pq.value
    qrows = (
        e.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    )
    probe_rows, lut_rows = [], []
    for r in qrows:
        qq = _ivf_quant(np.asarray(r.embedding, dtype=np.float64)[None, :])[0]
        cd = ((qq[None, :] - C) ** 2).sum(axis=1)
        for cell in np.argsort(cd, kind="stable")[:IVF_NPROBE]:
            probe_rows.append((int(r.vec_id), int(cell)))
        for m in range(PQ_M):
            sub = qq[m * PQ_SUB : (m + 1) * PQ_SUB]
            for k in range(PQ_K):
                d = int(((sub - CB[m][k]) ** 2).sum())
                lut_rows.append((int(r.vec_id), m, k, d))
    probes = spark.createDataFrame(probe_rows, "query_id bigint, cell int")
    lut = spark.createDataFrame(lut_rows, "query_id bigint, m int, code int, d bigint")

    stack_args = ", ".join(f"{m}, c{m}" for m in range(PQ_M))
    cand = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vec_id AS nn_id",
            f"stack({PQ_M}, {stack_args}) AS (m, code)",
        )
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "nn_id")
        .agg(F.sum("d").alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc", "nn_id")
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= ANN_SHORTLIST)
        .select("query_id", "nn_id")
    )
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(e, F.col("vec_id") == F.col("nn_id"))
        .select(
            "query_id", "nn_id", cosine_expr(F.col("qv"), F.col("embedding")).alias("cos")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.round(F.col("cos"), 6).desc(), "nn_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "nn_id", "rank", F.round("cos", 4).alias("cosine"))
    )



# ----------------------------------------------------------- text analysis


@register(
    "txt_token_count",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '\w+|[^\w \t\n\r\f\x0B]')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def txt_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer."""
    d = load(spark, sf, "documents")
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"\w+|[^\w \t\n\r\f\x0B]")).cast("bigint").alias("bpe_ish_tokens"),
    )


@register(
    "txt_fingerprint",
    """
    SELECT doc_id, md5(text) AS fp, CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def txt_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Content fingerprint (md5) — the exact-dedup/lineage key."""
    return load(spark, sf, "documents").select(
        "doc_id", F.md5("text").alias("fp"), F.length("text").cast("bigint").alias("n_chars")
    )


def _rolling_fp_oracle() -> str:
    """The winnowing fingerprint recomputed in SQL: h_i = sum_j
    byte[i+j] * 257^(15-j) mod 2^64 (HUGEINT arithmetic — DuckDB's
    128-bit int holds the pre-mod sum < 2^76 exactly, mirroring numpy's
    wrapping uint64 adds), unsigned min per doc, then two's-complement to
    the kernel's signed output. ASCII fixture => ascii(char) == utf-8
    byte. Docs shorter than one window fingerprint to 0."""
    B, W = 257, 16
    weights = [pow(B, W - 1 - j, 1 << 64) for j in range(W)]
    terms = " + ".join(
        f"CAST(lead(b0, {j}) OVER w AS HUGEINT) * {weights[j]}" if j else
        f"CAST(b0 AS HUGEINT) * {weights[0]}"
        for j in range(W)
    )
    two64, two63 = 1 << 64, 1 << 63
    return f"""
    WITH b AS (
      SELECT doc_id, i,
             CAST(('0x' || substring(hex(encode(text)), CAST(2*i - 1 AS BIGINT), 2)) AS INTEGER) AS b0
      FROM documents, UNNEST(range(1, octet_length(encode(text)) + 1)) AS r(i)
    ),
    h AS (
      SELECT doc_id, ({terms}) % {two64} AS hv,
             lead(b0, {W - 1}) OVER w IS NOT NULL AS full_win
      FROM b WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    m AS (SELECT doc_id, min(hv) AS mn FROM h WHERE full_win GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(
             CASE WHEN m.mn >= {two63} THEN m.mn - {two64} ELSE m.mn END,
             0) AS BIGINT) AS min_fp
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    """


def _rolling_fp_fn() -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Batch winnowing kernel, importable for kernel-parity tests."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B, W = 257, 16
        # window hash = sum_j byte[j] * B^(W-1-j) mod 2^64; vectorized as W
        # strided adds (numpy uint64 wraps silently) — no per-byte loop.
        weights = np.array(
            [pow(B, W - 1 - j, 1 << 64) for j in range(W)], dtype=np.uint64
        )
        UMAX = np.uint64(0xFFFFFFFFFFFFFFFF)
        CHUNK = 32768  # window starts per hashing block: keeps the W strided
        # adds inside L1/L2 (a whole-buffer sweep is 2-5x slower — 16 passes
        # of memory traffic over the full batch; measured on 10 MB batches)
        for pdf in batches:
            # one packed buffer per Arrow batch: hash every byte position in
            # W strided adds per cache-sized chunk, mask the last W-1
            # positions of each doc (windows crossing a boundary), per-doc
            # min via one minimum.reduceat — loop depth is window width x
            # (batch bytes / CHUNK), not the doc count.
            bufs = [
                t.encode("utf-8") if isinstance(t, str) else b""
                for t in pdf["text"]
            ]
            lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
            ends = np.cumsum(lens)
            raw = np.frombuffer(b"".join(bufs), dtype=np.uint8)
            n = raw.size - W + 1
            h = np.empty(raw.size, dtype=np.uint64)
            h[max(n, 0):] = UMAX
            for c0 in range(0, n, CHUNK):
                c1 = min(c0 + CHUNK, n)
                seg = raw[c0 : c1 + W - 1].astype(np.uint64)
                m = c1 - c0
                acc = seg[:m] * weights[0]
                for j in range(1, W):
                    acc += seg[j : j + m] * weights[j]
                h[c0:c1] = acc
            # invalid window starts = last min(W-1, len) positions per doc
            counts = np.minimum(W - 1, lens)
            inv = (
                np.arange(counts.sum(), dtype=np.int64)
                - np.repeat(np.cumsum(counts) - counts, counts)
                + np.repeat(ends - counts, counts)
            )
            h[inv] = UMAX
            starts = np.minimum(ends - lens, max(raw.size - 1, 0))
            mins = (
                np.minimum.reduceat(h, starts)
                if raw.size
                else np.zeros(len(bufs), dtype=np.uint64)
            )
            out = np.where(lens >= W, mins.astype(np.int64), np.int64(0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "min_fp": pd.array(out, dtype="int64")})

    return fn


@register("txt_rolling_fp", _rolling_fp_oracle())
def txt_rolling_fp(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-style fingerprint: minimum 64-bit rolling hash over
    16-byte windows, batch-vectorized — one packed buffer per Arrow batch,
    16 strided adds for every window hash, boundary mask, and a single
    minimum.reduceat for the per-doc minima (no per-doc Python). Robust to
    suffix edits; value-checked against the HUGEINT SQL recomputation in
    _rolling_fp_oracle."""
    return load(spark, sf, "documents").select("doc_id", "text").mapInPandas(
        _rolling_fp_fn(), schema="doc_id bigint, min_fp bigint"
    )


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in sorted(STOPWORD_SET)) + "]"


@register(
    "txt_quality_score",
    f"""
    WITH s AS (
      -- coalesce: NULL text scores like '' on BOTH engines (the Spark
      -- side's with_structural_signals coalesces since the NULL-parity
      -- fix; without this the SQL's least(NULL, 1.0) = 1.0 would score
      -- a NULL doc PERFECT while Spark scores it 0)
      SELECT doc_id,
             len(list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f\x0B]+'), w -> w <> '')) AS n_words,
             len(list_filter(list_filter(string_split_regex(coalesce(text, ''), '[ \t\n\r\f\x0B]+'), w -> w <> ''),
                 w -> list_contains({_STOPLIST_SQL}, lower(w)))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           round(0.5 * least(n_words / 100.0, 1.0)
               + 0.5 * least(n_stop / 10.0, 1.0), 6) AS quality
    FROM s
    """,
)
def txt_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score from length + stopword density."""
    from ..operators.quality import with_structural_signals

    s = with_structural_signals(load(spark, sf, "documents"))
    return s.select(
        "doc_id",
        F.round(
            0.5 * F.least(F.col("n_words") / 100.0, F.lit(1.0))
            + 0.5 * F.least(F.col("n_stopwords") / 10.0, F.lit(1.0)),
            6,
        ).alias("quality"),
    )


# ---------------------------------------------------------------- multimodal


@register(
    "mm_blob_stats",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
           md5(text) AS blob_md5
    FROM documents
    """,
)
def mm_blob_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Opaque-binary-column plumbing: treat text bytes as a media blob and
    compute typed metadata JVM-side (the fixture has no real media)."""
    d = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return d.select(
        "doc_id",
        F.length("blob").cast("bigint").alias("blob_len"),
        F.md5("blob").alias("blob_md5"),
    )


def _decode_features_oracle() -> str:
    """The fake decode (8 chunk means over np.array_split boundaries)
    recomputed in SQL: chunk k of an n-byte blob holds positions
    [boundary math of array_split: the first n%8 chunks get n//8+1
    bytes], mean per chunk, fixed %.6f formatting on both engines."""
    return """
    WITH b AS (
      SELECT doc_id, i - 1 AS p,
             CAST(('0x' || substring(hex(encode(text)), CAST(2*i - 1 AS BIGINT), 2)) AS INTEGER) AS b0,
             octet_length(encode(text)) AS n
      FROM documents, UNNEST(range(1, octet_length(encode(text)) + 1)) AS r(i)
    ),
    c AS (
      SELECT doc_id,
             CASE WHEN p < (n % 8) * ((n // 8) + 1)
                  THEN p // ((n // 8) + 1)
                  ELSE (n % 8) + (p - (n % 8) * ((n // 8) + 1))
                       // NULLIF(n // 8, 0)
             END AS chunk,
             b0
      FROM b
    ),
    m AS (
      SELECT doc_id, chunk, avg(CAST(b0 AS DOUBLE)) AS mu
      FROM c GROUP BY doc_id, chunk
    ),
    grid AS (SELECT doc_id, j AS chunk FROM documents, range(0, 8) t(j))
    SELECT g.doc_id,
           '[' || string_agg(printf('%.6f', coalesce(m.mu, 0.0)), ', '
                             ORDER BY g.chunk) || ']' AS feature,
           CAST(8 AS INT) AS dim
    FROM grid g LEFT JOIN m ON m.doc_id = g.doc_id AND m.chunk = g.chunk
    GROUP BY g.doc_id
    """


@register("mm_decode_features", _decode_features_oracle())
def mm_decode_features(spark: SparkSession, sf: str) -> DataFrame:
    """Media decode + feature-extract plumbing over binary blobs via
    mapInPandas. Real decoders (PIL/ffmpeg) are absent in this
    environment, so decode is a clearly-marked deterministic fake (8
    chunk-mean features over the raw bytes); the Spark-side schema,
    batching, and partition behavior are the real thing, and the fake is
    value-checked against an independent SQL recomputation. Swap
    `_fake_decode` for a real decoder on a cluster.

    The feature vector is serialized as a JSON-style string with fixed
    %.6f formatting (not array<double>): the driver canonicalizes
    outputs with a pandas sort_values, which cannot factorize list
    cells, and fixed-width decimal avoids float-repr mismatches between
    engines."""

    def _fake_decode(blob: bytes) -> np.ndarray:
        # STUB: stands in for image/audio decode; see operators/multimodal.
        a = np.frombuffer(blob, dtype=np.uint8)
        if a.size == 0:
            return np.zeros(8)
        chunks = np.array_split(a.astype(np.float64), 8)
        return np.array([c.mean() if c.size else 0.0 for c in chunks])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode(b if isinstance(b, (bytes, bytearray)) else b"") for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "feature": [
                        "[" + ", ".join(f"{v:.6f}" for v in f) + "]"
                        for f in feats
                    ],
                    "dim": pd.array([len(f) for f in feats], dtype="int32"),
                }
            )

    d = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return d.mapInPandas(fn, schema="doc_id bigint, feature string, dim int")


# array_split boundary math as a SQL expression: chunk index of 0-based
# position {p} when splitting {n} positions into 8 chunks (first n%8
# chunks get n//8+1 elements — numpy.array_split's exact rule)
def _split8(p: str, n: str) -> str:
    return (
        f"CASE WHEN {p} < ({n} % 8) * (({n} // 8) + 1)"
        f" THEN {p} // (({n} // 8) + 1)"
        f" ELSE ({n} % 8) + ({p} - ({n} % 8) * (({n} // 8) + 1))"
        f" // NULLIF({n} // 8, 0) END"
    )


def _resize_oracle() -> str:
    """The 8x8 block-mean thumbnail recomputed in SQL with exact integer
    arithmetic: block mean = s/c as a rational, np.round's
    round-half-to-EVEN replicated via (2*(s%c) vs c) comparisons (DuckDB
    round() is half-away-from-zero, so the rule is spelled out), hex
    string per byte. Empty blocks (side < 8) are '00'."""
    return f"""
    WITH d AS (
      SELECT doc_id,
             GREATEST(CAST(floor(sqrt(octet_length(encode(text)))) AS BIGINT), 1) AS side
      FROM documents
    ),
    b AS (
      SELECT doc_id, i - 1 AS p,
             CAST(('0x' || substring(hex(encode(text)), CAST(2*i - 1 AS BIGINT), 2)) AS INTEGER) AS b0
      FROM documents, UNNEST(range(1, octet_length(encode(text)) + 1)) AS r(i)
    ),
    blk AS (
      SELECT d.doc_id,
             {_split8('(b.p // d.side)', 'd.side')} AS by,
             {_split8('(b.p % d.side)', 'd.side')} AS bx,
             b.b0
      FROM d JOIN b ON b.doc_id = d.doc_id AND b.p < d.side * d.side
    ),
    m AS (
      SELECT doc_id, by, bx, sum(b0) AS s, count(*) AS c
      FROM blk GROUP BY doc_id, by, bx
    ),
    v AS (
      SELECT doc_id, by, bx,
             CASE WHEN 2 * (s % c) < c THEN s // c
                  WHEN 2 * (s % c) > c THEN s // c + 1
                  ELSE s // c + (s // c) % 2
             END AS val
      FROM m
    ),
    grid AS (
      SELECT doc_id, y.j AS by, x.j AS bx
      FROM documents, range(0, 8) y(j), range(0, 8) x(j)
    )
    SELECT g.doc_id,
           string_agg(printf('%02x', CAST(coalesce(v.val, 0) AS BIGINT)), ''
                      ORDER BY g.by, g.bx) AS thumb,
           CAST(any_value(d.side) AS INT) AS src_side,
           CAST(8 AS INT) AS dst_side
    FROM grid g
    JOIN d ON d.doc_id = g.doc_id
    LEFT JOIN v ON v.doc_id = g.doc_id AND v.by = g.by AND v.bx = g.bx
    GROUP BY g.doc_id
    """


@register("mm_resize", _resize_oracle())
def mm_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image-resize plumbing over opaque blobs: interpret the blob as a
    square byte 'image' (side = floor(sqrt(len))), block-mean it down to
    a fixed 8x8 thumbnail (STUB for a real PIL/cv2 resize — absent in
    this environment), returned as a 128-char hex string (driver-
    canonicalizable) plus typed source/target dims, value-checked against
    the exact-integer SQL recomputation in _resize_oracle. The Spark-side
    reality: binary-in Arrow batching with per-row metadata, the shape
    every real media resize stage has."""
    DST = 8

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs: list[str] = []
            sides: list[int] = []
            for blob in pdf["blob"]:
                b = blob if isinstance(blob, (bytes, bytearray)) else b""
                side = max(int(len(b) ** 0.5), 1)
                a = np.frombuffer(b[: side * side], dtype=np.uint8)
                if a.size < side * side:
                    a = np.pad(a, (0, side * side - a.size))
                img = a.reshape(side, side).astype(np.float64)
                # STUB resize: block-mean via split indices (any side size)
                ys = np.array_split(np.arange(side), DST)
                xs = np.array_split(np.arange(side), DST)
                thumb = np.array(
                    [[img[np.ix_(y, x)].mean() if y.size and x.size else 0.0 for x in xs] for y in ys]
                )
                thumbs.append(np.round(thumb).astype(np.uint8).tobytes().hex())
                sides.append(side)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "thumb": thumbs,
                    "src_side": pd.array(sides, dtype="int32"),
                    "dst_side": pd.array([DST] * len(sides), dtype="int32"),
                }
            )

    d = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return d.mapInPandas(
        fn, schema="doc_id bigint, thumb string, src_side int, dst_side int"
    )


def _frame_sample_oracle() -> str:
    """Frame sampling + 4-bin histogram recomputed in SQL: the same
    frame-count / evenly-spaced-offset integer arithmetic, a non-equi
    join pulls each frame's 256-byte window out of the byte table, and
    the histogram is four conditional counts over byte >> 6."""
    return """
    WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (
      SELECT doc_id, n,
             GREATEST(1, LEAST(4, CASE WHEN n // 256 = 0 THEN 1
                                       ELSE n // 256 END)) AS nf
      FROM d
    ),
    frames AS (
      SELECT doc_id, n, nf, t.fi AS frame_idx,
             CASE WHEN nf > 1 THEN (t.fi * GREATEST(n - 256, 0)) // (nf - 1)
                  ELSE 0 END AS boff
      FROM f, range(0, 4) t(fi) WHERE t.fi < nf
    ),
    b AS (
      SELECT doc_id, i - 1 AS p,
             CAST(('0x' || substring(hex(encode(text)), CAST(2*i - 1 AS BIGINT), 2)) AS INTEGER) // 64 AS bin
      FROM documents, UNNEST(range(1, octet_length(encode(text)) + 1)) AS r(i)
    ),
    h AS (
      SELECT fr.doc_id, fr.frame_idx, fr.boff,
             count(*) AS sz,
             sum(CASE WHEN b.bin = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN b.bin = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN b.bin = 2 THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN b.bin = 3 THEN 1 ELSE 0 END) AS c3
      FROM frames fr
      JOIN b ON b.doc_id = fr.doc_id
            AND b.p >= fr.boff AND b.p < fr.boff + 256
      GROUP BY fr.doc_id, fr.frame_idx, fr.boff
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(boff AS BIGINT) AS byte_offset,
           '[' || printf('%.6f', c0 * 1.0 / sz) || ', '
               || printf('%.6f', c1 * 1.0 / sz) || ', '
               || printf('%.6f', c2 * 1.0 / sz) || ', '
               || printf('%.6f', c3 * 1.0 / sz) || ']' AS frame_feat
    FROM h
    """


@register("mm_frame_sample", _frame_sample_oracle())
def mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video-style frame sampling over opaque blobs: each blob yields up to
    N_FRAMES evenly-spaced 'frames' (fixed-stride byte windows standing in
    for decoded frames — real ffmpeg/PIL are absent here, the STUB is the
    window slice), one output ROW per frame (mapInPandas as a UDTF: the
    batch fans out 1->N). Spark-side reality being exercised: row-expanding
    Arrow stage, per-frame typed metadata, and downstream per-frame
    feature columns — value-checked against the SQL recomputation in
    _frame_sample_oracle. Swap the window slice for a real decoder on a
    cluster."""
    N_FRAMES, FRAME_BYTES = 4, 256

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            offs: list[int] = []
            feats: list[str] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = blob if isinstance(blob, (bytes, bytearray)) else b""
                if not b:
                    # an empty blob has no frames (mirrors the oracle,
                    # whose per-byte join yields no rows for empty input)
                    continue
                n = max(1, min(N_FRAMES, len(b) // FRAME_BYTES or 1))
                for fi in range(n):
                    off = (fi * max(len(b) - FRAME_BYTES, 0)) // max(n - 1, 1) if n > 1 else 0
                    win = np.frombuffer(b[off : off + FRAME_BYTES], dtype=np.uint8)
                    # STUB decode: 4-bin byte histogram as the "frame feature"
                    hist = np.bincount(win >> 6, minlength=4).astype(np.float64)
                    hist /= max(win.size, 1)
                    ids.append(doc_id)
                    idxs.append(fi)
                    offs.append(off)
                    # fixed-width decimal string — see mm_decode_features
                    feats.append("[" + ", ".join(f"{v:.6f}" for v in hist) + "]")
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "byte_offset": pd.array(offs, dtype="int64"),
                    "frame_feat": feats,
                }
            )

    d = load(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return d.mapInPandas(
        fn,
        schema="doc_id bigint, frame_idx int, byte_offset bigint, frame_feat string",
    )


