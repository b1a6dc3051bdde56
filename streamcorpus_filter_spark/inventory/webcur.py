"""Round-3 web-curation operators: URL canonicalization, C4-style
line-level dedup, near-dup retention (keep/drop), snapshot-incremental
dedup, broadcast Bloom-filter probe, and SemDeDup-style embedding dedup.

These are the decisions a crawl-curation job actually emits — not just
pair lists but per-document keep/drop labels, canonical ids, and cleaned
text — each expressed as one declarative Spark plan and each recomputed
end-to-end by a DuckDB oracle (same hash families, same thresholds, same
planted fixtures).

Fixture planting (no natural dups/URLs in the synthetic corpus):
  * text twins  — twins.py: every 10th doc gets a 40-word truncated twin
  * exact twins — dedup_incremental builds a "new snapshot" batch of
    verbatim copies (+2M ids) and novel variants (+3M ids)
  * URLs        — derived deterministically from (source, doc_id) with
    uppercase scheme/host, a www prefix, and utm_*/ref tracking params,
    so canonicalization has real work to do
  * embedding twins — every 10th vector re-scaled by 1.25 (+1M ids):
    cosine 1.0 with its original, identical hyperplane sign buckets
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import cosine_expr, jaccard_pairs, word_shingles
from ..queries import cached_broadcast, load, register
from .twins import MAX_SHINGLE_DF, TWINNED_SQL, twinned

# ---------------------------------------------------------------- URLs

_URL_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM/p/' || doc_id "
    "|| '?utm_source=feed&id=' || (doc_id % 7) "
    "|| '&utm_campaign=c' || (doc_id % 3) || '&ref=rss'"
)


@register(
    "ql_url_canonicalize",
    f"""
    WITH u AS (
      SELECT doc_id, {_URL_SQL} AS url FROM documents
    ),
    p AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?]+)', 1)) AS rawhost,
             regexp_extract(url, '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path,
             string_split(regexp_extract(url, '\\?(.*)$', 1), '&') AS params
      FROM u
    ),
    c AS (
      SELECT doc_id, url,
             CASE WHEN starts_with(rawhost, 'www.')
                  THEN rawhost[5:] ELSE rawhost END AS host,
             path,
             list_sort(list_filter(params,
               x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref=')))) AS kept,
             CAST(len(list_filter(params,
               x -> starts_with(x, 'utm_') OR starts_with(x, 'ref='))) AS INT)
               AS n_tracking
      FROM p
    )
    SELECT doc_id, host, n_tracking,
           'https://' || host || path ||
           CASE WHEN len(kept) > 0
                THEN '?' || array_to_string(kept, '&') ELSE '' END
             AS canonical_url
    FROM c
    """,
)
def ql_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization for crawl dedup keys: lowercase the host,
    strip a leading ``www.``, drop utm_*/ref tracking params, sort the
    survivors — the normalization every URL-level dedup and host-level
    grouping step needs before its keys mean anything. The fixture has
    no URL column, so URLs are derived deterministically from
    (source, doc_id) with the mess baked in (uppercase scheme + host,
    www prefix, three tracking params).

    Scale shape: pure per-row string work inside whole-stage codegen —
    ``parse_url`` (Spark's built-in URL parser, JVM-side) plus
    filter/sort over a split query string; no shuffle, no Python, and
    the canonical key feeds straight into a hash-partitioned dedup."""
    d = load(spark, sf, "documents").withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string"),
            F.lit("&utm_campaign=c"), (F.col("doc_id") % 3).cast("string"),
            F.lit("&ref=rss"),
        ),
    )
    rawhost = F.lower(F.parse_url("url", F.lit("HOST")))
    host = F.when(
        rawhost.startswith("www."), F.substring(rawhost, 5, 1 << 20)
    ).otherwise(rawhost)
    params = F.split(F.parse_url("url", F.lit("QUERY")), "&")
    is_track = lambda x: x.startswith("utm_") | x.startswith("ref=")  # noqa: E731
    kept = F.array_sort(F.filter(params, lambda x: ~is_track(x)))
    return d.select(
        "doc_id",
        host.alias("host"),
        F.size(F.filter(params, is_track)).alias("n_tracking"),
        F.concat(
            F.lit("https://"), host, F.parse_url("url", F.lit("PATH")),
            F.when(
                F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
            ).otherwise(""),
        ).alias("canonical_url"),
    )


# ------------------------------------------------------ line-level dedup

# the synthetic corpus has no newlines, so a "line" is a fixed window of
# 12 whitespace tokens (last line may be shorter) — the C4 rule itself
# (corpus-wide: keep only the FIRST occurrence of every distinct line)
# is what's under test, not the line splitter
_LINE_W = 12

_RAW_WS = "[ \t\n\r\f\x0B]+"


@register(
    "ql_line_dedup",
    f"""
    WITH t AS ({TWINNED_SQL}),
    w AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '{_RAW_WS}'), x -> x <> '') AS toks
      FROM t
    ),
    lines AS (
      SELECT doc_id, CAST(r.i AS BIGINT) AS line_no,
             array_to_string(toks[{_LINE_W}*r.i + 1 : {_LINE_W}*(r.i + 1)], ' ') AS line
      FROM w, unnest(range(0, CAST(ceil(len(toks) / {_LINE_W}.0) AS BIGINT))) r(i)
    ),
    ranked AS (
      SELECT doc_id, line_no, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
      FROM lines
    ),
    kept AS (
      SELECT doc_id,
             count(*) AS n_kept,
             string_agg(line, ' ' ORDER BY line_no) AS clean_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ),
    n AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT w.doc_id,
           coalesce(n.n_lines, 0) AS n_lines,
           coalesce(kept.n_kept, 0) AS n_kept,
           coalesce(kept.clean_text, '') AS clean_text
    FROM w
    LEFT JOIN n ON n.doc_id = w.doc_id
    LEFT JOIN kept ON kept.doc_id = w.doc_id
    """,
)
def ql_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-wide line dedup: across ALL documents, every
    distinct line survives only at its first occurrence (smallest
    (doc_id, line_no)); later copies are cut and each doc's text is
    reassembled from its surviving lines in order. Runs on the twinned
    corpus (twins repeat their original's first 40 words = 3+ full
    lines) so the rule demonstrably fires.

    Scale shape (de-skewed in round 4, VERDICT r3 item 3): the previous
    `row_number() OVER (PARTITION BY line)` sorted every copy of a line
    in ONE reducer — and line frequency on a real crawl is Zipfian, so
    one hot boilerplate line ("Home", a cookie banner) meant a single
    reducer sorting billions of rows; hashing never splits EQUAL keys,
    so the old "uniform after hashing" claim was wrong for identical
    lines. Since only the first occurrence survives, the survivor is
    fully determined by `groupBy(line).agg(min(struct(doc_id,
    line_no)))` — a MAP-SIDE-COMBINABLE partial min that collapses a
    hot line to one row per map task before the shuffle, so the reducer
    receives at most num_map_tasks rows per line no matter how hot it
    is, and no join-back is needed (the agg row IS the surviving line).
    Then one per-doc reassembly shuffle carrying only surviving lines.
    Guarded by test_line_dedup_has_no_window (zero Window operators in
    the plan). At 10^12 docs the group key becomes xxhash64 of the
    line, 8 bytes, same semantics."""
    t = twinned(spark, sf, load)
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    base = t.select("doc_id", toks.alias("toks"))
    nline = F.ceil(F.size("toks") / F.lit(float(_LINE_W))).cast("bigint")
    lines = (
        base.filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("bigint"), nline - 1),
                    lambda i: F.struct(
                        i.alias("line_no"),
                        F.array_join(
                            F.slice("toks", (i * _LINE_W + 1).cast("int"), _LINE_W),
                            " ",
                        ).alias("line"),
                    ),
                )
            ).alias("l"),
        )
        .select("doc_id", "l.line_no", "l.line")
    )
    # first occurrence per distinct line — partial-min combines map-side,
    # and the agg row carries everything the survivor needs (no join-back)
    firsts = (
        lines.groupBy("line")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("f"))
        .select(F.col("f.doc_id").alias("doc_id"), F.col("f.line_no").alias("line_no"), "line")
    )
    kept = (
        firsts.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    n = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return (
        base.select("doc_id")
        .join(n, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# --------------------------------------------------- near-dup retention

_KF_THRESHOLD = 0.5

_KF_PAIRS_SQL = f"""
    WITH t AS ({TWINNED_SQL}),
    w AS (SELECT doc_id, list_filter(string_split_regex(text, '{_RAW_WS}'), x -> x <> '') AS words FROM t),
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
    ),
    pairs AS (
      SELECT a, b
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_KF_THRESHOLD}
    )
"""


@register(
    "dedup_keep_first",
    f"""
    {_KF_PAIRS_SQL}
    SELECT t.doc_id,
           d.mn IS NULL AS keep,
           d.mn AS dup_of
    FROM (SELECT doc_id FROM ({TWINNED_SQL})) t
    LEFT JOIN (SELECT b, min(a) AS mn FROM pairs GROUP BY b) d
      ON d.b = t.doc_id
    """,
)
def dedup_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """The retention DECISION a dedup pipeline actually emits: per doc,
    keep iff no near-duplicate with a smaller id exists (exact Jaccard
    >= 0.5 over word 3-shingles on the twinned corpus); dropped docs
    carry ``dup_of`` = their smallest near-dup ancestor. Pair
    generation is the df-capped bucketed self-join (never all-pairs);
    the keep/drop label is one aggregation + one left join on top.
    Full transitive retention (keep one per component) is the
    composition with dedup_cluster_components — this operator is the
    cheap, single-pass policy production crawls default to."""
    t = twinned(spark, sf, load)
    sh = word_shingles(t, "doc_id", "text", k=3)
    pairs = jaccard_pairs(sh, "doc_id", threshold=_KF_THRESHOLD, max_df=MAX_SHINGLE_DF)
    anc = pairs.groupBy("b").agg(F.min("a").alias("dup_of"))
    return (
        t.select("doc_id")
        .join(anc, t["doc_id"] == anc["b"], "left")
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


# ----------------------------------------------- snapshot-incremental dedup


@register(
    "dedup_incremental",
    """
    WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents),
    seen_min AS (
      SELECT md5(text) AS h, min(doc_id) AS src_doc
      FROM documents GROUP BY md5(text)
    ),
    batch AS (
      SELECT doc_id + 2000000 AS new_id, text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS new_id, text || ' novelty-' || doc_id AS text
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT b.new_id,
           s.src_doc IS NOT NULL AS is_dup,
           s.src_doc
    FROM batch b LEFT JOIN seen_min s ON s.h = md5(b.text)
    """,
)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-over-snapshot dedup: a new crawl batch is checked
    against the already-ingested corpus by content hash; exact dups are
    flagged with their source doc. The new batch is planted from the
    fixture (verbatim copies of every doc_id%3==0 doc + novel variants
    of every %3==1 doc) so both outcomes occur.

    Scale shape: the seen side reduces to (hash, min_doc) — one
    map-side-combinable agg — and the probe is a hash-partitioned
    equi-join on uniform 128-bit keys; with a snapshot catalog this is
    an incremental-scan input (scan_iceberg_incremental) so only NEW
    files are ever hashed. The standard CC-dump-over-dump pattern."""
    d = load(spark, sf, "documents")
    seen = d.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("src_doc"))
    batch = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 2_000_000).alias("new_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 3_000_000).alias("new_id"),
                F.concat("text", F.lit(" novelty-"), F.col("doc_id").cast("string")).alias("text"),
            )
        )
    )
    return (
        batch.join(seen, F.md5(batch["text"]) == seen["h"], "left")
        .select(
            "new_id",
            F.col("src_doc").isNotNull().alias("is_dup"),
            "src_doc",
        )
    )


# ------------------------------------------------------- Bloom-filter probe

# m = 8192 bits, k = 3 universal hashes over x = 48-bit md5 prefix
# reduced mod p = 2^31 - 1 (the repo's engine-portable hash family:
# Spark conv(hex) == DuckDB CAST('0x…')); multipliers small enough that
# a*x + b stays far below 2^63
_BLOOM_M = 8192
_BLOOM_P = 2147483647
_BLOOM_AB = ((387473, 11), (557011, 227), (812017, 9419))

_BLOOM_X_DUCK = f"CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT) % {_BLOOM_P}"
_BLOOM_POS_DUCK = ", ".join(
    f"(({a} * x + {b}) % {_BLOOM_P}) % {_BLOOM_M} AS p{i}"
    for i, (a, b) in enumerate(_BLOOM_AB)
)


@register(
    "dedup_bloom",
    f"""
    WITH d0 AS (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents),
    x AS (SELECT doc_id, {_BLOOM_X_DUCK} AS x FROM d0),
    pos AS (SELECT doc_id, {_BLOOM_POS_DUCK} FROM x),
    bits AS (
      SELECT DISTINCT u.p FROM pos, unnest([p0, p1, p2]) u(p)
      WHERE doc_id % 2 = 0
    ),
    probe AS (
      SELECT pos.doc_id,
             (p0 IN (SELECT p FROM bits))
             AND (p1 IN (SELECT p FROM bits))
             AND (p2 IN (SELECT p FROM bits)) AS maybe_seen
      FROM pos
    ),
    seen AS (SELECT DISTINCT md5(text) AS h FROM d0 WHERE doc_id % 2 = 0)
    SELECT d.doc_id, probe.maybe_seen,
           md5(d.text) IN (SELECT h FROM seen) AS is_seen
    FROM d0 d JOIN probe ON probe.doc_id = d.doc_id
    """,
)
def dedup_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast Bloom-filter dedup probe: the even-id half of the
    corpus is the "seen" set; its content hashes set k=3 positions in
    an m=8192-bit filter, and EVERY doc is probed (all k positions
    present => maybe_seen). ``is_seen`` is the exact answer, so the
    output exhibits the filter's one-sided error: no false negatives,
    measurable false positives — both engines reproduce the identical
    bit pattern because the hash family is the repo's portable
    md5-prefix universal family.

    Scale shape: the filter is ~1KB no matter how big the seen corpus
    is — build = one distinct-positions agg, probe = broadcast semi-
    join against the bit set; nothing corpus-sized ever shuffles. At
    10^12 docs this is THE pre-filter in front of exact dedup (only
    maybe_seen docs proceed to the hash equi-join)."""
    d = load(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))  # NULL text == '' (kernel contract)
    )
    x = (
        F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("bigint")
        % _BLOOM_P
    )
    pos = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        *[
            (((F.lit(a) * x + b) % _BLOOM_P) % _BLOOM_M).alias(f"p{i}")
            for i, (a, b) in enumerate(_BLOOM_AB)
        ],
    )
    bits = (
        pos.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.array("p0", "p1", "p2")).alias("p"))
        .distinct()
    )
    # probe: a position NOT in the bit set disqualifies — left-anti on
    # the (tiny, broadcast) bit set finds misses, docs with zero misses
    # are maybe_seen
    probe_pos = pos.select(
        "doc_id", F.explode(F.array("p0", "p1", "p2")).alias("p")
    )
    misses = (
        probe_pos.join(F.broadcast(bits), "p", "left_anti")
        .select("doc_id")
        .distinct()
        .withColumn("miss", F.lit(True))
    )
    seen_h = (
        pos.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
        .withColumnRenamed("h", "sh")
    )
    return (
        pos.select("doc_id", "h")
        .join(misses, "doc_id", "left")
        .join(F.broadcast(seen_h), F.col("h") == F.col("sh"), "left")
        .select(
            "doc_id",
            F.col("miss").isNull().alias("maybe_seen"),
            F.col("sh").isNotNull().alias("is_seen"),
        )
    )


# ------------------------------------------------------ LM count training

# must stay in lock-step with kernels/lm.py (B2/B3 bucket sizes and the
# *31 rolling hash): this query TRAINS the same hashed char-trigram LM
# the perplexity scorer broadcasts, but as a distributed count agg
_LM_B2 = 4096
_LM_B3 = 65536


@register(
    "lm_train_ngrams",
    f"""
    WITH lb AS (
      SELECT list_transform(regexp_extract_all(hex(encode(lower(text))), '..'),
                            x -> CAST(('0x' || x) AS BIGINT)) AS bs
      FROM documents
    ),
    bb AS (
      SELECT * FROM (
        SELECT unnest(bs) AS b0,
               unnest(bs[2:] || [CAST(NULL AS BIGINT)]) AS b1,
               unnest(bs[3:] || [CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)]) AS b2
        FROM lb WHERE len(bs) >= 3
      ) WHERE b2 IS NOT NULL
    ),
    g AS (
      SELECT 2 AS kind, (b0 * 31 + b1) % {_LM_B2} AS h FROM bb
      UNION ALL
      SELECT 3 AS kind, ((b0 * 31 + b1) * 31 + b2) % {_LM_B3} AS h FROM bb
    )
    SELECT CAST(kind AS INT) AS kind, CAST(h AS BIGINT) AS h,
           count(*) AS cnt
    FROM g GROUP BY kind, h
    """,
)
def lm_train_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed LM training: the hashed char-trigram counts that
    kernels/lm.py's CharLM broadcasts are here COMPUTED BY SPARK — per
    doc, lowercased UTF-8 bytes roll into context (``kind=2``, 4096
    buckets) and trigram (``kind=3``, 65536 buckets) hashes, then one
    global count per (kind, bucket). The output IS the model artifact
    (CCNet trains its KenLM the same way: a counting pass over the
    corpus, then a tiny model file everyone broadcasts).

    Scale shape: per-row byte expansion stays in whole-stage codegen
    (hex + transform over a sequence — no Python), and the count is a
    map-side-combinable groupBy whose key space is BOUNDED (70k
    buckets) no matter the corpus size — partials collapse to ~70k
    rows per task before the (trivial) shuffle. This is the textbook
    10^12-doc aggregation: constant-size shuffle, linear scan."""
    d = load(spark, sf, "documents")
    hx = F.hex(F.encode(F.lower("text"), "UTF-8"))
    bs = F.transform(
        F.sequence(F.lit(1), (F.length(hx) / 2).cast("int")),
        lambda i: F.conv(hx.substr(i * 2 - 1, F.lit(2)), 16, 10).cast("bigint"),
    )
    b = d.select(bs.alias("bs")).filter(F.size("bs") >= 3)
    idx = F.sequence(F.lit(1), F.size("bs") - 2)
    at = lambda i: F.element_at("bs", i)  # noqa: E731
    h2 = F.transform(idx, lambda i: (at(i) * 31 + at(i + 1)) % _LM_B2)
    h3 = F.transform(
        idx, lambda i: ((at(i) * 31 + at(i + 1)) * 31 + at(i + 2)) % _LM_B3
    )
    grams = b.select(
        F.explode(
            F.concat(
                F.transform(h2, lambda h: F.struct(F.lit(2).alias("kind"), h.alias("h"))),
                F.transform(h3, lambda h: F.struct(F.lit(3).alias("kind"), h.alias("h"))),
            )
        ).alias("g")
    )
    return (
        grams.select("g.kind", "g.h")
        .groupBy("kind", "h")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------- SemDeDup (embedding dedup)

_SEM_ROT = 8   # rotations (bucket tables)
_SEM_BITS = 6  # sign bits per rotation
_SEM_COS = 0.95


# mega-bucket cap: a (rot, bucket) group larger than this is excluded
# from candidate generation on BOTH engines (SemDeDup's standard guard
# for degenerate encoder regions; never binds on the gaussian fixture,
# proven to bind by the planted-mega-cluster test)
_SEM_BUCKET_CAP = 256


def _sem_planes() -> "np.ndarray":
    # independent draw from the ANN planes (seed 11): dedup must not
    # silently share bucket structure with sim_lsh_bucketed's fixtures
    return np.random.RandomState(11).randn(_SEM_ROT, _SEM_BITS, 64)


def _sql_list(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _sem_oracle() -> str:
    P = _sem_planes()
    rows = ", ".join(
        f"({r}, {b}, {_sql_list(P[r, b])})"
        for r in range(_SEM_ROT)
        for b in range(_SEM_BITS)
    )
    return f"""
    WITH planes(rot, bit, pv) AS (VALUES {rows}),
    tw AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM tw
    ),
    dots AS (
      SELECT e.vec_id, p.rot, p.bit, list_inner_product(e.emb, p.pv) AS d
      FROM e CROSS JOIN planes p
    ),
    buckets AS (
      SELECT vec_id, rot,
             sum(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS bucket
      FROM dots GROUP BY vec_id, rot
    ),
    okb AS (
      SELECT rot, bucket FROM buckets
      GROUP BY rot, bucket HAVING count(*) <= {_SEM_BUCKET_CAP}
    ),
    capped AS (
      SELECT b.vec_id, b.rot, b.bucket
      FROM buckets b JOIN okb USING (rot, bucket)
    ),
    cands AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM capped x JOIN capped y
        ON x.rot = y.rot AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    dup AS (
      SELECT c.b, min(c.a) AS canon
      FROM cands c
      JOIN tw ta ON ta.vec_id = c.a
      JOIN tw tb ON tb.vec_id = c.b
      WHERE list_inner_product(ta.embedding, ta.embedding) > 0
        AND list_inner_product(tb.embedding, tb.embedding) > 0
        AND round(list_cosine_similarity(ta.embedding, tb.embedding), 6)
              >= {_SEM_COS}
      GROUP BY c.b
    )
    SELECT tw.vec_id,
           dup.canon IS NULL AS keep,
           coalesce(dup.canon, tw.vec_id) AS canonical_id
    FROM tw LEFT JOIN dup ON dup.b = tw.vec_id
    """


@register("emb_semantic_dedup", _sem_oracle())
def emb_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style embedding near-dup removal: vectors land in
    6-bit hyperplane sign buckets over 8 rotations; bucket collisions
    are the ONLY candidate pairs; candidates with exact cosine >= 0.95
    mark the larger id as a duplicate of the smallest such neighbor.
    Planted twins (every 10th vector re-scaled 1.25x, +1M ids) collide
    with their originals in every rotation and score cosine 1.0, so
    the drop path demonstrably fires.

    Scale shape: bucketize = one Arrow-vectorized batch pass (48 dot
    products per vector, no per-row Python); candidates come from
    equi-joins on (rot, bucket) — never all-pairs — and only
    candidates pay the exact-cosine re-rank; retention is a min-agg +
    left join. A mega-bucket (e.g. the zero-ish region of a collapsed
    encoder) would make one (rot, bucket) group quadratic in the
    self-join, so buckets larger than _SEM_BUCKET_CAP are excluded
    from candidate generation on BOTH engines (groupBy + semi-join —
    the de-skewed count shape, not a window); the cap never binds on
    the gaussian fixture and is exercised by a planted mega-cluster
    test."""
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    tw = e.unionByName(
        e.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.25)).cast("float")
            ).alias("embedding"),
        )
    )
    bc = cached_broadcast(spark, "semdedup_planes", _sem_planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            rows = {"vec_id": pdf["vec_id"]}
            for r in range(P.shape[0]):
                signs = (V @ P[r].T) > 0
                rows[f"b{r}"] = (signs @ (1 << np.arange(_SEM_BITS))).astype("int64")
            yield pd.DataFrame(rows)

    schema = "vec_id bigint, " + ", ".join(f"b{r} bigint" for r in range(_SEM_ROT))
    buckets = (
        tw.mapInPandas(bucketize, schema=schema)
        .select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(F.lit(r).alias("rot"), F.col(f"b{r}").alias("bucket"))
                    for r in range(_SEM_ROT)
                ])
            ).alias("rb"),
        )
        .select("vec_id", "rb.rot", "rb.bucket")
    )
    # mega-bucket cap (groupBy + semi-join, never a window over the
    # bucket key): a degenerate encoder region would otherwise make one
    # (rot, bucket) group quadratic in the self-join below
    okb = (
        buckets.groupBy("rot", "bucket")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= _SEM_BUCKET_CAP)
        .select("rot", "bucket")
    )
    buckets = buckets.join(okb, ["rot", "bucket"], "left_semi")
    left = buckets.select(
        "rot", "bucket", F.col("vec_id").alias("a")
    )
    right = buckets.select(
        "rot", "bucket", F.col("vec_id").alias("b")
    )
    cands = (
        left.join(right, ["rot", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ea = tw.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    eb = tw.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    dup = (
        cands.join(ea, "a")
        .join(eb, "b")
        .filter(
            F.round(cosine_expr(F.col("va"), F.col("vb")), 6) >= _SEM_COS
        )
        .groupBy("b")
        .agg(F.min("a").alias("canon"))
    )
    return (
        tw.select("vec_id")
        .join(dup, tw["vec_id"] == dup["b"], "left")
        .select(
            "vec_id",
            F.col("canon").isNull().alias("keep"),
            F.coalesce("canon", "vec_id").alias("canonical_id"),
        )
    )


# --------------------------------------------------- domain blocklist

# UT1-style blocklist with SUFFIX semantics: an entry blocks the exact
# host and every subdomain of it. Entries at four depths so the
# dot-boundary matching (not substring matching!) is what's under test:
# "example.net" must block "blog.src5.example.net" but an entry
# "le.com" must never block "example.com".
_BL_ENTRIES = (
    "example.net",
    "ads.src1.example.com",
    "media.src2.example.org",
    "src3.example.com",
)

# fixture has no URL column -> derive hosts at four subdomain depths
_HOST_SQL = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN 'ads.' || source || '.example.com' "
    "WHEN 1 THEN 'cdn.media.' || source || '.example.org' "
    "WHEN 2 THEN source || '.example.com' "
    "ELSE 'blog.' || source || '.example.net' END"
)


@register(
    "ql_domain_blocklist",
    f"""
    WITH h AS (SELECT doc_id, {_HOST_SQL} AS host FROM documents),
    s AS (
      SELECT doc_id, host,
             list_filter(
               list_transform(range(1, len(string_split(host, '.')) + 1),
                 i -> array_to_string(string_split(host, '.')[CAST(i AS BIGINT):], '.')),
               x -> list_contains({list(_BL_ENTRIES)!r}, x)) AS matches
      FROM h
    )
    SELECT doc_id, host,
           len(matches) > 0 AS blocked,
           coalesce(matches[1], '') AS matched_suffix
    FROM s
    """,
)
def ql_domain_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Host blocklist filtering with suffix semantics (the UT1/adult-
    list gate every crawl pipeline runs first): an entry blocks the
    exact host and all its subdomains, matched only at dot boundaries.
    Emits the decision and the MOST SPECIFIC (longest) matching entry
    per host, so lineage metrics can say which list entry killed a page.

    Scale shape: the real-world list (~4M hosts) is a broadcast lookup;
    here it rides the plan as an array literal — per row we enumerate
    the host's O(depth<=5) dot-suffixes and probe the list, so the
    corpus NEVER shuffles and the gate composes with predicate pushdown
    (a `WHERE NOT blocked` on top of this prunes at the scan). At 4M
    entries the identical semantics run as suffix-explode + broadcast
    hash join against the entry set; the per-row form here avoids even
    that map-side hash probe for small lists."""
    d = load(spark, sf, "documents")
    host = F.expr(_HOST_SQL)
    parts = F.split(host, "\\.")
    sufs = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
    )
    matches = F.filter(sufs, lambda s: s.isin(*_BL_ENTRIES))
    return d.select(
        "doc_id",
        host.alias("host"),
        (F.size(matches) > 0).alias("blocked"),
        F.coalesce(F.get(matches, 0), F.lit("")).alias("matched_suffix"),
    )


# --------------------------------------------------- duplicated spans

# hashed fixed-width token windows (W=8, stride 4): the distributable
# approximation of ExactSubstr dedup (Lee et al. 2022 use a suffix
# array, which is single-machine). Recall caveat (ADVICE r3): a
# duplicated run of >= W + S - 1 tokens is guaranteed to contain a
# window match ONLY when the two copies' run offsets agree mod S
# (whole-doc copies, same-offset template reuse); phase-misaligned
# copies can be missed at any run length because the stride-aligned
# window positions fall in disjoint residue classes. Don't size W/S
# off an unconditional-recall assumption — S=1 (full overlap) is the
# only stride with one.
_SPAN_W = 8
_SPAN_STRIDE = 4


@register(
    "dedup_substring_spans",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '{_RAW_WS}'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= {_SPAN_W}
                  THEN range(0, len(toks) - {_SPAN_W} + 1, {_SPAN_STRIDE})
                  ELSE [] END AS offs
      FROM t
    ),
    sp AS (
      SELECT doc_id,
             md5(array_to_string(toks[o.o + 1 : o.o + {_SPAN_W}], chr(31))) AS h
      FROM w LEFT JOIN LATERAL unnest(offs) o(o) ON true
    ),
    c AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS c FROM sp)
    SELECT doc_id,
           count(h) AS n_spans,
           CAST(sum(CASE WHEN h IS NOT NULL AND c > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_spans,
           CAST((1000 * sum(CASE WHEN h IS NOT NULL AND c > 1 THEN 1 ELSE 0 END))
                // greatest(count(h), 1) AS INT) AS dup_permille
    FROM c GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span detection: hash every aligned
    8-token window (stride 4) and flag windows whose exact hash occurs
    anywhere else in the corpus — the distributable stand-in for
    ExactSubstr dedup (the suffix-array formulation is single-machine).
    Per doc: total windows, duplicated windows, and dup_permille, the
    integer-exact duplication ratio a curation gate thresholds on.

    Scale shape (de-skewed in round 4, VERDICT r3 item 4): stride caps
    the explode factor at n_tokens/4 rows per doc; the only shuffles
    are ONE exchange on the uniform 128-bit window hash (window
    count(*) instead of groupBy + join-back — one exchange, not three),
    the per-doc rollup, and a join back to the doc list to restore
    span-less docs. Span hashes are uniform by construction, but the
    previous shape fed docs shorter than W tokens through
    `explode_outer` as NULL hashes — at crawl scale (billions of short
    docs: stubs, redirects, soft-404s) that made the NULL window
    partition a single-reducer giant. Now short docs produce NO span
    rows at all (plain explode over an empty offset array) and re-enter
    only at the per-doc rollup via a left join on the unique doc_id,
    contributing n_spans = 0 by construction — so every row that
    reaches the window carries a real uniform hash. Guarded by
    test_substring_spans_no_null_window. At 10^12 docs the hash becomes
    xxhash64 (8 bytes) and the span stream is exactly the MinHash
    explode shape the cluster already handles; no driver state."""
    d = load(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower("text"), "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != ""
    )
    base = d.select("doc_id", toks.alias("toks"))
    offs = F.when(
        F.size("toks") >= _SPAN_W,
        F.sequence(
            F.lit(0), F.size("toks") - _SPAN_W, F.lit(_SPAN_STRIDE)
        ),
    ).otherwise(F.array().cast("array<int>"))
    # plain explode: docs under _SPAN_W tokens emit ZERO span rows (the
    # offset array is empty) instead of one NULL-hash row — no NULL key
    # ever reaches the window partitioning
    spans = base.select(
        "doc_id",
        F.explode(offs).alias("o"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws("\x1f", F.slice("toks", F.col("o") + 1, _SPAN_W))
        ).alias("h"),
    )
    c = spans.withColumn(
        "c", F.count("*").over(Window.partitionBy("h"))
    )
    per_doc = c.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_spans"),
    )
    # restore span-less (short) docs with zero counts; doc_id is unique,
    # so this is a 1:1 equi-join, not a fan-out
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
        # integer DIV on both engines (a double `/` + CAST truncates the
        # FP approximation and can land one below the exact quotient)
        .withColumn(
            "dup_permille",
            F.expr(
                "CAST((1000 * n_dup_spans) DIV greatest(n_spans, 1) AS INT)"
            ),
        )
    )


# ------------------------------------------------------ per-host cap

# keep at most K docs per host, best-first — the RefinedWeb-style guard
# against a single template farm dominating the corpus
HOST_CAP_K = 5
_HOST_SALTS = 16  # phase-1 salt fan-out for mega-hosts

# the fixture has no host column, so derive one SKEWED on purpose:
# 75% of docs land on one hub host (the mega-host a real crawl always
# has), the rest spread across per-source hosts
_CAP_HOST_SQL = (
    "CASE WHEN doc_id % 4 < 3 THEN 'hub.example.com' "
    "ELSE lower(source) || '.example.com' END"
)


@register(
    "ql_host_cap",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars, {_CAP_HOST_SQL} AS host FROM documents
    ),
    r AS (
      SELECT host, doc_id, n_chars,
             row_number() OVER (PARTITION BY host
                                ORDER BY n_chars DESC, doc_id) AS host_rank
      FROM d
    )
    SELECT host, doc_id, n_chars, CAST(host_rank AS INT) AS host_rank
    FROM r WHERE host_rank <= {HOST_CAP_K}
    """,
)
def ql_host_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host document cap: keep at most K=HOST_CAP_K docs per host,
    ranked best-first (n_chars DESC as the quality stand-in, doc_id as
    the deterministic tie-break). Host-level caps are how web curation
    stops one template farm / mirror host from dominating a trillion-doc
    corpus; the host key is the classic SKEWED key (the planted fixture
    puts 75% of docs on one hub host).

    Scale shape: a naive `row_number() OVER (PARTITION BY host)` sorts
    the whole mega-host in ONE reducer partition. Instead, two salted
    stages: stage 1 ranks within (host, salt=doc_id%16) — the mega-host
    splits into 16 spill-safe external sorts — and keeps only K rows per
    salted group; stage 2 re-ranks the <= 16*K survivors per host, a
    bounded group no matter how hot the host. Same rows as the single
    window (any global top-K survives every salted cut), which is what
    the DuckDB single-window oracle checks."""
    d = load(spark, sf, "documents").select(
        F.expr(_CAP_HOST_SQL).alias("host"), "doc_id", "n_chars"
    )
    w1 = Window.partitionBy("host", "salt").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    s1 = (
        d.withColumn("salt", F.col("doc_id") % _HOST_SALTS)
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= HOST_CAP_K)
    )
    w2 = Window.partitionBy("host").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        s1.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= HOST_CAP_K)
        .select("host", "doc_id", "n_chars", "host_rank")
    )

# ----------------------------------- snapshot-incremental NEAR-dup dedup

# same portable MinHash family as dedup_minhash_lsh (md5 base hash ->
# affine perms mod p, md5 band keys) so the persisted index is
# recomputable by the DuckDB oracle bit-for-bit
from ._minhash import MH_P as _IMH_P  # noqa: E402
from ._minhash import MINHASH_TOK as _IMH_TOK  # noqa: E402
from ._minhash import mh_constants as _imh_constants  # noqa: E402

_IMH_NPERM = 32
_IMH_BANDS = 16
_IMH_ROWS = _IMH_NPERM // _IMH_BANDS
_IMH_THRESHOLD = 0.5

# the planted "next crawl snapshot": verbatim copies (j=1), 40-word
# truncations (near-dup for docs under ~80 words, novel above), and
# genuinely new pages (reversed word order behind a fresh prefix — same
# vocabulary, disjoint 3-shingles)
_IMH_BATCH_SPARK = f"""
      SELECT doc_id + 2000000 AS new_id, text FROM docs_v WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS new_id,
             array_join(slice(filter(split(text, '{_IMH_TOK}'), x -> x != ''), 1, 40), ' ') AS text
      FROM docs_v WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id + 4000000 AS new_id,
             concat('fresh page ', CAST(doc_id AS STRING), ' ',
                    array_join(reverse(filter(split(text, '{_IMH_TOK}'), x -> x != '')), ' ')) AS text
      FROM docs_v WHERE doc_id % 3 = 2
"""

_IMH_BATCH_DUCK = """
      SELECT doc_id + 2000000 AS new_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS new_id,
             array_to_string(list_slice(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> ''), 1, 40), ' ') AS text
      FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id + 4000000 AS new_id,
             'fresh page ' || CAST(doc_id AS VARCHAR) || ' ' ||
             array_to_string(list_reverse(list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '')), ' ') AS text
      FROM documents WHERE doc_id % 3 = 2
"""


def _imh_spark_shingles(src: str, idc: str) -> str:
    """Spark-dialect CTE chain: (idc, text) in relation ``src`` ->
    toks_{idc} / sh_{idc} (distinct word 3-shingles). Same expression
    shapes as _minhash_sql (inline explode, CASE size guard)."""
    return f"""
    toks_{idc} AS (
      SELECT {idc}, filter(split(text, '{_IMH_TOK}'), x -> x != '') AS t FROM {src}
    ),
    sh_{idc} AS (
      SELECT {idc},
             explode(CASE WHEN size(t) >= 3 THEN
                 array_distinct(transform(sequence(1, size(t) - 2),
                   i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
               ELSE array() END) AS shingle
      FROM toks_{idc}
    )"""


def _imh_spark_bands(idc: str) -> str:
    """Spark-dialect CTE chain from sh_{idc} to banded_{idc}:
    (idc, band, bh) LSH band keys of the MinHash signature."""
    min_cols = ", ".join(
        f"min(({a} * x + {b}) % {_IMH_P}) AS m{i}"
        for i, (a, b) in enumerate(_imh_constants(_IMH_NPERM))
    )
    band_structs = ", ".join(
        "named_struct('band', {bi}, 'bh', md5(concat_ws(',', {parts})))".format(
            bi=bi,
            parts=", ".join(
                f"m{bi * _IMH_ROWS + j}" for j in range(_IMH_ROWS)
            ),
        )
        for bi in range(_IMH_BANDS)
    )
    return f"""
    hashed_{idc} AS (
      SELECT {idc},
             cast(conv(substring(md5(shingle), 1, 12), 16, 10) AS bigint) % {_IMH_P} AS x
      FROM sh_{idc}
    ),
    sigs_{idc} AS (SELECT {idc}, {min_cols} FROM hashed_{idc} GROUP BY {idc}),
    banded_{idc} AS (
      SELECT {idc}, bb.band AS band, bb.bh AS bh
      FROM sigs_{idc} LATERAL VIEW explode(array({band_structs})) t AS bb
    )"""


def _imh_duck_shingles(src: str, idc: str) -> str:
    return f"""
    toks_{idc} AS (
      SELECT {idc}, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words
      FROM {src}
    ),
    sh_{idc} AS (
      SELECT DISTINCT {idc}, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM toks_{idc}, UNNEST(range(1, greatest(len(words) - 1, 1))) AS r(i)
    )"""


def _imh_duck_bands(idc: str) -> str:
    min_cols = ", ".join(
        f"min(({a} * x + {b}) % {_IMH_P}) AS m{i}"
        for i, (a, b) in enumerate(_imh_constants(_IMH_NPERM))
    )
    band_rows = " UNION ALL ".join(
        "SELECT {idc}, {bi} AS band, md5(concat_ws(',', {parts})) AS bh FROM sigs_{idc}".format(
            idc=idc,
            bi=bi,
            parts=", ".join(
                f"CAST(m{bi * _IMH_ROWS + j} AS VARCHAR)" for j in range(_IMH_ROWS)
            ),
        )
        for bi in range(_IMH_BANDS)
    )
    return f"""
    hashed_{idc} AS (
      SELECT {idc},
             CAST(('0x' || substring(md5(shingle), 1, 12)) AS BIGINT) % {_IMH_P} AS x
      FROM sh_{idc}
    ),
    sigs_{idc} AS (SELECT {idc}, {min_cols} FROM hashed_{idc} GROUP BY {idc}),
    banded_{idc} AS ({band_rows})"""


def _imh_oracle() -> str:
    """End-to-end DuckDB recomputation: seen-corpus band index, batch
    band keys, band-collision candidates, candidates-only exact Jaccard
    >= threshold, per-batch-doc min source. The catalog persistence on
    the Spark side is byte-invisible here by design — a persisted index
    that changes the answer would be a broken index."""
    return f"""
    WITH batch AS ({_IMH_BATCH_DUCK}),
    {_imh_duck_shingles("documents", "doc_id").lstrip()},
    {_imh_duck_bands("doc_id").lstrip()},
    {_imh_duck_shingles("batch", "new_id").lstrip()},
    {_imh_duck_bands("new_id").lstrip()},
    cands AS (
      SELECT DISTINCT s.doc_id, b.new_id
      FROM banded_doc_id s JOIN banded_new_id b
        ON s.band = b.band AND s.bh = b.bh
    ),
    sz_seen AS (SELECT doc_id, count(*) AS sz FROM sh_doc_id GROUP BY doc_id),
    sz_batch AS (SELECT new_id, count(*) AS sz FROM sh_new_id GROUP BY new_id),
    inter AS (
      SELECT c.doc_id, c.new_id, count(*) AS inter
      FROM cands c
      JOIN sh_doc_id s ON s.doc_id = c.doc_id
      JOIN sh_new_id b ON b.new_id = c.new_id AND b.shingle = s.shingle
      GROUP BY c.doc_id, c.new_id
    ),
    ver AS (
      SELECT i.new_id, i.doc_id
      FROM inter i
      JOIN sz_seen ss ON ss.doc_id = i.doc_id
      JOIN sz_batch sb ON sb.new_id = i.new_id
      WHERE CAST(i.inter AS DOUBLE) / (ss.sz + sb.sz - i.inter) >= {_IMH_THRESHOLD}
    )
    SELECT b.new_id,
           m.src IS NOT NULL AS is_dup,
           m.src AS src_doc
    FROM batch b
    LEFT JOIN (SELECT new_id, min(doc_id) AS src FROM ver GROUP BY new_id) m
      ON m.new_id = b.new_id
    """


@register("dedup_incremental_minhash", _imh_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-over-snapshot NEAR-dup dedup (VERDICT r3 task 6 — the
    op every recurring-crawl user hits on day 2): the seen corpus's
    MinHash LSH band keys are PERSISTED in a SnapshotCatalog table
    (built across two append snapshots, the way a real index accretes
    per crawl), and each new batch is probed against the persisted
    index by band equi-join; only band-colliding candidates pay the
    exact-Jaccard verify against the seen docs.

    Scale shape: index build is one pass over new data per snapshot
    (shingle -> 32 affine perms of one md5 -> 16 band keys, all
    map-side-combinable minima); the probe never touches seen TEXT
    except for the candidate slice (a broadcast semi-join on the
    candidate ids, plan-guarded in tests/test_plan_quality.py);
    batch-vs-index is a hash equi-join on
    uniform 128-bit band keys — no window, no all-pairs, no skew key.
    At 10^12 seen docs the index is ~16 rows/doc of fixed width, laid
    out partitioned by band — exactly the build-once/probe-per-batch
    artifact dedup_incremental's exact-hash path cannot provide for
    near-dups. Output mirrors dedup_incremental: (new_id, is_dup,
    src_doc = smallest verified seen near-dup)."""
    from ..catalog import SnapshotCatalog
    from ._scratch import scratch_dir

    load(spark, sf, "documents").createOrReplaceTempView("docs_v")

    seen_bands = spark.sql(f"""
    WITH {_imh_spark_shingles("docs_v", "doc_id").lstrip()},
    {_imh_spark_bands("doc_id").lstrip()}
    SELECT doc_id, band, bh FROM banded_doc_id
    """)

    # persist the index across TWO snapshots (even/odd doc_id) — the
    # accrete-per-crawl shape — then rewrite-to-spec: compact into the
    # Iceberg bucket(8, band, bh) layout, so the probe's equi-join reads
    # a BUCKETED index through the catalog and plans no index-side
    # Exchange even when the batch is too large to broadcast (the
    # maintenance loop a 10^12-doc index runs; layout cannot change
    # answers — the DuckDB oracle recomputes with no index at all)
    cat = SnapshotCatalog(scratch_dir("imh_index_"))
    cat.append(seen_bands.where(F.col("doc_id") % 2 == 0))
    cat.append(seen_bands.where(F.col("doc_id") % 2 == 1))
    cat.compact(spark, bucket_by=(8, ["band", "bh"]))
    index = cat.read(spark)

    batch_bands = spark.sql(f"""
    WITH batch AS ({_IMH_BATCH_SPARK}),
    {_imh_spark_shingles("batch", "new_id").lstrip()},
    {_imh_spark_bands("new_id").lstrip()}
    SELECT new_id, band, bh FROM banded_new_id
    """)

    cands = (
        index.join(batch_bands, ["band", "bh"])
        .select("doc_id", "new_id")
        .distinct()
    )
    cands.createOrReplaceTempView("imh_cands_v")

    return spark.sql(f"""
    WITH batch AS ({_IMH_BATCH_SPARK}),
    cand_docs AS (
      -- BROADCAST the candidate-id set: a shuffle semi-join here would
      -- move the whole seen corpus (measured before the hint: this
      -- join's twin was ~70% of probe shuffle and grew linearly with
      -- seen size; BENCH/BASELINE.md, Retired demo records);
      -- candidates are band-collision-bounded
      SELECT /*+ BROADCAST(c) */ d.doc_id, d.text FROM docs_v d
      LEFT SEMI JOIN imh_cands_v c ON c.doc_id = d.doc_id
    ),
    {_imh_spark_shingles("cand_docs", "doc_id").lstrip()},
    {_imh_spark_shingles("batch", "new_id").lstrip()},
    sz_seen AS (SELECT doc_id, count(*) AS sz FROM sh_doc_id GROUP BY doc_id),
    sz_batch AS (SELECT new_id, count(*) AS sz FROM sh_new_id GROUP BY new_id),
    inter AS (
      SELECT c.doc_id, c.new_id, count(*) AS inter
      FROM imh_cands_v c
      JOIN sh_doc_id s ON s.doc_id = c.doc_id
      JOIN sh_new_id b ON b.new_id = c.new_id AND b.shingle = s.shingle
      GROUP BY c.doc_id, c.new_id
    ),
    ver AS (
      SELECT i.new_id, i.doc_id
      FROM inter i
      JOIN sz_seen ss ON ss.doc_id = i.doc_id
      JOIN sz_batch sb ON sb.new_id = i.new_id
      WHERE CAST(i.inter AS DOUBLE) / (ss.sz + sb.sz - i.inter) >= {_IMH_THRESHOLD}
    )
    SELECT b.new_id,
           m.src IS NOT NULL AS is_dup,
           m.src AS src_doc
    FROM batch b
    LEFT JOIN (SELECT new_id, min(doc_id) AS src FROM ver GROUP BY new_id) m
      ON m.new_id = b.new_id
    """)

# --------------------------------------------- URL-level capture dedup

# canonical-URL collision fixture: doc_id % 23 folds repeat captures
# onto each (source, slot) canonical URL — 23 is coprime to the
# fixture's source cycle, so collisions appear from ~460 docs up
# (including the 500-doc contract scale); capture
# order comes from a deterministic Weyl-style sequence (no rand(): task
# retries and both engines reproduce it exactly)
_UKL_SLOTS = 23
_UKL_SEQ = f"(doc_id * 2654435761) % 1000003"
# pack (seq, doc_id) into ONE BIGINT so arg-max is a plain max():
# seq < 2^20 and doc_id < 2^32 here, so seq * 2^32 + doc_id < 2^52
_UKL_PACK = f"({_UKL_SEQ}) * 4294967296 + doc_id"


@register(
    "dedup_url_keep_latest",
    f"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/p/' || CAST(doc_id % {_UKL_SLOTS} AS VARCHAR) AS canonical_url,
             {_UKL_SEQ} AS warc_seq,
             {_UKL_PACK} AS wkey
      FROM documents
    ),
    w AS (SELECT canonical_url, max(wkey) AS mw FROM u GROUP BY canonical_url)
    SELECT u.doc_id, u.canonical_url, u.warc_seq,
           u.wkey = w.mw AS keep,
           CASE WHEN u.wkey <> w.mw THEN w.mw % 4294967296 END AS superseded_by
    FROM u JOIN w ON w.canonical_url = u.canonical_url
    """,
)
def dedup_url_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    """URL-level capture dedup, the step a Common-Crawl-style store runs
    BEFORE any content dedup: a crawl re-fetches the same canonical URL
    across snapshots, and only the LATEST capture should survive (ties
    on capture time keep the larger doc_id). The fixture folds ~10 docs
    onto each canonical URL with a deterministic capture sequence so
    the rule demonstrably fires.

    Scale shape: arg-max per URL is packed into ONE BIGINT
    (seq * 2^32 + doc_id) so the winner is a plain map-side-combinable
    max() + an equi-join back — no window over the URL key (URL capture
    counts on real crawls are Zipfian: one hot URL re-crawled hourly
    would otherwise be a single-reducer sort, the exact trap
    ql_line_dedup had before its round-4 de-skew). Composes with
    ql_url_canonicalize, which produces the canonical key this op
    groups on."""
    u = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            (F.col("doc_id") % _UKL_SLOTS).cast("string"),
        ).alias("canonical_url"),
        F.expr(_UKL_SEQ).alias("warc_seq"),
        F.expr(_UKL_PACK).alias("wkey"),
    )
    w = u.groupBy("canonical_url").agg(F.max("wkey").alias("mw"))
    return u.join(w, "canonical_url").select(
        "doc_id",
        "canonical_url",
        "warc_seq",
        (F.col("wkey") == F.col("mw")).alias("keep"),
        F.when(F.col("wkey") != F.col("mw"), F.col("mw") % 4294967296).alias(
            "superseded_by"
        ),
    )

