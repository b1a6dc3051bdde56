"""Quality-stage queries over the driver fixture tables (SURVEY.md §2.2).

The pages-corpus pipeline itself is verified by the L2 oracle-parity tests
(tests/test_quality_parity.py); these registrations give the DRIVER a
per-operator checkable surface on the ten fixture tables:

Every registration here is SQL-oracled: the per-signal queries
(ql_gopher_rules, ql_keep_drop, ql_repetition, ql_extract_text,
ql_pii_scrub, ql_toxicity_scrub, ql_dedup_exact, ql_metrics_rollup)
recompute their rule in DuckDB directly; ql_langid / ql_perplexity
recompute NB argmax / LM log-likelihood from trained weights inlined as
VALUES; and ql_pipeline_full (round 3) chains ALL of it — structural
cascade, langid, perplexity, pattern counts, the ordered PII regex
chain, and toxicity span-merge — into one recomputing SQL program over
the inlined extracted pages corpus (no frozen registration-time
constants remain).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..kernels import rules
from ..operators.quality import with_structural_signals
from ..queries import cached_broadcast, load, register

# ---------------------------------------------------------------- SQL spec
# DuckDB expressions implementing the same rules.py signal spec for the
# single-line, single-space documents.text fixture.

_WORDS = "list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), w -> w <> '')"
_NW = f"greatest(len({_WORDS}), 1)"
_MEAN_WL = (
    # coalesce: list_aggregate('sum') of an EMPTY list is NULL in DuckDB,
    # but the kernel computes 0.0 for a zero-word doc
    f"coalesce(CAST(list_aggregate(list_transform({_WORDS}, w -> length(w)), 'sum') AS DOUBLE), 0.0)"
    f" / {_NW}"
)
_ALPHA = (
    f"CAST(len(list_filter({_WORDS}, "
    "w -> regexp_matches(w, '[a-zA-Z\\x{00c0}-\\x{024f}\\x{4e00}-\\x{9fff}]')"
    f")) AS DOUBLE) / {_NW}"
)
_STOPLIST = "[" + ", ".join(f"'{w}'" for w in sorted(rules.STOPWORD_SET)) + "]"
_STOPS = f"len(list_filter({_WORDS}, w -> list_contains({_STOPLIST}, lower(w))))"

_GOPHER_KEEP = (
    f"(len({_WORDS}) BETWEEN {rules.MIN_WORDS} AND {rules.MAX_WORDS}"
    f" AND {_MEAN_WL} BETWEEN {rules.MIN_MEAN_WORD_LEN} AND {rules.MAX_MEAN_WORD_LEN}"
    f" AND {_ALPHA} >= {rules.MIN_ALPHA_WORD_FRAC}"
    f" AND {_STOPS} >= {rules.MIN_STOPWORDS})"
)


# NULL text == '' on BOTH engines (the kernel contract): oracles whose
# Spark twin coalesces NULL text read documents through this wrapper —
# bare `FROM documents` would NULL-propagate (least(NULL,1)=1, vanished
# unnest rows, NULL || concat) and diverge on any corpus with NULL text
_DOCS_COALESCED = (
    "(SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) "
    "documents"
)


def _signals(spark: SparkSession, sf: str) -> DataFrame:
    return with_structural_signals(load(spark, sf, "documents"))


@register(
    "ql_gopher_rules",
    f"""
    SELECT doc_id,
           CAST(len({_WORDS}) AS BIGINT) AS n_words,
           round({_MEAN_WL}, 6) AS mean_word_len,
           round({_ALPHA}, 6) AS alpha_frac,
           CAST({_STOPS} AS BIGINT) AS n_stopwords,
           {_GOPHER_KEEP} AS gopher_keep
    FROM {_DOCS_COALESCED}
    """,
)
def ql_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher heuristics over the structural-signal columns — SURVEY.md §2.2."""
    r = rules
    return _signals(spark, sf).select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_frac", 6).alias("alpha_frac"),
        "n_stopwords",
        (
            F.col("n_words").between(r.MIN_WORDS, r.MAX_WORDS)
            & F.col("mean_word_len").between(r.MIN_MEAN_WORD_LEN, r.MAX_MEAN_WORD_LEN)
            & (F.col("alpha_frac") >= r.MIN_ALPHA_WORD_FRAC)
            & (F.col("n_stopwords") >= r.MIN_STOPWORDS)
        ).alias("gopher_keep"),
    )


@register(
    "ql_keep_drop",
    f"""
    SELECT doc_id,
           CASE
             WHEN len({_WORDS}) < {rules.MIN_WORDS} THEN 'gopher_short'
             WHEN len({_WORDS}) > {rules.MAX_WORDS} THEN 'gopher_long'
             WHEN NOT ({_MEAN_WL} BETWEEN {rules.MIN_MEAN_WORD_LEN} AND {rules.MAX_MEAN_WORD_LEN})
               THEN 'gopher_word_len'
             WHEN {_ALPHA} < {rules.MIN_ALPHA_WORD_FRAC} THEN 'gopher_alpha'
             WHEN {_STOPS} < {rules.MIN_STOPWORDS} THEN 'gopher_stopwords'
           END AS drop_reason,
           CASE
             WHEN len({_WORDS}) < {rules.MIN_WORDS} THEN false
             WHEN len({_WORDS}) > {rules.MAX_WORDS} THEN false
             WHEN NOT ({_MEAN_WL} BETWEEN {rules.MIN_MEAN_WORD_LEN} AND {rules.MAX_MEAN_WORD_LEN})
               THEN false
             WHEN {_ALPHA} < {rules.MIN_ALPHA_WORD_FRAC} THEN false
             WHEN {_STOPS} < {rules.MIN_STOPWORDS} THEN false
             ELSE true
           END AS keep
    FROM {_DOCS_COALESCED}
    """,
)
def ql_keep_drop(spark: SparkSession, sf: str) -> DataFrame:
    """First-drop-wins cascade (structural subset on this fixture)."""
    r = rules
    reason = (
        F.when(F.col("n_words") < r.MIN_WORDS, "gopher_short")
        .when(F.col("n_words") > r.MAX_WORDS, "gopher_long")
        .when(
            ~F.col("mean_word_len").between(r.MIN_MEAN_WORD_LEN, r.MAX_MEAN_WORD_LEN),
            "gopher_word_len",
        )
        .when(F.col("alpha_frac") < r.MIN_ALPHA_WORD_FRAC, "gopher_alpha")
        .when(F.col("n_stopwords") < r.MIN_STOPWORDS, "gopher_stopwords")
    )
    return _signals(spark, sf).select(
        "doc_id", reason.alias("drop_reason"), reason.isNull().alias("keep")
    )


@register(
    "ql_repetition",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    grams AS (
      SELECT doc_id, words[i] || ' ' || words[i+1] AS g
      FROM w, UNNEST(range(1, len(words))) AS r(i)
    ),
    freq AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    top AS (SELECT doc_id, max(c) AS top2 FROM freq GROUP BY doc_id)
    SELECT w.doc_id,
           round(2.0 * coalesce(top.top2, 0) / greatest(len(w.words), 1), 6)
             AS top2gram_frac
    FROM w LEFT JOIN top ON w.doc_id = top.doc_id
    """,
)
def ql_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition signal: top word-bigram coverage."""
    return _signals(spark, sf).select(
        "doc_id", F.round("top2gram_frac", 6).alias("top2gram_frac")
    )


@register(
    "ql_extract_text",
    # the extraction kernel's whitespace canonicalization, restated in
    # SQL (kernels/extract.py:41-42): per line, horizontal-whitespace
    # runs collapse to one space, lines are stripped, empty lines drop.
    # (Matches the kernel for text without edge non-ASCII whitespace or
    # html metachars — the fixture wrap guarantees the latter.)
    """
    SELECT doc_id,
           coalesce(array_to_string(
             list_filter(
               list_transform(string_split(text, chr(10)),
                 l -> trim(regexp_replace(l, '[ \t\r\f\x0B]+', ' ', 'g'))),
               l -> l <> ''),
             chr(10)), '') AS extracted
    FROM documents
    """,
)
def ql_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """HTML round-trip through the canonical extraction kernel: wrap the
    fixture text in real html (with script/style/comment junk), extract,
    and the oracle is the original text."""
    from ..operators.quality import extract_fn

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>.x { color: red; }</style></head><body><!-- c --><p>"),
            F.col("text"),
            F.lit("</p><script>var cfg = {a: 1};</script></body></html>"),
        )
        .cast("binary")
        .alias("html"),
    )
    out = d.mapInPandas(
        extract_fn(html_col="html", out_col="extracted"),
        schema="doc_id bigint, html binary, extracted string",
    )
    return out.select("doc_id", "extracted")


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}"


@register(
    "ql_pii_scrub",
    f"""
    WITH t AS (
      SELECT doc_id,
             text || ' contact ' || source || '@corp.example.com or '
                  || source || '.admin@mail.example.org' AS orig
      FROM {_DOCS_COALESCED}
    )
    SELECT doc_id,
           regexp_replace(orig, '{_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed,
           CAST(length(orig)
                - length(regexp_replace(orig, '{_EMAIL_RE}', '<EMAIL>', 'g'))
                + 7 * len(regexp_extract_all(orig, '{_EMAIL_RE}')) AS BIGINT)
             AS bytes_scrubbed,
           CAST(len(regexp_extract_all(orig, '{_EMAIL_RE}')) AS INT) AS pii_hits
    FROM t
    """,
)
def ql_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub via the canonical ordered kernel, on fixture text with
    planted emails; the DuckDB oracle replays the email rule in RE2."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.scrub import scrub_pii

        for pdf in batches:
            outs = [scrub_pii(t) for t in pdf["orig"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "scrubbed": [o[0] for o in outs],
                    "bytes_scrubbed": pd.array([o[1] for o in outs], dtype="int64"),
                    "pii_hits": pd.array([o[2] for o in outs], dtype="int32"),
                }
            )

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")), F.lit(" contact "), F.col("source"),
            F.lit("@corp.example.com or "), F.col("source"),
            F.lit(".admin@mail.example.org"),
        ).alias("orig"),
    )
    return d.mapInPandas(
        fn, schema="doc_id bigint, scrubbed string, bytes_scrubbed bigint, pii_hits int"
    )


@register(
    "ql_toxicity_scrub",
    f"""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' <TOX>' ELSE text END AS masked,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT) AS tox_hits
    FROM {_DOCS_COALESCED}
    """,
)
def ql_toxicity_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Toxicity masking via the broadcast lexicon automaton on fixture text
    with one planted term on every 7th doc."""
    from ..kernels.scrub import mask_spans, toxic_spans_batch
    from ..models import toxic_automaton

    bc = cached_broadcast(spark, "toxic_ac", toxic_automaton)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = bc.value
        for pdf in batches:
            texts = list(pdf["orig"])
            spans = toxic_spans_batch(ac, texts)
            masked = [mask_spans(t, s) for t, s in zip(texts, spans)]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "masked": [m[0] for m in masked],
                    "tox_hits": pd.array([len(s) for s in spans], dtype="int32"),
                }
            )

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce("text", F.lit("")), F.lit(" blortug")),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("orig"),
    )
    return d.mapInPandas(fn, schema="doc_id bigint, masked string, tox_hits int")


@register(
    "ql_dedup_exact",
    """
    SELECT user_id, event_type, event_id, ts FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def ql_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keep-earliest (the url/warc_ts dedup shape on the
    fixture's (user_id, event_type) key).

    De-skewed in round 4: the winner row is fully determined by
    min(struct(ts, event_id)) per key, so a map-side-combinable groupBy
    replaces the row_number window — on a real event stream user_id is
    Zipfian (one bot user = one reducer's sort under the window; a
    partial min never gathers the group)."""
    return (
        load(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("w"))
        .select(
            "user_id", "event_type",
            F.col("w.event_id").alias("event_id"),
            F.col("w.ts").alias("ts"),
        )
    )


@register(
    "ql_metrics_rollup",
    f"""
    SELECT source,
           count(*) AS docs_seen,
           CAST(sum(CASE WHEN {_GOPHER_KEEP} THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(sum(n_chars) AS BIGINT) AS bytes_seen
    FROM documents GROUP BY source
    """,
)
def ql_metrics_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition-style counter rollup (BASELINE.json:6 counters) on the
    fixture's source key."""
    r = rules
    keep = (
        F.col("n_words").between(r.MIN_WORDS, r.MAX_WORDS)
        & F.col("mean_word_len").between(r.MIN_MEAN_WORD_LEN, r.MAX_MEAN_WORD_LEN)
        & (F.col("alpha_frac") >= r.MIN_ALPHA_WORD_FRAC)
        & (F.col("n_stopwords") >= r.MIN_STOPWORDS)
    )
    return (
        _signals(spark, sf)
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_seen"),
            F.sum(keep.cast("long")).alias("docs_kept"),
            F.sum("n_chars").alias("bytes_seen"),
        )
    )


@register(
    "ql_c4_rules",
    f"""
    WITH t AS (
      SELECT doc_id,
             replace(replace(text, ' slow ', ' javascript '),
                     ' the ', '.' || chr(10)) AS multi
      FROM {_DOCS_COALESCED}
    )
    SELECT doc_id,
           coalesce(array_to_string(
             list_filter(string_split(multi, chr(10)), l ->
               regexp_matches(rtrim(l), '[.!?。]$')
               AND len(list_filter(string_split(l, ' '), w -> w <> ''))
                   >= {rules.C4_MIN_LINE_WORDS}
               AND NOT contains(lower(l), '{rules.C4_BAD_SUBSTR}')
             ), chr(10)), '') AS c4_text
    FROM t
    """,
)
def ql_c4_rules(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level rewrite (kernels/rules.py c4_line_filter spec) in pure
    built-ins: split to lines, keep lines ending in terminal punctuation
    with >=3 words and no 'javascript', re-join. The unpunctuated
    single-line fixture text is first rewritten (deterministically, on
    both sides) into punctuated lines with planted 'javascript' hits so
    the filter has real keep/drop work."""
    multi = F.replace(
        F.replace(F.coalesce("text", F.lit("")), F.lit(" slow "), F.lit(" javascript ")),
        F.lit(" the "),
        F.lit(".\n"),
    )
    kept = F.filter(
        F.split(multi, "\n"),
        lambda l: F.rtrim(l).rlike("[.!?。]$")
        & (
            F.size(F.filter(F.split(l, " "), lambda w: w != ""))
            >= rules.C4_MIN_LINE_WORDS
        )
        & ~F.contains(F.lower(l), F.lit(rules.C4_BAD_SUBSTR)),
    )
    return load(spark, sf, "documents").select(
        "doc_id", F.array_join(kept, "\n").alias("c4_text")
    )


# ---------------------------------------------------- model-output oracles
# The langid / perplexity kernels were rows-only in round 1 ("model
# outputs are not SQL-expressible"). They ARE expressible: the trained
# model is just numbers, and the fixture corpus is ASCII, so the DuckDB
# oracle below re-derives the byte stream (one vectorized
# regexp_extract_all over hex(encode(...)) per doc — the correlated
# UNNEST(range) + per-position substring it replaced planned as a
# delim join and dominated sweep time), re-hashes the 1/2/3-grams
# with the same integer arithmetic, and
# recomputes the NB argmax / LM log-likelihood from the model weights
# inlined as VALUES (only the ~3k seen buckets; unseen buckets collapse
# to a per-lang constant). This is a full independent recomputation —
# pandas/numpy batch kernel vs pure SQL — not a frozen-output snapshot.

# shared byte/gram CTE: one row per byte of lower(text), plus the next
# two bytes via lead() windows (ASCII corpus: ascii(char) == utf-8 byte)
_BYTES_CTE = """
    bl AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(hex(encode(lower(text))), '..'),
                            x -> CAST(('0x' || x) AS BIGINT)) AS bs
      FROM documents
    ),
    b AS (
      SELECT * FROM (
        SELECT doc_id,
               unnest(bs) AS b0,
               unnest(bs[2:] || [CAST(NULL AS BIGINT)]) AS b1,
               unnest(bs[3:] || [CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)]) AS b2
        FROM bl
      ) WHERE b0 IS NOT NULL
    )
"""


def _fmt(v: float) -> str:
    return repr(float(v))


def _langid_oracle() -> str:
    """NB argmax + softmax confidence recomputed in SQL from the trained
    weights (kernels/langid.py LangIdModel.score_batch spec)."""
    import numpy as np

    from ..kernels.langid import CONF_SCALE, N_BUCKETS
    from ..models import default_langid

    m = default_langid()
    # the gram-less default (NULL/empty text): byte CTEs unnest to zero
    # rows so such docs vanish from every aggregate — the kernel instead
    # scores b"" (uniform prior argmax); bake its output as the LEFT
    # JOIN fallback so the oracle emits one row per doc like Spark does
    _p, _c = m.score_batch([b""])
    empty_lang, empty_conf = m.langs[int(_p[0])], round(float(_c[0]), 6)
    w_rows, base_rows = [], []
    for li, lang in enumerate(m.langs):
        row = m.logp[li]
        base = float(row.min())  # the unseen-bucket value -log(total+B)
        base_rows.append(f"('{lang}', {_fmt(base)})")
        for h in np.nonzero(row > base)[0]:
            w_rows.append(f"('{lang}', {int(h)}, {_fmt(float(row[h]) - base)})")
    return f"""
    WITH {_BYTES_CTE},
    g AS (
      SELECT doc_id, b0 % {N_BUCKETS} AS h FROM b
      UNION ALL
      SELECT doc_id, (b0 * 31 + b1) % {N_BUCKETS} FROM b WHERE b1 IS NOT NULL
      UNION ALL
      SELECT doc_id, ((b0 * 31 + b1) * 31 + b2) % {N_BUCKETS}
      FROM b WHERE b2 IS NOT NULL
    ),
    c AS (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
    ng AS (SELECT doc_id, sum(c) AS n_grams FROM c GROUP BY doc_id),
    w(l, h, delta) AS (VALUES {', '.join(w_rows)}),
    base(l, b) AS (VALUES {', '.join(base_rows)}),
    score AS (
      SELECT c.doc_id, base.l,
             (coalesce(sum(c.c * w.delta), 0.0)
              + any_value(ng.n_grams) * base.b) / any_value(ng.n_grams) AS avg_ll
      FROM c
      CROSS JOIN base
      LEFT JOIN w ON w.l = base.l AND w.h = c.h
      JOIN ng ON ng.doc_id = c.doc_id
      GROUP BY c.doc_id, base.l, base.b
    ),
    soft AS (
      SELECT doc_id, l,
             exp({CONF_SCALE} * avg_ll
                 - max({CONF_SCALE} * avg_ll) OVER (PARTITION BY doc_id)) AS e,
             row_number() OVER (PARTITION BY doc_id ORDER BY avg_ll DESC, l)
               AS rn
      FROM score
    )
    SELECT d.doc_id,
           coalesce(o.lang_pred, '{empty_lang}') AS lang_pred,
           coalesce(o.lang_conf, {empty_conf}) AS lang_conf
    FROM documents d LEFT JOIN (
      SELECT doc_id, l AS lang_pred,
             round(e / (sum(e) OVER (PARTITION BY doc_id)), 6) AS lang_conf
      FROM soft QUALIFY rn = 1
    ) o ON o.doc_id = d.doc_id
    """


@register("ql_langid", None)  # oracle attached below (needs trained model)
def ql_langid(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style langid over fixture text; value-checked against the
    SQL weight-table recomputation in _langid_oracle."""
    from ..models import default_langid

    bc = cached_broadcast(spark, "langid", default_langid)

    @F.pandas_udf("struct<lang_pred: string, lang_conf: double>")
    def score(s: pd.Series) -> pd.DataFrame:
        m = bc.value
        enc = [t.lower().encode("utf-8") if isinstance(t, str) else b"" for t in s]
        pred, conf = m.score_batch(enc)
        return pd.DataFrame(
            {"lang_pred": [m.langs[i] for i in pred], "lang_conf": conf}
        )

    d = load(spark, sf, "documents")
    return d.select("doc_id", score(F.col("text")).alias("s")).select(
        "doc_id", "s.lang_pred", F.round("s.lang_conf", 6).alias("lang_conf")
    )


def _perplexity_oracle() -> str:
    """Char-trigram LM perplexity recomputed in SQL from the trained count
    tables (kernels/lm.py CharLM.ppl spec): ppl = exp(-avg(ln(c3+a) -
    ln(c2+256a))) over byte trigrams."""
    import numpy as np

    from ..kernels.lm import ALPHA, B2, B3
    from ..models import default_charlm

    lm = default_charlm()
    c2_rows = [
        f"({int(h)}, {int(lm.c2[h])})" for h in np.nonzero(lm.c2 > 0)[0]
    ]
    c3_rows = [
        f"({int(h)}, {int(lm.c3[h])})" for h in np.nonzero(lm.c3 > 0)[0]
    ]
    return f"""
    WITH {_BYTES_CTE},
    h AS (
      SELECT doc_id,
             (b0 * 31 + b1) % {B2} AS h2,
             ((b0 * 31 + b1) * 31 + b2) % {B3} AS h3
      FROM b WHERE b2 IS NOT NULL
    ),
    c2(h, c) AS (VALUES {', '.join(c2_rows)}),
    c3(h, c) AS (VALUES {', '.join(c3_rows)}),
    ll AS (
      SELECT doc_id,
             ln(coalesce(c3.c, 0) + {ALPHA!r})
             - ln(coalesce(c2.c, 0) + {ALPHA * 256!r}) AS ll
      FROM h LEFT JOIN c3 ON c3.h = h.h3 LEFT JOIN c2 ON c2.h = h.h2
    )
    SELECT d.doc_id, coalesce(o.ppl, 0.0) AS ppl
    FROM documents d LEFT JOIN (
      SELECT doc_id, round(exp(-avg(ll)), 6) AS ppl FROM ll GROUP BY doc_id
    ) o ON o.doc_id = d.doc_id
    """


@register("ql_perplexity", None)  # oracle attached below
def ql_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Char-trigram LM perplexity over fixture text; value-checked against
    the SQL count-table recomputation in _perplexity_oracle."""
    from ..models import default_charlm

    bc = cached_broadcast(spark, "charlm", default_charlm)

    @F.pandas_udf("double")
    def ppl(s: pd.Series) -> pd.Series:
        lm = bc.value
        enc = [t.lower().encode("utf-8") if isinstance(t, str) else b"" for t in s]
        return pd.Series(lm.ppl_batch(enc))

    return load(spark, sf, "documents").select(
        "doc_id", F.round(ppl(F.col("text")), 6).alias("ppl")
    )


def _pipeline_full_oracle() -> str:
    """ql_pipeline_full's histogram RECOMPUTED by DuckDB (round-3 upgrade
    from the round-2 frozen-VALUES snapshot, per VERDICT.md task 3): the
    600-page corpus's *extracted text* is inlined as VALUES (extraction —
    the shared canonical kernel — is the one Python-trusted boundary,
    itself driver-checked by ql_extract_text and byte-equality-tested in
    L2), and everything downstream is re-derived in SQL:

      * the full 14-rule structural first-drop-wins cascade (Gopher +
        C4 + repetition) over multi-line text,
      * NB langid confidence from the trained weights inlined as VALUES,
        over a hex-pair byte stream (pages are NOT ASCII — zh/é/Ü — so
        bytes come from hex(encode(lower(txt))) pairs, not
        ascii(substring(...)) like the ASCII-fixture oracles),
      * char-trigram LM perplexity from the trained count tables,
      * distinct-pattern counts via contains() over the name list
        (patterns_matched only needs presence per surface form),
      * the ordered PII regex chain — RE2 has no lookarounds, so each
        lookaround rule becomes a capture-group boundary pattern applied
        in TWO passes (pass 1 can miss a match whose leading boundary
        char was consumed by the previous match's trailing group; the
        restored '\\1'/'\\3' context makes pass 2 catch exactly those —
        two passes suffice because misses alternate),
      * toxicity spans by position scan with word-boundary checks,
        span-merge via gaps-and-islands, TOX_DROP_HITS gate, and merged
        span lengths as scrubbed bytes.

    No registration-time constants from the Python reference remain —
    if the pipeline's semantics drift, DuckDB disagrees."""
    import numpy as np

    from ..kernels import rules as R
    from ..kernels.langid import CONF_SCALE, N_BUCKETS
    from ..kernels.lm import ALPHA, B2, B3
    from ..models import default_charlm, default_langid, pages_filternames
    from ..synth import TOXIC_LEXICON, make_pages

    pages = make_pages(600, seed=42)
    texts = pages["text"]  # extract_text(html) — the canonical kernel
    page_vals = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')" for i, t in enumerate(texts)
    )

    # trained-model weight tables (same inlining as _langid_oracle /
    # _perplexity_oracle — sparse deltas over a per-lang base)
    m = default_langid()
    w_rows, base_rows = [], []
    for li, lang in enumerate(m.langs):
        row = m.logp[li]
        base = float(row.min())
        base_rows.append(f"('{lang}', {_fmt(base)})")
        for h in np.nonzero(row > base)[0]:
            w_rows.append(f"('{lang}', {int(h)}, {_fmt(float(row[h]) - base)})")
    lm = default_charlm()
    c2_rows = [f"({int(h)}, {int(lm.c2[h])})" for h in np.nonzero(lm.c2 > 0)[0]]
    c3_rows = [f"({int(h)}, {int(lm.c3[h])})" for h in np.nonzero(lm.c3 > 0)[0]]

    names = pages_filternames().names
    name_list = "[" + ", ".join("'" + n.replace("'", "''") + "'" for n in names) + "]"
    term_vals = ", ".join(f"('{t}')" for t, _s in TOXIC_LEXICON)

    # multi-line structural signals (rules.py structural_signals spec)
    W = "list_filter(string_split_regex(txt, '[ \t\n\r\f\x0B]+'), w -> w <> '')"
    L = "list_filter(string_split(txt, chr(10)), l -> l <> '')"
    alpha_re = "[a-zA-Z\\x{00c0}-\\x{024f}\\x{4e00}-\\x{9fff}]"
    n_term = " + ".join(
        f"(length(txt) - length(replace(txt, '{c}', '')))" for c in R.TERMINAL_PUNCT
    )
    bullets = " OR ".join(f"l LIKE '{p}%'" for p in R.BULLET_PREFIXES)
    ellips = " OR ".join(f"l LIKE '%{s}'" for s in R.ELLIPSIS_SUFFIXES)
    punct_set = ", ".join(f"'{c}'" for c in R.TERMINAL_PUNCT)

    # PII chain: email is lookaround-free (one pass); ssn/phone/ipv4 get
    # the two-pass boundary-group treatment. Patterns in RE2 syntax.
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}"
    ssn = r"(^|[^0-9])([0-9]{3}-[0-9]{2}-[0-9]{4})([^0-9]|$)"
    phone = (
        r"(^|[^0-9+])((?:\+?1[ .-])?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4})"
        r"([^0-9]|$)"
    )
    ipv4 = r"(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})([^0-9.]|$)"
    scrub_ctes, prev = [], "sc0"
    step = 1
    for pat, repl, grp in [(email, "<EMAIL>", 0)] + [
        (p, r, 2)
        for p, r in [(ssn, "<SSN>"), (phone, "<PHONE>"), (ipv4, "<IP>")]
        for _pass in (1, 2)
    ]:
        rew = repl if grp == 0 else rf"\1{repl}\3"
        cur = f"sc{step}"
        scrub_ctes.append(
            f"""{cur} AS (
      SELECT doc_id,
             regexp_replace(t, '{pat}', '{rew}', 'g') AS t,
             b + coalesce(list_aggregate(list_transform(
                   regexp_extract_all(t, '{pat}', {grp}),
                   x -> octet_length(encode(x))), 'sum'), 0) AS b
      FROM {prev})"""
        )
        prev = cur
        step += 1
    scrub_sql = ",\n    ".join(scrub_ctes)

    # one vectorized regexp per doc → byte list; the zipped-unnest +
    # shifted-slice form below replaces the correlated UNNEST(range())
    # + per-position substring + lead() window, which DuckDB planned as
    # a delim join (95 s of operator time = 80% of the whole 106-query
    # sweep's oracle wall, as timed by the retired per-query timer —
    # BENCH/BASELINE.md, "Retired demo records").
    byte_expr = (
        "list_transform(regexp_extract_all(hex(encode(lower(txt))), '..'),"
        " x -> CAST(('0x' || x) AS BIGINT))"
    )
    return f"""
    WITH pages(doc_id, txt) AS MATERIALIZED (VALUES {page_vals}),
    sb AS MATERIALIZED (SELECT doc_id, txt, {W} AS words, {L} AS lns FROM pages),
    stopt(s) AS (VALUES {", ".join(f"('{w}')" for w in sorted(R.STOPWORD_SET))}),
    wstat AS MATERIALIZED (
      SELECT doc_id,
             count(*) AS n_words,
             sum(length(w)) AS sum_wl,
             count(*) FILTER (WHERE regexp_matches(w, '{alpha_re}')) AS n_alpha,
             count(*) FILTER (WHERE st.s IS NOT NULL) AS n_stop
      FROM (SELECT doc_id, unnest(words) AS w FROM sb) wu
      LEFT JOIN stopt st ON lower(wu.w) = st.s
      GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, w1 || ' ' || w2 AS g FROM (
        SELECT doc_id, unnest(words[:-1]) AS w1, unnest(words[2:]) AS w2
        FROM sb
      ) WHERE w2 IS NOT NULL
    ),
    freq AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    topg AS MATERIALIZED (SELECT doc_id, max(c) AS t2 FROM freq GROUP BY doc_id),
    sg AS (
      SELECT sb.doc_id, txt,
        coalesce(ws.n_words, 0) AS n_words,
        greatest(coalesce(ws.n_words, 0), 1) AS nw,
        greatest(len(lns), 1) AS n_lines,
        coalesce(CAST(ws.sum_wl AS DOUBLE), 0.0) / greatest(coalesce(ws.n_words, 0), 1) AS mean_wl,
        CAST((length(txt) - length(replace(txt, '#', '')))
             + (length(txt) - length(replace(txt, '...', ''))) // 3 AS DOUBLE)
          / greatest(coalesce(ws.n_words, 0), 1) AS sym_pw,
        CAST(len(list_filter(lns, l -> {bullets})) AS DOUBLE) / greatest(len(lns), 1) AS bullet_frac,
        CAST(len(list_filter(lns, l -> {ellips})) AS DOUBLE) / greatest(len(lns), 1) AS ellipsis_frac,
        CAST(coalesce(ws.n_alpha, 0) AS DOUBLE) / greatest(coalesce(ws.n_words, 0), 1) AS alpha_frac,
        coalesce(ws.n_stop, 0) AS n_stop,
        contains(lower(txt), 'lorem ipsum') AS has_lorem,
        contains(txt, '{{') AS has_brace,
        {n_term} AS n_terminal,
        CAST(len(list_filter(lns, l -> substring(l, length(l), 1) IN ({punct_set}))) AS DOUBLE) / greatest(len(lns), 1) AS line_punct_frac,
        CAST(len(lns) - len(list_distinct(lns)) AS DOUBLE) / greatest(len(lns), 1) AS dup_frac
      FROM sb LEFT JOIN wstat ws ON sb.doc_id = ws.doc_id
    ),
    struct AS MATERIALIZED (
      SELECT sg.doc_id, sg.txt,
        CASE
          WHEN n_words < {R.MIN_WORDS} THEN 'gopher_short'
          WHEN n_words > {R.MAX_WORDS} THEN 'gopher_long'
          WHEN NOT (mean_wl BETWEEN {R.MIN_MEAN_WORD_LEN} AND {R.MAX_MEAN_WORD_LEN}) THEN 'gopher_word_len'
          WHEN sym_pw > {R.MAX_SYMBOL_TO_WORD} THEN 'gopher_symbol'
          WHEN bullet_frac > {R.MAX_BULLET_LINE_FRAC} THEN 'gopher_bullet'
          WHEN ellipsis_frac > {R.MAX_ELLIPSIS_LINE_FRAC} THEN 'gopher_ellipsis'
          WHEN alpha_frac < {R.MIN_ALPHA_WORD_FRAC} THEN 'gopher_alpha'
          WHEN n_stop < {R.MIN_STOPWORDS} THEN 'gopher_stopwords'
          WHEN has_lorem THEN 'c4_lorem'
          WHEN has_brace THEN 'c4_brace'
          WHEN n_terminal < {R.MIN_TERMINAL_PUNCT} THEN 'c4_sentences'
          WHEN line_punct_frac < {R.MIN_LINE_PUNCT_FRAC} THEN 'c4_line_punct'
          WHEN dup_frac > {R.MAX_DUP_LINE_FRAC} THEN 'rep_dup_lines'
          WHEN 2.0 * coalesce(topg.t2, 0) / sg.nw > {R.MAX_TOP2GRAM_FRAC} THEN 'rep_top2gram'
        END AS sreason
      FROM sg LEFT JOIN topg ON sg.doc_id = topg.doc_id
    ),
    surv AS (SELECT doc_id, txt FROM struct WHERE sreason IS NULL),
    lb AS (
      SELECT doc_id, {byte_expr} AS bs FROM surv
    ),
    bb AS MATERIALIZED (
      SELECT * FROM (
        SELECT doc_id,
               unnest(bs) AS b0,
               unnest(bs[2:] || [CAST(NULL AS BIGINT)]) AS b1,
               unnest(bs[3:] || [CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)]) AS b2
        FROM lb
      ) WHERE b0 IS NOT NULL
    ),
    g AS (
      SELECT doc_id, b0 % {N_BUCKETS} AS h FROM bb
      UNION ALL
      SELECT doc_id, (b0 * 31 + b1) % {N_BUCKETS} FROM bb WHERE b1 IS NOT NULL
      UNION ALL
      SELECT doc_id, ((b0 * 31 + b1) * 31 + b2) % {N_BUCKETS}
      FROM bb WHERE b2 IS NOT NULL
    ),
    cg AS MATERIALIZED (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
    ng AS (SELECT doc_id, sum(c) AS n_grams FROM cg GROUP BY doc_id),
    w(l, h, delta) AS (VALUES {', '.join(w_rows)}),
    base(l, b) AS (VALUES {', '.join(base_rows)}),
    score AS (
      SELECT cg.doc_id, base.l,
             (coalesce(sum(cg.c * w.delta), 0.0)
              + any_value(ng.n_grams) * base.b) / any_value(ng.n_grams) AS avg_ll
      FROM cg
      CROSS JOIN base
      LEFT JOIN w ON w.l = base.l AND w.h = cg.h
      JOIN ng ON ng.doc_id = cg.doc_id
      GROUP BY cg.doc_id, base.l, base.b
    ),
    soft AS (
      SELECT doc_id, l,
             exp({CONF_SCALE} * avg_ll
                 - max({CONF_SCALE} * avg_ll) OVER (PARTITION BY doc_id)) AS e,
             row_number() OVER (PARTITION BY doc_id ORDER BY avg_ll DESC, l) AS rn
      FROM score
    ),
    langc AS MATERIALIZED (
      SELECT doc_id, e / (sum(e) OVER (PARTITION BY doc_id)) AS conf
      FROM soft QUALIFY rn = 1
    ),
    hh AS (
      SELECT doc_id,
             (b0 * 31 + b1) % {B2} AS h2,
             ((b0 * 31 + b1) * 31 + b2) % {B3} AS h3
      FROM bb WHERE b2 IS NOT NULL
    ),
    c2(h, c) AS (VALUES {', '.join(c2_rows)}),
    c3(h, c) AS (VALUES {', '.join(c3_rows)}),
    lls AS (
      SELECT doc_id,
             ln(coalesce(c3.c, 0) + {ALPHA!r})
             - ln(coalesce(c2.c, 0) + {ALPHA * 256!r}) AS ll
      FROM hh LEFT JOIN c3 ON c3.h = hh.h3 LEFT JOIN c2 ON c2.h = hh.h2
    ),
    pplt AS MATERIALIZED (SELECT doc_id, exp(-avg(ll)) AS ppl FROM lls GROUP BY doc_id),
    surv2 AS MATERIALIZED (
      SELECT s.doc_id, s.txt
      FROM surv s JOIN langc USING (doc_id) JOIN pplt USING (doc_id)
      WHERE langc.conf >= {R.MIN_LANG_CONF} AND pplt.ppl <= {R.MAX_PPL}
    ),
    pats AS (
      SELECT doc_id,
             CAST(len(list_filter({name_list}, nm -> contains(lower(txt), nm))) AS BIGINT) AS patterns
      FROM surv2
    ),
    sc0 AS (SELECT doc_id, txt AS t, CAST(0 AS BIGINT) AS b FROM surv2),
    {scrub_sql},
    terms(term) AS (VALUES {term_vals}),
    lowt AS MATERIALIZED (SELECT doc_id, lower(t) AS lt, b AS pii_bytes FROM {prev}),
    cand AS (SELECT doc_id, lt, term FROM lowt JOIN terms ON contains(lt, term)),
    spans AS MATERIALIZED (
      SELECT doc_id, r.i AS sb, r.i + length(term) AS se
      FROM cand, UNNEST(range(1, length(lt) - length(term) + 2)) AS r(i)
      WHERE substring(lt, CAST(r.i AS BIGINT), length(term)) = term
        AND (r.i = 1 OR NOT regexp_matches(
               substring(lt, CAST(r.i - 1 AS BIGINT), 1), '[a-z0-9_]'))
        AND (r.i + length(term) > length(lt) OR NOT regexp_matches(
               substring(lt, CAST(r.i + length(term) AS BIGINT), 1), '[a-z0-9_]'))
    ),
    toxh AS (SELECT doc_id, count(*) AS hits FROM spans GROUP BY doc_id),
    isl AS (
      SELECT doc_id, sb, se,
             CASE WHEN sb > coalesce(max(se) OVER (
                    PARTITION BY doc_id ORDER BY sb, se
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS brk
      FROM spans
    ),
    isl2 AS (
      SELECT doc_id, sb, se,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY sb, se
                            ROWS UNBOUNDED PRECEDING) AS gid
      FROM isl
    ),
    mrg AS (SELECT doc_id, gid, max(se) - min(sb) AS ln FROM isl2 GROUP BY doc_id, gid),
    toxb AS (SELECT doc_id, CAST(sum(ln) AS BIGINT) AS tox_bytes FROM mrg GROUP BY doc_id),
    final AS (
      SELECT st.doc_id,
        CASE
          WHEN st.sreason IS NOT NULL THEN st.sreason
          WHEN lc.conf < {R.MIN_LANG_CONF} THEN 'lang_uncertain'
          WHEN pp.ppl > {R.MAX_PPL} THEN 'high_ppl'
          WHEN coalesce(th.hits, 0) >= {R.TOX_DROP_HITS} THEN 'toxic'
          ELSE 'KEEP'
        END AS verdict,
        coalesce(pa.patterns, 0) AS patterns,
        CASE
          WHEN st.sreason IS NULL AND lc.conf >= {R.MIN_LANG_CONF}
               AND pp.ppl <= {R.MAX_PPL} AND coalesce(th.hits, 0) < {R.TOX_DROP_HITS}
          THEN coalesce(lw.pii_bytes, 0) + coalesce(tb.tox_bytes, 0)
          ELSE 0
        END AS bytes_scrubbed
      FROM struct st
      LEFT JOIN langc lc USING (doc_id)
      LEFT JOIN pplt pp USING (doc_id)
      LEFT JOIN pats pa USING (doc_id)
      LEFT JOIN lowt lw USING (doc_id)
      LEFT JOIN toxh th USING (doc_id)
      LEFT JOIN toxb tb USING (doc_id)
    )
    SELECT verdict,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(patterns) AS BIGINT) AS patterns,
           CAST(sum(bytes_scrubbed) AS BIGINT) AS bytes_scrubbed
    FROM final GROUP BY verdict
    """


from ..queries import ORACLE_LAZY as _OL  # noqa: E402

_OL["ql_langid"] = _langid_oracle
_OL["ql_perplexity"] = _perplexity_oracle
_OL["ql_pipeline_full"] = _pipeline_full_oracle


@register("ql_pipeline_full")
def ql_pipeline_full(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end pipeline on the deterministic synthetic pages corpus:
    drop-reason histogram + scrub/match counters (rows-only; the L2 pytest
    suite holds the strong per-row parity checks)."""
    from ..operators.quality import run_quality_pipeline
    from ..synth import make_pages

    pages = make_pages(600, seed=42)
    df = spark.createDataFrame(
        list(zip(pages["url"], pages["warc_ts"], pages["html"], pages["text"], pages["lang"])),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = run_quality_pipeline(spark, df, extract_from_html=True)
    return (
        out.groupBy(F.coalesce("drop_reason", F.lit("KEEP")).alias("verdict"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.coalesce("patterns_matched", F.lit(0))).alias("patterns"),
            F.sum(F.coalesce("bytes_scrubbed", F.lit(0))).alias("bytes_scrubbed"),
        )
        .orderBy("verdict")
    )


# ------------------------------------------------- incremental ingestion

@register(
    "pipeline_incremental_ingest",
    f"""
    SELECT coalesce(lang, '') AS lang,
           count(*) AS docs_seen,
           CAST(sum(CASE WHEN {_GOPHER_KEEP} THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(sum(CASE WHEN {_GOPHER_KEEP} THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM documents GROUP BY 1
    """,
)
def pipeline_incremental_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The recurring-crawl job end-to-end, exactly-once across a crash:
    quality-gate a source Iceberg table INCREMENTALLY, resuming from a
    high-water mark that is durable in the OUTPUT table's own lineage.

    Run 1 processes the source as of its first snapshot and appends
    per-doc verdict rows to the output table, recording the source
    snapshot id as an input marker (the same ``input_files`` lineage
    ql_checkpoint_resume uses for file-level resume — here carrying
    snapshot-level watermarks, Iceberg's CDC bookmark shape). The job
    then "crashes"; a new crawl batch lands in the source. The resumed
    run recovers the watermark from ``processed_inputs()`` — no side
    state, no driver memory — and reads ONLY the new rows via the
    incremental append scan, so each document is gated exactly once.
    The in-query guard raises if the verdict-row count diverges from
    the corpus (duplicated or dropped work would corrupt silently
    otherwise); the final per-lang rollup must equal a ONE-SHOT run
    over the whole fixture, which is exactly what the oracle computes.

    Scale shape: each run touches only its new batch (a day's crawl,
    not the 10^12-row history); the gate is the gopher cascade over
    with_structural_signals; both catalogs are append-only manifest
    commits. Resume cost is O(manifests), not O(data)."""
    from ..catalog import SnapshotCatalog
    from ._scratch import scratch_dir

    r = rules
    src = SnapshotCatalog(scratch_dir("incr_src_"))
    out = SnapshotCatalog(scratch_dir("incr_out_"))
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )

    keep = (
        F.col("n_words").between(r.MIN_WORDS, r.MAX_WORDS)
        & F.col("mean_word_len").between(
            r.MIN_MEAN_WORD_LEN, r.MAX_MEAN_WORD_LEN
        )
        & (F.col("alpha_frac") >= r.MIN_ALPHA_WORD_FRAC)
        & (F.col("n_stopwords") >= r.MIN_STOPWORDS)
    )

    def gate(batch: DataFrame, watermark_id: str) -> None:
        verdicts = with_structural_signals(batch).select(
            "doc_id", "lang", "n_chars", keep.alias("keep")
        )
        out.append(verdicts, input_files=[f"snapshot:{watermark_id}"])

    s1 = src.append(docs.where(F.col("doc_id") % 2 == 0))
    gate(src.read(spark), s1["snapshot_id"])  # run 1, then "crash"
    src.append(docs.where(F.col("doc_id") % 2 == 1))  # new crawl lands

    # resume: the watermark lives in the output table's lineage
    markers = {
        m.split(":", 1)[1]
        for m in out.processed_inputs()
        if m.startswith("snapshot:")
    }
    seq = {s["snapshot_id"]: s["sequence"] for s in src.snapshots()}
    hwm = max(markers, key=lambda i: seq[i])
    head = src.latest_snapshot()
    gate(src.read_incremental(spark, hwm), head["snapshot_id"])

    n_total = docs.count()
    n_out = out.read(spark).count()
    if n_out != n_total:  # survives python -O
        raise AssertionError(
            f"exactly-once violated: {n_out} verdicts for {n_total} docs"
        )
    return (
        out.read(spark)
        .groupBy(F.coalesce("lang", F.lit("")).alias("lang"))
        .agg(
            F.count("*").alias("docs_seen"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("docs_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
    )
