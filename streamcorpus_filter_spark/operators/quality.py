"""Quality-pipeline stages as DataFrame -> DataFrame operators.

Scale design (SURVEY.md §4.2): the pipeline crosses into Python exactly
once. fused_pipeline_udf runs extraction, the structural rules
(rules.structural_reason_fast), langid, perplexity, entity match, PII
scrub and toxicity in one scalar pandas UDF; a document dropped by a
cheap structural rule short-circuits the later kernels inside the same
batch. Only the final keep/drop cascade runs as JVM expressions.

with_structural_signals exposes the scalar rules.structural_signals
values as columns for the ql_* inventory queries; their DuckDB oracles
check it, and tests/test_quality_parity.py checks the pipeline against
the row-at-a-time oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..kernels import rules
from ..kernels.automaton import ACAutomaton
from ..kernels.scrub import mask_spans, scrub_pii, toxic_spans_batch
from ..kernels.extract import extract_text

# ---------------------------------------------------------------- structure

# rules.structural_signals keys -> Spark column types
_SIGNAL_TYPES = {
    "n_words": "bigint", "mean_word_len": "double",
    "symbol_per_word": "double", "bullet_frac": "double",
    "ellipsis_frac": "double", "alpha_frac": "double",
    "n_stopwords": "bigint", "has_lorem": "boolean", "has_brace": "boolean",
    "n_terminal": "double", "line_punct_frac": "double",
    "dup_line_frac": "double", "top2gram_frac": "double",
}
_PANDAS_DTYPE = {"bigint": "int64", "boolean": "bool", "double": "float64"}


def with_structural_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds every rules.structural_signals value as a column (one scalar
    pandas UDF over ``text_col``). The pipeline never calls this — its
    structural rules run inside fused_pipeline_udf — so it serves the
    ql_* inventory queries, whose DuckDB oracles are the disjoint check."""

    @F.pandas_udf(
        "struct<" + ", ".join(f"{k}: {v}" for k, v in _SIGNAL_TYPES.items()) + ">"
    )
    def signals(col: pd.Series) -> pd.DataFrame:
        # NULL text behaves like "" (-> gopher_short), matching the fused
        # kernel and the row-at-a-time oracle
        sigs = [rules.structural_signals(t if isinstance(t, str) else "") for t in col]
        return pd.DataFrame.from_records(sigs, columns=list(_SIGNAL_TYPES)).astype(
            {k: _PANDAS_DTYPE[v] for k, v in _SIGNAL_TYPES.items()}
        )

    df = df.withColumn("__sig", signals(F.col(text_col)))
    return df.withColumns(
        {n: F.col("__sig").getField(n) for n in _SIGNAL_TYPES}
    ).drop("__sig")


# ------------------------------------------------------------- fused kernel

FUSED_STRUCT = (
    "struct<sreason: string, lang_pred: string, lang_conf: double, "
    "ppl: double, patterns_matched: int, total_hits: int, "
    "scrubbed_text: string, bytes_scrubbed: bigint, tox_hits: int>"
)

# rows per kernel call inside one Arrow batch: langid's count matrices
# cost ~0.18 MB per surviving doc, so a whole 4,096-row batch of
# survivors would hold ~0.5 GB per Python worker
KERNEL_BLOCK_ROWS = 512


def fused_pipeline_udf(bc_langid, bc_lm, bc_ent_ac, bc_tox_ac, from_html: bool):
    """THE pipeline fence: one scalar pandas UDF (html|text) -> struct with
    [extract ->] structural rules -> langid + perplexity + entity match +
    PII scrub + toxicity mask.

    Why one Python fence and not JVM built-ins for the structural rules:
    measured on this corpus, the equivalent higher-order-function
    expressions (split/filter/aggregate lambdas — interpreted, outside
    WholeStageCodegen, and re-inlined per cascade rule by projection
    collapse) cost >10x the vectorized kernel below (~0.7 ms/doc), and the
    text column would cross the Arrow boundary anyway for the
    match/scrub stages. Only this one column crosses; structurally dropped
    rows short-circuit inside the kernel (null model fields, sreason set).
    Models come from broadcasts, deserialized once per worker. Each
    Arrow batch is processed in blocks of at most KERNEL_BLOCK_ROWS rows
    whose frames are concatenated; every kernel is per-doc except
    langid, whose ``lang_conf`` may move by a few ulps with the block's
    row count (BLAS summation order), never its ``lang_pred``.
    """

    @F.pandas_udf(FUSED_STRUCT)
    def fn(col: pd.Series) -> pd.DataFrame:
        # the Arrow batch sets the fence crossings, the block the
        # kernels' working set
        if len(col) <= KERNEL_BLOCK_ROWS:
            return block(col)
        return pd.concat(
            [
                block(col.iloc[i : i + KERNEL_BLOCK_ROWS])
                for i in range(0, len(col), KERNEL_BLOCK_ROWS)
            ],
            ignore_index=True,
        )

    def block(col: pd.Series) -> pd.DataFrame:
        langid = bc_langid.value
        lm = bc_lm.value
        ent_ac: ACAutomaton = bc_ent_ac.value
        tox_ac: ACAutomaton = bc_tox_ac.value

        if from_html:
            texts_all = [
                extract_text(h) if h is not None else "" for h in col
            ]
        else:
            texts_all = [t if isinstance(t, str) else "" for t in col]
        # fast C-accelerated twin (early-exit per rule); the scalar
        # structural_signals pair stays the oracle's disjoint code path
        sreasons = [rules.structural_reason_fast(t) for t in texts_all]
        n = len(texts_all)
        out = pd.DataFrame(
            {
                "sreason": pd.array(sreasons, dtype="object"),
                "lang_pred": pd.array([None] * n, dtype="object"),
                "lang_conf": pd.array([None] * n, dtype="Float64"),
                "ppl": pd.array([None] * n, dtype="Float64"),
                "patterns_matched": pd.array([None] * n, dtype="Int32"),
                "total_hits": pd.array([None] * n, dtype="Int32"),
                "scrubbed_text": pd.array([None] * n, dtype="object"),
                "bytes_scrubbed": pd.array([None] * n, dtype="Int64"),
                "tox_hits": pd.array([None] * n, dtype="Int32"),
            }
        )
        live = [i for i, s in enumerate(sreasons) if s is None]
        if not live:
            return out
        texts = [texts_all[i] for i in live]
        enc = [t.lower().encode("utf-8") for t in texts]
        pred_ix, conf = langid.score_batch(enc)
        ppl = lm.ppl_batch(enc)
        distinct, total = ent_ac.count_batch(enc)

        scrubbed: list[str | None] = []
        nbytes: list[int | None] = []
        tox_n: list[int] = []
        # PII scrub (canonical kernel), then toxicity mask on the
        # scrubbed text via the broadcast automaton (ASCII-lower bytes)
        pii_out = [scrub_pii(t) for t in texts]
        spans_per_doc = toxic_spans_batch(tox_ac, [s for s, _b, _h in pii_out])
        for (s_text, pii_b, _h), spans in zip(pii_out, spans_per_doc):
            if len(spans) >= rules.TOX_DROP_HITS:
                scrubbed.append(None)  # dropped as toxic downstream
                nbytes.append(0)
            else:
                masked, tox_b = mask_spans(s_text, spans)
                scrubbed.append(masked)
                nbytes.append(pii_b + tox_b)
            tox_n.append(len(spans))

        out.iloc[live, out.columns.get_loc("lang_pred")] = [
            langid.langs[i] for i in pred_ix
        ]
        out.iloc[live, out.columns.get_loc("lang_conf")] = conf
        out.iloc[live, out.columns.get_loc("ppl")] = ppl
        out.iloc[live, out.columns.get_loc("patterns_matched")] = distinct
        out.iloc[live, out.columns.get_loc("total_hits")] = total
        out.iloc[live, out.columns.get_loc("scrubbed_text")] = pd.array(
            scrubbed, dtype="object"
        )
        out.iloc[live, out.columns.get_loc("bytes_scrubbed")] = pd.array(
            nbytes, dtype="Int64"
        )
        out.iloc[live, out.columns.get_loc("tox_hits")] = pd.array(
            tox_n, dtype="Int32"
        )
        return out

    return fn


def extract_fn(html_col: str = "html", out_col: str = "text"):
    """mapInPandas extraction stage — the canonical kernel mapped over the
    batch (regex work is C; the invariant demands this exact function)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pdf.assign(**{out_col: [extract_text(h) for h in pdf[html_col]]})

    return fn


# ------------------------------------------------------------- the pipeline

def _broadcast_models(spark: SparkSession):
    """The four model broadcasts, shared with the ql_* inventory queries
    through queries.cached_broadcast (same keys, so one broadcast per
    model per Spark application)."""
    from ..models import (
        default_charlm,
        default_langid,
        pages_automaton,
        toxic_automaton,
    )
    from ..queries import cached_broadcast

    return (
        cached_broadcast(spark, "langid", default_langid),
        cached_broadcast(spark, "charlm", default_charlm),
        cached_broadcast(spark, "pages_ac", pages_automaton),
        cached_broadcast(spark, "toxic_ac", toxic_automaton),
    )


def run_quality_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    extract_from_html: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> filtered rows with
    keep/drop_reason/scrubbed_text/metrics columns (FILTERED-like schema,
    minus the heavy html column).

    Plan shape (the 100TB story) — ONE linear stage, no branch/union (a
    filter-split would re-run the scan + extraction once per branch), no
    exchange (the fat html/text rows are never shuffled: each scan split
    is one task), and ONE Arrow fence (only the html-or-text column
    crosses into Python; see fused_pipeline_udf for the measured
    built-ins-vs-kernel call):
      scan -> fused fence (extract -> structural -> langid/ppl/match/
           scrub, early-exit on structural drop) -> final keep/drop
           cascade (JVM CaseWhen)

    Parallelism is the input's split count. A caller that wants more
    tasks than its input has splits repartitions ``pages`` itself and
    pays that shuffle explicitly.
    """
    from ..queries import cached

    bcs = _broadcast_models(spark)
    # built (and pickled, on first use) once per application: a UDF
    # already built re-applies in 11 py4j round trips, a new one costs 38
    fused = cached(
        spark, ("fused_pipeline_udf", *bcs, extract_from_html),
        lambda: fused_pipeline_udf(*bcs, from_html=extract_from_html),
    )

    in_col = "html" if extract_from_html else "text"
    # every non-payload column (url, warc_ts, lang, plus any caller-added
    # lineage columns like input_file/partition_id) rides through untouched
    passthrough = [c for c in pages.columns if c not in ("html", "text")]
    enriched = pages.select(*passthrough, fused(F.col(in_col)).alias("m"))

    # the cascade as SQL text: the select crosses py4j once plus its
    # argument list, where the Column-builder form crossed once per
    # builder call (BENCH/BASELINE.md finding 13). The float thresholds
    # are double literals (`D`): a bare 0.3 would parse as a decimal.
    r = rules
    final_reason = (
        "coalesce(m.sreason, CASE"
        f" WHEN m.lang_conf < {r.MIN_LANG_CONF!r}D THEN 'lang_uncertain'"
        f" WHEN m.ppl > {r.MAX_PPL!r}D THEN 'high_ppl'"
        f" WHEN m.tox_hits >= {r.TOX_DROP_HITS} THEN 'toxic' END)"
    )
    # oracle short-circuit parity: stages after the drop point are null
    early = f"coalesce({final_reason} IN ('lang_uncertain', 'high_ppl'), false)"
    return enriched.selectExpr(
        *[f"`{c.replace('`', '``')}`" for c in passthrough],
        "m.lang_pred AS lang_pred",
        "m.lang_conf AS lang_conf",
        "m.ppl AS ppl",
        f"CASE WHEN NOT {early} THEN m.patterns_matched END AS patterns_matched",
        f"CASE WHEN NOT {early} THEN m.total_hits END AS total_hits",
        f"CASE WHEN {final_reason} IS NULL THEN m.scrubbed_text END AS scrubbed_text",
        f"CASE WHEN {final_reason} IS NULL THEN m.bytes_scrubbed END AS bytes_scrubbed",
        f"CASE WHEN NOT {early} THEN m.tox_hits END AS tox_hits",
        f"{final_reason} IS NULL AS keep",
        f"{final_reason} AS drop_reason",
    )
