"""Driver-contract query inventory (SURVEY.md §2).

Every implemented operator is registered here twice:
  * ``QUERIES[name](spark, sf_dir) -> DataFrame`` — the Spark plan
  * ``ORACLE_SQL[name]`` — equivalent ANSI SQL for the DuckDB oracle
    (omitted for non-SQL-expressible kernels -> rows-only check)

Column names are aliased identically on both sides (the driver sorts
columns by name before value-hashing). Float aggregates are rounded on
both sides so order-of-summation noise can't break the hash.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions.udfs import ac_count_udf, ac_spans_udf
from .names import DEFAULT_FILTER_NAMES, occurrences_sql, presence_sql

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
# oracle strings that are expensive to build (train a model, run the
# row-at-a-time reference): registered as thunks, materialized once on
# the first oracle_sql() call instead of at import
ORACLE_LAZY: dict[str, Callable[[], str]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


_CACHE: dict[tuple[str, Hashable], object] = {}
_CACHE_LOCK = threading.Lock()


def cached(spark: SparkSession, key: Hashable, factory):
    """factory() memoized per (application, key): the driver-side
    artifacts a run would otherwise rebuild on every call (broadcasts,
    the pipeline's fused UDF, the pages schema) are built once per Spark
    application. The lock stops two threads on a fresh application from
    building the same artifact twice. The application id is read over
    py4j once per SparkContext and kept on that object: a stopped
    context's successor is a new object, so the two still key apart."""
    sc = spark.sparkContext
    app = getattr(sc, "_scfs_app_id", None)
    if app is None:
        app = sc._scfs_app_id = sc.applicationId
    k = (app, key)
    with _CACHE_LOCK:
        if k not in _CACHE:
            # PySpark allows one active SparkContext per process, so a new
            # application id means the old context was stopped: drop its
            # entries. Never destroy() a broadcast among them — broadcast
            # ids restart at 0 in the new context and destroy() resolves
            # the id against the current one, deleting the new
            # application's same-id broadcast.
            for old in [x for x in _CACHE if x[0] != app]:
                del _CACHE[old]
            _CACHE[k] = factory()
        return _CACHE[k]


def cached_broadcast(spark: SparkSession, key: str, factory):
    """sc.broadcast(factory()) memoized per (application, key): repeated
    query and pipeline invocations reuse one broadcast id instead of
    re-pickling the artifact per call — which also keeps executor-side
    lazy deserialization warm (it is keyed by broadcast id)."""
    return cached(spark, key, lambda: spark.sparkContext.broadcast(factory()))


# --------------------------------------------------------------------------
# The reference core: broadcast Aho-Corasick multi-pattern match
# (SURVEY.md §2.2 ql_ac_match; reference multifast ac_automata_search
# [RECALL]). Oracle expressible in SQL because the fixture names have no
# proper border: all-occurrence count == non-overlapping replace count.
# --------------------------------------------------------------------------

_NAMES = DEFAULT_FILTER_NAMES.names
_PRESENCE = presence_sql(_NAMES)
_OCCURS = occurrences_sql(_NAMES)


def _with_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    bc = cached_broadcast(spark, "default_ac", DEFAULT_FILTER_NAMES.compile)
    docs = load(spark, sf_dir, "documents")
    return docs.withColumn("m", ac_count_udf(bc)(F.col("text")))


@register(
    "ql_ac_match",
    f"""
    SELECT doc_id,
           {_PRESENCE} AS patterns_matched,
           {_OCCURS} AS total_hits
    FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)
         documents
    """,
)
def ql_ac_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_match_counts(spark, sf_dir).select(
        "doc_id",
        F.col("m.patterns_matched").cast("bigint").alias("patterns_matched"),
        F.col("m.total_hits").cast("bigint").alias("total_hits"),
    )


@register(
    "flagship_filter_agg",
    f"""
    WITH m AS (
      SELECT lang,
             {_PRESENCE} AS patterns_matched,
             {_OCCURS} AS total_hits
      FROM documents
    )
    SELECT lang,
           count(*) AS docs,
           CAST(sum(patterns_matched) AS BIGINT) AS pats,
           CAST(sum(total_hits) AS BIGINT) AS hits
    FROM m WHERE patterns_matched > 0
    GROUP BY lang
    """,
)
def flagship_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job on Spark: scan -> multi-pattern match ->
    filter to matching docs -> counters, aggregated per language."""
    m = _with_match_counts(spark, sf_dir)
    return (
        m.filter(F.col("m.patterns_matched") > 0)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("m.patterns_matched").cast("bigint").alias("pats"),
            F.sum("m.total_hits").cast("bigint").alias("hits"),
        )
    )


def _ac_spans_oracle() -> str:
    """DuckDB SQL producing every (target, name, begin, end) hit with BYTE
    offsets: char-position scan (names are ASCII, so char length == byte
    length for the needle), then the char->byte conversion is
    octet_length(encode(prefix)). Exact against the automaton including
    overlapping hits — verified value-identical at sf0.01."""
    pairs = [
        (tid, n)
        for n in DEFAULT_FILTER_NAMES.names
        for tid in DEFAULT_FILTER_NAMES.name_to_target_ids[n]
    ]
    vals = ", ".join(f"('{t}', '{n}')" for t, n in pairs)
    return f"""
    WITH pats(target_id, name) AS (VALUES {vals}),
    d AS (SELECT doc_id, lower(text) AS lt FROM documents),
    hits AS (
      SELECT d.doc_id, p.target_id, p.name, r.i AS cpos
      FROM d, pats p,
           UNNEST(range(1, length(d.lt) - length(p.name) + 2)) AS r(i)
      WHERE substring(d.lt, CAST(r.i AS BIGINT), length(p.name)) = p.name
    )
    SELECT h.doc_id, h.target_id, h.name,
           CAST(octet_length(encode(substring(d.lt, 1, CAST(h.cpos - 1 AS BIGINT)))) AS INT) AS begin,
           CAST(octet_length(encode(substring(d.lt, 1, CAST(h.cpos - 1 AS BIGINT))))
                + octet_length(encode(h.name)) AS INT) AS "end"
    FROM hits h JOIN d ON h.doc_id = d.doc_id
    """


@register("ql_ac_spans", _ac_spans_oracle())
def ql_ac_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Rating-annotation analog: every (target, name, begin, end) hit."""
    bc_ac = cached_broadcast(spark, "default_ac", DEFAULT_FILTER_NAMES.compile)
    bc_fn = cached_broadcast(spark, "default_fn", lambda: DEFAULT_FILTER_NAMES)
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", ac_spans_udf(bc_ac, bc_fn)(F.col("text")).alias("matches")
        )
        .select("doc_id", F.explode("matches").alias("hit"))
        .select(
            "doc_id",
            F.col("hit.target_id").alias("target_id"),
            F.col("hit.name").alias("name"),
            F.col("hit.begin").alias("begin"),
            F.col("hit.end").alias("end"),
        )
    )


# --------------------------------------------------------------------------
# inventory modules register themselves on import (registry must exist first)
# --------------------------------------------------------------------------

from .inventory import (  # noqa: E402,F401
    catalog_ops,
    curation,
    dedup,
    extras,
    quality,
    relational,
    selection,
    streaming,
    udf_surface,
    webcur,
)

# --------------------------------------------------------------------------
# driver contract surface
# --------------------------------------------------------------------------

# Driver run order (the driver iterates queries() in dict order and may
# time-box out — each round attests roughly the first 50). ROTATED for
# round 5 per VERDICT r4 task 3: with every registered query cumulatively
# driver-green across r01-r04, the ordering criterion is now pure
# STALENESS + CHANGE — the 20 ids whose only green row is r01 run first
# (four rounds old), then everything round 5 added or touched (the two
# new catalog queries, plus every query exercising the changed
# publish/cherry-pick/compact/read paths), then the r02 cohort, r03,
# r04. After r05 no id's latest attestation is older than two rounds
# except what the time-box cuts from the (already freshest) tail.
# Anything registered but not listed is appended in registration order
# (tests/test_plan_quality.py covers the full registry regardless).
RUN_ORDER = [
    # -- tier 1: latest green driver row is r01 — four rounds stale
    #    (VERDICT r4 task 3's list, verbatim)
    "mm_blob_stats", "dedup_exact_hash", "ql_gopher_rules", "ql_keep_drop",
    "ql_repetition", "ql_c4_rules", "ql_metrics_rollup",
    "dedup_embedding_cosine", "sim_topk_bruteforce", "ql_extract_text",
    "ql_pii_scrub", "ql_toxicity_scrub", "ql_ac_match",
    "flagship_filter_agg", "ql_ac_spans", "join_bucketed",
    "sink_partitioned", "scan_iceberg_snapshot", "sink_metrics",
    "ql_checkpoint_resume",
    # -- tier 2: implementation NEW or CHANGED in round 5 (bucket
    #    transform through the catalog read/compact path, publish TOCTOU
    #    fix, cherry-pick timeline guard, WAP pipeline commits, pending-
    #    replay settle) — all need fresh attestation on the new code
    "scan_bucketed", "sink_maintenance_compact", "stream_sink_wap",
    "sink_wap_publish", "sink_cherry_pick", "dedup_incremental_minhash",
    "sink_compact", "sink_delete_mor", "sink_rollback", "sink_branch_ff",
    "pipeline_incremental_ingest",
    # -- tier 3: latest green row r02 — three rounds stale
    "scan_parquet", "project_select", "project_derived", "filter_predicate",
    "str_funcs", "date_funcs", "math_funcs", "array_funcs", "json_funcs",
    "map_funcs", "sort_orderby", "limit_topk", "set_union_all",
    "set_intersect", "set_except", "window_row_number", "window_rank_dense",
    "window_lag_lead", "window_frame_rows", "window_frame_range",
    "limit_topk_per_group", "agg_groupby_basic", "agg_count_distinct",
    "agg_approx_distinct", "agg_distinct_rows", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "agg_filtered_pivot", "agg_collect",
    "agg_percentile", "skew_salted_agg", "skew_aqe_join", "join_hash_inner",
    "join_broadcast", "join_left_outer", "join_left_semi", "join_left_anti",
    "join_full_outer", "join_range_theta", "join_asof_interval",
    "join_cross", "txt_token_count", "txt_fingerprint", "txt_quality_score",
    "txt_top_ngrams", "txt_contamination", "emb_label_centroid",
    "ql_classifier_score", "ql_stratified_sample",
    # -- tier 4: latest green row r03
    "dedup_simhash", "sim_lsh_bucketed", "ql_pipeline_full",
    "txt_salient_terms", "ql_source_mix", "txt_pack_bins",
    "txt_char_entropy", "ql_boilerplate_scrub", "ql_url_canonicalize",
    "dedup_incremental", "dedup_bloom", "lm_train_ngrams", "txt_doc_chunk",
    "ql_dsir_importance", "emb_pq_quantize", "ql_domain_blocklist",
    "ql_host_cap", "ql_hash_split", "ql_threshold_sweep",
    "window_percent_dist", "udf_scalar_pandas", "udf_iter_pandas",
    "udaf_grouped_agg", "udtf_grouped_map", "udtf_explode",
    "udf_arrow_batch", "scan_csv", "scan_json", "scan_iceberg_incremental",
    "sink_expire_snapshots", "scan_schema_evolution", "sink_upsert",
    "stream_source_files", "stream_tumbling_agg", "stream_sliding_session",
    # -- tier 5: attested green in r04 on unchanged code
    "stream_session_window", "stream_dedup_watermark",
    "stream_stateful_counts", "stream_sink_checkpoint",
    "stream_flagship_filter", "ql_line_dedup", "dedup_substring_spans",
    "sim_ivf_topk", "dedup_retention_components", "sim_ann_persisted",
    "dedup_url_keep_latest", "dedup_containment",
    "stream_static_join_dedup", "stream_stream_join", "sink_delete_where",
    "stream_sink_catalog", "scan_table_history", "scan_warc",
    "sink_sorted_layout", "scan_partition_evolution", "scan_tagged_release",
    "ql_classifier_train", "ql_classifier_eval", "sink_export_shards",
    "emb_kmeans_lloyd", "ql_classifier_calibration",
    "emb_cluster_balanced_sample", "graph_host_rank",
    "scan_partitions_metadata", "curation_pipeline", "ql_dedup_exact",
    "emb_semantic_dedup", "dedup_ngram_jaccard", "dedup_keep_first",
    "dedup_cluster_components", "ql_langid", "ql_perplexity",
    "txt_rolling_fp", "mm_decode_features", "mm_resize", "mm_frame_sample",
    "dedup_minhash_lsh",
]


def _run_ordered(d: dict) -> dict:
    out = {n: d[n] for n in RUN_ORDER if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check)."""
    return flagship_filter_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _run_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    for name in list(ORACLE_LAZY):
        # materialize BEFORE popping: a thunk that raises (e.g. missing
        # training parquet) must stay registered so a retried call errors
        # again instead of silently downgrading the query to unchecked
        ORACLE_SQL[name] = ORACLE_LAZY[name]()
        del ORACLE_LAZY[name]
    return _run_ordered(ORACLE_SQL)
