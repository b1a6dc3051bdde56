"""Driver-style Spark-vs-DuckDB parity on an ADVERSARIAL corpus.

The driver checks every query against its oracle on the fixture tables,
whose text happens to be single-line and single-spaced — so a Spark/SQL
divergence on tabs, newlines, short docs, or empty text would pass the
driver and detonate on real web data. This test rebuilds the exact
driver check over a tiny documents table planted with those cases:

  * tab / newline / formfeed / vertical-tab separated tokens
  * NBSP (U+00A0), which the pinned ASCII class must treat as NON-space
  * docs with 0, 1, 2 words (below the 3-gram shingle width)
  * empty text (zero-byte blob for the mm_* rows)
  * exact-duplicate and shared-40-char-prefix docs (dup paths fire)
  * doc_ids covering %10==0 (twin fixture) and %97==0 (benchmark slice)

Any query whose Spark plan and oracle SQL disagree on tokenization or
edge handling fails here even though the driver fixture passes.
"""

from __future__ import annotations

import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# documents-only queries (no events/embeddings/lineitem dependencies)
QUERIES_UNDER_TEST = [
    "dedup_exact_hash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cluster_components",
    "txt_token_count",
    "txt_fingerprint",
    "txt_rolling_fp",
    "txt_quality_score",
    "txt_top_ngrams",
    "txt_contamination",
    "txt_salient_terms",
    "txt_pack_bins",
    "txt_char_entropy",
    "ql_classifier_score",
    "ql_classifier_train",
    "ql_classifier_eval",
    "ql_dsir_importance",
    "txt_doc_chunk",
    "ql_stratified_sample",
    "ql_source_mix",
    "curation_pipeline",
    "ql_gopher_rules",
    "ql_c4_rules",
    "ql_keep_drop",
    "ql_repetition",
    # ql_dedup_exact joins the events table -> not documents-only
    "ql_metrics_rollup",
    "mm_blob_stats",
    "mm_decode_features",
    "mm_resize",
    "mm_frame_sample",
    "udf_scalar_pandas",
    "udf_iter_pandas",
    "udtf_explode",
    "udf_arrow_batch",
    "ql_ac_match",
    "flagship_filter_agg",
    "ql_ac_spans",
    "ql_pii_scrub",
    "ql_toxicity_scrub",
    "ql_extract_text",
    # round-3 web-curation ops (emb_semantic_dedup needs embeddings ->
    # covered by test_adversarial_vectors-style planting instead)
    "ql_boilerplate_scrub",
    "ql_url_canonicalize",
    "ql_line_dedup",
    "dedup_keep_first",
    "dedup_incremental",
    "dedup_bloom",
    "lm_train_ngrams",
    "ql_domain_blocklist",
    "dedup_substring_spans",
    "ql_host_cap",
    "ql_hash_split",
    "ql_threshold_sweep",
    # round-4 ops
    "dedup_retention_components",
    "dedup_incremental_minhash",
    "dedup_url_keep_latest",
    "dedup_containment",
    # round-4 late: WARC framing must round-trip the tabs/newlines/empty
    # texts byte-exactly; the catalog verbs must survive them too
    "scan_warc",
    "sink_delete_where",
    "scan_table_history",
    "sink_sorted_layout",
    "scan_partition_evolution",
    "scan_tagged_release",
    "sink_wap_publish",
    "sink_export_shards",
    "pipeline_incremental_ingest",
    # round-4 latest: the undo/redo + MoR + metadata + streaming-gate
    # catalog rows, the calibration diagram, and the host-graph rank —
    # all documents-only, all must survive tabs/NBSP/empty docs
    "ql_classifier_calibration",
    "graph_host_rank",
    "sink_rollback",
    "sink_branch_ff",
    "sink_delete_mor",
    "sink_cherry_pick",
    "scan_partitions_metadata",
    "stream_sink_wap",
]

_TEXTS = [
    "plain words separated by single spaces only here",
    "tab\tseparated\ttokens\tin\tthis\tdoc plus spaces",
    "line one\nline two\nline three with more words",
    "mixed \t whitespace\n kinds \f here \x0b really",
    "nbsp joined words stay single tokens",
    "",                       # empty text / zero-byte blob
    "one",                    # below shingle width
    "two words",              # below shingle width
    "exactly three words",    # == shingle width
    "   leading and trailing whitespace   ",
    "the the the the the the repeated stopwords doc",
    "unique salient zebra quagga okapi words appear here",
    "double  space   and    runs     of      spaces",
]
# exact duplicate + shared-40-char-prefix docs so dup paths fire
_TEXTS.append(_TEXTS[0])
_TEXTS.append(_TEXTS[0][:40] + " entirely different tail content follows")
# pad so doc_ids cover %10 and %97 slices and texts recur (more dups)
while len(_TEXTS) < 100:
    _TEXTS.append(_TEXTS[len(_TEXTS) % 13] + f" pad{len(_TEXTS) % 7}")

_LANGS = ["en", "fr", "es", "de", "zh"]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_corpus_"))
    rows = {
        "doc_id": list(range(len(_TEXTS))),
        "text": _TEXTS,
        "lang": [_LANGS[i % 5] for i in range(len(_TEXTS))],
        "source": [f"src{i % 4}" for i in range(len(_TEXTS))],
        "n_chars": [len(t) for t in _TEXTS],
    }
    t = pa.table(
        rows,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(t, str(pathlib.Path(d) / "documents.parquet"))
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{adv_dir}/documents.parquet'"
    )
    yield con
    con.close()


@pytest.fixture(scope="module")
def reg():
    from streamcorpus_filter_spark import queries as q

    return q


@pytest.fixture(scope="module")
def oracles(reg):
    import __spark_entry__ as e

    return e.oracle_sql()


@pytest.mark.parametrize("name", QUERIES_UNDER_TEST)
def test_adversarial_parity(spark, reg, oracles, adv_dir, adv_duck, name):
    got = reg.QUERIES[name](spark, adv_dir).toPandas()
    want = adv_duck.execute(oracles[name]).df()
    g = got.reindex(sorted(got.columns), axis=1).sort_values(
        by=sorted(got.columns), ignore_index=True
    )
    w = want.reindex(sorted(want.columns), axis=1).sort_values(
        by=sorted(want.columns), ignore_index=True
    )
    assert g.shape == w.shape, f"{name}: {g.shape} vs {w.shape}"
    for c in g.columns:
        same = (g[c].astype(str) == w[c].astype(str))
        assert same.all(), (
            f"{name}.{c}: first diff at row {int(same.idxmin())}: "
            f"{g[c][~same].head(3).tolist()} vs {w[c][~same].head(3).tolist()}"
        )
