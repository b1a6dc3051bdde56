"""streamcorpus_filter_spark — a PySpark-native web-corpus quality-filter engine.

A brand-new engine with the query/data-processing capabilities of the
reference ``streamcorpus/streamcorpus-filter`` (multi-pattern entity
filtering over a web corpus), generalized into a full Common-Crawl-style
quality pipeline: language-ID, perplexity, Gopher/C4 heuristics, PII &
toxicity scrubbing, dedup, similarity search — all expressed Spark-first
(DataFrame / Catalyst / Arrow-vectorized pandas UDFs; never per-row Python).

Reference parity notes: the reference mount ``/root/reference`` was empty at
build time (see SURVEY.md §0), so parity citations are to public knowledge of
the upstream repo (its vendored multifast Aho-Corasick core, Thrift
StreamItem model and FilterNames query dictionary) tagged [RECALL] in
SURVEY.md, plus the authoritative spec in BASELINE.json.

Layout:
    kernels/    pure Python/numpy compute kernels (no Spark imports) —
                unit-testable, shared with the row-at-a-time oracle
    functions/  pandas/Arrow UDF wrappers around the kernels
    operators/  DataFrame -> DataFrame stage implementations, including
                the fused quality pipeline (run_quality_pipeline)
    inventory/  the registered query families (quality, dedup, streaming,
                catalog, ...), each with its DuckDB oracle SQL
    catalog.py  the parquet/manifest snapshot catalog (WAP, resume)
    models.py   the trained langid / char-LM / automaton artifacts
    queries.py  the driver-contract registry + the broadcast cache
    oracle.py   row-at-a-time reference-semantics oracle for parity tests
"""

__version__ = "0.1.0"
