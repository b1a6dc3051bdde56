"""Query inventory modules — each registers into queries.QUERIES/ORACLE_SQL.

Registered families (SURVEY.md §2 plus the training-data extras):
  relational  — scans, joins, aggs, windows, sorts, set ops, scalar funcs
  quality     — the ql_* web-corpus pipeline stages
  dedup       — exact / MinHash-LSH / SimHash / Jaccard / cosine near-dup,
                ANN similarity search, text statistics, multimodal stats
  extras      — dedup clustering, corpus n-gram stats, non-parquet scans
  webcur      — URL canonicalization, line dedup, near-dup retention,
                incremental dedup, Bloom probe, embedding dedup
  curation    — curation ops between quality filtering and export
  selection   — data selection and training-set preparation
  catalog_ops — source/sink/catalog rows over the SnapshotCatalog seam
  streaming   — Structured Streaming micro-batch rows
  udf_surface — one row per Python UDF/UDAF/UDTF execution mechanism

Shared helpers (register nothing): twins (the planted near-dup fixture),
_minhash, _pq and _text (leaf constants and tokenizers).
"""
