"""Source/sink/catalog operator rows (SURVEY.md §2.3, §2.2
ql_checkpoint_resume) as driver-checkable queries over the fixture tables.

Each query exercises the SnapshotCatalog seam (partitioned-parquet +
manifest emulation of the Iceberg table contract, catalog.py) end-to-end
against a fresh temp table, then returns a result the DuckDB oracle can
recompute from the original fixture — so the write->manifest->read cycle
itself is under the value-hash check, not just the final aggregation.

Reference analog: chunk write / chunk scan [RECALL, SURVEY.md §2.1];
resume analog: re-feeding only unprocessed chunk files.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import SnapshotCatalog
from ..queries import load, register
from ._scratch import scratch_dir
from ._text import md5_bucket_sql


@register(
    "sink_partitioned",
    """
    SELECT lang, source, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang, source
    """,
)
def sink_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned snapshot write + read-back: documents partitioned by
    (lang, source); the aggregation runs over the round-tripped table."""
    cat = SnapshotCatalog(scratch_dir("sink_part_"))
    cat.append(load(spark, sf, "documents"), partition_by=["lang", "source"])
    return (
        cat.read(spark)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )


@register(
    "scan_iceberg_snapshot",
    """
    SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
    """,
)
def scan_iceberg_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-id (time-travel) read: append even docs, then odd docs;
    read as-of the first snapshot -> exactly the even docs, untouched by
    the later append."""
    cat = SnapshotCatalog(scratch_dir("scan_snap_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    s1 = cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    return cat.read(spark, s1["snapshot_id"])


@register(
    "scan_iceberg_incremental",
    """
    SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 0
    """,
)
def scan_iceberg_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental append scan (Iceberg's CDC-style read): three appends
    split by doc_id % 3; reading "appended strictly after snapshot 1"
    must return exactly the rows of snapshots 2+3 and nothing from the
    base — the read path a downstream consumer uses to process only new
    crawl data per run instead of rescanning the table."""
    cat = SnapshotCatalog(scratch_dir("scan_incr_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    s1 = cat.append(docs.where(F.col("doc_id") % 3 == 0))
    cat.append(docs.where(F.col("doc_id") % 3 == 1))
    cat.append(docs.where(F.col("doc_id") % 3 == 2))
    return cat.read_incremental(spark, s1["snapshot_id"])


@register(
    "sink_metrics",
    """
    SELECT source,
           count(*) AS docs_seen,
           CAST(sum(n_chars) AS BIGINT) AS bytes_seen
    FROM documents GROUP BY source
    """,
)
def sink_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Metrics-table sink: per-source counters appended to a metrics
    snapshot (the run_pipeline.py lineage-table shape), read back."""
    cat = SnapshotCatalog(scratch_dir("sink_metrics_"))
    m = (
        load(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_seen"),
            F.sum("n_chars").alias("bytes_seen"),
        )
    )
    cat.append(m.coalesce(1))
    return cat.read(spark)


@register(
    "ql_checkpoint_resume",
    """
    SELECT source, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE n_chars > 100 GROUP BY source
    """,
)
def ql_checkpoint_resume(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint/resume semantics under the oracle check: the fixture is
    split into 3 input files; a 'crashed' run processes one file, a
    --resume run anti-selects the manifest's processed inputs and handles
    the rest; the union of snapshots must equal a one-shot run (oracle =
    the filter over the whole fixture)."""
    src = scratch_dir("resume_in_")
    docs = load(spark, sf, "documents")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/chunk-{i}", mode="overwrite"
        )
    cat = SnapshotCatalog(scratch_dir("resume_out_"))

    def process(files: list[str]) -> None:
        df = spark.read.parquet(*files).where(F.col("n_chars") > 100)
        cat.append(df, input_files=files)

    candidates = sorted(spark.read.parquet(f"{src}/chunk-*").inputFiles())
    process(candidates[:1])                       # partial run, then "crash"
    done = cat.processed_inputs()                  # resume from checkpoint
    process([f for f in candidates if f not in done])

    return (
        cat.read(spark)
        .groupBy("source")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )


@register(
    "sink_compact",
    """
    SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
)
def sink_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction under the value-hash check: the fixture is
    appended as four fragment snapshots (the small-file debris a
    streaming/resume job leaves behind), compacted into a 2-file REPLACE
    snapshot, appended once more post-compaction, and the final
    aggregation runs over the compacted-plus-appended read — so chain
    truncation, content preservation through the rewrite, and
    append-after-replace are all inside the oracle comparison."""
    cat = SnapshotCatalog(scratch_dir("sink_compact_"))
    docs = load(spark, sf, "documents")
    for i in range(4):
        cat.append(docs.where((F.col("doc_id") % 5 == i)))
    cat.compact(spark, target_files=2)
    cat.append(docs.where(F.col("doc_id") % 5 == 4))
    return (
        cat.read(spark)
        .groupBy("lang")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )


@register(
    "sink_expire_snapshots",
    """
    SELECT source, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source
    """,
)
def sink_expire_snapshots(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot expiry (Iceberg's expire_snapshots) under the value-hash
    check: four fragment appends are compacted into a REPLACE snapshot,
    the superseded fragments are physically garbage-collected (manifests
    AND data dirs — asserted inside the query so a silent no-op GC fails
    the driver row), one more append lands after expiry, and the final
    aggregation must still equal the oracle over the original fixture —
    i.e. storage reclaim changed nothing logical."""
    cat = SnapshotCatalog(scratch_dir("sink_expire_"))
    docs = load(spark, sf, "documents")
    for i in range(4):
        cat.append(docs.where(F.col("doc_id") % 5 == i))
    cat.compact(spark, target_files=2)
    stats = cat.expire_snapshots()
    if (stats["expired"], stats["removed_dirs"]) != (4, 4):
        raise AssertionError(f"expiry did not GC the fragments: {stats}")
    cat.append(docs.where(F.col("doc_id") % 5 == 4))
    return (
        cat.read(spark)
        .groupBy("source")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
    )


@register(
    "scan_schema_evolution",
    """
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
    FROM documents
    """,
)
def scan_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution across snapshots (Iceberg add-column): the base
    snapshot is written WITHOUT the lang column, a later append carries
    it, and a single read must union the chain with the old rows NULL in
    the new column — no rewrite of existing data, which is the property
    that makes adding a column to a 100 TB table an O(metadata) change.
    The oracle recomputes the expected NULL pattern from the fixture."""
    cat = SnapshotCatalog(scratch_dir("scan_evol_"))
    docs = load(spark, sf, "documents")
    cat.append(docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars"))
    cat.append(
        docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang")
    )
    return cat.read(spark).select("doc_id", "n_chars", "lang")


@register(
    "sink_upsert",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
             AS n_chars,
           CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang
    FROM documents
    WHERE doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id + 9000000 AS doc_id,
           CAST(1 AS BIGINT) AS n_chars, 'xx' AS lang
    FROM documents WHERE doc_id % 50 = 0
    """,
)
def sink_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write MERGE under the value-hash check: the table is
    seeded with most of the fixture (doc_id % 11 != 0 across two
    appends), then a re-crawl batch upserts every doc_id % 7 == 0 row
    (n_chars + 1000, lang 'xx') and inserts brand-new +9M ids — matched
    keys must be REPLACED (not duplicated), unmatched rows carried
    forward untouched, new keys appended, all as one REPLACE commit the
    oracle recomputes with CASE arms over the original fixture."""
    cat = SnapshotCatalog(scratch_dir("sink_upsert_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    seeded = docs.where(F.col("doc_id") % 11 != 0)
    cat.append(seeded.where(F.col("doc_id") % 2 == 0))
    cat.append(seeded.where(F.col("doc_id") % 2 == 1))
    updates = seeded.where(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        (F.col("n_chars") + 1000).alias("n_chars"),
        F.lit("xx").alias("lang"),
    ).unionByName(
        docs.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"),
            F.lit(1).cast("long").alias("n_chars"),
            F.lit("xx").alias("lang"),
        )
    )
    cat.upsert(spark, updates, ["doc_id"])
    return cat.read(spark)


@register(
    "sink_delete_where",
    """
    SELECT doc_id, n_chars, lang, source FROM documents
    WHERE NOT (source = 'src7' OR doc_id % 13 = 0)
    """,
)
def sink_delete_where(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write DELETE WHERE under the value-hash check — the
    takedown / right-to-erasure verb every corpus owner eventually runs
    (remove one source's docs plus a flagged id set). The table is seeded
    across two appends, one delete_where commits the removal as a single
    merge snapshot, and a second delete matching NOTHING must be a
    metadata no-op (asserted in-query: same snapshot id) rather than a
    pointless full-table rewrite. The oracle recomputes the survivors
    straight off the fixture with the negated predicate."""
    cat = SnapshotCatalog(scratch_dir("sink_delete_"))
    docs = load(spark, sf, "documents").select(
        "doc_id", "n_chars", "lang", "source"
    )
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    m = cat.delete_where(spark, "source = 'src7' OR doc_id % 13 = 0")
    noop = cat.delete_where(spark, "source = 'no_such_source'")
    if noop["snapshot_id"] != m["snapshot_id"]:  # survives python -O
        raise AssertionError("zero-match delete must not commit a new snapshot")
    return cat.read(spark)


@register(
    "scan_table_history",
    """
    SELECT CAST(0 AS BIGINT) AS sequence, 'append' AS operation,
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_rows
    UNION ALL
    SELECT 1, 'append', (SELECT count(*) FROM documents)
    UNION ALL
    SELECT 2, 'merge',
           (SELECT count(*) FROM documents WHERE doc_id % 13 <> 0)
    UNION ALL
    SELECT 3, 'replace',
           (SELECT count(*) FROM documents WHERE doc_id % 13 <> 0)
    """,
)
def scan_table_history(spark: SparkSession, sf: str) -> DataFrame:
    """The snapshots/history metadata table (Iceberg's audit surface)
    under the value-hash check: two appends, a takedown delete, and a
    compaction produce four commits whose (sequence, operation,
    visible-row-count) trajectory the oracle recomputes from the fixture
    — append grows the count, merge shrinks it by the deleted slice,
    replace holds it flat. The provenance read a dataset consumer runs
    before trusting a table."""
    cat = SnapshotCatalog(scratch_dir("scan_hist_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    cat.delete_where(spark, "doc_id % 13 = 0")
    cat.compact(spark, target_files=1)
    return cat.history(spark)


@register(
    "sink_sorted_layout",
    """
    SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE n_chars < 600 GROUP BY lang
    """,
)
def sink_sorted_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Sort-ordered table layout (Iceberg's write sort-order / binpack):
    repartitionByRange + sortWithinPartitions on the cluster key before
    the snapshot write, so every data file owns a DISJOINT n_chars range
    — asserted in-query from the parquet footers (pairwise
    prev.max < cur.min; the range partitioner sends equal keys to one
    partition, so boundaries are strict). That layout is the 100 TB scan
    lever: a predicate on the cluster key prunes whole files from their
    footer stats instead of reading them (row-group min/max skipping),
    which partitionBy can't give for a high-cardinality numeric key. The
    value check then runs a range-filtered aggregation through the
    clustered table against the fixture oracle."""
    import pyarrow.parquet as pq

    cat = SnapshotCatalog(scratch_dir("sink_sorted_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    clustered = docs.repartitionByRange(8, "n_chars").sortWithinPartitions(
        "n_chars"
    )
    snap = cat.append(clustered)
    # layout property, from the footers the scanner itself prunes with
    import pathlib as _pl

    ranges = []
    for f in sorted(_pl.Path(snap["data_dir"]).glob("*.parquet")):
        md = pq.read_metadata(f)
        if md.num_row_groups == 0:  # empty range partition at tiny sf
            continue
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats = [
            md.row_group(g).column(col_idx["n_chars"]).statistics
            for g in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    if len(ranges) < 2:  # survives python -O
        raise AssertionError("clustering demo needs multiple data files")
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        if not hi_a < lo_b:
            raise AssertionError(f"files overlap on the cluster key: {ranges}")
    return (
        cat.read(spark)
        .where(F.col("n_chars") < 600)
        .groupBy("lang")
        .agg(F.count("*").alias("docs"),
             F.sum("n_chars").cast("bigint").alias("chars"))
    )


@register(
    "scan_partition_evolution",
    """
    SELECT lang, source, count(*) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang, source
    """,
)
def scan_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-spec evolution (Iceberg's headline metadata trick): the
    first snapshot is partitioned by lang, a later append by source, and
    ONE read unions both layouts with no data rewrite — possible because
    every snapshot dir is loaded with its own basePath + recorded
    schema, so each layout's partition values come back typed from its
    own directory structure (catalog.py _read_snapshots). On a 100 TB
    table this is the difference between re-laying-out history to change
    a partition key and an O(metadata) spec change that only affects new
    writes. Value-checked by aggregating across both layouts."""
    cat = SnapshotCatalog(scratch_dir("scan_pevo_"))
    docs = load(spark, sf, "documents").select(
        "doc_id", "n_chars", "lang", "source"
    )
    cat.append(docs.where(F.col("doc_id") % 2 == 0), partition_by=["lang"])
    cat.append(docs.where(F.col("doc_id") % 2 == 1), partition_by=["source"])
    return (
        cat.read(spark)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("docs"),
             F.sum("n_chars").cast("bigint").alias("chars"))
    )


@register(
    "scan_tagged_release",
    """
    SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
    """,
)
def scan_tagged_release(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot tags (Iceberg tags) — the dataset-release workflow:
    "train-v1 is the exact table this model was trained on". The first
    append is tagged train-v1, then the table moves on (append, takedown
    delete, compaction) and expire_snapshots GCs the superseded history
    — but the tagged snapshot's read set is PROTECTED from expiry
    (Iceberg's retention rule), so read(tag="train-v1") still returns
    exactly the even docs the oracle recomputes, byte-for-byte, after
    the GC ran. An untagged sibling of that vintage would be gone."""
    cat = SnapshotCatalog(scratch_dir("scan_tag_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.tag("train-v1")
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    cat.delete_where(spark, "doc_id % 13 = 0")
    cat.compact(spark, target_files=1)
    stats = cat.expire_snapshots()
    if stats["protected"] < 1:  # survives python -O
        raise AssertionError(f"the tag did not shield its snapshot: {stats}")
    return cat.read(spark, tag="train-v1")


@register(
    "sink_wap_publish",
    """
    SELECT doc_id, n_chars FROM documents
    """,
)
def sink_wap_publish(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish (Iceberg's wap.id staged commits) under the
    value-hash check — the quality gate a 100 TB ingest runs so a bad
    crawl batch never becomes visible table state: odd docs are STAGED
    (fully written, invisible to reads), the in-query audit checks the
    main read still equals the evens-only base while the audit view
    (read by staged id) already shows the full table, then publish
    cherry-picks the batch to a new head and the final read must match
    the whole-fixture oracle."""
    cat = SnapshotCatalog(scratch_dir("sink_wap_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    n_even = cat.read(spark).count()
    staged = cat.stage(docs.where(F.col("doc_id") % 2 == 1),
                       wap_id="crawl-2026-08-18")
    if cat.read(spark).count() != n_even:  # survives python -O
        raise AssertionError("staged batch leaked into the main read")
    n_all = docs.count()
    audit = cat.read(spark, staged["snapshot_id"]).count()
    if audit != n_all:
        raise AssertionError(f"audit view incomplete: {audit} vs {n_all}")
    cat.publish(staged["snapshot_id"])
    return cat.read(spark)


# --------------------------------------------------- sharded export

EXPORT_SHARDS = 8


def _shard_sql(instr_fn: str, str_type: str) -> str:
    """Engine-portable shard id in [0, EXPORT_SHARDS): the first md5
    nibble of the doc id's decimal string, modulo the shard count —
    sticky (a doc lands in the same shard on every run/retry) and
    seedless, the property a resumable export needs. ONE nibble: a
    second would be dead math for any shard count dividing 16 (the
    *16 term vanishes mod 8) — widen to nibbles=2 only when the shard
    count exceeds 16."""
    bucket = md5_bucket_sql(
        instr_fn, f"CAST(doc_id AS {str_type})", nibbles=1
    )
    return f"({bucket} % {EXPORT_SHARDS})"


@register(
    "sink_export_shards",
    f"""
    SELECT CAST({_shard_sql("strpos", "VARCHAR")} AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY 1
    """,
)
def sink_export_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data export: write the corpus as a fixed number of
    hash-assigned shards (the layout a dataloader consumes — balanced,
    sticky per doc, no rand()) and return the export MANIFEST (per-shard
    doc/char/byte counts + doc-id range) computed from the ROUND-TRIPPED
    table, so the write -> manifest -> read cycle is under the driver's
    value-hash check, not just the aggregation.

    The shard id is content-addressed (md5 of the doc id), so a re-run
    or a resumed export assigns every doc to the same shard — retries
    can't shuffle the dataloader's curriculum. The manifest is what the
    loader uses to size epochs and verify shard integrity at read time.

    Scale shape: the export IS the pipeline's one genuinely global
    shuffle (repartition on the shard key — unavoidable when the sink
    prescribes placement); shard count at 100 TB is thousands, keeping
    each output partition under executor memory, and AQE coalesces the
    skewless hash buckets. The manifest agg is map-side combinable on
    the same key, so it adds one ~SHARDS-row shuffle."""
    cat = SnapshotCatalog(scratch_dir("sink_export_"))
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "n_chars",
        F.expr(_shard_sql("instr", "STRING")).cast("long").alias("shard"),
    )
    cat.append(
        docs.repartition(EXPORT_SHARDS, F.col("shard")),
        partition_by=["shard"],
    )
    return (
        cat.read(spark)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(F.octet_length("text")).alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "sink_rollback",
    """
    SELECT doc_id, n_chars, lang FROM documents
    """,
)
def sink_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot rollback (Iceberg's ``rollback_to_snapshot``) under the
    value-hash check — the bad-batch-undo verb: a good batch commits,
    a CORRUPTED batch commits on top (every n_chars poisoned to -1),
    the operator rolls the table back to the good snapshot as a
    METADATA-ONLY commit (asserted in-query: the rollback manifest
    carries no data dir, so undoing the batch cost zero data movement —
    at 100 TB that is the whole point; a copy-on-write restore would be
    the most expensive job the pipeline can run), and the corrected
    batch lands on the restored state. The final read must equal the
    fixture exactly — value-hash proof that not one poisoned row
    survived and not one good row was lost.

    Also exercised in-query: time travel to the undone snapshot still
    works (auditability of the bad batch until expiry), and the
    incremental scan REFUSES to cross the rollback (rows disappeared —
    not representable as an append delta; the consumer must re-read or
    resume from after it), mirroring Iceberg's incremental-scan error
    on overwrite snapshots."""
    cat = SnapshotCatalog(scratch_dir("sink_rollback_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    good = cat.append(docs.where(F.col("doc_id") % 2 == 0))
    bad = cat.append(
        docs.where(F.col("doc_id") % 2 == 1).withColumn(
            "n_chars", F.lit(-1).cast("long")
        )
    )
    rb = cat.rollback_to(good["snapshot_id"])
    if rb["data_dir"] != "":  # survives python -O
        raise AssertionError("rollback must be metadata-only (no data dir)")
    n_bad = cat.read(spark, snapshot_id=bad["snapshot_id"]).where(
        "n_chars = -1"
    ).count()
    if n_bad == 0:
        raise AssertionError(
            "time travel to the undone snapshot must still show the bad "
            "batch until expiry"
        )
    try:
        cat.read_incremental(spark, good["snapshot_id"]).count()
        raise AssertionError(
            "incremental scan must refuse to cross a rollback"
        )
    except ValueError:
        pass
    cat.append(docs.where(F.col("doc_id") % 2 == 1))  # corrected batch
    return cat.read(spark)


@register(
    "sink_branch_ff",
    """
    SELECT doc_id, n_chars, lang FROM documents
    """,
)
def sink_branch_ff(spark: SparkSession, sf: str) -> DataFrame:
    """Branch + fast-forward (Iceberg branches) under the value-hash
    check — WAP generalized from one staged batch to a whole line of
    work: main holds the even docs, an 'ingest' branch accumulates the
    odd docs across TWO commits (audited together as one branch state),
    main stays byte-identical throughout (asserted in-query: main read
    AND the CDC scan are blind to the ref), then fast_forward folds the
    branch into main as zero-copy appends (same data dirs, lineage and
    provenance carried). The final read must equal the fixture exactly.

    Scale shape: branch commits are ordinary partitioned parquet writes
    plus O(1) manifest pointers; fast-forward moves ZERO data (per-batch
    manifest re-commit referencing the same immutable dirs) — the
    experiment-then-promote workflow costs metadata, not a table
    rewrite."""
    cat = SnapshotCatalog(scratch_dir("sink_branch_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    seed = cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.create_branch("ingest")
    cat.branch_append(docs.where("doc_id % 2 = 1 AND doc_id % 4 = 1"),
                      "ingest")
    cat.branch_append(docs.where("doc_id % 2 = 1 AND doc_id % 4 = 3"),
                      "ingest")
    n_main = cat.read(spark).count()
    n_seed = docs.where("doc_id % 2 = 0").count()
    if n_main != n_seed:  # survives python -O
        raise AssertionError(
            "branch commits leaked into the main read before fast-forward"
        )
    if cat.read_incremental(spark, seed["snapshot_id"]).count() != 0:
        raise AssertionError(
            "CDC scan must be blind to branch commits before fast-forward"
        )
    ff = cat.fast_forward("ingest")
    if any(m["operation"] != "append" for m in ff):
        raise AssertionError("fast-forward must land as main appends")
    return cat.read(spark)


@register(
    "sink_delete_mor",
    """
    SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 13 <> 0
    UNION ALL
    SELECT doc_id, n_chars, lang FROM documents
    WHERE doc_id % 13 = 0 AND doc_id % 2 = 0
    """,
)
def sink_delete_mor(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read equality delete under the value-hash check — the
    kilobytes-not-table-rewrite deletion verb (Iceberg v2 equality-
    delete files), contrasted with sink_delete_where's copy-on-write:
    the table is seeded across two appends, one delete_keys commit
    removes every doc_id % 13 == 0 row by writing ONLY the key set
    (asserted in-query: the commit is operation='mor_delete', no table
    copy), a second delete matching NOTHING must be a metadata no-op,
    and then the EVEN half of the deleted keys is re-appended — the
    sequence rule means those rows SURVIVE (a delete applies only to
    rows older than itself), which is the exact semantic a
    copy-on-write delete cannot express without another rewrite. The
    oracle recomputes survivors + re-appends straight off the fixture;
    readers pay a broadcast anti-join until compact() folds the keys
    away (tested in test_compaction.py)."""
    cat = SnapshotCatalog(scratch_dir("sink_mor_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    doomed = docs.where("doc_id % 13 = 0").select("doc_id")
    m = cat.delete_keys(spark, doomed, ["doc_id"])
    if m["operation"] != "mor_delete":  # survives python -O
        raise AssertionError("delete_keys must commit a mor_delete manifest")
    noop = cat.delete_keys(
        spark, doomed.where(F.lit(False)), ["doc_id"]
    )
    if noop["snapshot_id"] != m["snapshot_id"]:
        raise AssertionError("zero-match MoR delete must not commit")
    cat.append(docs.where("doc_id % 13 = 0 AND doc_id % 2 = 0"))
    return cat.read(spark)


@register(
    "sink_cherry_pick",
    """
    SELECT doc_id, n_chars, lang FROM documents
    WHERE doc_id % 2 = 0 OR doc_id % 4 = 3
    """,
)
def sink_cherry_pick(spark: SparkSession, sf: str) -> DataFrame:
    """Selective redo after an undo (Iceberg's cherrypick_snapshot)
    under the value-hash check: the table seeds with the even docs, two
    odd batches land (doc_id%4==1 and %4==3), a rollback undoes BOTH,
    then cherry-pick re-applies only the %4==3 batch — zero-copy
    (asserted in-query: no new data dir appears; the new manifest
    references the undone batch's immutable files). Re-applying a batch
    whose rows are already visible must refuse (asserted) — that is the
    duplicate-rows guard. Final read = evens + the one redone batch,
    recomputed by the oracle straight off the fixture."""
    cat = SnapshotCatalog(scratch_dir("sink_cherry_"))
    docs = load(spark, sf, "documents").select("doc_id", "n_chars", "lang")
    s0 = cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where("doc_id % 4 = 1"))  # undone and NOT redone
    b = cat.append(docs.where("doc_id % 4 = 3"))
    try:
        cat.cherry_pick(b["snapshot_id"])
        raise AssertionError(
            "cherry-pick of a visible snapshot must refuse (duplication)"
        )
    except ValueError:
        pass
    cat.rollback_to(s0["snapshot_id"])
    dirs_before = sorted(
        p.name for p in (cat.root / "data").iterdir() if p.is_dir()
    )
    cat.cherry_pick(b["snapshot_id"])
    dirs_after = sorted(
        p.name for p in (cat.root / "data").iterdir() if p.is_dir()
    )
    if dirs_before != dirs_after:  # survives python -O
        raise AssertionError("cherry-pick must be zero-copy (no new dir)")
    return cat.read(spark)


@register(
    "scan_partitions_metadata",
    """
    SELECT 'lang=' || lang AS partition,
           CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_files,
           count(*) AS n_rows
    FROM documents GROUP BY lang
    """,
)
def scan_partitions_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """The ``partitions`` metadata table (Iceberg's layout-audit
    surface) under the value-hash check: documents land partitioned by
    lang across two single-file-per-partition appends, then the
    metadata table must report, per partition, exactly the file count
    (= how many appends contained that lang — the oracle recomputes it
    as COUNT(DISTINCT doc_id parity)) and row count — computed from
    manifests + parquet footers alone, no data-page scan. This is the
    query an operator runs BEFORE deciding to compact: it exposes
    small-file accumulation per partition at metadata cost."""
    cat = SnapshotCatalog(scratch_dir("scan_parts_"))
    docs = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    cat.append(
        docs.where(F.col("doc_id") % 2 == 0).coalesce(1),
        partition_by=["lang"],
    )
    cat.append(
        docs.where(F.col("doc_id") % 2 == 1).coalesce(1),
        partition_by=["lang"],
    )
    return cat.partitions(spark)


def _formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


@register(
    "scan_bucketed",
    """
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 3
    """,
)
def scan_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg ``bucket(n, col)`` partition transform THROUGH the
    catalog path (VERDICT r4 task 4) under the value-hash check: the
    doc store accretes across two plain appends, a
    ``compact(bucket_by=(8, [doc_id]))`` rewrites it to bucket layout
    (the rewrite-to-spec maintenance job), and a batch probe then
    equi-joins against the catalog read. The in-query plan asserts
    pin the at-scale claim the retired near-dup demo (BENCH/BASELINE.md,
    "Retired demo records") could only approximate with
    a Hive stand-in before: the index side is a bucketed scan with NO
    Exchange — only the day's batch shuffles, so probe cost is
    independent of corpus history at 10^12 docs. Broadcast is disabled
    for the assert: a tiny test probe would otherwise broadcast and
    bypass the machinery being proven."""
    import re

    docs = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    cat = SnapshotCatalog(scratch_dir("scan_bkt_"))
    cat.append(docs.where(F.col("doc_id") % 2 == 0))
    cat.append(docs.where(F.col("doc_id") % 2 == 1))
    # COMPOSED multi-transform spec (Iceberg: e.g. days(ts) +
    # bucket(n, url)): lang partition dirs outside, doc_id bucket files
    # inside — one rewrite serves both the pruning predicate and the
    # probe join.
    cat.compact(spark, bucket_by=(8, ["doc_id"]), partition_by=["lang"])
    probe = docs.where("doc_id % 7 = 3").select("doc_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cat.read(spark).join(probe, "doc_id").select(
            "doc_id", "lang", "n_chars"
        )
        plan = _formatted_plan(joined)
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        if n_exchange != 1:  # survives python -O
            raise AssertionError(
                f"bucketed probe join planned {n_exchange} Exchanges "
                "(want probe-side only)"
            )
        if "SelectedBucketsCount" not in plan and "Bucketed: true" not in plan:
            raise AssertionError("catalog read lost the bucket layout")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    pruned_plan = (
        cat.read(spark).where(F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    if "PartitionFilters: [isnotnull(lang" not in pruned_plan:
        raise AssertionError(
            "lang predicate did not reach PartitionFilters through the "
            "composed bucket+partition catalog read"
        )
    return joined


@register(
    "sink_maintenance_compact",
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0
    """,
)
def sink_maintenance_compact(spark: SparkSession, sf: str) -> DataFrame:
    """The auto-compaction POLICY surface for merge-on-read deletes
    (VERDICT r4 task 7) under the value-hash check: six O(keys)
    fast-path delete commits accumulate (count_matched=False — the
    production shape whose commit never scans the table), at which
    point ``maintenance_due()`` must flip to due (the read tax is six
    broadcast anti-joins per scan); ``compact()`` folds the keys into a
    rewritten state, after which maintenance_due reports zero pending
    delete files and the read plan carries no anti-join at all
    (asserted in-query). This is the loop a table-maintenance scheduler
    runs at 100 TB: poll metadata, compact only when the delete-file
    count crosses the threshold."""
    cat = SnapshotCatalog(scratch_dir("sink_maint_"))
    docs = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    cat.append(docs)
    for mod, part in ((11, 0), (11, 1), (11, 2), (13, 0), (13, 1), (13, 2)):
        keys = docs.where(
            (F.col("doc_id") % mod == 0) & (F.col("doc_id") % 3 == part)
        ).select("doc_id")
        cat.delete_keys(spark, keys, ["doc_id"], count_matched=False)
    before = cat.maintenance_due()
    if not (before["due"] and before["pending_delete_files"] == 6):
        raise AssertionError(f"maintenance_due should trigger: {before}")
    if before["recommendation"] != "compact()":
        raise AssertionError(f"missing recommendation: {before}")
    cat.compact(spark)
    after = cat.maintenance_due()
    if after["due"] or after["pending_delete_files"] != 0:
        raise AssertionError(f"compact did not clear the tax: {after}")
    out = cat.read(spark)
    if "LeftAnti" in _formatted_plan(out):
        raise AssertionError("post-compact read still plans an anti-join")
    return out
