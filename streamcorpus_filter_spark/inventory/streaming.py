"""Structured Streaming operator rows (SURVEY.md §2.10) as driver-checkable
queries.

Reference analog: the TREC KBA corpus arrived as an hourly stream of chunk
dirs and the filter was re-run per batch [RECALL, SURVEY.md §2.10]; here
the same engine semantics run as Structured Streaming micro-batches over
the identical schema.

Each query stages the finite fixture as a file-source stream, runs the
streaming plan with ``trigger(availableNow=True)`` to completion, and
returns the sink contents as a regular DataFrame — so the driver's
value-hash check covers the streaming execution path too. The inputs are
written as a single file so the run is one micro-batch and therefore
deterministic under the batch-equivalent SQL oracle; multi-batch state /
late-data semantics (where output depends on batch boundaries) are
asserted in tests/test_streaming.py instead.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries import load, register
from ._scratch import scratch_dir

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


_STAGE_CACHE: dict[tuple[str, str], str] = {}


def _stage_events(spark: SparkSession, sf: str) -> str:
    """Copy the events fixture into a temp dir as ONE parquet file — the
    file-source stream then sees exactly one micro-batch. Staged once per
    (application, sf): the six §2.10 queries reuse one copy instead of
    paying a coalesce+write each (driver-round time-box, VERDICT r1 §1)."""
    key = (spark.sparkContext.applicationId, sf)
    if key not in _STAGE_CACHE:
        d = scratch_dir("stream_src_")
        load(spark, sf, "events").coalesce(1).write.parquet(d, mode="overwrite")
        _STAGE_CACHE[key] = d
    return _STAGE_CACHE[key]


def _events_stream(spark: SparkSession, sf: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(_stage_events(spark, sf))


def _run_to_memory(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute the streaming plan to a memory sink until exhausted; return
    the sink table (a plain DataFrame)."""
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@register(
    "stream_source_files",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_type = 'click'
    """,
)
def stream_source_files(spark: SparkSession, sf: str) -> DataFrame:
    """File-source micro-batch read + stateless transform: the whole
    reference filter loop as a stream (scan -> filter -> project)."""
    s = _events_stream(spark, sf)
    out = s.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(out)


@register(
    "stream_tumbling_agg",
    """
    SELECT date_trunc('day', ts) AS win_start,
           count(*) AS events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time tumbling window with watermark (per-day doc counts of
    SURVEY.md §2.10 on the events fixture)."""
    s = _events_stream(spark, sf)
    out = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "events", "total_value")
    )
    return _run_to_memory(out, output_mode="complete")


@register(
    "stream_sliding_session",
    """
    WITH starts AS (
      SELECT date_trunc('hour', ts) AS win_start FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
    )
    SELECT win_start, count(*) AS events FROM starts GROUP BY 1
    """,
)
def stream_sliding_session(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding event-time window (2h length, 1h slide): every event lands
    in two windows — the oracle enumerates both window starts per event.
    Session windows (gap-based) are asserted in tests/test_streaming.py:
    their output depends on batch boundaries and has no closed-form SQL."""
    s = _events_stream(spark, sf)
    out = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("events"))
        .select(F.col("w.start").alias("win_start"), "events")
    )
    return _run_to_memory(out, output_mode="complete")


@register(
    "stream_session_window",
    """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id,
           min(ts) AS sess_start,
           max(ts) + INTERVAL 30 MINUTE AS sess_end,
           count(*) AS events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based session windows (30-minute inactivity gap) per user as a
    streaming aggregation. Output mode is COMPLETE, so the final state —
    every merged session — is emitted regardless of micro-batch
    boundaries, making the run batch-equivalent and therefore
    SQL-oracle-checkable (the oracle is the classic gaps-and-islands
    sessionization: a session starts where the gap to the previous event
    is >= the 30-minute gap, end = last event + gap — exactly
    session_window's merge rule with its exclusive window end)."""
    s = _events_stream(spark, sf)
    out = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "events",
        )
    )
    return _run_to_memory(out, output_mode="complete")


@register(
    "stream_dedup_watermark",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """Late-data-tolerant streaming dedup: dropDuplicatesWithinWatermark
    on a key (the url/doc_id dedup shape). The Within variant is the
    point: plain dropDuplicates only evicts state when the event-time
    column is PART of the key subset — with keys (user_id, event_type)
    it would grow state forever on a continuous ingest. Within evicts
    each key once the watermark passes its event time + delay, so state
    is bounded by the delay window regardless of stream length. The
    delay (35 days) exceeds the fixture's max duplicate span per key
    (~30 days), so the bounded dedup is value-identical to the exact
    DISTINCT oracle here; production picks the delay from crawl
    recurrence."""
    s = _events_stream(spark, sf)
    out = (
        s.withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(out)


@register(
    "stream_stateful_counts",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator: running per-user counters via
    applyInPandasWithState (the per-host running-state shape). One input
    batch -> one emission per key, equal to the batch aggregate.

    (Spark 4's newer transformWithStateInPandas was tried and is
    environment-blocked here: its streaming python runner needs the
    google.protobuf runtime, absent from this sandbox and uninstallable —
    swap this stage to a StatefulProcessor on a real cluster.)"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
            }
        )

    s = _events_stream(spark, sf)
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, output_mode="update")


@register(
    "stream_sink_checkpoint",
    "SELECT event_id, user_id, value FROM events",
)
def stream_sink_checkpoint(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-once file sink + checkpointLocation: the stream is started
    TWICE against the same checkpoint; the second run finds no new files,
    so the sink holds each row exactly once (re-run idempotence — the
    streaming analog of ql_checkpoint_resume)."""
    src = _stage_events(spark, sf)
    work = scratch_dir("stream_sink_")
    out_dir, ckpt = f"{work}/out", f"{work}/ckpt"
    for _ in range(2):
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


@register(
    "stream_sink_catalog",
    "SELECT event_id, user_id, value FROM events",
)
def stream_sink_catalog(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingest into the snapshot catalog — the production shape
    for continuous ingest into an Iceberg-style table: ``foreachBatch``
    commits each micro-batch as one append snapshot stamped with its
    batchId. Spark's foreachBatch contract is AT-LEAST-ONCE (a batch can
    replay after a failure), so the commit fn first scans committed batch
    ids and SKIPS replays — upgrading the pipeline to exactly-once
    end-to-end, which is precisely how Iceberg's streaming writer
    dedupes. Exercised three ways under the value-hash check: the stream
    runs TWICE on one checkpoint (second run sees no new files), then the
    first batch is force-replayed out-of-band and must be a no-op."""
    from ..catalog import SnapshotCatalog

    src = _stage_events(spark, sf)
    work = scratch_dir("stream_cat_")
    cat = SnapshotCatalog(f"{work}/tbl")
    # seeded ONCE from the durable manifests, then maintained in memory:
    # re-scanning + JSON-parsing every manifest per micro-batch is
    # O(batches^2) driver I/O over a continuous stream's lifetime; a
    # restart re-seeds, so durability is unaffected
    seen: set = set()

    def commit_batch(bdf: DataFrame, bid: int) -> None:
        if not seen:
            seen.update(
                s["metrics"].get("stream_batch_id") for s in cat.snapshots()
            )
            seen.add(None)  # non-empty sentinel: seed exactly once
        if bid in seen:
            return  # at-least-once replay -> exactly-once table
        cat.append(
            bdf.select("event_id", "user_id", "value"),
            metrics={"stream_batch_id": bid},
        )
        seen.add(bid)

    for _ in range(2):
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_committed = len(cat.snapshots())
    # forced replay of batch 0 (the at-least-once failure case)
    commit_batch(spark.read.schema(EVENTS_SCHEMA).parquet(src), 0)
    if len(cat.snapshots()) != n_committed:  # survives python -O
        raise AssertionError("replayed batch re-committed")
    return cat.read(spark)


# --------------------------------------------------- streaming flagship

DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _stage_documents(spark: SparkSession, sf: str) -> str:
    key = (spark.sparkContext.applicationId, sf + "/documents")
    if key not in _STAGE_CACHE:
        d = scratch_dir("stream_docs_")
        load(spark, sf, "documents").coalesce(1).write.parquet(d, mode="overwrite")
        _STAGE_CACHE[key] = d
    return _STAGE_CACHE[key]


def _flagship_stream_oracle() -> str:
    from ..names import occurrences_sql, presence_sql
    from ..queries import _NAMES

    return f"""
    WITH m AS (
      SELECT lang,
             {presence_sql(_NAMES)} AS patterns_matched,
             {occurrences_sql(_NAMES)} AS total_hits
      FROM documents
    )
    SELECT lang,
           count(*) AS docs,
           CAST(sum(patterns_matched) AS BIGINT) AS pats,
           CAST(sum(total_hits) AS BIGINT) AS hits
    FROM m WHERE patterns_matched > 0
    GROUP BY lang
    """


@register("stream_flagship_filter", _flagship_stream_oracle())
def stream_flagship_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The north-star job as a STREAM: the same broadcast Aho-Corasick
    match -> filter -> per-lang counters that flagship_filter_agg runs in
    batch, executed as a Structured Streaming micro-batch plan (file
    source -> Arrow-vectorized UDF -> stateful agg, complete mode). The
    KBA corpus arrived hourly; this row proves the engine's core runs
    unchanged under readStream, pandas UDF and all, and matches the batch
    SQL oracle exactly."""
    from ..functions.udfs import ac_count_udf
    from ..names import DEFAULT_FILTER_NAMES
    from ..queries import cached_broadcast

    bc = cached_broadcast(spark, "default_ac", DEFAULT_FILTER_NAMES.compile)
    s = spark.readStream.schema(DOCS_SCHEMA).parquet(_stage_documents(spark, sf))
    m = s.withColumn("m", ac_count_udf(bc)(F.col("text")))
    out = (
        m.filter(F.col("m.patterns_matched") > 0)
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("m.patterns_matched").cast("bigint").alias("pats"),
            F.sum("m.total_hits").cast("bigint").alias("hits"),
        )
    )
    return _run_to_memory(out, output_mode="complete")

_BATCH_STAGE: dict[tuple[str, str], str] = {}


def _stage_incr_batch(spark: SparkSession, sf: str) -> str:
    """Stage the planted 'next crawl batch' (verbatim copies of every
    doc_id%3==0 doc at +2M ids, novel variants of %3==1 at +3M — the
    dedup_incremental fixture) as ONE parquet file for a one-micro-batch
    stream."""
    key = (spark.sparkContext.applicationId, sf)
    if key not in _BATCH_STAGE:
        d = load(spark, sf, "documents")
        batch = (
            d.filter(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 2_000_000).alias("new_id"), "text")
            .unionByName(
                d.filter(F.col("doc_id") % 3 == 1).select(
                    (F.col("doc_id") + 3_000_000).alias("new_id"),
                    F.concat(
                        "text", F.lit(" novelty-"), F.col("doc_id").cast("string")
                    ).alias("text"),
                )
            )
        )
        out = scratch_dir("stream_batch_")
        batch.coalesce(1).write.parquet(out, mode="overwrite")
        _BATCH_STAGE[key] = out
    return _BATCH_STAGE[key]


@register(
    "stream_static_join_dedup",
    """
    WITH seen_min AS (
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
def stream_static_join_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STATIC JOIN — the §2.10 shape every recurring crawl needs
    and the one Structured Streaming capability the other streaming rows
    don't exercise: new documents arrive as a stream and are probed,
    per micro-batch and fully stateless, against a STATIC reference
    table (here the seen corpus's (content-hash -> min doc) dedup
    index; the same plan shape serves domain blocklists, benchmark
    decontamination grams, or the MinHash band index). Because the
    stream side carries no state and the static side is a plain batch
    DataFrame, output is row-identical regardless of how the input
    splits into micro-batches (asserted in tests/test_streaming.py) and
    the batch SQL oracle checks it value-for-value. On a cluster the
    static side is a broadcast or a bucketed table; nothing about the
    plan changes."""
    seen = (
        load(spark, sf, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("src_doc"))
    )
    s = spark.readStream.schema("new_id bigint, text string").parquet(
        _stage_incr_batch(spark, sf)
    )
    out = (
        s.withColumn("h", F.md5("text"))
        .join(seen, "h", "left")
        .select(
            "new_id",
            F.col("src_doc").isNotNull().alias("is_dup"),
            "src_doc",
        )
    )
    return _run_to_memory(out, output_mode="append")

@register(
    "stream_stream_join",
    """
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id,
           epoch_us(p.p_ts) - epoch_us(c.c_ts) AS lag_us
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.p_ts >= c.c_ts
     AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STREAM interval join — the other Structured Streaming
    join shape (both sides unbounded, state + watermark on each): every
    click joined to the same user's purchases within the following
    hour, the classic attribution join. Both sides carry a 1-hour
    watermark so the state store can evict rows the interval condition
    can no longer match — the exact mechanism that bounds state at
    10^12-event scale; with the finite fixture in one micro-batch no
    row is evicted early, so the batch SQL oracle value-checks the
    result. The join lag is emitted in exact integer MICROSECONDS
    (Spark unix_micros == DuckDB epoch_us; a seconds-granularity diff
    would truncate before subtracting on one engine and after on the
    other)."""
    clicks = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    j = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    return _run_to_memory(j, output_mode="append")



# ------------------------------------------------- streaming WAP gate

def _stage_wap_batches(spark: SparkSession, sf: str) -> str:
    """Five one-file batches in a flat stream dir: groups doc_id%4 of
    the real documents (each a GOOD crawl batch) plus one POISONED batch
    (group-0 copies re-keyed +1000000 with n_chars = -1) that the audit
    must reject. One parquet file per batch + maxFilesPerTrigger=1 makes
    batch composition deterministic, so the oracle can recompute the
    published table exactly."""
    import pathlib
    import shutil

    key = (spark.sparkContext.applicationId, sf + "/wap_batches")
    if key not in _STAGE_CACHE:
        d = scratch_dir("stream_wap_")
        docs = load(spark, sf, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        batches = [
            docs.where(F.col("doc_id") % 4 == g) for g in range(4)
        ] + [
            docs.where(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "lang",
                F.lit(-1).cast("long").alias("n_chars"),
            )
        ]
        for i, b in enumerate(batches):
            tmp = scratch_dir("wap_part_")
            b.coalesce(1).write.parquet(tmp, mode="overwrite")
            part = next(pathlib.Path(tmp).glob("*.parquet"))
            shutil.copy(part, pathlib.Path(d) / f"batch{i}.parquet")
            shutil.rmtree(tmp, ignore_errors=True)
        _STAGE_CACHE[key] = d
    return _STAGE_CACHE[key]


@register(
    "stream_sink_wap",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def stream_sink_wap(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming write-audit-publish quality gate — continuous
    ingest where every micro-batch is STAGED, audited, then published or
    aborted, so a bad crawl batch never becomes visible table state and
    good batches land exactly once. This is the production composition
    of stream_sink_catalog's exactly-once bookkeeping with the WAP
    verbs: foreachBatch stages the batch (invisible), the audit checks
    it (here: no corrupted n_chars < 0 rows — in production the full
    quality-rule suite runs against the staged audit view), then
    publish() cherry-picks it to the head or abort_staged() discards it
    with its inputs left re-ingestable.

    Exactly-once: Spark's foreachBatch is AT-LEAST-ONCE, so the commit
    fn first scans the catalog for the batch id — a PUBLISHED manifest
    carrying it (publish inherits staged metrics) means the decision
    landed, so the replay is skipped before any data write; a bid whose
    only carrier is a still-STAGED manifest means the writer crashed
    between stage() and the decision, and the replay FINISHES it by
    re-auditing the durable staged rows (skipping would strand the
    batch invisible forever). A replayed ABORTED batch re-stages and
    re-aborts to the same outcome (decision idempotence). Exercised
    under the value-hash check: 5 batches (4 good + 1 poisoned) through
    the gate, the stream re-run on the same checkpoint (no-op), a
    published batch force-replayed out-of-band (no-op), and in-query
    asserts that exactly one abort tombstone exists and exactly 4
    batches published — the final read must equal the fixture exactly,
    proof no poisoned row leaked and no good row duplicated."""
    from ..catalog import SnapshotCatalog

    src = _stage_wap_batches(spark, sf)
    work = scratch_dir("stream_wap_tbl_")
    cat = SnapshotCatalog(f"{work}/tbl")
    schema = "doc_id bigint, lang string, n_chars bigint"

    # DECIDED bids are memoized so an at-least-once replay storm skips
    # in O(1) instead of re-scanning + JSON-parsing every manifest per
    # replayed micro-batch (O(batches^2) driver I/O over a continuous
    # stream). An UNKNOWN bid still pays one durable manifest scan
    # before committing fresh — that scan is what catches manifests this
    # closure never wrote (a crashed prior writer's pending stage, a
    # racing twin's decision), so correctness never leans on the memo.
    decided: set = set()
    crash_pending: dict = {}

    def _rescan() -> None:
        crash_pending.clear()
        for s in cat.snapshots():
            b = s["metrics"].get("stream_batch_id")
            if b is None:
                continue
            if s.get("operation") == "staged":
                crash_pending[b] = s
            else:
                decided.add(b)
        for b in decided:
            crash_pending.pop(b, None)

    def commit_batch(bdf: DataFrame, bid: int) -> None:
        # replay triage must distinguish DECIDED from PENDING: a bid on
        # a published head (publish inherits staged metrics) means skip
        # before any data write, but a bid whose only carrier is a
        # still-staged manifest means the writer crashed between stage()
        # and the publish/abort decision — skipping THAT would leave the
        # batch staged/invisible forever (silent data loss on the
        # exactly-once path). Finish the decision instead: re-audit the
        # durable STAGED rows (not the replayed frame) and publish/abort
        # — both verbs are idempotent, so a racing twin converges.
        if bid in decided:
            return  # published/aborted: the decision already landed
        _rescan()
        if bid in decided:
            return
        pending = crash_pending.pop(bid, None)
        if pending is None:
            pending = cat.stage(bdf, metrics={"stream_batch_id": bid})
            audit = bdf
        else:
            # resolve by basename, never the raw recorded path — a
            # relocated table root must still settle its pending batch
            audit = spark.read.parquet(cat._data_dir(pending))
        if audit.where("n_chars < 0").limit(1).count() == 0:
            cat.publish(pending["snapshot_id"])
        else:
            cat.abort_staged(pending["snapshot_id"])
        decided.add(bid)

    for _ in range(2):  # second run on the same checkpoint sees nothing
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    snaps = cat.snapshots()
    published = [
        s for s in snaps
        if s["metrics"].get("stream_batch_id") is not None
        and s.get("operation") == "append"
    ]
    tombs = [s for s in snaps if s.get("operation") == "abort"]
    if len(published) != 4 or len(tombs) != 1:  # survives python -O
        raise AssertionError(
            f"gate outcome drifted: {len(published)} published, "
            f"{len(tombs)} aborted (want 4/1)"
        )
    # force-replay a published batch out-of-band (at-least-once case)
    some_bid = published[0]["metrics"]["stream_batch_id"]
    commit_batch(
        spark.read.schema(schema).parquet(f"{src}/batch0.parquet"), some_bid
    )
    if len(cat.snapshots()) != len(snaps):
        raise AssertionError("replayed published batch re-committed")
    # crash-between-stage-and-decision replay: stage a poisoned batch
    # under a fresh bid (the writer "crashed" before auditing), then
    # replay — the gate must FINISH the decision from the durable staged
    # rows (here: abort), never skip and strand the batch invisible
    poisoned = spark.read.schema(schema).parquet(f"{src}/batch4.parquet")
    cat.stage(poisoned, metrics={"stream_batch_id": 99})
    commit_batch(poisoned.limit(0), 99)  # replayed frame may be anything
    snaps2 = cat.snapshots()
    if len([s for s in snaps2 if s.get("operation") == "staged"]) != 0:
        raise AssertionError("pending replay left a batch staged forever")
    if len([s for s in snaps2 if s.get("operation") == "abort"]) != 2:
        raise AssertionError("pending poisoned replay was not aborted")
    return cat.read(spark)
