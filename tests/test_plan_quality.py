"""Physical-plan quality guards (SURVEY.md §4.2, §7(e)).

The spec bans per-row Python in the hot path (BASELINE.json:15) and the
scale story depends on Catalyst actually delivering column pruning,
predicate pushdown, and broadcast joins. These are plan-shape assertions:
``explain`` only, except where a guard needs the executed (final
adaptive) plan.
"""

from __future__ import annotations

import contextlib
import io

SF_SMALL = "/root/testdata/sf0.001"

# Invoking these queries performs real work (writes a snapshot, runs a
# stream to a memory sink) — plan text is checked for the rest.
SIDE_EFFECT_PREFIXES = ("stream_", "sink_", "scan_iceberg", "ql_checkpoint")

# Python UDTFs evaluate row-at-a-time by design; udtf_explode is the one
# documented capability-parity exception (inventory/udf_surface.py:12-16).
ROW_PYTHON_ALLOWED = {"udtf_explode"}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_per_row_python_anywhere(spark):
    """Every inventory query's physical plan must use Arrow-vectorized
    Python nodes (ArrowEvalPython / MapInPandas / MapInArrow /
    FlatMapGroupsInPandas / AggregateInPandas), never row-pickling
    BatchEvalPython."""
    import __spark_entry__ as e

    offenders = []
    for name, fn in sorted(e.queries().items()):
        if name.startswith(SIDE_EFFECT_PREFIXES) or name in ROW_PYTHON_ALLOWED:
            continue
        plan = plan_of(fn(spark, SF_SMALL))
        # "BatchEvalPython" is the row-at-a-time node; the UDTF variant
        # ("BatchEvalPythonUDTF") is caught by the same substring.
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert offenders == [], f"row-at-a-time Python fences in: {offenders}"


def test_column_pruning_reaches_scan(spark):
    """ql_gopher_rules touches only (doc_id, text): the parquet ReadSchema
    must not include lang/source/n_chars — at crawl scale pruning the
    unused columns is the single biggest IO win."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["ql_gopher_rules"](spark, SF_SMALL))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for l in scans:
        assert "source" not in l and "n_chars" not in l, l


def test_predicate_pushdown_reaches_scan(spark):
    """join_broadcast filters part.p_type = 'PROMO'; the equality must
    appear in PushedFilters (row-group skipping), not only in a
    post-scan Filter."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["join_broadcast"](spark, SF_SMALL))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_type" in l for l in pushed), plan


def test_small_dim_join_is_broadcast(spark):
    """The blocklist/dim-table join pattern must plan as
    BroadcastHashJoin, never a shuffle join on the fact side."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["join_broadcast"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    """join_bucketed pays the bucketed layout once; the join AND the
    same-key aggregation must then plan with ZERO ShuffleExchange — the
    co-located-join contract bucketing exists for."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["join_bucketed"](spark, SF_SMALL))
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_pipeline_reads_no_html_when_text_given(spark):
    """run_quality_pipeline(extract_from_html=False) must never read the
    html column: at 100 TB the raw bytes dominate the table and pruning
    them is the difference between scanning ~20% and 100% of the data."""
    import tempfile

    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
    from streamcorpus_filter_spark.synth import write_pages_parquet

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/pages.parquet"
        write_pages_parquet(path, 300, seed=11)
        pages = spark.read.parquet(path)
        out = run_quality_pipeline(spark, pages, extract_from_html=False)
        plan = plan_of(out)
        scans = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scans, plan
        for l in scans:
            assert "html" not in l, l


def test_pipeline_is_single_arrow_fence(spark):
    """The fused quality pipeline promises ONE Python fence over the data
    (BENCH/BASELINE.md finding 1): more fences means the whole corpus
    crosses the JVM<->Python Arrow boundary again. And the fat html rows
    never cross a shuffle (finding 2): over a crawl-style multi-file
    input with fewer splits than cores, the EXECUTED plan is one stage —
    scan -> ArrowEvalPython -> keep/drop Project — with no Exchange."""
    import tempfile

    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
    from streamcorpus_filter_spark.synth import write_pages_dir

    with tempfile.TemporaryDirectory() as d:
        write_pages_dir(f"{d}/pages", 240, seed=11, files=3)
        out = run_quality_pipeline(
            spark, spark.read.parquet(f"{d}/pages"), extract_from_html=True
        )
        assert len(out.collect()) == 240
        plan = out._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan that ran
        tree = plan.treeString()
    assert tree.count("ArrowEvalPython") == 1, tree
    for node in ("Exchange", "MapInPandas", "MapInArrow", "BatchEvalPython"):
        assert node not in tree, tree


def test_aqe_splits_skewed_join(spark):
    """The skew_aqe_join shape (80% of the fact side on one key, merge
    hint pins a shuffle join) must actually trigger AQE's skew splitter
    when the thresholds are scaled to fixture size: the executed adaptive
    plan carries the skew=true SortMergeJoin marker. This is the runtime
    half of the skew story (the salted two-phase agg is the compile-time
    half)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        # fixture shuffle blocks are tiny and lz4-compressed; at real scale
        # these stay at their 256MB/64MB defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100B",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100B",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
            F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
            .otherwise(F.col("l_orderkey") % 50)
            .alias("k"),
            "l_quantity",
        )
        dim = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 2 + 1).alias("w")
        )
        j = li.join(dim.hint("merge"), "k")
        n = len(j.collect())
        assert n == li.count()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_run_order_covers_every_registered_query():
    """RUN_ORDER is the driver-attestation rotation — a query missing
    from it silently falls to append-order and may never get a driver
    row. Every registered query must be listed exactly once, and every
    listed name must exist (catches renames going stale)."""
    import __spark_entry__ as e
    from streamcorpus_filter_spark.queries import RUN_ORDER

    registered = set(e.queries())
    listed = list(RUN_ORDER)
    assert len(listed) == len(set(listed)), "duplicate names in RUN_ORDER"
    assert set(listed) == registered, (
        f"missing from RUN_ORDER: {sorted(registered - set(listed))}; "
        f"stale in RUN_ORDER: {sorted(set(listed) - registered)}"
    )


def test_host_cap_is_salted_two_phase(spark):
    """ql_host_cap must NOT be one global window over the raw host key
    (a mega-host would sort in a single reducer): the plan needs two
    window stages — the first partitioned by (host, salt), the second by
    host over the capped survivors — and no Python fence."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["ql_host_cap"](spark, SF_SMALL))
    assert plan.count("Window") >= 2, plan
    assert "salt" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_has_no_window(spark):
    """ql_line_dedup must not window over the raw line key: line
    frequency on a real crawl is Zipfian, so `row_number() OVER
    (PARTITION BY line)` sorts every copy of a hot boilerplate line in
    ONE reducer (hashing never splits equal keys). The de-skewed shape
    is a map-side-combinable groupBy(line).min(struct) — zero Window
    operators anywhere in the plan (reassembly is a groupBy too)."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["ql_line_dedup"](spark, SF_SMALL))
    assert "Window" not in plan, plan
    # the survivor agg must be a real partial/final hash aggregate
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_url_keep_latest_has_no_window(spark):
    """dedup_url_keep_latest must pick each URL's winning capture with a
    map-side-combinable max() over the packed (seq, doc_id) BIGINT plus
    a join-back — never a window over the URL key (URL capture counts
    on real crawls are Zipfian: one hot URL re-crawled hourly would be
    a single-reducer sort)."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["dedup_url_keep_latest"](spark, SF_SMALL))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_ngram_jaccard_df_cap_has_no_window(spark):
    """jaccard_pairs' df cap must count shingle frequency with a
    map-side-combinable groupBy + semi-join back, not a window over the
    shingle key — a crawl-scale hot shingle ("of the and") would gather
    every copy in ONE reducer before the cap even filters it."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["dedup_ngram_jaccard"](spark, SF_SMALL))
    assert "Window" not in plan, plan


def test_substring_spans_no_null_window(spark):
    """dedup_substring_spans must never feed NULL span hashes into the
    corpus-wide window: short docs (< W tokens) used to ride through
    explode_outer as NULL keys, making the NULL window partition a
    single-reducer giant at crawl scale. The fix uses plain explode
    (empty offset array => zero span rows) and restores short docs at
    the per-doc rollup via a 1:1 left join."""
    import pyspark.sql.functions as F

    import __spark_entry__ as e

    df = e.queries()["dedup_substring_spans"](spark, SF_SMALL)
    # explode_outer lowers to Generate(<expr>, <req>, outer=true, ...);
    # the physical plan prints the outer flag as a bare boolean after
    # the required-columns list — every Generate here must be non-outer
    # (explain("formatted") elides the flag, so use the raw plan string)
    plan = df._jdf.queryExecution().executedPlan().toString()
    gen_lines = [l for l in plan.splitlines() if "Generate explode" in l]
    assert gen_lines, plan
    for l in gen_lines:
        assert ", false, " in l and ", true, " not in l, l
    # runtime property: short docs are present with zero spans (the
    # fixture corpus contains docs under 8 tokens), never NULL counts
    short = df.filter(F.col("n_spans") == 0)
    assert short.filter(F.col("n_dup_spans") != 0).count() == 0
    assert df.filter(F.col("n_spans").isNull()).count() == 0


def test_bucketed_index_join_has_no_index_side_exchange(spark, tmp_path):
    """The incremental near-dup demo's at-scale claim, codified
    (BENCH/BASELINE.md, "Retired demo records"): an equi-join between a
    Hive-bucketed index table (bucketBy on the join key — the sandbox
    stand-in for Iceberg's bucket(bh) transform) and a non-bucketed
    probe side plans an Exchange ONLY on the probe side. The persisted
    band index is read in place; only the day's batch shuffles, which
    is what makes probe cost independent of corpus history at 10^12
    docs."""
    import pyspark.sql.functions as F

    tbl = "test_bucketed_idx_plan"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the shuffle-join path: broadcasting the tiny test probe would
    # bypass the bucketing machinery this test is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        (spark.range(2000)
         .select((F.col("id") % 16).alias("band"),
                 F.xxhash64("id").alias("bh"),
                 F.col("id").alias("doc_id"))
         .write.bucketBy(8, "band", "bh").sortBy("band", "bh")
         .mode("overwrite").saveAsTable(tbl))
        probe = spark.range(100).select(
            (F.col("id") % 16).alias("band"),
            F.xxhash64("id").alias("bh"),
            F.col("id").alias("new_id"),
        )
        joined = spark.table(tbl).join(probe, ["band", "bh"])
        plan = plan_of(joined)
        # formatted explain prints each node twice (tree + detail header);
        # count physical Exchange NODES via the numbered detail headers
        import re

        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, f"expected probe-side-only Exchange:\n{plan}"
        # and the bucketed scan really is the shuffle-free side:
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_incremental_minhash_candidate_semijoin_is_broadcast(spark):
    """dedup_incremental_minhash must BROADCAST the candidate-id set into
    the semi-join that picks the seen docs to verify. Left to size-based
    planning the semi-join sort-merge-shuffles the STREAM side — the
    whole seen corpus — so probe shuffle grows with corpus history even
    though the output is candidates-only (measured before the hint:
    this join's twin was ~70% of probe shuffle; BENCH/BASELINE.md,
    "Retired demo records"). Candidate ids are band-collision-bounded,
    orders of magnitude below the corpus, so the broadcast turns the
    verify into a scan-side filter."""
    import re

    from streamcorpus_filter_spark import queries as reg

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # prove it's the explicit hint, not size-based auto-broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(reg.QUERIES["dedup_incremental_minhash"](spark, SF_SMALL))
        assert re.search(r"BroadcastHashJoin LeftSemi", plan), plan
        assert not re.search(r"SortMergeJoin.*LeftSemi", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_catalog_partitioned_read_prunes_partitions(spark, tmp_path):
    """A filter on the partition key through SnapshotCatalog.read() must
    reach the scan as a PartitionFilter and shrink the actual file set —
    the property that makes a lang/source-partitioned 100 TB table
    readable: a one-language query touches one directory subtree, not
    the corpus. Regression risk: read() passes an explicit schema plus
    basePath per snapshot dir; get either wrong and Spark silently falls
    back to post-scan filtering over every file."""
    import pyspark.sql.functions as F

    from streamcorpus_filter_spark.catalog import SnapshotCatalog

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars", "lang"
    )
    c.append(docs, partition_by=["lang"])
    filtered = c.read(spark).where(F.col("lang") == "en")
    plan = plan_of(filtered)
    # the lang predicate must land in PartitionFilters (directory-level
    # pruning), NOT in PushedFilters (per-file data filtering) — note
    # inputFiles() can't evidence this: it lists the pre-pruning index
    part = plan.split("PartitionFilters")[1][:160]
    assert "lang" in part, plan
    # a fully-pruned plan has NO PushedFilters section at all (no data
    # filters survive); if one exists, lang must not be in it
    if "PushedFilters" in plan:
        assert "lang" not in plan.split("PushedFilters")[1][:160], plan
    # and the pruned read still returns exactly the partition's rows
    n_en = docs.where(F.col("lang") == "en").count()
    assert filtered.count() == n_en


def test_cluster_sample_is_salted_two_phase(spark):
    """emb_cluster_balanced_sample must NOT take its per-cluster quota
    with one window over the raw cluster key (K is tiny while clusters
    are corpus-sized — the megacluster would sort in one reducer): the
    plan needs the two salted window stages (ql_host_cap's pattern) —
    first partitioned by (cluster, salt), second by cluster over the
    bounded survivors."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["emb_cluster_balanced_sample"](spark, SF_SMALL))
    assert plan.count("Window") >= 2, plan
    assert "salt" in plan, plan
