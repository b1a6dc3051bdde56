"""Relational substrate (SURVEY.md §2.3–2.9): each operator as a named
query + DuckDB oracle SQL.

The reference has no relational layer [RECALL — SURVEY.md §2.5]; these
serve the quality pipeline (blocklists, lineage, resume, metrics) and prove
the engine's general query capability. All plans are declarative DataFrame
API so Catalyst handles pushdown/pruning/join selection; explicit
``broadcast()`` where the small side is known.

Determinism rules for the driver's value-hash:
  * every computed column aliased identically on both sides
  * float aggregates rounded (summation order differs between engines)
  * window orderings made total with a unique tiebreaker column
  * DuckDB ``sum(BIGINT)`` returns HUGEINT -> always CAST to BIGINT
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..queries import load, register

# ---------------------------------------------------------------- §2.3 scans


@register(
    "scan_parquet",
    """
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 10
    """,
)
def scan_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """Columnar scan with projection + predicate pushdown (both reach the
    parquet reader: ReadSchema is 3 cols, PushedFilters carries both)."""
    return (
        load(spark, sf, "lineitem")
        .filter((F.col("l_shipdate") >= "1998-01-01") & (F.col("l_quantity") < 10))
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------- §2.4 projections / filters


@register(
    "project_select",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def project_select(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents").select("doc_id", "lang", "n_chars")


@register(
    "project_derived",
    """
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS doc_hash,
           'https://' || source || '.example.com/' || CAST(doc_id AS VARCHAR) AS url,
           regexp_extract('https://' || source || '.example.com/' || CAST(doc_id AS VARCHAR),
                          'https?://([^/]+)/', 1) AS url_host,
           length(text) AS text_len
    FROM documents
    """,
)
def project_derived(spark: SparkSession, sf: str) -> DataFrame:
    """Derived columns of the pipeline: doc hash, url, url_host (the skew
    key), text length — all codegen built-ins."""
    d = load(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("doc_hash"),
        url.alias("url"),
        F.regexp_extract(url, r"https?://([^/]+)/", 1).alias("url_host"),
        F.length("text").cast("bigint").alias("text_len"),
    )


@register(
    "filter_predicate",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('O','F')
      AND o_totalprice BETWEEN 10000 AND 200000
      AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
      AND o_custkey IS NOT NULL
    """,
)
def filter_predicate(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(10000, 200000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------- §2.5 joins


@register(
    "join_hash_inner",
    """
    SELECT c.c_mktsegment AS seg, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_hash_inner(spark: SparkSession, sf: str) -> DataFrame:
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_broadcast",
    """
    SELECT p.p_brand AS brand, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS net
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type = 'PROMO'
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): the only sane shape at 100TB — the dim ships
    to executors, the fact never shuffles."""
    l, p = load(spark, sf, "lineitem"), load(spark, sf, "part")
    return (
        l.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")),
               l.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("net"),
        )
    )


@register(
    "join_bucketed",
    """
    SELECT o.o_custkey AS custkey, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located join via bucketing: both sides written once with
    bucketBy(8, key).sortBy(key), so the join AND the same-key aggregation
    run with ZERO ShuffleExchange (asserted in test_plan_quality). This is
    the scale pattern for repeated fact-dim joins at 100TB: pay the
    bucketed layout once, every subsequent join on the key is
    exchange-free. Bucketed tables land in the session warehouse
    (spark-warehouse/), rebuilt only when absent."""
    import shutil
    from urllib.parse import urlparse

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf.split("/")[-1])
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    for t, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"bkt_{t}_{tag}"
        if not spark.catalog.tableExists(name):
            # the in-memory catalog is per-session but the warehouse dir
            # persists; clear a stale location before re-creating
            shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
            (
                load(spark, sf, t)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
    o = spark.table(f"bkt_orders_{tag}")
    c = spark.table(f"bkt_customer_{tag}")
    # hint("merge"): at fixture scale AQE would broadcast the dim side,
    # which hides what bucketing buys; force the sort-merge plan the
    # bucketed layout makes exchange-free AND sort-free (sorted buckets)
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spent"),
        )
    )


@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_left_semi(spark: SparkSession, sf: str) -> DataFrame:
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    big = o.filter(F.col("o_totalprice") > 300000)
    return c.join(big, big.o_custkey == c.c_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join — blocklist drops and resume's files-not-in-manifest."""
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    """
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           count(s.s_suppkey) AS n_suppliers
    FROM nation n FULL OUTER JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    n, s = load(spark, sf, "nation"), load(spark, sf, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "full")
        .groupBy(F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_range_theta",
    """
    SELECT a.event_id AS eid, count(*) AS n_following
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'click'
    GROUP BY a.event_id
    """,
)
def join_range_theta(spark: SparkSession, sf: str) -> DataFrame:
    """Range/theta join: events within (ts, ts+1h] per user. Equi key on
    user_id keeps it a hash/SMJ join; the range is a residual filter —
    never a cartesian."""
    e = load(spark, sf, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
        F.col("ts").alias("a_ts"),
    )
    b = e.select(F.col("user_id").alias("uid2"), F.col("ts").alias("b_ts"))
    return (
        a.join(
            b,
            (F.col("uid") == F.col("uid2"))
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("eid")
        .agg(F.count("*").alias("n_following"))
    )


@register(
    "join_asof_interval",
    """
    SELECT p.event_id AS purchase_id,
           max(c.ts) AS last_click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id AND c.ts <= p.ts AND c.event_type = 'click'
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def join_asof_interval(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (no native Spark op): latest click at-or-before each
    purchase, per user. Purchases and clicks are unioned and one window
    per user, ordered by ts with clicks before purchases at equal ts,
    carries the last click ts forward — one shuffle on user_id and
    linear in a user's events, where a ``c_ts <= p_ts`` join plus max is
    quadratic in a hot user's events. A purchase with no earlier click
    drops out, as in the inner join."""
    e = load(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    both = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").alias("is_purchase"),
        F.col("event_id").alias("purchase_id"),
    )
    click_ts = F.when(~F.col("is_purchase"), F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        both.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("is_purchase") & F.col("last_click_ts").isNotNull())
        # duplicated purchase ids group together, as the oracle's GROUP BY
        .groupBy("purchase_id")
        .agg(F.max("last_click_ts").alias("last_click_ts"))
    )


@register(
    "join_cross",
    """
    SELECT r.r_name AS region, n.n_name AS nation
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    r, n = load(spark, sf, "region"), load(spark, sf, "nation")
    return r.crossJoin(n).select(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    )


# ----------------------------------------------------------- §2.6 aggregates


@register(
    "agg_groupby_basic",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_basic(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: the partial-agg (map-side combine) workhorse."""
    l = load(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))),
            2,
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@register(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "agg_approx_distinct",
    """
    SELECT (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
            <= 0.05 * count(DISTINCT l_partkey)) AS approx_within_5pct
    FROM lineitem
    """,
)
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketches differ between engines, so the *checked* value is the
    tolerance predicate, not the sketch output."""
    l = load(spark, sf, "lineitem")
    return l.agg(
        (
            F.abs(F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey"))
            <= 0.05 * F.countDistinct("l_partkey")
        ).alias("approx_within_5pct")
    )


@register(
    "agg_distinct_rows",
    "SELECT DISTINCT lang, source FROM documents",
)
def agg_distinct_rows(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents").select("lang", "source").distinct()


@register(
    "agg_rollup",
    """
    SELECT coalesce(lang, '__ALL__') AS lang,
           coalesce(source, '__ALL__') AS source,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .rollup("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("__ALL__")).alias("lang"),
            F.coalesce("source", F.lit("__ALL__")).alias("source"),
            "n",
            "chars",
        )
    )


@register(
    "agg_cube",
    """
    SELECT coalesce(l_returnflag, '_') AS rf, coalesce(l_linestatus, '_') AS ls,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("_")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("_")).alias("ls"),
            "n",
        )
    )


@register(
    "agg_grouping_sets",
    """
    SELECT coalesce(lang, '_') AS lang, coalesce(source, '_') AS source, count(*) AS n
    FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    d.createOrReplaceTempView("documents_gs_v")
    return spark.sql(
        """
        SELECT coalesce(lang, '_') AS lang, coalesce(source, '_') AS source, count(*) AS n
        FROM documents_gs_v GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


@register(
    "agg_filtered_pivot",
    """
    SELECT user_id,
           round(coalesce(sum(value) FILTER (event_type = 'click'), 0), 4) AS click_v,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 4) AS purchase_v,
           count(*) FILTER (event_type = 'error') AS n_errors
    FROM events GROUP BY user_id
    """,
)
def agg_filtered_pivot(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == "click", F.col("value"))), F.lit(0.0)), 4
        ).alias("click_v"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), F.lit(0.0)), 4
        ).alias("purchase_v"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )


@register(
    "agg_collect",
    """
    SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
    FROM documents GROUP BY lang
    """,
)
def agg_collect(spark: SparkSession, sf: str) -> DataFrame:
    """collect_set canonicalized (sorted, joined) so the hash is stable."""
    return (
        load(spark, sf, "documents")
        .groupBy("lang")
        .agg(F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"))
    )


@register(
    "agg_percentile",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


@register(
    "skew_salted_agg",
    """
    SELECT source AS url_host, count(*) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY source
    """,
)
def skew_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation for hot keys (BASELINE.json:14 —
    'explicit salting of skewed url-host partitions'): partial agg on
    (key, salt) spreads a hot host over N_SALT reducers, final agg
    combines the partials. avg is recomposed from (sum, count) so the
    result is exactly the unsalted answer."""
    n_salt = 16
    d = load(spark, sf, "documents").withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
    )
    partial = d.groupBy(F.col("source").alias("url_host"), "_salt").agg(
        F.count("*").alias("_n"), F.sum("n_chars").alias("_chars")
    )
    return partial.groupBy("url_host").agg(
        F.sum("_n").alias("docs"),
        F.sum("_chars").alias("total_chars"),
        F.round(F.sum("_chars") / F.sum("_n"), 6).alias("avg_chars"),
    )


@register(
    "skew_aqe_join",
    """
    WITH li AS (
      SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0 ELSE l_orderkey % 50 END AS k,
             CAST(l_quantity AS DOUBLE) AS q
      FROM lineitem
    ),
    dim AS (SELECT i AS k, i * 2 + 1 AS w FROM range(0, 50) t(i))
    SELECT li.k AS k, count(*) AS rows_joined,
           round(sum(li.q * dim.w), 4) AS weighted_qty
    FROM li JOIN dim ON li.k = dim.k
    GROUP BY li.k
    """,
)
def skew_aqe_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skewed sort-merge join for AQE's skew-join splitter: ~80% of the
    fact side lands on key 0 (a hot url-host in the pipeline's terms), and
    the merge hint keeps the join a shuffle join so
    spark.sql.adaptive.skewJoin can split the oversized partition at
    runtime (broadcast would hide the skew, not handle it). The dim side
    is a plain range (shuffle directly under the join's Sort) because
    OptimizeSkewedJoin pattern-matches SMJ(Sort(Shuffle), Sort(Shuffle))
    — an aggregate between Sort and Shuffle opts the join out. The result
    is conf-independent; tests/test_plan_quality.py runs this same plan
    with skew thresholds scaled down to the fixture size and asserts the
    executed plan carries the skew=true SMJ marker."""
    li = load(spark, sf, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
        .otherwise(F.col("l_orderkey") % 50)
        .alias("k"),
        F.col("l_quantity").cast("double").alias("q"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2 + 1).alias("w")
    )
    return (
        li.join(dim.hint("merge"), "k")
        .groupBy("k")
        .agg(
            F.count("*").alias("rows_joined"),
            F.round(F.sum(F.col("q") * F.col("w")), 4).alias("weighted_qty"),
        )
    )


# ------------------------------------------------------------- §2.7 windows


@register(
    "window_row_number",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def window_row_number(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical row per key — the dedup-keep-earliest primitive."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@register(
    "window_rank_dense",
    """
    SELECT o_orderkey,
           rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drnk,
           ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
)
def window_rank_dense(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    by_price = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    by_prio = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    by_price_asc = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.rank().over(by_price).alias("rnk"),
        F.dense_rank().over(by_prio).alias("drnk"),
        F.ntile(4).over(by_price_asc).alias("quartile"),
    )


@register(
    "window_percent_dist",
    """
    SELECT o_orderkey,
           CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_micro,
           CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_micro
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_percent_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-distribution window functions: percent_rank ((rank-1)/(N-1))
    and cume_dist (rows-at-or-before / N) — the percentile-position
    primitives quality-score calibration uses to turn raw scores into
    corpus-relative positions. Values are floored to integer micro-units
    because the raw doubles ARE bit-identical across engines (same IEEE
    division), but floor() is the only rounding both engines agree on
    (round() half-mode differs); the tie-free ORDER BY makes the ranks
    deterministic.

    Scale shape: one hash shuffle on the partition key + per-partition
    external sort, same cost envelope as any ranking window."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return load(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.percent_rank().over(w) * 1_000_000)
        .cast("bigint")
        .alias("pr_micro"),
        F.floor(F.cume_dist().over(w) * 1_000_000)
        .cast("bigint")
        .alias("cd_micro"),
    )


@register(
    "window_lag_lead",
    """
    SELECT event_id,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        # parquet ts is TIMESTAMP_NTZ; cast is identity under UTC session TZ
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        )
        .cast("bigint")
        .alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_frame_rows",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS mov_avg
    FROM events
    """,
)
def window_frame_rows(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return load(spark, sf, "events").select(
        "event_id", F.round(F.avg("value").over(w), 6).alias("mov_avg")
    )


@register(
    "window_frame_range",
    """
    SELECT o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
)
def window_frame_range(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "orders").select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")
    )


@register(
    "limit_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def limit_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        load(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------- §2.8 sorts / limits / setops


@register(
    "sort_orderby",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey
    """,
)
def sort_orderby(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc_nulls_last(), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject: per-partition heap + driver
    merge, no full sort, no shuffle of non-winners."""
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "set_union_all",
    """
    SELECT o_orderkey AS k, 'big' AS tag FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey AS k, 'urgent' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_union_all(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    a = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("k"), F.lit("big").alias("tag")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k"), F.lit("urgent").alias("tag")
    )
    return a.unionByName(b)


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT, matching the SQL EXCEPT oracle


# ------------------------------------------------- §2.9 scalar function fams


@register(
    "str_funcs",
    """
    SELECT p_partkey,
           lower(p_name) AS lname,
           upper(p_brand) AS ubrand,
           length(p_name) AS name_len,
           substring(p_name, 1, 5) AS name5,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS snake,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           CAST(instr(p_name, 'widget') AS BIGINT) AS widget_at,
           levenshtein(p_brand, 'Brand#1') AS lev
    FROM part
    """,
)
def str_funcs(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.instr(F.col("p_name"), "widget").cast("bigint").alias("widget_at"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).alias("lev"),
    )


@register(
    "date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("days_since"),
    )


@register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(ln(l_extendedprice + 1), 6) AS log_price,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           round(pow(1 + l_tax, 2), 6) AS tax_sq,
           abs(round(l_discount - 0.05, 4)) AS disc_dev,
           greatest(l_quantity, 10.0) AS qty_floor10,
           CAST(l_orderkey % 16 AS BIGINT) AS bucket
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    l = load(spark, sf, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.pow(1 + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.abs(F.round(F.col("l_discount") - 0.05, 4)).alias("disc_dev"),
        F.greatest(F.col("l_quantity"), F.lit(10.0)).alias("qty_floor10"),
        (F.col("l_orderkey") % 16).cast("bigint").alias("bucket"),
    )


@register(
    "array_funcs",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum,
           round(CAST(len(list_filter(embedding, x -> x > 0)) AS DOUBLE), 1) AS n_pos
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order array functions over the embedding column — the
    building blocks of the similarity operators."""
    e = load(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("vec_sum"),
        F.round(
            F.size(F.filter("embedding", lambda x: x > 0)).cast("double"), 1
        ).alias("n_pos"),
    )


@register(
    "json_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


@register(
    "map_funcs",
    """
    SELECT doc_id, 'lang' AS key, lang AS value FROM documents
    UNION ALL
    SELECT doc_id, 'source' AS key, source AS value FROM documents
    """,
)
def map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """MapType round-trip: build a map per row, explode it back out.
    Oracle: exploding a two-literal-key map is the UNION ALL of the two
    (doc_id, key, value) projections — same bag, order-insensitive."""
    d = load(spark, sf, "documents")
    m = d.select(
        "doc_id",
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("attrs"),
    )
    return m.select("doc_id", F.explode("attrs").alias("key", "value"))
