"""Round-2 breadth: dedup clustering, corpus n-gram stats, and non-parquet
source scans (training-data-pipeline operators; graded alongside
SURVEY.md §2).

`dedup_cluster_components` is the step AFTER near-dup pair generation in a
real dedup pipeline: pairs -> connected components -> one canonical doc
per component. Spark side is alternating large-star/small-star rounds on
the edge set (Kiveris et al., O(log^2 n) rounds, skew-balanced: min-agg +
join-back, never a collected neighbor list). The DuckDB oracle computes
the same components with a recursive transitive-closure CTE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import jaccard_pairs, word_shingles
from ..queries import load, register
from ._scratch import scratch_dir
from .twins import MAX_SHINGLE_DF, TWINNED_SQL as _TWINNED, twinned


def _twinned(spark: SparkSession, sf: str) -> DataFrame:
    return twinned(spark, sf, load)

# --------------------------------------------------- dedup clustering

_PAIRS_SQL = f"""
    WITH RECURSIVE t AS ({_TWINNED}),
    w AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words FROM t),
    sh0 AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(range(1, greatest(len(words) - 1, 1))) AS r(i)
    ),
    sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM sh0
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    ),
    pairs AS (
      SELECT a, b
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    )
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node u connects each STRICTLY LARGER
    neighbor to m = min(N(u) ∪ {u}). Input/output edges oriented
    (u > v). Formulated as min-agg + join-back — NEVER collect_list —
    so a mega-star component costs a map-side-combinable min plus an
    equi-join whose build side is one row per node (AQE can split the
    skewed probe partition); no single reducer ever sees a full
    neighbor list."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mnv"))
        .select("u", F.least("_mnv", "u").alias("mn"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node u connects each smaller-or-self
    neighbor (and itself) to m = min(N⁻(u) ∪ {u}). Input edges oriented
    (u > v), so m = min(v); same min-agg + join-back shape as
    ``_large_star``."""
    m = edges.groupBy("u").agg(F.min("v").alias("mn"))
    rewired = (
        edges.join(m, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edge = m.select("u", F.col("mn").alias("v"))
    return rewired.unionByName(self_edge).distinct()


@register(
    "dedup_cluster_components",
    f"""
    {_PAIRS_SQL},
    edges AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u)
    SELECT t.doc_id, coalesce(comp.component_id, t.doc_id) AS component_id
    FROM (SELECT doc_id FROM ({_TWINNED})) t
    LEFT JOIN comp ON comp.doc_id = t.doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the near-dup pair graph (jaccard >= 0.2
    on the twinned corpus): every doc labeled with the smallest doc_id
    reachable from it; singletons label themselves.

    Algorithm: alternating large-star / small-star rounds on the edge
    set itself (O(log² n) round bound, proven) instead of round-1's
    label propagation. Two scale properties motivate the switch:
    (1) *skew* — both star ops are a map-side-combinable min plus an
    equi-join against a one-row-per-node table, so a single mega-cluster
    (one viral boilerplate page duplicated everywhere) never funnels a
    whole neighbor list through one reducer the way a neighbor-min
    groupBy over labels did; (2) *doubling* — large-star hangs every
    high node directly off its neighborhood minimum, which halves path
    lengths like pointer jumping, so chain diameter converges in
    O(log d) effective rounds too. Converged state = disjoint stars:
    every non-root points straight at its component min."""
    docs = _twinned(spark, sf).select("doc_id")
    sh = word_shingles(_twinned(spark, sf), "doc_id", "text", k=3)
    pairs = jaccard_pairs(sh, "doc_id", threshold=0.2, max_df=MAX_SHINGLE_DF)
    # orient (u > v); jaccard_pairs emits a < b
    edges = pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    # materialize the pair-generation plan once; every round and the
    # convergence check re-reads it
    edges = edges.localCheckpoint(eager=True)
    converged = False
    for _round in range(30):  # alternating rounds: O(log² n) bound
        new = _small_star(_large_star(edges))
        # break lineage every round: each star op references its input
        # twice (agg + join-back), so the logical plan doubles per round
        # without truncation — plan-stringification OOM long before any
        # data pressure. localCheckpoint materializes the (small) edge
        # table and restarts the plan; at 10^11 edges this becomes a
        # reliable checkpoint() to HDFS/object storage, same seam.
        new = new.localCheckpoint(eager=True)
        # set-equality in ONE job: both sides are distinct, so tagging
        # new=1 / old=2 and summing per edge yields 3 iff present in both
        changed = (
            new.withColumn("_s", F.lit(1))
            .unionByName(edges.withColumn("_s", F.lit(2)))
            .groupBy("u", "v")
            .agg(F.sum("_s").alias("_s"))
            .filter(F.col("_s") != 3)
            .limit(1)
            .count()
            > 0
        )
        edges = new
        if not changed:
            converged = True
            break
    if not converged:
        # a silent exit here would return split labels for any component
        # still mid-contraction while the exact-transitive-closure oracle
        # labels it fully — fail loudly instead of mismatching
        raise RuntimeError(
            "dedup_cluster_components: large-star/small-star did not "
            "converge within 30 alternating rounds; raise the cap"
        )
    # converged stars: every non-root appears exactly once as u -> min;
    # roots and singletons label themselves
    labels = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component_id")
    )
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
        )
    )


@register(
    "dedup_retention_components",
    f"""
    {_PAIRS_SQL},
    edges AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
    lab AS (
      SELECT t.doc_id, coalesce(comp.component_id, t.doc_id) AS component_id
      FROM (SELECT doc_id FROM ({_TWINNED})) t
      LEFT JOIN comp ON comp.doc_id = t.doc_id
    )
    SELECT doc_id, component_id,
           doc_id = component_id AS keep,
           CASE WHEN doc_id <> component_id THEN component_id END AS dup_of
    FROM lab
    """,
)
def dedup_retention_components(spark: SparkSession, sf: str) -> DataFrame:
    """TRANSITIVE retention labels (VERDICT r3 task 7): keep exactly one
    doc per near-dup connected component — the component root (smallest
    doc_id) — and label every other member with ``dup_of`` = that root.
    This is the retention policy large-scale dedup actually applies
    (dedup_keep_first's single-hop ``dup_of`` can point at a doc that is
    itself dropped; here the chain is collapsed, so the kept set is
    exactly one doc per component and every dropped doc names a KEPT
    ancestor). One declarative layer over dedup_cluster_components:
    component ids come from the alternating large-star/small-star
    contraction (skew-safe min-agg + join-back), and the labels are a
    zero-shuffle projection on top — no new distributed machinery, so
    the 100 TB shape is exactly the CC op's. The oracle recomputes the
    same components with the exact recursive transitive-closure CTE."""
    lab = dedup_cluster_components(spark, sf)
    root = F.col("doc_id") == F.col("component_id")
    return lab.select(
        "doc_id",
        "component_id",
        root.alias("keep"),
        F.when(~root, F.col("component_id")).alias("dup_of"),
    )


# --------------------------------------------------- corpus n-gram stats


@register(
    "txt_top_ngrams",
    """
    WITH w AS (
      SELECT list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words
      FROM documents
    ),
    grams AS (
      SELECT words[i] || ' ' || words[i+1] AS gram
      FROM w, UNNEST(range(1, len(words))) AS r(i)
    )
    SELECT gram, count(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def txt_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level top-20 word bigrams — the vocabulary/contamination
    statistic every training-data pipeline computes. Shape: explode ->
    partial (map-side) count -> one shuffle on gram -> TakeOrdered.
    At 100 TB the same plan holds; a df cap or count-min sketch replaces
    the exact tail if the gram space outgrows the shuffle."""
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    # sequence(1, n) with n < 1 DESCENDS ([1, 0]) instead of being empty
    # (element_at(t, 0) would then throw) — guard docs with < 2 words
    grams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(" ", F.element_at("t", i), F.element_at("t", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        load(spark, sf, "documents")
        .select(toks.alias("t"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


# --------------------------------------------------- decontamination

# the "benchmark" is a deterministic slice of the corpus itself (every
# 97th doc) so the check needs no external data: its distinct 8-gram
# shingles are the contamination dictionary, broadcast to executors.
_BENCH_MOD = 97
_GRAM_W = 8


@register(
    "txt_contamination",
    f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r\f\x0B]+'), x -> x <> '') AS words
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+{_GRAM_W - 1}], ' ') AS gram
      FROM w, UNNEST(range(1, greatest(len(words) - {_GRAM_W - 2}, 1))) AS r(i)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    hits AS (
      SELECT g.doc_id, count(*) AS bench_hits
      FROM g JOIN bench USING (gram)
      WHERE g.doc_id % {_BENCH_MOD} <> 0
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.bench_hits, 0) AS bench_hits,
           coalesce(h.bench_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    """,
)
def txt_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-benchmark decontamination: per doc, how many DISTINCT 8-gram
    shingles also occur in the benchmark slice (doc_id % 97 == 0), plus a
    contaminated flag. Shape: shingle both sides with built-ins (no
    Python), broadcast the tiny distinct benchmark-gram dictionary, hash
    semi-join per exploded gram, count per doc. At crawl scale the
    benchmark side (a real eval suite) is a few MB — the broadcast join
    means the corpus never shuffles; only the per-doc count aggregates."""
    d = load(spark, sf, "documents")
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    # sequence(1, n) with n < 1 DESCENDS ([1, 0]) instead of being empty —
    # docs shorter than one gram must short-circuit to an empty array
    grams = F.when(
        F.size("w") >= _GRAM_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - _GRAM_W + 1),
                lambda i: F.concat_ws(" ", F.slice("w", i, _GRAM_W)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = (
        d.select("doc_id", toks.alias("w"))
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    bench = (
        exploded.filter(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    )
    corpus = exploded.filter(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("bench_hits"))
    )
    return (
        d.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("bench_hits", F.lit(0)).alias("bench_hits"),
            (F.coalesce("bench_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------- embedding centroids


@register(
    "emb_label_centroid",
    """
    WITH ex AS (
      SELECT label, CAST(i - 1 AS INT) AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
    )
    SELECT label, pos,
           sum(qv) / (count(*) * 10000.0) AS dim_mean,
           count(*) AS n_vectors
    FROM ex GROUP BY label, pos
    """,
)
def emb_label_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class embedding centroid (the building block of IVF training,
    class prototypes, and drift monitoring), in long (label, pos) format.
    Values are quantized to 1e-4 BEFORE summing so the aggregate is an
    exact integer sum — deterministic under any aggregation order on any
    engine, unlike float sums (engines disagree in the last ulps).
    Shape: posexplode -> partial integer sums map-side -> one shuffle on
    (label, pos) — dims x labels cells regardless of corpus size."""
    e = load(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .withColumn(
            "qv", F.floor(F.col("val").cast("double") * 10000 + F.lit(0.5)).cast("long")
        )
        .groupBy("label", "pos")
        .agg(
            (F.sum("qv") / (F.count("*") * F.lit(10000.0))).alias("dim_mean"),
            F.count("*").alias("n_vectors"),
        )
    )


# --------------------------------------------------- non-parquet sources

_SRC_CACHE: dict[tuple[str, str, str], str] = {}

WARC_MAGIC = "WARC/1.0\n"
_WARC_HEADER_PREFIX = "WARC-Type: response\nWARC-Target-URI: "


def warc_record(doc_id_col: str, text_col: str):
    """The ONE definition of the demo WARC framing (writer, reader guard,
    and framing tests all import it — a private copy in each would let
    the tests keep passing against stale framing while the writer
    drifts): version line, minimal headers, blank line, payload. One
    text-sink row per record; the sink's row separator supplies the
    record-terminating newline."""
    return F.concat(
        F.lit(WARC_MAGIC + _WARC_HEADER_PREFIX
              + "http://corp.example.com/doc/"),
        F.col(doc_id_col).cast("string"),
        F.lit("\nContent-Type: text/plain\n\n"),
        F.coalesce(text_col, F.lit("")),  # NULL text == '' payload
    )


def _staged(spark: SparkSession, sf: str, fmt: str) -> str:
    """documents re-materialized once per (app, sf) in csv/json so the
    scan rows exercise Spark's other file sources against the same
    oracle data."""
    key = (spark.sparkContext.applicationId, sf, fmt)
    if key not in _SRC_CACHE:
        d = scratch_dir(f"src_{fmt}_")
        docs = load(spark, sf, "documents").coalesce(2)
        if fmt == "warc":
            (docs.select(warc_record("doc_id", "text").alias("value"))
             .write.mode("overwrite").text(d))
        elif fmt == "csv":
            # nullValue sentinel: the default encodes NULL as the same
            # empty field the reader can't tell from ''. A value that IS
            # the sentinel text is no more distinguishable (quoting does
            # not help: the reader compares the unquoted value), so a
            # leading backslash of every string value is doubled and
            # scan_csv strips it — no written value is then '\N'. The
            # two whitespace options default TRUE on the WRITER (they
            # trim a whitespace-only text value to '' in the file —
            # reader defaults are false, so the corruption is write-side)
            docs = docs.select(*[
                F.when(F.col(c).startswith("\\"), F.concat(F.lit("\\"), c))
                .otherwise(F.col(c)).alias(c) if t == "string" else c
                for c, t in docs.dtypes
            ])
            (docs.write.mode("overwrite").option("header", "true")
             .option("compression", "gzip")
             .option("nullValue", "\\N")
             .option("ignoreLeadingWhiteSpace", "false")
             .option("ignoreTrailingWhiteSpace", "false")
             .csv(d))
        else:
            docs.write.mode("overwrite").json(d)
        _SRC_CACHE[key] = d
    return _SRC_CACHE[key]


_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


@register(
    "scan_csv",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def scan_csv(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source scan (gzip, header, explicit schema — inference at
    crawl scale is a full extra pass). Quoted round-trip must be
    value-identical to the parquet oracle; multiLine handles quoted
    embedded newlines (web text has them — the default reader splits
    records mid-quote and corrupts every row after the first \\n)."""
    def unescape(c: str):  # _staged doubled a leading backslash
        return (F.when(F.col(c).startswith("\\"), F.expr(f"substr({c}, 2)"))
                .otherwise(F.col(c)).alias(c))

    return (
        spark.read.schema(_DOCS_SCHEMA)
        .option("header", "true")
        .option("multiLine", "true")
        .option("nullValue", "\\N")
        .csv(_staged(spark, sf, "csv"))
        .select("doc_id", unescape("text"), unescape("lang"),
                unescape("source"), "n_chars")
    )


@register(
    "scan_json",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def scan_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines source scan with explicit schema (the crawl-sidecar
    format); column pruning still reaches the reader via the schema."""
    return (
        spark.read.schema(_DOCS_SCHEMA)
        .json(_staged(spark, sf, "json"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


@register(
    "scan_warc",
    "SELECT doc_id, coalesce(text, '') AS text FROM documents",
)
def scan_warc(spark: SparkSession, sf: str) -> DataFrame:
    """WARC-style multiline record ingest — the Common-Crawl shape: each
    record is a version line, headers, blank line, payload. The text
    source's custom ``lineSep`` splits files into records JVM-side (one
    task per split, records never span files because each is written as
    one sink row), then pure-codegen string ops recover (uri -> doc_id,
    payload): header = everything before the FIRST blank line,
    payload = the rest minus the record-terminating newline. The oracle
    is the original fixture, so the value-hash proves byte-exact
    round-trip through the framing.

    Emulation caveat, stated honestly: real WARC frames payloads by
    Content-Length (a payload may legally CONTAIN the bytes
    ``WARC/1.0\\n``); a delimiter split cannot express that, so this
    reader REFUSES loudly on collision rather than returning a corrupted
    corpus — a production reader swaps the split for a length-framed
    record iterator at the same seam. Four guards, because a collision
    corrupts in distinct ways: (1) a mid-payload magic leaves a piece
    that does not start with the record header -> header check; (2) a
    payload ending in the magic MID-FILE splits into a silently-truncated
    valid-looking record plus an EMPTY piece -> empty pieces must equal
    the file count exactly (one pre-first-delimiter empty per file); (3)
    the same at END-of-file leaves no extra piece at all (a trailing
    lineSep is swallowed), so the only witness is BYTES: per corpus,
    file bytes == piece bytes + (pieces - files) separators — an
    EOF-consumed magic is len(magic) of unaccounted input; (4) a forged
    full record inside a payload parses cleanly -> record count must
    equal doc count."""
    import pathlib as _pl

    src = _staged(spark, sf, "warc")
    raw = (
        spark.read.option("lineSep", WARC_MAGIC)
        .text(src)
        .withColumn("_f", F.input_file_name())
    )
    chk = raw.agg(
        F.sum((F.length("value") == 0).cast("long")).alias("n_empty"),
        F.countDistinct("_f").alias("n_files"),
        F.sum(
            ((F.length("value") > 0)
             & ~F.col("value").startswith(_WARC_HEADER_PREFIX)).cast("long")
        ).alias("n_bad"),
        F.count("*").alias("n_pieces"),
        F.sum(F.octet_length("value")).alias("piece_bytes"),
    ).first()
    if chk.n_bad != 0:  # explicit raises: guards must survive python -O
        raise AssertionError(
            f"delimiter collision: {chk.n_bad} pieces lack the record header"
        )
    if chk.n_empty != chk.n_files:
        raise AssertionError(
            "delimiter collision: payload ending in the record magic "
            f"({chk.n_empty} empty pieces vs {chk.n_files} files)"
        )
    file_bytes = sum(
        f.stat().st_size for f in _pl.Path(src).glob("part-*")
    )
    expected = chk.piece_bytes + (chk.n_pieces - chk.n_files) * len(WARC_MAGIC)
    if file_bytes != expected:
        raise AssertionError(
            "delimiter collision: payload ending in the record magic at EOF "
            f"({file_bytes} file bytes vs {expected} reconstructed)"
        )
    header = F.substring_index("value", "\n\n", 1)
    parsed = raw.where(F.length("value") > 0).select(
        F.regexp_extract(
            header, r"WARC-Target-URI: http://corp\.example\.com/doc/(\d+)", 1
        ).cast("bigint").alias("doc_id"),
        F.regexp_replace(
            F.expr(
                "substring(value, length(substring_index(value, '\n\n', 1)) + 3)"
            ),
            # \z not $: Java's non-MULTILINE $ ALSO matches before a
            # final newline, so "\n$" would strip TWO trailing newlines
            # from a payload that legitimately ends in one
            "\n\\z",
            "",
        ).alias("text"),
    )
    n_docs = load(spark, sf, "documents").count()
    n_rec = parsed.count()
    if n_rec != n_docs:
        raise AssertionError(
            f"delimiter collision: {n_rec} records vs {n_docs} docs"
        )
    return parsed


# --------------------------------------------------- host-graph rank

PR_ITERS = 2  # fixed damped message-passing rounds (both engines recompute)
PR_DAMP_NUM = 85  # d = 0.85 as an integer percent
PR_TOTAL_MICRO = 1_000_000


def _pagerank_sql(div: str, table: str = "documents") -> str:
    """One SQL template for both engines (``div`` = 'DIV' on Spark,
    '//' on DuckDB): derive a deterministic host link graph from the
    fixture (each doc emits one edge source-host -> host picked by
    (doc_id*7+3) mod n_hosts — synthesis scaffolding, NOT part of the
    operator), then PR_ITERS rounds of damped integer message passing:

        pr'(v) = 150000 DIV n  +  (85 * sum over in-edges of
                 (pr(u) * w(u,v)) DIV out_w(u)) DIV 100

    every division a truncating integer op, so the trajectory is
    bit-identical on Spark, DuckDB, and the python recount."""
    parts = [
        f"hosts AS (SELECT DISTINCT source AS host FROM {table})",
        "nodes AS (SELECT host, row_number() OVER (ORDER BY host) - 1"
        " AS idx FROM hosts)",
        "cnt AS (SELECT count(*) AS ns FROM nodes)",
        # a third of all docs link to node 0 (the planted HUB) so the
        # rank actually differentiates: without the skew the uniform
        # fixture yields uniform in-weights and the value check would
        # pass for any rank formula that preserves the total
        "e AS (SELECT d.source AS src, n.host AS dst, count(*) AS w"
        f" FROM {table} d CROSS JOIN cnt c"
        " JOIN nodes n ON n.idx = CASE WHEN d.doc_id % 3 = 0 THEN 0"
        " ELSE (d.doc_id * 7 + 3) % c.ns END"
        " GROUP BY d.source, n.host)",
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e"
        " GROUP BY src)",
        f"p0 AS (SELECT n.host,"
        f" CAST({PR_TOTAL_MICRO} {div} c.ns AS BIGINT) AS pr"
        f" FROM nodes n CROSS JOIN cnt c)",
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(
            f"c{t} AS (SELECT e.dst AS host,"
            f" CAST(sum((p.pr * e.w) {div} o.ow) AS BIGINT) AS contrib"
            f" FROM e JOIN p{t - 1} p ON p.host = e.src"
            f" JOIN outw o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"p{t} AS (SELECT n.host,"
            f" CAST((150000 {div} c0.ns)"
            f" + ({PR_DAMP_NUM} * coalesce(c.contrib, 0)) {div} 100"
            f" AS BIGINT) AS pr"
            f" FROM nodes n CROSS JOIN cnt c0"
            f" LEFT JOIN c{t} c ON c.host = n.host)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT p.host, o.ow AS out_weight, p.pr AS pr_micro"
        f" FROM p{PR_ITERS} p JOIN outw o ON o.src = p.host"
    )


@register("graph_host_rank", _pagerank_sql("//"))
def graph_host_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Damped PageRank over the host link graph — the authority signal
    web-curation pipelines fold into quality scoring (rank hosts, not
    pages: the host graph is millions of nodes where the page graph is
    trillions). Fixed PR_ITERS=2 rounds in exact integer micro-units:
    per-edge contributions floor-divide BEFORE summing, so the result
    is independent of summation order and identical across engines —
    the emb_kmeans_lloyd convention applied to graph iteration.

    Scale shape: each round is one equi-join of the rank vector to the
    edge list on the source key plus one map-side-combinable
    groupBy(dst) — the standard distributed PR shape (GraphX/Pregel do
    exactly this per superstep). No windows, no driver state: the rank
    vector STAYS a DataFrame across rounds, so a billion-host graph
    never funnels through the driver. Hub skew (one host receiving a
    large in-degree) lands in the groupBy, where partial aggregation
    absorbs it; the join side can salt-replicate a hot src the same way
    skew_salted_agg does if a real graph needs it. The edge derivation
    from the fixture (doc -> (doc_id*7+3) mod n_hosts) is deterministic
    scaffolding so the DuckDB oracle recomputes the same graph at any
    sf; a real deployment feeds its crawl's (src_host, dst_host, w)
    edge table straight into the same plan."""
    load(spark, sf, "documents").createOrReplaceTempView("pr_docs_v")
    return spark.sql(_pagerank_sql("DIV", table="pr_docs_v"))
