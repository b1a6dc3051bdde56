"""Round-2 breadth operators: dedup clustering, corpus n-grams, and
non-parquet source scans (inventory/extras.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def reg():
    from streamcorpus_filter_spark import queries as q

    return q


def test_cluster_components_label_planted_twins(spark, reg):
    from streamcorpus_filter_spark.inventory.twins import MAX_SHINGLE_DF, twinned
    from streamcorpus_filter_spark.operators.dedup import jaccard_pairs, word_shingles

    rows = reg.QUERIES["dedup_cluster_components"](spark, SF_SMALL).collect()
    comp = {r.doc_id: r.component_id for r in rows}
    # labels are component minima and idempotent: a label maps to itself
    for d, c in comp.items():
        assert c <= d
        assert comp[c] == c
    # every near-dup edge the pair generator emits must have both
    # endpoints under the same label
    sh = word_shingles(twinned(spark, SF_SMALL), "doc_id", "text", k=3)
    pairs = jaccard_pairs(sh, "doc_id", threshold=0.2, max_df=MAX_SHINGLE_DF).collect()
    assert pairs, "fixture plants near-dup twins"
    for p in pairs:
        assert comp[p.a] == comp[p.b], (p.a, p.b)
    # and at least one planted twin actually merged with its base
    assert any(comp[d] == comp[d - 1_000_000] for d in comp if d >= 1_000_000)


def test_cluster_components_transitivity(spark, reg):
    """A hand-built path graph a-b, b-c must collapse to one component
    even though a and c never pair directly."""
    import pyspark.sql.functions as F

    from streamcorpus_filter_spark.operators.dedup import jaccard_pairs

    # shingle design: 0 and 1 share s1-s3; 1 and 2 share s3-s5; 0 and 2
    # share only s3 (jaccard 1/9 < threshold)
    rows = [(0, f"s{j}") for j in (1, 2, 3)]
    rows += [(1, f"s{j}") for j in (1, 2, 3, 4, 5)]
    rows += [(2, f"s{j}") for j in (3, 4, 5)]
    rows += [(9, "lonely")]
    sh = spark.createDataFrame(rows, "doc_id int, shingle string")
    pairs = jaccard_pairs(sh, "doc_id", threshold=0.5)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert got == {(0, 1), (1, 2)}  # no direct 0-2 edge

    # min-label propagation over those pairs (the query's loop in small)
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    labels = sh.select("doc_id").distinct().select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    for _ in range(5):
        nbr = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("component_id").alias("m"))
        )
        labels = labels.join(nbr, labels.doc_id == nbr.u, "left").select(
            "doc_id",
            F.least(F.col("component_id"), F.coalesce("m", F.col("component_id"))).alias(
                "component_id"
            ),
        )
    comp = {r.doc_id: r.component_id for r in labels.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 9: 9}


def test_retention_components_one_keep_per_component(spark, reg):
    """dedup_retention_components must (1) agree with the component ids
    dedup_cluster_components emits, (2) keep EXACTLY one doc per
    component — the root — and (3) point every dropped doc's dup_of at
    that kept root (never at another dropped doc, the single-hop
    dedup_keep_first failure mode this op exists to fix)."""
    ret = reg.QUERIES["dedup_retention_components"](spark, SF_SMALL).collect()
    comp = {
        r.doc_id: r.component_id
        for r in reg.QUERIES["dedup_cluster_components"](spark, SF_SMALL).collect()
    }
    assert {r.doc_id: r.component_id for r in ret} == comp

    kept_by_comp: dict[int, list[int]] = {}
    for r in ret:
        if r.keep:
            kept_by_comp.setdefault(r.component_id, []).append(r.doc_id)
            assert r.dup_of is None and r.doc_id == r.component_id
        else:
            assert r.dup_of == r.component_id
    # every component has exactly one kept doc, and it is the root
    assert set(kept_by_comp) == set(comp.values())
    assert all(v == [c] for c, v in kept_by_comp.items())


def test_top_ngrams_matches_pandas_count(spark, reg):
    import collections

    import duckdb

    got = [(r.gram, r.n) for r in reg.QUERIES["txt_top_ngrams"](spark, SF_SMALL).collect()]
    texts = (
        duckdb.connect()
        .execute(f"SELECT text FROM '{SF_SMALL}/documents.parquet'")
        .df()["text"]
    )
    counts: collections.Counter = collections.Counter()
    for t in texts:
        toks = t.split()
        counts.update(" ".join(p) for p in zip(toks, toks[1:]))
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


def test_contamination_counts_match_python_recount(spark, reg):
    import duckdb

    rows = reg.QUERIES["txt_contamination"](spark, SF_SMALL).collect()
    assert rows
    # benchmark docs themselves are excluded from the output
    assert all(r.doc_id % 97 != 0 for r in rows)
    # recount with plain python sets
    texts = dict(
        duckdb.connect()
        .execute(f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'")
        .fetchall()
    )
    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}
    bench = set()
    for d, t in texts.items():
        if d % 97 == 0:
            bench |= grams(t)
    for r in rows:
        want = len(grams(texts[r.doc_id]) & bench)
        assert r.bench_hits == want, r.doc_id
        assert r.contaminated == (want > 0)


def test_contamination_short_doc_gram_guard(spark):
    """sequence(1, n<1) descends in Spark — docs shorter than one gram
    must produce zero grams, not a reversed-index explosion/error."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "one"), (2, "a b"), (3, " "), (4, "a b c d e f g h i")],
        "doc_id bigint, text string",
    )
    toks = F.filter(F.split("text", "[ \\t\\n\\r\\f\\x0B]+"), lambda x: x != "")
    grams = F.when(
        F.size("w") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 7),
            lambda i: F.concat_ws(" ", F.slice("w", i, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    got = {
        r.doc_id: r.g
        for r in df.select("doc_id", toks.alias("w")).select(
            "doc_id", grams.alias("g")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c d e f g h", "b c d e f g h i"]


def test_label_centroid_matches_numpy(spark, reg):
    import numpy as np
    import duckdb

    rows = reg.QUERIES["emb_label_centroid"](spark, SF_SMALL).collect()
    emb = (
        duckdb.connect()
        .execute(f"SELECT label, embedding FROM '{SF_SMALL}/embeddings.parquet'")
        .fetchall()
    )
    by_label: dict = {}
    for label, vec in emb:
        by_label.setdefault(label, []).append(
            np.floor(np.asarray(vec, dtype=np.float64) * 10000 + 0.5).astype(np.int64)
        )
    for r in rows:
        vs = by_label[r.label]
        want = sum(v[r.pos] for v in vs) / (len(vs) * 10000.0)
        assert r.n_vectors == len(vs)
        assert r.dim_mean == want, (r.label, r.pos)


def test_csv_json_scans_roundtrip_exactly(spark, reg):
    base = sorted(
        map(tuple, spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect())
    )
    for name in ("scan_csv", "scan_json"):
        got = sorted(map(tuple, reg.QUERIES[name](spark, SF_SMALL).collect()))
        assert got == base, name


def test_star_rounds_planted_mega_star_and_chain(spark):
    """Skew shape for large-star/small-star (VERDICT r2 task 5): ONE
    mega-star (hub 500 with 400 leaves — the viral-boilerplate cluster
    that made the old neighbor-min groupBy a single hot reducer) plus a
    diameter-60 chain, in one graph. The alternating rounds must (a)
    converge well inside the 30-round cap, (b) label every star node
    with the component min, (c) label the whole chain with its min —
    and the round body must stay min-agg + join-back (asserted on the
    physical plan: no CollectList aggregate anywhere)."""
    import pyspark.sql.functions as F

    from streamcorpus_filter_spark.inventory.extras import _large_star, _small_star

    # mega-star: hub 500, leaves 501..900 (component min = 500)
    star = [(leaf, 500) for leaf in range(501, 901)]
    # chain: 1-2-...-61 (component min = 1)
    chain = [(i + 1, i) for i in range(1, 61)]
    edges = spark.createDataFrame(star + chain, "u long, v long")
    plan = _small_star(_large_star(edges))._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "CollectList" not in plan

    edges = edges.localCheckpoint(eager=True)
    rounds = 0
    for rounds in range(1, 31):
        new = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        same = (
            new.unionByName(edges).distinct().count() == edges.count()
            and new.count() == edges.count()
        )
        edges = new
        if same:
            break
    assert rounds < 15, f"no convergence by round {rounds}"
    labels = {r.u: r.v for r in edges.collect()}
    for leaf in range(501, 901):
        assert labels[leaf] == 500, (leaf, labels[leaf])
    for node in range(2, 62):
        assert labels[node] == 1, (node, labels[node])
    # roots never appear as a non-root
    assert 500 not in labels or labels.get(500) == 500
    assert 1 not in labels or labels.get(1) == 1


def test_cluster_components_long_chain_converges(spark, reg, tmp_path):
    """A drifting-boilerplate CHAIN (each doc shares a 15-word window
    only with its neighbors: adjacent jaccard ~0.3, skip-1 ~0.0) of
    diameter 25 must converge to ONE component — pointer jumping reaches
    it in O(log d) rounds where plain one-hop propagation would need 25.
    Uses a custom corpus dir to control the graph shape exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"w{i}" for i in range(800)]
    texts = [" ".join(words[i * 15 : i * 15 + 30]) for i in range(26)]
    d = str(tmp_path)
    t = pa.table(
        {
            "doc_id": list(range(1, 27)),  # avoid %10==0 twin noise on 0
            "text": texts,
            "lang": ["en"] * 26,
            "source": ["src0"] * 26,
            "n_chars": [len(t_) for t_ in texts],
        },
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
    pq.write_table(t, f"{d}/documents.parquet")
    rows = reg.QUERIES["dedup_cluster_components"](spark, d).collect()
    labels = {r.doc_id: r.component_id for r in rows}
    chain_labels = {labels[i] for i in range(1, 27)}
    assert chain_labels == {1}, sorted(chain_labels)


def test_warc_framing_roundtrips_nasty_payloads(spark, reg, tmp_path, monkeypatch):
    """The WARC reader's framing edges: empty payload, payload with
    embedded newlines AND blank lines, payload ending in a newline —
    all must round-trip byte-exactly through the REAL scan_warc reader
    (staged via the shared warc_record framing, so writer/reader/test
    can never drift apart)."""
    import streamcorpus_filter_spark.inventory.extras as ex

    payloads = {
        1: "",
        2: "plain single line",
        3: "two\nlines",
        4: "has\n\nan embedded blank line",
        5: "trailing newline\n",
    }
    df = spark.createDataFrame(
        list(payloads.items()), "doc_id bigint, text string"
    )
    d = str(tmp_path / "warc")
    (df.select(ex.warc_record("doc_id", "text").alias("value"))
     .coalesce(1).write.text(d))
    key = (spark.sparkContext.applicationId, SF_SMALL, "warc")
    monkeypatch.setitem(ex._SRC_CACHE, key, d)
    monkeypatch.setattr(ex, "load", lambda s_, sf_, tbl: df.select("doc_id"))
    got = {r.doc_id: r.text for r in ex.scan_warc(spark, SF_SMALL).collect()}
    assert got == payloads


@pytest.mark.parametrize(
    "evil",
    [
        "mid-payload magic\nWARC/1.0\nrest of payload",
        "payload ending in the magic\nWARC/1.0",
        "forged full record\nWARC/1.0\nWARC-Type: response\n"
        "WARC-Target-URI: http://corp.example.com/doc/999\n\nfake payload",
    ],
    ids=["mid_magic", "trailing_magic", "forged_record"],
)
def test_warc_scan_detects_delimiter_collision(
    spark, reg, tmp_path, monkeypatch, evil
):
    """A payload containing the record magic corrupts the split three
    distinct ways — a bogus headerless piece, a silently-truncated
    record plus an empty piece, or a forged full record — and the reader
    must refuse loudly on EACH (the documented seam where a production
    reader swaps in Content-Length framing), never return a corrupted
    corpus."""
    import streamcorpus_filter_spark.inventory.extras as ex

    df = spark.createDataFrame([(1, evil)], "doc_id bigint, text string")
    d = str(tmp_path / "warc")
    (df.select(ex.warc_record("doc_id", "text").alias("value"))
     .coalesce(1).write.text(d))
    key = (spark.sparkContext.applicationId, SF_SMALL, "warc")
    monkeypatch.setitem(ex._SRC_CACHE, key, d)
    monkeypatch.setattr(ex, "load", lambda s_, sf_, tbl: df.select("doc_id"))
    with pytest.raises(AssertionError, match="delimiter collision"):
        ex.scan_warc(spark, SF_SMALL)


def test_host_rank_matches_python_recount(spark, reg):
    """Plain-Python PageRank recount (same integer truncating divisions)
    independent of both engines, plus structural properties: the planted
    hub outranks every other host and total mass stays ~1e6."""
    import duckdb

    from streamcorpus_filter_spark.inventory.extras import (
        PR_DAMP_NUM,
        PR_ITERS,
        PR_TOTAL_MICRO,
    )

    rows = (
        duckdb.connect()
        .execute(
            f"SELECT doc_id, source FROM '{SF_SMALL}/documents.parquet'"
        )
        .fetchall()
    )
    hosts = sorted({s for _, s in rows})
    ns = len(hosts)
    idx = {h: i for i, h in enumerate(hosts)}
    w: dict[tuple[str, str], int] = {}
    for doc_id, src in rows:
        t = 0 if doc_id % 3 == 0 else (doc_id * 7 + 3) % ns
        w[(src, hosts[t])] = w.get((src, hosts[t]), 0) + 1
    ow = {h: sum(v for (s, _), v in w.items() if s == h) for h in hosts}
    pr = {h: PR_TOTAL_MICRO // ns for h in hosts}
    for _ in range(PR_ITERS):
        contrib = {h: 0 for h in hosts}
        for (s, d), wt in w.items():
            contrib[d] += (pr[s] * wt) // ow[s]
        pr = {
            h: 150000 // ns + (PR_DAMP_NUM * contrib[h]) // 100
            for h in hosts
        }
    got = {
        r.host: (r.out_weight, r.pr_micro)
        for r in reg.QUERIES["graph_host_rank"](spark, SF_SMALL).collect()
    }
    assert got == {h: (ow[h], pr[h]) for h in hosts}
    # the planted hub (node index 0) strictly outranks everyone else
    hub = hosts[0]
    assert all(got[hub][1] > v[1] for h, v in got.items() if h != hub)
    # damped total mass is conserved up to truncation loss
    total = sum(v[1] for v in got.values())
    assert 0.97 * PR_TOTAL_MICRO < total <= PR_TOTAL_MICRO


def test_csv_scan_keeps_a_text_that_is_the_null_sentinel(spark, reg, tmp_path):
    """The CSV staging writes NULL as the sentinel '\\N'; a document whose
    text IS those two characters — or starts with a backslash the escape
    doubles — must still read back as itself, not as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["\\N", "\\\\N", "\\", "\\x y", "N", "", None, "plain \\N"]
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["\\N"] + ["en"] * (n - 1), pa.string()),
        "source": pa.array(["src"] * (n - 1) + [None], pa.string()),
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
    }), str(tmp_path / "documents.parquet"))
    got = sorted(
        tuple(r) for r in reg.QUERIES["scan_csv"](spark, str(tmp_path)).collect())
    want = sorted(
        tuple(r.values()) for r in
        pq.read_table(str(tmp_path / "documents.parquet")).to_pylist())
    assert got == want
