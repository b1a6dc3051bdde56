"""Dedup/similarity operator properties beyond the DuckDB value checks:
LSH candidate recall vs exact pairs, SimHash near-dup behavior, ANN
recall@10 of the LSH index vs brute force."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def reg():
    from streamcorpus_filter_spark import queries as q

    return q


def test_minhash_lsh_recall(spark, reg):
    exact = {
        (r.a, r.b)
        for r in reg.QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL).collect()
        if r.jaccard >= 0.35  # LSH (8 bands x 4 rows) ~certain above this
    }
    lsh = {(r.a, r.b) for r in reg.QUERIES["dedup_minhash_lsh"](spark, SF_SMALL).collect()}
    assert exact, "fixture should contain planted near-dup twins"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} exact pairs"


def test_simhash_finds_planted_twins(spark, reg):
    pairs = reg.QUERIES["dedup_simhash"](spark, SF_SMALL).collect()
    twin_pairs = [r for r in pairs if r.b - r.a == 1_000_000]
    assert len(twin_pairs) > 0
    # hamming distance of twins must be small by construction
    assert all(r.hamming <= 6 for r in pairs)


def test_lsh_ann_recall_at_10(spark, reg):
    brute = reg.QUERIES["sim_topk_bruteforce"](spark, SF_SMALL).collect()
    lsh = reg.QUERIES["sim_lsh_bucketed"](spark, SF_SMALL).collect()
    top_brute = {}
    for r in brute:
        top_brute.setdefault(r.query_id, set()).add(r.nn_id)
    top_lsh = {}
    for r in lsh:
        top_lsh.setdefault(r.query_id, set()).add(r.nn_id)
    recalls = [
        len(top_brute[q] & top_lsh.get(q, set())) / len(top_brute[q])
        for q in top_brute
    ]
    # random-hyperplane LSH on random gaussian vectors: modest but real
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_ivf_ann_recall_at_10(spark, reg):
    brute = reg.QUERIES["sim_topk_bruteforce"](spark, SF_SMALL).collect()
    ivf = reg.QUERIES["sim_ivf_topk"](spark, SF_SMALL).collect()
    top_brute: dict[int, set] = {}
    for r in brute:
        top_brute.setdefault(r.query_id, set()).add(r.nn_id)
    top_ivf: dict[int, set] = {}
    for r in ivf:
        top_ivf.setdefault(r.query_id, set()).add(r.nn_id)
    recalls = [
        len(top_brute[q] & top_ivf.get(q, set())) / len(top_brute[q])
        for q in top_brute
    ]
    # nprobe=4 of K=16 cells scans ~25% of the corpus; on gaussian
    # fixtures true neighbors concentrate in the probed cells
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_frame_sample_shape_and_determinism(spark, reg):
    rows = reg.QUERIES["mm_frame_sample"](spark, SF_SMALL).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "expected frames"
    for doc_id, frames in by_doc.items():
        assert 1 <= len(frames) <= 4
        assert sorted(f.frame_idx for f in frames) == list(range(len(frames)))
        for f in frames:
            feat = json.loads(f.frame_feat)  # JSON-serialized for the driver
            assert len(feat) == 4
            assert abs(sum(feat) - 1.0) < 1e-3  # histogram sums to 1
    again = reg.QUERIES["mm_frame_sample"](spark, SF_SMALL).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_rolling_fp_stable_under_suffix_edit(spark, reg):
    # winnowing property: min rolling hash usually survives suffix trims
    from streamcorpus_filter_spark.queries import load
    import pyspark.sql.functions as F

    df = reg.QUERIES["txt_rolling_fp"](spark, SF_SMALL)
    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    trimmed = docs.select(
        "doc_id", F.expr("substring(text, 1, greatest(length(text) - 20, 16))").alias("text")
    )
    from streamcorpus_filter_spark.inventory.dedup import txt_rolling_fp  # noqa: F401

    fp1 = {r.doc_id: r.min_fp for r in df.collect()}
    # rebuild the same operator over the trimmed text
    import streamcorpus_filter_spark.inventory.dedup as dd

    fn_df = trimmed.mapInPandas(
        _rolling_fn(), schema="doc_id bigint, min_fp bigint"
    )
    fp2 = {r.doc_id: r.min_fp for r in fn_df.collect()}
    same = sum(1 for k in fp1 if fp1[k] == fp2.get(k))
    assert same / len(fp1) >= 0.7


def _rolling_fn():
    import numpy as np
    import pandas as pd

    def fn(batches):
        B, W = 257, 16
        mod = np.uint64(0xFFFFFFFFFFFFFFFF)
        for pdf in batches:
            out = []
            for t in pdf["text"]:
                data = np.frombuffer(
                    t.encode("utf-8") if isinstance(t, str) else b"", dtype=np.uint8
                ).astype(np.uint64)
                if data.size < W:
                    out.append(0)
                    continue
                h = np.zeros(data.size - W + 1, dtype=np.uint64)
                acc = np.uint64(0)
                powW = np.uint64(pow(B, W, 1 << 64))
                for i in range(data.size):
                    acc = (acc * np.uint64(B) + data[i]) & mod
                    if i >= W:
                        acc = (acc - data[i - W] * powW) & mod
                    if i >= W - 1:
                        h[i - W + 1] = acc
                out.append(int(h.min().astype(np.int64)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "min_fp": pd.array(out, dtype="int64")})

    return fn


def test_rolling_fp_batch_kernel_matches_scalar_twin():
    """The packed-buffer batch kernel (chunked strided adds + boundary
    scatter + minimum.reduceat) must be bit-identical to the per-byte
    Horner rolling hash on edge cases: empty/None text, sub-window docs,
    exact-window docs, multibyte UTF-8, and docs at batch boundaries."""
    import random

    import pandas as pd

    from streamcorpus_filter_spark.inventory.dedup import _rolling_fp_fn

    rng = random.Random(7)
    cases = ["", "short", "x" * 15, "y" * 16, None, "abcdefghijklmnop",
             "z" * 17, "é" * 20, "the quick brown fox jumps over the lazy dog" * 3]
    cases += ["".join(rng.choice("abcdef ghij") for _ in range(rng.randint(0, 200)))
              for _ in range(300)]
    for order in (cases, cases[::-1], ["", None], ["tiny"], []):
        pdf = pd.DataFrame({"doc_id": range(len(order)), "text": list(order)})
        got = list(_rolling_fp_fn()([pdf]))[0]["min_fp"].tolist()
        want = list(_rolling_fn()([pdf]))[0]["min_fp"].tolist()
        assert got == want


def test_resize_thumb_shape_and_determinism(spark, reg):
    rows = reg.QUERIES["mm_resize"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert len(bytes.fromhex(r.thumb)) == 64  # 8x8 thumbnail bytes
        assert r.dst_side == 8
        assert r.src_side >= 1
    again = reg.QUERIES["mm_resize"](spark, SF_SMALL).collect()
    assert sorted((r.doc_id, r.thumb) for r in rows) == sorted(
        (r.doc_id, r.thumb) for r in again
    )


def test_simhash_vectorized_matches_scalar_kernel():
    """The batched column-sweep FNV + segmented vote reduction must produce
    bit-identical sketches to the scalar _poly_hash64 twin."""
    import numpy as np

    from streamcorpus_filter_spark.operators.dedup import (
        _poly_hash64,
        simhash_batch,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "", "one", "a a a a a", "unicode naïve café 壹 ² ...",
        "x" * 300 + " y",  # long word exercises the column sweep depth
    ] + [f"doc {i} word{i % 7} token{i % 13} filler" for i in range(50)]
    doc_words = [sorted({w.encode("utf-8") for w in t.split()}) for t in texts]
    got = simhash_batch(doc_words)

    masks = np.uint64(1) << np.arange(64, dtype=np.uint64)
    for t, g in zip(doc_words, got):
        if not t:
            assert g == 0
            continue
        hs = np.array([_poly_hash64(w) for w in t], dtype=np.uint64)
        bits = (hs[:, None] & masks[None, :]) != 0
        votes = bits.sum(axis=0) * 2 - len(hs)
        want = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            want |= masks[b]
        assert int(want.astype(np.int64)) == g


def test_jaccard_df_cap_drops_hot_shingle(spark):
    """A stop-shingle present in every doc must not create all-pairs join
    rows once the df cap is active; informative shingles still pair."""
    import pyspark.sql.functions as F

    from streamcorpus_filter_spark.operators.dedup import jaccard_pairs

    # 30 docs all sharing one hot shingle; docs 0/1 also share 3 real ones
    rows = [(i, "hot stop phrase") for i in range(30)]
    rows += [(0, f"real shingle {j}") for j in range(3)]
    rows += [(1, f"real shingle {j}") for j in range(3)]
    rows += [(2, "only here x")]
    sh = spark.createDataFrame(rows, "doc_id int, shingle string")

    uncapped = jaccard_pairs(sh, "doc_id", threshold=0.01).collect()
    assert len(uncapped) == 30 * 29 // 2  # hot key makes every pair

    capped = jaccard_pairs(sh, "doc_id", threshold=0.01, max_df=5).collect()
    assert {(r.a, r.b) for r in capped} == {(0, 1)}
    [pair] = capped
    assert abs(pair.jaccard - 1.0) < 1e-9  # 3/3 in the capped space

def test_ann_persisted_recall_and_shape(spark, reg):
    """Persisted-index ANN (IVF cells + PQ codes + ADC shortlist) must
    return exactly 10 ranked neighbors per query and keep useful recall
    vs brute force — the 32-deep ADC shortlist trades some of full
    IVF's recall (~0.84 here) for never touching full vectors until the
    re-rank; measured 0.70 at sf0.001, asserted with slack."""
    brute = reg.QUERIES["sim_topk_bruteforce"](spark, SF_SMALL).collect()
    ann = reg.QUERIES["sim_ann_persisted"](spark, SF_SMALL).collect()
    per_q: dict[int, list] = {}
    for r in ann:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())

    top_brute: dict[int, set] = {}
    for r in brute:
        top_brute.setdefault(r.query_id, set()).add(r.nn_id)
    top_ann = {q: {r.nn_id for r in ann if r.query_id == q} for q in per_q}
    recalls = [
        len(top_brute[q] & top_ann.get(q, set())) / len(top_brute[q])
        for q in top_brute
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls

def test_containment_catches_twins_jaccard_misses(spark, reg):
    """Every planted 40-word twin is fully CONTAINED in its original
    (containment 1.0 on capped shingles), including twins of LONG
    originals whose symmetric Jaccard falls below the 0.2 pair
    threshold — the directional detector must recover exactly those."""
    cont = reg.QUERIES["dedup_containment"](spark, SF_SMALL).collect()
    pairs = {(r.contained_doc, r.container_doc) for r in cont}
    jac = {
        (r.a, r.b): r.jaccard
        for r in reg.QUERIES["dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    }
    twin_hits = {(a, b) for a, b in pairs if a >= 1_000_000 and b == a - 1_000_000}
    assert twin_hits, "twins must be detected as contained in originals"
    # dedup_keep_first's retention threshold is Jaccard >= 0.5; a twin of
    # a long original sits below it yet is 100% contained — containment
    # must recover at least one such pair on this fixture
    below_retention_jaccard = {
        (a, b) for a, b in twin_hits if jac.get((b, a), jac.get((a, b), 0.0)) < 0.5
    }
    assert below_retention_jaccard, (
        "fixture must include a contained twin below the 0.5 Jaccard "
        "retention threshold (containment's whole point)"
    )
    for r in cont:
        assert r.containment >= 0.9



def test_null_and_empty_text_oracle_parity(spark, tmp_path):
    """The driver fixtures carry no NULL/empty text, so this class of
    engine divergence is invisible to the sweep: run the three queries
    whose NULL handling was aligned (txt_quality_score — Spark scored 0
    while SQL's least(NULL,1.0) scored a NULL doc PERFECT;
    ql_dsir_importance — NULL logw vs the oracle's coalesce 0;
    dedup_simhash — token-less docs all paired at hamming 0 while the
    oracle emitted nothing) against DuckDB on a corpus that HAS those
    rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = base.columns
    pdf = base.limit(40).toPandas()
    for i, t in ((0, None), (1, ""), (2, " \t\n ")):
        pdf.loc[i, "text"] = t
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf[cols]), str(d / "documents.parquet"))

    qs, os_ = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    for name in (
        "txt_quality_score", "ql_dsir_importance", "dedup_simhash",
        # the round-5 NULL==''-policy cohort: every query the
        # NULL-corpus sweep caught diverging (or crashing) when text is
        # NULL/empty/whitespace-only
        "ql_gopher_rules", "ql_keep_drop", "ql_c4_rules", "ql_langid",
        "ql_perplexity", "ql_pii_scrub", "ql_toxicity_scrub",
        "ql_ac_match", "ql_classifier_score", "ql_threshold_sweep",
        "ql_boilerplate_scrub", "dedup_bloom", "udf_scalar_pandas",
        "udf_iter_pandas", "scan_csv", "scan_warc",
        # the remaining callers of with_structural_signals' NULL -> ''
        "ql_repetition", "ql_metrics_rollup",
    ):
        got = qs[name](spark, str(d)).toPandas()
        want = con.execute(os_[name]).df()
        g = got.reindex(sorted(got.columns), axis=1).sort_values(
            by=sorted(got.columns), ignore_index=True)
        w = want.reindex(sorted(want.columns), axis=1).sort_values(
            by=sorted(want.columns), ignore_index=True)
        assert g.shape == w.shape, (name, g.shape, w.shape)
        for c in g.columns:
            assert (g[c].astype(str) == w[c].astype(str)).all(), (name, c)
