"""Driver-style Spark-vs-DuckDB parity on an ADVERSARIAL embeddings
table: zero vectors (cosine 0/0), exact-duplicate vectors (ties),
negative / tiny / large magnitudes, and single-member labels. The
fixture embeddings are well-conditioned unit-ish gaussians, so the
driver check never exercises these. sim_ivf_topk is excluded: its
oracle inlines centroids trained on the sf0.01 sample (documented
contract — any other corpus diverges by design)."""

from __future__ import annotations

import pathlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

DIM = 64
QUERIES_UNDER_TEST = ["dedup_embedding_cosine", "sim_topk_bruteforce",
                      "sim_lsh_bucketed", "emb_label_centroid",
                      "emb_semantic_dedup", "emb_pq_quantize",
                      # round 4: the integer-exact IVF/ANN rewrites made
                      # both oracles recompute from the mounted table, so
                      # they can face the adversarial vectors too (zero
                      # vectors land in the codebook/centroid init; 1e6
                      # magnitudes exercise the quantization clamp)
                      "sim_ivf_topk", "sim_ann_persisted",
                      # round 4: distributed Lloyd — the duplicate zero
                      # vectors at vec_id 0/1 make init centroids 0 and 1
                      # IDENTICAL, so the tie-break and the
                      # empty-cluster-drops-out path both execute
                      "emb_kmeans_lloyd",
                      # quota sampling on the adversarial clustering:
                      # 60 vectors < 2 surviving clusters x 32 quota, so
                      # the under-quota (keep-everything) path executes
                      "emb_cluster_balanced_sample"]


def _vectors() -> list[list[float]]:
    rng = np.random.RandomState(11)
    vs: list[np.ndarray] = []
    vs.append(np.zeros(DIM))                       # zero vector: 0/0 cosine
    vs.append(np.zeros(DIM))                       # duplicate zero vector
    base = rng.randn(DIM)
    vs.append(base)                                # a normal vector...
    vs.append(base.copy())                         # ...duplicated exactly
    vs.append(-base)                               # ...and negated (cos=-1)
    vs.append(base * 1e-6)                         # tiny magnitude
    vs.append(base * 1e6)                          # large magnitude
    for _ in range(53):
        vs.append(rng.randn(DIM))
    return [[float(np.float32(x)) for x in v] for v in vs]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_vec_"))
    vecs = _vectors()
    t = pa.table(
        {
            "vec_id": list(range(len(vecs))),
            "embedding": vecs,
            "label": [i % 4 for i in range(len(vecs))],
        },
        schema=pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    pq.write_table(t, str(pathlib.Path(d) / "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{adv_dir}/embeddings.parquet'"
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
def test_adversarial_vector_parity(spark, reg, oracles, adv_dir, adv_duck, name):
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
