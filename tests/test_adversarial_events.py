"""Driver-style Spark-vs-DuckDB parity on an ADVERSARIAL events table:
duplicate (user, ts) pairs (as-of and window ties), duplicate event_ids
(dedup path), value ties, negative/huge/zero values, empty and nested
JSON props, and a single hot user (skew path). The fixture events are
well-behaved (unique ids, spread timestamps), so the driver check never
exercises these."""

from __future__ import annotations

import datetime
import json
import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# events-only queries (no orders/lineitem/documents dependencies)
QUERIES_UNDER_TEST = [
    "join_range_theta",
    "join_asof_interval",
    "agg_filtered_pivot",
    # skew_salted_agg / ql_metrics_rollup also read documents -> excluded
    "udaf_grouped_agg",
    "udtf_grouped_map",
    "stream_source_files",
    "stream_tumbling_agg",
    "stream_sliding_session",
    "stream_session_window",
    "stream_dedup_watermark",
    "stream_stateful_counts",
]


def _rows():
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0

    def add(ts, user, etype, value, props):
        nonlocal eid
        rows.append((eid, ts, user, etype, value, props))
        eid += 1

    # duplicate (user, ts): as-of join and session ties
    for _ in range(3):
        add(t0, 1, "click", 1.0, json.dumps({"k": 1}))
    # value ties across types
    for et in ("click", "view", "buy"):
        add(t0 + datetime.timedelta(minutes=1), 2, et, 5.0, "{}")
    # negative / zero / huge values
    add(t0 + datetime.timedelta(minutes=2), 3, "click", -7.5, json.dumps({"k": -1}))
    add(t0 + datetime.timedelta(minutes=3), 3, "view", 0.0, json.dumps({"k": 0}))
    # large value: 2^31, chosen so every partial sum in the fixture stays
    # EXACTLY representable in double — with 1e15 the float sums diverge
    # between engines by summation order (measured: ...992.5 vs ...992.4),
    # an inherent double-sum property no display rounding absorbs; metric
    # pipelines needing order-independent sums at mixed magnitudes must
    # accumulate in integers/decimals (see emb_label_centroid)
    add(t0 + datetime.timedelta(minutes=4), 3, "buy", 2.0 ** 31, json.dumps({"k": 10**9}))
    # empty-ish / nested props
    add(t0 + datetime.timedelta(minutes=5), 4, "click", 2.0, "{}")
    add(t0 + datetime.timedelta(minutes=6), 4, "view", 3.0,
        json.dumps({"k": 7, "nested": {"a": [1, 2]}}))
    # one hot user (skew) with long session + a gap
    for i in range(40):
        add(t0 + datetime.timedelta(minutes=10 + i), 99, "click",
            float(i % 5), json.dumps({"k": i}))
    for i in range(10):
        add(t0 + datetime.timedelta(hours=6, minutes=i), 99, "view",
            float(i), json.dumps({"k": i}))
    # DUPLICATE event_id rows (replayed log): same id, same payload
    rows.append((0, t0, 1, "click", 1.0, json.dumps({"k": 1})))
    rows.append((0, t0, 1, "click", 1.0, json.dumps({"k": 1})))
    return rows


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_evt_"))
    rows = _rows()
    t = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": [r[5] for r in rows],
        },
        schema=pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )
    pq.write_table(t, str(pathlib.Path(d) / "events.parquet"))
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{adv_dir}/events.parquet'")
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
def test_adversarial_event_parity(spark, reg, oracles, adv_dir, adv_duck, name):
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


def _hot_user_events(path: str) -> None:
    """Clicks and purchases where user 7 holds about half of all events:
    equal-ts click/purchase ties, a purchase before any click, a
    duplicated purchase id, and NULL users and timestamps."""
    import random

    rng = random.Random(11)
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for i in range(400):
        user = 7 if i % 2 == 0 else rng.randrange(1, 40)
        ts = t0 + datetime.timedelta(minutes=rng.randrange(0, 300))
        rows.append((i, ts, user, rng.choice(["click", "purchase", "view"])))
    rows += [
        (400, t0 + datetime.timedelta(minutes=5), 7, "click"),
        (401, t0 + datetime.timedelta(minutes=5), 7, "purchase"),  # tie
        (402, t0 - datetime.timedelta(hours=1), 7, "purchase"),  # no click yet
        (401, t0 + datetime.timedelta(minutes=9), 8, "purchase"),  # dup id
        (403, t0 + datetime.timedelta(minutes=9), None, "purchase"),
        (404, t0, None, "click"),
        (405, None, 7, "purchase"),
        (406, None, 7, "click"),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), path)


def test_asof_hot_user_parity_without_join(spark, reg, oracles, tmp_path):
    """join_asof_interval on a hot user matches the DuckDB oracle, and
    its plan has no join — a c_ts <= p_ts join is quadratic in the hot
    user's events."""
    _hot_user_events(str(tmp_path / "events.parquet"))
    df = reg.QUERIES["join_asof_interval"](spark, str(tmp_path))
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = con.execute(oracles["join_asof_interval"]).df()
    con.close()
    got = df.toPandas()
    key = ["purchase_id", "last_click_ts"]
    g = got[key].sort_values(key, ignore_index=True)
    w = want[key].sort_values(key, ignore_index=True)
    assert len(w) > 100
    assert g.astype(str).equals(w.astype(str))
