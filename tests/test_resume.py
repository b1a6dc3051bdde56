"""L4 pipeline invariants (SURVEY.md §5.2): checkpoint/resume equivalence,
determinism, metrics conservation, lineage completeness.

Reference analog: the filter's process-per-chunk-file model meant a killed
corpus run was resumed by re-feeding only unprocessed chunks [RECALL,
SURVEY.md §3.1]; here the snapshot manifest records processed input files
and --resume anti-selects them.
"""

from __future__ import annotations

import json
import pathlib

import pyspark.sql.functions as F
import pytest

from run_pipeline import _batch_plan, _list_inputs, run
from streamcorpus_filter_spark.catalog import SnapshotCatalog
from streamcorpus_filter_spark.synth import write_pages_parquet

N_PAGES = 320
N_FILES = 4


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory) -> str:
    """The pages corpus split across N_FILES parquet files (separate seeds
    so files differ), like a crawl's per-chunk layout."""
    d = tmp_path_factory.mktemp("pages")
    per = N_PAGES // N_FILES
    for i in range(N_FILES):
        write_pages_parquet(str(d / f"chunk-{i}.parquet"), per, seed=100 + i)
    return str(d)


def _rows(spark, table: str):
    cat = SnapshotCatalog(table)
    df = cat.read(spark).select(
        "url", "input_file", "keep", "drop_reason", "scrubbed_text",
        "bytes_scrubbed", "lang_pred", "ppl",
    )
    # url is not unique (the synth corpus plants duplicate urls with
    # different content), so sort by the entire row
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_resume_equals_oneshot(spark, pages_dir, tmp_path):
    one = tmp_path / "oneshot"
    res = tmp_path / "resumed"

    r1 = run(spark, pages_dir, str(one), from_html=True)
    assert r1["status"] == "committed" and r1["input_files"] == N_FILES

    # "crash" after 1 file, resume twice (1 more, then the rest)
    k1 = run(spark, pages_dir, str(res), from_html=True, max_files=1)
    assert k1["input_files"] == 1
    k2 = run(spark, pages_dir, str(res), from_html=True, resume=True, max_files=1)
    assert k2["input_files"] == 1
    k3 = run(spark, pages_dir, str(res), from_html=True, resume=True)
    assert k3["input_files"] == N_FILES - 2

    # fully caught up -> no-op
    k4 = run(spark, pages_dir, str(res), from_html=True, resume=True)
    assert k4 == {"status": "up-to-date", "snapshot": None}

    assert _rows(spark, str(one)) == _rows(spark, str(res))


def test_determinism(spark, pages_dir, tmp_path):
    a = run(spark, pages_dir, str(tmp_path / "a"), from_html=True)
    b = run(spark, pages_dir, str(tmp_path / "b"), from_html=True)
    assert _rows(spark, str(tmp_path / "a")) == _rows(spark, str(tmp_path / "b"))
    assert a["metrics"] == b["metrics"]


def test_metrics_conservation_and_lineage(spark, pages_dir, tmp_path):
    table = tmp_path / "t"
    r = run(spark, pages_dir, str(table), from_html=True)
    m = r["metrics"]
    assert m["docs_seen"] == N_PAGES

    cat = SnapshotCatalog(str(table))
    out = cat.read(spark)
    by_reason = {
        row["drop_reason"]: row["n"]
        for row in out.groupBy("drop_reason").count().withColumnRenamed("count", "n").collect()
    }
    kept = by_reason.pop(None, 0)
    assert kept == m["docs_kept"]
    assert kept + sum(by_reason.values()) == m["docs_seen"]
    assert by_reason.get("lang_uncertain", 0) == m["langid_drops"]
    assert by_reason.get("high_ppl", 0) == m["ppl_drops"]
    assert by_reason.get("toxic", 0) == m["toxic_drops"]

    # manifest carries the observed metrics and the full input-file lineage
    snap = cat.latest_snapshot()
    assert snap["metrics"]["docs_seen"] == N_PAGES
    assert len(snap["input_files"]) == N_FILES

    # per-input-file lineage in the same manifest: every input file
    # accounted for, and its docs_seen sums back to the total
    lineage = snap["metrics"]["lineage"]
    assert all(len(v) == N_FILES for v in lineage.values())
    assert sum(lineage["docs_seen"]) == N_PAGES


def test_snapshot_time_travel_and_incremental(spark, pages_dir, tmp_path):
    table = str(tmp_path / "t")
    run(spark, pages_dir, table, from_html=True, max_files=2)
    cat = SnapshotCatalog(table)
    s1 = cat.latest_snapshot()["snapshot_id"]
    n1 = cat.read(spark).count()
    run(spark, pages_dir, table, from_html=True, resume=True)
    s2 = cat.latest_snapshot()["snapshot_id"]
    assert s2 != s1

    # time travel: as-of s1 is unchanged by the later append
    assert cat.read(spark, s1).count() == n1
    assert cat.read(spark).count() == N_PAGES
    # incremental scan: exactly the rows appended after s1
    assert cat.read_incremental(spark, s1).count() == N_PAGES - n1


def test_partitioned_write_layout(spark, pages_dir, tmp_path):
    table = str(tmp_path / "t")
    run(spark, pages_dir, table, from_html=True, partition_by="keep,ds")
    cat = SnapshotCatalog(table)
    snap = cat.latest_snapshot()
    assert snap["partition_by"] == ["keep", "ds"]
    data_dir = pathlib.Path(snap["data_dir"])
    keep_dirs = sorted(p.name for p in data_dir.glob("keep=*"))
    assert keep_dirs == ["keep=false", "keep=true"]
    # partition pruning reaches the file index (the keep predicate lands
    # in PartitionFilters, not a post-scan Filter), and the restored
    # partition column keeps its written type
    df = cat.read(spark)
    assert dict(df.dtypes)["keep"] == "boolean"
    assert dict(df.dtypes)["ds"] == "date"
    plan = df.where("keep = true")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(keep" in plan


def test_concurrent_append_collision_serializes(spark, tmp_path):
    """Two writers that both read the same parent must serialize into a
    parent->child chain (optimistic commit via os.link), not silently
    shadow each other with the same sequence number."""
    table = str(tmp_path / "t")
    df = spark.range(3).toDF("v")
    m0 = SnapshotCatalog(table).append(df)

    # second writer with a stale view: its first latest_snapshot() call
    # (pre-commit read) sees the table as it was before m0 committed
    stale = SnapshotCatalog(table)
    real = stale.latest_snapshot
    calls = {"n": 0}

    def stale_once():
        calls["n"] += 1
        return None if calls["n"] == 1 else real()

    stale.latest_snapshot = stale_once  # type: ignore[method-assign]
    m1 = stale.append(df)

    assert m0["sequence"] == 0 and m1["sequence"] == 1
    assert m1["parent_id"] == m0["snapshot_id"]
    cat = SnapshotCatalog(table)
    assert [s["snapshot_id"] for s in cat.snapshots()] == [
        m0["snapshot_id"], m1["snapshot_id"],
    ]
    assert cat.read(spark).count() == 6


# ------------------------------------------- write-audit-publish gate


def _poison_chunk(path: str, n: int = 60) -> None:
    """A chunk the quality rules near-uniformly reject: single-token
    'texts' fail the structural word-count floor, so the batch's keep
    ratio lands at ~0 — the mojibake/spam-mirror shape the audit exists
    to catch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "url": pa.array(
                [f"http://poison.example.com/p{i}" for i in range(n)],
                pa.string()),
            "warc_ts": pa.array([1_700_000_000_000_000 + i for i in range(n)],
                                pa.timestamp("us")),
            "html": pa.array([b"<html>x</html>"] * n, pa.binary()),
            "text": pa.array(["x"] * n, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
        }),
        path,
    )


def test_poisoned_batch_aborts_and_stays_invisible(spark, pages_dir, tmp_path):
    """E2E WAP gate: a batch whose keep ratio violates --min-keep-ratio
    must be ABORTED — never visible to read(), its inputs re-ingestable
    — while the good batches publish normally; after 'fixing' (dropping
    the threshold) the same files re-ingest cleanly."""
    import shutil

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    for f in pathlib.Path(pages_dir).glob("*.parquet"):
        shutil.copy(f, mixed / f.name)
    table = str(tmp_path / "t")

    # good corpus first (at default threshold nothing aborts)
    r1 = run(spark, str(mixed), table, from_html=True, min_keep_ratio=0.2)
    assert r1["status"] == "committed"
    cat = SnapshotCatalog(table)
    n_good = cat.read(spark).count()
    assert n_good == N_PAGES

    # the poisoned chunk arrives; its batch must abort
    _poison_chunk(str(mixed / "chunk-poison.parquet"))
    r2 = run(spark, str(mixed), table, from_html=True, resume=True,
             min_keep_ratio=0.2)
    assert r2["status"] == "aborted"
    assert any(v.startswith("keep_ratio=") for v in r2["violations"])
    # invisible: table state unchanged; no staged manifest lingers
    assert cat.read(spark).count() == n_good
    assert all(s["operation"] != "staged" for s in cat.snapshots())
    # re-ingestable: the aborted files are NOT in processed lineage
    assert str(mixed / "chunk-poison.parquet") not in {
        pathlib.Path(f).as_posix() for f in cat.processed_inputs()
    }

    # operator "fixes" the threshold -> the same files ingest cleanly
    r3 = run(spark, str(mixed), table, from_html=True, resume=True)
    assert r3["status"] == "committed"
    assert cat.read(spark).count() == n_good + 60
    # and a final resume is a no-op
    r4 = run(spark, str(mixed), table, from_html=True, resume=True)
    assert r4["status"] == "up-to-date"


def test_abort_lost_to_a_publishing_racer_reports_committed(
    spark, tmp_path, monkeypatch
):
    """A poisoned batch whose abort loses the race to a racer that
    PUBLISHED it (a settle pass on older code or a threshold-less
    manifest): the rows are visible table state, so the run must report
    the racer's outcome — committed, with the head's id — not claim the
    batch was aborted."""
    d = tmp_path / "in"
    d.mkdir()
    _poison_chunk(str(d / "poison.parquet"))
    table = str(tmp_path / "t")

    real_abort = SnapshotCatalog.abort_staged

    def racing_abort(self, sid):
        self.publish(sid)  # the racer decides first
        return real_abort(self, sid)

    monkeypatch.setattr(SnapshotCatalog, "abort_staged", racing_abort)
    r = run(spark, str(d), table, from_html=True, min_keep_ratio=0.2)

    cat = SnapshotCatalog(table)
    head = cat.latest_snapshot()
    assert head["metrics"]["published_from"]
    assert r["status"] == "committed"
    assert r["snapshot"] == head["snapshot_id"]
    assert r["violations"]
    assert cat.read(spark).count() == 60


def test_null_url_batch_always_aborts(spark, tmp_path):
    """The null-url audit needs no threshold: key loss is corruption."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "in"
    d.mkdir()
    pq.write_table(
        pa.table({
            "url": pa.array(["http://ok.example.com/a", None], pa.string()),
            "warc_ts": pa.array([1, 2], pa.timestamp("us")),
            "html": pa.array([b"<p>hi</p>", b"<p>ho</p>"], pa.binary()),
            "text": pa.array(["some words here for the rules ok then",
                              "other words here for the rules ok then"],
                             pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
        }),
        str(d / "bad.parquet"),
    )
    table = str(tmp_path / "t")
    r = run(spark, str(d), table, from_html=False)
    assert r["status"] == "aborted"
    assert r["violations"] == ["null_urls=1"]
    with pytest.raises(ValueError, match="no visible snapshots|no snapshots"):
        SnapshotCatalog(table).read(spark)


def test_crashed_pending_batch_is_settled_on_next_run(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Crash between stage() and the decision: the batch sits staged
    (invisible) with its lineage blocking re-ingest. The next run must
    SETTLE it — re-audit from the durable staged rows and publish —
    so the final state equals the no-crash run."""
    import run_pipeline as rp

    table = str(tmp_path / "t")
    r1 = run(spark, pages_dir, table, from_html=True, max_files=2)
    assert r1["status"] == "committed"

    # crash injection: publish dies AFTER the stage commit landed
    real_publish = SnapshotCatalog.publish

    def dying_publish(self, sid, **_kw):
        raise RuntimeError("simulated crash before the WAP decision")

    monkeypatch.setattr(SnapshotCatalog, "publish", dying_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, pages_dir, table, from_html=True, resume=True)
    monkeypatch.setattr(SnapshotCatalog, "publish", real_publish)

    cat = SnapshotCatalog(table)
    staged = [s for s in cat.snapshots() if s["operation"] == "staged"]
    assert len(staged) == 1  # the stranded pending batch
    n_visible = cat.read(spark).count()
    assert n_visible < N_PAGES

    # next run settles the pending batch THEN finds nothing left to do
    r3 = run(spark, pages_dir, table, from_html=True, resume=True)
    assert r3["status"] == "up-to-date"
    assert r3["settled"] == [
        {"snapshot": r3["settled"][0]["snapshot"], "decision": "published"}
    ]
    assert cat.read(spark).count() == N_PAGES
    assert all(s["operation"] != "staged" for s in cat.snapshots())
    # settled metrics were folded into the published manifest
    head = cat.latest_snapshot()
    assert head["metrics"]["docs_seen"] == N_PAGES - n_visible
    # and the settled manifest carries the lineage
    assert sum(head["metrics"]["lineage"]["docs_seen"]) == N_PAGES - n_visible


def test_crashed_pending_poisoned_batch_settles_to_abort(
    spark, tmp_path, monkeypatch
):
    """Same crash window, poisoned batch: settle must ABORT it from the
    durable staged rows, leaving the inputs re-ingestable."""
    d = tmp_path / "in"
    d.mkdir()
    _poison_chunk(str(d / "poison.parquet"))
    table = str(tmp_path / "t")

    def dying_abort(self, sid):
        raise RuntimeError("simulated crash before the WAP decision")

    real_abort = SnapshotCatalog.abort_staged
    monkeypatch.setattr(SnapshotCatalog, "abort_staged", dying_abort)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, str(d), table, from_html=True, min_keep_ratio=0.2)
    monkeypatch.setattr(SnapshotCatalog, "abort_staged", real_abort)

    cat = SnapshotCatalog(table)
    assert [s["operation"] for s in cat.snapshots()] == ["staged"]

    r = run(spark, str(d), table, from_html=True, resume=True,
            min_keep_ratio=0.2)
    # the pending batch was settled (aborted); the files then re-enter
    # todo — and abort AGAIN at the same threshold, fresh batch each time
    assert r["settled"][0]["decision"] == "aborted"
    assert r["settled"][0]["violations"]
    assert r["status"] == "aborted"
    # nothing ever became visible
    with pytest.raises(ValueError, match="no visible snapshots|no snapshots"):
        cat.read(spark)


def _published_lineage(manifest: dict) -> dict:
    """What a published manifest commits about its batch, without the
    fields that name the commit itself."""
    m = {k: v for k, v in manifest["metrics"].items() if k != "published_from"}
    return {"input_files": manifest["input_files"], "metrics": m}


def test_settled_batch_commits_the_live_lineage(
    spark, pages_dir, tmp_path, monkeypatch
):
    """A batch crashed between stage and publish, then settled by the
    next run, publishes the same lineage and totals as the same batch
    run live — settle takes both from the durable staged rows."""
    live = str(tmp_path / "live")
    run(spark, pages_dir, live, from_html=True, max_files=2)

    crashed = str(tmp_path / "crashed")

    def dying_publish(self, sid, **_kw):
        raise RuntimeError("simulated crash before the WAP decision")

    with monkeypatch.context() as m:
        m.setattr(SnapshotCatalog, "publish", dying_publish)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run(spark, pages_dir, crashed, from_html=True, max_files=2)
    r = run(spark, pages_dir, crashed, from_html=True, resume=True)
    assert r["settled"][0]["decision"] == "published"

    settled = SnapshotCatalog(crashed)._by_id(r["settled"][0]["snapshot"])
    want = _published_lineage(SnapshotCatalog(live).latest_snapshot())
    assert _published_lineage(settled) == want
    assert sum(want["metrics"]["lineage"]["docs_seen"]) == N_PAGES // 2


def test_lineage_aligns_with_input_files(spark, tmp_path):
    """The manifest's lineage lists are aligned with its sorted
    input_files and sum to the batch totals — also for files whose
    names inputFiles() percent-encodes (a space, a '%') or the reader
    would glob ('[', ']'). No side table is written beside the table."""
    d = tmp_path / "in"
    d.mkdir()
    names = ["a b.parquet", "c%20d.parquet", "e[1].parquet", "plain.parquet"]
    for i, n in enumerate(names):
        write_pages_parquet(str(d / n), 20 + 10 * i, seed=200 + i)
    table = tmp_path / "t"
    r = run(spark, str(d), str(table), from_html=True)
    assert r["status"] == "committed"

    cat = SnapshotCatalog(str(table))
    head = cat.latest_snapshot()
    m = head["metrics"]
    lineage = m["lineage"]
    assert sorted(lineage) == [
        "bytes_scrubbed", "docs_kept", "docs_seen", "n_partitions"]
    assert all(len(v) == len(names) for v in lineage.values())
    for k in ("docs_seen", "docs_kept", "bytes_scrubbed"):
        assert sum(lineage[k]) == m[k]
    assert m["docs_seen"] == sum(20 + 10 * i for i in range(len(names)))
    assert all(n >= 1 for n in lineage["n_partitions"])

    # aligned: entry i counts the rows input_files[i] yielded
    recount = {
        row["input_file"]: (row["n"], row["k"])
        for row in cat.read(spark).groupBy("input_file").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        ).collect()
    }
    assert recount == {
        f: (n, k) for f, n, k in zip(
            head["input_files"], lineage["docs_seen"], lineage["docs_kept"])
    }
    assert not (table / "metrics").exists()


def test_zero_row_batch_publishes_and_lineage_survives(spark, tmp_path):
    """An EMPTY batch publishes by design (so --resume stops re-feeding
    its files) — and the lineage must survive it: Spark writes a
    zero-row partitioned snapshot as _SUCCESS with no parquet footers,
    so a reader that needs a footer would throw on every later run."""
    d = tmp_path / "in"
    d.mkdir(exist_ok=True)
    _poison_chunk(str(d / "empty.parquet"), n=0)
    table = str(tmp_path / "t")
    r = run(spark, str(d), table, from_html=True)
    assert r["status"] == "committed"
    assert r["metrics"]["docs_seen"] == 0
    cat = SnapshotCatalog(table)
    head = cat.latest_snapshot()
    # the empty file still gets its (all-zero) lineage entry
    assert len(head["input_files"]) == 1
    assert head["metrics"]["lineage"] == {
        "docs_seen": [0], "docs_kept": [0], "bytes_scrubbed": [0],
        "n_partitions": [0],
    }
    # and the next run neither re-feeds the file nor settles anything
    r2 = run(spark, str(d), table, from_html=True, resume=True)
    assert r2["status"] == "up-to-date"
    assert "settled" not in r2


def test_settle_reaudits_with_the_staging_runs_threshold(
    spark, tmp_path, monkeypatch
):
    """The audit threshold rides in the STAGED manifest: a batch staged
    under --min-keep-ratio 0.2 that crashes pending must still abort
    when the settling run is launched WITHOUT the flag (the 0.0 default
    of an unrelated cron entry) — otherwise a poisoned batch publishes."""
    d = tmp_path / "in"
    d.mkdir()
    _poison_chunk(str(d / "poison.parquet"))
    table = str(tmp_path / "t")

    real_abort = SnapshotCatalog.abort_staged

    def dying_abort(self, sid):
        raise RuntimeError("simulated crash before the WAP decision")

    monkeypatch.setattr(SnapshotCatalog, "abort_staged", dying_abort)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, str(d), table, from_html=True, min_keep_ratio=0.2)
    monkeypatch.setattr(SnapshotCatalog, "abort_staged", real_abort)

    cat = SnapshotCatalog(table)
    staged = [s for s in cat.snapshots() if s["operation"] == "staged"]
    assert len(staged) == 1
    assert staged[0]["metrics"]["min_keep_ratio"] == 0.2

    # settle WITHOUT the flag: the persisted threshold must win — the
    # crashed batch aborts on ITS OWN staging run's 0.2, not this run's
    # 0.0 default
    r = run(spark, str(d), table, from_html=True, resume=True)
    assert r["settled"][0]["decision"] == "aborted"
    assert any("keep_ratio" in v for v in r["settled"][0]["violations"])
    # the same run then re-ingests the (re-ingestable) files as a NEW
    # batch under its own explicit no-threshold choice — that publish is
    # the documented semantics of 0.0, a fresh operator decision, not
    # the crashed batch leaking through
    assert r["status"] == "committed"
    assert cat.latest_snapshot()["metrics"]["min_keep_ratio"] == 0.0


# ------------------------------------------------ the per-batch driver tax


def _jobs_launched(spark, group: str, fn):
    """fn()'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_launches_two_jobs_and_up_to_date_none(spark, pages_dir, tmp_path):
    """A fresh batch runs the pages read's schema inference and the
    stage write, nothing else; listing the input dir and the up-to-date
    rerun launch no job at all (the inferring listing made it 3 and 1)."""
    table = str(tmp_path / "t")
    r, n = _jobs_launched(spark, "batch-fresh", lambda: run(
        spark, pages_dir, table, from_html=True, resume=True,
        partition_by="keep,ds"))
    assert r["status"] == "committed"
    assert n == 2
    r, n = _jobs_launched(spark, "batch-up-to-date", lambda: run(
        spark, pages_dir, table, from_html=True, resume=True))
    assert r == {"status": "up-to-date", "snapshot": None}
    assert n == 0


def _tiny_parquet(path: pathlib.Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"x": [1, 2]}), str(path))


def test_listing_matches_the_inferring_read(spark, tmp_path):
    """_list_inputs lists what a plain parquet read of the dir lists:
    partition dirs walked; _SUCCESS and dot-files skipped; names with a
    space, a '%' or a '[' given as the same URI strings."""
    parted = tmp_path / "parted"
    for p in ("crawl=2024-01/a.parquet", "crawl=2024-01/b.parquet",
              "crawl=2024-02/c.parquet"):
        _tiny_parquet(parted / p)
    flat = tmp_path / "flat"
    for p in ("plain.parquet", "a b%20c[1].parquet", ".hidden.parquet"):
        _tiny_parquet(flat / p)
    (flat / "_SUCCESS").touch()

    for d, n in ((parted, 3), (flat, 2)):
        got = _list_inputs(spark, str(d))
        assert got == sorted(spark.read.parquet(str(d)).inputFiles())
        assert len(got) == n


def test_empty_input_dir_is_up_to_date_missing_dir_raises(spark, tmp_path):
    """An empty input dir has nothing to do (schema inference used to
    fail on it with UNABLE_TO_INFER_SCHEMA); a missing one is an error."""
    from pyspark.errors import AnalysisException

    empty = tmp_path / "empty"
    empty.mkdir()
    table = str(tmp_path / "t")
    assert run(spark, str(empty), table) == {"status": "up-to-date", "snapshot": None}
    with pytest.raises(AnalysisException) as e:
        run(spark, str(tmp_path / "missing"), table)
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_batch_plan_round_trip_budget(spark, pages_dir, monkeypatch):
    """Building one batch's plan (pages read through observe) stays
    within a py4j round-trip budget: ~1,000 with Column-builder
    expressions under PySpark's DataFrame debugging, ~340-365 from the
    building thread with the debugging off, ~155-180 with the cascade
    and the audit aggregations sent as SQL text.
    The session factory turns the debugging off, and analysis errors
    still name the unresolved column and the candidates."""
    import threading

    import py4j.clientserver as cs
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    files = _list_inputs(spark, pages_dir)
    calls = 0
    send = cs.ClientServerConnection.send_command
    # py4j's finalizer thread releases garbage-collected proxies of
    # earlier work with its own round trips at times of its choosing
    # (up to ~200 more in one window); only this thread's calls are the
    # plan build's
    me = threading.get_ident()

    def counted(self, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    _batch_plan(spark, pages_dir, files, from_html=True, parts=["keep", "ds"])
    monkeypatch.undo()
    assert 0 < calls <= 260

    with pytest.raises(AnalysisException) as e:
        spark.range(1).select("nope")
    assert e.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "`nope`" in str(e.value) and "`id`" in str(e.value)
