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

import pytest

from run_pipeline import run
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

    # per-input-file metrics table: every input file accounted for, and
    # its docs_seen sums back to the total
    mdir = pathlib.Path(table) / "metrics" / snap["snapshot_id"]
    lineage = spark.read.parquet(str(mdir))
    rows = lineage.collect()
    assert len(rows) == N_FILES
    assert sum(x["docs_seen"] for x in rows) == N_PAGES
    assert all(x["snapshot_id"] == snap["snapshot_id"] for x in rows)


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
    # and the lineage side table exists for the settled snapshot
    mdir = pathlib.Path(table) / "metrics" / head["snapshot_id"]
    assert mdir.exists()


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


def test_crash_between_publish_and_lineage_is_healed(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Crash AFTER publish() committed the head but BEFORE the lineage
    side-table landed: the staged manifest is already unlinked, so the
    staged-scan settle loop never sees this batch — settle must heal it
    from the published head (which inherits the pipeline_wap marker),
    including a partially-written metrics dir (crash mid-Spark-write
    leaves the dir without _SUCCESS)."""
    import run_pipeline as rp

    table = str(tmp_path / "t")

    real_lineage = rp._write_lineage

    def dying_lineage(spark_, cat_, table_, head_):
        raise RuntimeError("simulated crash after publish")

    monkeypatch.setattr(rp, "_write_lineage", dying_lineage)
    with pytest.raises(RuntimeError, match="after publish"):
        run(spark, pages_dir, table, from_html=True, max_files=1)
    monkeypatch.setattr(rp, "_write_lineage", real_lineage)

    cat = SnapshotCatalog(table)
    head = cat.latest_snapshot()
    assert head is not None  # published, visible...
    mdir = pathlib.Path(table) / "metrics" / head["snapshot_id"]
    assert not mdir.exists()  # ...but lineage never landed

    # worse: fake a partial write (dir exists, no _SUCCESS) — the heal
    # must clear and rewrite it, not trust the bare dir
    mdir.mkdir(parents=True)
    (mdir / "_temporary").mkdir()

    r = run(spark, pages_dir, table, from_html=True, resume=True,
            max_files=1)
    assert {"snapshot": head["snapshot_id"], "decision": "lineage_healed"} \
        in r.get("settled", [])
    assert (mdir / "_SUCCESS").exists()
    lin = spark.read.parquet(str(mdir))
    assert lin.count() == 1  # one input file in the healed batch
    assert lin.select("docs_seen").first()[0] == head["metrics"]["docs_seen"]
    # idempotent: a further run heals nothing more
    r2 = run(spark, pages_dir, table, from_html=True, resume=True)
    assert all(
        s["decision"] != "lineage_healed" for s in r2.get("settled", [])
    )


def test_interleaved_lineage_writes_land_once(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Two settlers healing one head's lineage side-table at once: the
    second runs start to finish while the first is inside its Spark
    write. Both must return, and the landed dir must be complete and
    hold each input file's row exactly once — neither writer may write
    into, or clear, the other's output."""
    import shutil

    from pyspark.sql import DataFrameWriter

    import run_pipeline as rp

    table = str(tmp_path / "t")
    run(spark, pages_dir, table, from_html=True, max_files=2)
    cat = SnapshotCatalog(table)
    head = cat.latest_snapshot()
    mdir = pathlib.Path(table) / "metrics" / head["snapshot_id"]
    shutil.rmtree(mdir)  # as if the lineage write had never run

    real_parquet = DataFrameWriter.parquet
    racers = []

    def racing_parquet(self, path, *a, **kw):
        if not racers:
            racers.append(path)
            rp._write_lineage(spark, cat, table, head)
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", racing_parquet)
    rp._write_lineage(spark, cat, table, head)
    monkeypatch.undo()

    assert len(racers) == 1
    assert (mdir / "_SUCCESS").exists()
    files = [r["input_file"] for r in spark.read.parquet(str(mdir)).collect()]
    assert len(files) == len(set(files)) == 2
    # the loser's copy was dropped, not left beside the winner
    assert sorted(p.name for p in mdir.parent.iterdir()) == [mdir.name]


def test_zero_row_batch_publishes_and_lineage_survives(spark, tmp_path):
    """An EMPTY batch publishes by design (so --resume stops re-feeding
    its files) — and the lineage write must survive it: Spark writes a
    zero-row partitioned snapshot as _SUCCESS with no parquet footers,
    so a schemaless read would throw and the settle heal loop would then
    retry the throw on every later run, bricking the table."""
    d = tmp_path / "in"
    d.mkdir(exist_ok=True)
    _poison_chunk(str(d / "empty.parquet"), n=0)
    table = str(tmp_path / "t")
    r = run(spark, str(d), table, from_html=True)
    assert r["status"] == "committed"
    assert r["metrics"]["docs_seen"] == 0
    cat = SnapshotCatalog(table)
    head = cat.latest_snapshot()
    mdir = pathlib.Path(table) / "metrics" / head["snapshot_id"]
    assert (mdir / "_SUCCESS").exists()
    assert spark.read.parquet(str(mdir)).count() == 0
    # and the next run neither re-feeds the file nor re-heals anything
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
