"""Adversarial commit/resume torture tests for the snapshot catalog seam
(VERDICT r2 task 6): concurrent-writer optimistic-commit races, crash
mid-manifest-write, and resume idempotence under duplicated inputs."""

from __future__ import annotations

import json
import os
import threading

import pytest

from streamcorpus_filter_spark.catalog import SnapshotCatalog


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 3 AS k")


def test_injected_commit_collision_reparents_and_retries(spark, monkeypatch, tmp_path):
    """Deterministic race: a competitor claims the sequence file between
    our writer's latest_snapshot() read and its os.link claim. The writer
    must NOT shadow or overwrite — it must re-read, re-parent onto the
    competitor, and commit the next sequence."""
    cat = SnapshotCatalog(str(tmp_path))
    first = cat.append(_df(spark, 0, 10))

    real_link = os.link
    injected = {"done": False}

    def racing_link(src, dst, *a, **kw):
        if not injected["done"]:
            injected["done"] = True
            # competitor commits sequence 1 first
            competitor = dict(first)
            competitor.update(
                {"sequence": 1, "snapshot_id": "competitor0000!!",
                 "parent_id": first["snapshot_id"], "input_files": []}
            )
            (cat.root / "snapshots" / "00000001.json").write_text(
                json.dumps(competitor)
            )
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", racing_link)
    ours = cat.append(_df(spark, 10, 20))
    monkeypatch.setattr(os, "link", real_link)

    assert ours["sequence"] == 2
    assert ours["parent_id"] == "competitor0000!!"
    snaps = cat.snapshots()
    assert [s["sequence"] for s in snaps] == [0, 1, 2]
    # linear parent chain, no shadowed commits
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]
    # no tmp litter
    assert not list((cat.root / "snapshots").glob(".tmp-*"))


def test_concurrent_threaded_appends_serialize(spark, tmp_path):
    """8 appends from 4 threads: every commit lands, sequences come out
    contiguous, the parent chain is linear, and reads see all rows."""
    cat = SnapshotCatalog(str(tmp_path))
    errs: list[Exception] = []

    def writer(base):
        try:
            for j in range(2):
                cat.append(_df(spark, base + 100 * j, base + 100 * j + 10))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(1000 * i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    snaps = cat.snapshots()
    assert [s["sequence"] for s in snaps] == list(range(8))
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_id"] == prev["snapshot_id"]
    assert cat.read(spark).count() == 80
    assert not list((cat.root / "snapshots").glob(".tmp-*"))


def test_crash_before_manifest_leaves_readers_clean(spark, monkeypatch, tmp_path):
    """Kill after data files land but before the manifest claim: readers
    must never see the orphaned data, the tmp manifest must not leak, and
    the next append must commit the expected sequence."""
    cat = SnapshotCatalog(str(tmp_path))
    cat.append(_df(spark, 0, 10))

    def exploding_link(src, dst, *a, **kw):
        raise OSError("simulated crash during manifest claim")

    monkeypatch.setattr(os, "link", exploding_link)
    with pytest.raises(OSError, match="simulated crash"):
        cat.append(_df(spark, 10, 20))
    monkeypatch.undo()

    # orphan data dir exists but is invisible to readers
    assert len(list((cat.root / "data").iterdir())) == 2
    assert cat.read(spark).count() == 10
    # the ADVICE fix: tmp manifest unlinked on the failure path too
    assert not list((cat.root / "snapshots").glob(".tmp-*"))

    nxt = cat.append(_df(spark, 20, 30))
    assert nxt["sequence"] == 1
    assert cat.read(spark).count() == 20


def test_hard_kill_tmp_litter_is_invisible(spark, tmp_path):
    """A .tmp-* file left by a SIGKILL'd writer (no finally ran) must not
    corrupt the manifest chain or show up in snapshot listings."""
    cat = SnapshotCatalog(str(tmp_path))
    (cat.root / "snapshots" / ".tmp-deadbeef").write_text('{"sequence": 99}')
    cat.append(_df(spark, 0, 10))
    snaps = cat.snapshots()
    assert [s["sequence"] for s in snaps] == [0]
    assert cat.read(spark).count() == 10


def test_resume_is_idempotent_under_duplicated_inputs(spark, tmp_path):
    """processed_inputs() is a set union across snapshots: inputs listed
    twice (within a snapshot or across retried runs) count once, and the
    resume anti-join keeps only genuinely new files."""
    cat = SnapshotCatalog(str(tmp_path))
    cat.append(_df(spark, 0, 10), input_files=["a", "b", "a"])
    cat.append(_df(spark, 10, 20), input_files=["b", "c"])
    assert cat.processed_inputs() == {"a", "b", "c"}
    batch = ["b", "c", "d"]
    todo = [f for f in batch if f not in cat.processed_inputs()]
    assert todo == ["d"]
    # a retried run that re-lists an already-consumed input adds nothing
    cat.append(_df(spark, 20, 30), input_files=["c"])
    assert cat.processed_inputs() == {"a", "b", "c"}


def test_concurrent_publishers_of_same_batch_converge_to_one_head(spark, tmp_path):
    """Two publishers racing the SAME staged id: the pre-scan idempotence
    check has a TOCTOU window where both can commit a head referencing
    the same data dir (duplicated rows). The post-commit self-heal makes
    the later sequence yield, so exactly one published head survives and
    the batch appears exactly once."""
    import threading

    from streamcorpus_filter_spark.catalog import SnapshotCatalog

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))

    results, errors = [], []
    barrier = threading.Barrier(2)

    def go():
        try:
            barrier.wait()
            results.append(c.publish(staged["snapshot_id"]))
        except Exception as e:  # noqa: BLE001 - surface in assert below
            errors.append(e)

    ts = [threading.Thread(target=go) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors, errors
    # both callers got A head, and it's the SAME surviving head
    heads = {r["snapshot_id"] for r in results}
    published = [
        s for s in c.snapshots()
        if s.get("metrics", {}).get("published_from") == staged["snapshot_id"]
    ]
    assert len(published) == 1, published
    assert published[0]["snapshot_id"] in heads
    rows = sorted(r.doc_id for r in c.read(spark).collect())
    assert rows == [1, 2], rows  # batch exactly once


def test_publish_racing_concurrent_append_keeps_chain_linear(spark, tmp_path):
    """publish() commits through the same sequence-claim protocol as
    append(): racing an unrelated append must re-parent and land both
    commits at distinct contiguous sequences, batch rows exactly once."""
    import threading

    from streamcorpus_filter_spark.catalog import SnapshotCatalog

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))
    extra = spark.createDataFrame([(3, 30)], "doc_id bigint, v bigint")
    barrier = threading.Barrier(2)
    errors = []

    def pub():
        try:
            barrier.wait()
            c.publish(staged["snapshot_id"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def app():
        try:
            barrier.wait()
            c.append(extra)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=pub), threading.Thread(target=app)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errors, errors
    seqs = [s["sequence"] for s in c.snapshots()]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))
    rows = sorted(r.doc_id for r in c.read(spark).collect())
    assert rows == [1, 2, 3], rows


def test_publish_retry_collapses_crash_orphaned_duplicate_heads(spark, tmp_path):
    """A publisher that crashes between its head commit and its self-heal
    scan leaves TWO heads referencing the same data dir — every read
    would union the batch twice, and a compaction would bake the
    duplicates in durably. The retry's idempotence pre-scan must collapse
    all-but-the-earliest head, not just return the first one it sees."""
    import time as _time
    import uuid as _uuid

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 3))
    staged = c.stage(_df(spark, 3, 5))
    first = c.publish(staged["snapshot_id"])
    # simulate the crashed racer: a second head for the same staged id,
    # committed but never self-healed (its process died right after)
    c._commit_manifest({
        "sequence": -1,
        "snapshot_id": _uuid.uuid4().hex[:16],
        "parent_id": None,
        "committed_at": _time.time(),
        "operation": "append",
        "data_dir": staged["data_dir"],
        "input_files": [],
        "metrics": {"published_from": staged["snapshot_id"]},
        "partition_by": [],
        "schema_json": staged.get("schema_json"),
    })
    # the duplicated state is live until someone heals it
    assert [r.id for r in c.read(spark).collect()].count(3) == 2
    again = c.publish(staged["snapshot_id"])
    assert again["snapshot_id"] == first["snapshot_id"]
    heads = [
        s for s in c.snapshots()
        if s.get("metrics", {}).get("published_from") == staged["snapshot_id"]
    ]
    assert len(heads) == 1
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_publish_vs_abort_race_resolves_to_exactly_one_outcome(spark, tmp_path):
    """publish and abort_staged of the SAME staged id race: both commit a
    decisive manifest (head vs tombstone) and the lower sequence wins.
    Exactly one side succeeds; the loser raises; the table is never left
    with a visible head referencing a deleted data dir (the brick)."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    staged = c.stage(_df(spark, 2, 4))
    barrier = threading.Barrier(2)
    outcome: dict[str, object] = {}

    def pub():
        barrier.wait()
        try:
            outcome["pub"] = c.publish(staged["snapshot_id"])
        except ValueError as e:
            outcome["pub_err"] = e

    def ab():
        barrier.wait()
        try:
            c.abort_staged(staged["snapshot_id"])
            outcome["abort"] = True
        except ValueError as e:
            outcome["abort_err"] = e

    ts = [threading.Thread(target=pub), threading.Thread(target=ab)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    # exactly one winner
    assert ("pub" in outcome) != ("abort" in outcome), outcome
    rows = sorted(r.id for r in c.read(spark).collect())  # never bricked
    if "pub" in outcome:
        assert rows == [0, 1, 2, 3]
        assert "abort_err" in outcome
        assert "published" in str(outcome["abort_err"])
    else:
        assert rows == [0, 1]
        assert "pub_err" in outcome
        assert "aborted" in str(outcome["pub_err"])
        import pathlib as _pl
        if _pl.Path(staged["data_dir"]).exists():
            # rare interleaving: the abort won but the publish racer's
            # doomed head still referenced the dir at the abort's
            # `shared` scan, so the rmtree was legitimately skipped
            # (deleting then would have raced the head unlink). The
            # documented heal is to re-call abort_staged — idempotent:
            # the surviving tombstone is reused and the cleanup finishes.
            c.abort_staged(staged["snapshot_id"])
        assert not _pl.Path(staged["data_dir"]).exists()


def test_racing_taggers_one_wins_and_tag_content_matches_winner(spark, tmp_path):
    """Two taggers racing one name: per-attempt tmp files mean the winner
    links its OWN payload (a shared .tmp-{name} could link the loser's
    clobbered bytes, silently pointing the release tag at the wrong
    snapshot) and the loser gets the clean already-exists error."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    a = c.append(_df(spark, 0, 1))
    b = c.append(_df(spark, 1, 2))
    results, errors = [], []
    barrier = threading.Barrier(2)

    def tagit(snap):
        barrier.wait()
        try:
            results.append(c.tag("v1", snap["snapshot_id"]))
        except ValueError as e:
            errors.append(e)

    ts = [threading.Thread(target=tagit, args=(s,)) for s in (a, b)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(results) == 1 and len(errors) == 1, (results, errors)
    # the durable tag points at exactly what the winner was told it does
    assert c.tags()["v1"] == results[0]["snapshot_id"]


def test_tags_listing_tolerates_concurrent_delete(spark, tmp_path):
    """tags() must skip a tag file unlinked between its glob and read
    (concurrent delete_tag), same vanish tolerance as snapshots()."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 1))
    c.tag("keep")
    c.tag("scratch")
    real_read_text = type(c.root).read_text

    def racy_read_text(self, *a, **k):
        if self.name == "scratch.json":
            self.unlink(missing_ok=True)  # the concurrent delete lands
        return real_read_text(self, *a, **k)

    import unittest.mock as mock
    with mock.patch.object(type(c.root), "read_text", racy_read_text):
        out = c.tags()
    assert out["keep"] == c.snapshots()[-1]["snapshot_id"]
    assert "scratch" not in out


def test_publish_retry_yields_to_earlier_tombstone_and_heals_brick(spark, tmp_path):
    """A publisher that commits its head AFTER an abort tombstone but
    crashes before its own yield-check leaves: tombstone seq N + orphan
    head seq N+1 pointing at a data dir the abort deleted — read() is
    bricked on the missing path. A publish RETRY must finish the
    adjudication (lower sequence wins): unlink the orphan head and raise
    'was aborted' — returning the head as success would report a
    published batch whose bytes are gone."""
    import time as _time
    import uuid as _uuid

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    staged = c.stage(_df(spark, 2, 4))
    c.abort_staged(staged["snapshot_id"])  # abort wins, dir deleted
    # simulate the crashed publisher: head committed after the tombstone,
    # process died before its tombstone check could unlink it
    c._commit_manifest({
        "sequence": -1,
        "snapshot_id": _uuid.uuid4().hex[:16],
        "parent_id": None,
        "committed_at": _time.time(),
        "operation": "append",
        "data_dir": staged["data_dir"],
        "input_files": [],
        "metrics": {"published_from": staged["snapshot_id"]},
        "partition_by": [],
        "schema_json": staged.get("schema_json"),
    })
    with pytest.raises(Exception):
        c.read(spark).collect()  # the brick: head references deleted dir
    with pytest.raises(ValueError, match="aborted"):
        c.publish(staged["snapshot_id"])  # retry adjudicates, never "succeeds"
    # the orphan head is gone and the table reads clean again
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1]
    heads = [
        s for s in c.snapshots()
        if s.get("metrics", {}).get("published_from") == staged["snapshot_id"]
    ]
    assert heads == []


def test_abort_retry_drops_leftover_tombstone_when_publish_won(spark, tmp_path):
    """Mirror case: the publish head committed FIRST, the losing abort
    crashed after committing its later tombstone but before unlinking
    it. A publish retry must treat the earlier head as the winner,
    remove the leftover tombstone, and return the head."""
    import time as _time
    import uuid as _uuid

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    staged = c.stage(_df(spark, 2, 4))
    head = c.publish(staged["snapshot_id"])  # publish wins
    # simulate the crashed aborter's leftover later-sequence tombstone
    c._commit_manifest({
        "sequence": -1,
        "snapshot_id": _uuid.uuid4().hex[:16],
        "parent_id": None,
        "committed_at": _time.time(),
        "operation": "abort",
        "data_dir": "",
        "input_files": [],
        "metrics": {"aborted_from": staged["snapshot_id"],
                    "aborted_data_dir": staged["data_dir"]},
        "partition_by": [],
        "schema_json": None,
    })
    again = c.publish(staged["snapshot_id"])
    assert again["snapshot_id"] == head["snapshot_id"]
    tombs = [
        s for s in c.snapshots() if s.get("operation") == "abort"
    ]
    assert tombs == []
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1, 2, 3]


def test_publish_toctou_staged_vanished_converges_to_winner(spark, tmp_path):
    """Deterministic pin of the staged-manifest-vanished interleaving
    (observed once under full-suite load as a KeyError escape): racer A
    passes the pre-scan (no head, no tombstone), then racer B completes
    its ENTIRE publish — head committed AND staged manifest unlinked —
    before A reaches _get_staged. A must converge to B's head, not
    raise. Injection point: an instance-attribute shadow of
    _get_staged that runs the winner's full publish first."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    winner = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    staged = c.stage(_df(spark, 2, 4))

    orig = c._get_staged
    won: dict = {}

    def vanish_then_lookup(sid):
        if not won:
            won["head"] = winner.publish(sid)  # full publish: head+unlink
        return orig(sid)

    c._get_staged = vanish_then_lookup
    out = c.publish(staged["snapshot_id"])
    assert out["snapshot_id"] == won["head"]["snapshot_id"]
    published = [
        s for s in c.snapshots()
        if s.get("metrics", {}).get("published_from") == staged["snapshot_id"]
    ]
    assert len(published) == 1
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1, 2, 3]


def test_publish_toctou_staged_vanished_surfaces_winner_abort(spark, tmp_path):
    """Same vanished-staged window, but the racer that finished first
    was an ABORT: the losing publisher must surface the abort
    ValueError (the batch is gone), not a KeyError."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    winner = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    staged = c.stage(_df(spark, 2, 4))

    orig = c._get_staged
    fired: dict = {}

    def vanish_then_lookup(sid):
        if not fired:
            fired["x"] = True
            winner.abort_staged(sid)
        return orig(sid)

    c._get_staged = vanish_then_lookup
    with pytest.raises(ValueError, match="aborted"):
        c.publish(staged["snapshot_id"])
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1]


def _stale_first_scan(cat, stale):
    """Make cat's next snapshots() call return ``stale``, later calls
    the real listing: the scan that missed a racer's manifests."""
    real = cat.snapshots
    calls = []

    def snapshots():
        calls.append(1)
        return stale if len(calls) == 1 else real()

    cat.snapshots = snapshots


@pytest.mark.parametrize("winner_verb", ["publish", "abort_staged"])
def test_abort_toctou_staged_vanished_converges_to_winner(
    spark, tmp_path, winner_verb
):
    """abort_staged's first scan misses both the staged manifest (the
    winner already unlinked it) and the winner's head or tombstone (not
    yet listed). It must re-scan and converge: a published head is a
    lost abort (ValueError, the head stays visible); a tombstone is a won
    abort (its cleanup runs, the batch stays invisible). It used to raise
    KeyError."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    winner = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    stale = c.snapshots()
    sid = c.stage(_df(spark, 2, 4))["snapshot_id"]
    getattr(winner, winner_verb)(sid)

    _stale_first_scan(c, stale)
    if winner_verb == "publish":
        with pytest.raises(ValueError, match="already published"):
            c.abort_staged(sid)
        assert sorted(r.id for r in c.read(spark).collect()) == [0, 1, 2, 3]
    else:
        c.abort_staged(sid)
        assert sorted(r.id for r in c.read(spark).collect()) == [0, 1]
        assert len([s for s in c.snapshots()
                    if s.get("operation") == "abort"]) == 1


def test_abort_unknown_id_still_raises_keyerror(spark, tmp_path):
    """The re-scan must not swallow a caller error: an abort of an id no
    snapshot ever carried stays a KeyError."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    with pytest.raises(KeyError, match="unknown snapshot"):
        c.abort_staged("never-existed-0000")


def test_publish_unknown_id_still_raises_keyerror(spark, tmp_path):
    """The TOCTOU healing must not swallow genuine caller errors: a
    publish of an id no snapshot ever carried stays a KeyError."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_df(spark, 0, 2))
    with pytest.raises(KeyError, match="unknown snapshot"):
        c.publish("never-existed-0000")


def test_concurrent_cherry_picks_converge_to_one_redo(spark, tmp_path):
    """Two racers cherry-picking the SAME rollback-undone append: the
    duplicate guard has the same pre-scan TOCTOU window as publish —
    both can pass it and both commit a redo referencing the same dir,
    which read() would union into doubled rows. The post-commit
    self-heal must collapse to ONE redo regardless of interleaving."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    base = c.append(_df(spark, 0, 3))
    good = c.append(_df(spark, 3, 6))
    c.rollback_to(base["snapshot_id"])

    results, errors = [], []
    barrier = threading.Barrier(2)

    def go():
        try:
            barrier.wait()
            results.append(c.cherry_pick(good["snapshot_id"]))
        except ValueError as e:
            # a racer that observes the winner's finished redo refuses
            # with the duplicate guard — a legal, converged outcome
            errors.append(e)

    ts = [threading.Thread(target=go) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert results, errors  # at least one racer succeeded
    redos = [
        s for s in c.snapshots()
        if s.get("metrics", {}).get("cherry_picked_from")
        == good["snapshot_id"]
        and s["snapshot_id"] in c._timeline_ids(c.snapshots())
    ]
    assert len(redos) == 1, redos
    rows = sorted(r.id for r in c.read(spark).collect())
    assert rows == [0, 1, 2, 3, 4, 5], rows  # batch exactly once


def test_cherry_pick_retry_heals_double_crash(spark, tmp_path):
    """If BOTH racers crash between commit and self-heal, the table
    reads doubled until the next cherry_pick call — whose pre-scan must
    finish the collapse (retry-finishes-the-job), then refuse normally."""
    import time as _time
    import uuid as _uuid

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    base = c.append(_df(spark, 0, 3))
    good = c.append(_df(spark, 3, 6))
    c.rollback_to(base["snapshot_id"])
    m1 = c.cherry_pick(good["snapshot_id"])
    # simulate the second crashed racer's un-healed duplicate commit
    c._commit_manifest({
        "sequence": -1,
        "snapshot_id": _uuid.uuid4().hex[:16],
        "parent_id": None,
        "committed_at": _time.time(),
        "operation": "append",
        "data_dir": good["data_dir"],
        "input_files": good["input_files"],
        "metrics": {**good["metrics"],
                    "cherry_picked_from": good["snapshot_id"]},
        "partition_by": good.get("partition_by", []),
        "bucket_spec": good.get("bucket_spec"),
        "schema_json": good.get("schema_json"),
    })
    assert c.read(spark).count() == 9  # doubled: the crash artifact
    with pytest.raises(ValueError, match="already in the current state"):
        c.cherry_pick(good["snapshot_id"])
    # the retry healed the duplicate before refusing
    assert sorted(r.id for r in c.read(spark).collect()) == [0, 1, 2, 3, 4, 5]
    assert c._by_id(m1["snapshot_id"]) is not None  # earliest survived
