"""Snapshot-compaction semantics (catalog.py compact / REPLACE commits).

The driver row (sink_compact) value-checks content preservation through
a rewrite; these tests check what the row can't: the file count actually
drops, time travel to pre-compaction snapshots is unaffected, and
incremental consumers never re-see rewritten rows.
"""

from __future__ import annotations

import pathlib

import pyspark.sql.functions as F
import pytest

from streamcorpus_filter_spark.catalog import SnapshotCatalog

SF_SMALL = "/root/testdata/sf0.001"


def _data_files(cat: SnapshotCatalog, df) -> list[str]:
    return sorted(df.inputFiles())


@pytest.fixture()
def cat(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    # four fragment appends, each repartitioned into 4 files -> 16 files
    for i in range(4):
        c.append(docs.where(F.col("doc_id") % 4 == i).repartition(4))
    return c


def test_compact_reduces_files_and_preserves_rows(spark, cat):
    before_rows = sorted(r.doc_id for r in cat.read(spark).collect())
    n_files_before = len(_data_files(cat, cat.read(spark)))
    assert n_files_before >= 16

    cat.compact(spark, target_files=2)

    after = cat.read(spark)
    assert sorted(r.doc_id for r in after.collect()) == before_rows
    assert len(_data_files(cat, after)) <= 2


def test_time_travel_ignores_later_compaction(spark, cat):
    s2 = cat.snapshots()[1]  # second fragment append
    want = sorted(r.doc_id for r in cat.read(spark, s2["snapshot_id"]).collect())
    cat.compact(spark, target_files=1)
    got = sorted(r.doc_id for r in cat.read(spark, s2["snapshot_id"]).collect())
    assert got == want


def test_incremental_skips_rewrites(spark, cat):
    s_last = cat.latest_snapshot()["snapshot_id"]
    cat.compact(spark, target_files=1)
    # nothing logically new after the last append -> empty increment
    assert cat.read_incremental(spark, s_last).count() == 0
    # a post-compaction append IS new, and ONLY it shows up
    extra = spark.createDataFrame(
        [(10_000_001, "en", 42)], "doc_id bigint, lang string, n_chars bigint"
    )
    cat.append(extra)
    inc = cat.read_incremental(spark, s_last).collect()
    assert [r.doc_id for r in inc] == [10_000_001]


def test_append_after_compaction_unions_with_replace(spark, cat):
    n0 = cat.read(spark).count()
    cat.compact(spark, target_files=1)
    extra = spark.createDataFrame(
        [(10_000_002, "fr", 7)], "doc_id bigint, lang string, n_chars bigint"
    )
    cat.append(extra)
    assert cat.read(spark).count() == n0 + 1
    # and a second compaction folds the tail back into one snapshot
    cat.compact(spark, target_files=1)
    assert cat.read(spark).count() == n0 + 1
    assert len(_data_files(cat, cat.read(spark))) <= 1


def test_expire_reclaims_storage_but_not_state(spark, cat):
    want = sorted(r.doc_id for r in cat.read(spark).collect())
    s2 = cat.snapshots()[1]["snapshot_id"]
    cat.compact(spark, target_files=1)
    n_dirs_before = len(list((pathlib.Path(cat.root) / "data").iterdir()))

    stats = cat.expire_snapshots()
    assert (stats["expired"], stats["removed_dirs"]) == (4, 4)
    n_dirs_after = len(list((pathlib.Path(cat.root) / "data").iterdir()))
    assert n_dirs_after == n_dirs_before - 4
    # current state untouched, time travel to expired snapshots gone
    assert sorted(r.doc_id for r in cat.read(spark).collect()) == want
    with pytest.raises(KeyError):
        cat.read(spark, s2)
    # idempotent: a second expiry has nothing to do
    assert cat.expire_snapshots() == {"expired": 0, "removed_dirs": 0, "protected": 0}


def test_expire_without_compaction_is_a_noop(spark, cat):
    assert cat.expire_snapshots() == {"expired": 0, "removed_dirs": 0, "protected": 0}
    assert len(cat.snapshots()) == 4


def test_expire_preserves_resume_lineage(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs.where(F.col("doc_id") % 2 == 0), input_files=["in/a", "in/b"])
    c.append(docs.where(F.col("doc_id") % 2 == 1), input_files=["in/c"])
    before = c.processed_inputs()
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    # the resume checkpoint must survive manifest GC or a restarted job
    # would re-ingest already-processed inputs
    assert c.processed_inputs() == before == {"in/a", "in/b", "in/c"}


def test_schema_evolution_nulls_old_rows(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    c.append(docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars"))
    c.append(
        docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang")
    )
    out = {r.doc_id: r for r in c.read(spark).collect()}
    want = {r.doc_id: r for r in docs.collect()}
    assert set(out) == set(want)
    for doc_id, r in out.items():
        assert r.n_chars == want[doc_id].n_chars
        if doc_id % 2 == 0:
            assert r.lang is None          # pre-evolution rows: NULL
        else:
            assert r.lang == want[doc_id].lang


def test_upsert_replaces_matched_inserts_new_keeps_history(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    s1 = c.append(docs)["snapshot_id"]
    n0 = docs.count()

    updates = spark.createDataFrame(
        [(0, 111_111), (1, 222_222), (9_000_000, 1)],
        "doc_id bigint, n_chars bigint",
    )
    c.upsert(spark, updates, ["doc_id"])

    out = {r.doc_id: r.n_chars for r in c.read(spark).collect()}
    assert len(out) == n0 + 1                      # 2 replaced, 1 inserted
    assert out[0] == 111_111 and out[1] == 222_222
    assert out[9_000_000] == 1
    want = {r.doc_id: r.n_chars for r in docs.collect()}
    for doc_id, n in want.items():
        if doc_id not in (0, 1):
            assert out[doc_id] == n                # carried forward
    # pre-merge state still readable (REPLACE commit, not overwrite)
    old = {r.doc_id: r.n_chars for r in c.read(spark, s1).collect()}
    assert old == want


def test_concurrent_append_fails_the_rewrite(spark, tmp_path):
    """Lost-update guard: a REPLACE commit whose base moved (another
    writer appended between the rewrite's read and its commit) must FAIL
    loudly, never blindly re-parent — re-parenting would publish a table
    state that silently drops the concurrent append."""
    from streamcorpus_filter_spark.catalog import ConcurrentRewriteError

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs)
    stale = c.latest_snapshot()["snapshot_id"]
    extra = spark.createDataFrame(
        [(10_000_003, 9)], "doc_id bigint, n_chars bigint"
    )
    c.append(extra)  # the "concurrent" writer wins the race
    with pytest.raises(ConcurrentRewriteError):
        c.append(
            docs.coalesce(1), operation="replace", expected_parent=stale
        )
    # the failed rewrite published nothing: both rows sets intact
    assert c.read(spark).count() == docs.count() + 1
    # and a fresh rewrite (current base) succeeds
    c.compact(spark, target_files=1)
    assert c.read(spark).count() == docs.count() + 1


def test_incremental_refuses_to_cross_a_merge(spark, tmp_path):
    """Compaction is invisible to CDC consumers (skipped), but a MERGE
    changes logical content — an incremental scan across it must raise
    (Iceberg's behavior on overwrite snapshots), never silently drop the
    upserted rows."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    s1 = c.append(docs)["snapshot_id"]
    updates = spark.createDataFrame(
        [(0, 111_111)], "doc_id bigint, n_chars bigint"
    )
    m = c.upsert(spark, updates, ["doc_id"])
    with pytest.raises(ValueError, match="merge snapshot"):
        c.read_incremental(spark, s1)
    # consuming from AFTER the merge works, and the merge supersedes
    # the base on the plain read path
    assert c.read_incremental(spark, m["snapshot_id"]).count() == 0
    out = {r.doc_id: r.n_chars for r in c.read(spark).collect()}
    assert out[0] == 111_111 and len(out) == docs.count()


def test_failed_rewrite_discards_its_orphan_data_dir(spark, tmp_path):
    """A rewrite that loses the commit race has already written its data
    dir (a full table copy for compact/upsert) — it must be deleted
    before the error propagates, or every lost race leaks a table-sized
    orphan that expire_snapshots can never GC (expiry only walks
    manifest-referenced dirs)."""
    from streamcorpus_filter_spark.catalog import ConcurrentRewriteError

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs)
    stale = c.latest_snapshot()["snapshot_id"]
    c.append(
        spark.createDataFrame([(10_000_003, 9)], "doc_id bigint, n_chars bigint")
    )
    with pytest.raises(ConcurrentRewriteError):
        c.append(docs.coalesce(1), operation="replace", expected_parent=stale)
    referenced = {s["data_dir"] for s in c.snapshots()}
    on_disk = {str(p) for p in (tmp_path / "tbl" / "data").iterdir()}
    assert on_disk == referenced, (
        f"orphan data dirs leaked by failed rewrite: {on_disk - referenced}"
    )


def test_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    """Iceberg MERGE INTO errors when a target row matches multiple
    source rows; silently inserting every duplicate (what anti-join +
    union would do) must raise instead."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs)
    dup_updates = spark.createDataFrame(
        [(0, 1), (0, 2)], "doc_id bigint, n_chars bigint"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        c.upsert(spark, dup_updates, key=["doc_id"])
    # nothing was committed and the table is unchanged
    assert c.read(spark).count() == docs.count()


def test_delete_where_removes_only_true_rows_keeps_null(spark, tmp_path):
    """SQL DELETE semantics: a row is deleted only when the predicate is
    TRUE — NULL-evaluating rows are KEPT (the naive NOT(pred) filter is
    NULL for them and would silently drop them uncounted)."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, None), (4, "en")],
        "doc_id bigint, lang string",
    ))
    m = c.delete_where(spark, "lang = 'en'")
    assert m["metrics"]["deleted_records"] == 2
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [2, 3]


def test_delete_where_is_time_travelable_and_blocks_cdc(spark, tmp_path):
    """The delete commits as a merge: time travel still sees the deleted
    rows (erasure of history is delete + expire, tested below) and an
    incremental scan refuses to cross it rather than silently dropping
    the deletion."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    s1 = c.append(docs)["snapshot_id"]
    c.delete_where(spark, "doc_id % 10 = 0")
    assert c.read(spark, s1).count() == docs.count()  # history intact
    with pytest.raises(ValueError, match="merge snapshot"):
        c.read_incremental(spark, s1)


def test_delete_then_expire_physically_erases(spark, tmp_path):
    """The right-to-erasure two-step: delete_where removes rows from the
    current state; expire_snapshots then deletes the pre-delete data
    dirs, so the bytes are actually gone from disk."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs)
    pre_dirs = {s["data_dir"] for s in c.snapshots()}
    c.delete_where(spark, "doc_id % 10 = 0")
    c.expire_snapshots()
    surviving = {str(p) for p in (tmp_path / "tbl" / "data").iterdir()}
    assert not (pre_dirs & surviving), "pre-delete data dirs still on disk"
    assert c.read(spark).where("doc_id % 10 = 0").count() == 0


def test_delete_where_zero_match_is_a_noop(spark, tmp_path):
    """A predicate matching nothing must not rewrite the table: no new
    snapshot, same manifest returned — at 100 TB an accidental no-match
    DELETE would otherwise cost a full-table copy."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, "en")], "doc_id bigint, lang string"))
    n_before = len(c.snapshots())
    m = c.delete_where(spark, "lang = 'zz'")
    assert len(c.snapshots()) == n_before
    assert m["snapshot_id"] == c.latest_snapshot()["snapshot_id"]


def test_delete_where_lost_update_guard(spark, tmp_path):
    """An append committed underneath the delete's rewrite must fail the
    delete (its kept-rows payload was derived from the stale base) —
    same serializable-commit validation as compact/upsert."""
    import threading

    from streamcorpus_filter_spark.catalog import ConcurrentRewriteError

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, "en")], "doc_id bigint, lang string"))

    orig_read = c.read

    def racing_read(spark_, snapshot_id=None):
        df = orig_read(spark_, snapshot_id)
        # another writer lands between the delete's base pin and commit
        if not getattr(racing_read, "raced", False):
            racing_read.raced = True
            c.append(spark.createDataFrame(
                [(99, "de")], "doc_id bigint, lang string"))
        return df

    c.read = racing_read
    with pytest.raises(ConcurrentRewriteError):
        c.delete_where(spark, "lang = 'en'")


def test_remove_orphan_files_sweeps_unreferenced_dirs_only(spark, tmp_path):
    """A crash between the data write and the manifest link leaves a dir
    no manifest references; remove_orphan_files must delete exactly
    those and never a referenced dir."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, "en")], "doc_id bigint, lang string"))
    referenced = {s["data_dir"] for s in c.snapshots()}
    orphan = tmp_path / "tbl" / "data" / "deadbeefdeadbeef"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"torn write")
    got = c.remove_orphan_files()
    assert got == {"removed_dirs": 1}
    on_disk = {str(p) for p in (tmp_path / "tbl" / "data").iterdir()}
    assert on_disk == referenced
    assert c.read(spark).count() == 1  # table unharmed


def test_history_tracks_growth_shrink_and_flat(spark, tmp_path):
    """history() is the audit surface: visible-row-count trajectory per
    commit — append grows, delete shrinks, compact holds flat."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    n = docs.count()
    c.append(docs.where("doc_id % 2 = 0"))
    c.append(docs.where("doc_id % 2 = 1"))
    c.delete_where(spark, "doc_id % 10 = 0")
    c.compact(spark, target_files=1)
    h = {r.sequence: (r.operation, r.n_rows)
         for r in c.history(spark).collect()}
    n_even = docs.where("doc_id % 2 = 0").count()
    n_del = docs.where("doc_id % 10 = 0").count()
    assert h[0] == ("append", n_even)
    assert h[1] == ("append", n)
    assert h[2] == ("merge", n - n_del)
    assert h[3] == ("replace", n - n_del)


def test_tagged_snapshot_survives_expiry_with_full_read_set(spark, tmp_path):
    """Expiry must keep a tagged snapshot's ENTIRE read set — every
    manifest from the tag's last rewrite up to the tag — not just the
    tagged manifest itself: the chain unions whatever manifests survive,
    so dropping an ancestor append would make read(tag=...) silently
    return partial state."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    c.append(docs.where("doc_id % 3 = 0"))
    c.append(docs.where("doc_id % 3 = 1"))  # tag's read set = BOTH appends
    c.tag("release")
    want = sorted(r.doc_id for r in c.read(spark, tag="release").collect())
    c.append(docs.where("doc_id % 3 = 2"))
    c.compact(spark, target_files=1)
    stats = c.expire_snapshots()
    assert stats["protected"] == 2
    got = sorted(r.doc_id for r in c.read(spark, tag="release").collect())
    assert got == want
    # current read unaffected by the protected pre-cut manifests
    assert c.read(spark).count() == docs.count()
    # orphan GC must not eat protected dirs either
    c.remove_orphan_files()
    assert sorted(r.doc_id for r in c.read(spark, tag="release").collect()) == want


def test_delete_tag_makes_snapshot_expirable(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, "en")], "doc_id bigint, lang string"))
    c.tag("v1")
    c.append(spark.createDataFrame([(2, "de")], "doc_id bigint, lang string"))
    c.compact(spark, target_files=1)
    assert c.expire_snapshots()["protected"] >= 1
    c.delete_tag("v1")
    stats = c.expire_snapshots()
    assert stats["protected"] == 0 and stats["expired"] >= 1
    import pytest as _pt

    with _pt.raises(KeyError):
        c.read(spark, tag="v1")


def test_tag_name_collision_and_validation(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, "en")], "doc_id bigint, lang string"))
    c.tag("v1")
    with pytest.raises(ValueError, match="already exists"):
        c.tag("v1")
    with pytest.raises(ValueError, match="invalid tag name"):
        c.tag("../escape")
    with pytest.raises(KeyError):
        c.tag("v2", snapshot_id="nope")


def test_wap_staged_invisible_until_published(spark, tmp_path):
    """A staged batch must be invisible to read(), history(), and
    incremental scans; the audit view (read by staged id) shows main
    plus the batch; publish lands it at a NEW head so a CDC consumer
    positioned at the old head sees it at publish time."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    base = c.append(spark.createDataFrame(
        [(1, 10), (2, 20)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(3, 30)], "doc_id bigint, v bigint"), wap_id="w1")
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2]
    assert c.read_incremental(spark, base["snapshot_id"]).count() == 0
    assert [r.n_rows for r in c.history(spark).collect()] == [2]
    # audit view
    audit = c.read(spark, staged["snapshot_id"])
    assert sorted(r.doc_id for r in audit.collect()) == [1, 2, 3]
    pub = c.publish(staged["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]
    inc = c.read_incremental(spark, base["snapshot_id"])
    assert sorted(r.doc_id for r in inc.collect()) == [3]
    assert pub["metrics"]["wap_id"] == "w1"
    # publish is IDEMPOTENT: a retry (the crash-between-commit-and-unlink
    # recovery path) returns the existing head instead of committing a
    # second head on the same dir — which would duplicate every batch row
    again = c.publish(staged["snapshot_id"])
    assert again["snapshot_id"] == pub["snapshot_id"]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]
    c.remove_orphan_files()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]


def test_wap_abort_discards_batch_and_bytes(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(99, 0)], "doc_id bigint, v bigint"))
    c.abort_staged(staged["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1]
    assert not pathlib.Path(staged["data_dir"]).exists()
    # the abort leaves a zero-content tombstone manifest (data_dir "")
    # so a retried publish gets a precise "was aborted" error; on-disk
    # dirs must equal the DATA-BEARING references exactly
    referenced = {
        pathlib.Path(s["data_dir"]).name
        for s in c.snapshots() if s["data_dir"]
    }
    on_disk = {p.name for p in (pathlib.Path(str(tmp_path / "tbl")) / "data").iterdir()}
    assert on_disk == referenced
    # abort is idempotent, and a retried publish of the aborted id fails
    # loudly instead of resurrecting or duplicating the batch
    c.abort_staged(staged["snapshot_id"])
    with pytest.raises(ValueError, match="aborted"):
        c.publish(staged["snapshot_id"])


def test_wap_publish_survives_interleaved_compaction(spark, tmp_path):
    """A compaction committed while the batch sat staged must not strand
    it: publish cherry-picks to a new head AFTER the rewrite cut, so the
    batch lands; an in-place flip at the old sequence would have left it
    behind the cut, silently invisible."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))
    c.append(spark.createDataFrame([(3, 30)], "doc_id bigint, v bigint"))
    c.compact(spark, target_files=1)
    c.publish(staged["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]


def test_wap_staged_batch_survives_expiry(spark, tmp_path):
    """Routine snapshot expiry must not GC a batch awaiting audit —
    abort_staged is the explicit discard path. The staged snapshot's
    audit-view read set gets the same protection a tag's does."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))
    c.append(spark.createDataFrame([(3, 30)], "doc_id bigint, v bigint"))
    c.compact(spark, target_files=1)
    stats = c.expire_snapshots()
    assert stats["protected"] >= 1, stats
    # audit view still complete, publish still possible, batch lands
    audit = sorted(
        r.doc_id for r in c.read(spark, staged["snapshot_id"]).collect())
    assert audit == [1, 2]
    c.publish(staged["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]


def test_wap_publish_crash_recovery_no_duplication(spark, tmp_path):
    """The crash window: head committed but staged manifest not yet
    unlinked. A publish retry must finish the job — remove the leftover,
    return the existing head — and reads must never see the batch twice
    (staged manifests are skipped on every read path even while both
    exist)."""
    import json as _json

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))
    staged_path = (pathlib.Path(str(tmp_path / "tbl")) / "snapshots"
                   / f"{staged['sequence']:08d}.json")
    staged_bytes = staged_path.read_text()
    pub = c.publish(staged["snapshot_id"])
    # simulate the crash: resurrect the staged manifest next to the head
    staged_path.write_text(staged_bytes)
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2]
    again = c.publish(staged["snapshot_id"])
    assert again["snapshot_id"] == pub["snapshot_id"]
    assert not staged_path.exists()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2]


def test_tag_never_anchors_to_staged(spark, tmp_path):
    """tag() with no snapshot_id must anchor to the latest VISIBLE
    snapshot (a staged head would expose unaudited data and dangle after
    publish/abort unlinks it); tagging a staged id explicitly is
    rejected."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    base = c.append(spark.createDataFrame(
        [(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"))
    t = c.tag("release")
    assert t["snapshot_id"] == base["snapshot_id"]
    with pytest.raises(ValueError, match="staged"):
        c.tag("sneaky", snapshot_id=staged["snapshot_id"])
    # tag stays valid through the staged snapshot's publish
    c.publish(staged["snapshot_id"])
    assert sorted(
        r.doc_id for r in c.read(spark, tag="release").collect()) == [1]


def test_aborted_batch_inputs_not_marked_processed(spark, tmp_path):
    """The lineage fold in expire_snapshots must EXCLUDE staged
    snapshots: folding an unpublished batch's input files into the
    surviving replace manifest would mark them processed forever, so an
    abort after the expiry would silently prevent re-ingestion."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame(
        [(1, 10)], "doc_id bigint, v bigint"), input_files=["crawl/a"])
    staged = c.stage(spark.createDataFrame(
        [(2, 20)], "doc_id bigint, v bigint"), input_files=["crawl/b9"])
    c.append(spark.createDataFrame(
        [(3, 30)], "doc_id bigint, v bigint"), input_files=["crawl/c"])
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    # staged survives expiry carrying its own lineage
    assert "crawl/b9" in c.processed_inputs()
    c.abort_staged(staged["snapshot_id"])
    got = c.processed_inputs()
    assert "crawl/b9" not in got, got  # re-ingestable after the abort
    assert {"crawl/a", "crawl/c"} <= got


def test_delete_where_noop_returns_visible_manifest_not_staged_head(spark, tmp_path):
    """Zero-match delete returns the latest VISIBLE snapshot: when the
    head is a staged (unaudited) commit, returning it would hand callers
    an id that exposes the audit view and dangles after publish/abort."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    vis = c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    c.stage(spark.createDataFrame([(2, 20)], "doc_id bigint, v bigint"))
    out = c.delete_where(spark, "doc_id = 999")
    assert out["snapshot_id"] == vis["snapshot_id"]
    assert out["operation"] != "staged"


def test_upsert_works_with_key_column_named_count(spark, tmp_path):
    """The duplicate-key guard must not collide with a key column
    literally named 'count' (groupBy().count().where('count > 1') is an
    ambiguous reference between the grouping column and the aggregate)."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 5, "a")], "doc_id bigint, count bigint, v string"))
    c.upsert(
        spark,
        spark.createDataFrame([(1, 5, "b"), (2, 7, "c")],
                              "doc_id bigint, count bigint, v string"),
        key=["doc_id", "count"],
    )
    rows = sorted((r.doc_id, r["count"], r.v) for r in c.read(spark).collect())
    assert rows == [(1, 5, "b"), (2, 7, "c")]
    with pytest.raises(ValueError, match="duplicate"):
        c.upsert(
            spark,
            spark.createDataFrame([(9, 1, "x"), (9, 1, "y")],
                                  "doc_id bigint, count bigint, v string"),
            key=["doc_id", "count"],
        )


def test_expire_reclaims_storage_on_relocated_table(spark, tmp_path):
    """Old manifests carry absolute data-dir paths from the old mount.
    After relocating the table, expire_snapshots must still delete the
    superseded dirs (basename identity, like remove_orphan_files) —
    comparing raw path strings made it silently reclaim nothing."""
    import shutil

    old_root = tmp_path / "old" / "tbl"
    c = SnapshotCatalog(str(old_root))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    c.append(spark.createDataFrame([(2, 20)], "doc_id bigint, v bigint"))
    c.compact(spark, target_files=1)
    new_root = tmp_path / "new" / "tbl"
    new_root.parent.mkdir(parents=True)
    shutil.move(str(old_root), str(new_root))
    c2 = SnapshotCatalog(str(new_root))
    out = c2.expire_snapshots()
    assert out["expired"] == 2
    assert out["removed_dirs"] == 2  # raw-path compare reclaimed 0 here
    # live state intact after reclaim at the new location
    assert sorted(r.doc_id for r in c2.read(spark).collect()) == [1, 2]


def test_export_shards_layout_and_stickiness(spark, tmp_path, monkeypatch):
    """The export must land one shard=K directory per shard whose parquet
    row counts equal the manifest, and shard assignment must be sticky:
    re-running the export assigns every doc to the same shard."""
    import tempfile

    import pyarrow.parquet as pq
    from streamcorpus_filter_spark.inventory.catalog_ops import (
        EXPORT_SHARDS,
        sink_export_shards,
    )

    made = []
    real_mkdtemp = tempfile.mkdtemp
    monkeypatch.setattr(
        tempfile, "mkdtemp",
        lambda **kw: made.append(real_mkdtemp(**kw)) or made[-1],
    )
    sf = "/root/testdata/sf0.001"
    manifest = {
        r.shard: r.n_docs
        for r in sink_export_shards(spark, sf).collect()
    }
    assert sorted(manifest) == list(range(EXPORT_SHARDS))
    root = pathlib.Path(made[-1]) / "data"
    (snap_dir,) = root.iterdir()
    on_disk = {}
    for d in snap_dir.iterdir():
        if d.name.startswith("shard="):
            on_disk[int(d.name.split("=")[1])] = sum(
                pq.read_metadata(f).num_rows for f in d.glob("*.parquet")
            )
    assert on_disk == manifest
    # sticky: a second export of the same corpus produces the same manifest
    manifest2 = {
        r.shard: r.n_docs
        for r in sink_export_shards(spark, sf).collect()
    }
    assert manifest2 == manifest


def test_tag_refuses_abort_tombstone(spark, tmp_path):
    """A tag anchored to an abort tombstone would silently resolve to
    the preceding visible prefix and make expiry protect a read set
    nobody can mean — refuse it like the staged case."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(spark.createDataFrame([(1, 10)], "doc_id bigint, v bigint"))
    staged = c.stage(spark.createDataFrame([(2, 20)], "doc_id bigint, v bigint"))
    c.abort_staged(staged["snapshot_id"])
    (tomb,) = [s for s in c.snapshots() if s["operation"] == "abort"]
    with pytest.raises(ValueError, match="tombstone"):
        c.tag("v1", tomb["snapshot_id"])


# ------------------------------------------------------------- rollback


def _rng(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "doc_id")


def test_rollback_is_metadata_only_and_restores_state(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 4))
    c.append(_rng(spark, 4, 10))
    dirs_before = sorted(p.name for p in (c.root / "data").iterdir())
    rb = c.rollback_to(s0["snapshot_id"])
    assert rb["operation"] == "rollback" and rb["data_dir"] == ""
    # metadata-only: NO new data dir was written
    assert sorted(p.name for p in (c.root / "data").iterdir()) == dirs_before
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]
    # appends stack on the restored state
    c.append(_rng(spark, 20, 22))
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3, 20, 21]


def test_rollback_time_travel_and_noop(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2))
    s1 = c.append(_rng(spark, 2, 5))
    rb = c.rollback_to(s0["snapshot_id"])
    # the undone snapshot stays readable by id until expiry
    assert sorted(
        r.doc_id for r in c.read(spark, snapshot_id=s1["snapshot_id"]).collect()
    ) == [0, 1, 2, 3, 4]
    # reading as-of the rollback manifest itself = the restored state
    assert sorted(
        r.doc_id for r in c.read(spark, snapshot_id=rb["snapshot_id"]).collect()
    ) == [0, 1]
    # rollback to the current head's state is a metadata no-op
    again = c.rollback_to(rb["snapshot_id"])
    assert again["snapshot_id"] == rb["snapshot_id"]
    assert c.latest_snapshot()["snapshot_id"] == rb["snapshot_id"]


def test_rollback_refuses_staged_abort_and_unknown(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2))
    st = c.stage(_rng(spark, 2, 4))
    with pytest.raises(ValueError, match="staged"):
        c.rollback_to(st["snapshot_id"])
    c.abort_staged(st["snapshot_id"])
    with pytest.raises(KeyError):
        c.rollback_to("no_such_snapshot")


def test_rollback_incremental_scan_refuses_to_cross(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2))
    c.append(_rng(spark, 2, 4))
    c.rollback_to(s0["snapshot_id"])
    with pytest.raises(ValueError, match="rollback"):
        c.read_incremental(spark, s0["snapshot_id"])
    # consuming from AFTER the rollback works
    rb_id = c.latest_snapshot()["snapshot_id"]
    c.append(_rng(spark, 9, 11))
    got = sorted(r.doc_id for r in c.read_incremental(spark, rb_id).collect())
    assert got == [9, 10]


def test_rollback_releases_undone_append_lineage(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2), input_files=["in/a"])
    c.append(_rng(spark, 2, 4), input_files=["in/b"])
    assert c.processed_inputs() == {"in/a", "in/b"}
    c.rollback_to(s0["snapshot_id"])
    # the undone batch's inputs are re-ingestable again...
    assert c.processed_inputs() == {"in/a"}
    # ...and STAY unprocessed through compact + expiry (the fold must
    # not resurrect them via the surviving rewrite manifest)
    c.compact(spark)
    c.expire_snapshots()
    assert c.processed_inputs() == {"in/a"}
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1]


def test_rollback_read_set_survives_expiry_after_later_rewrite(spark, tmp_path):
    """Head = rollback past a compaction to a PRE-cut snapshot: expiry
    must protect the head's effective read set (and the rollback
    redirect itself) even though both sit before the rewrite cut."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 3))
    c.append(_rng(spark, 3, 6))
    c.compact(spark, target_files=1)  # the cut
    c.rollback_to(s0["snapshot_id"])  # head state reaches PRE-cut
    stats = c.expire_snapshots()
    # s0 is protected; the un-rolled-back middle append may expire
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2]
    assert stats["protected"] >= 1
    # and stacking still works afterwards
    c.append(_rng(spark, 30, 31))
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 30]


def test_rollback_then_compact_then_expire_erases_undone_batch(spark, tmp_path):
    """Physical erasure of a bad batch = rollback + compact + expire
    (the delete_where two-step, but for whole commits)."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2))
    bad = c.append(_rng(spark, 2, 4))
    c.rollback_to(s0["snapshot_id"])
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    # the bad batch's manifest AND bytes are gone
    assert bad["snapshot_id"] not in {
        s["snapshot_id"] for s in c.snapshots()
    }
    assert not pathlib.Path(bad["data_dir"]).exists()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1]


def test_rollback_history_row_reports_restored_count(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 3))
    c.append(_rng(spark, 3, 10))
    c.rollback_to(s0["snapshot_id"])
    c.append(_rng(spark, 10, 12))
    rows = [(r.operation, r.n_rows) for r in c.history(spark).collect()]
    assert rows == [
        ("append", 3), ("append", 10), ("rollback", 3), ("append", 5)
    ]


def test_tag_on_undone_segment_protects_it(spark, tmp_path):
    """A tag pinned to a snapshot that is later rolled off the timeline
    still protects its read set through expiry — releases outlive
    rollbacks."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2))
    c.append(_rng(spark, 2, 5))
    c.tag("release")  # pins the 5-row state
    c.rollback_to(s0["snapshot_id"])
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    assert sorted(r.doc_id for r in c.read(spark, tag="release").collect()) == [
        0, 1, 2, 3, 4,
    ]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1]


# ------------------------------------------------------------- branches


def test_branch_invisible_to_main_until_fast_forward(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 3))
    c.create_branch("exp")
    c.branch_append(_rng(spark, 10, 12), "exp")
    # main reads, history, and CDC all blind to the branch
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2]
    assert [r.operation for r in c.history(spark).collect()] == ["append"]
    assert c.read_incremental(spark, s0["snapshot_id"]).count() == 0
    # branch view = fork state + branch commits
    assert sorted(
        r.doc_id for r in c.read(spark, branch="exp").collect()
    ) == [0, 1, 2, 10, 11]
    out = c.fast_forward("exp")
    assert [m["operation"] for m in out] == ["append"]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [
        0, 1, 2, 10, 11,
    ]
    assert c.branches() == {}
    # CDC sees the folded batch at the fast-forward sequence
    assert sorted(
        r.doc_id for r in c.read_incremental(spark, s0["snapshot_id"]).collect()
    ) == [10, 11]


def test_branch_fast_forward_refused_after_main_diverges(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2))
    c.create_branch("exp")
    c.branch_append(_rng(spark, 10, 11), "exp")
    c.append(_rng(spark, 2, 4))  # main moves past the fork
    with pytest.raises(ValueError, match="fast-forward refused"):
        c.fast_forward("exp")
    # the branch view is still coherent (fork state, not new main state)
    assert sorted(
        r.doc_id for r in c.read(spark, branch="exp").collect()
    ) == [0, 1, 10]


def test_branch_fast_forward_is_crash_idempotent(spark, tmp_path):
    """Simulate a crash mid-fold: one batch already fast-forwarded (its
    main manifest committed) while the branch manifests survive — the
    retry must skip it and finish, never double it."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2))
    c.create_branch("exp")
    c.branch_append(_rng(spark, 10, 12), "exp")
    c.branch_append(_rng(spark, 20, 21), "exp")
    first = c.fast_forward("exp")
    assert len(first) == 2
    # replay the whole fold as if the unlink never happened: re-commit
    # nothing, collapse to the same manifests
    got = sorted(r.doc_id for r in c.read(spark).collect())
    assert got == [0, 1, 10, 11, 20]
    # a second fast_forward of the (now gone) branch raises unknown
    with pytest.raises(KeyError):
        c.fast_forward("exp")


def test_branch_drop_releases_bytes_and_lineage(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2), input_files=["in/a"])
    c.create_branch("dead")
    b = c.branch_append(_rng(spark, 10, 12), "dead", input_files=["in/x"])
    assert c.processed_inputs() == {"in/a", "in/x"}
    c.drop_branch("dead")
    assert c.branches() == {}
    assert not pathlib.Path(b["data_dir"]).exists()
    assert c.processed_inputs() == {"in/a"}
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1]


def test_branch_read_set_survives_expiry(spark, tmp_path):
    """Expiry must protect a live branch: its commits AND its fork
    point's read set, even when a main rewrite supersedes the fork."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2))
    c.create_branch("exp")
    c.branch_append(_rng(spark, 10, 11), "exp")
    c.append(_rng(spark, 2, 4))
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    assert sorted(
        r.doc_id for r in c.read(spark, branch="exp").collect()
    ) == [0, 1, 10]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]


def test_branch_name_and_ref_guards(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 2))
    st = c.stage(_rng(spark, 5, 6))
    with pytest.raises(ValueError, match="invalid"):
        c.create_branch("bad name")
    with pytest.raises(ValueError, match="staged"):
        c.create_branch("exp", st["snapshot_id"])
    c.create_branch("exp")
    with pytest.raises(ValueError, match="already exists"):
        c.create_branch("exp")
    b = c.branch_append(_rng(spark, 10, 11), "exp")
    with pytest.raises(ValueError, match="branch"):
        c.tag("rel", b["snapshot_id"])
    with pytest.raises(ValueError, match="not main-table"):
        c.rollback_to(b["snapshot_id"])
    with pytest.raises(KeyError):
        c.branch_append(_rng(spark, 0, 1), "nope")
    with pytest.raises(KeyError):
        c.read(spark, branch="nope")


# ------------------------------------------------ merge-on-read deletes


def _keys(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def test_mor_delete_sequence_rule_and_time_travel(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 6))
    m = c.delete_keys(spark, _keys(spark, 1, 3, 99), ["doc_id"])
    assert m["operation"] == "mor_delete"
    assert m["metrics"]["deleted_records"] == 2  # 99 matched nothing
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 2, 4, 5]
    # sequence rule: re-appending a deleted key survives
    c.append(_rng(spark, 3, 4))
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 2, 3, 4, 5]
    # time travel before the delete is untouched
    assert sorted(
        r.doc_id for r in c.read(spark, snapshot_id=s0["snapshot_id"]).collect()
    ) == [0, 1, 2, 3, 4, 5]
    # reading as-of the delete commit applies it but not the re-append
    assert sorted(
        r.doc_id for r in c.read(spark, snapshot_id=m["snapshot_id"]).collect()
    ) == [0, 2, 4, 5]


def test_mor_delete_noop_incremental_and_history(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 6))
    m = c.delete_keys(spark, _keys(spark, 0, 2), ["doc_id"])
    noop = c.delete_keys(spark, _keys(spark, 777), ["doc_id"])
    assert noop["snapshot_id"] == m["snapshot_id"]
    with pytest.raises(ValueError, match="merge-on-read delete"):
        c.read_incremental(spark, s0["snapshot_id"])
    assert [(r.operation, r.n_rows) for r in c.history(spark).collect()] == [
        ("append", 6), ("mor_delete", 4),
    ]


def test_mor_delete_folds_into_compaction(spark, tmp_path):
    """compact() applies pending deletes and its REPLACE supersedes the
    delete manifests — after compact + expire the keys are physically
    folded away and the scan pays no anti-join."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 6))
    m = c.delete_keys(spark, _keys(spark, 1, 3), ["doc_id"])
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 2, 4, 5]
    assert m["snapshot_id"] not in {s["snapshot_id"] for s in c.snapshots()}
    assert not pathlib.Path(m["data_dir"]).exists()
    # and the plan carries no anti-join any more
    plan = c.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan


def test_mor_delete_anti_join_is_broadcast(spark, tmp_path):
    """Before compaction folds them away, the delete-key anti-join must
    be a BROADCAST join — a shuffled anti-join would re-partition the
    whole 100 TB scan on the key to subtract kilobytes of deletes."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 6))
    c.delete_keys(spark, _keys(spark, 1, 3), ["doc_id"])
    plan = c.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mor_delete_bytes_do_not_grow_with_the_table(spark, tmp_path):
    """Deleting the same keys from a 1k-row and a 20k-row table:
    delete_keys commits a key file of the SAME bytes to both, while
    delete_where rewrites each table, so its commit grows with it. Bytes
    are the contents of the data dir each commit added."""

    def dir_bytes(m):
        return sum(
            f.stat().st_size for f in pathlib.Path(m["data_dir"]).rglob("*")
            if f.is_file()
        )

    mor, cow = [], []
    for n in (1_000, 20_000):
        tbl = _rng(spark, 0, n).withColumn(
            "payload", F.sha2(F.col("doc_id").cast("string"), 256)
        )
        c = SnapshotCatalog(str(tmp_path / f"mor_{n}"))
        c.append(tbl)
        m = c.delete_keys(spark, _keys(spark, 1, 3, 5), ["doc_id"])
        assert m["metrics"]["deleted_records"] == 3
        mor.append(dir_bytes(m))
        c = SnapshotCatalog(str(tmp_path / f"cow_{n}"))
        c.append(tbl)
        m = c.delete_where(spark, "doc_id IN (1, 3, 5)")
        assert m["metrics"]["deleted_records"] == 3
        cow.append(dir_bytes(m))
    assert mor[0] == mor[1], (mor, cow)
    assert cow[1] > 5 * cow[0], (mor, cow)
    assert mor[0] < cow[0], (mor, cow)


def test_mor_delete_rollback_and_branch_interplay(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 4))
    m = c.delete_keys(spark, _keys(spark, 1), ["doc_id"])
    # a branch forked after the delete sees the delete applied, and the
    # branch's own commits are untouched by it (sequence rule)
    c.create_branch("exp")
    c.branch_append(_rng(spark, 1, 2), "exp")  # re-adds key 1 on branch
    assert sorted(
        r.doc_id for r in c.read(spark, branch="exp").collect()
    ) == [0, 1, 2, 3]
    # rollback past the delete restores the rows
    c.rollback_to(s0["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]
    # rolling forward to the delete re-applies it
    c.rollback_to(m["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 2, 3]


def test_mor_delete_survives_expiry_when_in_head_read_set(spark, tmp_path):
    """A MoR delete between the head and its pre-cut read set must keep
    its key dir through expiry — losing it would silently resurrect the
    deleted rows."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 4))
    c.append(_rng(spark, 4, 6))
    c.compact(spark, target_files=1)  # the cut
    c.rollback_to(s0["snapshot_id"])
    m = c.delete_keys(spark, _keys(spark, 0), ["doc_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]
    c.expire_snapshots()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [1, 2, 3]
    assert pathlib.Path(c._data_dir(m)).exists()


# ----------------------------------------------------------- cherry-pick


def test_cherry_pick_redo_after_rollback(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2), input_files=["in/a"])
    good = c.append(_rng(spark, 2, 4), input_files=["in/b"])
    c.append(_rng(spark, 4, 6), input_files=["in/bad"])
    c.rollback_to(s0["snapshot_id"])
    m = c.cherry_pick(good["snapshot_id"])
    assert m["metrics"]["cherry_picked_from"] == good["snapshot_id"]
    assert m["data_dir"] == good["data_dir"]  # zero-copy
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]
    # the redone batch's lineage is processed again; the bad one is not
    assert c.processed_inputs() == {"in/a", "in/b"}
    # re-applying it AGAIN must refuse (now visible)
    with pytest.raises(ValueError, match="already in the current state"):
        c.cherry_pick(good["snapshot_id"])
    with pytest.raises(ValueError, match="already in the current state"):
        c.cherry_pick(m["snapshot_id"])


def test_cherry_pick_refuses_non_appends(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 4))
    st = c.stage(_rng(spark, 10, 11))
    with pytest.raises(ValueError, match="publish"):
        c.cherry_pick(st["snapshot_id"])
    c.abort_staged(st["snapshot_id"])
    rep = c.compact(spark, target_files=1)
    with pytest.raises(ValueError, match="only appends"):
        c.cherry_pick(rep["snapshot_id"])
    with pytest.raises(KeyError):
        c.cherry_pick("nope")


def test_cherry_pick_survives_compact_expire(spark, tmp_path):
    """After the cherry-pick, a compaction + expiry may reclaim the
    ORIGINAL manifest while the shared data dir must survive as long as
    any reference does — and the final state stays correct."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    s0 = c.append(_rng(spark, 0, 2))
    good = c.append(_rng(spark, 2, 4))
    c.rollback_to(s0["snapshot_id"])
    c.cherry_pick(good["snapshot_id"])
    c.compact(spark, target_files=1)
    c.expire_snapshots()
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]


def test_partitions_metadata_tracks_compaction(spark, tmp_path):
    """The partitions table must expose small-file accumulation and then
    reflect the compaction that fixes it — all from footers."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    for i in range(3):
        c.append(
            docs.where(F.col("doc_id") % 3 == i).coalesce(1),
            partition_by=["lang"],
        )
    before = {r.partition: r for r in c.partitions(spark).collect()}
    assert all(k.startswith("lang=") for k in before)
    assert all(r.n_files == 3 for r in before.values())
    total = docs.count()
    assert sum(r.n_rows for r in before.values()) == total
    c.compact(spark, target_files=1)
    after = {r.partition: r for r in c.partitions(spark).collect()}
    # compaction rewrote unpartitioned -> one '' partition, fewer files
    assert set(after) == {""} and after[""].n_rows == total
    assert after[""].n_files < sum(r.n_files for r in before.values())


def test_mor_delete_fast_path_skips_scan_and_history_goes_null(spark, tmp_path):
    """count_matched=False is the O(keys) production commit (Iceberg's
    equality-delete behavior: no scan at commit): zero-match key sets
    commit anyway, and history() honestly reports NULL visible counts
    from that snapshot until the next rewrite resets them."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 6))
    m = c.delete_keys(
        spark, _keys(spark, 1, 777), ["doc_id"], count_matched=False
    )
    assert m["operation"] == "mor_delete"
    assert "deleted_records" not in m["metrics"]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 2, 3, 4, 5]
    c.append(_rng(spark, 10, 12))
    hist = [(r.operation, r.n_rows) for r in c.history(spark).collect()]
    assert hist == [("append", 6), ("mor_delete", None), ("append", None)]
    # the rewrite resets the trajectory to a known count
    c.compact(spark, target_files=1)
    assert [r.n_rows for r in c.history(spark).collect()][-1] == 7


def test_cherry_pick_refuses_rewrite_folded_append(spark, tmp_path):
    """Dir identity alone misses rewrites: after append A, compact,
    the compaction folded A's ROWS into a new dir, so A's dir basename
    is gone from the read set while its rows remain table content —
    cherry_pick(A) must refuse by timeline membership (it would
    silently duplicate every row of A), while a rollback-undone append
    stays a legal redo target."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    a = c.append(_rng(spark, 0, 2))
    c.append(_rng(spark, 2, 4))
    c.compact(spark, target_files=1)
    with pytest.raises(ValueError, match="on the current timeline"):
        c.cherry_pick(a["snapshot_id"])
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [0, 1, 2, 3]

    # upsert is a rewrite too: same refusal through that fold
    d = c.append(_rng(spark, 4, 6))
    c.upsert(spark, _rng(spark, 4, 5), ["doc_id"])
    with pytest.raises(ValueError, match="on the current timeline"):
        c.cherry_pick(d["snapshot_id"])

    # the legal shape is untouched: rollback throws an append OFF the
    # timeline, after which the redo commits zero-copy
    pre = c.latest_snapshot()
    good = c.append(_rng(spark, 6, 8))
    c.rollback_to(pre["snapshot_id"])
    m = c.cherry_pick(good["snapshot_id"])
    assert m["data_dir"] == good["data_dir"]
    assert sorted(r.doc_id for r in c.read(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 7]


# ------------------------------------------------- bucket(n, col) layout


def _bkt_idx(spark, n=2000):
    return spark.range(n).select(
        (F.col("id") % 16).alias("band"),
        F.xxhash64("id").alias("bh"),
        F.col("id").alias("doc_id"),
    )


def test_bucket_append_roundtrip_and_file_layout(spark, tmp_path):
    """bucket_by writes exactly n bucket-id-named files, read() returns
    every row, and the manifest records the spec durably."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    m = c.append(_bkt_idx(spark), bucket_by=(8, ["band", "bh"]))
    assert m["bucket_spec"] == {"n": 8, "cols": ["band", "bh"]}
    files = [pathlib.Path(f) for f in c.read(spark).inputFiles()]
    assert len(files) == 8
    # Spark bucket files carry the bucket id as _NNNNN in the name
    assert all("_0000" in f.name for f in files)
    assert c.read(spark).count() == 2000
    # reopening the catalog fresh (new object, same root) still sees it
    c2 = SnapshotCatalog(str(tmp_path / "tbl"))
    assert c2.latest_snapshot()["bucket_spec"]["n"] == 8
    assert c2.read(spark).count() == 2000


def test_bucket_composes_with_partition_by(spark, tmp_path):
    """Iceberg multi-transform spec (e.g. days(ts) + bucket(n, url)):
    partition dirs outside, bucket-id file names inside each dir;
    read() restores the manifest schema's column order, the probe join
    is still index-side-exchange-free, and partition pruning survives
    the catalog-table registration."""
    import re

    from tests.test_plan_quality import plan_of

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("ds"),
        (F.col("id") % 16).alias("band"),
        F.col("id").alias("doc_id"),
    )
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    m = c.append(df, partition_by=["ds"], bucket_by=(4, ["band"]))
    assert m["partition_by"] == ["ds"]
    assert m["bucket_spec"] == {"n": 4, "cols": ["band"]}
    r = c.read(spark)
    assert r.columns == ["ds", "band", "doc_id"]  # manifest order kept
    assert r.count() == 1000
    # partition dirs outside, bucket files inside
    d = pathlib.Path(c._data_dir(m))
    assert sorted(p.name for p in d.glob("ds=*")) == [
        "ds=0", "ds=1", "ds=2"]
    assert all("_0000" in p.name for p in d.glob("ds=*/*.parquet"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(50).select(
            (F.col("id") % 16).alias("band"), F.col("id").alias("nid"))
        plan = plan_of(c.read(spark).join(probe, "band"))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # pruning: the ds predicate reaches PartitionFilters, and only the
    # matching dir's rows are read
    pruned = c.read(spark).where("ds = '1'")
    assert pruned.count() == 333
    pl = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ds" in pl


def test_bucketed_catalog_join_has_no_index_side_exchange(spark, tmp_path):
    """The at-scale claim through the CATALOG path (not the Hive
    stand-in): a probe equi-join against a bucket(8, band, bh) snapshot
    plans an Exchange ONLY on the probe side, and the scan reports the
    bucket layout."""
    import re

    from tests.test_plan_quality import plan_of

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_bkt_idx(spark), bucket_by=(8, ["band", "bh"]))
    probe = spark.range(100).select(
        (F.col("id") % 16).alias("band"),
        F.xxhash64("id").alias("bh"),
        F.col("id").alias("new_id"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = c.read(spark).join(probe, ["band", "bh"])
        plan = plan_of(joined)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_to_bucket_spec_restores_layout(spark, tmp_path):
    """Accrete plain appends, then rewrite-to-spec: compact(bucket_by)
    must produce a single bucketed snapshot whose reads expose the
    layout, with logical content unchanged."""
    import re

    from tests.test_plan_quality import plan_of

    c = SnapshotCatalog(str(tmp_path / "tbl"))
    idx = _bkt_idx(spark)
    c.append(idx.where("doc_id % 2 = 0"))
    c.append(idx.where("doc_id % 2 = 1"))
    # pre-compact: multi-snapshot union, no layout to expose
    m = c.compact(spark, bucket_by=(8, ["band", "bh"]))
    assert m["operation"] == "replace"
    assert m["bucket_spec"] == {"n": 8, "cols": ["band", "bh"]}
    assert c.read(spark).count() == 2000
    probe = spark.range(50).select(
        (F.col("id") % 16).alias("band"), F.xxhash64("id").alias("bh"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(c.read(spark).join(probe, ["band", "bh"]))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucket_spec_survives_wap_publish(spark, tmp_path):
    """stage -> publish of a bucketed batch: publish commits a NEW
    manifest over the SAME dir, so the spec must ride along or the
    published index silently loses its layout."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    st = c.stage(_bkt_idx(spark, 400), bucket_by=(4, ["band", "bh"]))
    head = c.publish(st["snapshot_id"])
    assert head["bucket_spec"] == {"n": 4, "cols": ["band", "bh"]}
    assert c.read(spark).count() == 400


def test_bucketed_snapshot_in_multi_snapshot_read_set_still_correct(
    spark, tmp_path
):
    """A later plain append demotes the read to the union path — no
    layout exposed, but every row still present (the bucket files are
    ordinary parquet underneath)."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_bkt_idx(spark), bucket_by=(8, ["band", "bh"]))
    c.append(_bkt_idx(spark, 100).withColumn(
        "doc_id", F.col("doc_id") + 10000))
    assert c.read(spark).count() == 2100


def test_mor_delete_applies_over_bucketed_read(spark, tmp_path):
    """MoR delete keys anti-join over the bucketed single-snapshot read
    path exactly as over the plain path."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_bkt_idx(spark, 100), bucket_by=(4, ["band", "bh"]))
    c.delete_keys(
        spark,
        spark.range(10).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    assert c.read(spark).count() == 90


# ------------------------------------------------- maintenance policy


def test_maintenance_due_flips_with_delete_accumulation(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 100))
    assert c.maintenance_due() == {
        "pending_delete_files": 0, "max_delete_files": 4,
        "due": False, "recommendation": None,
    }
    for i in range(5):
        c.delete_keys(
            spark,
            spark.range(i * 2, i * 2 + 2).select(
                F.col("id").alias("doc_id")),
            ["doc_id"],
            count_matched=False,
        )
    st = c.maintenance_due()
    assert st["due"] and st["pending_delete_files"] == 5
    assert st["recommendation"] == "compact()"
    # threshold is caller-tunable
    assert not c.maintenance_due(max_delete_files=10)["due"]
    c.compact(spark)
    after = c.maintenance_due()
    assert not after["due"] and after["pending_delete_files"] == 0
    assert c.read(spark).count() == 90
    # a rollback past the compact resurrects the read tax — the policy
    # must see it again (it reflects the CURRENT read scope, not history)
    # (deletes sit between the pre-compact appends and the rewrite)


def test_maintenance_due_counts_only_read_scope_deletes(spark, tmp_path):
    """Deletes folded by an earlier compact must not count: the policy
    reflects the CURRENT read tax, not total history."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(_rng(spark, 0, 50))
    c.delete_keys(spark, _keys(spark, 0), ["doc_id"], count_matched=False)
    c.compact(spark)
    c.delete_keys(spark, _keys(spark, 1), ["doc_id"], count_matched=False)
    st = c.maintenance_due(max_delete_files=0)
    assert st["pending_delete_files"] == 1 and st["due"]


def test_bucketed_snapshot_metadata_and_gc_edges(spark, tmp_path):
    """The metadata surfaces and maintenance verbs must treat a
    bucket-layout snapshot as ordinary table content: partitions()
    reports it unpartitioned (bucket ids live in file NAMES, not dirs),
    history() counts its rows from footers, time travel crosses a
    compact(bucket_by), a ZERO-ROW bucketed append reads back empty
    (saveAsTable skips empty buckets — no files is a valid layout), and
    expiry + orphan GC never reclaim a bucketed dir still referenced."""
    idx = spark.range(100).select(
        (F.col("id") % 4).alias("band"), F.col("id").alias("doc_id"))

    c = SnapshotCatalog(str(tmp_path / "a"))
    c.append(idx, bucket_by=(4, ["band"]))
    parts = c.partitions(spark).collect()
    assert len(parts) == 1 and parts[0].n_rows == 100
    assert [r.n_rows for r in c.history(spark).collect()] == [100]

    c2 = SnapshotCatalog(str(tmp_path / "b"))
    s1 = c2.append(idx.where("doc_id < 50"))
    c2.append(idx.where("doc_id >= 50"))
    c2.compact(spark, bucket_by=(4, ["band"]))
    assert c2.read(spark, s1["snapshot_id"]).count() == 50
    assert c2.read(spark).count() == 100

    c3 = SnapshotCatalog(str(tmp_path / "c"))
    c3.append(idx.where("doc_id < 0"), bucket_by=(4, ["band"]))
    assert c3.read(spark).count() == 0

    c4 = SnapshotCatalog(str(tmp_path / "d"))
    c4.append(idx, bucket_by=(4, ["band"]))
    c4.compact(spark)
    c4.expire_snapshots()
    c4.remove_orphan_files()
    assert c4.read(spark).count() == 100


def test_partitioned_bucket_read_heals_missing_partition_metadata(
    spark, tmp_path
):
    """MSCK runs on EVERY composed read, not only first registration: a
    reader that raced the creator (or a session that crashed between
    CREATE and repair) sees the table registered with missing partition
    metadata and must heal it rather than silently reading fewer rows
    forever."""
    import hashlib

    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("ds"),
        (F.col("id") % 8).alias("band"),
        F.col("id").alias("doc_id"),
    )
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    m = c.append(df, partition_by=["ds"], bucket_by=(4, ["band"]))
    assert c.read(spark).count() == 300  # registers + repairs
    name = "cat_bucketed_" + hashlib.md5(
        c._data_dir(m).encode()).hexdigest()[:12]
    # simulate the crashed/raced registration: metadata lost a partition
    spark.sql(f"ALTER TABLE `{name}` DROP PARTITION (ds='1')")
    assert spark.table(name).count() == 200  # the wound, unhealed
    assert c.read(spark).count() == 300  # the catalog path heals it


def test_bucketed_read_restores_dotted_column_names(spark, tmp_path):
    """select() parses dots as struct access; the bucketed read's
    column-order restore must backtick names to survive a column
    literally named 'meta.lang'."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("meta.lang"),
    )
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(df, bucket_by=(4, ["doc_id"]))
    r = c.read(spark)
    assert r.columns == ["doc_id", "meta.lang"]
    assert r.count() == 100


def test_compact_partition_by_writes_one_file_per_dir(spark, tmp_path):
    """compact(partition_by) is a rewrite-to-partition-spec maintenance
    job: every partition dir must come out as ONE file (coalesce-then-
    partitionBy would instead write a file per task per dir, multiplying
    file count); target_files conflicts and is rejected."""
    df = spark.range(600).select(
        (F.col("id") % 3).cast("string").alias("ds"),
        F.col("id").alias("doc_id"),
    )
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    c.append(df.repartition(8))  # 8-file plain layout
    c.append(df.repartition(8))
    with pytest.raises(ValueError, match="target_files only applies"):
        c.compact(spark, target_files=4, partition_by=["ds"])
    m = c.compact(spark, partition_by=["ds"])
    assert m["partition_by"] == ["ds"]
    d = pathlib.Path(c._data_dir(m))
    for ds in ("0", "1", "2"):
        files = list(d.glob(f"ds={ds}/*.parquet"))
        assert len(files) == 1, (ds, files)
    assert c.read(spark).count() == 1200
