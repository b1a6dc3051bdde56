"""The on-disk table layout. The manifest chain has one writer: every
manifest is built by one constructor and committed through one
sequence-claim loop inside SnapshotCatalog, and no other module knows
the on-disk manifest layout. Snapshot data dirs are a ``snap=<id>``
partition level, so a multi-snapshot read is one scan; every other read
set, old ``data/<id>`` tables included, keeps the per-dir union."""

from __future__ import annotations

import json
import pathlib
import re
import tempfile

import pytest

from streamcorpus_filter_spark.catalog import SnapshotCatalog

ROOT = pathlib.Path(__file__).resolve().parent.parent
CATALOG = ROOT / "streamcorpus_filter_spark" / "catalog.py"
# "snapshots" used as a path component, e.g. `root / "snapshots"`
SNAPSHOTS_DIR = re.compile(r"""/\s*["']snapshots["']|["']snapshots/""")


def test_only_the_catalog_writes_manifests():
    """Spark-free layering guard: outside catalog.py, no program file
    formats a manifest file name, and the manifest dir is at most
    listed. Tests are exempt: they plant manifests on purpose to inject
    races."""
    offenders = []
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT)
        if p == CATALOG or rel.parts[0] == "tests" or any(
            part.startswith(".") for part in rel.parts
        ):
            continue
        for n, line in enumerate(p.read_text().splitlines(), 1):
            if ":08d}.json" in line or (
                SNAPSHOTS_DIR.search(line) and ".glob(" not in line
            ):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_every_verb_writes_one_manifest_shape(spark, monkeypatch):
    """Run every manifest-writing verb on one table. Every manifest any
    of them committed, and every manifest left on disk, has the same key
    set, and the sequence numbers are contiguous: each commit claimed the
    sequence right after its parent's through the one commit loop (a
    sequence is claimed again only after publish/abort/branch cleanup
    unlinked the manifest that held it)."""
    committed: list[dict] = []
    real_commit = SnapshotCatalog._commit_manifest

    def recording_commit(self, manifest, *a, **kw):
        out = real_commit(self, manifest, *a, **kw)
        committed.append(dict(out))
        return out

    monkeypatch.setattr(SnapshotCatalog, "_commit_manifest", recording_commit)

    def df(lo, hi):
        return spark.range(lo, hi).selectExpr("id", "id % 3 AS k")

    c = SnapshotCatalog(tempfile.mkdtemp(prefix="cat_shape_"))
    first = c.append(df(0, 10), input_files=["in-0"])
    undone = c.append(df(10, 20), input_files=["in-1"])
    c.rollback_to(first["snapshot_id"])
    c.cherry_pick(undone["snapshot_id"])
    c.publish(c.stage(df(20, 30), input_files=["in-2"])["snapshot_id"],
              {"docs_seen": 10})
    c.abort_staged(c.stage(df(30, 40))["snapshot_id"])
    c.create_branch("exp")
    c.branch_append(df(40, 50), "exp")
    c.fast_forward("exp")
    c.create_branch("scratch")
    c.drop_branch("scratch")
    c.upsert(spark, df(0, 5), key=["id"])
    c.delete_where(spark, "id = 6")
    c.delete_keys(spark, df(7, 8), key=["id"])
    c.compact(spark)
    c.append(df(50, 60), bucket_by=(2, ["id"]))
    c.expire_snapshots()
    monkeypatch.undo()

    assert {m["operation"] for m in committed} == {
        "append", "rollback", "staged", "abort", "branch", "merge",
        "mor_delete", "replace",
    }
    seq_of = {m["snapshot_id"]: m["sequence"] for m in committed}
    assert committed[0]["sequence"] == 0
    assert committed[0]["parent_id"] is None
    for m in committed[1:]:
        assert seq_of[m["parent_id"]] == m["sequence"] - 1, m
    shapes = {frozenset(m) for m in committed + c.snapshots()}
    assert len(shapes) == 1, shapes


# ------------------------------------------------- one-scan read layout


def _rows(df) -> list[str]:
    """Order-free, type-faithful row set for comparing two reads."""
    return sorted(str(sorted(r.asDict().items())) for r in df.collect())


def _scans(df) -> list[str]:
    """The FileScan nodes of ``df``'s physical plan (before AQE)."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def _hand_union(spark, c, snaps):
    """The reference read: one independent parquet read per data dir
    (inferred schema, its own basePath) cast to the manifest's column
    types (Spark infers a boolean partition value as a string), unioned
    by name."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    out = None
    for s in snaps:
        d = c._data_dir(s)
        schema = StructType.fromJson(json.loads(s["schema_json"]))
        df = spark.read.option("basePath", d).parquet(d).select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields])
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True)
    return out


def _batch(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "id % 2 = 0 AS keep", "concat('t', id) AS txt")


def _to_old_layout(c, snaps):
    """Rewrite ``snaps`` into the layout tables had before snapshot dirs
    became a partition level: data/<id> instead of data/snap=<id>."""
    moved = {}
    for s in snaps:
        new = pathlib.Path(c._data_dir(s))
        old = new.with_name(new.name.split("=", 1)[1])
        new.rename(old)
        moved[new.name] = str(old)
    for p in (c.root / "snapshots").glob("*.json"):
        m = json.loads(p.read_text())
        name = pathlib.Path(m["data_dir"]).name
        if name in moved:
            m["data_dir"] = moved[name]
            p.write_text(json.dumps(m, indent=2))


def test_multi_snapshot_read_is_one_scan(spark, tmp_path):
    """A 3-snapshot read() in the snap=<id> layout plans one FileScan,
    prunes `keep` as a partition filter, hides the snap level, and
    returns the rows of the per-dir union with the same schema."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    for lo in (0, 10, 20):
        c.append(_batch(spark, lo, lo + 10), partition_by=["keep"])
    assert all(
        p.name.startswith("snap=") for p in (c.root / "data").iterdir())
    df = c.read(spark)
    scans = _scans(df.filter("keep = true"))
    assert len(scans) == 1, scans
    assert re.search(r"PartitionFilters: \[[^\]]*keep", scans[0]), scans
    assert "snap" not in [f.name.lower() for f in df.schema.fields]
    assert df.schema == c.read(spark, c.snapshots()[0]["snapshot_id"]).schema
    want = _hand_union(spark, c, c.snapshots())
    assert _rows(df) == _rows(want)
    assert df.filter("keep").count() == 15


def _bucketed(spark, c):
    c.append(_batch(spark, 0, 10))
    c.append(_batch(spark, 10, 20), bucket_by=(2, ["id"]))
    return _hand_union(spark, c, c.snapshots())


def _mor_delete(spark, c):
    c.append(_batch(spark, 0, 10))
    c.append(_batch(spark, 10, 20))
    data = c.snapshots()
    c.delete_keys(spark, spark.range(3, 13), key=["id"])
    return _hand_union(spark, c, data).where("id < 3 OR id >= 13")


def _schema_evolved(spark, c):
    c.append(_batch(spark, 0, 10))
    c.append(_batch(spark, 10, 20).selectExpr("*", "id * 2 AS extra"))
    return _hand_union(spark, c, c.snapshots())


def _partition_evolved(spark, c):
    c.append(_batch(spark, 0, 10), partition_by=["keep"])
    c.append(_batch(spark, 10, 20))
    return _hand_union(spark, c, c.snapshots())


def _old_layout(spark, c):
    for lo in (0, 10, 20):
        c.append(_batch(spark, lo, lo + 10), partition_by=["keep"])
    _to_old_layout(c, c.snapshots())
    return _hand_union(spark, c, c.snapshots())


def _mixed_layout(spark, c):
    for lo in (0, 10, 20):
        c.append(_batch(spark, lo, lo + 10), partition_by=["keep"])
    _to_old_layout(c, c.snapshots()[:1])
    return _hand_union(spark, c, c.snapshots())


def _repeated_dir(spark, c):
    # a crashed duplicate-heal leaves two manifests on one dir; the union
    # reads it twice until a healer collapses them (a file index would
    # list the repeated root once)
    c.append(_batch(spark, 0, 10))
    dup = dict(c.append(_batch(spark, 10, 20)))
    dup.update(sequence=2, snapshot_id="0" * 16, parent_id=dup["snapshot_id"])
    (c.root / "snapshots" / "00000002.json").write_text(json.dumps(dup))
    return _hand_union(spark, c, c.snapshots())


@pytest.mark.parametrize("make", [
    _bucketed, _mor_delete, _schema_evolved, _partition_evolved,
    _old_layout, _mixed_layout, _repeated_dir,
], ids=lambda f: f.__name__.lstrip("_"))
def test_read_sets_outside_the_one_scan_keep_the_union(spark, tmp_path, make):
    """Every read set the one scan does not cover (a bucketed snapshot, a
    merge-on-read delete in scope, an evolved schema or partition spec,
    old data/<id> dirs, a mix of both layouts, one dir named twice) reads one scan per
    snapshot dir and returns the rows of a hand-built union of per-dir
    reads."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    want = make(spark, c)
    got = c.read(spark)
    assert len(_scans(got)) >= 2
    assert _rows(got) == _rows(want)


def test_snap_column_is_refused_before_any_write(spark, tmp_path):
    """`snap` names the snapshot dir level, so append and stage refuse a
    table column of that name (any case) and write nothing."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    df = spark.range(3).selectExpr("id", "id AS Snap")
    with pytest.raises(ValueError, match="reserved"):
        c.append(df)
    with pytest.raises(ValueError, match="reserved"):
        c.stage(df)
    assert not list((c.root / "data").iterdir())
    assert c.snapshots() == []


class _Crash(BaseException):
    """A crash no `except Exception` recovery can swallow."""


def test_crash_between_snap_dir_write_and_manifest_claim(
    spark, tmp_path, monkeypatch
):
    """A batch whose data/snap=<id> dir is written but whose manifest is
    never claimed is invisible to read(), and remove_orphan_files deletes
    its dir. On a table holding both layouts, expire_snapshots after a
    compact then leaves only dirs that a manifest references."""
    c = SnapshotCatalog(str(tmp_path / "tbl"))
    for lo in (0, 10, 20):
        c.append(_batch(spark, lo, lo + 10), partition_by=["keep"])
    _to_old_layout(c, c.snapshots()[:2])

    def crash(self, manifest, expected_parent=None):
        raise _Crash

    monkeypatch.setattr(SnapshotCatalog, "_commit_manifest", crash)
    with pytest.raises(_Crash):
        c.stage(_batch(spark, 100, 110), partition_by=["keep"])
    monkeypatch.undo()

    data = c.root / "data"

    def referenced():
        return {pathlib.Path(s["data_dir"]).name for s in c.snapshots()}

    orphans = [d for d in data.iterdir() if d.name not in referenced()]
    assert [d.name.startswith("snap=") for d in orphans] == [True]
    assert list(orphans[0].rglob("*.parquet"))
    ids = sorted(r.id for r in c.read(spark).select("id").collect())
    assert ids == list(range(30))

    assert c.remove_orphan_files() == {"removed_dirs": 1}
    assert not orphans[0].exists()

    c.compact(spark)
    c.expire_snapshots()
    assert {d.name for d in data.iterdir()} == referenced()
    assert sorted(r.id for r in c.read(spark).select("id").collect()) == ids
