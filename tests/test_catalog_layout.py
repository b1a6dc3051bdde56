"""The manifest chain has one writer: every manifest is built by one
constructor and committed through one sequence-claim loop inside
SnapshotCatalog, and no other module knows the on-disk manifest layout."""

from __future__ import annotations

import pathlib
import re
import tempfile

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
