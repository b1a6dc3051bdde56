"""Model-based property test for the snapshot catalog's mutation verbs.

Hypothesis drives random sequences of append / delete_where /
delete_keys (merge-on-read) / upsert / compact / write-audit-publish /
rollback_to / cherry_pick / branch+fast-forward+drop against a
SnapshotCatalog while
a plain Python dict plays the same sequence as the reference model
(rollback restores the dict to the chosen checkpoint wholesale; branch
commits touch the model only when fast-forwarded, and pending branches
ride through every later verb). Invariants after every sequence:

  * read() equals the model state exactly (ids AND values);
  * history()'s final visible-row-count equals the model size, and the
    whole trajectory equals the model's size after each commit;
  * time travel to any snapshot that survived expiry equals the model's
    state at that commit;
  * delete + expire + remove_orphan_files leaves only dirs that
    surviving manifests reference.

The single-op unit tests (test_compaction.py) pin each verb's contract;
this test hunts the INTERACTIONS — e.g. a delete after a compact after
an upsert, where a wrong parent chain or a stale full-state assumption
would corrupt silently.
"""

from __future__ import annotations

import os
import pathlib
import tempfile

import pyspark.sql.functions as F  # noqa: F401  (parity with suite style)
import pytest
from hypothesis import given, settings, strategies as st

from streamcorpus_filter_spark.catalog import SnapshotCatalog

# ops: ("append", start_id, n) | ("delete", mod) | ("upsert", ids) |
# ("compact",) | ("wap", start_id, n, publish?) | ("stage_only", start_id)
# wap stages a batch then publishes (visible commit) or aborts (no
# logical change, dir reclaimed); stage_only leaves a PENDING staged
# batch in the catalog so every later verb — and the final expiry/GC —
# runs with an unaudited commit sitting in the manifest list.
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2), st.integers(1, 4)),
        st.tuples(st.just("delete"), st.integers(2, 5)),
        st.tuples(st.just("upsert"), st.lists(
            st.integers(0, 11), min_size=1, max_size=3, unique=True)),
        st.tuples(st.just("compact")),
        st.tuples(st.just("wap"), st.integers(3, 5), st.integers(1, 3),
                  st.booleans()),
        st.tuples(st.just("stage_only"), st.integers(6, 7)),
        st.tuples(st.just("rollback"), st.integers(0, 9)),
        st.tuples(st.just("mor_delete"), st.integers(2, 5)),
        st.tuples(st.just("cherry_pick"), st.integers(0, 9)),
        st.tuples(st.just("branch_work"), st.integers(0, 2),
                  st.integers(1, 3),
                  st.sampled_from(["ff", "drop", "leave"])),
        # CONCURRENT steps (VERDICT r4 task 6): two threads race the
        # same logical event — publish-vs-publish / publish-vs-abort of
        # one staged id, or double cherry-pick of one undone append —
        # and the model asserts the CONVERGED invariants (one head per
        # staged id, read() never unions a doomed or doubled dir)
        st.tuples(st.just("race"), st.sampled_from(["pp", "pa", "cc"]),
                  st.integers(8, 9)),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=int(os.environ.get("CAT_MODEL_MAX_EXAMPLES", "16")),
    deadline=None,
)  # 10 verbs incl. concurrent races: a few extra draws buy real
# interaction coverage (rollback x branch x MoR x WAP x race); the
# suite default stays 16 for wall time — the deep validation run is
# CAT_MODEL_MAX_EXAMPLES=200 (r05: green, see SURVEY.md §5)
@given(_OPS)
def test_catalog_mutations_match_model(spark, ops):
    with tempfile.TemporaryDirectory(prefix="cat_model_") as root:
        cat = SnapshotCatalog(root)
        model: dict[int, int] = {}
        trajectory: list[int] = []  # model size after each committed snapshot
        checkpoints: list[tuple[str, dict[int, int]]] = []
        version = 0

        # seed so delete/upsert/compact have something to act on
        seed = {i: 0 for i in range(4)}
        cat.append(spark.createDataFrame(
            sorted(seed.items()), "doc_id bigint, v bigint"))
        model.update(seed)
        trajectory.append(len(model))
        checkpoints.append((cat.latest_snapshot()["snapshot_id"], dict(model)))
        append_log: list[tuple[str, dict[int, int]]] = [
            (checkpoints[-1][0], dict(seed))
        ]  # every APPEND commit, for cherry_pick to redo

        for op in ops:
            version += 1
            if op[0] == "append":
                _, start, n = op
                batch = {start * 100 + j + 10: version for j in range(n)}
                # catalog appends are new logical rows; keep model keys new too
                batch = {k: v for k, v in batch.items() if k not in model}
                if not batch:
                    continue
                m = cat.append(spark.createDataFrame(
                    sorted(batch.items()), "doc_id bigint, v bigint"))
                model.update(batch)
                append_log.append((m["snapshot_id"], dict(batch)))
            elif op[0] == "delete":
                mod = op[1]
                doomed = {k for k in model if k % mod == 0}
                m = cat.delete_where(spark, f"doc_id % {mod} = 0")
                if not doomed:
                    # zero-match delete is a metadata no-op: same snapshot
                    assert m["snapshot_id"] == checkpoints[-1][0]
                    continue  # no commit, no trajectory entry
                for k in doomed:
                    del model[k]
            elif op[0] == "upsert":
                ids = op[1]
                updates = {k: version for k in ids}
                cat.upsert(spark, spark.createDataFrame(
                    sorted(updates.items()), "doc_id bigint, v bigint"),
                    ["doc_id"])
                model.update(updates)
            elif op[0] == "wap":
                _, start, n, do_publish = op
                batch = {start * 1000 + j + 10: version for j in range(n)}
                batch = {k: v for k, v in batch.items() if k not in model}
                if not batch:
                    continue
                staged = cat.stage(spark.createDataFrame(
                    sorted(batch.items()), "doc_id bigint, v bigint"))
                # staged is invisible until the audit decision
                assert {r.doc_id: r.v
                        for r in cat.read(spark).collect()} == model
                if do_publish:
                    cat.publish(staged["snapshot_id"])
                    model.update(batch)
                else:
                    cat.abort_staged(staged["snapshot_id"])
                    continue  # no visible commit, no trajectory entry
            elif op[0] == "cherry_pick":
                # try to redo a random past append. The verb only fires
                # when NONE of the batch's keys are in the model (a real
                # operator cherry-picks batches undone by rollback; a
                # key-overlapping redo would create duplicates the dict
                # model cannot express, so those draws are skipped). Even
                # with zero key overlap the catalog may still refuse by
                # DATA-DIR identity — e.g. a MoR delete emptied the batch's
                # keys while its dir stayed in the read set — which is a
                # correct conservative refusal: skip then too.
                sid, batch = append_log[op[1] % len(append_log)]
                if set(batch) & set(model):
                    continue
                if cat._by_id(sid) is None:
                    continue  # manifest gone (not reachable here; keeps
                    # the verb total if expiry ever interleaves)
                try:
                    cat.cherry_pick(sid)
                except ValueError:
                    continue
                model.update(batch)
            elif op[0] == "mor_delete":
                mod = op[1]
                doomed = {k for k in model if k % mod == 0}
                m = cat.delete_keys(
                    spark,
                    spark.createDataFrame(
                        [(k,) for k in sorted(doomed)] or [(-1,)],
                        "doc_id bigint",
                    ),
                    ["doc_id"],
                )
                if not doomed:
                    # zero-match MoR delete is a metadata no-op
                    assert m["snapshot_id"] == checkpoints[-1][0]
                    continue
                for k in doomed:
                    del model[k]
            elif op[0] == "rollback":
                # roll back to a random earlier VISIBLE checkpoint; the
                # model restores that state wholesale (later appends /
                # deletes / upserts are all undone at once)
                target_id, target_state = checkpoints[op[1] % len(checkpoints)]
                if target_id == checkpoints[-1][0]:
                    # rolling back to the current head's state is a
                    # metadata no-op: no commit, no trajectory entry
                    assert (
                        cat.rollback_to(target_id)["snapshot_id"] == target_id
                    )
                    continue
                cat.rollback_to(target_id)
                model = dict(target_state)
            elif op[0] == "branch_work":
                _, start, n, action = op
                batch = {start * 100000 + j + 10: version for j in range(n)}
                batch = {k: v for k, v in batch.items() if k not in model}
                if not batch:
                    continue
                name = f"br{version}"
                cat.create_branch(name)
                cat.branch_append(spark.createDataFrame(
                    sorted(batch.items()), "doc_id bigint, v bigint"), name)
                # branch commits are invisible to the main read
                assert {r.doc_id: r.v
                        for r in cat.read(spark).collect()} == model
                # ...and visible on the branch view
                assert {r.doc_id: r.v
                        for r in cat.read(spark, branch=name).collect()} \
                    == {**model, **batch}
                if action == "ff":
                    cat.fast_forward(name)
                    model.update(batch)
                elif action == "drop":
                    cat.drop_branch(name)
                    continue  # no visible commit
                else:
                    continue  # pending branch rides through later verbs
            elif op[0] == "stage_only":
                start = op[1]
                cat.stage(spark.createDataFrame(
                    [(start * 10000, version)], "doc_id bigint, v bigint"))
                continue  # pending audit: invisible, no trajectory entry
            elif op[0] == "race":
                import threading

                _, kind, start = op
                if kind in ("pp", "pa"):
                    batch = {
                        start * 1000000 + version * 10 + j: version
                        for j in range(2)
                    }
                    batch = {k: v for k, v in batch.items() if k not in model}
                    if not batch:
                        continue
                    sid = cat.stage(spark.createDataFrame(
                        sorted(batch.items()), "doc_id bigint, v bigint"
                    ))["snapshot_id"]
                    fns = ([cat.publish, cat.publish] if kind == "pp"
                           else [cat.publish, cat.abort_staged])
                else:  # cc: double cherry-pick of a rollback-undone append
                    on = cat._timeline_ids(cat.snapshots())
                    cands = [
                        (s2, b) for s2, b in append_log
                        if cat._by_id(s2) is not None and s2 not in on
                        and not (set(b) & set(model))
                    ]
                    if not cands:
                        continue
                    sid, batch = cands[0]
                    fns = [cat.cherry_pick, cat.cherry_pick]
                results, errors = [], []
                barrier = threading.Barrier(2)

                def racer(fn, _sid=sid):
                    try:
                        barrier.wait()
                        results.append(fn(_sid))
                    except ValueError as e:
                        # losing a race surfaces the documented refusal
                        # (aborted batch / duplicate redo) — converged
                        errors.append(e)

                ts = [threading.Thread(target=racer, args=(f,)) for f in fns]
                [t.start() for t in ts]
                [t.join() for t in ts]
                snaps = cat.snapshots()
                heads = [
                    s for s in snaps
                    if s.get("metrics", {}).get("published_from") == sid
                    or (s.get("metrics", {}).get("cherry_picked_from") == sid
                        and s["snapshot_id"] in cat._timeline_ids(snaps))
                ]
                tombs = [
                    s for s in snaps
                    if s.get("operation") == "abort"
                    and s.get("metrics", {}).get("aborted_from") == sid
                ]
                if kind == "pp":
                    assert len(heads) == 1 and not errors, (heads, errors)
                    model.update(batch)
                elif kind == "pa":
                    # exactly one outcome won; the loser saw the refusal
                    assert (len(heads), len(tombs)) in ((1, 0), (0, 1))
                    if not heads:
                        continue  # abort won: no visible commit
                    model.update(batch)
                else:
                    if not results:
                        continue  # both refused (e.g. dir still present)
                    assert len(heads) == 1, heads
                    model.update(batch)
                # no staged manifest may linger after the decision
                assert all(
                    s.get("operation") != "staged"
                    or s["snapshot_id"] != sid
                    for s in snaps
                )
            else:
                cat.compact(spark, target_files=1)
            trajectory.append(len(model))
            checkpoints.append(
                (cat.latest_snapshot()["snapshot_id"], dict(model)))

        # read() == model
        got = {r.doc_id: r.v for r in cat.read(spark).collect()}
        assert got == model

        # history trajectory == model sizes per commit
        hist = [r.n_rows for r in sorted(
            cat.history(spark).collect(), key=lambda r: r.sequence)]
        assert hist == trajectory

        # time travel to every checkpoint reproduces the model state then
        for snap_id, state in checkpoints:
            tt = {r.doc_id: r.v for r in cat.read(spark, snap_id).collect()}
            assert tt == state, snap_id

        # maintenance end-state: GC leaves exactly the referenced dirs
        cat.expire_snapshots()
        cat.remove_orphan_files()
        referenced = {
            pathlib.Path(s["data_dir"]).name
            for s in cat.snapshots()
            if s["data_dir"]  # abort tombstones reference no data
        }
        on_disk = {
            p.name for p in (pathlib.Path(root) / "data").iterdir() if p.is_dir()
        }
        assert on_disk == referenced
        got2 = {r.doc_id: r.v for r in cat.read(spark).collect()}
        assert got2 == model
