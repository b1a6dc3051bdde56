"""Snapshot catalog: the Iceberg table contract behind a thin seam.

The north rule targets Iceberg tables ("resumable from Iceberg snapshot
checkpoints with per-partition lineage and counter metrics",
BASELINE.json:14). The sandbox has no Iceberg runtime jar, so this module
emulates the parts of the contract the pipeline relies on with
partitioned Parquet plus JSON snapshot manifests:

  * append-only writes, each producing a new immutable snapshot that
    records its parent, the data files added, the INPUT files consumed
    (lineage), and the run's counter metrics;
  * snapshot-id reads (read the table as of any snapshot);
  * incremental/resume reads (the set of already-processed input files,
    so a restarted job anti-joins them away — the manifest IS the
    checkpoint);
  * maintenance & mutation verbs: compact (REPLACE rewrite), upsert
    (copy-on-write MERGE), delete_where (copy-on-write DELETE),
    delete_keys (merge-on-read equality deletes: key-set-only commits,
    read-time broadcast anti-join under the sequence rule),
    expire_snapshots (tag/branch/head-read-set-protected GC with
    lineage folding), remove_orphan_files;
  * refs & undo/redo: tags (immutable release refs), branches
    (branch_base pointer parentage + zero-copy crash-idempotent
    fast_forward + drop_branch), rollback_to (metadata-only restore via
    the jump-walk read resolver), cherry_pick (zero-copy selective redo
    with a data-dir-identity duplicate guard);
  * write-audit-publish: stage / publish / abort_staged, serialized
    through lower-sequence-wins decisive manifests;
  * metadata tables: history() (visible-row trajectory) and
    partitions() (per-partition file/row counts), both computed from
    manifests + parquet footers with no data-page scan.

On a real cluster every call site maps 1:1 onto Iceberg:
  append(...)            -> df.writeTo(tbl).append() + snapshot summary
  read(snapshot_id=...)  -> spark.read.format("iceberg")
                              .option("snapshot-id", ...).load(tbl)
  processed_inputs(...)  -> snapshot summary / lineage table
  delete_keys(...)       -> Iceberg v2 equality-delete files
  rollback_to/cherry_pick-> rollback_to_snapshot / cherrypick_snapshot
  branches/tags          -> branch & tag refs; fast_forward
  history()/partitions() -> the history / partitions metadata tables
Only this module would change; pipeline code is catalog-agnostic.

Reference analog: streamcorpus-filter wrote output chunk files and relied
on the scheduler to not re-feed processed chunks [RECALL, SURVEY.md §3.1];
the manifest makes that bookkeeping explicit and transactional-ish
(the manifest commits last, after the data files are flushed, by claiming
its sequence-numbered file name with os.link).
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class ConcurrentRewriteError(RuntimeError):
    """A replace/merge commit found its base snapshot superseded by a
    concurrent writer; committing anyway would silently drop the
    concurrent changes (lost update). Re-derive the rewrite from the new
    state and retry."""


class SnapshotCatalog:
    """A single logical table rooted at ``root``.

    Layout:
      root/data/snap=<snapshot_id>/...parquet
                                           (one dir per snapshot; the
                                            partitionBy dirs live inside.
                                            The dir name is a partition
                                            level, so one scan with
                                            basePath=data reads many
                                            snapshots. Tables written
                                            before this layout have
                                            data/<snapshot_id> dirs; they
                                            still read, one scan per dir)
      root/snapshots/<seq>.json            (manifest chain; the filename
                                            is the optimistic-commit claim
                                            on that sequence number)
    """

    # the partition column the snapshot dir level names; a table column
    # of this name is refused at write time. Not `_`-prefixed: pyarrow's
    # dataset discovery skips such paths as hidden.
    _SNAP_COL = "snap"

    def __init__(self, root: str) -> None:
        self.root = pathlib.Path(root)
        (self.root / "snapshots").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ manifests

    def _manifests(self) -> list[pathlib.Path]:
        return sorted((self.root / "snapshots").glob("*.json"))

    def snapshots(self) -> list[dict]:
        out = []
        for p in self._manifests():
            try:
                out.append(json.loads(p.read_text()))
            except FileNotFoundError:
                # unlinked between glob and read — publish's self-heal
                # and abort_staged legitimately remove manifests while
                # another caller lists; a vanished file is simply absent
                continue
        return out

    def latest_snapshot(self) -> dict | None:
        for p in reversed(self._manifests()):
            try:
                return json.loads(p.read_text())
            except FileNotFoundError:
                continue  # same vanish tolerance as snapshots()
        return None

    def _manifest_path(self, sequence: int) -> pathlib.Path:
        return self.root / "snapshots" / f"{sequence:08d}.json"

    def _unlink(self, manifest: dict) -> None:
        """Remove a committed manifest; one already gone is fine (racing
        healers unlink the same loser)."""
        self._manifest_path(manifest["sequence"]).unlink(missing_ok=True)

    def _visible(self, snaps: list[dict] | None = None) -> list[dict]:
        """Main-table manifests in sequence order: everything but staged
        batches, abort tombstones and branch commits."""
        return [
            s for s in (snaps if snaps is not None else self.snapshots())
            if s.get("operation") not in self._NON_MAIN_OPS
        ]

    def _staged(self, snaps: list[dict] | None = None) -> list[dict]:
        """Staged batches awaiting their audit decision, in sequence
        order."""
        return [
            s for s in (snaps if snaps is not None else self.snapshots())
            if s.get("operation") == "staged"
        ]

    @staticmethod
    def _manifest(
        operation: str,
        data_dir: str = "",
        input_files: list[str] | None = None,
        metrics: dict | None = None,
        source: dict | None = None,
        snapshot_id: str | None = None,
    ) -> dict:
        """The one manifest constructor. ``sequence`` and ``parent_id``
        are placeholders the commit loop assigns; the table layout
        (``partition_by``, ``bucket_spec``, ``schema_json``) is copied
        from ``source`` — the manifest whose data or fork point this one
        describes — and is empty without one. A manifest without a data
        dir (tombstone, branch marker, rollback) has no file layout, so
        it never carries a ``bucket_spec``."""
        src = source or {}
        return {
            "sequence": -1,
            "snapshot_id": snapshot_id or uuid.uuid4().hex[:16],
            "parent_id": None,
            "committed_at": time.time(),
            "operation": operation,
            "data_dir": data_dir,
            "input_files": sorted(input_files or []),
            "metrics": metrics or {},
            "partition_by": src.get("partition_by") or [],
            "bucket_spec": src.get("bucket_spec") if data_dir else None,
            "schema_json": src.get("schema_json"),
        }

    # --------------------------------------------------------------- write

    def append(
        self,
        df: DataFrame,
        *,
        input_files: list[str] | None = None,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        operation: str = "append",
        expected_parent: str | None = None,
    ) -> dict:
        """Write ``df`` as a new snapshot; returns the manifest dict.

        ``bucket_by=(n, cols)`` writes the snapshot in Iceberg's
        ``bucket(n, col)`` partition-transform layout (the sandbox
        realization is Spark/Hive bucketing: files carry the bucket id
        in their names, and read() re-exposes the layout as a bucketed
        table so equi-joins on ``cols`` plan NO Exchange on this side).
        This is the missing piece the retired near-dup demo measured
        (BENCH/BASELINE.md, "Retired demo records"): a persisted
        band/key index that is probed every batch should never re-shuffle
        — with the transform recorded in the manifest, the probe join
        shuffles ONLY the day's batch, making probe cost independent of
        corpus history at 10^12 docs. Spark's repartition hash and its
        bucket-id hash are the same Murmur3-mod-n, so the pre-write
        repartition below yields exactly one file per bucket per write
        (per partition dir when composed with ``partition_by``, which
        maps to Iceberg's multi-transform partition specs — e.g.
        days(ts) + bucket(n, url)).

        Data files are fully written before the manifest is exposed by
        the os.link sequence claim (_commit_manifest) — a crash mid-write
        leaves a dangling data dir that no manifest references (readers
        never see partial output), which is the same commit protocol
        Iceberg uses (metadata swap last).

        ``operation`` is "append" (new logical rows), "replace" (pure
        rewrite: the snapshot's data dir holds the ENTIRE table state as
        of commit with unchanged logical content — Iceberg's
        rewrite_data_files; see compact()), or "merge" (full-state
        rewrite WITH content changes — upsert(); incremental scans
        refuse to cross it).

        ``expected_parent`` pins the commit's base: if another writer
        commits first, this commit FAILS with ConcurrentRewriteError
        instead of retrying — required for replace/merge commits, whose
        payload was derived from the base state (blind re-parenting
        would silently drop the concurrent append: a lost update). This
        is Iceberg's serializable commit validation. Plain appends leave
        it None and re-parent freely (their rows conflict with nothing).

        The data dir is ``data/snap=<id>``, so a table column named
        ``snap`` (any case: Spark resolves names case-insensitively)
        would clash with the dir's partition value and is refused with
        ValueError before anything is written.
        """
        if any(c.lower() == self._SNAP_COL for c in df.columns):
            raise ValueError(
                f"column {self._SNAP_COL!r} is reserved: the catalog names "
                f"each snapshot's data dir {self._SNAP_COL}=<id> — rename "
                "the column before writing"
            )
        snap_id = uuid.uuid4().hex[:16]
        data_dir = self.root / "data" / f"{self._SNAP_COL}={snap_id}"
        if bucket_by:
            n, bcols = int(bucket_by[0]), list(bucket_by[1])
            # the only Spark writer that emits bucket-id file names is
            # saveAsTable; option("path") makes it EXTERNAL so dropping
            # the throwaway name right after keeps the files — the
            # manifest (bucket_spec below) is the durable metadata,
            # exactly as Iceberg keeps the transform in table metadata,
            # not in a live engine catalog entry. COMPOSES with
            # partition_by (Iceberg's multi-transform spec: e.g.
            # days(ts) + bucket(n, url)): partition dirs outside,
            # bucket-id file names inside each dir.
            tmp_tbl = f"cat_bwrite_{snap_id}"
            w = (df.repartition(n, *bcols)
                 .write.mode("errorifexists")
                 .bucketBy(n, *bcols).sortBy(*bcols)
                 .option("path", str(data_dir)))
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.saveAsTable(tmp_tbl)
            df.sparkSession.sql(f"DROP TABLE IF EXISTS `{tmp_tbl}`")
        else:
            w = df.write.mode("errorifexists")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(str(data_dir))

        manifest = self._manifest(
            operation,
            str(data_dir),
            input_files,
            metrics,
            source={
                "partition_by": partition_by or [],
                "bucket_spec": (
                    {"n": int(bucket_by[0]), "cols": list(bucket_by[1])}
                    if bucket_by else None
                ),
                # full table schema: read() passes it as the user-specified
                # schema, which types directory-encoded partition values
                # natively (inference would stringify e.g. booleans) while
                # keeping them in PartitionFilters for file-level pruning
                "schema_json": df.schema.json(),
            },
            snapshot_id=snap_id,
        )
        try:
            return self._commit_manifest(manifest, expected_parent)
        except RuntimeError:
            # a lost rewrite race or contention exhaustion (the commit
            # loop's two RuntimeErrors): the data dir was already written
            # but no manifest will ever reference it — without this
            # cleanup every lost rewrite race leaks a TABLE-SIZED orphan
            # dir (compact/upsert payloads are full table copies) that
            # expire_snapshots can never GC (it only walks
            # manifest-referenced dirs). Safe to delete: the commit
            # failed, so no reader can have resolved this dir. Best-effort:
            # a half-removed orphan is still an orphan, and the commit
            # error must propagate regardless. Any other exception leaves
            # the dir for remove_orphan_files.
            shutil.rmtree(data_dir, ignore_errors=True)
            raise

    def compact(
        self,
        spark: SparkSession,
        *,
        target_files: int = 1,
        metrics: dict | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction: rewrite the CURRENT table state into one
        new snapshot of ``target_files`` files (Iceberg's
        ``rewrite_data_files`` + REPLACE commit). Logical content is
        unchanged — readers as of any earlier snapshot still see the
        pre-compaction files (time travel is unaffected because the chain
        cut only considers replaces at-or-before the requested snapshot),
        and incremental readers skip the rewrite entirely.

        The rewrite is safe against the read-while-write hazard because
        the output goes to a NEW data dir: the coalesce plan streams from
        the old snapshot dirs, which are immutable.

        At 100 TB compaction is the maintenance job that keeps scan task
        counts sane after many small streaming/resume appends; here it is
        one ``coalesce`` (no shuffle — it only merges splits) per call.

        Raises ConcurrentRewriteError if another writer commits between
        reading the state and committing the rewrite (lost-update guard)."""
        base = self.latest_snapshot()
        if target_files != 1 and (bucket_by or partition_by):
            raise ValueError(
                "target_files only applies to the plain rewrite: "
                "bucket_by fixes the file count at n buckets and "
                "partition_by at one file per partition dir"
            )
        if bucket_by:
            # rewrite-to-spec: accreted appends collapse into ONE
            # bucket(n, cols) snapshot, restoring the single-snapshot
            # shape _read_snapshots needs to expose the layout (a union
            # of bucketed dirs reports no partitioning). This is the
            # periodic maintenance an ever-growing probe index runs so
            # every later probe join stays index-side-shuffle-free.
            current = self.read(spark)
        elif partition_by:
            # hash all rows of one partition value into one task so the
            # partitioned write emits ONE file per partition dir —
            # coalesce here would instead write up to target_files
            # files in EVERY dir (tasks each hold a slice of every
            # value), multiplying file count on the maintenance job
            # meant to reduce it
            from pyspark.sql import functions as F

            current = self.read(spark).repartition(
                *[F.col(f"`{c}`") for c in partition_by]
            )
        else:
            current = self.read(spark).coalesce(target_files)
        return self.append(
            current,
            metrics=metrics,
            operation="replace",
            bucket_by=bucket_by,
            partition_by=partition_by,
            expected_parent=base["snapshot_id"] if base else None,
        )

    # ---------------------------------------------------------------- read

    def _chain(self, snapshot_id: str | None) -> list[dict]:
        snaps = self.snapshots()
        if snapshot_id is None:
            return snaps
        out = []
        for s in snaps:
            out.append(s)
            if s["snapshot_id"] == snapshot_id:
                return out
        raise KeyError(f"unknown snapshot {snapshot_id!r}")

    # operations whose data dir holds the ENTIRE table state at commit,
    # superseding every older snapshot on the read path
    _REWRITE_OPS = ("replace", "merge")
    # manifests that are NOT main-table logical content: staged batches
    # await their audit, abort tombstones record a decision, branch
    # commits live on a named ref until fast-forwarded
    _NON_MAIN_OPS = ("staged", "abort", "branch")

    def _resolve_read_set(
        self,
        chain: list[dict],
        audit_id: str | None = None,
        traversed: set[str] | None = None,
        deletes: list[dict] | None = None,
    ) -> list[dict]:
        """The manifests whose data dirs constitute the logical state at
        the END of ``chain`` — how an Iceberg reader resolves a snapshot.
        Walk backwards collecting appends; STOP at a rewrite
        (replace/merge: its dir holds the whole state); on a ROLLBACK
        manifest, JUMP to its target and keep walking (the rollback is
        metadata-only — its state IS the target's state, plus whatever
        was appended after the rollback, which this walk has already
        collected). Staged commits are invisible unless ``audit_id``
        names one (the write-audit view); abort tombstones carry no
        content. MERGE-ON-READ delete manifests (``mor_delete``) are not
        row sources — they are collected into ``deletes`` for the read
        layer to anti-join (a delete at sequence D applies to data
        committed at sequence < D); deletes below the stopping rewrite
        were already folded into the rewrite's state and are never
        collected. Returned in chronological order."""
        by_id = {s["snapshot_id"]: i for i, s in enumerate(chain)}
        sel: list[dict] = []
        i = len(chain) - 1
        while i >= 0:
            s = chain[i]
            op = s.get("operation")
            if op in ("abort", "branch") or (
                op == "staged" and s["snapshot_id"] != audit_id
            ):
                # branch commits live on their named ref — main reads
                # walk past them (read(branch=...) / by-id branch reads
                # use the pointer-chase resolver instead)
                i -= 1
                continue
            if op == "rollback":
                if traversed is not None:
                    # expiry must keep traversed rollback manifests: they
                    # are the redirect pointers the surviving read set is
                    # resolved through (metadata-only, zero storage)
                    traversed.add(s["snapshot_id"])
                tgt = s["metrics"]["rollback_to"]
                j = by_id.get(tgt)
                if j is None:
                    raise ValueError(
                        f"rollback target {tgt!r} is not in the manifest "
                        "chain — it was expired or lies outside the "
                        "requested snapshot's history"
                    )
                i = j  # target sequence < rollback sequence: terminates
                continue
            if op == "mor_delete":
                if traversed is not None:
                    # like rollback redirects, delete-key manifests are
                    # part of HOW the surviving read set resolves — they
                    # and their key dirs must outlive expiry with it
                    traversed.add(s["snapshot_id"])
                if deletes is not None:
                    deletes.append(s)
                i -= 1
                continue
            sel.append(s)
            if op in self._REWRITE_OPS:
                break
            i -= 1
        return sel[::-1]

    def _timeline_ids(self, snaps: list[dict]) -> set[str]:
        """Snapshot ids ON the current logical timeline: the backward
        walk from the head that follows rollback jumps but (unlike the
        read resolver) continues PAST rewrites down to the root.
        Manifests absent from this set were rolled off — their appends'
        input-file lineage is no longer table content."""
        by_id = {s["snapshot_id"]: i for i, s in enumerate(snaps)}
        on: set[str] = set()
        i = len(snaps) - 1
        while i >= 0:
            s = snaps[i]
            on.add(s["snapshot_id"])
            if s.get("operation") == "rollback":
                j = by_id.get(s["metrics"]["rollback_to"])
                if j is None:
                    break  # target expired: nothing older is decidable
                i = j
                continue
            i -= 1
        return on

    # ---------------------------------------------- write-audit-publish

    def stage(
        self,
        df: DataFrame,
        *,
        wap_id: str | None = None,
        input_files: list[str] | None = None,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
    ) -> dict:
        """Write a batch as a STAGED snapshot (Iceberg's write-audit-
        publish / ``wap.id`` workflow): the data is fully written and
        committed to the manifest chain, but INVISIBLE to read(),
        read_incremental(), and history() until published. The auditor
        reads it by id — ``read(snapshot_id=<staged id>)`` is the audit
        view (main as of that point plus the staged batch) — runs its
        quality checks, then ``publish()`` or ``abort_staged()``.
        The 100 TB quality gate: bad crawl batches never become visible
        table state, yet auditing needs no side table or copy."""
        m = dict(metrics or {})
        if wap_id is not None:
            m["wap_id"] = wap_id
        return self.append(
            df,
            input_files=input_files,
            metrics=m,
            partition_by=partition_by,
            bucket_by=bucket_by,
            operation="staged",
        )

    def publish(
        self, staged_snapshot_id: str, metrics: dict | None = None
    ) -> dict:
        """Make a staged snapshot visible — Iceberg's cherry-pick: a NEW
        manifest commits at the head referencing the SAME data dir (zero
        copy), carrying the staged commit's input-file lineage and
        metrics, then the staged manifest is removed. Publishing as a
        new head (rather than flipping the staged manifest in place) is
        what keeps the two consumer contracts honest: CDC readers see
        the batch at a fresh sequence at publish time (an in-place flip
        at the OLD sequence would be invisible to any consumer already
        past it), and a compaction committed while the batch sat staged
        cannot strand it behind the rewrite cut.

        ``metrics`` (the auditor's observed counters) fold over the
        staged metrics in that same head commit, so no manifest is ever
        rewritten in place; a retry that finds the batch already
        published returns the existing head unchanged."""
        # idempotence: a crash between the publish commit and the staged
        # unlink leaves both manifests; a retry must FINISH the publish
        # (remove the staged leftover, collapse any crash-orphaned
        # duplicate heads, return the surviving head), never commit a
        # second head on the same dir — which read() would union into
        # duplicated rows. Head AND tombstone both present means a racer
        # crashed mid-adjudication: the retry finishes it by the same
        # lower-sequence-wins rule — an EARLIER tombstone means the abort
        # won and this head is a crash-orphan pointing at a deleted dir
        # (returning it as success would report a published batch that is
        # gone AND leave read() bricked on the missing path); an earlier
        # head means the abort lost and its leftover tombstone goes.
        snaps = self.snapshots()
        head = self._published_head(staged_snapshot_id, snaps)
        tomb = self._abort_tombstone(staged_snapshot_id, snaps)
        if head is not None and tomb is not None:
            loser = head if tomb["sequence"] < head["sequence"] else tomb
            self._unlink(loser)
            if loser is head:
                head = None
            else:
                tomb = None
        if head is not None:
            leftover = self._by_id(staged_snapshot_id)
            if leftover is not None:
                self._unlink(leftover)
            return head
        if tomb is not None:
            raise ValueError(
                f"staged snapshot {staged_snapshot_id!r} was aborted — "
                "its batch is gone; re-stage and re-audit it"
            )
        try:
            s = self._get_staged(staged_snapshot_id)
        except KeyError:
            # TOCTOU window (observed once under full-suite load,
            # test_catalog_races.py): racer A passes the pre-scan (no
            # head, no tombstone) while racer B commits the published
            # head AND unlinks the staged manifest; A's _get_staged then
            # sees the id vanish. The staged manifest disappearing is
            # only legal as the LAST step of a finished publish or abort,
            # so re-scan and converge to whoever won; re-raise only if
            # the id is genuinely unknown (caller typo / wrong table).
            snaps = self.snapshots()
            head = self._published_head(staged_snapshot_id, snaps)
            if head is not None:
                return head
            if self._abort_tombstone(staged_snapshot_id, snaps) is not None:
                raise ValueError(
                    f"staged snapshot {staged_snapshot_id!r} was aborted — "
                    "its batch is gone; re-stage and re-audit it"
                ) from None
            raise
        out = self._commit_manifest(self._manifest(
            "append", s["data_dir"], s["input_files"],
            {**s["metrics"], **(metrics or {}),
             "published_from": staged_snapshot_id},
            source=s,
        ))
        # self-heal the pre-scan's TOCTOU window: two concurrent
        # publishers of the same staged id can both pass the
        # published_from check and both commit a head — duplicated rows.
        # After committing, collapse to the EARLIEST sequence (the
        # helper unlinks every later duplicate, ours included if we
        # lost); a racer that crashes before this point is healed by the
        # next publish()'s pre-scan, which runs the same collapse.
        snaps = self.snapshots()
        out = self._published_head(staged_snapshot_id, snaps) or out
        # publish-vs-abort of the same staged id serializes through the
        # manifest sequence order: both sides commit their decisive
        # manifest (our head here, abort's tombstone there) and the
        # LOWER sequence wins. If a tombstone committed before our head,
        # the abort won — yield: unlink our head and surface the abort
        # (the tombstone side is deleting the data dir; a head pointing
        # at it would brick every future read of the table).
        tomb = self._abort_tombstone(staged_snapshot_id, snaps)
        if tomb is not None and tomb["sequence"] < out["sequence"]:
            self._unlink(out)
            raise ValueError(
                f"staged snapshot {staged_snapshot_id!r} was aborted "
                "concurrently — its batch is gone; re-stage it"
            )
        # remove the staged manifest AFTER the publish commit: a crash in
        # between leaves both, which is safe (staged is skipped on every
        # read path, and both reference the same dir for GC purposes)
        self._unlink(s)
        return out

    def abort_staged(self, staged_snapshot_id: str) -> None:
        """Drop a staged snapshot that failed its audit.

        The decisive event is a committed ``abort`` TOMBSTONE manifest
        (operation='abort', metrics.aborted_from=<staged id>, zero
        logical content — skipped by every read path): abort and publish
        of the same staged id both commit their decisive manifest
        through the sequence-claim protocol and the LOWER sequence wins,
        so the race resolves in one total order instead of a TOCTOU
        window. Without this, an abort racing an in-flight publish could
        rmtree the data dir after publish passed its staged check but
        before its head committed — a visible head referencing a deleted
        directory, bricking every future read. Now that interleaving
        makes publish's post-commit scan find the earlier tombstone,
        yield, and raise. If instead a publish head committed FIRST,
        this abort unlinks its own tombstone and raises — the batch is
        already visible table state and only delete_where can remove it.

        Only after winning does the tombstone side do the destructive
        work: unlink the staged manifest, proactively unlink any
        later-sequence racing publish head, and rmtree the data dir
        unless another (non-tombstone) manifest references it. A crash
        anywhere in that cleanup is healed by re-calling abort_staged
        (idempotent: the surviving tombstone is reused, never
        re-committed) or swept by remove_orphan_files once the tombstone
        expires."""
        snaps = self.snapshots()
        s = next(
            (o for o in snaps if o["snapshot_id"] == staged_snapshot_id),
            None,
        )
        if s is not None and s.get("operation") != "staged":
            raise ValueError(
                f"snapshot {staged_snapshot_id!r} is "
                f"{s['operation']!r}, not staged"
            )
        tomb = self._abort_tombstone(staged_snapshot_id, snaps)
        head = self._published_head(staged_snapshot_id, snaps)
        if s is None and tomb is None and head is None:
            # the TOCTOU window publish() re-scans for: a racing publish
            # unlinks the staged manifest after committing its head, and
            # this scan can miss both. Re-scan once and converge to
            # whoever won; only a genuinely unknown id is a KeyError.
            snaps = self.snapshots()
            tomb = self._abort_tombstone(staged_snapshot_id, snaps)
            head = self._published_head(staged_snapshot_id, snaps)
            if tomb is None and head is None:
                raise KeyError(f"unknown snapshot {staged_snapshot_id!r}")
        if head is not None and (
            tomb is None or head["sequence"] < tomb["sequence"]
        ):
            raise ValueError(
                f"staged snapshot {staged_snapshot_id!r} was already "
                "published — aborting now would drop visible table "
                "state; use delete_where instead"
            )
        if tomb is None:
            # data_dir EMPTY, not the staged dir: a tombstone is not a
            # data reference — the batch's dir is doomed (so
            # remove_orphan_files may legitimately finish a crashed
            # abort's delete) and a completed abort must leave on-disk
            # dirs == referenced dirs. The doomed dir rides in metrics
            # for the cleanup/retry path only. NO input-file lineage: an
            # aborted batch's inputs must stay re-ingestable (the whole
            # point of the audit gate)
            tomb = self._commit_manifest(self._manifest(
                "abort",
                metrics={"aborted_from": staged_snapshot_id,
                         "aborted_data_dir": s["data_dir"]},
            ))
            head = self._published_head(staged_snapshot_id)
            if head is not None and head["sequence"] < tomb["sequence"]:
                # lost the race: a publish head committed first
                self._unlink(tomb)
                raise ValueError(
                    f"staged snapshot {staged_snapshot_id!r} was "
                    "published concurrently — aborting now would drop "
                    "visible table state; use delete_where instead"
                )
        # won: any later-sequence publish head is a racer that must
        # yield (its own post-commit scan does the same unlink)
        if head is not None:
            self._unlink(head)
        if s is not None and s.get("operation") == "staged":
            self._unlink(s)
        # dir identity by basename (relocation-safe, same convention as
        # expire_snapshots / remove_orphan_files)
        name = pathlib.Path(
            tomb["metrics"]["aborted_data_dir"]
        ).name
        shared = any(
            pathlib.Path(o["data_dir"]).name == name
            and o.get("operation") != "abort"
            for o in self.snapshots()
        )
        if name and not shared:
            shutil.rmtree(self.root / "data" / name, ignore_errors=True)

    def _by_id(self, snapshot_id: str) -> dict | None:
        for s in self.snapshots():
            if s["snapshot_id"] == snapshot_id:
                return s
        return None

    def _collapse_dupes(self, matches: list[dict]) -> dict | None:
        """Keep the LOWEST-sequence manifest of ``matches``, unlink the
        rest, return the survivor (None if empty). The convergence
        primitive for every same-intent race: N racers that each
        committed a manifest for one logical event (publish of one
        staged id, abort of one staged id) collapse to the earliest —
        and, crucially, a RETRY after any racer crashed mid-collapse
        finishes the job, so duplicate heads can't outlive the next
        caller (a crash between commit and self-heal used to leave two
        published heads forever, doubling the batch on every read)."""
        if not matches:
            return None
        matches = sorted(matches, key=lambda s: s["sequence"])
        for extra in matches[1:]:
            self._unlink(extra)
        return matches[0]

    def _published_head(
        self, staged_snapshot_id: str, snaps: list[dict] | None = None
    ) -> dict | None:
        """The surviving published head for a staged id (collapsing any
        crash-orphaned duplicates on the way). Pass ``snaps`` to reuse an
        already-read manifest listing — publish/abort consult this and
        _abort_tombstone several times per call, and each snapshots()
        read is a full directory glob + JSON parse."""
        return self._collapse_dupes([
            s for s in (snaps if snaps is not None else self.snapshots())
            if s.get("metrics", {}).get("published_from")
            == staged_snapshot_id
        ])

    def _abort_tombstone(
        self, staged_snapshot_id: str, snaps: list[dict] | None = None
    ) -> dict | None:
        """The surviving abort tombstone for a staged id (collapsing any
        duplicates from racing aborts)."""
        return self._collapse_dupes([
            s for s in (snaps if snaps is not None else self.snapshots())
            if s.get("operation") == "abort"
            and s.get("metrics", {}).get("aborted_from")
            == staged_snapshot_id
        ])

    def _get_staged(self, snapshot_id: str) -> dict:
        s = self._by_id(snapshot_id)
        if s is None:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        if s.get("operation") != "staged":
            raise ValueError(
                f"snapshot {snapshot_id!r} is {s['operation']!r}, not staged"
            )
        return s

    def _commit_manifest(
        self, manifest: dict, expected_parent: str | None = None
    ) -> dict:
        """Commit a fully-formed manifest — the ONE sequence-claim loop
        every manifest write goes through (the Iceberg optimistic-commit
        protocol this seam maps onto). The manifest filename is keyed by
        sequence ALONE, and the final name is claimed with os.link —
        which, unlike os.rename, fails with EEXIST if another writer
        already committed that sequence. On collision we re-read the new
        latest snapshot, re-parent, bump the sequence, and retry — so two
        concurrent commits serialize into parent->child instead of one
        silently shadowing the other.

        ``expected_parent`` pins the commit's base (see append()): if the
        latest snapshot is anything else — before the first claim or
        after a collision — raise ConcurrentRewriteError instead of
        re-parenting."""
        tmp = self.root / "snapshots" / f".tmp-{manifest['snapshot_id']}"
        parent = self.latest_snapshot()
        seq = (parent["sequence"] + 1) if parent else 0
        try:
            for _attempt in range(100):
                if expected_parent is not None and (
                    parent is None or parent["snapshot_id"] != expected_parent
                ):
                    raise ConcurrentRewriteError(
                        f"base snapshot moved: expected {expected_parent!r}, "
                        f"latest is "
                        f"{parent['snapshot_id'] if parent else None!r} — "
                        "re-run the rewrite against the new state"
                    )
                manifest["sequence"] = seq
                manifest["parent_id"] = (
                    parent["snapshot_id"] if parent else None
                )
                tmp.write_text(json.dumps(manifest, indent=2))
                try:
                    os.link(tmp, self._manifest_path(seq))
                except FileExistsError:
                    parent = self.latest_snapshot()
                    seq = (parent["sequence"] + 1) if parent else seq + 1
                    continue
                return manifest
            raise RuntimeError(
                "snapshot commit contention: 100 retries exhausted"
            )
        finally:
            # unlink on ALL exit paths (success, contention exhaustion, or
            # any unexpected exception) — a leaked .tmp-* is invisible to
            # readers (dot-files fall outside the *.json glob) but would
            # accumulate in snapshots/ across driver runs
            tmp.unlink(missing_ok=True)

    # ------------------------------------------------------------- tags

    def tag(self, name: str, snapshot_id: str | None = None) -> dict:
        """Name a snapshot (Iceberg tags — the dataset-release workflow:
        "train-v1 is the exact table this model was trained on").
        Defaults to the latest snapshot. Tag files commit with the same
        tmp + os.link protocol as manifests, so racing taggers get a
        clean 'already exists' instead of one silently shadowing the
        other. Tagged snapshots are PROTECTED from expire_snapshots
        (Iceberg's retention rule): expiry keeps the tag's entire read
        set — every manifest from the tag's last rewrite up to the tag —
        because dropping any of them would make the tagged read silently
        return partial state."""
        self._check_ref_name("tag", name)
        if snapshot_id is None:
            # anchor to the latest VISIBLE snapshot: the head can be a
            # staged (unpublished, invisible) commit, and a tag pointing
            # at it would both expose unaudited data through read(tag=)
            # and dangle when publish/abort unlinks the staged manifest
            visible = self._visible()
            if not visible:
                raise ValueError("cannot tag a catalog with no visible snapshots")
            snapshot_id = visible[-1]["snapshot_id"]
        else:
            s = self._by_id(snapshot_id)
            if s is None:
                raise KeyError(f"unknown snapshot {snapshot_id!r}")
            if s.get("operation") == "staged":
                raise ValueError(
                    f"cannot tag staged snapshot {snapshot_id!r} — "
                    "publish it first"
                )
            if s.get("operation") == "abort":
                # a tombstone has zero logical content; a tag on it would
                # silently resolve to the preceding visible prefix and
                # make expiry protect a read set nobody can mean
                raise ValueError(
                    f"cannot tag abort tombstone {snapshot_id!r}"
                )
            if s.get("operation") == "branch":
                # tags are MAIN refs; a release anchored to a mutable
                # experiment ref would vanish when the branch is dropped
                # or folded — tag the fast-forwarded main commit instead
                raise ValueError(
                    f"cannot tag branch commit {snapshot_id!r} — "
                    "fast-forward the branch and tag the main commit"
                )
        tags_dir = self.root / "tags"
        tags_dir.mkdir(exist_ok=True)
        payload = {
            "name": name,
            "snapshot_id": snapshot_id,
            "created_at": time.time(),
        }
        # tmp name keyed per-ATTEMPT, not per tag name: racing taggers
        # sharing one .tmp-{name} could link the OTHER tagger's payload
        # (W writes A, L overwrites with B, W's link lands B under W's
        # name) or hit FileNotFoundError when the loser's cleanup
        # unlinked the shared tmp mid-link
        tmp = tags_dir / f".tmp-{name}-{uuid.uuid4().hex[:8]}"
        tmp.write_text(json.dumps(payload, indent=2))
        try:
            os.link(tmp, tags_dir / f"{name}.json")
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        finally:
            tmp.unlink(missing_ok=True)
        return payload

    @staticmethod
    def _check_ref_name(kind: str, name: str) -> None:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
            raise ValueError(f"invalid {kind} name {name!r}")

    def tags(self) -> dict[str, str]:
        """All tags as {name: snapshot_id}."""
        tags_dir = self.root / "tags"
        if not tags_dir.exists():
            return {}
        out = {}
        for p in sorted(tags_dir.glob("*.json")):
            try:
                t = json.loads(p.read_text())
            except FileNotFoundError:
                # unlinked by a concurrent delete_tag between glob and
                # read — same vanish tolerance as snapshots(); one
                # deleted tag must not crash reads of the intact ones
                continue
            out[t["name"]] = t["snapshot_id"]
        return out

    def delete_tag(self, name: str) -> None:
        """Drop a tag (its snapshot becomes expirable again)."""
        p = self.root / "tags" / f"{name}.json"
        if not p.exists():
            raise KeyError(f"unknown tag {name!r}")
        p.unlink()

    # ---------------------------------------------------------- branches

    def create_branch(
        self, name: str, snapshot_id: str | None = None
    ) -> dict:
        """Create a named branch (Iceberg branches — the mutable ref
        next to tags' immutable ones): subsequent ``branch_append``
        commits land on the ref, invisible to main reads/history/CDC,
        until ``fast_forward`` folds them into main or ``drop_branch``
        discards them. The experimentation workflow WAP generalizes to:
        N commits audited TOGETHER as one branch state instead of one
        staged batch at a time.

        The branch is born as a zero-content marker manifest
        (operation='branch', no data dir) recording the FORK point — the
        main snapshot the branch state builds on (default: latest
        visible). The marker commits through the same sequence-claim
        protocol as every manifest, so racing creators of one name get a
        clean 'already exists'."""
        self._check_ref_name("branch", name)
        snaps = self.snapshots()
        if self._branch_head(name, snaps) is not None:
            raise ValueError(f"branch {name!r} already exists")
        if snapshot_id is None:
            visible = self._visible(snaps)
            if not visible:
                raise ValueError(
                    "cannot branch a catalog with no visible snapshots"
                )
            fork = visible[-1]
        else:
            fork = self._by_id(snapshot_id)
            if fork is None:
                raise KeyError(f"unknown snapshot {snapshot_id!r}")
            if fork.get("operation") in self._NON_MAIN_OPS:
                raise ValueError(
                    f"cannot branch from {fork['operation']!r} snapshot "
                    f"{snapshot_id!r} — fork from main-table state"
                )
        # marker: no data dir, the fork point is the content
        return self._commit_manifest(self._manifest(
            "branch",
            metrics={"branch": name, "branch_base": fork["snapshot_id"]},
            source=fork,
        ))

    def branch_append(
        self,
        df: DataFrame,
        branch: str,
        *,
        input_files: list[str] | None = None,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Append a batch to a branch: a normal data write whose
        manifest is chained to the branch head via ``branch_base``
        (pointer parentage, not sequence adjacency — main and other
        branches keep committing interleaved sequences). Invisible to
        every main read path until fast_forward."""
        head = self._branch_head(branch)
        if head is None:
            raise KeyError(f"unknown branch {branch!r}")
        return self.append(
            df,
            input_files=input_files,
            metrics={**(metrics or {}), "branch": branch,
                     "branch_base": head["snapshot_id"]},
            partition_by=partition_by,
            operation="branch",
        )

    def branches(self) -> dict[str, str]:
        """Live branches as {name: head snapshot_id}."""
        out: dict[str, str] = {}
        for s in self.snapshots():  # sequence order: later heads win
            if s.get("operation") == "branch":
                out[s["metrics"]["branch"]] = s["snapshot_id"]
        return out

    def _branch_head(
        self, name: str, snaps: list[dict] | None = None
    ) -> dict | None:
        head = None
        for s in (snaps if snaps is not None else self.snapshots()):
            if (
                s.get("operation") == "branch"
                and s["metrics"].get("branch") == name
            ):
                head = s
        return head

    def _branch_chain(
        self, head: dict, snaps: list[dict]
    ) -> tuple[list[dict], dict | None]:
        """Follow ``branch_base`` pointers from ``head`` down to the
        fork: returns (branch manifests oldest-first incl. the create
        marker, the fork manifest on main — None only if the fork was
        expired, which protection prevents for live branches)."""
        by_id = {s["snapshot_id"]: s for s in snaps}
        chain: list[dict] = []
        cur: dict | None = head
        while cur is not None and cur.get("operation") == "branch":
            chain.append(cur)
            base = cur["metrics"].get("branch_base")
            cur = by_id.get(base) if base else None
        return chain[::-1], cur

    def _resolve_branch(
        self,
        head: dict,
        snaps: list[dict],
        traversed: set[str] | None = None,
        deletes: list[dict] | None = None,
    ) -> list[dict]:
        """Read set of a branch view: the fork point's main read set
        (normal resolver, so rollbacks/rewrites/MoR deletes before the
        fork behave exactly as on main — and, per the sequence rule,
        pre-fork deletes never touch the branch's own later-sequence
        commits) plus the branch's data commits on top."""
        chain, fork = self._branch_chain(head, snaps)
        if fork is None:
            raise ValueError(
                f"branch {head['metrics'].get('branch')!r}: fork snapshot "
                f"{chain[0]['metrics'].get('branch_base')!r} is gone — "
                "expired from under the branch"
            )
        idx = next(
            i for i, s in enumerate(snaps)
            if s["snapshot_id"] == fork["snapshot_id"]
        )
        main = self._resolve_read_set(
            snaps[: idx + 1],
            audit_id=fork["snapshot_id"],
            traversed=traversed,
            deletes=deletes,
        )
        return main + [b for b in chain if b.get("data_dir")]

    def fast_forward(self, branch: str) -> list[dict]:
        """Fold a branch's commits into main (Iceberg's
        ``fast_forward``): each branch data commit lands on main as an
        append manifest referencing the SAME data dir (zero copy),
        carrying the branch commit's lineage and metrics plus
        ``fast_forwarded_from`` provenance; the branch manifests are
        then removed. Refuses if main moved past the branch's fork point
        (the ref is not an ancestor — Iceberg's fast-forward precondition;
        rebase by re-branching from the new head instead).

        Idempotent across crashes, publish-style: each batch is skipped
        if a main manifest with its ``fast_forwarded_from`` already
        exists (duplicates collapse to the earliest), so a retry after a
        crash mid-fold FINISHES the fold instead of doubling batches.
        Like expire_snapshots, the fold itself is a single-driver
        maintenance verb: two simultaneous fast_forwards of one branch
        converge (same idempotence), but don't race it with drop_branch
        of the same ref."""
        snaps = self.snapshots()
        head = self._branch_head(branch, snaps)
        if head is None:
            raise KeyError(f"unknown branch {branch!r}")
        chain, fork = self._branch_chain(head, snaps)
        if fork is None:
            raise ValueError(
                f"branch {branch!r}: fork snapshot is gone — cannot fold"
            )
        batches = [b for b in chain if b.get("data_dir")]
        done = {
            s.get("metrics", {}).get("fast_forwarded_from")
            for s in snaps
        }
        # divergence check: main's visible head must be the fork point
        # itself, or (crash-resume case) the fast-forward of one of THIS
        # branch's batches
        visible = self._visible(snaps)
        main_head = visible[-1] if visible else None
        allowed = {fork["snapshot_id"]} | {
            s["snapshot_id"] for s in snaps
            if s.get("metrics", {}).get("fast_forwarded_from")
            in {b["snapshot_id"] for b in batches}
        }
        if main_head is not None and main_head["snapshot_id"] not in allowed:
            raise ValueError(
                f"fast-forward refused: main moved past branch "
                f"{branch!r}'s fork point — re-branch from the new head "
                "and replay"
            )
        out: list[dict] = []
        for b in batches:
            if b["snapshot_id"] in done:
                out.append(self._collapse_dupes([
                    s for s in self.snapshots()
                    if s.get("metrics", {}).get("fast_forwarded_from")
                    == b["snapshot_id"]
                ]))
                continue
            m = dict(b["metrics"])
            m.pop("branch", None)
            m.pop("branch_base", None)
            m["fast_forwarded_from"] = b["snapshot_id"]
            out.append(self._commit_manifest(self._manifest(
                "append", b["data_dir"], b["input_files"], m, source=b,
            )))
        # branch manifests go AFTER the fold commits (a crash in between
        # leaves both — safe: branch manifests are invisible to main and
        # the batches' dirs are referenced by the new main manifests)
        for b in chain:
            self._unlink(b)
        return out

    def drop_branch(self, branch: str) -> None:
        """Discard a branch wholesale: unlink its manifests and reclaim
        any data dir no surviving manifest references (basename
        identity, like abort_staged). The branch's input-file lineage is
        released with it — a dropped experiment's inputs are
        re-ingestable."""
        snaps = self.snapshots()
        mine = [
            s for s in snaps
            if s.get("operation") == "branch"
            and s["metrics"].get("branch") == branch
        ]
        if not mine:
            raise KeyError(f"unknown branch {branch!r}")
        for b in mine:
            self._unlink(b)
        survivors = self.snapshots()
        kept = {
            pathlib.Path(s["data_dir"]).name
            for s in survivors
            if s.get("data_dir")
        }
        for b in mine:
            name = pathlib.Path(b["data_dir"]).name
            if name and name not in kept:
                shutil.rmtree(self.root / "data" / name, ignore_errors=True)

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        *,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Table state as of ``snapshot_id`` / ``tag`` / ``branch``
        (default: latest main)."""
        if sum(x is not None for x in (snapshot_id, tag, branch)) > 1:
            raise ValueError("pass at most one of snapshot_id/tag/branch")
        if branch is not None:
            head = self._branch_head(branch)
            if head is None:
                raise KeyError(f"unknown branch {branch!r}")
            snapshot_id = head["snapshot_id"]
        if tag is not None:
            try:
                snapshot_id = self.tags()[tag]
            except KeyError:
                raise KeyError(f"unknown tag {tag!r}") from None
        if snapshot_id is not None:
            t = self._by_id(snapshot_id)
            if t is not None and t.get("operation") == "branch":
                # branch view (head or any commit on the ref): branch
                # commits chained by branch_base on top of the fork
                # point's main state
                dels: list[dict] = []
                snaps = self._resolve_branch(
                    t, self.snapshots(), deletes=dels
                )
                if not snaps:  # unreachable: branches fork from a
                    # visible snapshot, whose read set is non-empty
                    raise ValueError(f"branch ref {snapshot_id!r} empty")
                return self._read_snapshots(spark, snaps, deletes=dels)
        chain = self._chain(snapshot_id)
        if not chain:
            raise ValueError(f"catalog {self.root} has no snapshots")
        # staged (write-audit-publish) snapshots are INVISIBLE to reads —
        # except when the auditor requests one by id, which yields the
        # audit view: main as of that point plus the staged batch on top.
        # abort tombstones carry zero logical content and are NEVER read
        # (their data_dir points at a deleted batch). rollback manifests
        # redirect the walk to their target (metadata-only restore);
        # mor_delete manifests become read-time anti-joins.
        dels: list[dict] = []
        snaps = self._resolve_read_set(
            chain, audit_id=snapshot_id, deletes=dels
        )
        if not snaps:
            raise ValueError(
                f"catalog {self.root} has no visible snapshots "
                "(only staged commits — publish or audit them by id)"
            )
        return self._read_snapshots(spark, snaps, deletes=dels)

    def _data_dir(self, s: dict) -> str:
        """Resolve a manifest's data dir under THIS catalog root by
        basename — the same dir-identity convention expire_snapshots and
        remove_orphan_files use. Manifests record the absolute path the
        writer saw, so after a table relocation (moved mount, restored
        backup, renamed parent) the raw string points at the old
        location: resolving by basename keeps every snapshot readable
        wherever the table lives now."""
        return str(self.root / "data" / pathlib.Path(s["data_dir"]).name)

    def _read_snapshots(
        self,
        spark: SparkSession,
        snaps: list[dict],
        deletes: list[dict] | None = None,
    ) -> DataFrame:
        """The rows of the given snapshots' data dirs.

        One scan when the read set allows it (``_one_scan``): every dir
        is a ``snap=<id>`` partition of ``data``, so a single
        ``parquet(*dirs)`` with basePath=data and the manifest schema
        plus ``snap`` reads them all — one FileScan, one file listing,
        partition values typed by the manifest schema and kept in
        PartitionFilters — and ``snap`` is dropped after. Delta and
        Iceberg read the same way: metadata names the files, one scan
        reads them.

        Otherwise a union of one scan per dir. Each dir is loaded with
        its own basePath (an old-layout ``data/<id>`` dir is not a
        ``key=value`` level, so one global basePath makes Spark refuse
        the scan with CONFLICTING_DIRECTORY_STRUCTURES) and the
        manifest's recorded schema, then unionByName with
        allowMissingColumns tolerates schema evolution across snapshots.

        ``deletes`` = merge-on-read equality-delete manifests in scope:
        each data snapshot is anti-joined against the BROADCAST key
        tables of every delete committed at a HIGHER sequence (Iceberg
        v2's sequence rule: a delete applies to rows older than itself,
        so a key re-appended AFTER the delete survives). Delete-key
        files are small by design — that is the whole point of MoR: the
        anti-join rides the scan, and compaction folds the keys away
        before they accumulate."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructType

        if self._one_scan(snaps, deletes):
            schema = StructType.fromJson(json.loads(snaps[0]["schema_json"]))
            return (
                spark.read.option("basePath", str(self.root / "data"))
                .schema(schema.add(self._SNAP_COL, StringType()))
                .parquet(*[self._data_dir(s) for s in snaps])
                .drop(self._SNAP_COL)
            )
        dfs = []
        for s in snaps:
            d = self._data_dir(s)
            if s.get("bucket_spec") and len(snaps) == 1:
                # single-snapshot read set in bucket(n, cols) layout:
                # expose the layout to the planner so equi-joins on the
                # bucket cols plan no Exchange on this side. A UNION of
                # bucketed snapshots cannot report a partitioning, so
                # accreting tables re-establish the single-snapshot
                # shape with compact(bucket_by=...) — the maintenance
                # job that IS the Iceberg rewrite-to-spec story.
                df = self._read_bucketed(spark, s, d)
            else:
                r = spark.read.option("basePath", d)
                if s.get("schema_json"):
                    r = r.schema(
                        StructType.fromJson(json.loads(s["schema_json"])))
                df = r.parquet(d)
            for dl in deletes or ():
                if dl["sequence"] > s["sequence"]:
                    key = dl["metrics"]["delete_key"]
                    kdf = (
                        spark.read.parquet(self._data_dir(dl))
                        .select(*key)
                        .distinct()
                    )
                    df = df.join(F.broadcast(kdf), on=key, how="left_anti")
            dfs.append(df)
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def _one_scan(
        self, snaps: list[dict], deletes: list[dict] | None
    ) -> bool:
        """Whether ``_read_snapshots`` may read ``snaps`` as one scan:
        at least two snapshots, all in the ``snap=<id>`` layout, with
        distinct dirs (a file index lists a repeated root once, where the
        union reads a crash-duplicated dir twice), one ``schema_json``
        and one ``partition_by`` (Spark refuses a scan whose leaf dirs
        name different partition columns), no ``bucket_spec`` (the
        bucketed layout is exposed per snapshot) and no merge-on-read
        delete in scope (its anti-join applies per snapshot sequence).
        The 1-snapshot read keeps its own-basePath scan."""
        names = [pathlib.Path(s["data_dir"]).name for s in snaps]
        return (
            len(snaps) >= 2
            and not deletes
            and all(n.startswith(f"{self._SNAP_COL}=") for n in names)
            and len(set(names)) == len(names)
            and snaps[0].get("schema_json") is not None
            and len({s.get("schema_json") for s in snaps}) == 1
            and len({tuple(s.get("partition_by") or ()) for s in snaps}) == 1
            and not any(s.get("bucket_spec") for s in snaps)
        )

    def _read_bucketed(
        self, spark: SparkSession, s: dict, data_dir: str
    ) -> DataFrame:
        """Read one bucket(n, cols)-layout snapshot AS a bucketed table.

        Spark only consults bucketing metadata through the session
        catalog (a bare ``spark.read.parquet`` discards the layout and
        re-shuffles on every join), so the manifest's bucket_spec is
        re-materialized as an EXTERNAL table definition over the
        snapshot's immutable dir — pure metadata, registered once per
        (session, dir), name keyed by the dir path hash so a relocated
        table never aliases a stale registration. This is the read-side
        half of the Iceberg bucket transform: metadata lives in the
        table format, the engine session just gets told about it."""
        import hashlib

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        spec = s["bucket_spec"]
        parts = list(s.get("partition_by") or [])
        name = "cat_bucketed_" + hashlib.md5(
            data_dir.encode()).hexdigest()[:12]
        schema = StructType.fromJson(json.loads(s["schema_json"]))
        if not spark.catalog.tableExists(name):
            # partition columns must close the DDL column list; the
            # select below restores the manifest schema's column order
            fields = sorted(
                schema.fields, key=lambda f: f.name in parts
            )
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in fields
            )
            cols = ", ".join(f"`{c}`" for c in spec["cols"])
            part_sql = (
                " PARTITIONED BY (" + ", ".join(
                    f"`{c}`" for c in parts) + ")"
                if parts else ""
            )
            # IF NOT EXISTS: two concurrent readers of the same
            # snapshot may both pass the tableExists pre-check — the
            # loser's pure read must not throw (the definition both
            # would write is identical, keyed by the immutable dir).
            # Registrations live in the SESSION catalog (this repo
            # never enables a Hive metastore), so they die with the
            # session; with a persistent metastore a GC hook on
            # expire/orphan removal would be needed to drop
            # definitions over deleted dirs.
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{name}` ({ddl}) "
                f"USING parquet{part_sql} "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {int(spec['n'])} BUCKETS LOCATION '{data_dir}'"
            )
        if parts:
            # external partition dirs are not auto-discovered for
            # catalog tables the way a bare parquet read discovers
            # them. Repair on EVERY read, not just first registration:
            # a reader that raced the creator (tableExists=True before
            # the creator's repair landed) or a session that crashed
            # between CREATE and repair would otherwise silently read
            # zero rows forever. MSCK is idempotent (add-if-missing)
            # and lists an immutable dir, so the repeat is metadata
            # cost only.
            spark.sql(f"MSCK REPAIR TABLE `{name}`")
        # backticked: plain select() would parse a dotted column name
        # as struct-field access
        return spark.table(name).select(
            *[F.col(f"`{f.name}`") for f in schema.fields]
        )

    def read_incremental(
        self, spark: SparkSession, after_snapshot_id: str, snapshot_id: str | None = None
    ) -> DataFrame:
        """Rows appended strictly after ``after_snapshot_id`` (Iceberg's
        incremental append scan)."""
        chain = self._chain(snapshot_id)
        seen = [s["snapshot_id"] for s in chain]
        if after_snapshot_id not in seen:
            raise KeyError(f"unknown snapshot {after_snapshot_id!r}")
        tail = chain[seen.index(after_snapshot_id) + 1 :]
        # REPLACE snapshots rewrite existing rows, never add logical rows:
        # an incremental (CDC-style) consumer must skip them or it would
        # re-see every pre-compaction row as "new". MERGE snapshots DO
        # change logical content (updates + inserts folded into a full
        # rewrite), so an append-scan over them is undefined — fail the
        # way Iceberg's incremental scan fails on overwrite snapshots
        # rather than silently dropping the merged rows.
        for s in tail:
            if s.get("operation") == "merge":
                raise ValueError(
                    f"incremental scan crosses merge snapshot "
                    f"{s['snapshot_id']!r}: upserted rows are not "
                    "representable as an append delta — re-read the full "
                    "table or consume from after the merge"
                )
            if s.get("operation") == "rollback":
                # rows DISAPPEARED at the rollback — an append delta
                # cannot express that; fail like Iceberg's incremental
                # scan does on overwrite snapshots
                raise ValueError(
                    f"incremental scan crosses rollback snapshot "
                    f"{s['snapshot_id']!r}: rolled-back rows are not "
                    "representable as an append delta — re-read the full "
                    "table or consume from after the rollback"
                )
            if s.get("operation") == "mor_delete":
                raise ValueError(
                    f"incremental scan crosses merge-on-read delete "
                    f"{s['snapshot_id']!r}: deleted rows are not "
                    "representable as an append delta — re-read the full "
                    "table or consume from after the delete"
                )
        # staged snapshots are not yet logical content; publish commits a
        # NEW head manifest, so CDC consumers see the batch at publish
        # time with a fresh sequence — never retroactively
        new = [
            s for s in tail
            if s.get("operation") not in ("replace",) + self._NON_MAIN_OPS
        ]
        if not new:
            return self.read(spark).limit(0)
        return self._read_snapshots(spark, new)

    def upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: list[str],
        *,
        metrics: dict | None = None,
    ) -> dict:
        """Copy-on-write MERGE (Iceberg's ``MERGE INTO ... WHEN MATCHED
        UPDATE WHEN NOT MATCHED INSERT``): rows of the current state whose
        ``key`` collides with ``updates`` are replaced, everything else is
        carried forward, new keys are inserted — committed as one REPLACE
        snapshot, so time travel still sees the pre-merge rows and
        incremental consumers are not flooded by the rewrite.

        Plan shape: anti-join current-state-vs-updates on the key + one
        unionByName — at scale the anti-join broadcasts when the update
        batch is small (the re-crawl case) and shuffles on the uniform
        key hash otherwise. A real Iceberg MERGE additionally rewrites
        only the TOUCHED files; this seam rewrites the table (documented
        coarseness of the emulation, same commit semantics). Raises
        ConcurrentRewriteError if another writer commits underneath the
        merge (lost-update guard), and ValueError if ``updates`` carries
        duplicate keys — Iceberg MERGE INTO errors when a target row
        matches multiple source rows, and silently inserting both copies
        (what the anti-join + union would otherwise do) diverges from
        that contract."""
        from pyspark.sql import functions as F

        # aliased aggregate, NOT .count(): with a key column literally
        # named 'count', groupBy(...).count().where("count > 1") is an
        # AMBIGUOUS_REFERENCE between the grouping column and the agg
        dup = (
            updates.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__scfs_n"))
            .where("__scfs_n > 1")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"upsert: updates contain duplicate keys on {key} — "
                "Iceberg MERGE INTO rejects multi-source-row matches; "
                "dedupe the update batch first"
            )
        base = self.latest_snapshot()
        current = self.read(spark)
        merged = current.join(updates, on=key, how="left_anti").unionByName(
            updates
        )
        return self.append(
            merged,
            metrics=metrics,
            operation="merge",
            expected_parent=base["snapshot_id"] if base else None,
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        *,
        metrics: dict | None = None,
    ) -> dict:
        """Copy-on-write row deletion (Iceberg's ``DELETE FROM t WHERE
        ...``): the current state minus matching rows is committed as one
        merge snapshot, so incremental consumers refuse to cross it (a
        deletion is a content change, not a compaction) and time travel
        still sees the pre-delete rows. That last property is the whole
        takedown/right-to-erasure story: ``delete_where`` alone removes
        rows from the CURRENT state only — physical erasure of history is
        ``delete_where`` + ``expire_snapshots``, exactly Iceberg's
        two-step (DELETE then expire_snapshots/remove_orphan_files), and
        tested as such (tests/test_compaction.py).

        A predicate matching zero rows is a metadata-level no-op: no new
        snapshot is committed and the latest manifest is returned
        unchanged — rewriting a 100 TB table to delete nothing is the
        kind of accident this guard exists for. The matched count is a
        single pushed-predicate scan and lands in the commit's metrics as
        ``deleted_records`` (Iceberg snapshot-summary analog). Raises
        ConcurrentRewriteError if another writer commits underneath the
        rewrite (lost-update guard, same as compact/upsert).

        NULL semantics match SQL DELETE: a row is deleted only when the
        predicate is TRUE — NULL-evaluating rows are KEPT, so the kept
        filter is ``NOT coalesce(pred, false)``, not ``NOT pred`` (which
        is NULL for NULL rows and would silently drop them uncounted)."""
        base = self.latest_snapshot()
        current = self.read(spark)
        n_deleted = current.where(f"coalesce(({predicate}), false)").count()
        if n_deleted == 0:
            # return the latest VISIBLE manifest, not latest_snapshot():
            # the head can be a staged (unaudited) commit, and handing
            # its id to a caller that records snapshot ids for time
            # travel would expose the audit view — and dangle once
            # publish/abort removes the staged manifest. Can't be empty:
            # read() above already raises on a catalog with no visible
            # snapshots.
            return self._visible()[-1]
        kept = current.where(f"NOT coalesce(({predicate}), false)")
        return self.append(
            kept,
            metrics={**(metrics or {}), "deleted_records": n_deleted,
                     "delete_predicate": predicate},
            operation="merge",
            expected_parent=base["snapshot_id"] if base else None,
        )

    def delete_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key: list[str],
        *,
        metrics: dict | None = None,
        count_matched: bool = True,
    ) -> dict:
        """MERGE-ON-READ equality delete (Iceberg v2's equality-delete
        files) — the contrast to ``delete_where``'s copy-on-write: the
        commit writes ONLY the key set (a tiny parquet of the deleted
        keys), not a rewritten table, so removing a handful of rows from
        a 100 TB table costs kilobytes. Readers anti-join the broadcast
        key table against every data file OLDER than the delete
        (sequence rule), which means a row with the same key appended
        AFTER the delete survives — exactly Iceberg's semantics, and the
        property copy-on-write can't give without another rewrite.

        The read-time anti-join is the trade: every scan pays it until a
        ``compact()`` folds the deletes into a rewritten state (its
        read() applies them, its REPLACE supersedes them) — Iceberg's
        rewrite_data_files + rewrite_position_delete_files maintenance
        pairing. Incremental scans refuse to cross a MoR delete (rows
        disappeared), same contract as merge/rollback.

        With ``count_matched=True`` (default) the commit first scans for
        the matched count: a key set matching zero current rows is a
        metadata no-op (the delete_where convention) and the count is
        stored as ``metrics.deleted_records`` so history() stays
        metadata-only. ``count_matched=False`` is the PRODUCTION fast
        path — commit cost truly O(keys), no table scan at all, which
        is how Iceberg's own equality-delete commit behaves (its
        snapshot summary records delete FILES, not matched rows); the
        trade is that zero-match key sets commit anyway and history()
        reports NULL visible counts from that snapshot on (the count is
        genuinely unknowable without a scan). No concurrent-writer pin
        is needed either way: the delete only affects LOWER sequences,
        so a racing append lands above it untouched — the same reason
        Iceberg equality deletes don't conflict with appends."""
        kdf = keys.select(*key).distinct()
        m = dict(metrics or {})
        m["delete_key"] = list(key)
        if count_matched:
            matched = (
                self.read(spark).join(kdf, on=key, how="left_semi").count()
            )
            if matched == 0:
                return self._visible()[-1]
            m["deleted_records"] = matched
        return self.append(kdf, metrics=m, operation="mor_delete")

    def maintenance_due(self, *, max_delete_files: int = 4) -> dict:
        """Size/count-triggered compaction recommendation for MoR delete
        accumulation (the bound on delete_keys' read tax). Every
        equality-delete manifest in the CURRENT read scope adds one
        broadcast anti-join to every scan; the write side is ~free (a
        key file whose bytes do not grow with the table — pinned in
        tests/test_compaction.py, measured at 48k-480k docs in
        BENCH/BASELINE.md, "Retired demo records"), so an unattended
        writer can cheaply commit thousands of them — this surface is
        what a table-maintenance scheduler polls to know when the
        O(delete-files) read tax has outgrown ``max_delete_files`` and a
        ``compact()`` (which folds the keys into a rewritten state and
        drops the anti-joins) pays for itself. Metadata-only: resolves
        the read set, touches no data files."""
        dels: list[dict] = []
        chain = self.snapshots()
        if chain:
            self._resolve_read_set(chain, deletes=dels)
        due = len(dels) > max_delete_files
        return {
            "pending_delete_files": len(dels),
            "max_delete_files": max_delete_files,
            "due": due,
            "recommendation": "compact()" if due else None,
        }

    def rollback_to(self, snapshot_id: str) -> dict:
        """Restore the table to an earlier snapshot's state (Iceberg's
        ``rollback_to_snapshot``) as a METADATA-ONLY commit: a new head
        manifest with ``operation='rollback'`` and NO data dir of its
        own — the read path resolves it by jumping to the target and
        reusing the target's immutable files, so rolling a 100 TB table
        back is O(1) regardless of table size (a copy-on-write restore
        would be the single most expensive job a pipeline can run, and
        the bad-batch-undo story needs the cheap one). New appends stack
        on TOP of the restored state; the undone snapshots remain
        readable by id (time travel) until expire_snapshots reclaims
        them.

        Semantics downstream of a rollback:
          * ``read()`` / time travel: state(rollback) == state(target);
            later appends add to it.
          * ``read_incremental`` REFUSES to cross a rollback (rows
            disappeared — not representable as an append delta), the
            same contract as merge snapshots.
          * ``processed_inputs()``: input-file lineage of APPEND
            snapshots rolled off the timeline no longer counts as
            processed — the undone batch's inputs are re-ingestable,
            which is the point of undoing a bad batch. Rewrite
            (replace/merge) manifests keep their lineage even when
            undone: after an expiry fold they carry history that
            predates the rollback target and cannot be reconstructed —
            keeping it avoids re-ingesting rows the restored state
            still contains.
          * ``expire_snapshots`` protects the restored read set (see
            its anchor logic) — a rollback target never has its files
            reclaimed out from under the current head.

        No-op (returns the existing head, commits nothing) when the
        latest visible snapshot already IS the target — the
        delete_where zero-match convention. Raises KeyError for an
        unknown id and ValueError for staged/abort targets (not logical
        table state)."""
        s = self._by_id(snapshot_id)
        if s is None:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        if s.get("operation") in self._NON_MAIN_OPS:
            raise ValueError(
                f"cannot roll back to {s['operation']!r} snapshot "
                f"{snapshot_id!r} — not main-table state"
            )
        visible = self._visible()
        if visible and visible[-1]["snapshot_id"] == snapshot_id:
            return visible[-1]
        # metadata-only: no data reference of its own
        return self._commit_manifest(self._manifest(
            "rollback", metrics={"rollback_to": snapshot_id}, source=s,
        ))

    def cherry_pick(self, snapshot_id: str) -> dict:
        """Re-apply one APPEND snapshot's rows onto the current head
        (Iceberg's ``cherrypick_snapshot``) as a zero-copy metadata
        commit: a new append manifest referencing the SAME immutable
        data dir, carrying the source's input-file lineage and metrics
        plus ``cherry_picked_from`` provenance. The selective redo to
        rollback_to's undo — after rolling a table back past a bad
        batch, cherry-pick re-applies the GOOD batches that were undone
        with it, each for the cost of a manifest write.

        Refused when the source's rows are already in the current state
        (cherry-picking a visible snapshot would duplicate every row —
        Iceberg likewise refuses re-applying an already-applied
        snapshot), and for non-append sources: staged batches go
        through publish(), rewrites/rollbacks/deletes describe whole
        table states or subtractions that a re-applied append cannot
        express. Committed at a fresh head sequence, so MoR deletes
        older than the cherry-pick do not re-subtract the restored rows
        (the sequence rule treats it as new data — the semantics a redo
        wants)."""
        s = self._by_id(snapshot_id)
        if s is None:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        if s.get("operation") != "append":
            raise ValueError(
                f"cannot cherry-pick {s.get('operation')!r} snapshot "
                f"{snapshot_id!r} — only appends re-apply (staged "
                "batches go through publish())"
            )
        # presence is a DATA question, not a manifest-id one: after a
        # prior cherry-pick the rows sit in the read set under a NEW
        # manifest id that references the same immutable dir — compare
        # by dir basename (the catalog's dir-identity convention) so a
        # double redo is caught either way
        name = pathlib.Path(s["data_dir"]).name
        snaps = self.snapshots()
        current = self._resolve_read_set(snaps)
        # finish any crashed racers' heal first: if BOTH of two racing
        # cherry-picks crashed between commit and self-heal, the read
        # set still unions the dir twice — collapse before judging
        # presence, so the next caller un-bricks the table (the same
        # retry-finishes-the-job rule as publish)
        crash_dups = [
            x for x in current
            if pathlib.Path(x["data_dir"]).name == name
            and x.get("metrics", {}).get("cherry_picked_from")
            == snapshot_id
        ]
        if len(crash_dups) > 1:
            survivor = self._collapse_dupes(crash_dups)
            current = [
                x for x in current
                if x not in crash_dups or x is survivor
            ]
        if any(
            pathlib.Path(x["data_dir"]).name == name for x in current
        ):
            raise ValueError(
                f"snapshot {snapshot_id!r} is already in the current "
                "state — cherry-picking it would duplicate its rows"
            )
        # ...but dir identity alone misses rewrites: a compact/upsert
        # folds an earlier append's ROWS into a NEW dir, so the source
        # dir vanishes from the read set while its rows remain table
        # content (append A, compact, cherry_pick(A) would silently
        # duplicate every row of A). A source ON the current timeline
        # is by construction still contributing its rows — only
        # rollback-undone appends fall OFF the timeline and are legal
        # redo targets (mirrors Iceberg's refusal to cherry-pick an
        # ancestor of the current state).
        if s["snapshot_id"] in self._timeline_ids(snaps):
            raise ValueError(
                f"snapshot {snapshot_id!r} is on the current timeline — "
                "its rows persist through any later rewrite, so "
                "cherry-picking it would duplicate them (only "
                "rollback-undone appends are redo targets)"
            )
        m = dict(s["metrics"])
        m["cherry_picked_from"] = snapshot_id
        out = self._commit_manifest(self._manifest(
            "append", s["data_dir"], s["input_files"], m, source=s,
        ))
        # self-heal the duplicate-guard's TOCTOU window (same class as
        # publish's): two concurrent cherry-picks of the same source can
        # BOTH pass the read-set scan and both commit — read() would
        # union the dir twice, duplicating every row. Collapse to the
        # earliest redo IN THE CURRENT READ SET; scoping to the read set
        # (not all history) is what keeps a legal re-redo alive — after
        # cherry_pick -> rollback -> cherry_pick the earlier redo is off
        # the timeline and must survive for time travel.
        current = self._resolve_read_set(self.snapshots())
        name = pathlib.Path(out["data_dir"]).name
        dups = [
            x for x in current
            if pathlib.Path(x["data_dir"]).name == name
            and x.get("metrics", {}).get("cherry_picked_from")
            == snapshot_id
        ]
        if len(dups) > 1:
            out = self._collapse_dupes(dups)
        return out

    def history(self, spark: SparkSession) -> DataFrame:
        """The table's commit history as a DataFrame — Iceberg's
        ``snapshots`` / ``history`` metadata tables: one row per snapshot
        with (sequence, operation, n_rows), where n_rows is the row count
        VISIBLE at that snapshot (the time-travel count, so an append
        grows it, a delete shrinks it, a compact holds it flat).

        Genuinely metadata-only: ONE pass over the manifest chain, each
        snapshot's own data dir counted once from its parquet FOOTERS
        (pyarrow metadata — no Spark job, no data pages), with the
        visible count accumulated forward — append adds its dir's rows,
        replace/merge resets to its dir's rows (full-state rewrites by
        the commit contract). The first version of this method ran one
        time-travel count() job per snapshot and re-parsed the whole
        chain each time — O(n²) manifest parses and n Spark jobs, which
        on a streaming-ingest table (one snapshot per micro-batch) made
        the audit read the most expensive query on the table."""
        import pyarrow.parquet as pq

        rows, visible = [], 0
        at: dict[str, int] = {}  # visible count as of each snapshot
        for s in self.snapshots():
            if s["operation"] in self._NON_MAIN_OPS:
                continue  # staged: not visible until published;
                # abort tombstones: zero logical content, dir deleted;
                # branch commits: on a named ref, not main history
            if s["operation"] == "rollback":
                # metadata-only: no dir to count — visible count is the
                # target's (None if the target was expired: its row
                # count is genuinely unknowable from surviving footers)
                visible = at.get(s["metrics"]["rollback_to"])
                rows.append((s["sequence"], s["operation"], visible))
                at[s["snapshot_id"]] = visible
                continue
            if s["operation"] == "mor_delete":
                # the dir holds delete KEYS, not rows; the matched count
                # was recorded at commit time so history stays
                # footer/metadata-only. A count_matched=False fast-path
                # commit recorded no count: the visible trajectory is
                # genuinely unknowable from there without a scan -> NULL
                dr = s["metrics"].get("deleted_records")
                visible = (
                    None if dr is None or visible is None
                    else visible - int(dr)
                )
                rows.append((s["sequence"], s["operation"], visible))
                at[s["snapshot_id"]] = visible
                continue
            n = sum(
                pq.read_metadata(f).num_rows
                for f in pathlib.Path(self._data_dir(s)).rglob("*.parquet")
            )
            # a None (unknowable) count stays None through appends and
            # resets only at the next full-state rewrite
            visible = (
                n if s["operation"] in ("replace", "merge")
                else (None if visible is None else visible + n)
            )
            rows.append((s["sequence"], s["operation"], visible))
            at[s["snapshot_id"]] = visible
        return spark.createDataFrame(
            rows, "sequence bigint, operation string, n_rows bigint"
        )

    def partitions(self, spark: SparkSession) -> DataFrame:
        """Iceberg's ``partitions`` metadata table: per-partition file
        and row counts for the CURRENT read set, computed from manifests
        plus parquet FOOTERS only — no Spark job touches a data page, so
        the table-layout audit (is one partition ballooning? did
        compaction actually shrink file counts?) costs metadata even at
        100 TB. Partition identity is the directory encoding
        (``col=value``, multi-level joined with '/'; '' for
        unpartitioned snapshots). File-level stats by design: MoR
        delete keys are NOT subtracted — Iceberg's partitions table
        likewise reports data-file stats, with deletes tracked in their
        own metadata."""
        import pyarrow.parquet as pq

        snaps = self._resolve_read_set(self.snapshots())
        agg: dict[str, list] = {}
        for s in snaps:
            base = pathlib.Path(self._data_dir(s))
            for f in base.rglob("*.parquet"):
                part = "/".join(f.relative_to(base).parent.parts)
                a = agg.setdefault(part, [0, 0])
                a[0] += 1
                a[1] += pq.read_metadata(f).num_rows
        return spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in sorted(agg.items())],
            "partition string, n_files bigint, n_rows bigint",
        )

    # ----------------------------------------------------------- maintenance

    def remove_orphan_files(self) -> dict:
        """Delete data dirs referenced by NO manifest (Iceberg's
        ``remove_orphan_files``): a crash after the data write but before
        the manifest commit — or a torn-down failed rewrite whose
        best-effort cleanup itself died — leaves a dir no reader can ever
        resolve but that holds real bytes (a full table copy, for
        compact/upsert payloads). Safe by construction: the commit
        protocol exposes a dir only via its manifest, so an unreferenced
        dir is invisible to every reader past and future. Same
        maintenance-window contract as expire_snapshots: don't race an
        in-flight append's window between data write and manifest link —
        Iceberg's own remove_orphan_files has the identical caveat and
        gates on file age for that reason.

        Returns ``{"removed_dirs": n}``."""
        # compare by dir BASENAME (the snapshot id that keyed the dir at
        # append time), never by raw path string: a manifest written from
        # another working directory, a symlinked mount, or a relocated
        # table would make every referenced absolute path mismatch the
        # local str(d) — and a GC that fails that comparison deletes the
        # whole live table. Basename identity survives all of those.
        referenced = {
            pathlib.Path(s["data_dir"]).name for s in self.snapshots()
        }
        data_root = self.root / "data"
        removed = 0
        if data_root.exists():
            for d in sorted(data_root.iterdir()):
                if d.is_dir() and d.name not in referenced:
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
        return {"removed_dirs": removed}

    def expire_snapshots(self) -> dict:
        """Expire every snapshot superseded by the latest rewrite
        (replace/merge) commit (Iceberg's ``expire_snapshots``): their
        manifests are removed and any data dir no longer referenced by a
        surviving manifest is deleted. Time travel to expired snapshots
        stops working — by design; that is the storage-reclaim trade —
        while the current state and post-rewrite increments are
        untouched. No-op if the table has never been rewritten.

        Concurrency contract (maintenance-window operation): unlike
        ``append``, expiry has NO optimistic-commit guard — it unlinks
        manifests and data dirs in place, so a concurrent expiry can race
        its glob/read_text (FileNotFoundError) and an in-flight read plan
        streaming from a superseded snapshot's files can lose them
        mid-scan. Run it from the single maintenance driver while no
        time-travel readers are active — the same operational assumption
        Iceberg documents for ``expire_snapshots`` (it, too, breaks
        readers pinned to expired snapshots; its metadata swap is atomic
        but file deletes are not). Appends/rewrites racing an expiry are
        safe: they only ever create new sequence numbers.

        Returns ``{"expired": n_manifests, "removed_dirs": n_dirs,
        "protected": n_tag_protected}``."""
        ms = self._manifests()
        snaps = [json.loads(p.read_text()) for p in ms]
        cut = None
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].get("operation") in self._REWRITE_OPS:
                cut = i
                break
        if cut is None or cut == 0:
            return {"expired": 0, "removed_dirs": 0, "protected": 0}
        # tagged snapshots are protected (Iceberg's retention rule), and
        # protection must cover the tag's whole READ SET — every snapshot
        # from the tag's last rewrite up to the tag — because expiring
        # any of those would make read(tag=...) silently return partial
        # state (the chain unions whatever manifests survive)
        # staged (write-audit-publish) snapshots are equally protected:
        # a batch awaiting audit must not be GC'd by routine maintenance
        # (abort_staged is the explicit discard path), and its audit view
        # needs the same read-set protection a tag does
        protected: set[str] = set()
        by_id = {s["snapshot_id"]: i for i, s in enumerate(snaps)}
        # the current HEAD is an anchor too: normally its read set stops
        # at the cut rewrite, but a rollback at/after the cut can point
        # the head's state at PRE-cut manifests — expiring those would
        # brick read() itself, not just time travel
        visible = self._visible(snaps)
        anchors = set(self.tags().values()) | {
            s["snapshot_id"] for s in self._staged(snaps)
        } | ({visible[-1]["snapshot_id"]} if visible else set()) | set(
            # live branch heads: a branch's whole state (its own commits
            # AND the fork point's main read set) must outlive expiry —
            # reclaiming the fork from under a ref would brick
            # read(branch=...)
            self.branches().values()
        )
        for sid in anchors:
            j = by_id.get(sid)
            if j is None:
                continue
            protected.add(sid)
            try:
                anchor = snaps[j]
                if anchor.get("operation") == "branch":
                    chain, fork = self._branch_chain(anchor, snaps)
                    if fork is None:
                        raise ValueError("fork expired")
                    protected.update(b["snapshot_id"] for b in chain)
                    rs = self._resolve_branch(
                        anchor, snaps, traversed=protected
                    )
                else:
                    rs = self._resolve_read_set(
                        snaps[: j + 1], audit_id=sid, traversed=protected
                    )
                protected.update(x["snapshot_id"] for x in rs)
            except ValueError:
                # a rollback (or branch fork) in this anchor's history
                # points at an already-expired target: the true read set
                # is undecidable — protect the anchor's whole prefix
                # rather than guess and delete live data
                protected.update(x["snapshot_id"] for x in snaps[: j + 1])
        # dir identity by BASENAME, same as remove_orphan_files: raw
        # path comparison breaks on a relocated/symlinked table (old
        # manifests carry absolute paths from the old mount), which
        # would both fail the keep check for a live dir AND make the
        # removal loop's exists() silently skip every expired dir —
        # storage reclaim reporting success while reclaiming nothing
        keep_dirs = {
            pathlib.Path(s["data_dir"]).name for s in snaps[cut:]
        } | {
            pathlib.Path(s["data_dir"]).name
            for s in snaps[:cut]
            if s["snapshot_id"] in protected
        }
        # fold the expired snapshots' input-file lineage into the
        # surviving replace manifest FIRST (atomic tmp+rename), so
        # processed_inputs() — the resume checkpoint — is invariant
        # under expiry and a restarted job never re-ingests inputs
        # whose manifests were garbage-collected
        # staged snapshots are EXCLUDED from the fold: they survive
        # expiry (protected above) and carry their own lineage — folding
        # them in would mark an aborted batch's inputs as processed
        # forever, so a resumed ingest would silently never re-read them.
        # Appends rolled off the timeline are excluded for the same
        # reason: processed_inputs() already treats their inputs as
        # re-ingestable (the rollback undid those rows), and folding
        # them into the surviving rewrite would resurrect them as
        # processed the moment their manifests expire
        on_timeline = self._timeline_ids(snaps)
        inherited = sorted(
            {
                f
                # branch commits are excluded like staged: they survive
                # expiry (protected above) carrying their own lineage,
                # and folding them would pin a later-DROPPED branch's
                # inputs as processed forever
                for s in snaps[: cut + 1]
                if s.get("operation") not in ("staged", "branch")
                and not (
                    s.get("operation") == "append"
                    and s["snapshot_id"] not in on_timeline
                )
                for f in s["input_files"]
            }
        )
        if inherited != snaps[cut]["input_files"]:
            snaps[cut]["input_files"] = inherited
            tmp = ms[cut].with_name(f".tmp-expire-{snaps[cut]['snapshot_id']}")
            tmp.write_text(json.dumps(snaps[cut], indent=2))
            os.replace(tmp, ms[cut])
        expired = 0
        removed = 0
        # manifests first (readers resolve via manifests, so once these
        # are gone the data dirs are unreachable), then the orphan dirs
        for p, s in zip(ms[:cut], snaps[:cut]):
            if s["snapshot_id"] in protected:
                continue
            p.unlink()
            expired += 1
        for s in snaps[:cut]:
            name = pathlib.Path(s["data_dir"]).name
            # empty name = a no-data manifest (abort tombstone): nothing
            # to remove — and self.root/"data"/"" would be the data ROOT
            if not name:
                continue
            d = self.root / "data" / name
            if name not in keep_dirs and d.exists():
                shutil.rmtree(d)
                removed += 1
        # report protection the way the stat is consumed: the number of
        # PRE-cut manifests that would have expired but were kept —
        # post-cut read-set members (the head, fresh appends) were never
        # expiry candidates, so counting them would inflate every call
        return {"expired": expired, "removed_dirs": removed,
                "protected": len(
                    protected & {s["snapshot_id"] for s in snaps[:cut]}
                )}

    # -------------------------------------------------------------- resume

    def processed_inputs(self) -> set[str]:
        """Union of input files consumed by every committed snapshot —
        the resume checkpoint.

        Rollback interaction: an APPEND snapshot rolled off the current
        timeline no longer contributes — its batch's rows are gone from
        the table, so its inputs must be re-ingestable (undo a bad
        batch, then re-run ingest with the corrected source). Rewrite
        (replace/merge) manifests contribute even when undone: after an
        expire_snapshots fold they carry lineage from history that
        PRE-dates any rollback target (those rows are still in the
        restored state), and dropping it would re-ingest duplicates.
        Staged batches contribute regardless of timeline — a pending
        audit must block a concurrent re-ingest of the same files."""
        snaps = self.snapshots()
        on = self._timeline_ids(snaps)
        out: set[str] = set()
        for s in snaps:
            if (
                s.get("operation") == "append"
                and s["snapshot_id"] not in on
            ):
                continue
            out.update(s["input_files"])
        return out
