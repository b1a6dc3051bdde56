#!/usr/bin/env python
"""Corpus quality-filter pipeline CLI (EP-T1/EP-T3, SURVEY.md §3.2).

Cluster form (the north rule's launch contract, BASELINE.json:14):

    spark-submit --py-files scfs.zip run_pipeline.py \
        --input <pages table dir> --table <catalog root> \
        [--resume] [--from-html] [--partition-by keep,ds]

Sandbox form (local[N] master picked up from $SPARK_GRAFT_CPUS):

    python run_pipeline.py --input ... --table ...

A `--master` passed to spark-submit (yarn, k8s, local-cluster[...]) is
honored end-to-end: the session factory defers to the launcher-provided
master instead of overriding it (session.py; regression-tested in
tests/test_spark_submit.py).

Behavior:
  * reads the Common-Crawl-style pages table
    (url, warc_ts, html, text, lang);
  * ``--resume`` anti-selects input files already recorded in the
    catalog's snapshot manifests (the checkpoint), so a killed run
    restarted with --resume processes exactly the remainder — final
    table state is identical to a one-shot run (tested in
    tests/test_resume.py);
  * runs the fused quality pipeline (extract -> structural -> langid /
    perplexity / entity-match / PII+toxicity scrub -> keep/drop);
  * records counter metrics (docs seen, langid drops, perplexity
    drops, patterns matched, bytes scrubbed) via df.observe on the stage
    write itself — no second pass over the data — and per-input-file
    lineage from four small columns of the staged files, read on the
    driver with no Spark job;
  * commits through the catalog's WRITE-AUDIT-PUBLISH gate: the batch
    lands staged (invisible), the audit checks its own observed metrics
    (null urls; ``--min-keep-ratio``), and only a clean batch is
    published — a poisoned batch is aborted with its inputs left
    re-ingestable, never visible table state; batches left pending by a
    crashed prior run are settled (re-audited from the durable staged
    rows) at the start of the next run;
  * the published snapshot: partitioned parquet + one manifest that
    commits the input files, the metrics and the per-input-file lineage
    (``metrics["lineage"]``: docs_seen, docs_kept, bytes_scrubbed and
    n_partitions lists aligned with the manifest's sorted
    ``input_files``) atomically.

Build the --py-files zip with:  python run_pipeline.py --make-zip scfs.zip
"""

from __future__ import annotations

import argparse
import json
import pathlib
import re
import sys
from urllib.parse import unquote

REPO = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def make_zip(dest: str) -> None:
    import zipfile

    pkg = REPO / "streamcorpus_filter_spark"
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    print(f"wrote {dest}")


def _audit_aggs():
    """The ONE list of audit aggregation expressions, shared by run()'s
    live Observation and _settle_pending's re-audit of durable staged
    rows — two hand-maintained copies drifted once (keep cast long vs
    string-compare), and a drift here means a batch that aborts live
    could publish when settled after a crash. The string compare works
    on BOTH shapes: the pre-write boolean column stringifies to
    'true'/'false', and the read-back partition-encoded value already
    IS the string."""
    import pyspark.sql.functions as F

    return [
        F.count(F.lit(1)).alias("docs_seen"),
        F.sum((F.col("keep").cast("string") == "true").cast("long")).alias("docs_kept"),
        F.sum((F.col("drop_reason") == "lang_uncertain").cast("long")).alias("langid_drops"),
        F.sum((F.col("drop_reason") == "high_ppl").cast("long")).alias("ppl_drops"),
        F.sum((F.col("drop_reason") == "toxic").cast("long")).alias("toxic_drops"),
        F.sum(F.coalesce("patterns_matched", F.lit(0)).cast("long")).alias("patterns_matched"),
        F.sum(F.coalesce("bytes_scrubbed", F.lit(0))).alias("bytes_scrubbed"),
        F.sum(F.col("url").isNull().cast("long")).alias("null_urls"),
    ]


def _lineage(cat, staged: dict) -> dict:
    """Per-input-file lineage of a staged batch, for its published
    manifest: docs_seen, docs_kept, bytes_scrubbed and n_partitions as
    int lists aligned with the manifest's sorted ``input_files`` (the
    file names are not repeated); a file that yielded no rows gets
    zeros. Read on the driver from four small columns of the staged
    files, with no Spark job — per-file conditional sums in the stage
    write's own Observation cost 14–20% of the stage at 24 files and
    more than the whole stage at 256 (BENCH/BASELINE.md finding 12)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = staged["input_files"]
    out = {k: [0] * len(files)
           for k in ("docs_seen", "docs_kept", "bytes_scrubbed", "n_partitions")}
    d = ds.dataset(cat._data_dir(staged), format="parquet", partitioning="hive")
    if not d.files:
        return out  # a zero-row batch lands as _SUCCESS alone
    t = d.to_table(columns=["input_file", "keep", "bytes_scrubbed", "partition_id"])
    # keep is a boolean column, or its partition-encoded string
    kept = pc.equal(pc.cast(t["keep"], pa.string()), "true").cast(pa.int64())
    grouped = t.append_column("kept", kept).group_by("input_file").aggregate([
        ("input_file", "count"), ("kept", "sum"), ("bytes_scrubbed", "sum"),
        ("partition_id", "count_distinct"),
    ])
    index = {f: i for i, f in enumerate(files)}
    for g in grouped.to_pylist():
        i = index[g["input_file"]]  # input_file_name() gives inputFiles()' strings
        out["docs_seen"][i] = g["input_file_count"]
        out["docs_kept"][i] = g["kept_sum"]
        out["bytes_scrubbed"][i] = g["bytes_scrubbed_sum"] or 0
        out["n_partitions"][i] = g["partition_id_count_distinct"]
    return out


def _read_path(uri: str) -> str:
    """The path that reads exactly the file an inputFiles() URI names:
    the URI percent-encodes a space or '%' in a name, which the reader
    would otherwise take literally, and the reader globs, so glob
    characters are escaped. input_file_name() gives the URI back."""
    return re.sub(r"([{}\[\]*?\\])", r"\\\1", unquote(uri))


def _audit_metrics(metrics: dict, min_keep_ratio: float) -> list[str]:
    """The WAP audit: decide from the batch's own observed metrics
    whether it may become visible table state. Violations:
      * null_urls — any row lost its key (a corrupted WARC slice);
      * keep_ratio below ``min_keep_ratio`` — a batch the quality rules
        near-uniformly reject is far likelier a poisoned input
        (mojibake, wrong charset, spam mirror) than real signal.
    An EMPTY batch is NOT a violation: publishing it records the input
    lineage so --resume won't re-feed the empty files forever."""
    violations = []
    null_urls = metrics.get("null_urls") or 0
    if null_urls:
        violations.append(f"null_urls={null_urls}")
    seen = metrics.get("docs_seen") or 0
    if seen and min_keep_ratio > 0:
        ratio = (metrics.get("docs_kept") or 0) / seen
        if ratio < min_keep_ratio:
            violations.append(f"keep_ratio={ratio:.4f}<{min_keep_ratio}")
    return violations


def _batch_rows(spark, cat, manifest: dict):
    """One committed batch's rows (staged or published), read from its
    data dir under the manifest schema. The schema makes the read total
    even for a ZERO-row batch (an empty batch publishes by design so
    --resume stops re-feeding its files, but Spark writes it as _SUCCESS
    with no footers — a schemaless read would throw, and settle would
    retry the throw on every later run forever)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema_json"]))
    return spark.read.schema(schema).parquet(cat._data_dir(manifest))


def _settle_pending(spark, cat, min_keep_ratio: float) -> list[dict]:
    """Finish WAP decisions a crashed prior run left PENDING: a batch
    staged but neither published nor aborted would otherwise stay
    invisible forever while its input lineage blocks --resume from
    re-feeding the files — silent data loss. The staged rows are
    durable, so the audit and the lineage re-run from THEM, then the
    idempotent publish/abort lands the decision."""
    settled = []
    for s in cat._staged():
        if "pipeline_wap" not in s.get("metrics", {}):
            continue  # someone else's staged batch: not ours to decide
        m = _batch_rows(spark, cat, s).select(*_audit_aggs()).first().asDict()
        # re-audit with the threshold the ORIGINAL run staged the batch
        # under (it rides in the staged metrics): settling with the
        # NEXT invocation's flag — possibly the 0.0 default of an
        # unrelated cron entry — would publish a batch the run that
        # staged it was about to abort
        ratio = s["metrics"].get("min_keep_ratio", min_keep_ratio)
        violations = _audit_metrics(m, ratio)
        if violations:
            cat.abort_staged(s["snapshot_id"])
            settled.append({
                "snapshot": s["snapshot_id"], "decision": "aborted",
                "violations": violations,
            })
        else:
            head = cat.publish(s["snapshot_id"],
                               metrics={**m, "lineage": _lineage(cat, s)})
            settled.append({
                "snapshot": head["snapshot_id"], "decision": "published",
            })
    return settled


def run(
    spark,
    input_path: str,
    table: str,
    *,
    resume: bool = False,
    from_html: bool = False,
    partition_by: str = "keep",
    max_files: int = 0,
    min_keep_ratio: float = 0.0,
) -> dict:
    """One pipeline run -> one PUBLISHED snapshot (or an aborted batch,
    or an up-to-date no-op); returns a status dict. The CLI below is a
    thin wrapper; tests drive this directly with a shared session.

    Every commit goes through the catalog's write-audit-publish gate:
    the batch lands STAGED (invisible), the audit checks the pipeline's
    own observed metrics (_audit_metrics), and only then publish() makes
    it table state — a poisoned batch is aborted with its input files
    left re-ingestable, never visible to any reader. Pending batches
    from a crashed prior run are settled first (_settle_pending)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from streamcorpus_filter_spark.catalog import SnapshotCatalog

    cat = SnapshotCatalog(table)
    settled = _settle_pending(spark, cat, min_keep_ratio)

    candidates = sorted(spark.read.parquet(input_path).inputFiles())
    todo = candidates
    if resume:
        done = cat.processed_inputs()
        todo = [f for f in candidates if f not in done]
    if max_files:
        todo = todo[:max_files]
    if not todo:
        out = {"status": "up-to-date", "snapshot": None}
        if settled:
            out["settled"] = settled
        return out

    # lineage at the scan (input_file_name() is empty after an
    # exchange); the pipeline adds no exchange, so partition_id is the
    # scan split that read the row.
    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline

    # basePath keeps directory-encoded partition columns of the input
    # table visible in the per-file read (a bare leaf-file read drops
    # them silently — the column would vanish from every output)
    pages = (
        spark.read.option("basePath", input_path)
        .parquet(*[_read_path(f) for f in todo])
        .withColumn("input_file", F.input_file_name())
    )
    out = run_quality_pipeline(
        spark, pages, extract_from_html=from_html
    ).withColumn("partition_id", F.spark_partition_id())

    obs = Observation()
    out = out.observe(obs, *_audit_aggs())

    parts = [p for p in partition_by.split(",") if p]
    if "ds" in parts:
        out = out.withColumn("ds", F.to_date("warc_ts"))

    # WRITE-AUDIT-PUBLISH (VERDICT r4 task 5): the batch is fully
    # written + committed STAGED (invisible to read()/--resume-as-
    # published), the audit runs on the observation the stage write
    # itself populated (no second pass), and only a clean batch is
    # published. The per-file lineage commits in the published manifest
    # itself, so no crash window separates a visible batch from its
    # lineage: a crash before the decision -> the next run's
    # _settle_pending re-audits the durable staged rows and takes the
    # lineage from them; abort leaves the inputs re-ingestable (the
    # tombstone carries no lineage).
    staged = cat.stage(
        out, input_files=todo,
        # min_keep_ratio rides in the staged manifest so a crash-settle
        # re-audits under THIS run's threshold, not the next caller's
        metrics={"pipeline_wap": True, "min_keep_ratio": min_keep_ratio},
        partition_by=parts or None,
    )
    metrics = obs.get
    violations = _audit_metrics(metrics, min_keep_ratio)
    if violations:
        head = None
        try:
            cat.abort_staged(staged["snapshot_id"])
        except ValueError:
            # a concurrent run's settle pass already DECIDED this batch
            # (the catalog verbs converge races to one outcome); report
            # its decision instead of crashing. With the threshold
            # persisted above it aborts too, but a racer on a manifest
            # without it (or on older code) may have published: the
            # rows are then visible table state, not "aborted"
            head = cat._published_head(staged["snapshot_id"])
        result = {
            "status": "aborted" if head is None else "committed",
            "snapshot": None if head is None else head["snapshot_id"],
            "input_files": len(todo),
            "violations": violations,
            "metrics": metrics,
        }
        if settled:
            result["settled"] = settled
        return result

    # the observed metrics and the lineage ride in the published
    # head's commit
    metrics["lineage"] = _lineage(cat, staged)
    head = cat.publish(staged["snapshot_id"], metrics=metrics)

    result = {
        "status": "committed",
        "snapshot": head["snapshot_id"],
        "input_files": len(todo),
        "metrics": metrics,
    }
    if settled:
        result["settled"] = settled
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--table", help="output catalog root")
    ap.add_argument("--resume", action="store_true",
                    help="skip input files the table's lineage already records")
    ap.add_argument("--from-html", action="store_true",
                    help="re-extract text from the html column")
    ap.add_argument("--partition-by", default="keep",
                    help="comma-separated output partition columns "
                         "(supports the derived day column 'ds')")
    ap.add_argument("--max-files", type=int, default=0,
                    help="process at most N input files this run "
                         "(crash/kill simulation + controlled backfill)")
    ap.add_argument("--min-keep-ratio", type=float, default=0.0,
                    help="WAP audit threshold: abort (stage-then-discard) "
                         "any batch whose keep ratio falls below this — "
                         "a near-uniformly-rejected batch is a poisoned "
                         "input, not signal; 0 disables the ratio check "
                         "(the null-url audit always runs)")
    ap.add_argument("--make-zip", metavar="DEST",
                    help="write the --py-files zip and exit")
    args = ap.parse_args()

    if args.make_zip:
        make_zip(args.make_zip)
        return
    if not args.input or not args.table:
        ap.error("--input and --table are required")

    from streamcorpus_filter_spark.session import get_spark

    spark = get_spark(app_name="quality-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    result = run(
        spark,
        args.input,
        args.table,
        resume=args.resume,
        from_html=args.from_html,
        partition_by=args.partition_by,
        max_files=args.max_files,
        min_keep_ratio=args.min_keep_ratio,
    )
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
