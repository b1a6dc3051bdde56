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
  * reads the batch's input files with the schema Spark inferred
    earlier in this application from an equal Parquet footer, or infers
    it (one Spark job) when there is none, so a warm batch launches one
    Spark job, the stage write (_pages);
  * runs the fused quality pipeline (extract -> structural -> langid /
    perplexity / entity-match / PII+toxicity scrub -> keep/drop);
  * counts the batch once, from seven small columns of the staged
    files read on the driver with no Spark job: the audit totals (docs
    seen and kept, langid / perplexity / toxicity drops, patterns
    matched, bytes scrubbed, null urls) and the per-input-file lineage;
  * commits through the catalog's WRITE-AUDIT-PUBLISH gate: the batch
    lands staged (invisible), the audit checks those totals (null urls;
    ``--min-keep-ratio``), and only a clean batch is published — a
    poisoned batch is aborted with its inputs left re-ingestable, never
    visible table state; batches left pending by a crashed prior run
    are settled at the start of the next run by the same count and the
    same decision a live batch goes through;
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


_TOTALS = ("docs_seen", "docs_kept", "langid_drops", "ppl_drops",
           "toxic_drops", "patterns_matched", "bytes_scrubbed", "null_urls")


def _batch_metrics(cat, staged: dict) -> dict:
    """A staged batch's audit totals and its per-input-file lineage, for
    the audit and the published manifest, from one driver read of seven
    small columns of the staged files (no Spark job; ≤0.4% of the stage,
    flat in files — BENCH/BASELINE.md finding 12). The lineage
    (``metrics["lineage"]``) holds docs_seen, docs_kept, bytes_scrubbed
    and n_partitions as int lists aligned with the manifest's sorted
    ``input_files`` (the file names are not repeated); a file that
    yielded no rows gets zeros, and a zero-row batch counts zero."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = staged["input_files"]
    lineage = {k: [0] * len(files)
               for k in ("docs_seen", "docs_kept", "bytes_scrubbed", "n_partitions")}
    d = ds.dataset(cat._data_dir(staged), format="parquet", partitioning="hive")
    if not d.files:  # a zero-row batch lands as _SUCCESS alone
        return {**dict.fromkeys(_TOTALS, 0), "lineage": lineage}
    t = d.to_table(columns=["input_file", "keep", "drop_reason", "patterns_matched",
                            "bytes_scrubbed", "url", "partition_id"])
    # keep is a boolean column, or its partition-encoded string
    t = t.append_column(
        "kept", pc.equal(pc.cast(t["keep"], pa.string()), "true").cast(pa.int64()))

    def total(values) -> int:
        return pc.sum(values).as_py() or 0

    def dropped(reason: str) -> int:
        return total(pc.equal(t["drop_reason"], reason).cast(pa.int64()))

    totals = {
        "docs_seen": t.num_rows,
        "docs_kept": total(t["kept"]),
        "langid_drops": dropped("lang_uncertain"),
        "ppl_drops": dropped("high_ppl"),
        "toxic_drops": dropped("toxic"),
        "patterns_matched": total(t["patterns_matched"]),
        "bytes_scrubbed": total(t["bytes_scrubbed"]),
        "null_urls": t["url"].null_count,
    }
    grouped = t.group_by("input_file").aggregate([
        ("input_file", "count"), ("kept", "sum"), ("bytes_scrubbed", "sum"),
        ("partition_id", "count_distinct"),
    ])
    index = {f: i for i, f in enumerate(files)}
    for g in grouped.to_pylist():
        i = index[g["input_file"]]  # input_file_name() gives inputFiles()' strings
        lineage["docs_seen"][i] = g["input_file_count"]
        lineage["docs_kept"][i] = g["kept_sum"]
        lineage["bytes_scrubbed"][i] = g["bytes_scrubbed_sum"] or 0
        lineage["n_partitions"][i] = g["partition_id_count_distinct"]
    return {**totals, "lineage": lineage}


def _read_path(uri: str) -> str:
    """The path that reads exactly the file an inputFiles() URI names:
    the URI percent-encodes a space or '%' in a name, which the reader
    would otherwise take literally, and the reader globs, so glob
    characters are escaped. input_file_name() gives the URI back."""
    return re.sub(r"([{}\[\]*?\\])", r"\\\1", unquote(uri))


def _list_inputs(spark, input_path: str) -> list[str]:
    """The input table's data files, sorted, as the URIs inputFiles()
    and input_file_name() give. Spark's own file index, so the same
    list a plain parquet read of the dir sees (hidden and ``_``-prefixed
    files skipped, partition dirs walked), but under an empty schema:
    no schema-inference Spark job, and an empty dir lists nothing where
    inference would fail. A missing dir still raises PATH_NOT_FOUND.
    The JVM joins the list into one string (a URI holds no newline):
    iterating the Java array would cost a py4j round trip per file."""
    from pyspark.sql.types import StructType

    files = spark.read.schema(StructType()).parquet(input_path)._jdf.inputFiles()
    joined = spark._jvm.org.apache.hadoop.util.StringUtils.join("\n", files)
    return sorted(joined.split("\n")) if joined else []


def _footer(input_path: str, uri: str):
    """The Parquet footer of an input file the pages schema can be
    reused for: its schema and key-value metadata, or None when the file
    is not local, not under ``input_path``, lies under a ``k=v`` dir
    (Spark types partition columns from the paths of each read, so a
    cached schema could type a later value wrongly), or has no readable
    footer (Spark's inferring read then reports it)."""
    import os
    from urllib.parse import urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    src, dst = urlparse(input_path), urlparse(uri)
    if src.scheme not in ("", "file") or dst.scheme != "file":
        return None
    root = unquote(src.path) if src.scheme else input_path
    path = unquote(dst.path)
    rel = os.path.relpath(os.path.dirname(path), os.path.abspath(root))
    if rel.startswith("..") or "=" in rel:
        return None
    try:
        md = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    return md.schema, md.metadata


def _pages(spark, input_path: str, todo: list[str]):
    """The pages read of the ``todo`` files. The first read of a footer
    lets Spark infer the schema (one Spark job); a later read whose files
    all carry an equal footer is given that schema and launches none.
    Spark infers the schema from the files' footers (one of them with
    mergeSchema off), so equal footers give the same schema. The schema
    is kept for the Spark application, never persisted; a conf that maps
    Parquet types (spark.sql.parquet.binaryAsString and the like)
    changed later in the application is not seen."""
    from streamcorpus_filter_spark.queries import cached

    # basePath keeps directory-encoded partition columns of the input
    # table visible in the per-file read (a bare leaf-file read drops
    # them silently — the column would vanish from every output)
    reader = spark.read.option("basePath", input_path)
    paths = [_read_path(f) for f in todo]
    footers = [_footer(input_path, f) for f in todo]

    def same(a, b) -> bool:
        return (a is not None and b is not None
                and a[0].equals(b[0]) and a[1] == b[1])

    if not all(same(f, footers[0]) for f in footers):
        return reader.parquet(*paths)
    last = cached(spark, "pages_schema", lambda: [None])  # [(footer, schema)]
    if last[0] is not None and same(last[0][0], footers[0]):
        return reader.schema(last[0][1]).parquet(*paths)
    pages = reader.parquet(*paths)
    last[0] = (footers[0], pages.schema)
    return pages


def _audit_metrics(metrics: dict, min_keep_ratio: float) -> list[str]:
    """The WAP audit: decide from the batch's own totals whether it may
    become visible table state. Violations:
      * null_urls — any row lost its key (a corrupted WARC slice);
      * keep_ratio below ``min_keep_ratio`` — a batch the quality rules
        near-uniformly reject is far likelier a poisoned input
        (mojibake, wrong charset, spam mirror) than real signal.
    An EMPTY batch is NOT a violation: publishing it records the input
    lineage so --resume won't re-feed the empty files forever."""
    violations = []
    if metrics["null_urls"]:
        violations.append(f"null_urls={metrics['null_urls']}")
    seen = metrics["docs_seen"]
    if seen and min_keep_ratio > 0:
        ratio = metrics["docs_kept"] / seen
        if ratio < min_keep_ratio:
            violations.append(f"keep_ratio={ratio:.4f}<{min_keep_ratio}")
    return violations


def _decide(cat, staged: dict, min_keep_ratio: float):
    """The WAP decision on one staged ``pipeline_wap`` batch, the same
    for a live batch and one a crashed run left pending: count it
    (_batch_metrics), audit it under the threshold its staging run
    persisted in the staged manifest (``min_keep_ratio`` only for a
    manifest without one — settling with the NEXT invocation's flag,
    possibly the 0.0 default of an unrelated cron entry, would publish
    a batch the run that staged it was about to abort), then publish it
    with the totals and the lineage in the head's commit, or abort it.
    Returns the published head (None if aborted), the violations and
    the metrics."""
    sid = staged["snapshot_id"]
    metrics = _batch_metrics(cat, staged)
    violations = _audit_metrics(
        metrics, staged["metrics"].get("min_keep_ratio", min_keep_ratio))
    if not violations:
        return cat.publish(sid, metrics=metrics), violations, metrics
    try:
        cat.abort_staged(sid)
        return None, violations, metrics
    except ValueError:
        # a concurrent run's settle pass already DECIDED this batch (the
        # catalog verbs converge races to one outcome); report its
        # decision instead of crashing. With the threshold persisted it
        # aborts too, but a racer on a manifest without it (or on older
        # code) may have published: the rows are then visible table
        # state, not "aborted"
        return cat._published_head(sid), violations, metrics


def _settle_pending(cat, min_keep_ratio: float) -> list[dict]:
    """Finish WAP decisions a crashed prior run left PENDING: a batch
    staged but neither published nor aborted would otherwise stay
    invisible forever while its input lineage blocks --resume from
    re-feeding the files — silent data loss. The staged rows are
    durable, so _decide counts and decides them as the live run would
    have."""
    settled = []
    for s in cat._staged():
        if "pipeline_wap" not in s.get("metrics", {}):
            continue  # someone else's staged batch: not ours to decide
        head, violations, _ = _decide(cat, s, min_keep_ratio)
        entry = ({"snapshot": s["snapshot_id"], "decision": "aborted"} if head is None
                 else {"snapshot": head["snapshot_id"], "decision": "published"})
        if violations:
            entry["violations"] = violations
        settled.append(entry)
    return settled


def _batch_plan(spark, input_path: str, todo: list[str], *,
                from_html: bool, parts: list[str]):
    """The batch's DataFrame over the ``todo`` input files, ready to
    stage. Building it launches a Spark job only when the pages read
    must infer its schema (_pages); the fused UDF and the model
    broadcasts come built from the application's cache.

    Lineage columns come from the scan (input_file_name() is empty after
    an exchange); the pipeline adds no exchange, so partition_id is the
    scan split that read the row."""
    import pyspark.sql.functions as F

    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline

    pages = _pages(spark, input_path, todo).withColumn("input_file", F.input_file_name())
    out = run_quality_pipeline(spark, pages, extract_from_html=from_html)
    derived = {"partition_id": F.spark_partition_id()}
    if "ds" in parts:
        derived["ds"] = F.to_date("warc_ts")
    return out.withColumns(derived)


def _check_run_args(max_files: int, min_keep_ratio: float) -> None:
    """Reject run inputs that would silently do the wrong thing: a
    negative ``max_files`` would slice off the LAST todo files, so a
    --resume run after it would find nothing to do and leave them
    never ingested; a keep ratio outside [0, 1] is no threshold."""
    if max_files < 0:
        raise ValueError(f"max_files must be >= 0 (0 = no limit), got {max_files}")
    if not 0.0 <= min_keep_ratio <= 1.0:
        raise ValueError(f"min_keep_ratio must be in [0, 1], got {min_keep_ratio}")


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
    the batch lands STAGED (invisible), then _decide counts it from the
    staged files, audits the totals (_audit_metrics), and only a clean
    batch is published — a poisoned batch is aborted with its input
    files left re-ingestable, never visible to any reader. Pending
    batches from a crashed prior run are settled first, by the same
    _decide (_settle_pending)."""
    from streamcorpus_filter_spark.catalog import SnapshotCatalog

    _check_run_args(max_files, min_keep_ratio)
    cat = SnapshotCatalog(table)
    settled = _settle_pending(cat, min_keep_ratio)

    # listed with no schema to infer: no Spark job (_list_inputs)
    candidates = _list_inputs(spark, input_path)
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

    parts = [p for p in partition_by.split(",") if p]
    # WRITE-AUDIT-PUBLISH (VERDICT r4 task 5): the batch is fully
    # written + committed STAGED (invisible to read()/--resume-as-
    # published), then decided. The per-file lineage commits in the
    # published manifest itself, so no crash window separates a visible
    # batch from its lineage: a crash before the decision -> the next
    # run's _settle_pending decides the durable staged batch exactly as
    # this run would have; abort leaves the inputs re-ingestable (the
    # tombstone carries no lineage).
    staged = cat.stage(
        _batch_plan(spark, input_path, todo, from_html=from_html, parts=parts),
        input_files=todo,
        # min_keep_ratio rides in the staged manifest so a crash-settle
        # re-audits under THIS run's threshold, not the next caller's
        metrics={"pipeline_wap": True, "min_keep_ratio": min_keep_ratio},
        partition_by=parts or None,
    )
    head, violations, metrics = _decide(cat, staged, min_keep_ratio)
    result = {
        "status": "aborted" if head is None else "committed",
        "snapshot": None if head is None else head["snapshot_id"],
        "input_files": len(todo),
        "metrics": metrics,
    }
    if violations:
        result["violations"] = violations
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
                    help="process at most N input files this run (0: all) "
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
    try:
        _check_run_args(args.max_files, args.min_keep_ratio)
    except ValueError as e:
        ap.error(str(e))

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
