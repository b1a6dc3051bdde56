#!/usr/bin/env python3
"""Benchmark of the write-audit-publish (WAP) quality pipeline.

What a user of this system runs is ``run_pipeline.run``: input parquet
files in, one published snapshot out, through stage, audit and publish.
A downstream reader then reads the table. The benchmark drives that path
from one process on ``local[<cores>]`` in a closed loop with one client:
the next batch starts only after the previous one committed and was read.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones. With ``--trace 1`` every other batch runs under
spans and the metrics are the per-layer ledger, with the tracing overhead.
Metric names and units are the ones ``BENCHMARK.json`` declares. The line
before the result carries the corpus properties and the run's details,
``fail_frac`` among them.

Set-up is what a user pays once per process, from a cold JVM: the Spark
session starts, the models are built, the pipeline broadcasts them, and
one full-size batch runs, unchecked. ``setup_s`` times it. The timed loop
goes on feeding the table that batch started; ``incremental_resume``
resumes it, ``crawl_html`` starts a fresh table for every batch.

Correctness is checked after every batch, outside the timed region: the
rows the batch published are read back; a fixed sample of them must match
``oracle.oracle_row`` on keep, drop_reason and scrubbed_text; the consumer
read must count the kept rows the run reported; and an order-independent
digest of the rows must equal that of every other run of the same seed
and batch. A batch that did not commit or fails a check counts as failed.

Everything a run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import random
import shutil
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".bench_work"
CORES = len(os.sched_getaffinity(0))
READS_PER_BATCH = 2  # consumer reads after each publish
# untimed consumer reads after set-up: the read path keeps getting faster
# over its first calls, which the timed batches would otherwise pay
WARM_READS = 3
SAMPLE_DOCS = 36  # oracle-checked docs per pass over the corpus
PROFILE_DOCS = 1024  # docs in the Spark-free kernel profile
DIGEST_COLS = [
    "url", "keep", "drop_reason", "scrubbed_text", "patterns_matched",
    "total_hits", "bytes_scrubbed", "tox_hits",
]
CATALOG_SPANS = ["snapshots", "processed_inputs", "stage", "publish", "abort_staged", "read"]


@dataclass(frozen=True)
class Workload:
    files: int
    pages_per_file: int
    files_per_batch: int  # files added to the input dir before each batch
    from_html: bool
    partition_by: str
    resume: bool
    min_batches: int  # timed batches a run makes even past its seconds


WORKLOADS = {
    # one batch over the stock crawl, extracted from html, into a fresh
    # table: three quarters of the docs pay every kernel stage
    "crawl_html": Workload(24, 256, 24, True, "keep", False, 3),
    # successive small batches into one table with resume, as many as the
    # run's seconds allow: per-batch catalog and run_pipeline cost, reads
    # beside writes, snapshots piling up
    "incremental_resume": Workload(12, 384, 2, False, "keep,ds", True, 3),
}


class TreeRss:
    """Samples the resident memory of this process and its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def descendants() -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> int:
        """Resident bytes of the tree. Each process counts its
        proportional share (Pss) of pages it shares, such as the
        libraries forked Python workers share with their daemon, so the
        sum counts every resident page once."""
        total = 0
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self.sample())

    def __enter__(self) -> "TreeRss":
        self.peak = self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _running(pid: int) -> bool:
    """Whether ``pid`` has not yet ended; reaps it if it is an ended
    child of this process."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:  # not our child: its parent reaps it
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _usage(d: pathlib.Path) -> tuple[int, int]:
    """(file count, bytes) under ``d``."""
    n = size = 0
    for p in d.rglob("*"):
        if p.is_file():
            n += 1
            size += p.stat().st_size
    return n, size


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, name: str, seed: int, trace: bool) -> None:
        import corpus
        import pyarrow.parquet as pq
        from spans import Tracer

        self.name, self.seed, self.trace = name, seed, trace
        self.wl = wl = WORKLOADS[name]
        self.corpus_dir, self.props = corpus.build(
            WORK / "corpus", files=wl.files, pages_per_file=wl.pages_per_file,
            seed=seed, from_html=wl.from_html,
        )
        files = corpus.files_of(self.corpus_dir)
        self.batches = [files[i:i + wl.files_per_batch]
                        for i in range(0, len(files), wl.files_per_batch)]
        self.rows = {f: pq.read_table(f).to_pydict() for f in files}
        per_file = math.ceil(SAMPLE_DOCS / len(files))
        self.sample = {}  # file -> sampled row indices
        for f in files:
            rng = random.Random(f"sample:{seed}:{f.name}")
            self.sample[f] = rng.sample(range(wl.pages_per_file), per_file)
        self.scratch = WORK / "runs" / f"{name}-s{seed}-{os.getpid()}"
        self.scratch.mkdir(parents=True)
        self.digest_path = WORK / "digests.json"
        self.digests = (json.loads(self.digest_path.read_text())
                        if self.digest_path.exists() else {})
        self.tracer = Tracer()
        self.spark = None
        self.oracle: dict[str, object] = {}
        self.tables = 0
        self.table: pathlib.Path | None = None

    # ------------------------------------------------------------ set-up

    def setup(self) -> dict[str, float]:
        from streamcorpus_filter_spark import models
        from streamcorpus_filter_spark.operators import quality
        from streamcorpus_filter_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for build in (models.default_langid, models.default_charlm,
                      models.pages_automaton, models.toxic_automaton):
            build()
        t2 = time.perf_counter()
        pages = self.spark.read.parquet(*[str(f) for f in self.batches[0]])
        quality.run_quality_pipeline(self.spark, pages, extract_from_html=self.wl.from_html)
        t3 = time.perf_counter()
        self.new_table()
        self.step(check=False)
        t4 = time.perf_counter()
        for _ in range(WARM_READS):
            self.read()
        return {
            "setup_s": t4 - t0,
            "session.start_s": t1 - t0,
            "models.build_s": t2 - t1,
            "operators.quality.broadcast_s": t3 - t2,
            "warmup_s": t4 - t3,
        }

    def build_oracle(self) -> None:
        from streamcorpus_filter_spark import models, oracle

        langid, charlm = models.default_langid(), models.default_charlm()
        names, terms = models.pages_filternames(), models.toxic_automaton().patterns
        for f, idx in self.sample.items():
            rows = self.rows[f]
            for i in idx:
                self.oracle[rows["url"][i]] = oracle.oracle_row(
                    rows["html"][i], langid, charlm, names, terms,
                    text=None if self.wl.from_html else rows["text"][i],
                )

    # ------------------------------------------------------------ batches

    def new_table(self) -> None:
        """Start feeding a fresh, empty table from the corpus's first batch."""
        if self.table is not None:
            shutil.rmtree(self.inp)
            shutil.rmtree(self.table, ignore_errors=True)
        self.tables += 1
        self.inp = self.scratch / f"in-{self.tables}"
        self.table = self.scratch / f"table-{self.tables}"
        self.inp.mkdir()
        self.fed, self.prev, self.kept = 0, None, 0

    def step(self, check: bool, traced: bool = False) -> dict:
        """Add the table's next batch of files to its input directory, run
        the pipeline over it and read the table back; a table that has had
        the whole corpus is replaced by a fresh one first."""
        if self.fed == len(self.batches):
            self.new_table()
        j, files = self.fed, self.batches[self.fed]
        for f in files:
            os.link(f, self.inp / f.name)
        self.tracer.enabled = traced
        rec = self.batch(self.inp, self.table, files)
        self.tracer.enabled = False
        self.fed += 1
        self.kept += rec["docs_kept"] or 0
        if check:
            rec["errors"] = self.check(self.table, j, files, self.prev, self.kept, rec)
        self.prev = rec["snapshot"]
        return rec

    def read(self) -> int:
        """The consumer's read: kept rows of the current snapshot."""
        from streamcorpus_filter_spark.catalog import SnapshotCatalog

        return SnapshotCatalog(str(self.table)).read(self.spark).filter("keep").count()

    def batch(self, inp: pathlib.Path, table: pathlib.Path, files) -> dict:
        import run_pipeline

        wl = self.wl
        before = _usage(table) if table.exists() else (0, 0)
        with self.tracer.span("batch") as root:
            t0 = time.perf_counter()
            with self.tracer.span("run_pipeline.run"):
                res = run_pipeline.run(
                    self.spark, str(inp), str(table), resume=wl.resume,
                    from_html=wl.from_html, partition_by=wl.partition_by,
                )
            t1 = time.perf_counter()
            read_s, counts = [], set()
            for _ in range(READS_PER_BATCH):
                r0 = time.perf_counter()
                with self.tracer.span("consumer.read"):
                    counts.add(self.read())
                read_s.append(time.perf_counter() - r0)
        after = _usage(table)
        metrics = res.get("metrics", {})
        return {
            "status": res["status"],
            "snapshot": res.get("snapshot"),
            "run_s": t1 - t0,
            "read_s": read_s,
            "read_kept": counts.pop() if len(counts) == 1 else None,
            "docs": len(files) * wl.pages_per_file,
            "docs_seen": metrics.get("docs_seen"),
            "docs_kept": metrics.get("docs_kept"),
            "traced": root is not None,
            "root": root["id"] if root else None,
            "files_written": after[0] - before[0],
            "bytes_written": after[1] - before[1],
            "input_bytes": sum(f.stat().st_size for f in files),
            "manifests": len(list((table / "snapshots").glob("*.json"))),
        }

    def check(self, table, j, files, prev, kept, rec) -> list[str]:
        import pyspark.sql.functions as F
        from streamcorpus_filter_spark.catalog import SnapshotCatalog

        if rec["status"] != "committed":
            return [f"batch {j}: status {rec['status']}"]
        errs = []
        if rec["docs_seen"] != rec["docs"]:
            errs.append(f"batch {j}: docs_seen {rec['docs_seen']} != {rec['docs']}")
        if rec["read_kept"] != kept:
            errs.append(f"batch {j}: consumer read {rec['read_kept']} kept != {kept}")
        cat = SnapshotCatalog(str(table))
        rows = cat.read(self.spark) if prev is None else cat.read_incremental(self.spark, prev)
        urls = [self.rows[f]["url"][i] for f in files for i in self.sample[f]]
        h = F.xxhash64(*[F.col(c) for c in DIGEST_COLS])
        n, xor, hsum, sample = rows.agg(
            F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(1 << 31))),
            F.collect_list(F.when(F.col("url").isin(urls), F.struct(
                "url", "keep", "drop_reason", "scrubbed_text"))),
        ).first()
        digest = f"{n}:{xor}:{hsum}"
        key = f"{self.name}:{self.corpus_dir.name}:b{j}"
        if self.digests.setdefault(key, digest) != digest:
            errs.append(f"batch {j}: digest {digest} != {self.digests[key]}")
        got = {r["url"]: r for r in sample}
        for u in urls:
            want, g = self.oracle[u], got.get(u)
            if g is None or (g["keep"], g["drop_reason"], g["scrubbed_text"]) != (
                want.keep, want.drop_reason, want.scrubbed_text
            ):
                errs.append(f"batch {j}: {u} differs from the oracle")
        return errs

    def loop(self, seconds: float) -> list[dict]:
        recs: list[dict] = []
        deadline = time.perf_counter() + seconds
        want = self.wl.min_batches + self.trace
        while len(recs) < want or time.perf_counter() < deadline:
            # traced runs alternate traced and untraced batches
            recs.append(self.step(check=True, traced=self.trace and len(recs) % 2 == 0))
        return recs

    # ------------------------------------------------------------ ledger

    def fence_ledger(self) -> dict[str, float]:
        """Truncated plans over one batch's input: scan to the noop sink,
        the pipeline to the noop sink, and the pipeline into a small
        aggregate whose executed plan gives the fence's SQL metrics."""
        import pyspark.sql.functions as F
        from plan_metrics import fence_metrics
        from streamcorpus_filter_spark.operators.quality import run_quality_pipeline

        paths = [str(f) for f in self.batches[0]]

        def pipeline():
            return run_quality_pipeline(
                self.spark, self.spark.read.parquet(*paths),
                extract_from_html=self.wl.from_html)

        t0 = time.perf_counter()
        self.spark.read.parquet(*paths).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        pipeline().write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        agg = pipeline().agg(F.sum(F.col("keep").cast("long")),
                             F.sum(F.length("scrubbed_text")))
        agg.collect()
        out = {f"operators.quality.{k}": v for k, v in fence_metrics(agg).items()}
        out["spark.scan_s"] = t1 - t0
        out["operators.quality.pipeline_noop_s"] = t2 - t1
        return out

    def span_ledger(self, recs: list[dict]) -> dict[str, float]:
        from spans import calls_by_name, self_by_name

        spans = self.tracer.spans
        per: dict[str, list[float]] = {}
        for r in recs:
            if not r["traced"]:
                continue
            own = self_by_name(spans, r["root"])
            calls = calls_by_name(spans, r["root"])
            run = next(s for s in spans if s["parent"] == r["root"]
                       and s["name"] == "run_pipeline.run")
            in_run = self_by_name(spans, run["id"])
            row = {
                "run_pipeline.run_s": r["run_s"],
                "run_pipeline.other_s": own.get("run_pipeline.run", 0.0),
                "run_pipeline.self_sum_frac": sum(in_run.values()) / r["run_s"],
                "consumer.count_s": own.get("consumer.read", 0.0),
                "catalog.snapshots_calls": calls.get("catalog.snapshots", 0),
                "catalog.abort_staged_calls": calls.get("catalog.abort_staged", 0),
            }
            for m in CATALOG_SPANS:
                if m != "abort_staged":
                    row[f"catalog.{m}_s"] = own.get(f"catalog.{m}", 0.0)
            for k, v in row.items():
                per.setdefault(k, []).append(v)
        return {k: _median(v) for k, v in per.items()}

    def ledger(self, recs: list[dict], setup: dict[str, float]) -> dict[str, float]:
        import kernelprof

        rows = [self.rows[f] for fs in self.batches for f in fs]
        htmls = [h for r in rows for h in r["html"]][:PROFILE_DOCS]
        texts = [t for r in rows for t in r["text"]][:PROFILE_DOCS]
        out = kernelprof.profile(htmls, texts, self.wl.from_html)
        docs_in = self.props["docs"]
        survivors = docs_in - self.props["structural_rejects"]
        out["kernels.rules.docs_in"] = docs_in
        out["kernels.langid.docs_in"] = survivors
        out["operators.quality.survivor_frac"] = survivors / docs_in
        out.update(self.fence_ledger())
        out.update(self.span_ledger(recs))
        out["catalog.manifests_n"] = max(r["manifests"] for r in recs)
        out["catalog.files_written"] = _median([r["files_written"] for r in recs])
        out["catalog.bytes_written_per_input_byte"] = _median(
            [r["bytes_written"] / r["input_bytes"] for r in recs])
        for k in ("session.start_s", "models.build_s",
                  "operators.quality.broadcast_s", "warmup_s"):
            out[k] = setup[k]
        out["trace.overhead_s"] = (
            _median([r["run_s"] for r in recs if r["traced"]])
            - _median([r["run_s"] for r in recs if not r["traced"]]))
        return out

    # ------------------------------------------------------------ teardown

    def close(self) -> None:
        """Stop Spark, the JVM it launched and every process below it."""
        from pyspark import SparkContext

        tree = TreeRss.descendants()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while True:
            alive = [p for p in tree if _running(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 30
            time.sleep(0.1)
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.digest_path.write_text(json.dumps(self.digests, indent=1, sort_keys=True))


def _environment() -> None:
    """Worker and scratch settings; must run before pyspark starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    # Python workers import the fused UDF's module from here
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # one BLAS thread per process: Spark gives each Python worker one,
    # and the driver-side kernel profile should run the same way
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    sys.path.insert(0, str(REPO))


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (REPO / "streamcorpus_filter_spark" / "__init__.py").is_file() \
            or not (REPO / "run_pipeline.py").is_file():
        print(f"no program to benchmark under {REPO}", file=sys.stderr)
        return 2
    units = _declared("per_layer" if args.trace else "end_to_end")

    _environment()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        with TreeRss() as rss:
            setup = bench.setup()
            bench.build_oracle()
            from streamcorpus_filter_spark.catalog import SnapshotCatalog

            restore = bench.tracer.instrument(SnapshotCatalog, CATALOG_SPANS, "catalog")
            t_loop = time.perf_counter()
            try:
                recs = bench.loop(args.seconds)
            finally:
                restore()
            t_loop = time.perf_counter() - t_loop
        ledger = bench.ledger(recs, setup) if args.trace else None
        if args.trace:
            bench.tracer.write(WORK / "traces" / f"{args.workload}-s{args.seed}.json")
    finally:
        bench.close()
    failed = sum(1 for r in recs if r["errors"])
    run_s = [r["run_s"] for r in recs]
    e2e = {
        "setup_s": setup["setup_s"],
        "docs_per_s": sum(r["docs"] for r in recs) / sum(run_s),
        "batch_s_p50": _median(run_s),
        "read_s_p50": _median([s for r in recs for s in r["read_s"]]),
        "peak_rss_mb": rss.peak / 2**20,
    }
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "corpus": bench.props, "batches": len(recs),
        "loop_s": t_loop,
        "fail_frac": failed / len(recs),
        "errors": [e for r in recs for e in r["errors"]][:10],
        "end_to_end": e2e,
        "setup": setup,
        "batch_run_s": run_s,
        "batch_read_s": [r["read_s"] for r in recs],
    }
    print(json.dumps(details))
    values = ledger if args.trace else e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(recs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
