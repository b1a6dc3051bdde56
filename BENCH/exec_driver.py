#!/usr/bin/env python
"""spark-submit driver for the N-vs-4N *executor* scaling demo.

Launched by BENCH/run_executor_scaling.py as

    spark-submit --master local-cluster[E,C,M] \
        --py-files scfs.zip BENCH/exec_driver.py \
        --pages-path <dir> --slots E*C [--repeat 3]

i.e. the north rule's exact launch contract (BASELINE.json:14:
"run via spark-submit --py-files on a multi-executor cluster at two
cluster sizes"). `local-cluster` is Spark's pseudo-cluster master: it
spawns E *separate executor JVM processes* (each with its own heap,
task threads, and Python worker pool) and shuffles between them over
loopback — unlike local[N], which is one JVM and in-process "shuffle".
The harness runs this driver at E=2 and E=8 executors (N and 4N) on
identical input and reports throughput at both plus the efficiency.

Import discipline: this script adds NOTHING to sys.path — the
`streamcorpus_filter_spark` package must resolve from the --py-files
zip alone (the harness launches with cwd set to a scratch dir so the
repo checkout is not importable). That makes each run a packaging test
of the zip as well: a module missing from the zip fails loudly here
and would fail the same way on a real cluster.

The timing protocol mirrors bench.py: warm passes first (worker fork +
model unpickle + JIT are one-time costs a long job amortizes), then
best-of-N walls of the full pipeline materialized through the noop
sink, with one Spark-native control job (fixed xxhash64 sum, 128
tasks) interleaved before every sample so the harness can normalize
away host-steal weather between the two levels' time windows.

Prints exactly one JSON line on the last stdout line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-path", required=True)
    ap.add_argument("--slots", type=int, required=True,
                    help="total task slots (executors * cores/executor)")
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()

    import pyspark.sql.functions as F

    # resolves from the --py-files zip; get_spark(master=None) picks up
    # the spark-submit-provided master instead of defaulting to local[N]
    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
    from streamcorpus_filter_spark.session import get_spark

    # pin split size across levels (bench.py finding 8): unpinned, Spark
    # sizes splits off defaultParallelism, so the N level would get ~5
    # fat tasks and the 4N level dozens — the comparison would partly
    # measure task granularity, not the plan. 16 MB won bench.py's A/B.
    spark = get_spark(app_name="exec-scaling", extra_conf={
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
    })
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.conf.get("spark.master")

    def force(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def control_wall() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 128).selectExpr(
            "sum(pmod(xxhash64(id), 1024)) AS s"
        ).collect()
        return time.perf_counter() - t0

    pages = spark.read.parquet(args.pages_path)
    n_pages = pages.count()

    # warm: fork + model-load + JIT every executor's python workers
    warm = pages.limit(args.slots * 100).repartition(args.slots)
    for _ in range(2):
        force(run_quality_pipeline(spark, warm, extract_from_html=True))

    walls: list[float] = []
    controls: list[float] = []
    for _ in range(args.repeat):
        controls.append(control_wall())
        t0 = time.perf_counter()
        force(run_quality_pipeline(spark, pages, extract_from_html=True))
        walls.append(time.perf_counter() - t0)

    # proof of multi-process execution: each python worker reports its
    # parent (the executor JVM) — distinct ppids == distinct executors
    ppids = sorted(set(
        spark.sparkContext.parallelize(range(args.slots * 4), args.slots * 4)
        .map(lambda _: __import__("os").getppid())
        .collect()
    ))

    best = min(walls)
    print(json.dumps({
        "master": master,
        "slots": args.slots,
        "n_pages": n_pages,
        "wall_s": round(best, 3),
        "walls": [round(w, 3) for w in walls],
        "docs_per_sec": round(n_pages / best, 1),
        "control_wall_s": round(min(controls), 3),
        "n_executor_jvms": len(ppids),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
