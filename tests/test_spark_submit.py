"""North-rule launch contract: `spark-submit --py-files scfs.zip
run_pipeline.py ...` (BASELINE.json north_star). The CLI is copied into a
bare temp directory before launching, so the package import can ONLY be
satisfied by the --py-files zip — a genuine packaging test, not a
sys.path accident."""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    import pyspark

    return str(pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit")


def test_spark_submit_py_files_zip_end_to_end():
    work = pathlib.Path(tempfile.mkdtemp(prefix="submit_"))

    # 1. build the zip with the CLI's own packager
    zip_path = work / "scfs.zip"
    subprocess.run(
        [sys.executable, str(REPO / "run_pipeline.py"), "--make-zip", str(zip_path)],
        check=True, capture_output=True, cwd=REPO,
    )
    assert zip_path.exists() and zip_path.stat().st_size > 10_000

    # 2. small input corpus in the input_hint shape
    sys.path.insert(0, str(REPO))
    from streamcorpus_filter_spark.synth import write_pages_dir

    inp = work / "pages"
    write_pages_dir(str(inp), 300, seed=7, files=4)

    # 3. launch from a bare dir: only run_pipeline.py + the zip present
    launch = work / "launch"
    launch.mkdir()
    shutil.copy(REPO / "run_pipeline.py", launch / "run_pipeline.py")
    table = work / "table"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["SPARK_GRAFT_CPUS"] = "4"
    r = subprocess.run(
        [
            _spark_submit(), "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(launch / "run_pipeline.py"),
            "--input", str(inp), "--table", str(table), "--from-html",
        ],
        capture_output=True, text=True, timeout=420, cwd=launch, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    status_line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    status = json.loads(status_line)
    assert status["status"] == "committed"

    # 4. snapshot + observed metrics + per-file lineage all landed
    manifests = sorted((table / "snapshots").glob("*.json"))
    assert len(manifests) == 1
    m = json.loads(manifests[0].read_text())
    assert m["metrics"]["docs_seen"] == 300
    assert m["metrics"]["docs_kept"] > 0
    assert len(m["input_files"]) == 4
    lineage = m["metrics"]["lineage"]
    assert all(len(v) == 4 for v in lineage.values())
    assert sum(lineage["docs_seen"]) == 300


def test_task_slots_parser():
    from streamcorpus_filter_spark.session import _task_slots

    assert _task_slots("local[8]") == 8
    assert _task_slots("local[*]") == 32
    assert _task_slots("local-cluster[8,2,3072]") == 16
    assert _task_slots("local-cluster[2,4,2048]") == 8
    # cluster URLs: the launcher's conf decides
    assert _task_slots("yarn") is None
    assert _task_slots("spark://host:7077") is None
    assert _task_slots("k8s://https://host:443") is None


def test_spark_submit_local_cluster_master_honored():
    """get_spark() must NOT override a spark-submit-provided master: under
    `--master local-cluster[2,2,2048]` the job has to run on 2 separate
    executor JVMs (the north rule's multi-executor launch), not fall back
    to single-JVM local[N]. Regression test for the builder.master()
    override bug; also asserts the post-create shuffle-partition fixup
    (slots=4 -> 8 floor)."""
    work = pathlib.Path(tempfile.mkdtemp(prefix="submit_lc_"))
    zip_path = work / "scfs.zip"
    subprocess.run(
        [sys.executable, str(REPO / "run_pipeline.py"), "--make-zip", str(zip_path)],
        check=True, capture_output=True, cwd=REPO,
    )
    driver = work / "driver.py"
    driver.write_text(
        "import json, os\n"
        "from streamcorpus_filter_spark.session import get_spark\n"
        "spark = get_spark(app_name='lc-test')\n"
        "ppids = sorted(set(spark.sparkContext.parallelize(range(8), 8)"
        ".map(lambda _: __import__('os').getppid()).collect()))\n"
        "print(json.dumps({'master': spark.conf.get('spark.master'),"
        " 'shuffle': spark.conf.get('spark.sql.shuffle.partitions'),"
        " 'n_executor_jvms': len(ppids)}))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [
            _spark_submit(), "--master", "local-cluster[2,2,2048]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(driver),
        ],
        capture_output=True, text=True, timeout=420, cwd=work, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out["master"] == "local-cluster[2,2,2048]"
    assert out["n_executor_jvms"] == 2
    assert out["shuffle"] == "8"
