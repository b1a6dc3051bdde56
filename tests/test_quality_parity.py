"""L2 — oracle parity: the Spark pipeline vs the row-at-a-time oracle on
the synthetic pages corpus (BASELINE.json:2,15 — keep/drop F1 >= 0.99,
byte-identical scrubbed/extracted text per url).
"""

from __future__ import annotations

import math

import pytest

from streamcorpus_filter_spark.models import (
    default_charlm,
    default_langid,
)
from streamcorpus_filter_spark.oracle import oracle_row
from streamcorpus_filter_spark.synth import (
    PAGES_FILTER_NAMES,
    TOXIC_LEXICON,
    make_pages,
)
from tests.conftest import SF_SMALL

N_PAGES = 1200


@pytest.fixture(scope="module")
def pages():
    return make_pages(N_PAGES, seed=42)


@pytest.fixture(scope="module")
def oracle_results(pages):
    langid, lm = default_langid(), default_charlm()
    toxic = [t for t, _ in TOXIC_LEXICON]
    # oracle consumes html only — extraction parity is part of the check
    return [
        oracle_row(h, langid, lm, PAGES_FILTER_NAMES, toxic)
        for h in pages["html"]
    ]


@pytest.fixture(scope="module")
def spark_results(spark, pages):
    from streamcorpus_filter_spark.operators.quality import run_quality_pipeline

    df = spark.createDataFrame(
        list(zip(pages["url"], pages["warc_ts"], pages["html"], pages["text"], pages["lang"])),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = run_quality_pipeline(spark, df, extract_from_html=True)
    rows = out.collect()
    # pages urls contain duplicates (dedup fixture) — key by position
    return {(r.url, str(r.warc_ts)): r for r in rows}, rows


def test_text_column_is_extraction(pages):
    # by construction, but guards the generator + kernel contract
    from streamcorpus_filter_spark.kernels.extract import extract_text

    for h, t in zip(pages["html"][:200], pages["text"][:200]):
        assert extract_text(h) == t


def test_keep_drop_f1_and_reasons(pages, oracle_results, spark_results):
    by_key, rows = spark_results
    assert len(rows) == N_PAGES
    tp = fp = fn_ = 0
    reason_match = 0
    n = 0
    for url, ts, o in zip(pages["url"], pages["warc_ts"], oracle_results):
        r = by_key[(url, str(ts))]
        n += 1
        if r.keep and o.keep:
            tp += 1
        elif r.keep and not o.keep:
            fp += 1
        elif not r.keep and o.keep:
            fn_ += 1
        if (r.drop_reason or None) == (o.drop_reason or None):
            reason_match += 1
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn_, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.99, f"F1={f1} (tp={tp} fp={fp} fn={fn_})"
    assert reason_match / n >= 0.99, f"reason agreement {reason_match / n}"


def test_scrubbed_text_byte_identical(pages, oracle_results, spark_results):
    by_key, _ = spark_results
    checked = 0
    for url, ts, o in zip(pages["url"], pages["warc_ts"], oracle_results):
        r = by_key[(url, str(ts))]
        if o.keep and r.keep:
            assert r.scrubbed_text == o.scrubbed_text, url
            assert r.bytes_scrubbed == o.bytes_scrubbed, url
            checked += 1
    assert checked > N_PAGES * 0.4  # the corpus keeps a healthy majority


def test_stage_values_match(pages, oracle_results, spark_results):
    by_key, _ = spark_results
    lang_agree = 0
    n_scored = 0
    for url, ts, o in zip(pages["url"], pages["warc_ts"], oracle_results):
        r = by_key[(url, str(ts))]
        if o.lang_pred is not None and r.lang_pred is not None:
            n_scored += 1
            if o.lang_pred == r.lang_pred:
                lang_agree += 1
            assert math.isclose(r.lang_conf, o.lang_conf, rel_tol=1e-6, abs_tol=1e-9)
            assert math.isclose(r.ppl, o.ppl, rel_tol=1e-6)
        if o.patterns_matched is not None and r.patterns_matched is not None:
            assert r.patterns_matched == o.patterns_matched, url
            assert r.total_hits == o.total_hits, url
        if o.tox_hits is not None and r.tox_hits is not None:
            assert r.tox_hits == o.tox_hits, url
    assert n_scored > 0
    assert lang_agree / max(n_scored, 1) >= 0.995


def test_drop_reason_distribution_sane(oracle_results):
    from collections import Counter

    reasons = Counter(o.drop_reason for o in oracle_results if not o.keep)
    # the generator plants every major class; assert the big ones fired
    for expected in ["gopher_short", "gopher_bullet", "c4_lorem", "high_ppl", "rep_dup_lines", "toxic"]:
        assert reasons.get(expected, 0) > 0, (expected, reasons)


def test_fused_body_caps_each_kernel_call_at_block_rows(spark, monkeypatch):
    """The fused body walks an Arrow batch in blocks: langid and both
    automata never see more than KERNEL_BLOCK_ROWS docs in one call (the
    bound on langid's dense count matrices), and the batch's frame is
    exactly the concatenation of the per-block frames. The body runs
    in-process; the session only has to exist for pandas_udf, and
    nothing installs the zip-invalidation guard there."""
    import zipimport

    import pandas as pd

    from streamcorpus_filter_spark import models
    from streamcorpus_filter_spark.kernels.automaton import ACAutomaton
    from streamcorpus_filter_spark.kernels.langid import LangIdModel
    from streamcorpus_filter_spark.operators.quality import (
        KERNEL_BLOCK_ROWS,
        fused_pipeline_udf,
    )

    calls: list[tuple[str, int]] = []

    def spy(cls, name):
        real = getattr(cls, name)

        def recorded(self, texts):
            calls.append((name, len(texts)))
            return real(self, texts)

        monkeypatch.setattr(cls, name, recorded)

    spy(LangIdModel, "score_batch")
    spy(ACAutomaton, "count_batch")
    spy(ACAutomaton, "search_batch")

    class Broadcast:  # the body only reads .value
        def __init__(self, value):
            self.value = value

    body = fused_pipeline_udf(
        Broadcast(models.default_langid()), Broadcast(models.default_charlm()),
        Broadcast(models.pages_automaton()), Broadcast(models.toxic_automaton()),
        from_html=True,
    ).func
    col = pd.Series(make_pages(2000, seed=7)["html"], dtype=object)
    zi = zipimport.zipimporter
    unguarded = getattr(zi.invalidate_caches, "unguarded", zi.invalidate_caches)
    monkeypatch.setattr(zi, "invalidate_caches", unguarded)
    got = body(col)
    # outside a task the body leaves the import system alone
    assert zi.invalidate_caches is unguarded
    assert len(got) == 2000
    assert {n for n, _ in calls} == {"score_batch", "count_batch", "search_batch"}
    assert max(k for _, k in calls) <= KERNEL_BLOCK_ROWS, calls
    blocks = [
        body(col.iloc[i : i + KERNEL_BLOCK_ROWS])
        for i in range(0, len(col), KERNEL_BLOCK_ROWS)
    ]
    pd.testing.assert_frame_equal(got, pd.concat(blocks, ignore_index=True))


_SHARED_BROADCAST_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from streamcorpus_filter_spark.kernels.langid import LangIdModel
from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
from streamcorpus_filter_spark.queries import QUERIES
from streamcorpus_filter_spark.session import get_spark

made = []  # (application id, broadcast id) of every LangIdModel broadcast
_broadcast = SparkContext.broadcast

def recording_broadcast(self, value):
    bc = _broadcast(self, value)
    if isinstance(value, LangIdModel):
        made.append((self.applicationId, bc._jbroadcast.id()))
    return bc

SparkContext.broadcast = recording_broadcast

def session():
    s = get_spark(app_name="bc-cache", master="local[1]", shuffle_partitions=1)
    pages = s.createDataFrame([("u", "some text")], "url string, text string")
    run_quality_pipeline(s, pages)
    QUERIES["ql_langid"](s, sys.argv[2])
    run_quality_pipeline(s, pages)
    return s

s = session()
first = list(made)
s.stop()
s = get_spark(app_name="bc-cache", master="local[1]", shuffle_partitions=1)
own = s.sparkContext.broadcast("own")  # same id as a stopped-app entry
s = session()
alive = s.sparkContext.parallelize([0], 1).map(lambda _: own.value).collect()
print(json.dumps({"first": first, "all": made, "alive": alive,
                  "app": s.sparkContext.applicationId}))
s.stop()
"""


def test_pipeline_and_queries_share_one_model_broadcast(tmp_path):
    """One broadcast cache: within an application the pipeline and the
    ql_langid query reuse ONE langid broadcast (not one per code path).
    After spark.stop() a new application broadcasts afresh instead of
    reusing a stopped context's broadcast, and retiring the stopped
    application's entries leaves the new one's broadcasts readable
    (ids restart at 0 per context). Runs in its own process: it stops
    its session, which would kill the suite's shared one."""
    import json
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, "-c", _SHARED_BROADCAST_SCRIPT, str(repo),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    first = [tuple(x) for x in out["first"]]
    made = [tuple(x) for x in out["all"]]
    assert len(first) == 1, first
    assert len(made) == 2, made
    assert made[1][0] == out["app"] != first[0][0], made
    assert out["alive"] == ["own"]


_APP_ID_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from py4j import clientserver as cs
import pyspark.core.rdd as rdd
from pyspark import SparkContext
from streamcorpus_filter_spark.kernels.langid import LangIdModel
from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
from streamcorpus_filter_spark.session import get_spark

counts = {"app_id": 0, "langid": 0, "udf": 0}
langid_jvm, udf_jvm = [], []
_send = cs.ClientServerConnection.send_command
_broadcast = SparkContext.broadcast
_prepare = rdd._prepare_for_python_RDD

def counting_send(self, command):
    # a py4j method call is "c\n<target>\n<method>\n..."
    counts["app_id"] += "\napplicationId\n" in command
    return _send(self, command)

def counting_broadcast(self, value):
    b = _broadcast(self, value)
    if isinstance(value, LangIdModel):
        counts["langid"] += 1
        langid_jvm.append(b._jbroadcast._target_id)
    return b

def counting_prepare(sc, command):
    # every Python UDF's function is pickled here, with the JVM handles
    # of the broadcasts its closure holds
    out = _prepare(sc, command)
    counts["udf"] += 1
    udf_jvm.append({jb._target_id for jb in out[1]})
    return out

cs.ClientServerConnection.send_command = counting_send
SparkContext.broadcast = counting_broadcast
rdd._prepare_for_python_RDD = counting_prepare

def pipeline_call(s, pages):
    before = dict(counts)
    run_quality_pipeline(s, pages)
    return {k: counts[k] - before[k] for k in counts}

def session():
    s = get_spark(app_name="bc-app-id", master="local[1]", shuffle_partitions=1)
    return s, s.createDataFrame([("u", "some text")], "url string, text string")

s, pages = session()
first, second = pipeline_call(s, pages), pipeline_call(s, pages)
s.stop()
s, pages = session()
fresh = pipeline_call(s, pages)
own = langid_jvm[-1] in udf_jvm[-1] and langid_jvm[0] not in udf_jvm[-1]
print(json.dumps({"first": first, "second": second, "fresh": fresh, "own": own}))
s.stop()
"""


def test_application_id_is_read_once_per_context(tmp_path):
    """queries.cached reads the application id over py4j once per
    SparkContext: a second run_quality_pipeline call in the same
    application makes no applicationId JVM call, broadcasts nothing and
    pickles no new fused UDF, while a new context after spark.stop()
    reads its own id, broadcasts the models afresh and builds the UDF
    afresh on those new broadcasts. Runs in its own process: it stops
    its session, which would kill the suite's shared one."""
    import json
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, "-c", _APP_ID_SCRIPT, str(repo)],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["first"] == {"app_id": 1, "langid": 1, "udf": 1}, out
    assert out["second"] == {"app_id": 0, "langid": 0, "udf": 0}, out
    assert out["fresh"] == {"app_id": 1, "langid": 1, "udf": 1}, out
    assert out["own"], out


def _count_rereads() -> int:
    """zipimport._read_directory calls made by one
    importlib.invalidate_caches()."""
    import importlib
    import zipimport

    n = 0
    real = zipimport._read_directory

    def counting(path):
        nonlocal n
        n += 1
        return real(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    return n


def test_zip_invalidation_guard_rereads_only_changed_archives(
    tmp_path, monkeypatch
):
    """guard_zip_invalidation: outside a task it installs nothing; in
    one, an unchanged archive is not re-read by
    importlib.invalidate_caches(), a rewritten one is (its new module
    imports), and on Python >= 3.13 the install changes nothing."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from pyspark import TaskContext

    from streamcorpus_filter_spark._zipguard import guard_zip_invalidation

    zi = zipimport.zipimporter
    unguarded = getattr(zi.invalidate_caches, "unguarded", zi.invalidate_caches)
    # undone at teardown, whatever an earlier install in this process did
    monkeypatch.setattr(zi, "invalidate_caches", unguarded)
    assert TaskContext.get() is None
    guard_zip_invalidation()
    assert zi.invalidate_caches is unguarded
    # from here on the calls run as if in a worker's task
    monkeypatch.setattr(TaskContext, "get", lambda: object())
    mod = "zipguard_probe_mod"
    archive = tmp_path / "mods.zip"

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{mod}.py", body)

    write("X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, mod, raising=False)
    try:
        assert importlib.import_module(mod).X == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zi)

        guard_zip_invalidation()
        guarded = zi.invalidate_caches
        assert guarded is not unguarded
        guard_zip_invalidation()  # idempotent
        assert zi.invalidate_caches is guarded
        assert _count_rereads() == 0

        write("X = 22  # a different size\n")
        assert _count_rereads() >= 1
        del sys.modules[mod]
        assert importlib.import_module(mod).X == 22
        assert _count_rereads() == 0
    finally:
        sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(str(archive), None)

    with monkeypatch.context() as m:
        m.setattr(zi, "invalidate_caches", unguarded)
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        guard_zip_invalidation()
        assert zi.invalidate_caches is unguarded


# the workers' entry module (spark.python.worker.module; the name must
# start with "pyspark"): counts the zip re-reads of each task's set-up
_ZIPCOUNT_WORKER = r"""
import importlib, zipimport
from pyspark import worker

last = None  # re-reads in the latest importlib.invalidate_caches()
_n = 0
_read = zipimport._read_directory
_invalidate = importlib.invalidate_caches

def _counting_read(path):
    global _n
    _n += 1
    return _read(path)

def _counting_invalidate():
    global _n, last
    _n = 0
    _invalidate()
    last = _n

zipimport._read_directory = _counting_read
importlib.invalidate_caches = _counting_invalidate
main = worker.main
"""

_WORKER_GUARD_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
import pyspark.sql.functions as F
from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
from streamcorpus_filter_spark.queries import QUERIES
from streamcorpus_filter_spark.session import get_spark

s = get_spark(app_name="zip-guard", master="local[1]", shuffle_partitions=1,
              extra_conf={"spark.python.worker.module": "pyspark_zipcount"})

@F.pandas_udf("long")
def setup_rereads(col: pd.Series) -> pd.Series:
    import pyspark_zipcount
    return pd.Series([pyspark_zipcount.last] * len(col))

case = sys.argv[2]
if case == "pipeline":
    pages = s.createDataFrame([("u", "some text")], "url string, text string")
    run_quality_pipeline(s, pages).collect()
else:
    QUERIES[case](s, sys.argv[3]).collect()
out = s.range(1).select(setup_rereads("id").alias("n")).collect()[0]["n"]
print(json.dumps({"rereads": out}))
s.stop()
"""


@pytest.mark.parametrize("case", ["pipeline", "ql_langid", "ql_pii_scrub"])
def test_fence_worker_skips_unchanged_zip_rereads(tmp_path, case):
    """After a pipeline task, or a query whose UDF imports the package
    (a pandas_udf, a mapInPandas), the reused Python worker's next task
    set-up (PySpark's per-task importlib.invalidate_caches()) re-reads
    no zip archive: pyspark.zip, the py4j zip and the Spark jar sit on
    its path. local[1] keeps one worker; its own process, because it
    stops its session."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    (tmp_path / "pyspark_zipcount.py").write_text(_ZIPCOUNT_WORKER)
    # the Python workers import the package and the entry module
    path = os.pathsep.join(
        filter(None, [str(repo), str(tmp_path), os.environ.get("PYTHONPATH")])
    )
    r = subprocess.run(
        [sys.executable, "-c", _WORKER_GUARD_SCRIPT, str(repo), case, SF_SMALL],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": path},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out == {"rereads": 0}, out
