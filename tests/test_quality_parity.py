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
    in-process; the session only has to exist for pandas_udf."""
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
    got = body(col)
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
from pyspark import SparkContext
from streamcorpus_filter_spark.kernels.langid import LangIdModel
from streamcorpus_filter_spark.operators.quality import run_quality_pipeline
from streamcorpus_filter_spark.session import get_spark

counts = {"app_id": 0, "langid": 0}
_send = cs.ClientServerConnection.send_command
_broadcast = SparkContext.broadcast

def counting_send(self, command):
    # a py4j method call is "c\n<target>\n<method>\n..."
    counts["app_id"] += "\napplicationId\n" in command
    return _send(self, command)

def counting_broadcast(self, value):
    counts["langid"] += isinstance(value, LangIdModel)
    return _broadcast(self, value)

cs.ClientServerConnection.send_command = counting_send
SparkContext.broadcast = counting_broadcast

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
print(json.dumps({"first": first, "second": second, "fresh": fresh}))
s.stop()
"""


def test_application_id_is_read_once_per_context(tmp_path):
    """cached_broadcast reads the application id over py4j once per
    SparkContext: a second run_quality_pipeline call in the same
    application makes no applicationId JVM call and broadcasts nothing,
    while a new context after spark.stop() reads its own id and
    broadcasts the models afresh. Runs in its own process: it stops its
    session, which would kill the suite's shared one."""
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
    assert out["first"] == {"app_id": 1, "langid": 1}, out
    assert out["second"] == {"app_id": 0, "langid": 0}, out
    assert out["fresh"] == {"app_id": 1, "langid": 1}, out
