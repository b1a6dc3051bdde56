"""bench.py's driver-facing output, without Spark.

``emit`` must always terminate with a final stdout line that the
driver's ~2 KB tail capture can parse, and ``main`` must reject unknown
``--queries`` ids before it pays for the pages corpus."""

from __future__ import annotations

import json
import sys
import threading

import pytest

import bench


def _emit(out: dict, tmp_path, monkeypatch, capsys) -> dict:
    # BENCH_DETAIL.json and HISTORY.jsonl land under tmp_path/BENCH
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    t = threading.Thread(target=bench.emit, args=(out,), daemon=True)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "emit() did not return"
    lines = capsys.readouterr().out.splitlines()
    assert (tmp_path / "BENCH" / "BENCH_DETAIL.json").exists()
    assert json.loads(lines[-2]) == out  # full detail line first
    return json.loads(lines[-1])


def _out(queries: dict, metric: str = "headline_total") -> dict:
    return {"metric": metric, "value": round(sum(queries.values()), 3),
            "unit": "sec", "queries": queries, "sf": 0.1, "cores": 4,
            "spark_control_wall": 0.2,
            "wall_ratios": {k: 1.0 for k in queries}}


def test_emit_terminates_when_only_uncuttable_fields_are_long(
        tmp_path, monkeypatch, capsys):
    queries = {"pipeline": 12.5, "flagship": 4.5, "dedup_minhash": 9.5,
               "sim_topk": 5.6, "relational": 7.7, "skew_salted": 4.3}
    out = _out(queries, metric="m" * 2000)
    last = _emit(out, tmp_path, monkeypatch, capsys)
    assert last["metric"] == out["metric"]
    assert last["queries"] == {"pipeline": 12.5, "dedup_minhash": 9.5,
                               "relational": 7.7, "_truncated": 3}


def test_emit_truncation_keeps_slowest_and_counts_every_drop(
        tmp_path, monkeypatch, capsys):
    queries = {f"query_{i:03d}_{'x' * 24}": round(0.01 * (i + 1), 3)
               for i in range(120)}
    last = _emit(_out(queries), tmp_path, monkeypatch, capsys)
    shown = dict(last["queries"])
    dropped = shown.pop("_truncated")
    assert len(json.dumps(last)) <= 1800
    assert dropped == len(queries) - len(shown)
    slowest = sorted(queries, key=queries.get, reverse=True)[: len(shown)]
    assert shown == {k: queries[k] for k in slowest}


def test_unknown_queries_rejected_before_corpus_build(monkeypatch):
    def no_corpus(*a, **k):
        raise AssertionError("pages corpus built before --queries check")

    monkeypatch.setattr(bench, "pages_parquet", no_corpus)
    monkeypatch.setattr(sys, "argv", ["bench.py", "--queries", "pipeline,nope"])
    with pytest.raises(SystemExit, match="unknown --queries"):
        bench.main()
