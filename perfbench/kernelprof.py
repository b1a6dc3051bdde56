"""Spark-free profile of the quality kernels on a workload's own documents.

Each stage is timed as the fused UDF body runs it: extract over every
input doc, the structural rules over every doc, and the model stages
over the docs the rules keep. Times are the best of ``reps`` runs of
``time.process_time`` and are reported in ms per *input* doc, so the
stage figures add up against the fused body's. The fused body itself is
``fused_pipeline_udf(...).func`` called on stub broadcasts; what it
spends beyond the stage sum is reported as unattributed.
"""

from __future__ import annotations

import time
from typing import Callable


class _Broadcast:
    """Stands in for a Spark broadcast: the fused body reads ``.value``."""

    def __init__(self, value) -> None:
        self.value = value


def _best(reps: int, fn: Callable[[], object]) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.process_time()
        fn()
        best = min(best, time.process_time() - t0)
    return best


def profile(htmls: list[bytes], texts: list[str], from_html: bool,
            reps: int = 3) -> dict[str, float]:
    import pandas as pd

    from streamcorpus_filter_spark import models
    from streamcorpus_filter_spark.kernels import rules
    from streamcorpus_filter_spark.kernels.extract import extract_text
    from streamcorpus_filter_spark.kernels.scrub import boundary_ok, mask_spans, scrub_pii
    from streamcorpus_filter_spark.operators.quality import fused_pipeline_udf

    langid, lm = models.default_langid(), models.default_charlm()
    ent_ac, tox_ac = models.pages_automaton(), models.toxic_automaton()
    n = len(htmls)

    t = {"extract": _best(reps, lambda: [extract_text(h) for h in htmls])}
    docs = [extract_text(h) for h in htmls] if from_html else texts
    t["rules"] = _best(reps, lambda: [rules.structural_reason_fast(d) for d in docs])
    live = [d for d in docs if rules.structural_reason_fast(d) is None]
    enc = [d.lower().encode("utf-8") for d in live]
    t["langid"] = _best(reps, lambda: langid.score_batch(enc))
    t["lm"] = _best(reps, lambda: lm.ppl_batch(enc))
    t["entity"] = _best(reps, lambda: ent_ac.count_batch(enc))
    t["scrub"] = _best(reps, lambda: [scrub_pii(d) for d in live])
    scrubbed = [scrub_pii(d)[0] for d in live]

    def toxic() -> None:
        data = [s.encode("utf-8").lower() for s in scrubbed]
        rows, begins, pids = tox_ac.search_batch(data)
        spans: list[list[tuple[int, int]]] = [[] for _ in data]
        for r, b, p in zip(rows.tolist(), begins.tolist(), pids.tolist()):
            e = b + int(tox_ac.pat_lens[p])
            if boundary_ok(data[r], b, e):
                spans[r].append((b, e))
        for s, sp in zip(scrubbed, spans):
            if len(sp) < rules.TOX_DROP_HITS:
                mask_spans(s, sp)

    t["toxic"] = _best(reps, toxic)

    body = fused_pipeline_udf(
        _Broadcast(langid), _Broadcast(lm), _Broadcast(ent_ac),
        _Broadcast(tox_ac), from_html=from_html,
    ).func
    col = pd.Series(htmls if from_html else texts, dtype=object)
    t["fused"] = _best(reps, lambda: body(col))

    stages = ["rules", "langid", "lm", "entity", "scrub", "toxic"]
    if from_html:
        stages.insert(0, "extract")
    per_doc = {k: v * 1e3 / n for k, v in t.items()}
    return {
        "kernels.extract.ms_per_doc": per_doc["extract"],
        "kernels.rules.ms_per_doc": per_doc["rules"],
        "kernels.langid.ms_per_doc": per_doc["langid"],
        "kernels.lm.ms_per_doc": per_doc["lm"],
        "kernels.automaton.entity_ms_per_doc": per_doc["entity"],
        "kernels.automaton.toxic_ms_per_doc": per_doc["toxic"],
        "kernels.scrub.ms_per_doc": per_doc["scrub"],
        "operators.quality.fused_ms_per_doc": per_doc["fused"],
        "operators.quality.unattributed_ms_per_doc":
            per_doc["fused"] - sum(per_doc[s] for s in stages),
    }
