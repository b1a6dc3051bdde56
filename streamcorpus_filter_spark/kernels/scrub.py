"""PII + toxicity scrubbing (SURVEY.md §2.2 ql_pii_scrub / ql_toxicity_scrub).

``scrub_pii`` is a single canonical ordered regex chain shared verbatim by
oracle and UDF (byte-identical invariant, BASELINE.json:15). Rule order is
part of the spec: email before phone/SSN so an address containing digits is
consumed as one token; SSN before phone so 3-2-4 groups never half-match the
phone rule.

``mask_spans`` applies toxicity masking given hit spans: word-boundary
validated, overlapping spans merged, each merged span replaced by <TOX>.
The span *finder* differs between pipeline (``toxic_spans_batch``, one
Aho-Corasick pass per batch) and oracle (bytes.find loop); the masker is
shared so the output bytes are defined once. Toxicity scanning lowercases
with bytes.lower() (ASCII-only) so byte offsets are stable w.r.t. the
original text.
"""

from __future__ import annotations

import re

# re.ASCII: \d means [0-9] exactly — matching the byte-level reference
# semantics (a C scanner never matches Unicode digits) and measurably
# faster; the classes are otherwise ASCII-explicit already.
SCRUB_RULES: list[tuple[str, re.Pattern[str], str]] = [
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}", re.ASCII), "<EMAIL>"),
    ("ssn", re.compile(r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)", re.ASCII), "<SSN>"),
    (
        "phone",
        re.compile(r"(?<![\d+])(?:\+?1[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}(?!\d)", re.ASCII),
        "<PHONE>",
    ),
    ("ipv4", re.compile(r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])", re.ASCII), "<IP>"),
]


# Trigger gates: one necessary substring per rule — a pattern that every
# match of the rule contains — searched on the text the rule actually sees
# (after the earlier rules replaced their matches). A rule whose gate finds
# nothing has no match, so skipping it is byte-identical. A digit rule's
# gate is its match without the lookarounds and optional prefix: a bare
# digit gate never skips on crawl text, where every survivor has a digit.
_GATES = {
    "email": lambda text: "@" in text,
    "ssn": re.compile(r"\d-\d{2}-\d", re.ASCII).search,
    "phone": re.compile(r"\d{3}\)?[ .-]\d{3}[ .-]\d{4}", re.ASCII).search,
    "ipv4": re.compile(r"\d\.\d{1,3}\.\d{1,3}\.\d", re.ASCII).search,
}


def scrub_pii(text: str) -> tuple[str, int, int]:
    """Returns (scrubbed_text, bytes_scrubbed, n_pii_hits).
    bytes_scrubbed = UTF-8 length of all replaced source spans."""
    total_bytes = 0
    total_hits = 0
    for name, pat, repl in SCRUB_RULES:
        if not _GATES[name](text):
            continue
        spans: list[str] = []

        def _sub(m: re.Match[str]) -> str:
            spans.append(m.group(0))
            return repl

        text, n = pat.subn(_sub, text)
        total_hits += n
        total_bytes += sum(len(s.encode("utf-8")) for s in spans)
    return text, total_bytes, total_hits


TOX_PLACEHOLDER = "<TOX>"

_WORD_BYTES = frozenset(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


def boundary_ok(data: bytes, begin: int, end: int) -> bool:
    """True when [begin,end) sits on word boundaries in ``data``."""
    if begin > 0 and data[begin - 1] in _WORD_BYTES and data[begin] in _WORD_BYTES:
        return False
    if end < len(data) and data[end - 1] in _WORD_BYTES and data[end] in _WORD_BYTES:
        return False
    return True


def toxic_spans_batch(ac, texts: list[str]) -> list[list[tuple[int, int]]]:
    """Word-boundary-valid toxic-lexicon hit spans (byte offsets) of each
    text, found by one search over the whole batch with the lexicon
    automaton ``ac`` (kernels.automaton.ACAutomaton)."""
    data = [t.encode("utf-8").lower() for t in texts]
    rows, begins, pids = ac.search_batch(data)
    spans: list[list[tuple[int, int]]] = [[] for _ in texts]
    lens = ac.pat_lens
    for r, b, p in zip(rows.tolist(), begins.tolist(), pids.tolist()):
        e = b + int(lens[p])
        if boundary_ok(data[r], b, e):
            spans[r].append((b, e))
    return spans


def mask_spans(text: str, spans: list[tuple[int, int]]) -> tuple[str, int]:
    """Replace (byte-offset) spans with TOX_PLACEHOLDER; overlapping or
    touching spans merge first. Returns (masked_text, bytes_scrubbed)."""
    if not spans:
        return text, 0
    data = text.encode("utf-8")
    spans = sorted(spans)
    merged: list[list[int]] = [list(spans[0])]
    for b, e in spans[1:]:
        if b <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([b, e])
    out: list[bytes] = []
    prev = 0
    scrubbed = 0
    repl = TOX_PLACEHOLDER.encode("utf-8")
    for b, e in merged:
        out.append(data[prev:b])
        out.append(repl)
        scrubbed += e - b
        prev = e
    out.append(data[prev:])
    return b"".join(out).decode("utf-8"), scrubbed
