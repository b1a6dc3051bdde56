"""HTML -> visible-text extraction (the reference's ``clean_visible`` analog,
StreamItem.body.clean_visible [RECALL — SURVEY.md §1.1]).

BYTE-IDENTICAL INVARIANT (BASELINE.json:15): this single canonical kernel is
shared verbatim by the oracle and the Spark pandas-UDF path — extraction is
defined BY this function, not by a spec two codepaths re-implement
(SURVEY.md §7 "what's hard"). Keep it dependency-free and deterministic.
"""

from __future__ import annotations

import html as _htmllib
import re

_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_SCRIPT_STYLE_RE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_BLOCK_TAG_RE = re.compile(
    r"(?is)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote|section|article)\b[^>]*>"
)
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_HWS_RE = re.compile(r"[ \t\r\f\v]+")


def extract_text(html_bytes: bytes | None) -> str:
    """Deterministic visible-text extraction:

    1. strip comments, then <script>/<style> with their contents
    2. block-level tags become newlines (paragraph structure survives)
    3. remaining tags become spaces
    4. decode HTML entities (&amp; etc.)
    5. canonicalize horizontal whitespace per line, drop empty lines
    """
    if not html_bytes:
        return ""
    s = html_bytes.decode("utf-8", errors="replace")
    s = _COMMENT_RE.sub(" ", s)
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    s = _htmllib.unescape(s)
    # one pass over the whole string: the class excludes \n, so no run
    # crosses a line and the lines equal a per-line substitution
    lines = (ln.strip() for ln in _HWS_RE.sub(" ", s).split("\n"))
    return "\n".join(ln for ln in lines if ln)
