"""Gopher/C4-style heuristic keep/drop rules — THE SPEC.

This module is the single source of truth for every threshold and every
signal definition. Three independent implementations consume it:
  * structural_reason_fast below — the fused pipeline kernel
    (operators/quality.fused_pipeline_udf)
  * the scalar structural_signals + structural_drop_reason pair — the
    row-at-a-time oracle (oracle.py), also exposed as columns for the
    ql_* inventory queries (operators/quality.with_structural_signals)
  * DuckDB oracle SQL for the driver-checked signal queries

Signals follow the published Gopher (Rae et al. 2021, §A1.1) and C4
(Raffel et al. 2020, §2.2) filters, adapted to the synthetic corpus scale.

Tokenization spec: ASCII-whitespace split ([ \\t\\n\\r\\f\\v]+), empty
tokens dropped — chosen because Java regex \\s and Python str.split()
disagree on unicode spaces; pinning the class keeps all three
implementations identical. Lines: split on \\n (extraction already drops
empty lines and canonicalizes horizontal whitespace).
"""

from __future__ import annotations

import re
from collections import Counter
from itertools import filterfalse

# --- tokenization ---------------------------------------------------------
TOKEN_SPLIT_PY = re.compile(r"[ \t\n\r\f\v]+")

# --- thresholds (tuned on the synthetic corpus; structure per Gopher/C4) --
MIN_WORDS = 50
MAX_WORDS = 10_000
MIN_MEAN_WORD_LEN = 1.0   # zh prose averages ~1.16 chars/word
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_TO_WORD = 0.10          # '#' + '...' occurrences per word
MAX_BULLET_LINE_FRAC = 0.30        # lines starting '- ' / '* ' / '• '
MAX_ELLIPSIS_LINE_FRAC = 0.30      # lines ending '...' / '…'
MIN_ALPHA_WORD_FRAC = 0.70         # words containing >=1 letter
MIN_STOPWORDS = 2
MIN_TERMINAL_PUNCT = 3             # sentence-count proxy (., !, ?, 。)
MIN_LINE_PUNCT_FRAC = 0.50         # lines ending in terminal punctuation
MAX_DUP_LINE_FRAC = 0.30
MAX_TOP2GRAM_FRAC = 0.20
MIN_LANG_CONF = 0.30
MAX_PPL = 100.0  # measured: clean max ~24, gibberish min ~347 (synth corpus)
TOX_DROP_HITS = 3                  # >=3 lexicon hits -> drop; 1-2 -> mask

# small multilingual stopword set (function words of the 5 corpus langs)
STOPWORDS = (
    "the and of to in is was for with that a on as it at by".split()
    + "le la les et de un une est dans pour avec que ne pas du au".split()
    + "el los las y en que es por con para una del se no".split()
    + "der die das und ist nicht mit von zu ein eine für auf dem".split()
    + "的 一 是 不 了 人 我 在 有 他 这 中 大 来 上".split()
)
STOPWORD_SET = frozenset(STOPWORDS)

BULLET_PREFIXES = ("- ", "* ", "• ")
ELLIPSIS_SUFFIXES = ("...", "…")
TERMINAL_PUNCT = ".!?。"

# drop reasons in first-drop-wins order (SURVEY.md §2.2 ql_keep_drop)
DROP_ORDER = [
    "gopher_short",
    "gopher_long",
    "gopher_word_len",
    "gopher_symbol",
    "gopher_bullet",
    "gopher_ellipsis",
    "gopher_alpha",
    "gopher_stopwords",
    "c4_lorem",
    "c4_brace",
    "c4_sentences",
    "c4_line_punct",
    "rep_dup_lines",
    "rep_top2gram",
    "lang_uncertain",
    "high_ppl",
    "toxic",
]


def tokens(text: str) -> list[str]:
    return [t for t in TOKEN_SPLIT_PY.split(text) if t]


def lines(text: str) -> list[str]:
    return [ln for ln in text.split("\n") if ln]


def structural_signals(text: str) -> dict[str, float]:
    """Pure-Python reference implementation of every structural signal
    (the oracle's path; with_structural_signals maps it over a column).
    structural_reason_fast is the pipeline's disjoint twin."""
    toks = tokens(text)
    lns = lines(text)
    n_words = len(toks)
    n_lines = max(len(lns), 1)
    nw = max(n_words, 1)
    mean_wl = sum(len(t) for t in toks) / nw
    symbols = text.count("#") + text.count("...")
    bullet = sum(1 for ln in lns if ln.startswith(BULLET_PREFIXES))
    ellipsis = sum(1 for ln in lns if ln.endswith(ELLIPSIS_SUFFIXES))
    alpha = sum(1 for t in toks if any(c.isalpha() for c in t))
    stop = sum(1 for t in toks if t.lower() in STOPWORD_SET)
    term = sum(text.count(c) for c in TERMINAL_PUNCT)
    line_punct = sum(1 for ln in lns if ln and ln[-1] in TERMINAL_PUNCT)
    dup_lines = (len(lns) - len(set(lns))) / n_lines
    grams: dict[tuple[str, str], int] = {}
    for a, b in zip(toks, toks[1:]):
        grams[(a, b)] = grams.get((a, b), 0) + 1
    top2 = max(grams.values()) if grams else 0
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_per_word": symbols / nw,
        "bullet_frac": bullet / n_lines,
        "ellipsis_frac": ellipsis / n_lines,
        "alpha_frac": alpha / nw,
        "n_stopwords": stop,
        "has_lorem": int("lorem ipsum" in text.lower()),
        "has_brace": int("{" in text),
        "n_terminal": term,
        "line_punct_frac": line_punct / n_lines,
        "dup_line_frac": dup_lines,
        "top2gram_frac": (2 * top2) / nw,
    }


# --- fast batch path (the Spark fused-kernel implementation) --------------
# findall of non-whitespace runs == split on the class + drop empties,
# in one C pass with no empty-string garbage (measured ~1.5x)
_TOKEN_RE = re.compile(r"[^ \t\n\r\f\v]+")


def structural_reason_fast(text: str) -> str | None:
    """C-accelerated twin of structural_signals + structural_drop_reason:
    identical signal arithmetic (same numerators/denominators, so float
    comparisons bit-match), identical first-drop-wins order, but each rule
    evaluates lazily — a doc dropped by a cheap rule never pays the
    top-bigram Counter. The scalar pair above stays the oracle's code path
    (shared constants, disjoint loops — SURVEY.md §0)."""
    toks = _TOKEN_RE.findall(text)
    n_words = len(toks)
    if n_words < MIN_WORDS:
        return "gopher_short"
    if n_words > MAX_WORDS:
        return "gopher_long"
    nw = max(n_words, 1)
    mean_wl = sum(map(len, toks)) / nw
    if not (MIN_MEAN_WORD_LEN <= mean_wl <= MAX_MEAN_WORD_LEN):
        return "gopher_word_len"
    if (text.count("#") + text.count("...")) / nw > MAX_SYMBOL_TO_WORD:
        return "gopher_symbol"
    lns = [ln for ln in text.split("\n") if ln]
    n_lines = max(len(lns), 1)
    if sum(1 for ln in lns if ln.startswith(BULLET_PREFIXES)) / n_lines > MAX_BULLET_LINE_FRAC:
        return "gopher_bullet"
    if sum(1 for ln in lns if ln.endswith(ELLIPSIS_SUFFIXES)) / n_lines > MAX_ELLIPSIS_LINE_FRAC:
        return "gopher_ellipsis"
    # count the complement: filterfalse(str.isalpha) skips the
    # overwhelmingly common pure-letter token in C, and only the rest pay
    # the char scan. That scan is the SAME predicate the scalar spec uses
    # (any(c.isalpha())), not a regex class — Python's [^\W\d_] also
    # matches \w-but-not-alpha chars (superscripts like '²', No/Nl
    # numerics), which would silently diverge from the spec
    alpha = n_words - sum(
        1 for t in filterfalse(str.isalpha, toks) if not any(map(str.isalpha, t))
    )
    if alpha / nw < MIN_ALPHA_WORD_FRAC:
        return "gopher_alpha"
    # the rule only needs "are there >= MIN_STOPWORDS" — stop counting at
    # the threshold (typically within the first dozen tokens)
    n_stop = 0
    for t in toks:
        if t.lower() in STOPWORD_SET:
            n_stop += 1
            if n_stop >= MIN_STOPWORDS:
                break
    if n_stop < MIN_STOPWORDS:
        return "gopher_stopwords"
    if "lorem ipsum" in text.lower():
        return "c4_lorem"
    if "{" in text:
        return "c4_brace"
    if sum(text.count(c) for c in TERMINAL_PUNCT) < MIN_TERMINAL_PUNCT:
        return "c4_sentences"
    if sum(1 for ln in lns if ln[-1] in TERMINAL_PUNCT) / n_lines < MIN_LINE_PUNCT_FRAC:
        return "c4_line_punct"
    if (len(lns) - len(set(lns))) / n_lines > MAX_DUP_LINE_FRAC:
        return "rep_dup_lines"
    grams = Counter(zip(toks, toks[1:]))
    top2 = max(grams.values()) if grams else 0
    if (2 * top2) / nw > MAX_TOP2GRAM_FRAC:
        return "rep_top2gram"
    return None


C4_MIN_LINE_WORDS = 3
C4_BAD_SUBSTR = "javascript"


def c4_line_filter(text: str) -> str:
    """C4-style line-level rewrite (order-preserving, byte-exact): keep a
    line iff it ends (after trailing-space trim — space only, matching
    Spark rtrim / DuckDB rtrim) in terminal punctuation, has at least
    C4_MIN_LINE_WORDS words, and doesn't mention 'javascript'
    (case-insensitive). Kept lines re-join with '\\n'.

    PINNED quirks every engine twin must mirror exactly: words split on
    ASCII space ONLY (a tab-separated line counts as one word — NOT the
    tokenizer's [ \\t\\n\\r\\f\\x0B]+ class; extraction canonicalizes
    tabs away, but raw documents.text can carry them), and the word
    count + substring check run on the UNTRIMMED line while only the
    terminal-punct check sees the trimmed one."""
    kept = []
    for ln in text.split("\n"):
        r = ln.rstrip(" ")
        if (
            r.endswith(tuple(TERMINAL_PUNCT))
            and len([w for w in ln.split(" ") if w]) >= C4_MIN_LINE_WORDS
            and C4_BAD_SUBSTR not in ln.lower()
        ):
            kept.append(ln)
    return "\n".join(kept)


def structural_drop_reason(sig: dict[str, float]) -> str | None:
    """First-drop-wins over the structural (pre-UDF) rules."""
    if sig["n_words"] < MIN_WORDS:
        return "gopher_short"
    if sig["n_words"] > MAX_WORDS:
        return "gopher_long"
    if not (MIN_MEAN_WORD_LEN <= sig["mean_word_len"] <= MAX_MEAN_WORD_LEN):
        return "gopher_word_len"
    if sig["symbol_per_word"] > MAX_SYMBOL_TO_WORD:
        return "gopher_symbol"
    if sig["bullet_frac"] > MAX_BULLET_LINE_FRAC:
        return "gopher_bullet"
    if sig["ellipsis_frac"] > MAX_ELLIPSIS_LINE_FRAC:
        return "gopher_ellipsis"
    if sig["alpha_frac"] < MIN_ALPHA_WORD_FRAC:
        return "gopher_alpha"
    if sig["n_stopwords"] < MIN_STOPWORDS:
        return "gopher_stopwords"
    if sig["has_lorem"]:
        return "c4_lorem"
    if sig["has_brace"]:
        return "c4_brace"
    if sig["n_terminal"] < MIN_TERMINAL_PUNCT:
        return "c4_sentences"
    if sig["line_punct_frac"] < MIN_LINE_PUNCT_FRAC:
        return "c4_line_punct"
    if sig["dup_line_frac"] > MAX_DUP_LINE_FRAC:
        return "rep_dup_lines"
    if sig["top2gram_frac"] > MAX_TOP2GRAM_FRAC:
        return "rep_top2gram"
    return None
