"""Hypothesis property tests for the pure-Python kernel twins: the
batch-vectorized numpy kernels must be bit-identical to their scalar
reference implementations on arbitrary unicode input — including empty
docs, None, sub-window docs, and multibyte UTF-8 at buffer boundaries.
These run without a SparkSession (the kernels are plain functions), so
the property search is fast enough for hundreds of examples."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from streamcorpus_filter_spark.inventory.curation import CLF_VOCAB
from streamcorpus_filter_spark.inventory.dedup import _rolling_fp_fn
from streamcorpus_filter_spark.operators.dedup import _poly_hash64, simhash_batch

_TEXT = st.text(
    alphabet=st.characters(codec="utf-8", max_codepoint=0x9FFF), max_size=120
)
_DOCS = st.lists(st.one_of(st.none(), _TEXT), min_size=0, max_size=10)


def _rolling_scalar(t) -> int:
    """Per-byte Horner rolling hash — the independent scalar twin."""
    B, W, M = 257, 16, (1 << 64) - 1
    data = (t.encode("utf-8") if isinstance(t, str) else b"")
    if len(data) < W:
        return 0
    best = None
    for s in range(len(data) - W + 1):
        h = 0
        for b in data[s : s + W]:
            h = (h * B + b) & M
        best = h if best is None else min(best, h)
    return best - (1 << 64) if best >= (1 << 63) else best


@settings(max_examples=80, deadline=None)
@given(_DOCS)
def test_rolling_fp_batch_matches_scalar(texts):
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": list(texts)})
    got = list(_rolling_fp_fn()([pdf]))[0]["min_fp"].tolist()
    assert got == [_rolling_scalar(t) for t in texts]


def _simhash_scalar(words: list[bytes]) -> int:
    votes = [0] * 64
    for w in words:
        h = _poly_hash64(w)
        for k in range(64):
            votes[k] += 1 if (h >> k) & 1 else -1
    return sum(1 << k for k in range(64) if votes[k] > 0)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(codec="utf-8", max_codepoint=0x9FFF),
                min_size=0,
                max_size=24,
            ).map(lambda s: s.encode("utf-8")),
            min_size=0,
            max_size=12,
        ).map(lambda ws: sorted(set(ws))),
        min_size=0,
        max_size=8,
    )
)
def test_simhash_batch_matches_scalar(doc_words):
    got = simhash_batch(doc_words).tolist()
    want = [_simhash_scalar(ws) for ws in doc_words]
    # numpy packs into int64; scalar result is the unsigned value
    want = [w - (1 << 64) if w >= (1 << 63) else w for w in want]
    assert got == want


@settings(max_examples=80, deadline=None)
@given(_TEXT)
def test_classifier_fold_is_sum_of_vocab_weights(text):
    """The classifier logit spec: sum of weights of known lowercased
    ASCII-whitespace tokens — mirrors the Spark aggregate() and the
    DuckDB CASE fold exactly (both engines were value-matched; this
    pins the Python statement of the spec under arbitrary unicode)."""
    toks, cur = [], []
    for ch in text.lower():
        if ch in " \t\n\r\f\x0b":
            if cur:
                toks.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        toks.append("".join(cur))
    logit = sum(CLF_VOCAB.get(w, 0) for w in toks)
    assert isinstance(logit, int)
    assert all(-1000 <= v <= 1000 for v in CLF_VOCAB.values())

# ---------------------------------------------------------------- round 4


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-2e6, max_value=2e6, allow_nan=False, width=32
        ),
        min_size=1,
        max_size=64,
    )
)
def test_ivf_quantize_matches_duckdb_expression(vals):
    """_ivf_quant (numpy float64 floor + clamp) must agree element-wise
    with the SQL transform the oracle runs in DuckDB, including values
    beyond the clamp and floats that land exactly on integers — the
    whole any-sf oracle rests on this identity."""
    import duckdb
    import numpy as np

    from streamcorpus_filter_spark.inventory.dedup import (
        _IVF_QUANT_DUCK,
        _ivf_quant,
    )

    v32 = [float(np.float32(x)) for x in vals]
    got = _ivf_quant(np.asarray(v32, dtype=np.float64)[None, :])[0].tolist()
    want = duckdb.sql(
        f"SELECT {_IVF_QUANT_DUCK} AS q FROM (SELECT ? AS embedding)",
        params=[v32],
    ).fetchone()[0]
    assert got == want


@settings(max_examples=120, deadline=None)
@given(st.integers(min_value=0, max_value=1_000_002),
       st.integers(min_value=0, max_value=(1 << 32) - 1))
def test_url_keep_latest_wkey_pack_roundtrip(seq, doc_id):
    """The packed arg-max key (seq * 2^32 + doc_id) must order
    lexicographically by (seq, doc_id) and decode back exactly — the
    no-window URL dedup is correct iff max(wkey) is max(seq, doc_id)."""
    wkey = seq * 4294967296 + doc_id
    assert wkey % 4294967296 == doc_id
    assert wkey // 4294967296 == seq
    assert wkey < (1 << 53)  # also exact in a DOUBLE, belt-and-braces
    # order property vs a neighbor
    wkey2 = (seq + 1) * 4294967296 + 0
    assert wkey2 > wkey


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=10_000),
       st.integers(min_value=1, max_value=10_000))
def test_containment_cross_multiply_equals_ratio(inter, sz):
    """inter * 10 >= 9 * sz must decide exactly the same set as
    inter / sz >= 0.9 would in exact arithmetic (the float form can
    disagree at representation boundaries, which is why the operators
    compare integers)."""
    from fractions import Fraction

    assert (inter * 10 >= 9 * sz) == (Fraction(inter, sz) >= Fraction(9, 10))


# inputs for the two exact kernel trims: whitespace — the ASCII class
# members, plus characters str.strip()/str.split() know but the regex
# classes do not (\xa0, \x85, U+3000, U+2028) — and words mixing
# letters with \w-but-not-alpha characters (superscripts, No/Nl numerics)
_WS = [" ", "\t", "\r", "\f", "\v", "\n", "\xa0", "\x85", "\u3000", "\u2028"]
_WORDS = ["the", "word", "é", "ß", "壹", "x²", "²³", "123", "½", "Ⅳ", "a1"]


def _extract_per_line(html_bytes: bytes | None) -> str:
    """extract_text as it was: horizontal whitespace canonicalized one
    line at a time."""
    import html as htmllib

    from streamcorpus_filter_spark.kernels import extract as ex

    if not html_bytes:
        return ""
    s = html_bytes.decode("utf-8", errors="replace")
    s = ex._COMMENT_RE.sub(" ", s)
    s = ex._SCRIPT_STYLE_RE.sub(" ", s)
    s = ex._BLOCK_TAG_RE.sub("\n", s)
    s = ex._TAG_RE.sub(" ", s)
    s = htmllib.unescape(s)
    lines = [ex._HWS_RE.sub(" ", ln).strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(
    _WS + _WORDS + ["<p>", "</div>", "<br/>", "<b>", "&nbsp;", "&amp;", "&#x85;"]
), max_size=80).map("".join))
def test_extract_whole_string_whitespace_pass_matches_per_line(doc):
    from streamcorpus_filter_spark.kernels.extract import extract_text

    data = doc.encode("utf-8")
    assert extract_text(data) == _extract_per_line(data)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(_WORDS), st.sampled_from(_WS)),
                min_size=50, max_size=160)
       .map(lambda pairs: "".join(w + sep for w, sep in pairs)))
def test_fast_alpha_rule_matches_per_token_count(text):
    """structural_reason_fast counts alpha tokens by their complement;
    its gopher_alpha decision must equal the per-token count it
    replaced, and its reason the scalar spec's."""
    from streamcorpus_filter_spark.kernels import rules

    got = rules.structural_reason_fast(text)
    assert got == rules.structural_drop_reason(rules.structural_signals(text))
    earlier = rules.DROP_ORDER[: rules.DROP_ORDER.index("gopher_alpha")]
    if got in earlier:
        return
    toks = rules._TOKEN_RE.findall(text)
    alpha = sum(1 for t in toks if t.isalpha() or any(map(str.isalpha, t)))
    assert (got == "gopher_alpha") == (
        alpha / len(toks) < rules.MIN_ALPHA_WORD_FRAC
    )


# whole ssn, phone and ipv4 shapes beside loose digit groups and the
# separators the rules key on: joined, they give matches, near misses
# (a digit or dot glued on breaks a lookaround) and one rule's match
# inside another's
_PII_TOKENS = st.one_of(
    st.from_regex(r"[0-9]{3}-[0-9]{2}-[0-9]{4}", fullmatch=True),
    st.from_regex(r"(\+?1[ .-])?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}",
                  fullmatch=True),
    st.from_regex(r"([0-9]{1,3}\.){3}[0-9]{1,3}", fullmatch=True),
    st.from_regex(r"[0-9]{1,4}", fullmatch=True),
    st.sampled_from([".", "-", " ", "(", ")", "@", "+", "a", "x.co", "é"]),
)


def _scrub_ungated(text: str) -> tuple[str, int, int]:
    """scrub_pii's rule chain with every rule run unconditionally."""
    from streamcorpus_filter_spark.kernels.scrub import SCRUB_RULES

    total_bytes = total_hits = 0
    for _name, pat, repl in SCRUB_RULES:
        spans = [m.group(0) for m in pat.finditer(text)]
        text = pat.sub(repl, text)
        total_hits += len(spans)
        total_bytes += sum(len(s.encode("utf-8")) for s in spans)
    return text, total_bytes, total_hits


@settings(max_examples=500, deadline=None)
@given(st.lists(_PII_TOKENS, max_size=12).map("".join))
def test_scrub_gates_match_ungated_chain(text):
    """Each PII rule's trigger gate is a substring of every match of the
    rule, so skipping the rule when its gate finds nothing changes no
    byte of the output."""
    from streamcorpus_filter_spark.kernels.scrub import scrub_pii

    assert scrub_pii(text) == _scrub_ungated(text)
