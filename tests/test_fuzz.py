"""Property-based tests: the vectorized batch extractor must equal the
single-process oracle on ARBITRARY inputs (not just fixture archetypes),
and must never raise — the degrade-don't-fail invariant (D1) under fuzz.

Pure-Python (no Spark session): exercises extract_batch directly, which is
exactly the code mapInPandas runs per Arrow batch, with its batch-level
oracle fallback switched off so the vectorized core itself is checked.
"""

import math

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_parser_spark.operators.extract import extract_batch
from pdf_parser_spark.oracle.extractor import extract_turn

pytestmark = pytest.mark.usefixtures("no_oracle_fallback")

# --- payload-ish text strategies -----------------------------------------

_num = st.one_of(
    st.integers(-1000, 1000).map(str),
    st.floats(-1000, 1000, allow_nan=False, allow_infinity=False).map(
        lambda v: f"{v:.3f}"),
    st.sampled_from(["nan", "x", "", "1e3", "-0"]),
)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\n\r"),
    max_size=30,
)
_font = st.sampled_from(["", "F1", "Helvetica", "a b", "font=weird"])

_span_record = st.builds(
    lambda x0, y0, x1, y1, size, font, text:
        f"SPAN {x0} {y0} {x1} {y1} size={size} font={font} text={text}",
    _num, _num, _num, _num, _num, _font, _text,
)
_line_record = st.builds(
    lambda a, b, c, d: f"LINE {a} {b} {c} {d}", _num, _num, _num, _num)
_rect_record = st.builds(
    lambda a, b, c, d, r, g, bl: f"RECT {a} {b} {c} {d} fill={r},{g},{bl}",
    _num, _num, _num, _num, _num, _num, _num)
_junk_record = _text.map(lambda t: t)

_page_header = st.one_of(
    st.builds(lambda w, h: f"PAGE w={w} h={h}", _num, _num),
    st.sampled_from(["PAGE ", "PAGE w=612.0", "PAGE h=1 w=2", "PAGEw=1 h=2",
                     "PAGE w=612.0 h=792.0"]),
)

_page_payload = st.builds(
    lambda header, records: "\n".join([header] + records),
    _page_header,
    st.lists(st.one_of(_span_record, _line_record, _rect_record, _junk_record),
             max_size=12),
)

_html_payload = st.text(
    alphabet=st.sampled_from(list("<>/abp div nav&;\"'= ")), max_size=200)

_any_payload = st.one_of(
    _page_payload, _html_payload, _text, st.none(),
    st.just(""), st.just("PAGE"),
)

_tool = st.sampled_from(["page/v1", "html/v1", "plain", "mystery", None])


def _norm_float(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return round(float(v), 6)


@settings(max_examples=100, deadline=None)
@given(st.lists(_page_payload, min_size=1, max_size=6))
def test_a000_vectorized_equals_oracle_on_fuzz(payloads):
    """The A000 line-extent classifier path under fuzz: never raises,
    matches the oracle per turn (proportional P1, extent bounds,
    center-count grid, running-max grouping are all exercised by the
    arbitrary geometry)."""
    pdf = pd.DataFrame(
        {
            "conv_id": [f"a{i}" for i in range(len(payloads))],
            "turn_idx": list(range(len(payloads))),
            "role": ["user"] * len(payloads),
            "text": payloads,
            "tool": ["page/v1"] * len(payloads),
            "ts": [pd.Timestamp("2024-01-01")] * len(payloads),
        }
    )
    got = extract_batch(pdf.copy(), variant="a000")
    assert len(got) == len(payloads)
    for i, text in enumerate(payloads):
        want = extract_turn(text, "page/v1", i, variant="a000")
        g = got.iloc[i]
        for k in ("page_number", "header", "footer", "left_column", "right_column"):
            assert g[k] == want[k], (k, text)
        for k in ("page_width", "page_height", "column_separator_position"):
            assert _norm_float(g[k]) == _norm_float(want[k]), (k, text)
        assert dict(g["metadata"]) == want["metadata"], text


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_any_payload, _tool), min_size=1, max_size=8))
def test_vectorized_equals_oracle_on_fuzz(rows):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(rows))],
            "turn_idx": list(range(len(rows))),
            "role": ["user"] * len(rows),
            "text": [t for t, _ in rows],
            "tool": [tl for _, tl in rows],
            "ts": [pd.Timestamp("2024-01-01")] * len(rows),
        }
    )
    got = extract_batch(pdf.copy())  # must not raise
    assert len(got) == len(rows)
    assert list(got["turn_idx"]) == list(range(len(rows)))
    for i, (text, tool) in enumerate(rows):
        want = extract_turn(text, tool, i)
        g = got.iloc[i]
        for k in ("page_number", "header", "footer", "left_column", "right_column"):
            assert g[k] == want[k], (k, text, tool)
        for k in ("page_width", "page_height", "column_separator_position"):
            assert _norm_float(g[k]) == _norm_float(want[k]), (k, text, tool)
        assert dict(g["metadata"]) == want["metadata"], (text, tool)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_page_payload, _text, st.none()), min_size=1, max_size=8))
def test_degraded_routing_equals_parse_payload_failures_on_fuzz(payloads):
    """Over-routing guard under fuzz: the page rows the vectorized core
    sends to the oracle are exactly those ``parse_payload`` rejects."""
    from tests.test_vectorized_core import _tokenize_routes

    routed, rejected = _tokenize_routes(payloads)
    assert routed == rejected, payloads


# --- repetition counters (corpus/textstats.py) ---------------------------

_word = st.text(alphabet=st.sampled_from(list("abcxyz")), min_size=1, max_size=3)
_tokens = st.lists(_word, max_size=20)


@given(_tokens)
@settings(max_examples=200, deadline=None)
def test_repetition_counts_equal_bruteforce(tokens):
    """repetition_counts (the rep_udf core) equals an O(n^2) brute-force
    recount on arbitrary token lists, including the tie-break rule."""
    from pdf_parser_spark.corpus.textstats import repetition_counts

    t = " ".join(tokens)
    n2, top_cnt, top_gram, n3, dup3 = repetition_counts(t)
    w = t.split(" ") if t else []
    grams2 = [" ".join(w[i:i + 2]) for i in range(len(w) - 1)]
    grams3 = [" ".join(w[i:i + 3]) for i in range(len(w) - 2)]
    assert n2 == len(grams2) and n3 == len(grams3)
    if grams2:
        counts = {g: grams2.count(g) for g in grams2}
        best = max(counts.values())
        assert top_cnt == best
        assert top_gram == max(g for g, c in counts.items() if c == best)
    else:
        assert (top_cnt, top_gram) == (0, "")
    assert dup3 == sum(1 for g in grams3 if grams3.count(g) >= 2)
