"""Property: the vectorized Arrow-batch core equals the per-turn oracle on
every fixture archetype (SURVEY.md section 7 step 3) — no Spark needed.
The batch-level oracle fallback is switched off here, so these tests check
the core itself."""

import numpy as np
import pandas as pd
import pytest

from pdf_parser_spark.generator import (
    PAGE_ARCHETYPES,
    make_html_payload,
    make_page_payload,
    make_turn,
)
from pdf_parser_spark.operators.extract import extract_batch, extract_batch_multi
from pdf_parser_spark.oracle.extractor import extract_turn
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate

pytestmark = pytest.mark.usefixtures("no_oracle_fallback")


def _batch_frame(rows):
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    ).astype({"turn_idx": np.int32})


def _assert_layout_equal(got: pd.Series, want: dict, context: str):
    for key in ("page_number", "header", "footer", "left_column", "right_column"):
        assert got[key] == want[key], f"{context}: field {key!r}"
    for key in ("page_width", "page_height"):
        assert float(got[key]) == float(want[key]), f"{context}: {key}"
    w_sep = want["column_separator_position"]
    g_sep = got["column_separator_position"]
    if w_sep is None:
        assert pd.isna(g_sep), context
    else:
        assert float(g_sep) == float(w_sep), context
    assert dict(got["metadata"]) == dict(want["metadata"]), f"{context}: metadata"


@pytest.mark.parametrize("archetype", PAGE_ARCHETYPES)
def test_vectorized_matches_oracle_per_archetype(archetype):
    rows = []
    for i in range(8):
        conv = f"t-{archetype}-{i}"
        rows.append((conv, i, "user", make_page_payload(conv, i, archetype), "page/v1"))
    batch = _batch_frame(rows)
    out = extract_batch(batch)
    assert len(out) == len(rows)
    for i, (conv, turn_idx, _, payload, _tool) in enumerate(rows):
        want = extract_turn(payload, "page/v1", turn_idx)
        _assert_layout_equal(out.iloc[i], want, f"{archetype}[{i}]")


def test_mixed_batch_all_tools_order_preserved():
    rows = []
    for i in range(60):
        conv = f"mix-{i % 7}"
        role, text, tool = make_turn(conv, i)
        rows.append((conv, i, role, text, tool))
    # sprinkle nulls and unknown tools
    rows.append(("mix-null", 60, "user", None, "page/v1"))
    rows.append(("mix-null", 61, "user", None, "plain"))
    rows.append(("mix-unknown", 62, "user", "free text", "exotic/v9"))
    batch = _batch_frame(rows)
    out = extract_batch(batch)
    assert len(out) == len(rows)
    assert list(out["turn_idx"]) == [r[1] for r in rows]
    for i, (conv, turn_idx, _, text, tool) in enumerate(rows):
        want = extract_turn(text, tool, turn_idx)
        _assert_layout_equal(out.iloc[i], want, f"mixed[{i}] tool={tool}")


def test_output_dtypes_same_for_tool_pure_and_mixed_batches():
    """Empty per-tool parts must not decide the output dtypes: page-only,
    html-only, plain-only and mixed batches agree, for one variant and
    for the multi-variant fan-out."""
    rows = [("d", i, *make_turn("d", i)) for i in range(40)]
    rows.append(("d", 40, "user", "free text", None))
    batch = _batch_frame(rows)
    assert set(batch["tool"].dropna()) == {"page/v1", "html/v1", "plain"}
    pure = {t: batch[batch["tool"] == t] for t in ("page/v1", "html/v1", "plain")}
    for run in (extract_batch, lambda b: extract_batch_multi(b, ("a000", "a003"))):
        want = run(batch.copy()).dtypes
        assert want["page_number"] == np.int64
        assert want["column_separator_position"] == np.float64
        for tool, sub in pure.items():
            got = run(sub.copy()).dtypes
            pd.testing.assert_series_equal(got, want, obj=tool)


def test_html_batch_spans_and_labels():
    payload = make_html_payload("c", 0)
    res = strip_boilerplate(payload)
    # spans index into the main text exactly
    for (s, e) in res["spans"]:
        assert res["left_column"][s:e] == res["left_column"][s:e].strip()
    assert int(res["metadata"]["boilerplate_blocks"].strip('"')) >= 1
    assert res["header"] != ""
    assert res["footer"] != ""
    # nav links and the tiny fragment must be stripped
    assert "tiny" not in res["left_column"]


def test_variant_dispatch_vectorized():
    payload = make_page_payload("vv", 0, "keyword_footer")
    batch = _batch_frame([("vv", 0, "user", payload, "page/v1")])
    for variant in ("a000", "a002", "a003", "a004"):
        out = extract_batch(batch.copy(), variant=variant)
        want = extract_turn(payload, "page/v1", 0, variant=variant)
        _assert_layout_equal(out.iloc[0], want, f"variant={variant}")


def test_blocks_batch_matches_oracle_parse():
    """The TextBlock relation equals the oracle's parsed blocks, in
    payload order, for every archetype plus failure payloads."""
    from pdf_parser_spark.operators.extract import blocks_batch
    from pdf_parser_spark.payload import Block, TokenizeError, parse_payload

    rows = []
    for a_i, archetype in enumerate(PAGE_ARCHETYPES):
        conv = f"blk-{archetype}"
        rows.append((conv, a_i, "user", make_page_payload(conv, a_i, archetype),
                     "page/v1"))
    rows.append(("blk-null", 99, "user", None, "page/v1"))
    rows.append(("blk-noheader", 98, "user", "SPAN no page header", "page/v1"))
    got = blocks_batch(_batch_frame(rows))

    for conv, turn_idx, _, payload, _t in rows:
        sub = got[got["conv_id"] == conv]
        try:
            want = parse_payload(payload).blocks
        except TokenizeError as exc:
            want = ([Block(text=exc.salvaged_text.strip(), x0=0.0, y0=0.0,
                           x1=exc.width, y1=exc.height, font_size=12.0,
                           font_name="Unknown")]
                    if exc.salvaged_text.strip() else [])
        except Exception:  # noqa: BLE001
            want = []
        assert len(sub) == len(want), conv
        for i, b in enumerate(want):
            r = sub[sub["block_idx"] == i].iloc[0]
            assert (r["text"], r["x0"], r["y0"], r["x1"], r["y1"],
                    r["font_size"], r["font_name"]) == (
                b.text, b.x0, b.y0, b.x1, b.y1, b.font_size, b.font_name), (conv, i)


def test_a000_p8_type_filter_rejects_blocks():
    """P8 is non-vacuous: the deterministic stub detector assigns mixed
    block types and the isin(Text/Title/List) filter DROPS Table/Figure
    blocks from the a000 output (they stay in a003, which has no P8) —
    identically in the oracle and the vectorized core."""
    from pdf_parser_spark.payload import A000_KEEP_TYPES, render_page, stub_block_type

    def s(x0, y0, x1, y1, text):
        return {"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                "size": 10.0, "font": "F1", "text": text}

    kept_text = "block text 0"      # stub type Text
    dropped_text = "block text 30"  # stub type Table
    assert stub_block_type(kept_text) in A000_KEEP_TYPES
    assert stub_block_type(dropped_text) not in A000_KEEP_TYPES
    payload = render_page(612.0, 792.0, [
        [s(50, 300, 200, 312, kept_text)],
        [s(50, 400, 200, 412, dropped_text)],
    ])

    want = extract_turn(payload, "page/v1", 0, variant="a000")
    body_a000 = want["left_column"] + want["right_column"]
    assert kept_text in body_a000 and dropped_text not in body_a000
    assert want["metadata"]["total_text_blocks_layoutlm"] == "1"

    a003 = extract_turn(payload, "page/v1", 0, variant="a003")
    body_a003 = a003["left_column"] + a003["right_column"]
    assert kept_text in body_a003 and dropped_text in body_a003

    batch = _batch_frame([("p8", 0, "user", payload, "page/v1")])
    out = extract_batch(batch, variant="a000")
    _assert_layout_equal(out.iloc[0], want, "a000 p8")


@pytest.mark.parametrize("archetype", PAGE_ARCHETYPES)
def test_a000_vectorized_matches_oracle_per_archetype(archetype):
    """The A000 line-extent classifier (C3) — proportional P1, extent
    bounds, center-count grid search, running-max line grouping — equals
    its oracle on every archetype."""
    rows = []
    for i in range(8):
        conv = f"a0-{archetype}-{i}"
        rows.append((conv, i, "user", make_page_payload(conv, i, archetype), "page/v1"))
    batch = _batch_frame(rows)
    out = extract_batch(batch, variant="a000")
    assert len(out) == len(rows)
    for i, (conv, turn_idx, _, payload, _tool) in enumerate(rows):
        want = extract_turn(payload, "page/v1", turn_idx, variant="a000")
        _assert_layout_equal(out.iloc[i], want, f"a000 {archetype}[{i}]")


def test_a000_plain_turns_match_oracle():
    """A000's P8 stub filter applies to a plain turn's one block too: a
    Table/Figure-typed text is dropped, identically in core and oracle."""
    from pdf_parser_spark.payload import A000_KEEP_TYPES, stub_block_type

    texts = [f"plain text {i}" for i in range(12)] + ["   ", None]
    kept = [stub_block_type(t) in A000_KEEP_TYPES for t in texts[:12]]
    assert any(kept) and not all(kept)
    rows = [("a0p", i, "user", t, "plain") for i, t in enumerate(texts)]
    out = extract_batch(_batch_frame(rows), variant="a000")
    for i, text in enumerate(texts):
        want = extract_turn(text, "plain", i, variant="a000")
        _assert_layout_equal(out.iloc[i], want, f"a000 plain[{i}]")
