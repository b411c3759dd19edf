"""Golden tables: single-process oracle outputs materialized as parquet.

The correctness contract (BASELINE.json:metric) is per-turn text equality
between the Spark pipeline and the reference-semantics oracle under stable
turn ordering. This module runs the pure-Python oracle
(oracle/extractor.py, oracle/boilerplate.py, oracle/questions.py) over the
deterministic synthetic transcripts and caches the results as parquet —
the "reference extractor's golden layout outputs". The driver's DuckDB
correctness gate then compares the Spark DataFrames against these goldens
via plain SQL over ``read_parquet`` (see __spark_entry__.oracle_sql), and
pytest uses them for the golden-equality tests.

Everything is deterministic (seeded generator, no wall clock), so goldens
regenerate identically; generation is idempotent and cached per scale
factor under data/golden/sf{sf}/.
"""

from __future__ import annotations

import os

import pandas as pd

from pdf_parser_spark.generator import transcripts_path
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.oracle.extractor import extract_turn
from pdf_parser_spark.payload import Block, TokenizeError, parse_payload
from pdf_parser_spark.oracle.questions import extract_questions_from_text

GOLDEN_BASE = "/root/repo/data/golden"

LAYOUT_COLS = [
    "conv_id", "turn_idx", "page_number", "header", "footer",
    "left_column", "right_column", "page_width", "page_height",
    "column_separator_position", "is_error",
]


def golden_dir(sf: float) -> str:
    return os.path.join(GOLDEN_BASE, f"sf{sf:g}")


def _layout_row(conv_id, turn_idx, lay) -> dict:
    return {
        "conv_id": conv_id,
        "turn_idx": int(turn_idx),
        "page_number": int(lay["page_number"]),
        "header": lay["header"],
        "footer": lay["footer"],
        "left_column": lay["left_column"],
        "right_column": lay["right_column"],
        "page_width": float(lay["page_width"]),
        "page_height": float(lay["page_height"]),
        "column_separator_position": lay["column_separator_position"],
        "is_error": int("error" in lay["metadata"]),
    }


def markdown_c001(n, header, footer, left, right) -> str:
    """Python twin of operators/markdown.markdown_c001_col
    (C001_create_markdown.py:30-49)."""
    frags = [f"<!-- Page {n} -->", "\n---\n"]
    if header:
        frags += ["**Header:**\n", header, "\n"]
    if left:
        frags += [left, "\n"]
    if right:
        frags += [right, "\n"]
    if footer:
        frags += ["**Footer:**\n", footer, "\n"]
    return "\n".join(frags)


def markdown_c002(n, header, footer, left, right) -> str:
    """Python twin of operators/markdown.markdown_c002_col
    (C002_json_to_md.py:49-86)."""
    h, f_, lc, rc = header.strip(), footer.strip(), left.strip(), right.strip()
    cols = "\n\n".join(x for x in (lc, rc) if x)
    frags = [
        f"---\n\n# Page {n}\n",
        f"--- Page {n} Start ---",
        "## Header", h, "\n",
        f"### Page {n} Content", cols, "\n",
        f"--- Page {n} Footer ---",
        "## Footer", f_, "\n",
    ]
    return "\n".join(frags)


def _oracle_blocks(text) -> list:
    """The reference get_text_blocks contract on one payload: merged
    line-blocks, S3 fallback block on tokenize failure, [] when the
    payload is unparseable (those turns become D1 error rows with no
    blocks)."""
    try:
        return parse_payload(text).blocks
    except TokenizeError as exc:
        if exc.salvaged_text.strip():
            return [Block(text=exc.salvaged_text.strip(), x0=0.0, y0=0.0,
                          x1=exc.width, y1=exc.height,
                          font_size=12.0, font_name="Unknown")]
        return []
    except Exception:  # noqa: BLE001 — null / malformed payloads
        return []


def ensure_goldens(sf: float) -> str:
    """Generate (once) every golden table for a scale factor; returns dir."""
    gdir = golden_dir(sf)
    # v6: a000 P8 stub types; v7: layout_errors golden (S8 error JSON);
    # v8: external absolute links in the HTML nav (fixture change only)
    stamp = os.path.join(gdir, "_COMPLETE_v8")
    if os.path.exists(stamp):
        return gdir
    os.makedirs(gdir, exist_ok=True)

    src = pd.read_parquet(transcripts_path(sf))
    src = src.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    layouts, layouts_a002, layouts_a004, layouts_a000 = [], [], [], []
    block_rows = []
    meta_rows = []
    error_rows = []
    questions, spans, markdown = [], [], []
    for conv_id, turn_idx, text, tool in src[
        ["conv_id", "turn_idx", "text", "tool"]
    ].itertuples(index=False):
        t = int(turn_idx)
        lay = extract_turn(text, tool, t, "a003")
        layouts.append(_layout_row(conv_id, t, lay))
        if "error" in lay["metadata"]:
            # golden for the S8 error-row JSON shape: the raw metadata
            # value (itself a JSON-encoded message) per D1 error rows
            error_rows.append({
                "conv_id": conv_id, "turn_idx": t,
                "page_number": int(lay["page_number"]),
                "error_raw": lay["metadata"]["error"],
            })
        markdown.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "md_c001": markdown_c001(
                    lay["page_number"], lay["header"], lay["footer"],
                    lay["left_column"], lay["right_column"]),
                "md_c002": markdown_c002(
                    lay["page_number"], lay["header"], lay["footer"],
                    lay["left_column"], lay["right_column"]),
            }
        )
        if tool == "page/v1":
            md = lay["metadata"]

            def _mi(key):
                v = md.get(key)
                return None if v is None else int(v.strip('"')) if v.lstrip('-').isdigit() else None

            meta_rows.append(
                {"conv_id": conv_id, "turn_idx": t,
                 "total_text_blocks": _mi("total_text_blocks"),
                 "header_blocks": _mi("header_blocks"),
                 "footer_blocks": _mi("footer_blocks"),
                 "left_column_blocks": _mi("left_column_blocks"),
                 "right_column_blocks": _mi("right_column_blocks"),
                 "vertical_lines_detected": _mi("vertical_lines_detected"),
                 "colored_footer_regions": _mi("colored_footer_regions"),
                 "has_footer": md.get("has_footer"),
                 "page_rect": md.get("page_rect"),
                 "is_error": int("error" in md)})
            for bi, b in enumerate(_oracle_blocks(text)):
                block_rows.append(
                    {"conv_id": conv_id, "turn_idx": t, "block_idx": bi,
                     "x0": b.x0, "y0": b.y0, "x1": b.x1, "y1": b.y1,
                     "font_size": b.font_size, "font_name": b.font_name,
                     "text": b.text})
            layouts_a002.append(
                _layout_row(conv_id, t, extract_turn(text, tool, t, "a002")))
            layouts_a000.append(
                _layout_row(conv_id, t, extract_turn(text, tool, t, "a000")))
            lay4 = extract_turn(text, tool, t, "a004")
            layouts_a004.append(_layout_row(conv_id, t, lay4))
            for col_side, col_text in (("left", lay4["left_column"]),
                                       ("right", lay4["right_column"])):
                for q in extract_questions_from_text(
                        col_text, col_side, lay4["page_number"]):
                    questions.append(
                        {
                            "conv_id": conv_id,
                            "turn_idx": t,
                            "page_number": q["page_number"],
                            "question_number": q["question_number"],
                            "question_text": q["question_text"],
                            "col_side": col_side,
                            "start_offset": q["start_offset"],
                            "end_offset": q["end_offset"],
                        }
                    )
        elif tool == "html/v1":
            res = strip_boilerplate(text)
            import hashlib

            main = res["left_column"]
            for i, (start, end) in enumerate(res["spans"]):
                spans.append(
                    {
                        "conv_id": conv_id,
                        "turn_idx": t,
                        "span_idx": i,
                        "start_offset": start,
                        "end_offset": end,
                        "block_md5": hashlib.md5(
                            main[start:end].encode("utf-8")).hexdigest(),
                    }
                )

    pd.DataFrame(layouts, columns=LAYOUT_COLS).to_parquet(
        os.path.join(gdir, "layouts.parquet"), index=False)
    pd.DataFrame(layouts_a002, columns=LAYOUT_COLS).to_parquet(
        os.path.join(gdir, "layouts_a002.parquet"), index=False)
    pd.DataFrame(layouts_a004, columns=LAYOUT_COLS).to_parquet(
        os.path.join(gdir, "layouts_a004.parquet"), index=False)
    pd.DataFrame(layouts_a000, columns=LAYOUT_COLS).to_parquet(
        os.path.join(gdir, "layouts_a000.parquet"), index=False)
    pd.DataFrame(
        meta_rows,
        columns=["conv_id", "turn_idx", "total_text_blocks", "header_blocks",
                 "footer_blocks", "left_column_blocks", "right_column_blocks",
                 "vertical_lines_detected", "colored_footer_regions",
                 "has_footer", "page_rect", "is_error"],
    ).to_parquet(os.path.join(gdir, "layout_meta.parquet"), index=False)
    pd.DataFrame(
        block_rows,
        columns=["conv_id", "turn_idx", "block_idx", "x0", "y0", "x1", "y1",
                 "font_size", "font_name", "text"],
    ).to_parquet(os.path.join(gdir, "blocks.parquet"), index=False)
    pd.DataFrame(
        questions,
        columns=["conv_id", "turn_idx", "page_number", "question_number",
                 "question_text", "col_side", "start_offset", "end_offset"],
    ).to_parquet(os.path.join(gdir, "questions.parquet"), index=False)
    pd.DataFrame(
        spans,
        columns=["conv_id", "turn_idx", "span_idx", "start_offset",
                 "end_offset", "block_md5"],
    ).to_parquet(os.path.join(gdir, "html_spans.parquet"), index=False)
    pd.DataFrame(
        markdown, columns=["conv_id", "turn_idx", "md_c001", "md_c002"]
    ).to_parquet(os.path.join(gdir, "markdown.parquet"), index=False)
    pd.DataFrame(
        error_rows,
        columns=["conv_id", "turn_idx", "page_number", "error_raw"],
    ).to_parquet(os.path.join(gdir, "layout_errors.parquet"), index=False)

    with open(stamp, "w", encoding="utf-8") as f:
        f.write("ok\n")
    return gdir
