"""Golden gate: Spark extraction == single-process oracle on the synthetic
transcript fixtures, per-turn text equality under stable turn ordering after
the reference's snapshot normalization (BASELINE.json:metric; normalization
contract /root/reference/pdf_extractor_protocol.py:158-193)."""

import pandas as pd
import pytest

from pdf_parser_spark.generator import transcripts_path
from pdf_parser_spark.operators.extract import extract_layouts
from pdf_parser_spark.oracle.extractor import extract_turn, normalize_layout

TEXT_FIELDS = ["header", "footer", "left_column", "right_column"]


@pytest.fixture(scope="module")
def golden_frames(spark, transcripts_sf0001):
    src = pd.read_parquet(transcripts_sf0001)
    got = (
        extract_layouts(spark.read.parquet(transcripts_sf0001))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    return src.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True), got


def test_row_count_and_stable_order(golden_frames):
    src, got = golden_frames
    assert len(got) == len(src)
    assert list(got["conv_id"]) == list(src["conv_id"])
    assert list(got["turn_idx"]) == list(src["turn_idx"])
    assert list(got["page_number"]) == [t + 1 for t in src["turn_idx"]]


def test_per_turn_text_equality_vs_oracle(golden_frames):
    src, got = golden_frames
    mismatches = 0
    for i in range(len(src)):
        s = src.iloc[i]
        g = got.iloc[i]
        want = normalize_layout(extract_turn(s["text"], s["tool"], int(s["turn_idx"])))
        have = normalize_layout(
            {
                "page_number": int(g["page_number"]),
                "header": g["header"], "footer": g["footer"],
                "left_column": g["left_column"], "right_column": g["right_column"],
                "page_width": float(g["page_width"]),
                "page_height": float(g["page_height"]),
                "column_separator_position": None
                if pd.isna(g["column_separator_position"])
                else float(g["column_separator_position"]),
                "metadata": dict(g["metadata"]),
            }
        )
        if have != want:
            mismatches += 1
            if mismatches <= 3:
                for k in want:
                    if want[k] != have[k]:
                        print(f"MISMATCH {s['conv_id']}:{s['turn_idx']} {k}: "
                              f"want={want[k]!r} have={have[k]!r}")
    # BASELINE.md correctness gate: pass rate must be 100%
    assert mismatches == 0, f"{mismatches}/{len(src)} turns mismatched"


def test_archetype_coverage_in_fixture(golden_frames):
    """The sf0.001 fixture must exercise the error, fallback, footer and
    separator branches (FIXTURES.md section 3)."""
    src, got = golden_frames
    meta = got["metadata"]
    assert any("error" in m for m in meta), "no error rows in fixture"
    assert any(m.get("has_footer") == "true" for m in meta if "has_footer" in m)
    assert any(m.get("colored_footer_regions", "0") != "0" for m in meta)
    assert any(m.get("vertical_lines_detected", "0") != "0" for m in meta)
    assert (src["tool"] == "html/v1").any()
    assert (src["tool"] == "plain").any()
