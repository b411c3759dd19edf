"""The batch-level oracle fallback of extraction: when the vectorized core
raises, every turn of the batch is re-extracted by the per-turn oracle, in
input order, and one warning per batch names the exception
(degrade-don't-fail at batch granularity)."""

import logging

import numpy as np
import pandas as pd
import pytest

from pdf_parser_spark.generator import make_turn
from pdf_parser_spark.operators import extract
from pdf_parser_spark.oracle.extractor import extract_turn


def _mixed_batch():
    rows = [(f"fb-{i % 3}", i, *make_turn(f"fb-{i % 3}", i)) for i in range(30)]
    n = len(rows)
    rows += [
        ("fb-null", n, "user", None, "page/v1"),
        ("fb-null", n + 1, "user", None, "html/v1"),
        ("fb-null", n + 2, "user", None, "plain"),
        ("fb-tool", n + 3, "user", "text with no tool", None),
        ("fb-tool", n + 4, "user", "text with an odd tool", "exotic/v9"),
    ]
    batch = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    batch = batch.astype({"turn_idx": np.int32})
    assert set(batch["tool"].dropna()) >= {"page/v1", "html/v1", "plain"}
    return batch


def _assert_rows_equal_oracle(out, batch, variant):
    assert list(out["turn_idx"]) == list(batch["turn_idx"])
    for i, (text, tool, turn_idx) in enumerate(
            batch[["text", "tool", "turn_idx"]].itertuples(index=False)):
        want = extract_turn(text, tool, int(turn_idx), variant)
        got = out.iloc[i]
        for key in ("page_number", "header", "footer", "left_column", "right_column",
                    "page_width", "page_height"):
            assert got[key] == want[key], (i, tool, key)
        sep = want["column_separator_position"]
        assert (pd.isna(got["column_separator_position"]) if sep is None
                else got["column_separator_position"] == sep), (i, tool)
        assert dict(got["metadata"]) == want["metadata"], (i, tool)


def _raising_core(pdf, variants):
    raise RuntimeError("core exploded")


@pytest.fixture
def raising_core(monkeypatch):
    monkeypatch.setattr(extract, "_extract_core", _raising_core)


def test_extract_batch_falls_back_to_oracle(raising_core, caplog):
    batch = _mixed_batch()
    with caplog.at_level(logging.WARNING, logger=extract.__name__):
        out = extract.extract_batch(batch.copy(), variant="a003")
    _assert_rows_equal_oracle(out, batch, "a003")
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "RuntimeError: core exploded" in warnings[0].getMessage()


def test_extract_batch_multi_falls_back_to_oracle(raising_core, caplog):
    batch = _mixed_batch()
    variants = ("a000", "a003", "a004")
    with caplog.at_level(logging.WARNING, logger=extract.__name__):
        out = extract.extract_batch_multi(batch.copy(), variants)
    assert list(out["extractor_name"]) == [v for v in variants for _ in range(len(batch))]
    for v in variants:
        _assert_rows_equal_oracle(
            out[out["extractor_name"] == v].reset_index(drop=True), batch, v)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "RuntimeError: core exploded" in warnings[0].getMessage()


def test_fallback_output_dtypes_match_core():
    batch = _mixed_batch()
    want = extract.extract_batch(batch.copy()).dtypes
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(extract, "_extract_core", _raising_core)
        got = extract.extract_batch(batch.copy()).dtypes
    pd.testing.assert_series_equal(got, want)
