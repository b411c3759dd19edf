"""Seeded inputs and their oracle answers.

The seed salts the conversation ids fed to the program's public generator
(``make_turn`` / ``make_html_payload``), so every seed gives new payloads
with the repository's sf0.1 shape: conversation lengths of 8-32 turns plus
two mega-conversations of 120 000 x sf and 60 000 x sf turns. The program
only ever sees the parquet table written here.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import random
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.generator import BASE_TS, make_html_payload, make_turn
from pdf_parser_spark.oracle.boilerplate import strip_boilerplate
from pdf_parser_spark.oracle.extractor import extract_turn, normalize_layout

TOOLS = ("page/v1", "html/v1", "plain")


def conversations(seed: int, sf: float) -> list:
    """[(conv_id, n_turns)]; conversations 0 and 1 are the mega ones."""
    rng = random.Random(seed)
    out = []
    for c in range(max(10, round(5000 * sf / 0.1))):
        n = rng.randrange(8, 33)
        if c == 0:
            n = max(n, int(120_000 * sf))
        elif c == 1:
            n = max(n, int(60_000 * sf))
        out.append((f"s{seed}-conv-{c:06d}", n))
    return out


def generate(convs: list, html_only: bool) -> pd.DataFrame:
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for conv_id, n_turns in convs:
        t0 = BASE_TS + 600 * int(conv_id.rsplit("-", 1)[1])
        for t in range(n_turns):
            if html_only:
                role, text, tool = "tool", make_html_payload(conv_id, t), "html/v1"
            else:
                role, text, tool = make_turn(conv_id, t)
            for k, v in zip(cols, (conv_id, t, role, text, tool, (t0 + 37 * t) * 1_000_000)):
                cols[k].append(v)
    return pd.DataFrame(cols)


def write_table(df: pd.DataFrame, out_dir: str) -> None:
    """Shard contiguous row ranges as the repository's generator does."""
    table = pa.table({
        "conv_id": pa.array(df["conv_id"], pa.string()),
        "turn_idx": pa.array(df["turn_idx"], pa.int32()),
        "role": pa.array(df["role"], pa.string()),
        "text": pa.array(df["text"], pa.string()),
        "tool": pa.array(df["tool"], pa.string()),
        "ts": pa.array(df["ts"], pa.timestamp("us")),
    })
    n = table.num_rows
    n_shards = max(8, min(64, n // 2000))
    chunk = -(-n // n_shards)
    os.makedirs(out_dir)
    for i in range(n_shards):
        part = table.slice(i * chunk, chunk)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                           row_group_size=4096)


def md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def oracle(text: str, tool: str, turn_idx: int) -> tuple:
    """(raw layout, spans) for one turn from the single-process oracle;
    spans are ``(span_idx, start, end, md5)`` rows for HTML turns, else None."""
    if tool != "html/v1":
        return extract_turn(text, tool if tool == "page/v1" else "plain", turn_idx), None
    res = strip_boilerplate(text)
    layout = {
        "page_number": turn_idx + 1,
        "header": res["header"], "footer": res["footer"],
        "left_column": res["left_column"], "right_column": res["right_column"],
        "page_width": 0.0, "page_height": 0.0,
        "column_separator_position": None, "metadata": res["metadata"],
    }
    main = res["left_column"]
    spans = tuple((i, s, e, md5(main[s:e])) for i, (s, e) in enumerate(res["spans"]))
    return layout, spans


def layout_of(row) -> dict:
    """Normalized layout of one output row (a namedtuple from itertuples)."""
    sep = row.column_separator_position
    return normalize_layout({
        "page_number": int(row.page_number),
        "header": row.header, "footer": row.footer,
        "left_column": row.left_column, "right_column": row.right_column,
        "page_width": float(row.page_width), "page_height": float(row.page_height),
        "column_separator_position": None if pd.isna(sep) else float(sep),
        "metadata": dict(row.metadata),
    })


def _part(args) -> tuple:
    """Generate one share of the conversations and answer it with the
    oracle; runs in a worker process."""
    convs, html_only = args
    t0 = time.perf_counter()
    df = generate(convs, html_only)
    gen_s = time.perf_counter() - t0
    layouts, left, spans = {}, {}, {}
    busy = dict.fromkeys(TOOLS, 0.0)
    for conv_id, turn_idx, text, tool in df[
            ["conv_id", "turn_idx", "text", "tool"]].itertuples(index=False):
        t = time.perf_counter()
        layout, turn_spans = oracle(text, tool, int(turn_idx))
        busy[tool] += time.perf_counter() - t
        key = (conv_id, int(turn_idx))
        layouts[key] = normalize_layout(layout)
        left[key] = layout["left_column"]
        if turn_spans is not None:
            spans[key] = turn_spans
    return df, gen_s, busy, layouts, left, spans


class Corpus:
    """One seeded input table, written to ``path``, with its oracle answers:
    ``layouts[(conv_id, turn_idx)]`` normalized, ``left[...]`` raw main
    text, ``spans[...]`` for HTML turns. Generation and the oracle run in
    ``processes`` spawned workers, each on a share of the conversations."""

    def __init__(self, seed: int, sf: float, path: str, html_only: bool = False,
                 processes: int = 1):
        self.conversations = conversations(seed, sf)
        # contiguous shares of about equal turn counts keep the row order
        total, done = sum(n for _, n in self.conversations), 0
        shares: list = [[] for _ in range(processes)]
        for conv in self.conversations:
            shares[min(processes - 1, done * processes // total)].append(conv)
            done += conv[1]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(processes) as pool:
            parts = pool.map(_part, [(share, html_only) for share in shares])
        self.df = pd.concat([p[0] for p in parts], ignore_index=True)
        write_table(self.df, path)
        self.path = path
        self.n_turns = len(self.df)
        self.tool_turns = {t: int((self.df["tool"] == t).sum()) for t in TOOLS}
        self.gen_s = sum(p[1] for p in parts)
        busy = {t: sum(p[2][t] for p in parts) for t in TOOLS}
        self.oracle_s = sum(busy.values())
        self.layouts, self.left, self.spans = {}, {}, {}
        for p in parts:
            self.layouts.update(p[3])
            self.left.update(p[4])
            self.spans.update(p[5])
        html = self.tool_turns["html/v1"]
        self.parse_us_per_turn = busy["html/v1"] / html * 1e6 if html else 0.0
