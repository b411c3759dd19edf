"""DOM-heuristic boilerplate stripping (single-process oracle).

The reference has no HTML path (SURVEY.md section 2.8); the north rule adds
main-content extraction over HTML payloads via densitometric block scoring in
the style of the published Boilerpipe (Kohlschuetter, Fankhauser, Nejdl:
"Boilerplate Detection using Shallow Text Features", WSDM 2010) and jusText
(Pomikalek 2011) algorithms: per-block text density, link density, and tag
context decide keep-vs-strip. The block model mirrors the PDF path's
protocol shape: payload -> blocks -> classify -> reassemble, with the same
4-field output (header / footer / main content / stripped chrome).

Deterministic rules (no ML, no context smoothing, so the vectorized Spark
core can reproduce them exactly):

* a block inside <header> is labeled ``header``; inside <footer> -> ``footer``
* inside <nav> or <aside> -> ``boilerplate``
* link_density = link_chars / text_chars > 1/3 -> ``boilerplate``
* text length < 25 chars -> ``boilerplate`` (short chrome fragments)
* tag depth > 10 -> ``boilerplate`` (deeply nested chrome)
* otherwise ``content``

Output: cleaned main-content text (content blocks joined with "\n") plus
per-block span offsets into it — the "cleaned main-content text and span
offsets per turn" required by BASELINE.json:north_star.
"""

from __future__ import annotations

import hashlib
import re

TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>'\"]|'[^']*'|\"[^\"]*\")*?)(/?)>")
# comments / CDATA / doctype+declarations are stripped before tokenizing —
# commented-out markup must not corrupt the tag stack
_STRIP_RE = re.compile(r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<![^>]*>", re.S)

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol td th tr table section article "
    "header footer nav aside blockquote pre main body html title form".split()
)
VOID_TAGS = frozenset("br img hr input meta link area base col embed source wbr".split())
SKIP_CONTENT_TAGS = frozenset(("script", "style"))
# HTML5 implied end tags: a same-tag sibling reopen closes the previous
# instance (the common unclosed <li>/<p>/<td> chains) so depth does not
# inflate monotonically through valid HTML5
IMPLIED_CLOSE_TAGS = frozenset("li p td th tr option dd dt".split())

# &amp; decodes LAST: decoding it first double-unescapes '&amp;lt;' to '<'
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"))

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0
MAX_CONTENT_DEPTH = 10
WRAP_WIDTH = 80.0  # Boilerpipe-style wrapped-line count for text density


_WS_RE = re.compile(r"\s+")


def _unescape(text: str) -> str:
    if "&" not in text:
        return text
    for k, v in _ENTITIES:
        text = text.replace(k, v)
    return text


def tokenize_html(payload: str) -> list:
    """Parse HTML into flat text blocks with tag-context statistics.

    Returns a list of dicts: ``{text, depth, link_chars, in_header,
    in_footer, in_nav}``. Text is whitespace-normalized (runs collapsed to
    one space, stripped). Blocks are delimited by block-level tag boundaries.
    """
    blocks = []
    stack = []
    # open-tag counters replace repeated `tag in stack` list scans (hot
    # path: one context check per text segment); counter > 0 <=> in stack
    counts: dict = {}
    cur_parts = []
    cur_link_chars = 0
    cur_depth = None
    pos = 0

    def context_flags():
        return (
            counts.get("header", 0) > 0,
            counts.get("footer", 0) > 0,
            counts.get("nav", 0) > 0 or counts.get("aside", 0) > 0,
            counts.get("a", 0) > 0,
        )

    cur_flags = [False, False, False]

    def flush():
        nonlocal cur_parts, cur_link_chars, cur_depth
        if not cur_parts:
            cur_link_chars = 0
            cur_depth = None
            return
        text = _WS_RE.sub(" ", "".join(cur_parts)).strip()
        if text:
            blocks.append(
                {
                    "text": text,
                    "depth": cur_depth if cur_depth is not None else len(stack),
                    "link_chars": min(cur_link_chars, len(text)),
                    "in_header": cur_flags[0],
                    "in_footer": cur_flags[1],
                    "in_nav": cur_flags[2],
                }
            )
        cur_parts = []
        cur_link_chars = 0
        cur_depth = None

    def in_skip() -> bool:
        # counter-based (not stack-top): tag-like text inside a script
        # string ('var h = "<p>"') must not end the skip context
        return counts.get("script", 0) > 0 or counts.get("style", 0) > 0

    def add_text(raw_text: str) -> None:
        nonlocal cur_depth, cur_flags, cur_link_chars
        text = _unescape(raw_text)
        if text.strip():
            in_h, in_f, in_n, in_a = context_flags()
            if cur_depth is None:
                cur_depth = len(stack)
                cur_flags = [in_h, in_f, in_n]
            else:
                cur_flags = [cur_flags[0] or in_h, cur_flags[1] or in_f,
                             cur_flags[2] or in_n]
            norm_len = len(_WS_RE.sub(" ", text).strip())
            if in_a:
                cur_link_chars += norm_len
        cur_parts.append(text)

    payload = _STRIP_RE.sub(" ", payload)

    for m in TAG_RE.finditer(payload):
        raw_text = payload[pos : m.start()]
        pos = m.end()
        if raw_text and not in_skip():
            add_text(raw_text)

        closing, tag, attrs, selfclose = m.groups()
        tag = tag.lower()
        if in_skip():
            # raw-text element content: only the matching close tag ends
            # it; every other tag-like sequence is inert text
            if closing and tag in SKIP_CONTENT_TAGS and counts.get(tag, 0) > 0:
                while stack and stack[-1] != tag:
                    counts[stack.pop()] -= 1
                if stack:
                    counts[stack.pop()] -= 1
            continue
        # a '/' glued to an unquoted attribute value ('<a href=foo/>')
        # belongs to the value, not a self-close
        is_selfclose = bool(selfclose) and (
            not attrs or attrs[-1] in " \t\r\n'\"")
        if tag in VOID_TAGS or is_selfclose:
            if tag in BLOCK_TAGS:
                flush()  # a self-closed block tag is still a boundary
            elif cur_parts:
                cur_parts.append(" ")  # <br>/<img> separate words
            continue
        if closing:
            if tag in BLOCK_TAGS:
                flush()
            if counts.get(tag, 0) > 0:
                while stack and stack[-1] != tag:
                    popped = stack.pop()
                    counts[popped] -= 1
                if stack:
                    popped = stack.pop()
                    counts[popped] -= 1
        else:
            if tag in BLOCK_TAGS:
                flush()
            if tag in IMPLIED_CLOSE_TAGS and stack and stack[-1] == tag:
                counts[stack.pop()] -= 1  # sibling reopen implies close
            stack.append(tag)
            counts[tag] = counts.get(tag, 0) + 1

    tail = payload[pos:]
    if tail and not in_skip():
        add_text(tail)
    flush()
    return blocks


def label_block(block: dict) -> str:
    """Densitometric keep-vs-strip CASE (see module docstring)."""
    if block["in_header"]:
        return "header"
    if block["in_footer"]:
        return "footer"
    if block["in_nav"]:
        return "boilerplate"
    text_len = len(block["text"])
    if text_len == 0:
        return "boilerplate"
    if block["link_chars"] / text_len > MAX_LINK_DENSITY:
        return "boilerplate"
    if text_len < MIN_CONTENT_CHARS:
        return "boilerplate"
    if block["depth"] > MAX_CONTENT_DEPTH:
        return "boilerplate"
    return "content"


def strip_boilerplate(payload: str) -> dict:
    """HTML payload -> cleaned main content + spans + header/footer text.

    Returns the unified layout shape: ``header`` / ``footer`` /
    ``left_column`` (main content) / ``right_column`` (always "") plus
    ``spans`` = [(start, end)] offsets of each kept block inside
    ``left_column`` and stringified ``metadata`` counts.
    """
    import json

    blocks = tokenize_html(payload or "")
    labeled = [(b, label_block(b)) for b in blocks]

    content_texts = [b["text"] for b, lab in labeled if lab == "content"]
    main_text = "\n".join(content_texts)
    spans = []
    offset = 0
    for t in content_texts:
        spans.append((offset, offset + len(t)))
        offset += len(t) + 1  # the joining "\n"

    counts = {
        "total_blocks": len(blocks),
        "content_blocks": sum(1 for _, lab in labeled if lab == "content"),
        "boilerplate_blocks": sum(1 for _, lab in labeled if lab == "boilerplate"),
        "header_blocks": sum(1 for _, lab in labeled if lab == "header"),
        "footer_blocks": sum(1 for _, lab in labeled if lab == "footer"),
        "total_link_chars": sum(b["link_chars"] for b in blocks),
    }
    return {
        "header": "\n".join(b["text"] for b, lab in labeled if lab == "header"),
        "footer": "\n".join(b["text"] for b, lab in labeled if lab == "footer"),
        "left_column": main_text,
        "right_column": "",
        "spans": spans,
        "metadata": {k: json.dumps(v) for k, v in counts.items()},
    }


def content_spans(payload: str) -> list:
    """``[(start, end, md5)]`` per content block of ``strip_boilerplate``:
    the block's offsets into the cleaned main text and the md5 hex digest
    of its text — one turn of the content-span relation."""
    res = strip_boilerplate(payload)
    main = res["left_column"]
    return [(start, end, hashlib.md5(main[start:end].encode("utf-8")).hexdigest())
            for start, end in res["spans"]]
