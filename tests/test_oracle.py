"""Unit tests on the oracle extractor: threshold micro-cases lifted from the
reference's exact boundaries (SURVEY.md section 5)."""

from pdf_parser_spark.oracle.extractor import (
    blocks_to_text,
    extract_turn,
    find_column_separator,
)
from pdf_parser_spark.payload import Block, ParsedPage, parse_payload, render_page


def _block(text, x0, y0, x1, y1):
    return Block(text=text, x0=x0, y0=y0, x1=x1, y1=y1, font_size=10.0, font_name="F1")


def _page(spans=(), lines=(), rects=(), w=612.0, h=792.0):
    return render_page(w, h, spans, lines=lines, rects=rects)


def span(x0, y0, x1, y1, text, size=10.0, font="F1"):
    return {"x0": x0, "y0": y0, "x1": x1, "y1": y1, "size": size, "font": font, "text": text}


class TestPayload:
    def test_roundtrip_span_merge(self):
        payload = _page(spans=[[span(10, 100, 50, 112, "Hello ", size=10, font=""),
                                span(50, 100, 90, 112, "World", size=12, font="F2")]])
        page = parse_payload(payload)
        assert len(page.blocks) == 1
        b = page.blocks[0]
        # G1: concat in order, max size, first non-empty font, union bbox
        assert b.text == "Hello World"  # outer strip only
        assert b.font_size == 12.0
        assert b.font_name == "F2"
        assert (b.x0, b.y0, b.x1, b.y1) == (10.0, 100.0, 90.0, 112.0)

    def test_whitespace_only_span_dropped(self):
        page = parse_payload(_page(spans=[[span(0, 0, 5, 10, "   ")]]))
        assert page.blocks == []

    def test_escaped_newline(self):
        page = parse_payload(_page(spans=[[span(0, 100, 5, 110, "a\nb")]]))
        assert page.blocks[0].text == "a\nb"

    def test_malformed_line_skipped(self):
        payload = _page(spans=[[span(0, 100, 5, 110, "x")]]) + "\nLINE bad bad bad bad"
        page = parse_payload(payload)
        assert page.lines == []
        assert len(page.blocks) == 1


class TestSeparator:
    def test_line_beats_grid(self):
        # O5: longest vertical line within 0.3w of center wins
        page = ParsedPage(612.0, 792.0, lines=[(300.0, 100.0, 301.0, 500.0),
                                               (310.0, 100.0, 310.0, 700.0)])
        assert find_column_separator(page, []) == 310.0

    def test_line_too_far_from_center_ignored(self):
        page = ParsedPage(612.0, 792.0, lines=[(10.0, 0.0, 10.0, 792.0)])
        # |10 - 306| = 296 >= 183.6 -> ignored; no blocks -> w/2
        assert find_column_separator(page, []) == 306.0

    def test_horizontal_line_not_vertical(self):
        page = ParsedPage(612.0, 792.0, lines=[(10.0, 100.0, 500.0, 101.0)])
        assert find_column_separator(page, []) == 306.0

    def test_grid_first_hit(self):
        page = ParsedPage(612.0, 792.0)
        blocks = [_block("l", 50, 200, 180, 212), _block("r", 400, 200, 500, 212)]
        # candidates 183,193,...: first with left(x1<c) and right(x0>c) is 183
        assert find_column_separator(page, blocks) == 183.0

    def test_grid_fails_default_half(self):
        page = ParsedPage(612.0, 792.0)
        blocks = [_block("c", 50, 200, 550, 212)]  # spans whole width
        assert find_column_separator(page, blocks) == 306.0


class TestBlocksToText:
    def test_gap_exactly_10_starts_new_line(self):
        a = _block("a", 0, 294, 10, 306)   # center 300
        b = _block("b", 20, 304, 30, 316)  # center 310, gap == 10
        assert blocks_to_text([a, b]) == "a\nb"

    def test_gap_under_10_same_line_x_sorted(self):
        a = _block("right", 200, 294, 300, 306)  # center 300
        b = _block("left", 0, 303, 100, 315)     # center 309, gap 9 -> same line
        assert blocks_to_text([b, a]) == "left right"

    def test_sorted_by_y_then_x(self):
        b1 = _block("second", 0, 400, 10, 412)
        b2 = _block("first", 0, 100, 10, 112)
        assert blocks_to_text([b1, b2]) == "first\nsecond"

    def test_empty(self):
        assert blocks_to_text([]) == ""


class TestClassify:
    def test_header_boundary_strict(self):
        # center exactly at 0.15h goes to a COLUMN, not header (strict <)
        h = 792.0
        edge = h * 0.15
        payload = _page(spans=[[span(10, edge - 6, 100, edge + 6, "boundary")]])
        lay = extract_turn(payload, "page/v1", 0)
        assert lay["header"] == ""
        assert "boundary" in lay["left_column"] + lay["right_column"]

    def test_header_just_above(self):
        h = 792.0
        edge = h * 0.15
        payload = _page(spans=[[span(10, edge - 6.2, 100, edge + 5.6, "head")]])
        lay = extract_turn(payload, "page/v1", 0)
        assert lay["header"] == "head"

    def test_colored_footer_containment(self):
        payload = _page(
            spans=[[span(40, 750, 200, 762, "band text")],
                   [span(50, 300, 200, 312, "body")]],
            rects=[(0.0, 740.0, 612.0, 792.0, (0.9, 0.9, 0.9))],
        )
        lay = extract_turn(payload, "page/v1", 0)
        assert lay["footer"] == "band text"
        assert lay["metadata"]["colored_footer_regions"] == "1"

    def test_white_rect_ignored(self):
        payload = _page(
            spans=[[span(40, 760, 200, 772, "Page 3 www.example.com")]],
            rects=[(0.0, 740.0, 612.0, 792.0, (1.0, 1.0, 1.0))],
        )
        lay = extract_turn(payload, "page/v1", 0)
        # white rect is not a colored region, but semantic keyword footer fires
        assert lay["metadata"]["colored_footer_regions"] == "0"
        assert lay["footer"] == "Page 3 www.example.com"

    def test_digit_only_footer(self):
        payload = _page(spans=[[span(300, 760, 320, 772, "7")],
                               [span(50, 300, 200, 312, "body")]])
        lay = extract_turn(payload, "page/v1", 0)
        assert lay["footer"] == "7"

    def test_long_non_keyword_bottom_text_not_footer(self):
        long_text = "x" * 60  # >= 50 chars, no keywords, no digits
        payload = _page(spans=[[span(50, 760, 500, 772, long_text)]])
        lay = extract_turn(payload, "page/v1", 0)
        assert lay["footer"] == ""


class TestErrorPaths:
    def test_malformed_payload_error_row(self):
        lay = extract_turn("GARBAGE xyz", "page/v1", 4)
        assert lay["page_number"] == 5
        assert lay["page_width"] == 0.0
        assert lay["column_separator_position"] is None
        assert "error" in lay["metadata"]

    def test_tokenize_failure_fallback_block(self):
        good = _page(spans=[[span(10, 100, 50, 112, "hello world")]])
        payload = good + "\nSPAN bad bad bad bad size=x font= text=salvage me"
        lay = extract_turn(payload, "page/v1", 0)
        # fallback: whole-page block, all salvaged text, right_column quirk
        assert "error" not in lay["metadata"]
        assert lay["metadata"]["total_text_blocks"] == "1"
        assert "hello world" in lay["right_column"]
        assert "salvage me" in lay["right_column"]

    def test_plain_payload_right_column_quirk(self):
        lay = extract_turn("just plain text", "plain", 0)
        assert lay["right_column"] == "just plain text"
        assert lay["column_separator_position"] == 306.0

    def test_empty_page(self):
        lay = extract_turn(_page(), "page/v1", 2)
        assert lay["header"] == lay["footer"] == lay["left_column"] == lay["right_column"] == ""
        assert lay["metadata"]["total_text_blocks"] == "0"


class TestVariants:
    def test_a002_band_footer(self):
        # center_y > 0.9h is footer regardless of keywords in A002
        payload = _page(spans=[[span(50, 715, 500, 727, "plain bottom text here")]])
        a002 = extract_turn(payload, "page/v1", 0, variant="a002")
        a003 = extract_turn(payload, "page/v1", 0, variant="a003")
        assert a002["footer"] == "plain bottom text here"  # center 721 > 712.8
        assert a003["footer"] == ""  # 721 < 752.4 and no keywords

    def test_a004_header_at_10pct(self):
        h = 792.0
        y = h * 0.12  # between 0.10h and 0.15h
        payload = _page(spans=[[span(10, y - 6, 100, y + 6, "subtitle")]])
        a003 = extract_turn(payload, "page/v1", 0, variant="a003")
        a004 = extract_turn(payload, "page/v1", 0, variant="a004")
        assert a003["header"] == "subtitle"
        assert a004["header"] == ""


class TestBoilerplateTokenizer:
    """Real-world-HTML hardening of the DOM stripper (round-2 review):
    each case was a confirmed mis-extraction before the fix."""

    def _strip(self, payload):
        from pdf_parser_spark.oracle.boilerplate import strip_boilerplate

        return strip_boilerplate(payload)

    def test_script_content_with_tag_like_strings_is_skipped(self):
        res = self._strip(
            '<script>var h = "<p>"; var leakedCodeThatIsQuiteLong = 12345;'
            '</script><p>Real content paragraph long enough to keep.</p>')
        assert "leakedCode" not in res["left_column"]
        assert res["left_column"] == "Real content paragraph long enough to keep."

    def test_comments_doctype_cdata_stripped(self):
        res = self._strip(
            "<!DOCTYPE html><!-- a fairly long html comment with words -->"
            "<div>First real block of content here padded out.</div>"
            "<!-- <div><div><div><div> --><![CDATA[junk <div> junk]]>"
            "<div>Second real block of content here padded out.</div>")
        assert "comment" not in res["left_column"]
        assert "junk" not in res["left_column"]
        assert len(res["spans"]) == 2  # commented tags did not inflate depth

    def test_implied_end_tags_do_not_inflate_depth(self):
        items = "".join(
            f"<li>list item number {i} padded to content length.." for i in range(12))
        res = self._strip(f"<ul>{items}</ul>")
        assert len(res["spans"]) == 12  # every item kept, none depth-stripped

    def test_double_escaped_entities(self):
        res = self._strip(
            "<p>showing markup a &amp;lt; b plus padding words here okay</p>")
        assert "a &lt; b" in res["left_column"]

    def test_br_separates_words_and_selfclosed_div_is_boundary(self):
        res = self._strip(
            "<p>alpha<br>beta gamma delta epsilon zeta eta theta iota</p>")
        assert res["left_column"].startswith("alpha beta")
        res2 = self._strip(
            "<div>first block of content padded to length okay<div/>"
            "second block of content padded to length okay</div>")
        assert len(res2["spans"]) == 2

    def test_unclosed_tail_anchor_counts_link_chars(self):
        res = self._strip(
            "<div><a href=x>Click here for more information about products")
        assert res["left_column"] == ""  # link-only block stripped

    def test_unquoted_attr_trailing_slash_not_selfclose(self):
        res = self._strip(
            "<p><a href=foo/>all of this text is one link body padding</a></p>")
        assert res["left_column"] == ""  # anchor really opened -> link-stripped


class TestToolDispatch:
    """``extract_turn`` is the one per-turn dispatch for every tool."""

    HTML = ("<header>Site header text</header><nav><a href=x>Home</a></nav>"
            "<p>Main content paragraph that is long enough to keep.</p>"
            "<footer>Copyright footer line</footer>")

    def test_html_equals_strip_boilerplate(self):
        from pdf_parser_spark.oracle.boilerplate import strip_boilerplate

        res = strip_boilerplate(self.HTML)
        got = extract_turn(self.HTML, "html/v1", 3)
        assert got == {
            "page_number": 4,
            "header": res["header"], "footer": res["footer"],
            "left_column": res["left_column"], "right_column": res["right_column"],
            "page_width": 0.0, "page_height": 0.0,
            "column_separator_position": None,
            "metadata": res["metadata"],
        }
        assert got["left_column"].startswith("Main content")
        # the html path does not depend on the layout variant
        assert extract_turn(self.HTML, "html/v1", 3, variant="a000") == got

    def test_non_string_html_payload_is_error_row(self):
        got = extract_turn(12345, "html/v1", 0)
        assert set(got["metadata"]) == {"error"}
        assert (got["page_number"], got["left_column"], got["page_width"],
                got["column_separator_position"]) == (1, "", 0.0, None)

    def test_null_and_unknown_tools_are_plain(self):
        want = extract_turn(" some text ", "plain", 0)
        assert want["right_column"] == "some text"
        assert extract_turn(" some text ", None, 0) == want
        assert extract_turn(" some text ", "exotic/v9", 0) == want
