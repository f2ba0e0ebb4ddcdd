"""Tag-shape cases for the html tokenizer, with literal expectations: tag
names resolve case-insensitively (each raw spelling maps to the same
action), ``<br/>`` breaks a unit and ``</br>`` does not, unknown and
digit-bearing names are tags, a ``<`` that starts no tag is text, text
after the last tag is kept, and a quoted ``>`` does not end a tag."""

from __future__ import annotations

import pytest

from univer_ocr_spark.extract.html_extract import extract_html, parse_blocks
from univer_ocr_spark.spans import validate_spans

CASES = {
    "mixed_case": (
        "<html><body><P>alpha</P><Div>beta<BR>gamma</Div><DIV>delta</div>"
        "<SCRIPT>x=1</Script><p>eps</P></body></html>",
        ("alpha\nbeta\ngamma\ndelta\neps",
         [(0, 15, 20), (1, 29, 33), (2, 37, 42), (3, 53, 58), (4, 87, 90)]),
    ),
    "br_forms": (
        "<html><body><p>one<br/>two</br>three<br><br>four<BR/></p>"
        "<div><br>five</div></body></html>",
        ("one\ntwothree\nfour\nfive",
         [(0, 15, 18), (1, 23, 26), (1, 31, 36), (2, 44, 48), (3, 66, 70)]),
    ),
    "unknown_and_digit_tags": (
        "<html><body><h2>Title <Blink>now</Blink></h2><x1>loose</x1><p>para "
        "<custom-tag>z</custom-tag> <H3>inner</h3> tail</p><h7>seven</h7></body></html>",
        ("Title now\npara z tail\ninner",
         [(0, 16, 22), (0, 29, 32), (1, 62, 67), (1, 79, 80), (1, 108, 113),
          (2, 98, 103)]),
    ),
    "bare_lt_and_trailing_text": (
        "<html><body><p>a < b and c<d</p><div>x <3 y</div>trailing text after"
        "</body></html> and more < text",
        ("a < b and ctrailing text after\nx <3 y",
         [(0, 15, 26), (0, 49, 68), (1, 37, 43)]),
    ),
    "quoted_gt_in_attrs": (
        "<html><body><p title=\"a>b\" data-x='c>d'>kept</p><div onclick=\"if "
        "(a>1) go('x>y')\">also kept <a href=\"u>v\">link</a></div></body></html>",
        ("kept\nalso kept link", [(0, 40, 44), (1, 82, 92), (1, 106, 110)]),
    ),
    "links_mixed_case": (
        "<html><body><P><A href=x>link link link</a> short</P><p>long text body "
        "here <a>l</a></p><NAV><p>nav</p></NAV></body></html>",
        ("long text body here l", [(0, 56, 76), (0, 79, 80)]),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_extract_html_shapes(name):
    payload, want = CASES[name]
    got = extract_html(payload)
    assert got == want
    validate_spans(payload, got[1])


def test_parse_blocks_shapes():
    """Block tags come back lowercased, with per-node link flags, <br>
    markers and the link-density verdict."""
    assert parse_blocks(CASES["links_mixed_case"][0]) == [
        ("p", False, [(25, 39, True), (43, 49, False)]),
        ("p", True, [(56, 76, False), (79, 80, True)]),
        ("p", False, []),
    ]
    assert parse_blocks(CASES["br_forms"][0]) == [
        ("p", True, [(15, 18, False), None, (23, 26, False), (31, 36, False),
                     None, (44, 48, False), None]),
        ("div", True, [(66, 70, False)]),
    ]
