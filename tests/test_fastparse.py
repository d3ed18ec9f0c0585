"""Differential tests: the regex-scanner tokenizer must build the SAME
tree the stdlib-html.parser path builds — on every fixture input, the
synthetic corpus, and hypothesis byte-soup — and both parsers' per-tag
index must equal a fresh walk of the tree they built."""

from __future__ import annotations

import json
import pathlib

import pytest
from hypothesis import given, settings, strategies as st

from crawspark.corpus import make_doc
from crawspark.oracle.dom import Document, Node, parse_html
from crawspark.oracle.fastparse import _SCAN, _WF_ATTRS, parse_html_fast

FIXDIR = pathlib.Path(__file__).resolve().parent / "fixtures"


def _shape(node: Node):
    return (node.tag, sorted(node.attrs.items()),
            [(c if isinstance(c, str) else _shape(c)) for c in node.children])


def _assert_index(root: Document) -> None:
    tags = {n.tag for n in root.iter()}
    assert set(root.by_tag) == tags
    for tag in tags:
        assert root.elements(tag) == root.find_all(tag)  # same nodes, same order


def _assert_same(payload: str) -> None:
    fast, ref = parse_html_fast(payload), parse_html(payload)
    assert _shape(fast) == _shape(ref)
    _assert_index(fast)
    _assert_index(ref)


@pytest.mark.parametrize("case", sorted(
    p.name for p in FIXDIR.iterdir() if (p / "input.json").exists()))
def test_fixture_inputs_identical(case: str) -> None:
    spans = json.loads((FIXDIR / case / "input.json").read_text())
    html = "".join(s.get("text") or "" for s in spans
                   if s.get("kind") == "html")
    if html:
        _assert_same(html)


def test_corpus_identical() -> None:
    for i in range(150):
        d = make_doc(7, i)
        html = "".join(s["text"] or "" for s in d["spans"]
                       if s["kind"] == "html")
        if html:
            _assert_same(html)


# Inside the well-formed fast path, then outside it (stdlib regexes).
_WF_SHAPES = [
    '<p a="">', '<a href="/x?a=1&amp;b=2" title="&#65;z">', '<DIV ID="M" Class="k">',
    '<p a="1" a="2">', '<br a="v"/>', '<img src="v" />', '<p\n a="1"\t b="2" >',
    '<a data-x_y:z.w="it\'s">', '<span a="v"/>',
]
_SLOW_SHAPES = [
    '<p x = "v">', "<p a='v'>", '<p a=v>', '<p a="v"b="w">', '<p a="x>y">',
    '<p a="x<y">', '<p a=="v">', '<br a="v"/ >', '<p 1a="v">', '<p a="v" b>',
]
_ATTR_SHAPES = _WF_SHAPES + _SLOW_SHAPES


def test_attr_shapes_split_by_fast_grammar() -> None:
    def run(tag: str) -> str:
        return _SCAN.match(tag).group("attrs")
    assert all(_WF_ATTRS.fullmatch(run(t)) for t in _WF_SHAPES)
    assert not any(_WF_ATTRS.fullmatch(run(t)) for t in _SLOW_SHAPES)
    for shape in _ATTR_SHAPES:
        _assert_same(f"<body>{shape}x</p></body>")


_tagged = st.lists(
    st.one_of(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
                max_size=30),
        st.sampled_from([
            "<p>", "</p>", "<div class='a b'>", "</div>", "<a href='/x'>",
            "</a>", "<img src='a.jpg'/>", "<br>", "<title>", "</title>",
            "<em>", "</em>", "<!-- c -->", "<!doctype html>", "<script>",
            "var x='<p>';", "</script>", "<style>", "p{}", "</style>",
            "&amp;", "&lt;", "&#65;", "&nosuch;", "<", ">", "</", "<p",
            "='", "<p a=1 b=\"2\" c='3'>", "<td>", "</td>", "<input value='v'>",
            # attribute runs on both sides of fastparse's well-formed grammar
            *_ATTR_SHAPES, "<script src=\"s.js\">",
        ]),
    ), max_size=40).map("".join)


@settings(max_examples=300, deadline=None)
@given(_tagged)
def test_hypothesis_identical(payload: str) -> None:
    _assert_same(payload)


def test_whitespace_prefixed_end_tags() -> None:
    # endtagfind accepts '</ name >' (r3 review finding: the fast scanner
    # dropped these as bogus, silently nesting what stdlib makes siblings);
    # '</ name junk>' is parse_bogus_comment → dropped on BOTH paths.
    for p in ["<div><p>intro</ p><p>body", "<p>a</ p>x", "<p>a</ p attr>x",
              "<p>a</\np>x", "<p>a</ p >x", "</ 1>x", "</>x",
              "<p>a</p junk>b", "</ TD>", "</ p.x>"]:
        _assert_same(p)
