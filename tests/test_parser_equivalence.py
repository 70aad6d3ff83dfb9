"""The fast regex parser (production) must produce IDENTICAL extraction
output to the stdlib-based builder over the fixture corpus and fuzz HTML.

Scope note: the two parsers intentionally diverge on *unterminated*
constructs at EOF and on '>' inside quoted attributes of otherwise
broken tags — stdlib html.parser's bogus-markup recovery is quirky and
the fast parser's documented rule (swallow the remainder as text /
terminate at the first '>') is the spec (EXTRACTION_SPEC.md). The fuzz
generator therefore only emits constructs where the defined behaviors
coincide; pathological inputs are covered by the absolute property
tests in test_extract_core.py (never raises, span invariants hold).

Hostile shapes (runs of unterminated tags, open quotes, comments, CDATA,
processing instructions and raw-text elements, deep stacks with stray end
tags) take the parser's linear-time paths, so they get a strategy of
their own. Quote runs followed by a '>' are where the two recovery rules
part ways; there the oracle is the tag-end regex itself, which the
linear-time resolver must answer identically from every start. The
boilerplate stripper's removal rows on deep and guard-kept nests are
checked against a direct recursive restatement of its rules."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from fusus_spark.extraction.boilerplate import (
    DEFAULT_GUARD,
    PRUNE_TAGS,
    _match_rule,
    strip_boilerplate,
)
from fusus_spark.extraction.domparse_fast import (
    _TAGEND_RE,
    _tag_end_resolver,
    parse_html_fast,
)
from fusus_spark.extraction.segment import assemble, segment_blocks
from tests.fixtures import fixture_documents
from tests.stdlib_parser import parse_html


def _extract_via(parser, payload):
    root = parser(payload)
    root, removals = strip_boilerplate(root)
    text, words = assemble(segment_blocks(root))
    return text, words, removals


def test_fixture_corpus_identical():
    for doc in fixture_documents():
        if not doc["html"]:
            continue
        slow = _extract_via(parse_html, doc["html"])
        fast = _extract_via(parse_html_fast, doc["html"])
        assert slow == fast, doc["url"]


_TAGS = ["p", "div", "span", "br", "li", "ul", "nav", "header", "b", "table",
         "tr", "td", "script", "style", "hr", "h1", "a", "pre", "footer"]


@st.composite
def html_soup(draw):
    """Random plausible-and-broken HTML."""
    parts = []
    for _ in range(draw(st.integers(0, 30))):
        kind = draw(st.integers(0, 9))
        if kind <= 2:
            # no raw '<' in free text: a trailing '<' gluing onto the next
            # part forms unterminated-tag territory where the parsers'
            # defined behaviors differ (see module docstring).
            parts.append(draw(st.text(string.ascii_letters + " .,&;'\"!>",
                                      max_size=30)))
        elif kind <= 5:
            t = draw(st.sampled_from(_TAGS))
            attrs = ""
            if draw(st.booleans()):
                cls = draw(st.sampled_from(["nav", "content", "ads", "x y", ""]))
                attrs = f" class='{cls}'"
            parts.append(f"<{t}{attrs}>")
        elif kind <= 7:
            parts.append(f"</{draw(st.sampled_from(_TAGS))}>")
        elif kind == 8:
            parts.append(draw(st.sampled_from(
                ["<!-- comment -->", "<!DOCTYPE html>", "<![CDATA[x]]>",
                 "<?php ?>", "&amp;", "&notanentity;",
                 "<3 not a tag", "< div>", "<x/>", "<br/>"])))
        else:
            parts.append(draw(st.sampled_from(
                ["<script>var x = 1;</script>", "<style>p{}</style>",
                 "<ScRiPt>X</sCrIpT>"])))
    return "".join(parts)


@given(html_soup())
@settings(max_examples=300, deadline=None)
def test_fuzz_identical(doc: str) -> None:
    slow = _extract_via(parse_html, doc)
    fast = _extract_via(parse_html_fast, doc)
    assert slow == fast


# Hostile runs, one family per document. Units end in whitespace or a
# complete token so a tag name never glues onto the next '<' (html.parser
# reads "<p<div" as one tag name; the fast parser, by spec, does not).
# Families are not mixed: after an unterminated comment html.parser keeps
# the rest of the page as text, while the fast parser, by spec, goes on
# parsing after the '<', so a later complete construct would differ.
# A raw-text end tag is always well formed: html.parser does not end
# <style> at "</style <x>" or "</style<x>", the fast parser does.
_HOSTILE_RUNS = {
    "tags": ["<a ", "<div class=x ", "</a ", "<a\n", "<a b=1 ", "< ", "<p ", "<b/ "],
    "quotes": ["<a href='", '<a href="', "<a t='x\" ", '<a t="x\' ', "<i '", "'", '"'],
    "comments": ["<!--", "<!-- x -", "<!--x--"],
    "cdata": ["<![CDATA[", "<![CDATA[x]"],
    "pis": ["<?x", "<?"],
    "decls": ["<!x", "<!DOCTYPE"],
    "rawtext": ["<script>", "<style>", "<ScRiPt>", "<script>x</script>", "<style>p{}</sty",
                "x</script>", "</style>", "<style>p{}</style >"],
    "nesting": ["<div>", "<span>", "<b>", "</b>", "</div>", "</x>", "</span>", "<p>", "<li>"],
}
_FILLER = ["", "w ", "two words ", "&amp; ", "x"]


@st.composite
def hostile_soup(draw, families=tuple(_HOSTILE_RUNS), trailing=(False, True)):
    """One family's run of unterminated constructs, with filler text,
    optionally under a stack deep enough that stray end tags switch the
    parser to counted mode, and optionally closed by a trailing '>'."""
    units = _HOSTILE_RUNS[draw(st.sampled_from(families))]
    parts = ["<p>lead "] + ["<div>"] * draw(st.sampled_from([0, 70]))
    for _ in range(draw(st.integers(1, 160))):
        parts.append(draw(st.sampled_from(units)))
        if draw(st.integers(0, 3)) == 0:
            parts.append(draw(st.sampled_from(_FILLER)))
    if draw(st.sampled_from(trailing)):
        parts.append(draw(st.sampled_from([">", "> tail", ">x<p>after"])))
    return "".join(parts)


@given(st.one_of(
    hostile_soup(families=("tags", "comments", "cdata", "pis", "decls", "rawtext", "nesting")),
    hostile_soup(families=("quotes",), trailing=(False,)),
))
@settings(max_examples=400, deadline=None)
def test_hostile_shapes_identical(doc: str) -> None:
    slow = _extract_via(parse_html, doc)
    fast = _extract_via(parse_html_fast, doc)
    assert slow == fast


def _element_shape(root):
    """(tag, depth) of every element in document order."""
    out = []
    todo = [(root, 0)]
    while todo:
        node, depth = todo.pop()
        out.append((node.tag, depth))
        todo.extend((c, depth + 1) for c in reversed(node.children) if not isinstance(c, str))
    return out


@given(hostile_soup(families=("nesting",)))
@settings(max_examples=200, deadline=None)
def test_hostile_nesting_tree_identical(doc: str) -> None:
    """Deep stacks with stray end tags build the same element tree: the
    inline tags that do not change the extracted text still nest alike."""
    assert _element_shape(parse_html_fast(doc)) == _element_shape(parse_html(doc))


@given(hostile_soup(families=("quotes", "tags")))
@settings(max_examples=300, deadline=None)
def test_tag_end_resolver_matches_regex(doc: str) -> None:
    """From every start, in parse order, the memoized resolver returns
    the index of the '>' the tag-end regex ends at, or -1 where it fails."""
    tag_end = _tag_end_resolver(doc)
    for i in range(len(doc) + 1):
        m = _TAGEND_RE.match(doc, i)
        assert tag_end(i) == (m.end() - 1 if m else -1), i


def _reference_removals(root, guard=DEFAULT_GUARD):
    """strip_boilerplate's removal rows, restated recursively on the
    unstripped tree: document order, first matching rule, guard stats of
    the match's whole rendered subtree, no descent into a removed match."""
    rows = []

    def visible(node, in_a):
        in_a = in_a or node.tag == "a"
        total = linked = 0
        for c in node.children:
            if isinstance(c, str):
                total += len(c.strip())
                linked += len(c.strip()) if in_a else 0
            elif c.tag not in PRUNE_TAGS:
                t, k = visible(c, in_a)
                total += t
                linked += k
        return total, linked

    def walk(node, path):
        seen = {}
        for c in node.children:
            if isinstance(c, str):
                continue
            seen[c.tag] = seen.get(c.tag, 0) + 1
            cpath = f"{path}/{c.tag}[{seen[c.tag]}]"
            if c.tag in PRUNE_TAGS:
                continue
            rule = _match_rule(c)
            if rule is not None:
                total, linked = visible(c, False)
                density = linked / total if total else 0.0
                keep = total >= guard.min_chars and density <= guard.max_link_density
                rows.append((rule[0], cpath, keep, rule[1], round(density, 6)))
                if not keep:
                    continue
            walk(c, cpath)

    walk(root, "")
    return rows


_PROSE = " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 12)


@st.composite
def boilerplate_nest(draw):
    """A nest up to 200 deep of match candidates (semantic tags, class
    and id hits, plain divs) holding prose, links and pruned payloads,
    so guard decisions vary level by level."""
    opens = ["<div class='nav'>", "<nav>", "<div id='menu'>", "<div>", "<section>",
             "<aside>", "<div role='navigation'>", "<footer>", "<span class='ads'>"]
    texts = ["", "short ", _PROSE, "<a href='/x'>" + _PROSE + "</a>", "<a href='/y'>link</a> ",
             "<script>var payload = 1;</script>", "<p>para " + _PROSE[:80] + "</p>"]
    parts = []
    for _ in range(draw(st.integers(1, 200))):
        parts.append(draw(st.sampled_from(opens)))
        parts.append(draw(st.sampled_from(texts)))
        if draw(st.integers(0, 5)) == 0:
            parts.append(draw(st.sampled_from(["</div>", "</nav>", "</section>"])))
    return "".join(parts)


@given(boilerplate_nest())
@settings(max_examples=200, deadline=None)
def test_removal_rows_match_recursive_reference(doc: str) -> None:
    want = _reference_removals(parse_html_fast(doc))
    assert strip_boilerplate(parse_html_fast(doc))[1] == want


def test_removal_rows_deep_and_guard_kept_nests() -> None:
    """Fixed shapes: a 300-deep plain nest ending in a nav, a 250-deep
    nest of guard-kept nav matches (every level keeps 60+ words), and the
    same nest with every level made link-dense."""
    docs = [
        "<div>" * 300 + "<nav><a href='/'>home</a></nav><p>" + _PROSE,
        ("<div class='nav'>" + _PROSE) * 250,
        ("<div class='nav'><a href='/'>" + _PROSE + "</a>") * 250,
    ]
    for doc in docs:
        want = _reference_removals(parse_html_fast(doc))
        got = strip_boilerplate(parse_html_fast(doc))[1]
        assert got == want
        assert want  # every shape yields removal rows
    assert all(row[2] for row in _reference_removals(parse_html_fast(docs[1])))
