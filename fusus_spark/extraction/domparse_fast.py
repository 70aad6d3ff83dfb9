"""Fast regex-driven HTML -> Node tree: the engine's HTML parser.

The stdlib ``html.parser`` costs ~60% of extraction CPU (its
char-by-char ``goahead`` loop + per-tag regexes). This tokenizer walks
the document with ``str.find``/one compiled tag regex instead, while
producing the IDENTICAL tree semantics as a stdlib ``html.parser``
builder (the test oracle, tests/stdlib_parser.py):

* same Node type, same auto-close table, same void-element handling,
* stray end tags ignored, unclosed elements closed at EOF,
* comments / doctypes / PIs / CDATA dropped,
* <script>/<style> content captured raw (case-insensitive end tag),
* character references unescaped in text nodes (only when '&' present),
* attribute names lowercased; values unescaped.

Equivalence with the stdlib builder is asserted by
tests/test_parser_equivalence.py over the fixture corpus and random
fuzz documents.

Cost contract: one parse runs in time linear in the page. A forward
scan that fails is never repeated from a later '<' — after a failed
tag-end scan ``_tag_end_resolver`` takes over, and a ``find`` for
'-->', ']]>', '>' or a rawtext end tag that returned -1 from p answers
-1 from p onward without scanning. Once a stray end tag has walked a
deep stack, per-tag open counts answer later stray end tags without a
walk. tests/test_cost.py pins the contract on hostile page families.
"""

from __future__ import annotations

import re
from html import unescape

from fusus_spark.extraction.domparse import (
    AUTO_CLOSE,
    RAWTEXT_TAGS,
    VOID_TAGS,
    Node,
    decode_html,
)

# Tag names (matched after dispatching on the char following '<' —
# a single-alternation regex with named groups costs ~6 C-API group()
# calls per tag; first-char dispatch + one anonymous match is ~25%
# faster over the whole parse).
_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:._-]*")

# Attributes: name (=value)? with quoted/unquoted values.
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)
        (?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?""",
    re.X,
)

# Attr region + closing '>', skipping quoted values (C-level scan).
_TAGEND_RE = re.compile(r"""(?:"[^"]*"|'[^']*'|[^>"'])*>""")

# A stray end tag that walks a stack deeper than this switches the parse
# to per-tag open counts, so later stray end tags skip the walk.
_STRAY_WALK = 64

# The characters a tag-end scan stops at outside a quoted value.
_TAGSTOP_RE = re.compile(r"""[>"']""")


def _tag_end_resolver(text: str):
    """``_TAGEND_RE.match(text, i)`` as an index, linear over all calls.

    The returned function takes the start of an attribute region and
    gives the index of the closing '>' or -1. A scan outside quoted
    values is a chain of stops: '>' ends it, a quote jumps past its
    partner (no partner: fail), the end of text fails. The result from
    a quote stop does not depend on where the scan started, so it is
    memoized per stop and a later scan ends at the first known stop it
    reaches. The quote-free run before the first stop is cached for the
    latest start (starts only move forward). Each stop is walked once
    and each partner search covers a disjoint span, so a page full of
    unterminated tags and open quotes costs O(len(text)) in total, not
    O(len(text)) per tag.
    """
    n = len(text)
    search = _TAGSTOP_RE.search
    memo = {n: -1}  # stop index -> result; index n = end of text
    run = [n + 1, n]  # no stop in [run[0], run[1])

    def tag_end(i: int) -> int:
        if run[0] <= i <= run[1]:
            j = run[1]
        else:
            m = search(text, i)
            j = run[1] = m.start() if m else n
            run[0] = i
        res = memo.get(j)
        walked = []
        while res is None:
            ch = text[j]
            if ch == ">":
                res = j
                break
            walked.append(j)
            close = text.find(ch, j + 1)
            if close == -1:
                res = -1
                break
            m = search(text, close + 1)
            j = m.start() if m else n
            res = memo.get(j)
        for j in walked:
            memo[j] = res
        return res

    return tag_end


def _parse_attrs(s: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            val = ""
        elif val[:1] in ("'", '"'):
            val = val[1:-1]
        if "&" in val:
            val = unescape(val)
        if name not in out:
            out[name] = val
    return out


def parse_html_fast(payload: bytes | str, charset_hint: str | None = None) -> Node:
    """Tokenize HTML bytes/str into a Node tree rooted at ``#root``."""
    text = (decode_html(payload, charset_hint)
            if isinstance(payload, (bytes, bytearray)) else payload)
    root = Node("#root")
    stack: list[Node] = [root]
    # tag -> elements of that tag on the stack; kept only once a stray
    # end tag has walked a deep stack (_STRAY_WALK), so ordinary pages
    # pay nothing for it
    open_count: dict[str, int] | None = None
    n = len(text)
    pos = 0
    lower: str | None = None  # lazily lowercased copy for rawtext end search
    tag_end = None  # _tag_end_resolver, from the first failed _TAGEND_RE scan on
    no_match: dict[str, int] = {}  # needle -> a start whose find returned -1

    def emit_text(chunk: str) -> None:
        if chunk:
            if "&" in chunk:
                chunk = unescape(chunk)
            stack[-1].children.append(chunk)

    def find(hay: str, needle: str, start: int) -> int:
        # a needle absent from [p, n) is absent from every later start
        if start >= no_match.get(needle, n + 1):
            return -1
        i = hay.find(needle, start)
        if i == -1:
            no_match[needle] = start
        return i

    while pos < n:
        lt = text.find("<", pos)
        if lt == -1:
            emit_text(text[pos:])
            break
        if lt > pos:
            emit_text(text[pos:lt])
        c = text[lt + 1 : lt + 2]
        # dispatch on the char after '<'; the common case (a start tag)
        # first. Unterminated constructs at EOF degrade to text
        # ('<' + rest), matching html.parser's close() behavior.
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            m = _NAME_RE.match(text, lt + 1)
            is_end = False
        elif c == "/":
            m = _NAME_RE.match(text, lt + 2)
            is_end = True
        elif c == "!":
            if text.startswith("--", lt + 2):
                end = find(text, "-->", lt + 4)
                if end == -1:
                    emit_text("<")
                    pos = lt + 1
                    continue
                pos = end + 3
                continue
            if text.startswith("[CDATA[", lt + 2):
                end = find(text, "]]>", lt + 9)
                if end == -1:
                    emit_text("<")
                    pos = lt + 1
                    continue
                pos = end + 3
                continue
            d = text[lt + 2 : lt + 3]
            if ("a" <= d <= "z") or ("A" <= d <= "Z"):
                end = find(text, ">", lt + 2)
                if end == -1:
                    emit_text("<")
                    pos = lt + 1
                    continue
                pos = end + 1
                continue
            emit_text("<")
            pos = lt + 1
            continue
        elif c == "?":
            end = find(text, ">", lt + 2)
            if end == -1:
                emit_text("<")
                pos = lt + 1
                continue
            pos = end + 1
            continue
        else:
            emit_text("<")  # literal '<' (html.parser treats as text)
            pos = lt + 1
            continue

        if m is None:
            emit_text("<")
            pos = lt + 1
            continue
        after = m.end()
        if text[after : after + 1] == ">":
            # attribute-less tag — the common case; skip the attr regex
            attr_str = ""
            self_closing = False
            pos = after + 1
        else:
            # find the tag-closing '>' skipping quoted attribute values
            if tag_end is None:
                endm = _TAGEND_RE.match(text, after)
                gt = -1 if endm is None else endm.end() - 1
                if gt == -1:
                    tag_end = _tag_end_resolver(text)
            else:
                gt = tag_end(after)
            if gt == -1:
                # unterminated tag at EOF -> text, like stdlib
                stack[-1].children.append("<")
                pos = lt + 1
                continue
            attr_str = text[after:gt]
            self_closing = attr_str.endswith("/")
            pos = gt + 1
        name = m.group().lower()

        if is_end:
            if name in VOID_TAGS or (open_count is not None and not open_count.get(name)):
                continue  # stray end tag; once counted, ignored without a walk
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == name:
                    if open_count is not None:
                        for closed in stack[k:]:
                            open_count[closed.tag] -= 1
                    del stack[k:]
                    break
            else:
                if open_count is None and len(stack) > _STRAY_WALK:
                    open_count = {}
                    for open_node in stack[1:]:
                        open_count[open_node.tag] = open_count.get(open_node.tag, 0) + 1
            continue

        # start tag
        closers = AUTO_CLOSE.get(name)
        if closers:
            while len(stack) > 1 and stack[-1].tag in closers:
                closed = stack.pop()
                if open_count is not None:
                    open_count[closed.tag] -= 1
        attrs = _parse_attrs(attr_str[:-1] if self_closing else attr_str) if attr_str.strip("/ \t\r\n") else {}
        node = Node(name, attrs)
        stack[-1].children.append(node)
        if name in RAWTEXT_TAGS and not self_closing:
            # raw text until case-insensitive </name
            if lower is None:
                lower = text.lower()
            end = find(lower, "</" + name, pos)
            if end == -1:
                pos = n  # unterminated rawtext: payload dropped (stdlib too)
                continue
            if end > pos:
                node.children.append(text[pos:end])
            gt = find(text, ">", end)
            pos = n if gt == -1 else gt + 1
            continue
        if name not in VOID_TAGS and not self_closing:
            stack.append(node)
            if open_count is not None:
                open_count[name] = open_count.get(name, 0) + 1

    return root
