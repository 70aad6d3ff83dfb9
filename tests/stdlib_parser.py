"""The stdlib ``html.parser`` tree builder: the oracle that
tests/test_parser_equivalence.py holds the production parser
(``domparse_fast.parse_html_fast``) to. Same ``Node`` tree, same
auto-close table and void-element handling, built by a different
tokenizer; the package imports none of it.
"""

from __future__ import annotations

from html.parser import HTMLParser

from fusus_spark.extraction.domparse import AUTO_CLOSE, VOID_TAGS, Node, decode_html


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack: list[Node] = [self.root]

    # -- helpers ----------------------------------------------------------
    def _autoclose_for(self, tag: str) -> None:
        closers = AUTO_CLOSE.get(tag)
        if not closers:
            return
        # Close innermost run of auto-closable tags (never past a table
        # cell boundary for p-closers, kept simple & deterministic).
        while len(self.stack) > 1 and self.stack[-1].tag in closers:
            self.stack.pop()

    # -- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        self._autoclose_for(tag)
        node = Node(tag, {k.lower(): (v or "") for k, v in attrs})
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        self._autoclose_for(tag)
        self.stack[-1].children.append(
            Node(tag, {k.lower(): (v or "") for k, v in attrs})
        )

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        # Find matching open element; ignore stray end tags.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)

    # comments / decls / PIs dropped (the reference drops non-content ink)
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


def parse_html(payload: bytes | str, charset_hint: str | None = None) -> Node:
    """Parse HTML bytes/str into a Node tree rooted at ``#root``.

    Never raises on malformed markup; worst case returns a tree holding
    whatever could be salvaged (the reference's tolerance analog:
    empty-page short-circuit, fusus/page.py:640-647). ``charset_hint``
    is the transport-layer charset (see decode_html).
    """
    text = (decode_html(payload, charset_hint)
            if isinstance(payload, (bytes, bytearray)) else payload)
    builder = _TreeBuilder()
    try:
        builder.feed(text)
        builder.close()
    except Exception:
        # html.parser is robust, but guarantee no exception escapes.
        pass
    return builder.root
