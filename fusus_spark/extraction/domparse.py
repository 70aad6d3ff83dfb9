"""The DOM tree model and the charset decode every parse starts from.

Role analog of the reference's "normalize to analyzable form" stage
(fusus/page.py:577-647 ``doNormalize``: raw scan -> binarized image;
here: raw bytes -> element tree). No lxml in this environment, so the
engine builds a small, deterministic, forgiving tree
(``domparse_fast.parse_html_fast``) on the rules defined here:

* void elements never take children,
* a fixed auto-close table repairs unclosed <p>/<li>/<td>/... the way
  browsers do,
* stray end tags are ignored, unclosed elements are closed at EOF,
* <script>/<style> payloads arrive as raw data and are kept as text
  children of their element (pruned later, never rendered).

Charset handling (T1 analog): try UTF-8 strictly, then any charset
announced in the first 2 KiB (``<meta charset=..>`` /
``content="..charset=.."``), then latin-1, then UTF-8 with replacement —
fully deterministic for any byte string.
"""

from __future__ import annotations

import re

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Tags whose open implicitly closes a set of currently-open tags
# (subset of the HTML5 tree-construction rules; deterministic).
_BLOCKISH = frozenset(
    "address article aside blockquote details dialog dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main "
    "menu nav ol p pre section table ul".split()
)
AUTO_CLOSE: dict[str, frozenset[str]] = {t: frozenset(["p"]) for t in _BLOCKISH}
AUTO_CLOSE.update(
    {
        "li": frozenset(["li", "p"]),
        "dt": frozenset(["dt", "dd", "p"]),
        "dd": frozenset(["dt", "dd", "p"]),
        "tr": frozenset(["tr", "td", "th", "p"]),
        "td": frozenset(["td", "th", "p"]),
        "th": frozenset(["td", "th", "p"]),
        "option": frozenset(["option"]),
        "thead": frozenset(["tr", "td", "th"]),
        "tbody": frozenset(["tr", "td", "th", "thead"]),
        "tfoot": frozenset(["tr", "td", "th", "tbody"]),
    }
)

# Raw-text elements: parser emits their payload as data; we keep it as a
# text child but extraction prunes these tags entirely.
RAWTEXT_TAGS = frozenset(["script", "style"])


class Node:
    """One element. ``children`` holds Node or str (text) in document order."""

    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node | str] = []

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.tag} kids={len(self.children)}>"

    def iter_text(self) -> str:
        """All descendant text concatenated (whitespace NOT normalized)."""
        out: list[str] = []
        stack: list[Node | str] = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                out.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)


_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I)


def decode_html(payload: bytes, charset_hint: str | None = None) -> str:
    """Deterministic bytes -> str (T1 charset-sniff analog).

    Decode order: strict UTF-8 first (a page that survives strict
    UTF-8 IS UTF-8 — this also defuses the very common mis-declared
    transport charset), then the transport-layer ``charset_hint``
    (the Content-Type parameter the WARC envelope retains), then the
    in-page meta charset sniff, then the latin-1 total fallback.
    Unknown/invalid hints fall through silently — the hint can only
    ADD a decode path, never lose a document.

    A leading BOM (U+FEFF) is stripped: it is an encoding artifact, not
    content — left in place it glues to the first word (ZWNBSP is not
    whitespace) and poisons the first token of every BOM'd page.
    """
    if not payload:
        return ""
    text = None
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        pass
    if text is None and charset_hint:
        enc = charset_hint.strip().strip("'\"").lower()
        if enc not in ("utf-8", "utf8"):
            try:
                text = payload.decode(enc)
            except (UnicodeError, LookupError):
                # UnicodeError, not just UnicodeDecodeError: codecs like
                # 'undefined'/'idna' raise the plain superclass, and a
                # hint must never turn a decodable page into an error
                pass
    if text is None:
        m = _CHARSET_RE.search(payload[:2048])
        if m:
            enc = m.group(1).decode("ascii", "replace").lower()
            if enc not in ("utf-8", "utf8"):
                try:
                    text = payload.decode(enc)
                except (UnicodeError, LookupError):
                    pass
    if text is None:
        try:
            text = payload.decode("latin-1")
        except UnicodeDecodeError:  # pragma: no cover - latin-1 never fails
            text = payload.decode("utf-8", "replace")
    return text[1:] if text.startswith("\ufeff") else text
