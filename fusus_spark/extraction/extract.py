"""Per-document extraction orchestrator (pure Python, Spark-free).

One call = the whole per-page stage DAG of the reference
(fusus/book.py:307-387 ``_doPage``: normalize -> layout -> clean ->
ocr), re-expressed for HTML:

    decode -> parse DOM -> strip boilerplate -> blocks -> lines -> words

Returns a plain dict so both the pytest golden tests and the Spark
``mapInArrow`` stage share one implementation.
"""

from __future__ import annotations

from typing import Any

from fusus_spark.extraction.boilerplate import (
    DEFAULT_GUARD,
    GuardConfig,
    strip_boilerplate,
)
from fusus_spark.extraction.domparse_fast import parse_html_fast as parse_html
from fusus_spark.extraction.segment import assemble, segment_blocks

# Payload size cap (maxHits-guard analog, fusus/parameters.py:337-345 +
# page.py:878-886: pathological inputs are bounded, and the bound is
# RECORDED, never silent). Oversized payloads are truncated before parse
# and flagged status='capped'. Every layer below runs in time linear in
# its input (tests/test_cost.py), so the cap bounds cost as well as bytes.
DEFAULT_MAX_HTML_BYTES = 4 * 1024 * 1024

STATUS_EXTRACTED = "extracted"
STATUS_EMPTY = "empty"
STATUS_ERROR = "error"
STATUS_CAPPED = "capped"


def extract_document(
    html: bytes | str | None,
    *,
    lang: str | None = None,
    charset: str | None = None,
    max_html_bytes: int = DEFAULT_MAX_HTML_BYTES,
    guard: GuardConfig = DEFAULT_GUARD,
) -> dict[str, Any]:
    """Extract one document. Never raises.

    ``lang`` selects the language-keyed rewrite table (T30 analog:
    e.g. Arabic orthographic normalization) layered on the default
    mojibake/entity rules; None applies the default table only.
    ``charset`` is the transport-layer decode hint (Content-Type
    parameter retained by the WARC envelope) — consulted only when
    strict UTF-8 fails, see domparse.decode_html.

    Returns dict with keys:
      status          extracted | empty | error | capped
      extracted_text  str ("" when empty/error)
      words           list[(block_id, line_id, word_seq, word, punc,
                            char_start, char_end)]
      n_blocks, n_lines, n_words, n_removed
      removals        list[(rule_id, node_path, kept, score, guard_ratio)]
      error           str | None
    """
    result: dict[str, Any] = {
        "status": STATUS_EMPTY,
        "extracted_text": "",
        "words": [],
        "n_blocks": 0,
        "n_lines": 0,
        "n_words": 0,
        "n_removed": 0,
        "removals": [],
        "error": None,
    }
    if html is None:
        return result
    capped = False
    if isinstance(html, str):
        if len(html) > max_html_bytes:
            html = html[:max_html_bytes]
            capped = True
    else:
        html = bytes(html)
        if len(html) > max_html_bytes:
            html = html[:max_html_bytes]
            capped = True
    if not html:
        return result
    try:
        from fusus_spark.extraction.rewrite import compiled_for_lang

        root = parse_html(html, charset)
        root, removals = strip_boilerplate(root, guard=guard)
        blocks = segment_blocks(root, rewrites=compiled_for_lang(lang))
        text, words = assemble(blocks)
    except Exception as exc:  # defensive: a bad payload must not kill a task
        result["status"] = STATUS_ERROR
        result["error"] = f"{type(exc).__name__}: {exc}"[:500]
        return result
    result["removals"] = removals
    result["n_removed"] = sum(1 for r in removals if not r[2])
    if not text:
        # empty-page analog (fusus/page.py:640-647) — but unlike the
        # reference we still account for the url with a status row.
        result["status"] = STATUS_CAPPED if capped else STATUS_EMPTY
        return result
    result["status"] = STATUS_CAPPED if capped else STATUS_EXTRACTED
    result["extracted_text"] = text
    result["words"] = words
    result["n_blocks"] = len(blocks)
    result["n_lines"] = sum(len(b) for b in blocks)
    result["n_words"] = len(words)
    return result
