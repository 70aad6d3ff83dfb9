"""Direct-call profile of the per-document extraction layers.

Calls the public layer functions in the order ``extract_document``
calls them (decode+parse, boilerplate strip, rewrite+segment,
assemble), timing each with ``perf_counter``, then times
``extract_document`` itself on the same page.  Single process, no
Spark.
"""

from __future__ import annotations

import statistics
import time

from fusus_spark.extraction.boilerplate import strip_boilerplate
from fusus_spark.extraction.domparse_fast import parse_html_fast
from fusus_spark.extraction.extract import extract_document
from fusus_spark.extraction.rewrite import compiled_for_lang
from fusus_spark.extraction.segment import assemble, segment_blocks


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def profile(pages: list[tuple[bytes, str | None]]) -> dict[str, float]:
    """Per-layer metrics over ``pages`` of (html bytes, lang)."""
    perf = time.perf_counter
    parse, strip, seg, asm, total = [], [], [], [], []
    removed = 0
    nbytes = 0
    for html, lang in pages:
        nbytes += len(html)
        t0 = perf()
        root = parse_html_fast(html, None)
        t1 = perf()
        root, removals = strip_boilerplate(root)
        t2 = perf()
        blocks = segment_blocks(root, rewrites=compiled_for_lang(lang))
        t3 = perf()
        assemble(blocks)
        t4 = perf()
        extract_document(html, lang=lang)
        t5 = perf()
        parse.append(t1 - t0)
        strip.append(t2 - t1)
        seg.append(t3 - t2)
        asm.append(t4 - t3)
        total.append(t5 - t4)
        removed += sum(1 for r in removals if not r[2])
    n = len(pages)
    return {
        "domparse_fast.us_per_doc": sum(parse) / n * 1e6,
        "domparse_fast.us_per_kb": sum(parse) / (nbytes / 1024) * 1e6,
        "domparse_fast.max_ms": max(parse) * 1e3,
        "boilerplate.us_per_doc": sum(strip) / n * 1e6,
        "boilerplate.max_ms": max(strip) * 1e3,
        "boilerplate.removals_per_doc": removed / n,
        "segment.us_per_doc": sum(seg) / n * 1e6,
        "assemble.us_per_doc": sum(asm) / n * 1e6,
        "extract.us_per_doc": sum(total) / n * 1e6,
        "extract.us_per_doc_p50": statistics.median(total) * 1e6,
        "extract.us_per_doc_p99": _pct(total, 0.99) * 1e6,
        "extract.max_ms": max(total) * 1e3,
    }
