"""The direct-call layers add up to extract_document."""

import statistics

import gen
import layers


def _pages():
    small, _ = gen.small_pages(11, 300)
    crawl, _ = gen.crawl_pages(11, 300)
    return [
        (h, l)
        for t in (small, crawl)
        for h, l in zip(t.column("html").to_pylist(), t.column("lang").to_pylist())
    ]


def test_layer_sum_within_ten_percent_of_extract_document():
    pages = _pages()
    ratios = []
    for _ in range(3):
        m = layers.profile(pages)
        parts = sum(
            m[k] for k in ("domparse_fast.us_per_doc", "boilerplate.us_per_doc",
                           "segment.us_per_doc", "assemble.us_per_doc")
        )
        ratios.append(parts / m["extract.us_per_doc"])
    assert abs(statistics.median(ratios) - 1.0) < 0.10, ratios


def test_profile_reports_every_named_metric():
    m = layers.profile(_pages()[:50])
    for name in ("domparse_fast.us_per_doc", "domparse_fast.us_per_kb", "domparse_fast.max_ms",
                 "boilerplate.us_per_doc", "boilerplate.max_ms", "boilerplate.removals_per_doc",
                 "segment.us_per_doc", "assemble.us_per_doc", "extract.us_per_doc_p50",
                 "extract.us_per_doc_p99", "extract.max_ms"):
        assert m[name] > 0, name
