"""fusus_spark — a PySpark-native web-document main-content extraction engine.

A from-scratch rebuild of the *computational shape* of among/fusus
(page-to-structured-text extraction; see /root/reference) retargeted at
Common-Crawl-style web pages:

    HTML payload        <=>  scanned page image
    DOM block tree      <=>  layout stripes/blocks   (fusus/layout.py)
    boilerplate strip   <=>  mark wipe / clean()     (fusus/page.py:718-1032)
    block/line/word TSV <=>  word TSV with boxes     (fusus/page.py:51-79)

Everything runs as a declarative DataFrame plan; the only Python surface
is Arrow-batched stages — ``mapInArrow`` for extraction, ``mapInPandas``
/ ``applyInPandas`` elsewhere (never per-row ``F.udf``), per
BASELINE.json input_hint.
"""

__version__ = "0.1.0"
