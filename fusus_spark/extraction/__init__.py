"""Per-document extraction core.

Pure-Python stage functions (unit-testable without Spark), fused into
one ``mapInArrow`` pass by :mod:`fusus_spark.extraction.pipeline`.

Stage contract (shared by any payload front-end, mirroring the reference's
two front-ends converging on one TSV shape — SURVEY.md §3.2):

    parse(payload) -> DOM -> strip boilerplate -> blocks -> lines -> words
"""

from fusus_spark.extraction.extract import extract_document  # noqa: F401
