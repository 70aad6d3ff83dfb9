"""Streaming ingest variant (optional surface).

The reference is pure batch (SURVEY.md §1.4/§2.9) and so is this
engine's core; the north-rule resume requirement is met by the
per-partition ledger, NOT by Structured Streaming. This module exists
for the ingest-as-it-crawls use case: the SAME extraction stage applied
to a stream of document files via ``foreachBatch`` — one code path for
batch and streaming (the stage function is shared).
"""

from fusus_spark.streaming.ingest import extraction_stream  # noqa: F401
from fusus_spark.streaming.stateful import (  # noqa: F401
    dedup_stream,
    dedup_stream_vs_store,
    snapshot_foldback_stream,
)
