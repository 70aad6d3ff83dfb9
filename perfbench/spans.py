"""Job spans from wrapping the public calls a job makes.

``record()`` patches ``DataFrameWriter.parquet`` (keyed by output path)
and the eager ``DataFrame`` actions ``count``/``collect`` for the
duration of a ``with`` block, and appends one span per call:
``(kind, key, start, end)``.  A span's ``key`` is the output path for a
write and ``None`` for an action.  Nested calls (``first`` -> ``collect``)
record only the outermost call.
"""

from __future__ import annotations

import contextlib
import threading
import time

from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

_PATCHED = (
    (DataFrameWriter, "parquet", "write"),
    (DataFrame, "count", "action"),
    (DataFrame, "collect", "action"),
)


@contextlib.contextmanager
def record():
    spans: list[tuple[str, str | None, float, float]] = []
    depth = threading.local()
    saved = [(cls, name, getattr(cls, name)) for cls, name, _ in _PATCHED]

    def wrap(fn, kind):
        def inner(self, *args, **kwargs):
            if getattr(depth, "n", 0):
                return fn(self, *args, **kwargs)
            key = (args[0] if args else kwargs.get("path")) if kind == "write" else None
            depth.n = 1
            t0 = time.perf_counter()
            try:
                return fn(self, *args, **kwargs)
            finally:
                spans.append((kind, key, t0, time.perf_counter()))
                depth.n = 0

        return inner

    for (cls, name, kind), (_, _, fn) in zip(_PATCHED, saved):
        setattr(cls, name, wrap(fn, kind))
    try:
        yield spans
    finally:
        for cls, name, fn in saved:
            setattr(cls, name, fn)


def by_phase(spans, phase_of) -> dict[str, float]:
    """Seconds per phase.  ``phase_of(key)`` names the phase a write's
    output path belongs to; an action joins the phase of the write
    before it (a tier writes its audit table, then counts it)."""
    out: dict[str, float] = {}
    phase = "input"
    for kind, key, t0, t1 in spans:
        if kind == "write":
            phase = phase_of(key) or phase
        out[phase] = out.get(phase, 0.0) + (t1 - t0)
    return out
