"""Cost tests: per-document operators run in time linear in their input.

One generated document runs through each operator at two sizes. Doubling
its token count may grow the wall by at most 2.5x (median of 3 runs, after
a warm-up), and a hard ceiling bounds the absolute wall of the costliest
tier. Every run carries a deadline: a job still running past it is
cancelled and the test fails, so a super-linear plan fails in seconds
instead of running for minutes.

This module starts with the n-gram family (decontamination, the quality
gate, repetition signals, passage dedup and shingling). Those operators
read a token array inside a ``transform`` lambda; fed the tokenizer
expression instead of a projected column, they re-tokenize the whole
text once per n-gram and go quadratic (cubic for decontaminate).
"""

from __future__ import annotations

import random
import statistics
import time
import uuid

import pytest
from pyspark import InheritableThread

from fusus_spark.operators.curate import curation_gate, decontaminate, dedup_passages
from fusus_spark.operators.dedup import doc_shingles
from fusus_spark.operators.textstats import repetition_stats

SMALL, LARGE = 800, 1600
MAX_GROWTH = 2.5
RUN_DEADLINE_S = 30.0
CEILING_TOKENS, CEILING_S = 2000, 10.0

OPERATORS = {
    "decontaminate": lambda docs, ev: decontaminate(docs, ev, n=13),
    "curation_gate": lambda docs, ev: curation_gate(docs),
    "repetition_stats": lambda docs, ev: repetition_stats(docs),
    "dedup_passages": lambda docs, ev: dedup_passages(docs),
    "doc_shingles": lambda docs, ev: doc_shingles(docs),
}


def _document(n_tokens: int) -> str:
    """Seeded prose-like text with a 16-token passage repeated every 200
    tokens, so passage dedup and decontamination have hits to process."""
    rng = random.Random(n_tokens)
    vocab = ["".join(rng.choices("etaoinshrdlu", k=rng.randint(3, 10))) for _ in range(500)]
    vocab += ["the", "and", "of", "to", "in"]
    passage = [rng.choice(vocab) for _ in range(16)]
    toks = []
    while len(toks) < n_tokens:
        toks += passage if len(toks) % 200 == 0 else [rng.choice(vocab)]
    return " ".join(toks[:n_tokens])


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """{n_tokens: (docs, eval_docs)} read back from parquet, so the
    operators plan over a file scan as the jobs do."""
    root = tmp_path_factory.mktemp("cost")
    out = {}
    for n in (SMALL, LARGE, CEILING_TOKENS):
        text = _document(n)
        ev = " ".join(text.split()[100:160])
        for name, row in (("docs", (1, text)), ("eval", (9, ev))):
            spark.createDataFrame([row], "doc_id long, text string").write.parquet(
                str(root / f"{name}{n}")
            )
        out[n] = (
            spark.read.parquet(str(root / f"docs{n}")),
            spark.read.parquet(str(root / f"eval{n}")),
        )
    return out


def _wall(spark, df, deadline_s: float) -> float:
    """Wall of one full evaluation of ``df`` (noop sink, every column
    computed); cancels the job and fails once ``deadline_s`` passes."""
    sc = spark.sparkContext
    group = f"cost-{uuid.uuid4().hex}"
    box: dict = {}

    def run():
        sc.setJobGroup(group, "cost test", interruptOnCancel=True)
        t0 = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
            box["wall"] = time.perf_counter() - t0
        except Exception as e:  # cancelled past the deadline
            box["error"] = e

    worker = InheritableThread(target=run)
    worker.start()
    worker.join(deadline_s)
    if worker.is_alive():
        while worker.is_alive():
            sc.cancelJobGroup(group)
            worker.join(1.0)
        pytest.fail(f"one document took longer than {deadline_s:.0f} s")
    if "error" in box:
        raise box["error"]
    return box["wall"]


def _median_wall(spark, df) -> float:
    _wall(spark, df, RUN_DEADLINE_S)  # warm-up: codegen, scan caches
    return statistics.median(_wall(spark, df, RUN_DEADLINE_S) for _ in range(3))


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_ngram_tier_cost_is_linear(spark, frames, op):
    small = _median_wall(spark, OPERATORS[op](*frames[SMALL]))
    large = _median_wall(spark, OPERATORS[op](*frames[LARGE]))
    assert large <= MAX_GROWTH * small, (
        f"{op}: {SMALL} tokens {small:.2f} s -> {LARGE} tokens {large:.2f} s "
        f"(x{large / small:.1f}, bound x{MAX_GROWTH})"
    )


def test_decontaminate_ceiling(spark, frames):
    df = OPERATORS["decontaminate"](*frames[CEILING_TOKENS])
    _wall(spark, df, CEILING_S)  # warm-up
    assert _wall(spark, df, CEILING_S) < CEILING_S
