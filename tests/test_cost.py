"""Cost tests: per-document work runs in time linear in its input.

One generated document runs through each operator at two sizes. Doubling
it may grow the wall by at most 2.5x (median of 3 runs, after a warm-up),
and a hard ceiling bounds the absolute wall of the costliest case. Every
run carries a deadline, so a super-linear implementation fails in seconds
instead of running for minutes or hours.

Two families of work are covered:

* the n-gram tiers (decontamination, the quality gate, repetition
  signals, passage dedup and shingling). Those operators read a token
  array inside a ``transform`` lambda; fed the tokenizer expression
  instead of a projected column, they re-tokenize the whole text once per
  n-gram and go quadratic (cubic for decontaminate). A Spark job past its
  deadline is cancelled through its job group.
* the per-document extraction layers (parse, boilerplate strip and the
  whole ``extract_document``) on hostile pages: runs of unterminated
  tags, open quotes, open comments/CDATA/processing instructions, deep
  nesting, stray end tags, guard-vetoed nested matches, wide flat trees
  and giant attribute lists. A scan that is repeated from every '<', or
  a per-node walk of the ancestors or of the subtree, makes these
  quadratic. Pure Python, so the deadline is a SIGALRM that fails the
  test from inside the running call.
"""

from __future__ import annotations

import gc
import random
import signal
import statistics
import time
import uuid
from contextlib import contextmanager

import pytest
from pyspark import InheritableThread

from fusus_spark.extraction.boilerplate import strip_boilerplate
from fusus_spark.extraction.domparse_fast import parse_html_fast
from fusus_spark.extraction.extract import extract_document
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


# --- extraction layers ---------------------------------------------------

PAGE_SMALL, PAGE_LARGE = 32 * 1024, 64 * 1024
PAGE_DEADLINE_S = 10.0
CEILING_PAGE, PAGE_CEILING_S = 1024 * 1024, 5.0
# a layer this fast at PAGE_LARGE is timer noise, not a growth signal
# (the 1 MiB ceiling still bounds it)
MIN_MEASURED_S = 0.005
GROWTH_RUNS = 5
REPRO_S = 0.1

_PROSE = " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 12)  # 60 words

# family -> page built from a repeat count
FAMILIES = {
    "lt_runs": lambda k: "<p>" + "<a " * k,
    "open_quotes": lambda k: "<p>" + "<a href='" * k,
    "mixed_quotes": lambda k: "<p>" + "<a t='x\" " * k,
    "open_comments": lambda k: "<p>x" + "<!--" * k,
    "open_cdata": lambda k: "<p>x" + "<![CDATA[" * k,
    "open_pis": lambda k: "<p>x" + "<?x " * k,
    "deep_nesting": lambda k: "<div>" * k + "x",
    "stray_end_tags": lambda k: "<div>" * k + "x" + "</b>" * k,
    "vetoed_nests": lambda k: ("<div class='nav'>" + _PROSE) * k,
    "wide_flat": lambda k: "<p>w</p>" * k,
    "giant_attributes": lambda k: "<div " + "data-x='v' " * k + ">text</div>",
}


def _page(family: str, nbytes: int) -> str:
    build = FAMILIES[family]
    return build(max(1, nbytes // len(build(1))))


@contextmanager
def _deadline(seconds: float, what: str):
    """Fail the test from inside a call still running after ``seconds``."""

    def expire(signum, frame):
        pytest.fail(f"{what} took longer than {seconds:.0f} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


def _layer_wall(layer: str, page: str, what: str) -> float:
    """Wall of one call of ``layer`` on ``page`` with the cyclic garbage
    collector paused: its passes land in steps set by the whole heap of
    the test process (up to 40% of a call on a 4-core host), which would
    swamp the growth being measured. Reference counting still frees
    everything."""
    root = parse_html_fast(page) if layer == "strip" else None
    gc.collect()
    gc.disable()
    try:
        with _deadline(PAGE_DEADLINE_S, what):
            t0 = time.perf_counter()
            if layer == "parse":
                parse_html_fast(page)
            elif layer == "strip":
                strip_boilerplate(root)
            else:
                extract_document(page)
            return time.perf_counter() - t0
    finally:
        gc.enable()


def _layer_growth(layer: str, small_page: str, large_page: str, what: str):
    """(small, large, growth) of one layer. The host's speed swings up
    to 2x within seconds, so each large run is timed between two small
    runs and its growth is taken against their mean; the result is the
    median of GROWTH_RUNS such ratios, after a warm-up of both sizes."""
    _layer_wall(layer, large_page, what)
    smalls = [_layer_wall(layer, small_page, what)]
    larges = []
    for _ in range(GROWTH_RUNS):
        larges.append(_layer_wall(layer, large_page, what))
        smalls.append(_layer_wall(layer, small_page, what))
    growth = [2 * lg / (a + b) for lg, a, b in zip(larges, smalls, smalls[1:])]
    return statistics.median(smalls), statistics.median(larges), statistics.median(growth)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_extraction_cost_is_linear(family):
    small_page, large_page = _page(family, PAGE_SMALL), _page(family, PAGE_LARGE)
    grown = []
    for layer in ("parse", "strip", "extract"):
        small, large, growth = _layer_growth(
            layer, small_page, large_page, f"{family} {layer}"
        )
        if large >= MIN_MEASURED_S and growth > MAX_GROWTH:
            grown.append(f"{layer} {small * 1e3:.1f} -> {large * 1e3:.1f} ms (x{growth:.1f})")
    assert not grown, (
        f"{family}: doubling the page grew {', '.join(grown)} (bound x{MAX_GROWTH})"
    )


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_extraction_ceiling(family):
    page = _page(family, CEILING_PAGE)
    gc.collect()
    with _deadline(PAGE_CEILING_S, f"a 1 MiB {family} page"):
        result = extract_document(page)
    assert result["status"] in ("extracted", "empty")


# The hostile inputs the linear-time work started from: each layer runs
# in well under a tenth of a second (best of 3).
REPROS = {
    "a_run_parse": ("parse", "<p>" + "<a " * 16000),
    "open_quote_parse": ("parse", "<p>" + "<a href='" * 16000),
    "deep_div_strip": ("strip", "<div>" * 40000 + "x"),
}


@pytest.mark.parametrize("repro", sorted(REPROS))
def test_hostile_repros_are_fast(repro):
    layer, page = REPROS[repro]
    best = min(_layer_wall(layer, page, repro) for _ in range(3))
    assert best < REPRO_S, f"{repro}: {best:.3f} s (bound {REPRO_S} s)"
