"""Text column helpers built ONLY from pyspark.sql.functions built-ins.

Everything here is JVM-side (no Python UDF). The scalar helpers codegen;
the array helpers (``shingles``, ``top_run_share``, ``cosine``,
``stopword_hits``) are higher-order functions, which Spark evaluates
interpreted inside the enclosing whole-stage codegen span. These are the
relational halves of the reference's string handling (SURVEY.md §2.8)
plus the training-data-pipeline text ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_ws(col: Column | str) -> Column:
    """Collapse whitespace runs to single spaces and trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens as array<string>; [] for blank text."""
    c = norm_ws(col)
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, " ")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def shingles(tok_col: str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>), [] when fewer than n tokens.

    Column contract: ``tok_col`` is the NAME of a token array already
    projected on the frame (``select(..., tokens(text).alias("t"))``
    first), never an expression. The array is read inside the
    ``transform`` lambda, and Catalyst does not hoist lambda-invariant
    subexpressions: a tokenizer expression there would re-run over the
    whole text once per n-gram, O(n_grams * |text|) per document.
    Reading a projected column keeps it O(n_grams * n).

    JVM-side: transform over an index sequence + slice + concat — no UDF.
    """
    t = F.col(tok_col)
    k = F.size(t)
    idx = F.sequence(F.lit(1), k - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    return F.when(k < n, F.array().cast("array<string>")).otherwise(grams)


def top_run_share(arr: Column) -> Column:
    """Mode multiplicity / size of a string array — the Gopher
    repetition-share primitive (textstats.repetition_stats and
    curate.curation_gate compile against this ONE fold so the two can
    never drift). Map-side: the mode multiplicity is the longest
    equal-run of the SORTED array — array_sort + one aggregate fold,
    O(n log n) per doc, no explode, no shuffle. 0.0 for empty arrays.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    best = F.aggregate(F.array_sort(arr), zero, step)["best"]
    return F.when(F.size(arr) > 0, best / F.size(arr)).otherwise(F.lit(0.0))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized text.

    (Rolling-hash fingerprint role; md5 is portable to the DuckDB oracle.)
    """
    return F.md5(norm_ws(col))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side.

    dot / (||a|| * ||b||) via zip_with + aggregate (no UDF).
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


# Small stopword lists for the language-ID heuristic (deterministic,
# mirrored verbatim in the DuckDB oracle SQL).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
}


def stopword_hits(tok_col: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang`` (JVM-side filter+size)."""
    stops = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
    return F.size(F.filter(tok_col, lambda t: F.array_contains(stops, t)))
