"""Loaders for the driver-provided parquet tables + the web-document view.

``docs_as_web`` synthesizes the BASELINE.json input_hint shape
(url, warc_ts, html, text, lang) from the driver's ``documents`` table
entirely inside the Spark plan (encode/concat are JVM built-ins): each
row's text is wrapped in deterministic HTML chrome with boilerplate
header/nav/ads/footer. Because the wrap is deterministic and the text
column is also available raw, a pure-SQL oracle can verify the FULL
extraction pipeline: extract(wrap(text)) must equal tokenize(text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# the driver tables the registry queries read
TABLES = ("documents", "embeddings")

# The deterministic HTML chrome. Text payloads in the test tables are
# strictly [a-z ] (verified), so no escaping is required.
WRAP_HEAD = (
    "<html><head><title>doc</title><meta charset='utf-8'>"
    "<style>p{margin:0}</style><script>var t=1;</script></head><body>"
    "<header class='site-header'><a href='/'>Home</a> <a href='/about'>About</a></header>"
    "<nav><ul><li><a href='/s1'>One</a></li><li><a href='/s2'>Two</a></li></ul></nav>"
    "<div class='ads-banner'><a href='/buy'>buy</a> <a href='/now'>now</a></div>"
    "<main><article><p>"
)
WRAP_TAIL = (
    "</p></article></main>"
    "<div class='social-share'><a href='#'>tw</a> <a href='#'>fb</a></div>"
    "<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a></footer>"
    "</body></html>"
)

# Rules the chrome above triggers, in document order (oracle-known).
WRAP_REMOVED_RULES = ("tag:header", "tag:nav", "class:ads", "class:social", "tag:footer")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, restoring scan parallelism for tiny files.

    The driver tables are single-file / single-row-group parquet, which
    Spark cannot split — every downstream map-side computation would run
    on ONE core. At the design scale the input is an Iceberg table with
    thousands of partitions (days(warc_ts) + bucket(url)), so the scan
    is naturally parallel; the round-robin repartition below substitutes
    for that (only) when the file is too small to split, and costs one
    shuffle of the raw (small) table. Values are unchanged — all query
    results are order-insensitive.
    """
    import os

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            # directory-style parquet: os.stat on the dir returns the
            # inode size (~4KB), not the data size — sum the files
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path) for f in fs
            )
        else:
            size = os.stat(path).st_size
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    if size < 64 * 1024 * 1024 and cores > 1:
        return df.repartition(cores)
    return df


def docs_as_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet -> input_hint-shaped web documents table."""
    raw = load(spark, sf_dir, "documents")
    return raw.select(
        F.concat(F.lit("https://ex.com/doc/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit(WRAP_HEAD), F.col("text"), F.lit(WRAP_TAIL)), "utf-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# ---------------------------------------------------------------------------
# The NASTY wrap: multi-block content interleaved with lookalike
# boilerplate — boilerplate nested inside <article>, a content-classed
# div trapped inside the footer, ARIA-free div-soup ad, comments
# section. The content is split deterministically: an <h1> title block
# ('doc <id>') plus the text's tokens split at ceil(n/2) into two <p>
# blocks with an inline ad between them, so a pure-SQL oracle can
# reconstruct the expected blocks/lines/words/offsets exactly.

# Rules the hard chrome fires, in document order (oracle-known).
WRAP_HARD_REMOVED_RULES = (
    "tag:header", "tag:nav", "tag:aside", "class:ad", "class:comments",
    "tag:footer",
)

_HARD_PRE_TITLE = (
    "<html><head><title>doc</title><meta charset='utf-8'>"
    "<style>p{margin:0}</style><script>var t='<p>fake</p>';</script></head><body>"
    "<div id='page'>"
    "<header class='site-header'><a href='/'>Home</a></header>"
    "<nav><ul><li><a href='/s1'>One</a></li><li><a href='/s2'>Two</a></li></ul></nav>"
    "<div class='content-wrap'>"
    "<aside class='related'><a href='/r1'>rel one</a> <a href='/r2'>rel two</a></aside>"
    "<article><h1>doc "
)
_HARD_POST_TITLE = "</h1><p>"
_HARD_MID = "</p><div class='ad-inline'><a href='/buy'>sponsored link</a></div><p>"
_HARD_TAIL = (
    "</p></article>"
    "<section class='comments'><p>leave a comment below</p></section>"
    "</div>"
    "<footer><a href='/tos'>terms</a>"
    "<div class='content'><p>trapped inner text</p></div></footer>"
    "</div></body></html>"
)


def docs_as_web_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet -> adversarial multi-block web documents.

    Expected extraction per doc: blocks ['doc <id>'], [first half of
    tokens], [second half] — all chrome removed (6 rules), including
    the content-classed div inside the footer (outermost match wins).
    """
    raw = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    t = F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    n = F.size(t)
    h = F.ceil(n / 2).cast("int")
    half1 = F.concat_ws(" ", F.slice(t, F.lit(1), h))
    half2 = F.when(n > h, F.concat_ws(" ", F.slice(t, h + 1, n - h))).otherwise(F.lit(""))
    html = F.concat(
        F.lit(_HARD_PRE_TITLE),
        F.col("doc_id").cast("string"),
        F.lit(_HARD_POST_TITLE),
        half1,
        F.lit(_HARD_MID),
        half2,
        F.lit(_HARD_TAIL),
    )
    return raw.select(
        F.concat(F.lit("https://ex.com/doc/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
