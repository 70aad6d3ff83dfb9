"""Text analysis operators: language-ID, quality scoring, token stats,
fingerprints. 100% JVM built-ins (whole-stage codegen; zero Python).

Role analogs: measureQuality per-page/per-char stats
(fusus/book.py:498-637, A3), word frequency top-k (tfFromTsv.py:736-746,
A8/O5), transliteration-style scalar maps (T32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fusus_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    norm_ws,
    shingles,
    stopword_hits,
    token_count,
    tokens,
    top_run_share,
)
from fusus_spark.session import drop_zip_finders


def doc_token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token stats: n_tokens, n_chars_norm, n_uniq, avg_token_len."""
    t = tokens(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).alias("n_tokens"),
        F.length(norm_ws(text_col)).alias("n_chars_norm"),
        F.size(F.array_distinct(t)).alias("n_uniq"),
        F.round(
            F.when(F.size(t) > 0,
                   F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x))
                   / F.size(t)).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality score per doc (length / diversity / stopwords).

    score = 0.4*min(1, n_tokens/100) + 0.3*uniq_ratio + 0.3*min(1, 5*stop_ratio)
    — each component a built-in expression; rounded for oracle parity.
    """
    t = tokens(text_col)
    n = F.size(t)
    uniq_ratio = F.when(n > 0, F.size(F.array_distinct(t)) / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, stopword_hits(t, "en") / n).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(0.3) * uniq_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_guess(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic.

    Scores each candidate language by stopword hits; argmax with
    deterministic tie-break (higher hits, then language code asc),
    'und' when nothing matches. Pure built-ins: one pass, no shuffle.
    """
    t = tokens(text_col)
    scores = F.array(
        *[
            F.struct(
                stopword_hits(t, lang).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang in sorted(LANG_STOPWORDS)
        ]
    )
    # argmax with asc tie-break: winners = entries at max hits, pick min lang
    max_hits = F.array_max(F.transform(scores, lambda s: s["hits"]))
    winners = F.filter(scores, lambda s: s["hits"] == max_hits)
    win_lang = F.array_min(F.transform(winners, lambda s: s["lang"]))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col("lang").alias("declared_lang"),
        F.when(max_hits > 0, win_lang).otherwise(F.lit("und")).alias("guessed_lang"),
        max_hits.alias("best_hits"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp")
    )


def top_words(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Global top-k word frequencies (A8/O5 analog) with deterministic
    tie-break (count desc, word asc) so the result set is unique.

    Plan: ``orderBy(...).limit(k)`` compiles to the distributed
    TakeOrderedAndProject (per-partition heap + driver merge of k rows)
    instead of a single-partition global window over the whole
    vocabulary; the rank column is recovered by a row_number over the
    surviving <= k rows only.
    """
    counted = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(k)
    )
    # constant-valued (but non-foldable, so it survives the optimizer)
    # partition key: the window runs over exactly the k surviving rows
    w = Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
        F.col("cnt").desc(), F.col("word").asc()
    )
    return counted.withColumn("rank", F.row_number().over(w))


def word_freq_by_lang(docs: DataFrame, k: int = 5, text_col: str = "text",
                      salt_buckets: int = 64) -> DataFrame:
    """Top-k words per language (grouped top-k, O4 analog).

    Two-level top-k: a language's whole vocabulary never lands in one
    window partition. Level 1 ranks within (lang, hash-salt bucket) and
    keeps k per bucket — any global per-lang top-k row is necessarily a
    top-k row of its own bucket, so this is lossless; level 2 ranks the
    surviving <= k * salt_buckets rows per lang. At 10^12 docs the heavy
    window runs over buckets of ~|vocab|/64 instead of |vocab|.
    """
    counted = (
        docs.select("lang", F.explode(tokens(text_col)).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(
        F.col("cnt").desc(), F.col("word").asc()
    )
    pruned = (
        counted.withColumn("salt", F.pmod(F.xxhash64("word"), F.lit(salt_buckets)))
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= k)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("word").asc())
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def lang_distribution(docs: DataFrame) -> DataFrame:
    """Corpus accounting per lang/source (measureQuality grand-total analog)."""
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# GPT-2-style pretokenizer shape, constrained to RE2-compatible syntax
# (no lookahead) so the DuckDB oracle tokenizes identically: leading-
# space letter runs, digit runs, punctuation runs, space runs.
BPE_TOKEN_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BPE-ish regex token counts per doc (training-data budget metric).

    n_bpe_tokens ~ what a GPT-2-style pretokenizer would yield;
    bpe_per_ws_e4 = tokens-per-word ratio (the classic tokens/word
    fertility stat), scaled x10^4.
    """
    bpe = F.expr(f"regexp_extract_all({text_col}, '{BPE_TOKEN_RE}', 0)")
    ws = token_count(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(bpe).alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.round(
            F.when(ws > 0, F.size(bpe) / ws).otherwise(F.lit(0.0)) * 10000
        ).cast("bigint").alias("bpe_per_ws_e4"),
    )


def ngram_xent(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy against the corpus character-bigram
    model — the classic LM quality filter of large-scale text pipelines
    (outlier docs score far from the corpus distribution).

    Two relational SCANS of the source, no UDF, no materialization:
    (1) bigram counts aggregated straight off the source -> logprob per
    bigram (the 'model' — at most |charset|^2 rows; the corpus total is
    derived FROM the counts, not a third scan); (2) a second scan
    re-derives each doc's bigrams and joins the broadcast model.

    Scale trade, made explicit: round 2 ``localCheckpoint``ed the
    exploded bigrams (~2x corpus characters as rows) so one explode fed
    both consumers — but that is a corpus-sized, non-fault-tolerant
    executor-local materialization (~200 TB of local disk at the 100-TB
    design point, lost with any executor). Re-deriving the explode costs
    one extra columnar scan + in-task compute and nothing else — at
    10^12 docs two cheap scans beat one scan plus a corpus-sized spill.
    Jobs that reuse bigrams across many queries should persist them to a
    real table instead.

    Emits exact integers (sum of e6-scaled logprobs + bigram count) so
    the oracle comparison never touches float summation order.
    """
    norm = norm_ws(text_col)
    grams = F.when(
        F.length(norm) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - 1),
            lambda i: norm.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def bg():  # each call = an independent scan-and-explode of the source
        return docs.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))

    counts = bg().groupBy("g").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    model = counts.crossJoin(F.broadcast(total)).select(
        "g",
        F.round(F.round(F.log(F.col("cnt") / F.col("total")), 6) * 1000000)
        .cast("bigint")
        .alias("logp_e6"),
    )
    return (
        bg().join(F.broadcast(model), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("logp_e6").cast("bigint").alias("sum_logprob_e6"),
        )
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    share of the document owned by its most frequent word and by its
    most frequent word 2-gram. Machine-generated/spam text shows
    top-heavy distributions; the classic filter drops docs whose top
    2-gram exceeds ~20% of tokens.

    Pure built-ins, one pass, no shuffle: each doc's tokens live in one
    row's array, so the mode multiplicity is the longest equal-run of
    the SORTED array — array_sort + one aggregate fold, O(n log n) per
    doc (an explode+groupBy would shuffle ~token-count rows for a
    per-doc scalar, and counting each distinct element against the
    array would be quadratic on long docs). Emits e6-scaled integers
    for oracle-stable comparison.
    """
    # tokens, then bigrams, each projected once (shingles' column contract)
    base = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")).select(
        "doc_id", "t", shingles("t", 2).alias("big")
    )
    return base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.round(top_run_share(F.col("t")) * 1000000).cast("bigint").alias("top_word_share_e6"),
        F.round(top_run_share(F.col("big")) * 1000000).cast("bigint").alias("top_bigram_share_e6"),
    )


def compression_ratio(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc zlib compression ratio — the RefinedWeb/MassiveText-style
    redundancy signal (highly compressible text = boilerplate/repetition;
    near-incompressible = binary junk or high-entropy spam).

    zlib is not expressible in SQL, so this is the repo's standard
    Arrow-batched pandas UDF shape (whole-batch loop over the C-level
    compressor; no SQL oracle — pinned against direct zlib in pytest).
    Ratio is e6-scaled; empty docs emit ratio 0.
    """
    import pandas as pd

    pruned = docs.select(F.col(id_col).alias("doc_id"), norm_ws(text_col).alias("t"))

    def run(batches):
        drop_zip_finders()
        import zlib

        for pdf in batches:
            texts = pdf["t"].tolist()
            ratios = []
            sizes = []
            for s in texts:
                raw = (s or "").encode("utf-8")
                sizes.append(len(raw))
                ratios.append(
                    round(len(zlib.compress(raw, 6)) / len(raw) * 1000000)
                    if raw else 0
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bytes": sizes, "ratio_e6": ratios}
            )

    return pruned.mapInPandas(
        run, schema="doc_id long, n_bytes long, ratio_e6 bigint"
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03).

    Rolling char k-gram hashes + minimum over each sliding window of
    ``window`` consecutive hashes; the DISTINCT set of window minima is
    the fingerprint set (guarantees any shared substring of length
    >= k + window - 1 produces a shared fingerprint). Plan is fully
    relational: posexplode the k-gram hash sequence, one window-min over
    (doc, position), distinct — the same shape the DuckDB oracle runs.
    md5 keeps the hash bit-identical across engines.
    """
    norm = norm_ws(text_col)
    # NB: F.sequence(1, 0) DESCENDS in Spark — guard short docs explicitly
    grams = F.when(
        F.length(norm) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (k - 1)),
            lambda i: F.md5(norm.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(grams).alias("pos", "h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    n_grams = F.count("*").over(Window.partitionBy("doc_id"))
    return (
        exploded.withColumn("fp", F.min("h").over(w))
        .withColumn("n", n_grams)
        .where(F.col("pos") <= F.col("n") - window)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def xent_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    sample_prefix: str = "0",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    corpus into head / middle / tail by per-doc cross-entropy against
    the corpus bigram model (head = lowest xent = most fluent).

    Returns (doc_id, xent_e6, bucket, label); docs with < 2 chars have
    no bigrams, hence no xent, and are absent (same contract as
    ``ngram_xent``).

    Scale design — NO global sort/ntile (a corpus-wide window is a
    single-partition scale-killer at 10^12 docs). Instead the exact
    two-pass sampled-threshold shape:
      1. a DETERMINISTIC hash sample (md5(doc_id) hex prefix ==
         ``sample_prefix``; len-1 prefix = 1/16 of docs — lengthen the
         prefix as the corpus grows so the sample stays
         single-partition-sized) is ranked once, and the (n_buckets-1)
         boundary elements are taken at ranks ceil(k*n/B);
      2. every doc is bucketed MAP-SIDE against the broadcast boundary
         array with a strict (xent, doc_id) tuple comparison — exact,
         deterministic, shuffle-free.
    Bucket populations are approximately equal (sampling error only);
    boundaries themselves are exact rank statistics of the sample, so
    the result is bit-reproducible and oracle-checkable.
    """
    scores = ngram_xent(docs, id_col=id_col, text_col=text_col).select(
        "doc_id",
        F.round(-F.col("sum_logprob_e6") / F.col("n_bigrams"))
        .cast("bigint")
        .alias("xent_e6"),
    )
    sample = scores.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, len(sample_prefix))
        == F.lit(sample_prefix)
    )
    # rank the sample once; the window is bounded by the sample size by
    # construction (non-foldable constant partition key, see CLAUDE.md)
    w = Window.partitionBy(F.pmod(F.col("xent_e6"), F.lit(1))).orderBy(
        "xent_e6", "doc_id"
    )
    ranked = sample.select(
        "doc_id", "xent_e6", F.row_number().over(w).alias("rn")
    ).withColumn("n", F.count("*").over(Window.partitionBy(F.pmod(F.col("xent_e6"), F.lit(1)))))
    bounds = (
        ranked.where(
            F.exists(
                F.sequence(F.lit(1), F.lit(n_buckets - 1)),
                lambda k: F.col("rn") == F.ceil(k * F.col("n") / n_buckets),
            )
        )
        .select(F.struct(F.col("xent_e6").alias("s"), F.col("doc_id").alias("d")).alias("b"))
        .agg(F.array_sort(F.collect_list("b")).alias("bounds"))
    )
    labels = {1: "head", n_buckets: "tail"}
    return (
        scores.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "xent_e6",
            (
                1
                + F.size(
                    F.filter(
                        F.col("bounds"),
                        lambda b: (F.col("xent_e6") > b["s"])
                        | ((F.col("xent_e6") == b["s"]) & (F.col("doc_id") > b["d"])),
                    )
                )
            ).cast("int").alias("bucket"),
        )
        .withColumn(
            "label",
            F.when(F.col("bucket") == 1, F.lit(labels.get(1)))
            .when(F.col("bucket") == n_buckets, F.lit(labels.get(n_buckets)))
            .otherwise(F.lit("middle")),
        )
    )
