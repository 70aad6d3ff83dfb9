"""Corpus-curation operators: the keep/drop decision of a training-data
pipeline (with machine-readable reasons), eval-set decontamination,
corpus-level line dedup, and PII redaction.

Combines the repo's quality signals into one verdict per document —
the Gopher-rules shape (Rae et al. 2021 §A1.1): token-count bounds,
mean-token-length bounds, stopword floor, and repetition caps. Each
failed rule contributes its name to a ``reasons`` array (sorted,
deterministic), because at 10^12 docs the FILTER AUDIT (how many docs
each rule killed, alone or together) matters as much as the surviving
corpus; ``keep`` is simply ``reasons == []``.

Plan shape: the token array is projected once per document and every
signal reads that column (no joins between signal operators, no
shuffle); downstream aggregation of reasons is the caller's choice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fusus_spark.functions.text import (
    shingles,
    stopword_hits,
    token_count,
    tokens,
    top_run_share,
)

# Gopher-flavored defaults, scaled-integer thresholds (e6 where ratio).
DEFAULT_RULES = {
    "min_tokens": 5,
    "max_tokens": 100_000,
    "min_mean_token_len_e6": 1_500_000,   # 1.5 chars
    "max_mean_token_len_e6": 12_000_000,  # 12 chars
    "min_stop_ratio_e6": 20_000,          # 2% stopwords
    "max_top_bigram_share_e6": 200_000,   # 20%
}


def curation_gate(
    docs: DataFrame,
    rules: dict[str, int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    stop_lang: str = "en",
) -> DataFrame:
    """(doc_id, n_tokens, keep, reasons) — one projection per doc.

    ``reasons`` lists every failed rule name in sorted order; an empty
    array means keep. Ratios compare as e6-scaled integers so the gate
    is oracle-exact.
    """
    r = {**DEFAULT_RULES, **(rules or {})}
    # the token array, then the bigram array, are each projected ONCE;
    # every signal below reads those columns, never the tokenizer
    base = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")).select(
        "doc_id", "t", shingles("t", 2).alias("big")
    )
    t = F.col("t")
    n = F.size(t)
    mean_len_e6 = F.when(
        n > 0,
        F.round(
            F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)) / n * 1000000
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    stop_e6 = F.when(
        n > 0, F.round(stopword_hits(t, stop_lang) / n * 1000000)
    ).otherwise(F.lit(0)).cast("bigint")
    bigram_e6 = F.round(top_run_share(F.col("big")) * 1000000).cast("bigint")

    checks = [
        ("too_few_tokens", n < F.lit(r["min_tokens"])),
        ("too_many_tokens", n > F.lit(r["max_tokens"])),
        ("mean_token_too_short", mean_len_e6 < F.lit(r["min_mean_token_len_e6"])),
        ("mean_token_too_long", mean_len_e6 > F.lit(r["max_mean_token_len_e6"])),
        ("too_few_stopwords", stop_e6 < F.lit(r["min_stop_ratio_e6"])),
        ("repetitive_bigrams", bigram_e6 > F.lit(r["max_top_bigram_share_e6"])),
    ]
    reasons = F.array_sort(
        F.filter(
            F.array(
                *[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in checks]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return base.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Eval-set n-gram decontamination report (the GPT-3 appendix-C /
    PaLM-style check): flag training documents sharing any word
    ``n``-gram with a benchmark/eval set, case-folded.

    Returns one row PER CONTAMINATED document:
    (doc_id, n_ngrams, n_hit_ngrams, hit_ratio_e6); clean documents emit
    no row. At 10^12 docs the *report* is the distributable artifact —
    callers drop flagged docs with a broadcast anti-join against it
    (reports are small because eval sets are), never a full left join of
    the corpus.

    Plan shape: the eval side (config-sized by definition) collapses to
    its DISTINCT n-gram md5s and is broadcast; the training side
    explodes each doc's DISTINCT n-gram hashes map-side and inner-joins
    the broadcast set, so the only shuffle carries HIT rows (corpus-
    tiny). ``n_ngrams`` rides the explode as a group key — no second
    join back to the source. md5 keeps hashes bit-identical in the
    DuckDB oracle.

    Linear per document: the case-folded token array, then the distinct
    gram-hash array, are each projected once, and ``n_ngrams`` is taken
    BEFORE the explode (a size over the exploded rows would rebuild the
    array once per row). The explode is ``explode_outer`` + a null
    filter: a plain explode of a column makes Catalyst infer a
    ``size(...) > 0`` filter and push it through the projections onto
    the scan, re-inlining the whole tokenizer+lambda there.
    """
    def gram_hashes(frame, text_col, *keep):
        # ``keep`` columns + ghs, the distinct case-folded n-gram md5s
        return frame.select(*keep, tokens(F.lower(text_col)).alias("t")).select(
            *keep,
            F.array_distinct(F.transform(shingles("t", n), lambda g: F.md5(g))).alias("ghs"),
        )

    eval_grams = (
        gram_hashes(eval_docs, eval_text_col)
        .select(F.explode_outer("ghs").alias("gh"))
        .where(F.col("gh").isNotNull())
        .distinct()
    )
    doc_grams = (
        gram_hashes(docs.select(F.col(id_col).alias("doc_id"), text_col), text_col, "doc_id")
        .select("doc_id", "ghs", F.size("ghs").alias("n_ngrams"))
        .select("doc_id", "n_ngrams", F.explode_outer("ghs").alias("gh"))
        .where(F.col("gh").isNotNull())
    )
    return (
        doc_grams.join(F.broadcast(eval_grams), "gh")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count("*").cast("int").alias("n_hit_ngrams"))
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit_ngrams",
            F.round(F.col("n_hit_ngrams") / F.col("n_ngrams") * 1000000)
            .cast("bigint")
            .alias("hit_ratio_e6"),
        )
    )


def dedup_lines(
    docs: DataFrame,
    min_dup_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicated-line removal (the CCNet / RefinedWeb
    boilerplate pass): a line whose trimmed text appears in >=
    ``min_dup_docs`` DISTINCT documents is dropped from every document;
    surviving lines are reassembled in order.

    Returns (doc_id, n_lines, n_kept, text_dedup).

    Plan shape and skew defense: blank lines are the corpus's hottest
    key by orders of magnitude, so they NEVER enter the count or the
    dup join — they bypass on a narrow union and are always kept (they
    carry document structure, not boilerplate). Non-blank lines take
    one groupBy(line-md5) -> distinct-doc count (partial-agg shuffle),
    the >= threshold filter shrinks that to the dup-line set, and a
    left join FLAGS (not filters) dup lines; residual hot boilerplate
    keys in that join are exactly the dup lines themselves, which AQE
    skew-join splits. Because dropped lines are flagged rather than
    filtered, every document reaches the reconstruction groupBy and
    none vanishes — an all-boilerplate doc emits n_kept = 0 and empty
    text. Reconstruction is one groupBy(doc_id) with an in-group
    array_sort on position (collect_list skips the null'd dropped
    lines).
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lt", F.trim(F.col("line")))
    nonblank = lines.where(F.length("lt") > 0)
    blank = lines.where(F.length("lt") == 0)
    dup_hashes = (
        nonblank.select(F.md5("lt").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(min_dup_docs))
        .select("h", F.lit(True).alias("dropped"))
    )
    flagged_nb = (
        nonblank.withColumn("h", F.md5("lt"))
        .join(dup_hashes, "h", "left")
        .drop("h")
    )
    flagged = flagged_nb.unionByName(
        blank.withColumn("dropped", F.lit(None).cast("boolean"))
    ).withColumn("dropped", F.coalesce("dropped", F.lit(False)))
    return flagged.groupBy("doc_id", "n_lines").agg(
        F.count_if(~F.col("dropped")).cast("int").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("dropped"), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_dedup"),
    ).select("doc_id", F.col("n_lines").cast("int").alias("n_lines"), "n_kept", "text_dedup")


def dedup_passages(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicated-passage removal — the exact-substring dedup tier of a
    training-data pipeline (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"), reformulated from the paper's
    suffix-array formulation into a linear window-hash plan that Spark
    can shuffle: any run of ``n`` consecutive tokens occurring MORE THAN
    ONCE in the corpus (across documents or within one) is a duplicated
    window; one canonical occurrence per window is kept (the
    min-(doc_id, pos) owner) and every token covered by a NON-owner
    occurrence of some duplicated window is removed.

    Returns (doc_id, n_tokens, n_removed, text_dedup); every input
    document emits exactly one row. Clean docs (n_removed = 0) pass
    through BYTE-VERBATIM — original newlines and spacing intact; docs
    a window was cut from are reassembled at token granularity, i.e.
    single-space joined (offset-preserving byte surgery would need
    char-span tokenization; the dedup decision itself is identical).

    Plan shape, piece by piece:

    1. **window hashes** — each doc's token n-grams come from one
       map-side ``shingles`` projection (JVM slice+concat, no UDF);
       posexplode yields (doc_id, pos, md5(gram)). Linear in corpus
       tokens — the same inverted-index scale already paid by
       ngram_jaccard_pairs and decontaminate, and the md5 keys make the
       in-test DuckDB oracle bit-identical. ``wins`` feeds both the dup
       aggregation and the hits join and is deliberately NOT
       checkpointed: re-deriving it is two cheap scans of the source,
       while materializing it is a corpus-tokens-sized executor-local
       spill (the exact trade ngram_xent documents).
    2. **duplicated-window set** — one groupBy(hash) with partial
       aggregation computes count and the owner = min(struct(doc_id,
       pos)); the ``count >= 2`` filter shrinks it to actual dups
       before anything is joined.
    3. **non-owner hits** — wins ⋈ dups on the hash; only hit rows
       (duplicated, not the owner) survive the join, so the shuffle
       out of this stage carries dup occurrences, not the corpus.
    4. **coverage** — hit starts expand to covered token positions via
       ``explode(sequence(pos, pos+n-1))`` (an n-fold blowup of HIT
       rows only) and collapse to one sorted positions array per
       affected doc.
    5. **reconstruction** — docs left-join the covered table on doc_id
       and drop covered tokens with a map-side ``filter(tokens,
       (tok, i) -> ...)`` over the in-row array. This join is the one
       corpus-wide shuffle (same as dedup_lines' reconstruction
       groupBy); it cannot broadcast in general because at 10^12 docs
       boilerplate incidence makes the covered table corpus-scale.
       The doc side of the join carries ONLY ``__orig__`` — the token
       array (~= the text again) is re-derived by a map-side
       ``tokens()`` projection AFTER the join, halving the bytes this
       shuffle moves: one cheap JVM split per doc is nothing next to
       corpus-scale network+spill volume.

    Removal-rule fine print (deterministic by construction): the owner
    occurrence protects only its OWN window's tokens — a token inside
    the kept copy is still removed if a different, non-owner duplicated
    window also covers it. That is the same once-per-corpus guarantee
    the suffix-array method gives, at window (not byte) granularity.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__orig__")
    )
    wins = base.select("doc_id", tokens("__orig__").alias("t")).select(
        "doc_id",  # __orig__ pruned: the index never carries raw text
        F.posexplode(F.transform(shingles("t", n), lambda g: F.md5(g))).alias("pos", "h"),
    )
    dups = (
        wins.groupBy("h")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("owner"),
        )
        .where(F.col("cnt") >= 2)
        .select("h", "owner")
    )
    hits = (
        wins.join(dups, "h")
        .where(
            (F.col("doc_id") != F.col("owner.doc_id"))
            | (F.col("pos") != F.col("owner.pos"))
        )
        .select("doc_id", "pos")
    )
    covered = (
        hits.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("cpos")
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("cpos")).alias("covered"))
    )
    # the doc side ships ONLY __orig__; the token array is re-derived
    # map-side AFTER the join (halves the one corpus-wide shuffle)
    out = base.join(covered, "doc_id", "left").withColumn("t", tokens("__orig__"))
    # NB: the TWO-parameter lambda is deliberate here — pyspark passes
    # the (element, index) form, and the 0-based index is exactly the
    # posexplode position the covered array was built from.
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.array_contains(
            F.coalesce(F.col("covered"), F.array().cast("array<int>")), i
        ),
    )
    return out.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        F.coalesce(F.size("covered"), F.lit(0)).cast("int").alias("n_removed"),
        # untouched docs keep their ORIGINAL text byte-identically
        # (newlines, runs of spaces and all); only docs a window was cut
        # from are re-joined at token granularity
        F.when(F.col("covered").isNull(), F.coalesce("__orig__", F.lit("")))
        .otherwise(F.concat_ws(" ", kept))
        .alias("text_dedup"),
    )


# PII patterns, constrained to syntax Java regex and RE2 (DuckDB) parse
# identically: no lookarounds, no backrefs. Applied in list order; each
# count is taken on the text AFTER the previous replacements so both
# engines see the same intermediate strings.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: emails, IPv4 addresses and
    international-format phone numbers replaced by typed placeholder
    tokens, with per-doc match counts for the redaction audit.

    Returns ``docs`` with n_email, n_ipv4, n_phone and text_redacted
    appended, so a caller swaps the text in place instead of joining
    the redaction back onto its input.

    Whole-stage codegen end to end: each pattern is one JVM
    regexp_extract_all (count) + regexp_replace (rewrite) pair chained
    in a fixed order — no UDF, no shuffle, linear scans only. Patterns
    deliberately avoid lookarounds so the DuckDB oracle's RE2 engine
    tokenizes identically.
    """
    # chain stepwise so each count sees the prior patterns' rewrites
    step = docs.withColumn("__pii_cur__", F.coalesce(F.col(text_col), F.lit("")))
    for name, pat, token in PII_PATTERNS:
        step = step.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col("__pii_cur__"), F.lit(pat), F.lit(0)))
            .cast("int"),
        ).withColumn(
            "__pii_cur__", F.regexp_replace(F.col("__pii_cur__"), pat, token)
        )
    return step.select(
        *docs.columns,
        *(f"n_{name}" for name, _, _ in PII_PATTERNS),
        F.col("__pii_cur__").alias("text_redacted"),
    )


def host_stats(
    docs: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-host corpus statistics — the aggregation behind domain-level
    curation decisions (RefinedWeb/C4 cap-and-block policies are made
    per host, not per document).

    Returns (host, n_docs, total_tokens, mean_tokens_e4,
    n_distinct_texts, dup_ratio_e6): one groupBy(host) with partial
    aggregation; the text dedup signal rides as count_distinct of the
    md5 so raw text never reaches the shuffle.
    """
    from fusus_spark.functions.url import url_host

    h = docs.select(
        url_host(F.col(url_col)).alias("host"),
        token_count(text_col).alias("n_tok"),
        F.md5(F.col(text_col)).alias("th"),
    )
    return h.groupBy("host").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tok") * 10000).cast("bigint").alias("mean_tokens_e4"),
        F.count_distinct("th").cast("int").alias("n_distinct_texts"),
        F.round((1 - F.count_distinct("th") / F.count("*")) * 1000000)
        .cast("bigint")
        .alias("dup_ratio_e6"),
    )


_CAP_SPACE = 16 ** 5


def apply_host_policy(
    docs: DataFrame,
    block_domains: DataFrame | None = None,
    cap_per_host: int | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-level curation policy: drop blocklisted domains, then cap
    any single host's contribution to ~``cap_per_host`` documents.

    * **blocklist** — ``block_domains`` is a 1-column (domain) table,
      config-sized by nature; applied as TWO broadcast anti-joins: on
      the REGISTRABLE domain (public-suffix-list backed,
      functions/psl.py: blocking ``spam.co.uk`` drops its subdomains
      but not the rest of ``co.uk``) and on the PUBLIC SUFFIX — so an
      entry that names a whole hosting platform or registry
      (``blogspot.com``, ``co.uk``) still matches every host under it
      (their registrable domains are all different, so the domain join
      alone would match nothing). Both joins are equi + broadcast; no
      suffix scan.
    * **per-host cap** — the scale-honest formulation: an exact
      "first N per host" needs a per-host sort, and the hosts that NEED
      capping are precisely the hosts big enough to make that window a
      straggler task. Instead each doc carries a deterministic
      position key (first 5 md5 hex chars of host:doc_id — the
      stratified_sample trick) and survives iff its key falls below
      ``floor(cap * 16^5 / n_docs(host))`` in 16^5 space. Only the
      per-host counts shuffle (one partial agg); over-cap membership is
      a map-side comparison after a join on host. Kept count is
      binomial around the cap (documented approximation), and the
      selection is a pure function of (host, doc_id) — rerun-stable and
      oracle-reproducible.
    * **unattributable urls** — NULL urls and urls the host regex cannot
      parse (no scheme, relative paths) have no real host to attribute:
      pooling them would throttle thousands of unrelated sources as one
      fake '' host, so they BYPASS the cap (kept, like hosts under the
      cap) and are never blocklist-matched (no domain). Callers who want
      them gone filter on ``url_host(url) == ''`` explicitly — a policy
      decision, not a side effect of capping.

    Returns the surviving rows of ``docs`` unchanged in schema.
    """
    from fusus_spark.functions.psl import public_suffix
    from fusus_spark.functions.url import url_domain, url_host

    out = docs
    if block_domains is not None:
        blk = F.broadcast(
            block_domains.select(F.col(block_domains.columns[0]).alias("__blk__"))
        )
        out = out.join(
            blk, url_domain(F.col(url_col)) == F.col("__blk__"), "left_anti"
        )
        out = out.join(
            blk,
            public_suffix(url_host(F.col(url_col))) == F.col("__blk__"),
            "left_anti",
        )
    if cap_per_host is not None:
        host = url_host(F.col(url_col))
        counts = (
            out.where(host != "")  # parseable hosts only; NULL != '' is null -> excluded
            .groupBy(host.alias("__host__"))
            .agg(F.count("*").alias("__n__"))
            .where(F.col("__n__") > cap_per_host)
            .withColumn(
                "__thr__",
                F.lower(
                    F.lpad(
                        F.hex(
                            F.floor(F.lit(cap_per_host * _CAP_SPACE) / F.col("__n__"))
                        ),
                        5,
                        "0",
                    )
                ),
            )
            .select("__host__", "__thr__")
        )
        key = F.substring(
            F.md5(F.concat(host, F.lit(":"), F.col(id_col).cast("string"))), 1, 5
        )
        out = (
            out.join(counts, host == F.col("__host__"), "left")
            .where(F.col("__thr__").isNull() | (key < F.col("__thr__")))
            .drop("__host__", "__thr__")
        )
    return out


def pack_sequences(
    docs: DataFrame,
    target_tokens: int = 2048,
    shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_expr: Column | None = None,
) -> DataFrame:
    """Deterministic document packing — the "sample packing" step of LLM
    training-data prep: assign documents to training sequences of about
    ``target_tokens`` whitespace tokens so short documents share a
    context window instead of wasting padding.

    Returns (doc_id, n_tokens, shard, seq_id, seq_pos): a doc's sequence
    is (shard, seq_id); seq_pos is its deterministic position inside it.
    Every input doc appears exactly once — oversize docs (> target) get
    a bin of their own and are the caller's cue to split downstream.

    Packing rule (pure window algebra, no sequential pass): within a
    shard, order docs by (n_tokens DESC, doc_id), take the running token
    sum, and cut bins where the PRE-sum crosses a multiple of the
    target: ``seq_id = floor((cumsum - n) / target)``. Descending order
    packs the big docs first; the bin-total overflow is bounded by
    ``target + (largest member - 1)`` (each bin spans one target-sized
    interval of the cumsum line), so callers aiming at a hard context
    length set ``target_tokens`` a typical-doc below it.

    Scale shape: a GLOBAL cumsum would be a single-partition window — the
    exact anti-pattern plan_audit hunts — so packing runs independently
    per shard. Each shard sees a random sample of the length
    distribution, so per-shard packing quality matches global packing;
    the plan is one hash shuffle into ``shards`` window groups, each
    windowed in parallel. The default shard key is
    ``pmod(xxhash64(id), shards)`` (xxhash64 is this repo's partitioning
    hash — the shard never needs to be oracle-reproducible in
    production); pass ``shard_expr`` to pin a portable key, as the
    DuckDB cross-check test does with a plain modulo.
    """
    if target_tokens <= 0:
        raise ValueError("target_tokens must be positive")
    n = token_count(text_col)
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("int").alias("n_tokens"),
        shard_expr.cast("int").alias("shard"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    packed = t.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.floor((cum - F.col("n_tokens")) / F.lit(target_tokens))
        .cast("int")
        .alias("seq_id"),
        F.row_number().over(w).alias("rn"),
    )
    pos_w = Window.partitionBy("shard", "seq_id").orderBy("rn")
    return packed.select(
        "doc_id",
        "n_tokens",
        "shard",
        "seq_id",
        F.row_number().over(pos_w).cast("int").alias("seq_pos"),
    )


def split_oversize(
    docs: DataFrame,
    max_tokens: int = 2048,
    overlap: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents longer than ``max_tokens`` into overlapping
    token-window chunks — the downstream half of pack_sequences'
    "oversize docs are the caller's cue to split" contract (and the
    standard long-document treatment before packing/training).

    Returns (doc_id, chunk_id, n_chunks, tok_start, tok_end,
    text_chunk): chunk c covers tokens [c*stride, c*stride+max_tokens)
    with stride = max_tokens - overlap; tok_end is exclusive; the last
    chunk is the only short one. Docs at or under the limit pass
    through as chunk 0 with their ORIGINAL text byte-verbatim; split
    chunks are single-space token joins (same fine print as
    dedup_passages).

    Entirely map-side: token array + posexplode of a chunk-index
    sequence + slice — zero shuffle, zero UDF; the chunk fan-out is the
    only row growth (bounded by n/stride per doc).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    # NULL text must mean 0 tokens, not a null token count: size(null)
    # propagates through least() and would fabricate a [0, max) span
    t = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(t)
    # ceil((n - max)/stride) via integer arithmetic; the branch is only
    # evaluated when n > max so the numerator is strictly positive
    extra = ((n - F.lit(max_tokens) + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    n_chunks = F.when(n > max_tokens, extra + 1).otherwise(F.lit(1))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__orig__"),
        t.alias("t"),
        n.alias("n"),
        n_chunks.cast("int").alias("n_chunks"),
    )
    chunks = base.select(
        "doc_id",
        "__orig__",
        "t",
        "n",
        "n_chunks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    end = F.least(start + max_tokens, F.col("n"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunks",
        start.cast("int").alias("tok_start"),
        end.cast("int").alias("tok_end"),
        F.when(F.col("n_chunks") == 1, F.col("__orig__"))
        .otherwise(
            F.concat_ws(" ", F.slice(F.col("t"), start + 1, end - start))
        )
        .alias("text_chunk"),
    )


def assign_split(
    docs: DataFrame,
    splits_ppm: dict[str, int] | None = None,
    salt: str = "split",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment — every document gets
    exactly one split label, as a pure function of (salt, doc_id), so
    the same corpus splits identically across runs, engines and
    machines (no RNG, no seed state to lose).

    ``splits_ppm`` maps label -> parts-per-million and must sum to
    exactly 1_000_000 (default 98/1/1). Assignment: the first 5 hex
    chars of md5(salt:doc_id) land in [0, 16^5); cumulative ppm
    thresholds cut that space into contiguous bands, label = the band
    the key falls in (the last label absorbs the residual sliver of
    16^5 that ppm resolution cannot address). Equal-length lowercase
    hex comparison IS numeric comparison — the same zero-glue trick as
    stratified_sample — so the DuckDB oracle reproduces the split
    bit-identically. Map-side only; returns (doc_id, split).
    """
    splits = splits_ppm or {"train": 980_000, "val": 10_000, "test": 10_000}
    if sum(splits.values()) != 1_000_000:
        raise ValueError("splits_ppm must sum to exactly 1_000_000")
    if len(splits) < 1:
        raise ValueError("need at least one split")
    space = 16 ** 5
    key = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 5
    )
    names = list(splits)
    expr = None
    cum = 0
    for name in names[:-1]:
        cum += splits[name]
        v = round(cum * space / 1_000_000)
        # 'g' sorts above every hex digit (the stratified_sample
        # sentinel): a cumulative 100% must catch EVERY key — the naive
        # format gives the 6-char '100000', which sorts BELOW most
        # 5-char keys and would dump them into the last label
        thr = "g" if v >= space else format(v, "05x")
        branch = (key < F.lit(thr), F.lit(name))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    label = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return docs.select(F.col(id_col).alias("doc_id"), label.alias("split"))


def stratified_sample(
    docs: DataFrame,
    fractions_ppm: dict[str, int],
    default_ppm: int = 0,
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic per-stratum subsampling — the corpus-mixing step of
    a training-data pipeline (down-weight overrepresented languages /
    domains to a target mixture), reproducible across runs and engines.

    Keeps a document iff the first 5 hex chars of
    ``md5(stratum || ':' || doc_id)`` are lexicographically below the
    stratum's threshold, where the threshold encodes ``ppm`` (parts per
    million) in 16^5 space. Equal-length lowercase-hex string
    comparison IS numeric comparison, so the rule runs identically in
    Spark and the DuckDB oracle with zero integer-conversion glue;
    resolution is 1/16^5 (~1 ppm). No RNG, no seed state: membership is
    a pure function of (stratum, doc_id), so a re-run, a resumed job,
    or an oracle re-check selects the byte-identical subset.

    Map-side only: the fraction table is config-sized and folds into
    the plan as a literal map; no shuffle, no sampling operator.
    Returns (doc_id, <strata_col>, sample_key) for the kept rows.
    """
    space = 16 ** 5

    def hex5(ppm: int) -> str:
        v = max(0, round(ppm * space / 1_000_000))
        # 'g' sorts above every hex digit: a >=100% threshold keeps all
        # (format()'s 6-char '100000' would sort BELOW most 5-char keys)
        return "g" if v >= space else format(v, "05x")

    thresholds = F.create_map(
        *[F.lit(x) for kv in fractions_ppm.items() for x in (kv[0], hex5(kv[1]))]
    )
    key = F.substring(
        F.md5(F.concat(F.col(strata_col), F.lit(":"), F.col(id_col).cast("string"))),
        1,
        5,
    )
    thr = F.coalesce(
        thresholds[F.col(strata_col)], F.lit(hex5(default_ppm))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col),
        key.alias("sample_key"),
    ).where(F.col("sample_key") < thr)


def mixture_ppm(
    docs: DataFrame,
    *,
    budget_docs: int,
    alpha_e6: int = 700_000,
    strata_col: str = "lang",
) -> DataFrame:
    """Temperature-flattened mixture targets per stratum — the
    GPT-3/Pile domain-balancing rule: sample stratum s with weight
    ``n_s^alpha`` (alpha < 1 flattens the head so giant domains stop
    dominating; alpha = 1 is proportional, alpha = 0 uniform across
    strata), normalized to a total ``budget_docs``.

    Returns (stratum, n_docs, ppm) where ppm = min(1e6,
    round(budget * n_s^alpha / sum_t(n_t^alpha) / n_s * 1e6)) — the
    per-stratum keep rate ``stratified_sample_by_table`` applies. The
    cap at 1e6 means under-budget strata are taken whole (the budget
    is then under-filled rather than other strata over-sampled —
    re-run with a larger alpha or budget if exact totals matter).

    Plan: one groupBy(stratum) count + a broadcast of the ONE-ROW
    total; the table itself stays distributed (at domain granularity
    it is ~10^7 rows at crawl scale — never collected). ``pow`` is
    IEEE-double; the e6 rounding is only knife-edge-sensitive to libm
    ULP differences, so the oracle test pins integer-exact cases
    (perfect squares at alpha=0.5, and alpha in {0, 1e6}).
    """
    # NULL strata are EXCLUDED from the mixture: the sampler's equi-join
    # and md5 key can never select them, so counting them here would
    # silently depress every real stratum's rate and underfill the
    # budget while the audit table claimed otherwise
    n = (
        docs.where(F.col(strata_col).isNotNull())
        .groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.count("*").alias("n_docs"))
    )
    w = n.withColumn(
        "__w__", F.pow(F.col("n_docs").cast("double"), F.lit(alpha_e6 / 1e6))
    )
    tot = w.agg(F.sum("__w__").alias("__tot__"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_docs",
            F.least(
                F.lit(1_000_000),
                F.round(
                    F.lit(budget_docs)
                    * F.col("__w__")
                    / F.col("__tot__")
                    / F.col("n_docs")
                    * 1_000_000
                ),
            )
            .cast("bigint")
            .alias("ppm"),
        )
    )


def stratified_sample_by_table(
    docs: DataFrame,
    ppm_table: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    default_ppm: int = 0,
) -> DataFrame:
    """``stratified_sample`` with the keep rates coming from a TABLE
    (stratum, ppm) instead of a config dict — the shape mixture_ppm
    produces, and the only shape that works when strata are DOMAINS
    (~10^7 rows at crawl scale: too many for a literal map, joined
    instead; AQE broadcasts it when it is small enough).

    The membership rule is byte-identical to stratified_sample
    (md5(stratum:doc_id) 5-hex-char threshold), with the threshold
    computed as an expression from the joined ppm — same 'g'
    sentinel for >=100%. Strata absent from the table use
    ``default_ppm``. Returns (doc_id, <strata_col>, sample_key).
    """
    space = 16 ** 5

    def hex5_expr(ppm: Column) -> Column:
        v = F.greatest(F.lit(0), F.round(ppm * space / 1_000_000)).cast("bigint")
        return F.when(v >= space, F.lit("g")).otherwise(
            F.lpad(F.lower(F.conv(v.cast("string"), 10, 16)), 5, "0")
        )

    t = ppm_table.select(
        F.col("stratum").alias("__stratum__"), F.col("ppm").alias("__ppm__")
    )
    joined = docs.join(
        t, F.col(strata_col) == F.col("__stratum__"), "left"
    ).withColumn(
        "__thr__", hex5_expr(F.coalesce("__ppm__", F.lit(default_ppm)))
    )
    key = F.substring(
        F.md5(F.concat(F.col(strata_col), F.lit(":"), F.col(id_col).cast("string"))),
        1,
        5,
    )
    return joined.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col),
        key.alias("sample_key"),
        F.col("__thr__"),
    ).where(F.col("sample_key") < F.col("__thr__")).drop("__thr__")


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    url_col: str | None = None,
) -> DataFrame:
    """The dataset-card rollup: per-language corpus accounting plus a
    total, in one pass — (scope, is_total, n_docs, n_empty, n_hosts,
    tokens_total, chars_total, bytes_total, avg_tokens_e4).

    ``scope`` is the raw language tag (null for null lang); the total
    row comes from the same aggregation via ``rollup`` (GROUPING SETS —
    partial+final agg, no second scan) and is marked structurally by
    ``is_total`` (``grouping(lang)``, scope null), so no language value
    — not even a literal 'ALL' or 'unknown' tag — can collide with it
    or with the null-lang row. ``n_hosts`` counts
    distinct registrable hosts when ``url_col`` is given (the
    provenance-diversity number a dataset card reports; EXACT
    count_distinct — the HLL sketch answer is engine-specific and
    would break the oracle), else null. ``avg_tokens_e4`` is the
    house scaled-bigint spelling (round(tokens/docs * 10^4)).
    The total sorts first, then languages by n_docs desc with a scope
    tie-break (null last) — deterministic.

    One rollup aggregation = one shuffle (count_distinct adds the
    Expand, the standard two-phase distinct agg — still bounded by
    |langs| x |hosts| partial states, no row explosion at 10^12).

    DuckDB mirror: GROUP BY ROLLUP with identical expressions
    (tests/test_curate_extras.py hash oracle).
    """
    from fusus_spark.functions.text import norm_ws, token_count
    from fusus_spark.functions.url import url_host

    txt = F.col(text_col)
    toks = token_count(text_col)
    # a corpus without the language column still gets its card — every
    # doc lands in the null scope (review finding: the job-level report
    # tier must not die after all the expensive tiers ran)
    lang = (
        F.col(lang_col) if lang_col in docs.columns
        else F.lit(None).cast("string")
    )
    grouped = docs.select(
        lang.alias("_lang"),
        # norm_ws-empty, not trim-empty: Spark/DuckDB trim strip only
        # 0x20, so a tabs-and-newlines doc would slip past a bare trim
        F.when(txt.isNull() | (F.length(norm_ws(text_col)) == 0), 1)
        .otherwise(0)
        .alias("_empty"),
        F.coalesce(toks, F.lit(0)).alias("_toks"),
        F.coalesce(F.length(norm_ws(text_col)), F.lit(0)).alias("_chars"),
        F.coalesce(F.octet_length(txt), F.lit(0)).alias("_bytes"),
        *(
            # url_host returns '' (not null) for unparseable urls — a
            # malformed url must not mint a phantom distinct host
            # (review finding)
            [F.nullif(url_host(F.col(url_col)), F.lit("")).alias("_host")]
            if url_col is not None
            else []
        ),
    ).rollup("_lang")
    aggs = [
        (F.grouping("_lang") == 1).alias("is_total"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_empty").cast("bigint").alias("n_empty"),
        (
            F.count_distinct(F.col("_host")).cast("bigint")
            if url_col is not None
            else F.lit(None).cast("bigint")
        ).alias("n_hosts"),
        F.sum("_toks").cast("bigint").alias("tokens_total"),
        F.sum("_chars").cast("bigint").alias("chars_total"),
        F.sum("_bytes").cast("bigint").alias("bytes_total"),
    ]
    out = grouped.agg(*aggs).select(
        F.col("_lang").alias("scope"),
        "is_total",
        "n_docs",
        "n_empty",
        "n_hosts",
        "tokens_total",
        "chars_total",
        "bytes_total",
        F.round(F.col("tokens_total") * F.lit(10_000) / F.col("n_docs"))
        .cast("bigint")
        .alias("avg_tokens_e4"),
    )
    return out.orderBy(
        F.col("is_total").desc(), F.col("n_docs").desc(), F.col("scope").asc_nulls_last()
    )
