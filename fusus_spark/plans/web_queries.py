"""The driver registry: web/extraction/training-data queries + DuckDB
oracles (``WEB_QUERIES`` / ``WEB_ORACLES``, read by __spark_entry__).

Naming/aliasing rule (driver contract): every computed column is aliased
IDENTICALLY in the Spark plan and the oracle SQL. Float-valued outputs
are emitted as scaled BIGINTs (suffix `_e4` / `_e6` = x10^4 / x10^6,
rounded) so the value-hash comparison never trips on float formatting.

The extraction queries are the flagship: the Spark side runs the FULL
engine (HTML wrap -> DOM parse -> boilerplate strip -> segment -> words)
while the oracle tokenizes the raw text directly — they must agree
byte-for-byte, which proves the whole pipeline end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fusus_spark.extraction.pipeline import (
    extract_removals,
    extract_stage,
    extracted_from_stage,
    repartition_salted,
    words_from_stage,
)
from fusus_spark.extraction.rewrite import (
    ARABIC_REWRITE_RULES,
    DEFAULT_COMPILED,
    DEFAULT_REWRITE_RULES,
    MOJIBAKE_WRAP_POST,
    MOJIBAKE_WRAP_PRE,
    CompiledRules,
    apply_rewrites,
    compiled_for_lang,
)
from fusus_spark.functions.text import LANG_STOPWORDS, norm_ws, tokens
from fusus_spark.operators import curate, dedup, frontier, similarity, textstats, webgraph
from fusus_spark.session import drop_zip_finders
from fusus_spark.sources.testdata import (
    WRAP_HARD_REMOVED_RULES,
    WRAP_REMOVED_RULES,
    docs_as_web,
    docs_as_web_hard,
    load,
)

# Portable token expression for oracles (text columns are [a-z ] but we
# normalize defensively). DuckDB regexp_replace needs the 'g' flag.
_ORC_NORM = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_ORC_TOKS = f"string_split({_ORC_NORM}, ' ')"
# DuckDB string_split('', ' ') yields [''] (a phantom empty token);
# the engine maps empty text to an empty token array — oracles that
# reconstruct body tokens must use the guarded form to agree on
# whitespace-only documents.
_ORC_TOKS_SAFE = (
    f"CASE WHEN length({_ORC_NORM}) = 0 THEN []::VARCHAR[] ELSE {_ORC_TOKS} END"
)


def _doc_id(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "doc_id", F.regexp_extract("url", r"doc/(\d+)$", 1).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Extraction flagship


def _word_rows(web: DataFrame) -> DataFrame:
    """The words table of extracting ``web``, keyed by doc_id."""
    words = _doc_id(words_from_stage(extract_stage(repartition_salted(web, 32))))
    return words.select(
        "doc_id",
        F.col("block_id").cast("int").alias("block_id"),
        F.col("line_id").cast("int").alias("line_id"),
        F.col("word_seq").cast("int").alias("word_seq"),
        "word",
        "punc",
        F.col("char_start").cast("int").alias("char_start"),
        F.col("char_end").cast("int").alias("char_end"),
    )


def _removal_counts(web: DataFrame) -> DataFrame:
    """Removed-node count per boilerplate rule over ``web``."""
    rem = extract_removals(web)
    return (
        rem.where(~F.col("kept"))
        .groupBy("rule_id")
        .agg(F.count("*").cast("bigint").alias("n_removed"))
    )


def _removals_oracle_sql(rules: tuple[str, ...]) -> str:
    """Every document's chrome triggers each of ``rules`` once."""
    return f"""
SELECT rule_id, (SELECT count(*) FROM documents)::BIGINT AS n_removed
FROM (SELECT unnest({list(rules)!r}) AS rule_id)
"""


def q_extract_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _word_rows(docs_as_web(spark, sf_dir))


ORACLE_EXTRACT_WORDS = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({_ORC_TOKS}) AS word,
         generate_subscripts({_ORC_TOKS}, 1) AS seq
  FROM documents
  WHERE length({_ORC_NORM}) > 0
)
SELECT doc_id,
       0::INT AS block_id,
       0::INT AS line_id,
       (seq - 1)::INT AS word_seq,
       word,
       '' AS punc,
       COALESCE(SUM(length(word) + 1) OVER (
         PARTITION BY doc_id ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS char_start,
       (COALESCE(SUM(length(word) + 1) OVER (
         PARTITION BY doc_id ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(word))::INT AS char_end
FROM toks
"""


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-url envelope: status + counts + extracted_text for EVERY
    input url (the round-2 `extract_stats` query folded in — one
    envelope query hash-verifies both the text bytes and the counts,
    freeing a slot in the driver's 50-query correctness budget)."""
    stage = extract_stage(repartition_salted(docs_as_web(spark, sf_dir), 32))
    env = _doc_id(extracted_from_stage(stage))
    return env.select(
        "doc_id",
        "status",
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "extracted_text",
    )


ORACLE_EXTRACT_TEXT = f"""
SELECT doc_id,
       CASE WHEN length({_ORC_NORM}) > 0 THEN 'extracted' ELSE 'empty' END AS status,
       CASE WHEN length({_ORC_NORM}) > 0 THEN 1 ELSE 0 END::INT AS n_blocks,
       CASE WHEN length({_ORC_NORM}) > 0 THEN 1 ELSE 0 END::INT AS n_lines,
       CASE WHEN length({_ORC_NORM}) > 0 THEN len({_ORC_TOKS}) ELSE 0 END::INT AS n_words,
       {len(WRAP_REMOVED_RULES)}::INT AS n_removed,
       CASE WHEN length({_ORC_NORM}) > 0 THEN {_ORC_NORM} ELSE NULL END AS extracted_text
FROM documents
"""


def q_extract_removals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _removal_counts(docs_as_web(spark, sf_dir))


ORACLE_EXTRACT_REMOVALS = _removals_oracle_sql(WRAP_REMOVED_RULES)


# ---------------------------------------------------------------------------
# Adversarial extraction flagships: the HARD wrap (multi-block content,
# boilerplate nested inside <article>, content-classed div trapped in
# the footer, lookalike classes). The Spark side runs the FULL engine on
# the nasty chrome; the oracle reconstructs the expected title/half/half
# block structure from the raw text — byte-identical agreement proves
# the engine handles adversarial pages, not just its own happy chrome.


def q_extract_text_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = extract_stage(repartition_salted(docs_as_web_hard(spark, sf_dir), 32))
    env = _doc_id(extracted_from_stage(stage))
    return env.where(F.col("status") == "extracted").select("doc_id", "extracted_text")


ORACLE_EXTRACT_TEXT_HARD = f"""
WITH base AS (
  SELECT doc_id, {_ORC_TOKS_SAFE} AS t, 'doc ' || doc_id AS title FROM documents
)
SELECT doc_id,
       title
       || CASE WHEN len(t) >= 1
               THEN chr(10) || array_to_string(t[1:(len(t)+1)//2], ' ') ELSE '' END
       || CASE WHEN len(t) > (len(t)+1)//2
               THEN chr(10) || array_to_string(t[(len(t)+1)//2+1:len(t)], ' ') ELSE '' END
       AS extracted_text
FROM base
"""


def q_extract_words_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _word_rows(docs_as_web_hard(spark, sf_dir))


# Offsets: the title line is 'doc <id>'; every body token is preceded by
# exactly one separator char (the block \n and the in-block space are
# both 1 char), so char_start is a plain running sum over global token
# order regardless of the block split.
ORACLE_EXTRACT_WORDS_HARD = f"""
WITH base AS (
  SELECT doc_id, {_ORC_TOKS_SAFE} AS t, 'doc ' || doc_id AS title FROM documents
),
tok AS (
  SELECT doc_id, title,
         unnest(t) AS word,
         generate_subscripts(t, 1) AS i,
         (len(t)+1)//2 AS h
  FROM base
),
body_rows AS (
  SELECT doc_id,
         (CASE WHEN i <= h THEN 1 ELSE 2 END)::INT AS block_id,
         0::INT AS line_id,
         (CASE WHEN i <= h THEN i - 1 ELSE i - h - 1 END)::INT AS word_seq,
         word,
         '' AS punc,
         (length(title) + 1 + COALESCE(SUM(length(word) + 1) OVER (
            PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::INT AS char_start,
         (length(title) + 1 + COALESCE(SUM(length(word) + 1) OVER (
            PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + length(word))::INT AS char_end
  FROM tok
),
title_rows AS (
  SELECT doc_id, 0::INT AS block_id, 0::INT AS line_id, 0::INT AS word_seq,
         'doc' AS word, '' AS punc, 0::INT AS char_start, 3::INT AS char_end
  FROM base
  UNION ALL
  SELECT doc_id, 0::INT, 0::INT, 1::INT, doc_id::VARCHAR, '',
         4::INT, (4 + length(doc_id::VARCHAR))::INT
  FROM base
)
SELECT * FROM title_rows UNION ALL SELECT * FROM body_rows
"""


def q_extract_removals_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _removal_counts(docs_as_web_hard(spark, sf_dir))


ORACLE_EXTRACT_REMOVALS_HARD = _removals_oracle_sql(WRAP_HARD_REMOVED_RULES)


# ---------------------------------------------------------------------------
# Text analysis


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = textstats.doc_token_stats(load(spark, sf_dir, "documents"))
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_chars_norm").cast("int").alias("n_chars_norm"),
        F.col("n_uniq").cast("int").alias("n_uniq"),
        F.round(F.col("avg_token_len") * 10000).cast("bigint").alias("avg_token_len_e4"),
    )


def q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = textstats.bpe_token_stats(load(spark, sf_dir, "documents"))
    return stats.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
        F.col("n_ws_tokens").cast("int").alias("n_ws_tokens"),
        "bpe_per_ws_e4",
    )


ORACLE_TOKEN_STATS_BPE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{{PAT}}'))::INT AS n_bpe_tokens,
       len({_ORC_TOKS})::INT AS n_ws_tokens,
       round(CASE WHEN len({_ORC_TOKS}) > 0
             THEN len(regexp_extract_all(text, '{{PAT}}')) / len({_ORC_TOKS})
             ELSE 0 END * 10000)::BIGINT AS bpe_per_ws_e4
FROM documents
""".replace("{PAT}", " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +")


ORACLE_TOKEN_STATS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ORC_TOKS}) AS tok FROM documents
)
SELECT d.doc_id,
       len({_ORC_TOKS})::INT AS n_tokens,
       length({_ORC_NORM})::INT AS n_chars_norm,
       t.n_uniq::INT AS n_uniq,
       round(t.avg_len * 10000)::BIGINT AS avg_token_len_e4
FROM documents d
JOIN (SELECT doc_id, count(DISTINCT tok) AS n_uniq,
             round(avg(length(tok)), 6) AS avg_len
      FROM toks GROUP BY doc_id) t USING (doc_id)
"""


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (k=8 char grams, window=4)."""
    return textstats.winnow_fingerprints(
        load(spark, sf_dir, "documents"), k=8, window=4
    )


ORACLE_DOC_WINNOW = f"""
WITH n AS (SELECT doc_id, {_ORC_NORM} AS norm FROM documents),
g AS (
  SELECT doc_id, u.i, md5(substr(norm, u.i, 8)) AS h
  FROM n, unnest(generate_series(1, length(norm) - 7)) AS u(i)
  WHERE length(norm) >= 8
),
m AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS cnt
  FROM g
)
SELECT DISTINCT doc_id, fp FROM m WHERE i <= cnt - 3
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    qs = textstats.quality_score(load(spark, sf_dir, "documents"))
    return qs.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(F.col("uniq_ratio") * 1000000).cast("bigint").alias("uniq_ratio_e6"),
        F.round(F.col("stop_ratio") * 1000000).cast("bigint").alias("stop_ratio_e6"),
        F.round(F.col("quality") * 1000000).cast("bigint").alias("quality_e6"),
    )


_EN_STOPS_SQL = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])

ORACLE_QUALITY_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ORC_TOKS}) AS tok FROM documents
),
agg AS (
  SELECT doc_id,
         count(*) AS n,
         count(DISTINCT tok) AS n_uniq,
         count(*) FILTER (WHERE tok IN ({_EN_STOPS_SQL})) AS stops
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       n::INT AS n_tokens,
       round(round(n_uniq / n, 6) * 1000000)::BIGINT AS uniq_ratio_e6,
       round(round(stops / n, 6) * 1000000)::BIGINT AS stop_ratio_e6,
       round(round(0.4 * least(1.0, n / 100.0)
             + 0.3 * (n_uniq / n)
             + 0.3 * least(1.0, 5.0 * (stops / n)), 6) * 1000000)::BIGINT AS quality_e6
FROM agg
"""


def q_quality_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cross-entropy quality filter (character-bigram LM)."""
    return textstats.ngram_xent(load(spark, sf_dir, "documents"))


ORACLE_QUALITY_XENT = f"""
WITH n AS (SELECT doc_id, {_ORC_NORM} AS t FROM documents),
bg AS (
  SELECT doc_id, substr(t, u.i, 2) AS g
  FROM n, unnest(generate_series(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 2
),
model AS (
  SELECT g, round(round(ln(count(*) / (SELECT count(*) FROM bg)::DOUBLE), 6)
                  * 1000000)::BIGINT AS logp_e6
  FROM bg GROUP BY g
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       sum(logp_e6)::BIGINT AS sum_logprob_e6
FROM bg JOIN model USING (g)
GROUP BY doc_id
"""


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_guess(load(spark, sf_dir, "documents")).select(
        "doc_id", "declared_lang", "guessed_lang",
        F.col("best_hits").cast("int").alias("best_hits"),
    )


def _lang_hits_sql(lang: str) -> str:
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
    return f"count(*) FILTER (WHERE tok IN ({stops}))"


ORACLE_LANG_GUESS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ORC_TOKS}) AS tok FROM documents
),
hits AS (
  SELECT doc_id,
         {_lang_hits_sql('de')} AS h_de,
         {_lang_hits_sql('en')} AS h_en,
         {_lang_hits_sql('es')} AS h_es,
         {_lang_hits_sql('fr')} AS h_fr
  FROM toks GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, greatest(h_de, h_en, h_es, h_fr) AS best,
         CASE greatest(h_de, h_en, h_es, h_fr)
           WHEN h_de THEN 'de' WHEN h_en THEN 'en'
           WHEN h_es THEN 'es' ELSE 'fr' END AS win
  FROM hits
)
SELECT d.doc_id, d.lang AS declared_lang,
       CASE WHEN r.best > 0 THEN r.win ELSE 'und' END AS guessed_lang,
       r.best::INT AS best_hits
FROM documents d JOIN ranked r USING (doc_id)
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_fingerprints(load(spark, sf_dir, "documents"))


ORACLE_DOC_FINGERPRINTS = f"SELECT doc_id, md5({_ORC_NORM}) AS fp FROM documents"


def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.top_words(load(spark, sf_dir, "documents"), k=20).select(
        "word", F.col("cnt").cast("bigint").alias("cnt"),
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_TOP_WORDS = f"""
WITH toks AS (SELECT unnest({_ORC_TOKS}) AS word FROM documents),
counted AS (SELECT word, count(*)::BIGINT AS cnt FROM toks GROUP BY word)
SELECT word, cnt, rank FROM (
  SELECT word, cnt,
         row_number() OVER (ORDER BY cnt DESC, word ASC)::INT AS rank
  FROM counted) WHERE rank <= 20
"""


def q_word_freq_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.word_freq_by_lang(load(spark, sf_dir, "documents"), k=5).select(
        "lang", "word", F.col("cnt").cast("bigint").alias("cnt"),
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_WORD_FREQ_BY_LANG = f"""
WITH toks AS (SELECT lang, unnest({_ORC_TOKS}) AS word FROM documents),
counted AS (SELECT lang, word, count(*)::BIGINT AS cnt FROM toks GROUP BY lang, word)
SELECT lang, word, cnt, rank FROM (
  SELECT lang, word, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC)::INT AS rank
  FROM counted) WHERE rank <= 5
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textstats.lang_distribution(load(spark, sf_dir, "documents"))
    return d.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        F.round(F.col("avg_chars") * 10000).cast("bigint").alias("avg_chars_e4"),
        F.col("min_chars").cast("bigint").alias("min_chars"),
        F.col("max_chars").cast("bigint").alias("max_chars"),
    )


ORACLE_LANG_DISTRIBUTION = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(round(avg(n_chars), 4) * 10000)::BIGINT AS avg_chars_e4,
       min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Deduplication


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = dedup.exact_duplicates(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "rep_id", "content_hash",
        F.col("group_size").cast("bigint").alias("group_size"),
    )


ORACLE_DEDUP_EXACT = f"""
WITH h AS (SELECT doc_id, md5({_ORC_NORM}) AS content_hash FROM documents),
g AS (SELECT content_hash, min(doc_id) AS rep_id, count(*)::BIGINT AS group_size
      FROM h GROUP BY content_hash)
SELECT h.doc_id, g.rep_id, h.content_hash, g.group_size FROM h JOIN g USING (content_hash)
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index Jaccard with the df_cap stop-shingle prefilter
    (shingles in > 250 docs excluded from the universe on both the
    Spark and oracle side — the fan-in bound that keeps the index
    join linear at scale)."""
    pairs = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=1, threshold=0.9, df_cap=250
    )
    return pairs.select(
        "doc_a", "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        F.round(F.col("jaccard") * 1000000).cast("bigint").alias("jaccard_e6"),
    )


ORACLE_DEDUP_JACCARD = f"""
WITH sh0 AS (SELECT DISTINCT doc_id, unnest({_ORC_TOKS}) AS s FROM documents),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 250),
sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, inter, sa.n AS size_a, sb.n AS size_b,
       round(round(inter / (sa.n + sb.n - inter), 6) * 1000000)::BIGINT AS jaccard_e6
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.9
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), bands=4, n=2, min_band_matches=2
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("band_matches").cast("bigint").alias("band_matches")
    )


ORACLE_DEDUP_MINHASH = f"""
WITH toks AS (SELECT doc_id, {_ORC_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS shingle
       FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
       WHERE len(t) >= 2),
banded AS (SELECT doc_id, b.band, min(md5(band || ':' || shingle)) AS sig
           FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b
           GROUP BY doc_id, b.band)
SELECT doc_a, doc_b, band_matches FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS band_matches
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2) WHERE band_matches >= 2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs -> connected components
    (iterative min-label propagation vs the oracle's recursive CTE)."""
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), bands=4, n=2, min_band_matches=2
    )
    return dedup.dup_clusters(pairs)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (SELECT doc_id, {_ORC_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS shingle
       FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
       WHERE len(t) >= 2),
banded AS (SELECT doc_id, b.band, min(md5(band || ':' || shingle)) AS sig
           FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b
           GROUP BY doc_id, b.band),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS bm
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2) WHERE bm >= 2),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
)
SELECT node AS doc_id, min(r)::BIGINT AS cluster_id FROM reach GROUP BY node
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the SOUND radius: with 4 x 16-bit
    chunks the pigeonhole join is complete only for hamming <= 3
    (Manku et al.'s classic design) — the all-pairs DuckDB oracle
    proved a larger radius silently drops pairs with no identical
    chunk. The 64-bit signature IS SQL-expressible (md5 hex nibbles ->
    per-bit ±1 sums -> HUGEINT bit assembly), so this is a full oracle
    check, not rows-only."""
    return dedup.simhash_near_pairs(load(spark, sf_dir, "documents"), max_hamming=3)


ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ORC_TOKS}) AS tok FROM documents
  WHERE length({_ORC_NORM}) > 0
),
bits AS (
  SELECT doc_id, b.j,
         sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), (b.j // 4) + 1, 1)) - 1)
                   >> (3 - (b.j % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM toks, (SELECT unnest(generate_series(0, 63)) AS j) b
  GROUP BY doc_id, b.j
),
sigs AS (
  SELECT doc_id,
         (CASE WHEN s >= 9223372036854775808::HUGEINT
               THEN s - 18446744073709551616::HUGEINT ELSE s END)::BIGINT AS sig
  FROM (SELECT doc_id, sum(CASE WHEN w > 0 THEN (1::HUGEINT << (63 - j))
                           ELSE 0::HUGEINT END) AS s
        FROM bits GROUP BY doc_id)
  UNION ALL
  SELECT doc_id, 0::BIGINT FROM documents WHERE length({_ORC_NORM}) = 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via RP-LSH band candidates + exact
    cosine verify (the 10^9-vector plan — no all-pairs join; the
    brute-force variant survives as the recall oracle in pytest).
    The DuckDB oracle replicates the seeded hyperplane bands exactly,
    so this stays a full hash check."""
    pairs = dedup.embedding_lsh_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.35,
        n_planes=16, band_bits=4, dim=64,
    )
    return pairs.select(
        "id_a", "id_b",
        F.round(F.col("cos_sim") * 1000000).cast("bigint").alias("cos_sim_e6"),
    )


def _dedup_embedding_oracle_sql(threshold: float = 0.35, n_planes: int = 16,
                                band_bits: int = 4, dim: int = 64,
                                seed: int = 7) -> str:
    from fusus_spark.operators.similarity import rp_planes, rp_sig_sql

    sig = rp_sig_sql("embedding", rp_planes(n_planes, dim, seed))
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH sigs AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a, sigs b, (SELECT unnest(generate_series(0, {n_bands - 1})) AS b_) bands
  WHERE a.vec_id < b.vec_id
    AND ((a.sig >> (bands.b_ * {band_bits})) & {mask})
      = ((b.sig >> (bands.b_ * {band_bits})) & {mask})
)
SELECT c.id_a, c.id_b,
       round(round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
             * 1000000)::BIGINT AS cos_sim_e6
FROM cand c
JOIN sigs ea ON ea.vec_id = c.id_a
JOIN sigs eb ON eb.vec_id = c.id_b
WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= {threshold}
"""


ORACLE_DEDUP_EMBEDDING = _dedup_embedding_oracle_sql()


# ---------------------------------------------------------------------------
# Similarity search


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, similarity.make_queries(emb, 5), k=10)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
    )


ORACLE_KNN_BRUTEFORCE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS s
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC)::INT AS rank
  FROM sims) WHERE rank <= 10
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN. Approximate vs brute force (recall asserted in
    tests), but the bucketing itself is deterministic — centroid argmax,
    2-bucket probe, in-bucket top-k — so the full pipeline IS
    SQL-expressible and checked against a DuckDB oracle exactly."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, similarity.make_queries(emb, 5), k=10,
                              n_centroids=8, n_probes=2)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


ORACLE_KNN_IVF = """
WITH cents AS (SELECT vec_id AS bucket, embedding AS cv FROM embeddings WHERE vec_id < 8),
assign AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT e.vec_id, e.embedding, c.bucket,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) DESC,
                      c.bucket ASC) AS r
    FROM embeddings e, cents c)
  WHERE r = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
probed AS (
  SELECT query_id, qv, bucket FROM (
    SELECT q.query_id, q.qv, c.bucket,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]), 6) DESC,
                      c.bucket ASC) AS r
    FROM q, cents c)
  WHERE r <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], p.qv::DOUBLE[]), 6) AS s
  FROM assign a JOIN probed p USING (bucket)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC)::INT AS rank
  FROM cand) WHERE rank <= 10
"""


def q_knn_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane cosine-LSH ANN. Approximate vs brute force
    (recall asserted in tests), but deterministic end-to-end: the
    seeded hyperplanes are embedded as literals in BOTH the Spark plan
    and the DuckDB oracle, so the full bucket-probe pipeline is
    hash-verified, not rows-only."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.rp_lsh_topk(
        emb, similarity.make_queries(emb, 5), k=10,
        n_planes=16, band_bits=4, dim=64,
    )
    return out.select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def _rp_lsh_oracle_sql(n_planes: int = 16, band_bits: int = 4, dim: int = 64,
                       seed: int = 7, k: int = 10, n_queries: int = 5) -> str:
    """Build the RP-LSH oracle with the SAME seeded hyperplanes (and the
    same rounded-dot sign rule) the Spark plan embeds."""
    from fusus_spark.operators.similarity import rp_planes, rp_sig_sql

    sig = rp_sig_sql("embedding", rp_planes(n_planes, dim, seed))
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH sigs AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
qs AS (SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
       FROM sigs WHERE vec_id < {n_queries}),
cand AS (
  SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
  FROM sigs s, qs q, (SELECT unnest(generate_series(0, {n_bands - 1})) AS b) bands
  WHERE s.vec_id <> q.query_id
    AND ((s.sig >> (bands.b * {band_bits})) & {mask}) = ((q.qsig >> (bands.b * {band_bits})) & {mask})
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS s
  FROM cand c
  JOIN sigs e ON e.vec_id = c.neighbor_id
  JOIN qs q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC)::INT AS rank
  FROM scored) WHERE rank <= {k}
"""


ORACLE_KNN_RP_LSH = _rp_lsh_oracle_sql()


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns; decode is a deterministic stub)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass: payload size + magic-byte prefix.

    The 'payload' is the utf-8 encoding of text (a stand-in binary
    column; the real pipeline would carry image/audio bytes — schema
    and plumbing identical)."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.upper(F.substring(F.hex(payload), 1, 8)).alias("magic_hex"),
    )


ORACLE_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       upper(substr(hex(encode(text)), 1, 8)) AS magic_hex
FROM documents
"""


def _hexbyte(md5_expr: str, i: int) -> str:
    """SQL for byte i (0-based) of an md5 hex digest — matches
    hashlib.md5(...).digest()[i]."""
    hx = "'0123456789abcdef'"
    return (
        f"((strpos({hx}, substr({md5_expr}, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos({hx}, substr({md5_expr}, {2 * i + 2}, 1)) - 1))"
    )


def _mm_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-fit thumbnail pipeline (stub decode): the geometry math,
    Arrow batch shape, and the deterministic fake resample are all
    reproduced by the oracle — the pixel decode itself is the one
    honestly-stubbed step (no image libs in this container). Payload =
    utf-8 bytes of text, so DuckDB's VARCHAR md5 sees identical bytes."""
    from fusus_spark.operators.multimodal import resize_images

    out = resize_images(_mm_src(spark, sf_dir), target=64)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("out_width").cast("int").alias("out_width"),
        F.col("out_height").cast("int").alias("out_height"),
        F.lower(F.hex("resized")).alias("resized_hex"),
    )


_MM_H = "md5(text)"
ORACLE_MULTIMODAL_RESIZE = f"""
WITH dims AS (
  SELECT doc_id, text,
         1 + {_hexbyte(_MM_H, 0)} % 1024 AS width,
         1 + {_hexbyte(_MM_H, 1)} % 1024 AS height
  FROM documents
),
geom AS (
  SELECT *, greatest(width, height) AS m,
         greatest(1, (2 * width * 64 + greatest(width, height))
                     // (2 * greatest(width, height))) AS ow,
         greatest(1, (2 * height * 64 + greatest(width, height))
                     // (2 * greatest(width, height))) AS oh
  FROM dims
)
SELECT doc_id, width::INT AS width, height::INT AS height,
       ow::INT AS out_width, oh::INT AS out_height,
       substr(repeat(md5(text || ':' || ow || 'x' || oh),
                     (ow * oh) // 16 + 1), 1, 2 * ow * oh) AS resized_hex
FROM geom
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling pipeline (stub decode): the sampling
    schedule over the synthetic duration and the in-batch row explosion
    are real; the frame bytes are the deterministic stub, reproduced
    exactly by the oracle."""
    from fusus_spark.operators.multimodal import frame_sample

    out = frame_sample(_mm_src(spark, sf_dir), n_frames=4, fps=25.0)
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("bigint").alias("ts_ms"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


# dur_ms = total_frames/25*1000 = total_frames*40 exactly; ts = dur*j//3.
ORACLE_MULTIMODAL_FRAMES = """
SELECT doc_id, j::INT AS frame_idx,
       ((greatest(1, octet_length(encode(text)) // 64) * 40) * j // 3)::BIGINT AS ts_ms,
       md5(text || ':frame:' || j) AS frame_hex
FROM documents, (SELECT unnest(generate_series(0, 3)) AS j)
"""


# (the round-1 toy single-table `translit_vowels` query was retired in
# round 3: subsumed by the three-scheme `translit_schemes` below, and
# the driver's correctness run covers at most 50 registry entries)

# T32 real transliteration schemes (tfFromTsv.py:633-636 analog: the
# reference derives ascii/latin/standard transliterations per word from
# text-fabric's scheme tables; here three deterministic scheme tables
# over accented latin — ascii strip, digraph latin, marked standard —
# all JVM-side translate/replace chains, no UDF).

_ACCENT_SRC = "aeioun c".replace(" ", "")  # source chars that accentize
_ACCENT_DST = "áéíóúñç"
_LATIN_DIGRAPHS = (
    ("á", "aa"), ("é", "ee"), ("í", "ii"), ("ó", "oo"), ("ú", "uu"),
    ("ñ", "ny"), ("ç", "ts"),
)
_STD_MARKS = (
    ("á", "a:"), ("é", "e:"), ("í", "i:"), ("ó", "o:"), ("ú", "u:"),
    ("ñ", "n~"), ("ç", "c,"),
)


def q_translit_schemes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word transliteration under three scheme tables.

    Every 3rd word is 'accentized' deterministically (a->á etc., the
    foreign-script stand-in), then transliterated back per scheme:
    ascii = diacritic strip (1:1 translate), latin = digraph expansion
    (aa/ee/../ny/ts — 1:many replace chain), standard = mark notation
    (a:/n~/c,). Mirrors the reference emitting lettersp/lettersn/
    letterst per slot."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("word_seq", "word")
    )
    acc = F.when(
        F.pmod(F.col("word_seq"), F.lit(3)) == 0,
        F.translate("word", _ACCENT_SRC, _ACCENT_DST),
    ).otherwise(F.col("word"))
    out = words.select(
        "doc_id",
        F.col("word_seq").cast("int").alias("word_seq"),
        acc.alias("word_acc"),
    )
    # build replace chains via expr strings (Spark's replace() matches DuckDB's)
    def chain(col_name: str, pairs) -> F.Column:
        e = col_name
        for src, dst in pairs:
            e = f"replace({e}, '{src}', '{dst}')"
        return F.expr(e)

    return out.select(
        "doc_id",
        "word_seq",
        "word_acc",
        F.translate("word_acc", _ACCENT_DST, _ACCENT_SRC).alias("t_ascii"),
        chain("word_acc", _LATIN_DIGRAPHS).alias("t_latin"),
        chain("word_acc", _STD_MARKS).alias("t_std"),
    )


def _translit_schemes_oracle_sql() -> str:
    def chain(e: str, pairs) -> str:
        for src, dst in pairs:
            e = f"replace({e}, '{src}', '{dst}')"
        return e

    return f"""
WITH words AS (
  SELECT doc_id, (generate_subscripts(t, 1) - 1)::INT AS word_seq, unnest(t) AS word
  FROM (SELECT doc_id, {_ORC_TOKS} AS t FROM documents) WHERE len(t) > 0
),
acc AS (
  SELECT doc_id, word_seq,
         CASE WHEN word_seq % 3 = 0
              THEN translate(word, '{_ACCENT_SRC}', '{_ACCENT_DST}')
              ELSE word END AS word_acc
  FROM words
)
SELECT doc_id, word_seq, word_acc,
       translate(word_acc, '{_ACCENT_DST}', '{_ACCENT_SRC}') AS t_ascii,
       {chain('word_acc', _LATIN_DIGRAPHS)} AS t_latin,
       {chain('word_acc', _STD_MARKS)} AS t_std
FROM acc
"""


ORACLE_TRANSLIT_SCHEMES = _translit_schemes_oracle_sql()


# A6 TOC distill (tfFromTsv.py:330-403 getToc analog): deterministic
# TOC-shaped lines are built from each doc's leading tokens, then the
# structured (seq, piece, title, page) rows are regex-distilled back —
# filter + group + regex piece extraction, all JVM-side.


def q_toc_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = tokens("text")
    title = F.concat_ws(" ", F.slice(t, 1, 3))
    piece = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.lit("["), F.pmod(F.col("doc_id"), F.lit(7)), F.lit("] ")),
    ).otherwise(F.lit(""))
    line = F.concat(
        F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), F.lit("- "),
        piece, title, F.lit(" ... "),
        F.pmod(F.col("doc_id"), F.lit(997)).cast("string"),
    )
    toc = docs.where(F.size(t) >= 3).select("doc_id", line.alias("line"))
    pat = r"^(\d+)- (?:\[(\d+)\] )?(.*?) \.\.\. (\d+)$"
    seq = F.regexp_extract("line", pat, 1).cast("int")
    psec = F.regexp_extract("line", pat, 2)
    return toc.select(
        "doc_id",
        seq.alias("seq"),
        F.when(psec == "", None).otherwise(psec).cast("int").alias("piece_seq"),
        F.regexp_extract("line", pat, 3).alias("title"),
        F.regexp_extract("line", pat, 4).cast("int").alias("page"),
    )


ORACLE_TOC_DISTILL = f"""
WITH toc AS (
  SELECT doc_id,
         (doc_id % 100)::VARCHAR || '- '
         || CASE WHEN doc_id % 3 = 0 THEN '[' || (doc_id % 7)::VARCHAR || '] ' ELSE '' END
         || array_to_string(t[1:3], ' ')
         || ' ... ' || (doc_id % 997)::VARCHAR AS line
  FROM (SELECT doc_id, {_ORC_TOKS} AS t FROM documents)
  WHERE len(t) >= 3
)
SELECT doc_id,
       regexp_extract(line, '^(\\d+)- (?:\\[(\\d+)\\] )?(.*?) \\.\\.\\. (\\d+)$', 1)::INT AS seq,
       nullif(regexp_extract(line, '^(\\d+)- (?:\\[(\\d+)\\] )?(.*?) \\.\\.\\. (\\d+)$', 2), '')::INT AS piece_seq,
       regexp_extract(line, '^(\\d+)- (?:\\[(\\d+)\\] )?(.*?) \\.\\.\\. (\\d+)$', 3) AS title,
       regexp_extract(line, '^(\\d+)- (?:\\[(\\d+)\\] )?(.*?) \\.\\.\\. (\\d+)$', 4)::INT AS page
FROM toc
"""


def q_align_editions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-edition fuzzy alignment WITH the doCase exception path
    (J1, fusus/align.py doDiffs + doCase analogs) — full oracle.

    Runs the provably-exact scenario (see the _exact_align_rows block
    comment below) plus a deterministic manual-exception table: docs
    0-4 force-pair A slot 3 onto its B partner (slot 4 — slot 3 is
    exactly where the first sentinel pends, so the consult exercises
    the force-pair catch-up emit end-to-end). The exception targets the
    pair the ladder would have matched anyway, so its ONLY closed-form
    effect is distance = MANUAL_DISTANCE (-1) on that pair; every other
    row is the exact scenario's ground truth, making the whole output
    SQL-reconstructable (the r4 verdict's "swap the slot" item — the
    noisy-perturbation variant this replaces stays covered by
    tests/test_align.py).
    """
    exceptions = spark.createDataFrame(
        [(str(d), 3, 4) for d in range(5)],
        "url string, slot_a long, slot_b long",
    )
    rows = _exact_align_rows(spark, sf_dir, exceptions=exceptions)
    return rows.select(
        "url",
        F.col("slot_a").cast("bigint").alias("slot_a"),
        "word_a",
        F.col("distance").cast("int").alias("distance"),
        F.round(F.col("ratio") * 1000000).cast("bigint").alias("ratio_e6"),
        "word_b",
        F.col("slot_b").cast("bigint").alias("slot_b"),
    )


# ---------------------------------------------------------------------------
# T26 rewrite engine as a driver query


def _rewritten(spark: SparkSession, sf_dir: str, pre: str, post: str,
               compiled: CompiledRules = DEFAULT_COMPILED) -> DataFrame:
    """(doc_id, normalized): each text wrapped in ``pre``/``post``
    (in-plan, JVM concat) and repaired by the leftmost longest-first
    apply-once rewrite engine inside an Arrow batch UDF."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id", F.concat(F.lit(pre), F.col("text"), F.lit(post)).alias("corrupted")
    )

    def run(batches):
        drop_zip_finders()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "normalized": [
                        apply_rewrites(t, compiled) for t in pdf["corrupted"].tolist()
                    ],
                }
            )

    return src.mapInPandas(run, "doc_id long, normalized string")


def _rewritten_oracle_sql(pre: str, post: str, rules) -> str:
    """The wraps are rule-disjoint, so the engine equals the replace
    chain over ``rules`` in (longest, then lexicographic) order."""
    def q(s: str) -> str:
        return s.replace("'", "''")

    expr = f"'{q(pre)}' || text || '{q(post)}'"
    for src, repl in sorted(rules, key=lambda r: (-len(r[0]), r[0])):
        expr = f"replace({expr}, '{q(src)}', '{q(repl)}')"
    return f"SELECT doc_id, {expr} AS normalized FROM documents"


def q_normalize_rewrites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26 rewrite-rule engine over deterministically-corrupted text:
    each doc's payload is wrapped in mojibake / double-escaped-entity /
    zero-width material and repaired by the rewrite engine. The oracle
    is the equivalent sorted-order replace chain (equivalence pinned in
    tests/test_rewrite.py); the nasty overlap semantics are covered by
    the unit tests, not this query."""
    return _rewritten(spark, sf_dir, MOJIBAKE_WRAP_PRE, MOJIBAKE_WRAP_POST)


ORACLE_NORMALIZE_REWRITES = _rewritten_oracle_sql(
    MOJIBAKE_WRAP_PRE, MOJIBAKE_WRAP_POST, DEFAULT_REWRITE_RULES
)

_ARABIC_PRE = "أَلِف مدرسةٌ "
_ARABIC_POST = " هدى كتـاب"


def q_normalize_arabic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T30: the lang-keyed Arabic rule table (alef variants, tashkeel,
    tatweel, teh marbuta, alef maksura — the public ArabicNormalizer
    rule set) run through the same rewrite engine over deterministically
    Arabic-wrapped payloads; oracle = the sorted replace chain over the
    combined table (rule-disjoint wrap, same argument as
    normalize_rewrites)."""
    return _rewritten(spark, sf_dir, _ARABIC_PRE, _ARABIC_POST, compiled_for_lang("ar"))


ORACLE_NORMALIZE_ARABIC = _rewritten_oracle_sql(
    _ARABIC_PRE, _ARABIC_POST, DEFAULT_REWRITE_RULES + ARABIC_REWRITE_RULES
)


# ---------------------------------------------------------------------------
# Alignment with a FULL oracle: the provably-exact scenario.
#
# Noisy perturbations make the fuzzy walk non-SQL, so the registry
# queries (align_editions included) build an edition pair whose
# ladder alignment PROVABLY equals the closed-form ground truth, so the
# real aligner (cogroup + applyInPandas, combis, lookahead — the whole
# J1 machinery) runs on the Spark side while a pure-SQL oracle
# reconstructs its exact output:
#   * edition B inserts the sentinel 'q9q9q9q9' before every token whose
#     slot % 17 == 3 — four digits mean levenshtein >= 4 to ANY [a-z]
#     corpus word or concatenation, beyond every ladder rung and every
#     n:m combination, so the only resolution is the minimal (0,1)
#     lookahead jump;
#   * every 23rd token (when len >= 4) gets 'x' appended — d=1 with
#     ratio >= 0.8 always passes rung 1 directly.
# Aligned pairs therefore match 1:1 in order, sentinels become B-only
# catch-up rows, and distances/ratios are closed-form.

_ALIGN_SENTINEL = "q9q9q9q9"


def _exact_align_rows(
    spark: SparkSession, sf_dir: str, exceptions: DataFrame | None = None
) -> DataFrame:
    from fusus_spark.operators.align import align_editions

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    toks = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.posexplode(tokens("text")).alias("slot", "word"),
    ).select("url", F.col("slot").cast("long").alias("slot"), "word")
    mut = F.when(
        (F.pmod(F.col("slot"), F.lit(23)) == 5) & (F.length("word") >= 4),
        F.concat(F.col("word"), F.lit("x")),
    ).otherwise(F.col("word"))
    token_rows = toks.select("url", "slot", mut.alias("word"), F.lit(0).alias("sent"))
    sent_rows = toks.where(F.pmod(F.col("slot"), F.lit(17)) == 3).select(
        "url", "slot", F.lit(_ALIGN_SENTINEL).alias("word"), F.lit(1).alias("sent")
    )
    ed_b = (
        token_rows.unionByName(sent_rows)
        .withColumn(
            "slot",
            (F.row_number().over(
                Window.partitionBy("url").orderBy("slot", F.col("sent").desc())
            ) - 1).cast("long"),
        )
        .drop("sent")
    )
    return align_editions(toks, ed_b, exceptions=exceptions)


# Shared oracle CTE prefix reconstructing the ground-truth alignment.
_ALIGN_EXACT_CTES = f"""
toks AS (
  SELECT doc_id::VARCHAR AS url, unnest(t) AS word,
         generate_subscripts(t, 1) - 1 AS s
  FROM (SELECT doc_id, {_ORC_TOKS} AS t FROM documents WHERE doc_id < 100)
),
base AS (
  SELECT url, s, word,
         CASE WHEN s % 23 = 5 AND length(word) >= 4
              THEN word || 'x' ELSE word END AS wb,
         CASE WHEN s >= 3 THEN (s - 3) // 17 + 1 ELSE 0 END AS ins
  FROM toks
),
token_rows AS (
  SELECT url, (s + ins)::BIGINT AS slot_b, wb AS word_b,
         s::BIGINT AS slot_a, word AS word_a,
         (CASE WHEN wb <> word THEN 1 ELSE 0 END)::INT AS distance,
         (CASE WHEN wb <> word
               THEN round(round(1.0 - 1.0 / (length(word) + 1), 6) * 1000000)
               ELSE 1000000 END)::BIGINT AS ratio_e6,
         (s // 10)::INT AS line_a
  FROM base
),
sent_rows AS (
  SELECT url, (s + ins - 1)::BIGINT AS slot_b,
         '{_ALIGN_SENTINEL}' AS word_b,
         NULL::BIGINT AS slot_a, NULL::VARCHAR AS word_a,
         NULL::INT AS distance, NULL::BIGINT AS ratio_e6, NULL::INT AS line_a
  FROM base WHERE s % 17 = 3
),
m AS (SELECT * FROM token_rows UNION ALL SELECT * FROM sent_rows)
"""


# The exception on docs 0-4 forces the (slot_a=3, slot_b=4) pair that
# the ladder matches anyway (s=3 is 0-distance: 3%23 != 5), so the only
# delta vs the ground truth is the MANUAL_DISTANCE marker on that pair;
# on docs with < 4 tokens neither slot exists and the exception is
# inert on BOTH sides (the oracle's CASE then matches no row).
ORACLE_ALIGN_EDITIONS = f"""
WITH {_ALIGN_EXACT_CTES}
SELECT url, slot_a, word_a,
       (CASE WHEN url IN ('0', '1', '2', '3', '4') AND slot_a = 3
             THEN -1 ELSE distance END)::INT AS distance,
       ratio_e6, word_b, slot_b
FROM m
"""


def q_align_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/K9 merged sink (convert.py:352-437 analog): alignment rows
    joined into one merged word table ordered by the B edition, with the
    A-side location forward-filled onto B-only rows
    (last(..., ignorenulls) — the carry-forward at convert.py:398-422).
    Full oracle: the exact scenario makes the aligner output closed-form.
    """
    rows = _exact_align_rows(spark, sf_dir)
    w = (
        Window.partitionBy("url")
        .orderBy("slot_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    line_a = F.floor(F.col("slot_a") / 10).cast("int")
    return (
        rows.withColumn("line_a_fill", F.last(line_a, ignorenulls=True).over(w))
        .select(
            "url",
            F.col("slot_b").cast("bigint").alias("slot_b"),
            "word_b",
            F.col("slot_a").cast("bigint").alias("slot_a"),
            "word_a",
            F.col("distance").cast("int").alias("distance"),
            F.round(F.col("ratio") * 1000000).cast("bigint").alias("ratio_e6"),
            F.col("line_a_fill").cast("int").alias("line_a_fill"),
        )
    )


ORACLE_ALIGN_MERGED = f"""
WITH {_ALIGN_EXACT_CTES}
SELECT url, slot_b, word_b, slot_a, word_a, distance, ratio_e6,
       (last_value(line_a IGNORE NULLS) OVER (
          PARTITION BY url ORDER BY slot_b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::INT AS line_a_fill
FROM m
"""


def q_align_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 agreement histogram (align.py:851-1045 analog): row counts and
    ratio mass per alignment distance (NULL distance = unmatched
    catch-up rows). Full oracle via the exact scenario."""
    rows = _exact_align_rows(spark, sf_dir)
    return rows.groupBy(F.col("distance").cast("int").alias("distance")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("ratio") * 1000000)).cast("bigint").alias("sum_ratio_e6"),
    )


ORACLE_ALIGN_QUALITY = f"""
WITH {_ALIGN_EXACT_CTES}
SELECT distance, count(*)::BIGINT AS n_rows,
       sum(ratio_e6)::BIGINT AS sum_ratio_e6
FROM m GROUP BY distance
"""


def q_align_stretches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 bad-stretch analysis: per url, the gaps-and-islands stats of
    unmatched B-only rows (count, number of consecutive runs, longest
    run — align.py's unmatched-stretch reporting)."""
    rows = _exact_align_rows(spark, sf_dir)
    b_only = rows.where(F.col("slot_a").isNull()).select("url", "slot_b")
    grp = F.col("slot_b") - F.row_number().over(
        Window.partitionBy("url").orderBy("slot_b")
    )
    islands = (
        b_only.withColumn("g", grp)
        .groupBy("url", "g")
        .agg(F.count("*").alias("len"))
    )
    return islands.groupBy("url").agg(
        F.sum("len").cast("bigint").alias("n_unmatched"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.max("len").cast("int").alias("max_island"),
    )


ORACLE_ALIGN_STRETCHES = f"""
WITH {_ALIGN_EXACT_CTES},
isl AS (
  SELECT url, slot_b,
         slot_b - row_number() OVER (PARTITION BY url ORDER BY slot_b) AS g
  FROM m WHERE slot_a IS NULL
),
per AS (SELECT url, g, count(*) AS len FROM isl GROUP BY url, g)
SELECT url, sum(len)::BIGINT AS n_unmatched, count(*)::BIGINT AS n_islands,
       max(len)::INT AS max_island
FROM per GROUP BY url
"""


# ---------------------------------------------------------------------------
# Alignment prefilter


# PassJoin segmenting for the 12-char prefix / distance-4 edit join:
# (chunk_id, 1-based start, length). 5 = maxD + 1 segments, so any pair
# within distance 4 has at least one untouched segment (pigeonhole).
_LEV_PREFIX_LEN = 12
_LEV_MAX_D = 4
_LEV_CHUNKS = ((0, 1, 3), (1, 4, 3), (2, 7, 2), (3, 9, 2), (4, 11, 2))


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment prefilter (J1 relational half): close doc prefixes by
    edit distance <= 4, as a PassJoin-style blocked similarity join.

    lev(a, b) <= d implies: partition a into d+1 segments and at least
    one segment survives all edits, appearing verbatim in b at a start
    position shifted by at most d (Li et al., PassJoin, VLDB'12). So
    the join key is (lang, chunk_id, segment chars) — every index
    segment against every shifted probe substring — which is COMPLETE
    (the all-pairs DuckDB oracle is unchanged and still hash-matches)
    while the fan-in per key is the character-level block, not the
    whole language (the round-1 plan was quadratic within each of ~5
    languages). Prefixes shorter than 12 chars take a broadcast
    all-pairs lane (rare degenerate docs). Candidates are verified with
    the exact JVM levenshtein.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring(F.trim("text"), 1, _LEV_PREFIX_LEN).alias("prefix")
    )
    return levenshtein_blocked_pairs(docs)


def levenshtein_blocked_pairs(docs: DataFrame) -> DataFrame:
    """PassJoin-blocked edit-distance self-join over (doc_id, lang,
    prefix) rows; see q_levenshtein_pairs for the completeness argument."""
    docs = docs.localCheckpoint()  # reused by index, probe, short lane + 2 verify sides

    full = docs.where(F.length("prefix") == _LEV_PREFIX_LEN)
    segs = F.array(*[
        F.struct(F.lit(c).alias("chunk"), F.substring("prefix", s, ln).alias("seg"))
        for c, s, ln in _LEV_CHUNKS
    ])
    idx = full.select("doc_id", "lang", F.explode(segs).alias("x")).select(
        "doc_id", "lang", F.col("x.chunk").alias("chunk"), F.col("x.seg").alias("seg")
    )
    probes = F.array_distinct(F.array(*[
        F.struct(F.lit(c).alias("chunk"), F.substring("prefix", p, ln).alias("seg"))
        for c, s, ln in _LEV_CHUNKS
        for p in range(max(1, s - _LEV_MAX_D),
                       min(s + _LEV_MAX_D, _LEV_PREFIX_LEN - ln + 1) + 1)
    ]))
    prb = full.select("doc_id", "lang", F.explode(probes).alias("x")).select(
        "doc_id", "lang", F.col("x.chunk").alias("chunk"), F.col("x.seg").alias("seg")
    )
    cand = (
        idx.alias("i").join(
            prb.alias("p"),
            (F.col("i.lang") == F.col("p.lang"))
            & (F.col("i.chunk") == F.col("p.chunk"))
            & (F.col("i.seg") == F.col("p.seg"))
            & (F.col("i.doc_id") != F.col("p.doc_id")),
        )
        .select(
            F.least("i.doc_id", "p.doc_id").alias("doc_a"),
            F.greatest("i.doc_id", "p.doc_id").alias("doc_b"),
        )
    )
    # degenerate short prefixes: all-pairs within lang, short side broadcast
    short = docs.where(F.length("prefix") < _LEV_PREFIX_LEN)
    short_cand = (
        F.broadcast(short.alias("s")).join(
            docs.alias("t"),
            (F.col("s.lang") == F.col("t.lang"))
            & (F.col("s.doc_id") != F.col("t.doc_id")),
        )
        .select(
            F.least("s.doc_id", "t.doc_id").alias("doc_a"),
            F.greatest("s.doc_id", "t.doc_id").alias("doc_b"),
        )
    )
    pairs = cand.unionByName(short_cand).dropDuplicates(["doc_a", "doc_b"])
    va = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang"),
                     F.col("prefix").alias("pa"))
    vb = docs.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        pairs.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("dist", F.levenshtein("pa", "pb").cast("int"))
        .where(F.col("dist") <= _LEV_MAX_D)
        .select("doc_a", "doc_b", "lang", "dist")
    )


ORACLE_LEVENSHTEIN_PAIRS = """
WITH p AS (SELECT doc_id, lang, substr(trim(text), 1, 12) AS prefix FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       levenshtein(a.prefix, b.prefix)::INT AS dist
FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 4
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: keep one representative per
    exact-dup group, with quality >= 0.45 (on the e6 integer, so the
    threshold compare never touches float boundaries).

    Composition of the quality-scoring and exact-dedup operators — the
    canonical corpus-filter a large-scale pipeline runs before training.
    Two shuffles on doc_id (quality agg-free projection + dedup groupBy);
    the final join keys both sides on doc_id.
    """
    docs = load(spark, sf_dir, "documents")
    qs = textstats.quality_score(docs).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(F.col("quality") * 1000000).cast("bigint").alias("quality_e6"),
    )
    reps = dedup.exact_duplicates(docs).select("doc_id", "rep_id", "group_size")
    return (
        docs.select("doc_id", "lang")
        .join(qs, "doc_id")
        .join(reps, "doc_id")
        .where((F.col("doc_id") == F.col("rep_id")) & (F.col("quality_e6") >= 450000))
        .select(
            "doc_id", "lang", "n_tokens", "quality_e6",
            F.col("group_size").cast("bigint").alias("group_size"),
        )
    )


ORACLE_CURATE_CORPUS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ORC_TOKS}) AS tok FROM documents
),
agg AS (
  SELECT doc_id,
         count(*) AS n,
         count(DISTINCT tok) AS n_uniq,
         count(*) FILTER (WHERE tok IN ({_EN_STOPS_SQL})) AS stops
  FROM toks GROUP BY doc_id
),
q AS (
  SELECT doc_id, n::INT AS n_tokens,
         round(round(0.4 * least(1.0, n / 100.0)
               + 0.3 * (n_uniq / n)
               + 0.3 * least(1.0, 5.0 * (stops / n)), 6) * 1000000)::BIGINT AS quality_e6
  FROM agg
),
h AS (SELECT doc_id, md5({_ORC_NORM}) AS content_hash FROM documents),
g AS (SELECT content_hash, min(doc_id) AS rep_id, count(*)::BIGINT AS group_size
      FROM h GROUP BY content_hash)
SELECT d.doc_id, d.lang, q.n_tokens, q.quality_e6, g.group_size
FROM documents d
JOIN q USING (doc_id)
JOIN h USING (doc_id)
JOIN g USING (content_hash)
WHERE d.doc_id = g.rep_id AND q.quality_e6 >= 450000
"""


# ---------------------------------------------------------------------------
# Curate tiers: the operators curate_job runs, each over `documents`.
# Where an operator needs urls, html or snapshot rows they are built
# in-plan from doc_id, and the oracle derives the same values in SQL.


def hosted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a url spreading them over seven hosts h0.com..h6.com."""
    return load(spark, sf_dir, "documents").withColumn(
        "url", F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                        F.lit(".com/p/"), "doc_id")
    )


def linked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, html) pages on hosted_docs' urls; each page links to host
    h<doc_id % 5>.com with anchor text a<doc_id % 11>."""
    return hosted_docs(spark, sf_dir).select(
        "url",
        F.encode(
            F.concat(F.lit('<a href="http://h'), F.pmod("doc_id", F.lit(5)),
                     F.lit('.com/x">a'), F.pmod("doc_id", F.lit(11)),
                     F.lit("</a><p>"), F.col("text"), F.lit("</p>")),
            "UTF-8",
        ).alias("html"),
    )


def snapshot_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, content_hash, crawl_date) snapshot history: 350 urls over
    seven hosts, three content versions, nine crawl dates."""
    return load(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                 F.lit(".com/p/"), F.pmod("doc_id", F.lit(50))).alias("url"),
        F.md5(F.concat(F.lit("c"), F.pmod("doc_id", F.lit(3)))).alias("content_hash"),
        F.concat(F.lit("2026-01-0"), (F.pmod("doc_id", F.lit(9)) + 1)).alias("crawl_date"),
    )


# SQL twin of hosted_docs' host (doc ids are non-negative, so DuckDB's
# % agrees with pmod)
_ORC_HOST = "'h' || (doc_id % 7) || '.com'"


def q_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules keep/drop verdict; the reasons array is joined with
    '|' so the driver hashes one string column."""
    gate = curate.curation_gate(load(spark, sf_dir, "documents"))
    return gate.select(
        "doc_id", "n_tokens", "keep",
        F.concat_ws("|", "reasons").alias("reasons_str"),
    )


ORACLE_CURATION_GATE = f"""
WITH toks AS (SELECT doc_id, {_ORC_TOKS_SAFE} AS t FROM documents),
sig AS (
  SELECT doc_id, len(t) AS n,
         CASE WHEN len(t) > 0 THEN round(list_sum(list_transform(t, x -> length(x))) / len(t) * 1000000) ELSE 0 END::BIGINT AS mean_e6,
         CASE WHEN len(t) > 0 THEN round(len(list_filter(t, x -> x IN ({_EN_STOPS_SQL}))) / len(t) * 1000000) ELSE 0 END::BIGINT AS stop_e6,
         COALESCE((SELECT round(max(c) / (len(any_value(k.t)) - 1) * 1000000)::BIGINT FROM (
             SELECT count(*) AS c FROM (
               SELECT k.t[i] || ' ' || k.t[i + 1] AS g
               FROM unnest(generate_series(1, len(k.t) - 1)) AS u(i)
             ) GROUP BY g
           )), 0) AS bigram_e6
  FROM toks k GROUP BY doc_id, t
),
flags AS (
  SELECT doc_id, n,
         list_sort(list_filter([
           CASE WHEN n < 5 THEN 'too_few_tokens' END,
           CASE WHEN n > 100000 THEN 'too_many_tokens' END,
           CASE WHEN mean_e6 < 1500000 THEN 'mean_token_too_short' END,
           CASE WHEN mean_e6 > 12000000 THEN 'mean_token_too_long' END,
           CASE WHEN stop_e6 < 20000 THEN 'too_few_stopwords' END,
           CASE WHEN bigram_e6 > 200000 THEN 'repetitive_bigrams' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM sig
)
SELECT doc_id, n::INT AS n_tokens, len(reasons) = 0 AS keep,
       COALESCE(array_to_string(reasons, '|'), '') AS reasons_str
FROM flags
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(load(spark, sf_dir, "documents"))


ORACLE_REPETITION_STATS = f"""
WITH toks AS (SELECT doc_id, {_ORC_TOKS_SAFE} AS t FROM documents),
words AS (SELECT doc_id, unnest(t) AS w FROM toks),
bigrams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
),
wtop AS (
  SELECT doc_id, max(c) AS top FROM (
    SELECT doc_id, count(*) AS c FROM words GROUP BY doc_id, w
  ) GROUP BY doc_id
),
btop AS (
  SELECT doc_id, max(c) AS top FROM (
    SELECT doc_id, count(*) AS c FROM bigrams GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT k.doc_id,
       len(k.t)::INT AS n_tokens,
       COALESCE(round(wtop.top / len(k.t) * 1000000), 0)::BIGINT AS top_word_share_e6,
       COALESCE(round(btop.top / (len(k.t) - 1) * 1000000), 0)::BIGINT AS top_bigram_share_e6
FROM toks k
LEFT JOIN wtop ON k.doc_id = wtop.doc_id
LEFT JOIN btop ON k.doc_id = btop.doc_id
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-line removal (§2.8 ``unionByName``: blank lines bypass
    the dup join and rejoin the flagged non-blank ones)."""
    return curate.dedup_lines(load(spark, sf_dir, "documents"))


ORACLE_DEDUP_LINES = """
WITH lines AS (
  SELECT doc_id, len(l)::INT AS n_lines, i AS pos, l[i] AS line, trim(l[i]) AS lt
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
       unnest(generate_series(1, len(l))) AS u(i)
),
dups AS (
  SELECT md5(lt) AS h FROM lines WHERE length(lt) > 0
  GROUP BY md5(lt) HAVING count(DISTINCT doc_id) >= 2
),
marked AS (
  SELECT l.*,
         (length(lt) > 0 AND md5(lt) IN (SELECT h FROM dups)) AS dropped
  FROM lines l
)
SELECT doc_id, any_value(n_lines) AS n_lines,
       sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END)::INT AS n_kept,
       COALESCE(string_agg(CASE WHEN NOT dropped THEN line END, chr(10) ORDER BY pos), '') AS text_dedup
FROM marked GROUP BY doc_id
"""


_PASSAGE_N = 8


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate.dedup_passages(load(spark, sf_dir, "documents"), n=_PASSAGE_N)


# owner = min(struct(doc_id, pos)) expressed as min(doc_id*C + pos),
# equivalent while pos < C
ORACLE_DEDUP_PASSAGES = f"""
WITH toks AS (SELECT doc_id, {_ORC_TOKS_SAFE} AS t FROM documents),
wins AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+{_PASSAGE_N - 1}], ' ')) AS h
  FROM toks, unnest(generate_series(1, len(t) - {_PASSAGE_N - 1})) AS u(i)
  WHERE len(t) >= {_PASSAGE_N}
),
dups AS (
  SELECT h, min(doc_id * 10000000 + pos) AS owner_key
  FROM wins GROUP BY h HAVING count(*) >= 2
),
hits AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dups d USING (h)
  WHERE w.doc_id * 10000000 + w.pos <> d.owner_key
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS cpos
  FROM hits, unnest(generate_series(0, {_PASSAGE_N - 1})) AS u(j)
),
tokpos AS (
  SELECT doc_id, i - 1 AS p, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
  WHERE len(t) >= 1
),
cov_per_doc AS (SELECT doc_id, count(*)::INT AS n_removed FROM covered GROUP BY doc_id),
text_per_doc AS (
  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS text_dedup
  FROM tokpos tp
  LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.cpos
  WHERE c.cpos IS NULL
  GROUP BY tp.doc_id
)
SELECT t.doc_id,
       len(t.t)::INT AS n_tokens,
       COALESCE(c.n_removed, 0)::INT AS n_removed,
       CASE WHEN c.n_removed IS NULL THEN COALESCE(d.text, '')
            ELSE COALESCE(x.text_dedup, '') END AS text_dedup
FROM toks t
JOIN documents d USING (doc_id)
LEFT JOIN cov_per_doc c USING (doc_id)
LEFT JOIN text_per_doc x USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set 5-gram decontamination (J4 broadcast hash join: the eval
    grams are broadcast); the eval set is documents 0-4, so every
    contaminated document shares a 5-gram with one of them."""
    docs = load(spark, sf_dir, "documents")
    evals = docs.where(F.col("doc_id") < 5).select(F.col("doc_id").alias("eval_id"), "text")
    return curate.decontaminate(docs, evals, n=5)


ORACLE_DECONTAMINATE = """
WITH dt AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
  WHERE length(trim(text)) > 0
),
dg AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+4], ' ')) AS gh
  FROM dt, unnest(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5
),
dn AS (SELECT doc_id, count(*) AS n_ngrams FROM dg GROUP BY doc_id),
eg AS (SELECT DISTINCT gh FROM dg WHERE doc_id < 5)
SELECT dg.doc_id,
       any_value(dn.n_ngrams)::INT AS n_ngrams,
       count(*)::INT AS n_hit_ngrams,
       round(count(*) / any_value(dn.n_ngrams) * 1000000)::BIGINT AS hit_ratio_e6
FROM dg JOIN eg USING (gh) JOIN dn USING (doc_id)
GROUP BY dg.doc_id
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = curate.redact_pii(load(spark, sf_dir, "documents"))
    return red.select("doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted")


def _redact_pii_oracle_sql() -> str:
    # DuckDB string literals keep backslashes verbatim — patterns go in as-is
    em, ip, ph = (pat for _, pat, _ in curate.PII_PATTERNS)
    return f"""
WITH s0 AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
s1 AS (SELECT doc_id, len(regexp_extract_all(t, '{em}'))::INT AS n_email,
              regexp_replace(t, '{em}', '<EMAIL>', 'g') AS t FROM s0),
s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t, '{ip}'))::INT AS n_ipv4,
              regexp_replace(t, '{ip}', '<IP>', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
              len(regexp_extract_all(t, '{ph}'))::INT AS n_phone,
              regexp_replace(t, '{ph}', '<PHONE>', 'g') AS t FROM s2)
SELECT doc_id, n_email, n_ipv4, n_phone, t AS text_redacted FROM s3
"""


ORACLE_REDACT_PII = _redact_pii_oracle_sql()


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (A7/W3: a per-shard running token sum cut into
    24-token bins, then row_number inside each bin), on the portable
    shard key pmod(doc_id, 4)."""
    return curate.pack_sequences(
        load(spark, sf_dir, "documents"), target_tokens=24, shards=4,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(4)),
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, len({_ORC_TOKS_SAFE})::INT AS n_tokens, (doc_id % 4)::INT AS shard
  FROM documents
),
w AS (
  SELECT doc_id, n_tokens, shard,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM t
),
p AS (
  SELECT doc_id, n_tokens, shard,
         floor((cum - n_tokens) / 24)::INT AS seq_id, rn
  FROM w
)
SELECT doc_id, n_tokens, shard, seq_id,
       row_number() OVER (PARTITION BY shard, seq_id ORDER BY rn)::INT AS seq_pos
FROM p
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: per-language rows plus the total from one
    grouping-sets aggregation (ROLLUP), distinct hosts included."""
    return curate.corpus_report(hosted_docs(spark, sf_dir), url_col="url")


ORACLE_CORPUS_REPORT = f"""
WITH base AS (
  SELECT lang AS _lang,
         CASE WHEN text IS NULL OR length({_ORC_NORM}) = 0 THEN 1 ELSE 0 END AS _empty,
         len({_ORC_TOKS_SAFE}) AS _toks,
         length({_ORC_NORM}) AS _chars,
         octet_length(encode(text)) AS _bytes,
         {_ORC_HOST} AS _host
  FROM documents
),
g AS (
  SELECT _lang AS scope,
         GROUPING(_lang) = 1 AS is_total,
         count(*) AS n_docs,
         sum(_empty)::BIGINT AS n_empty,
         count(DISTINCT _host)::BIGINT AS n_hosts,
         sum(_toks)::BIGINT AS tokens_total,
         sum(_chars)::BIGINT AS chars_total,
         sum(_bytes)::BIGINT AS bytes_total
  FROM base GROUP BY ROLLUP(_lang)
)
SELECT *, round(tokens_total * 10000 / n_docs)::BIGINT AS avg_tokens_e4 FROM g
"""


def q_apply_host_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host policy: broadcast anti-join of the blocklist (h3.com) and
    the md5-threshold cap of ~10 documents per host."""
    block = spark.createDataFrame([("h3.com",)], "domain string")
    kept = curate.apply_host_policy(
        hosted_docs(spark, sf_dir), block_domains=block, cap_per_host=10
    )
    return kept.select("doc_id", "url")


ORACLE_APPLY_HOST_POLICY = f"""
WITH d AS (
  SELECT doc_id, 'http://' || {_ORC_HOST} || '/p/' || doc_id AS url, {_ORC_HOST} AS host
  FROM documents WHERE {_ORC_HOST} <> 'h3.com'
),
c AS (SELECT host AS h, count(*) AS n FROM d GROUP BY host HAVING count(*) > 10),
t AS (SELECT h, printf('%05x', (10 * 1048576) // n) AS thr FROM c)
SELECT d.doc_id, d.url FROM d LEFT JOIN t ON d.host = t.h
WHERE t.thr IS NULL OR substring(md5(d.host || ':' || d.doc_id), 1, 5) < t.thr
"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curate.host_stats(hosted_docs(spark, sf_dir))


ORACLE_HOST_STATS = f"""
WITH d AS (
  SELECT {_ORC_HOST} AS host, len({_ORC_TOKS_SAFE}) AS n_tok, md5(text) AS th
  FROM documents
)
SELECT host, count(*)::INT AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       round(avg(n_tok) * 10000)::BIGINT AS mean_tokens_e4,
       count(DISTINCT th)::INT AS n_distinct_texts,
       round((1 - count(DISTINCT th) / count(*)) * 1000000)::BIGINT AS dup_ratio_e6
FROM d GROUP BY host
"""


def q_host_change_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host churn rollup over url_change_stats (W2 change detection: a
    per-url window compares each content hash with the previous one)."""
    return frontier.host_change_stats(
        frontier.url_change_stats(snapshot_docs(spark, sf_dir))
    )


ORACLE_HOST_CHANGE_STATS = f"""
WITH snaps AS (
  SELECT 'http://' || {_ORC_HOST} || '/p/' || (doc_id % 50) AS url,
         {_ORC_HOST} AS host,
         md5('c' || (doc_id % 3)) AS content_hash,
         '2026-01-0' || (doc_id % 9 + 1) AS crawl_date
  FROM documents
),
o AS (
  SELECT url, host, content_hash,
         lag(content_hash) OVER (PARTITION BY url ORDER BY crawl_date, content_hash) AS prev
  FROM snaps
),
u AS (
  SELECT any_value(host) AS host,
         CASE WHEN count(*) > 1
              THEN round(sum(CASE WHEN prev IS NOT NULL AND content_hash != prev
                                  THEN 1 ELSE 0 END) / (count(*) - 1) * 1000000)
              ELSE 0 END::BIGINT AS cr
  FROM o GROUP BY url
)
SELECT host, count(*)::INT AS n_urls,
       round(avg(cr))::BIGINT AS mean_change_ratio_e6,
       sum(CASE WHEN cr > 500000 THEN 1 ELSE 0 END)::INT AS n_hot_urls,
       round(sum(CASE WHEN cr > 500000 THEN 1 ELSE 0 END) / count(*) * 1000000)::BIGINT AS hot_ratio_e6
FROM u GROUP BY host
"""


def q_host_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 inbound cross-host anchor texts per host (O4 grouped top-k,
    (n_refs DESC, anchor ASC) tie-break)."""
    return webgraph.host_anchor_texts(linked_docs(spark, sf_dir), k=3)


ORACLE_HOST_ANCHOR_TEXTS = f"""
WITH p AS (
  SELECT {_ORC_HOST} AS src_host, 'h' || (doc_id % 5) || '.com' AS host,
         'a' || (doc_id % 11) AS anchor
  FROM documents
),
c AS (
  SELECT host, anchor, count(*)::INT AS n_refs
  FROM p WHERE src_host <> host GROUP BY host, anchor
)
SELECT host, anchor, n_refs,
       sum(n_refs) OVER (PARTITION BY host)::INT AS host_refs,
       row_number() OVER (PARTITION BY host ORDER BY n_refs DESC, anchor ASC)::INT AS rnk
FROM c QUALIFY rnk <= 3
"""


WEB_QUERIES: dict = {
    "align_editions": q_align_editions,
    "align_merged": q_align_merged,
    "align_quality": q_align_quality,
    "align_stretches": q_align_stretches,
    "extract_words": q_extract_words,
    "extract_text": q_extract_text,
    "extract_removals": q_extract_removals,
    "extract_text_hard": q_extract_text_hard,
    "extract_words_hard": q_extract_words_hard,
    "extract_removals_hard": q_extract_removals_hard,
    "token_stats": q_token_stats,
    "token_stats_bpe": q_token_stats_bpe,
    "quality_score": q_quality_score,
    "quality_xent": q_quality_xent,
    "lang_guess": q_lang_guess,
    "doc_fingerprints": q_doc_fingerprints,
    "doc_winnow": q_doc_winnow,
    "top_words": q_top_words,
    "word_freq_by_lang": q_word_freq_by_lang,
    "lang_distribution": q_lang_distribution,
    "normalize_rewrites": q_normalize_rewrites,
    "normalize_arabic": q_normalize_arabic,
    "translit_schemes": q_translit_schemes,
    "toc_distill": q_toc_distill,
    "dedup_exact": q_dedup_exact,
    "curate_corpus": q_curate_corpus,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "knn_bruteforce": q_knn_bruteforce,
    "knn_ivf": q_knn_ivf,
    "knn_rp_lsh": q_knn_rp_lsh,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
    "levenshtein_pairs": q_levenshtein_pairs,
    "curation_gate": q_curation_gate,
    "repetition_stats": q_repetition_stats,
    "dedup_lines": q_dedup_lines,
    "dedup_passages": q_dedup_passages,
    "decontaminate": q_decontaminate,
    "redact_pii": q_redact_pii,
    "pack_sequences": q_pack_sequences,
    "corpus_report": q_corpus_report,
    "apply_host_policy": q_apply_host_policy,
    "host_stats": q_host_stats,
    "host_change_stats": q_host_change_stats,
    "host_anchor_texts": q_host_anchor_texts,
}

WEB_ORACLES: dict[str, str] = {
    "extract_words": ORACLE_EXTRACT_WORDS,
    "extract_text": ORACLE_EXTRACT_TEXT,
    "extract_removals": ORACLE_EXTRACT_REMOVALS,
    "extract_text_hard": ORACLE_EXTRACT_TEXT_HARD,
    "extract_words_hard": ORACLE_EXTRACT_WORDS_HARD,
    "extract_removals_hard": ORACLE_EXTRACT_REMOVALS_HARD,
    "token_stats": ORACLE_TOKEN_STATS,
    "token_stats_bpe": ORACLE_TOKEN_STATS_BPE,
    "quality_score": ORACLE_QUALITY_SCORE,
    "quality_xent": ORACLE_QUALITY_XENT,
    "lang_guess": ORACLE_LANG_GUESS,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
    "doc_winnow": ORACLE_DOC_WINNOW,
    "top_words": ORACLE_TOP_WORDS,
    "word_freq_by_lang": ORACLE_WORD_FREQ_BY_LANG,
    "lang_distribution": ORACLE_LANG_DISTRIBUTION,
    "normalize_rewrites": ORACLE_NORMALIZE_REWRITES,
    "normalize_arabic": ORACLE_NORMALIZE_ARABIC,
    "translit_schemes": ORACLE_TRANSLIT_SCHEMES,
    "toc_distill": ORACLE_TOC_DISTILL,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "curate_corpus": ORACLE_CURATE_CORPUS,
    "dedup_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "knn_ivf": ORACLE_KNN_IVF,
    "knn_rp_lsh": ORACLE_KNN_RP_LSH,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "knn_bruteforce": ORACLE_KNN_BRUTEFORCE,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "multimodal_resize": ORACLE_MULTIMODAL_RESIZE,
    "multimodal_frames": ORACLE_MULTIMODAL_FRAMES,
    "align_merged": ORACLE_ALIGN_MERGED,
    "align_quality": ORACLE_ALIGN_QUALITY,
    "align_stretches": ORACLE_ALIGN_STRETCHES,
    "align_editions": ORACLE_ALIGN_EDITIONS,
    "levenshtein_pairs": ORACLE_LEVENSHTEIN_PAIRS,
    "curation_gate": ORACLE_CURATION_GATE,
    "repetition_stats": ORACLE_REPETITION_STATS,
    "dedup_lines": ORACLE_DEDUP_LINES,
    "dedup_passages": ORACLE_DEDUP_PASSAGES,
    "decontaminate": ORACLE_DECONTAMINATE,
    "redact_pii": ORACLE_REDACT_PII,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "corpus_report": ORACLE_CORPUS_REPORT,
    "apply_host_policy": ORACLE_APPLY_HOST_POLICY,
    "host_stats": ORACLE_HOST_STATS,
    "host_change_stats": ORACLE_HOST_CHANGE_STATS,
    "host_anchor_texts": ORACLE_HOST_ANCHOR_TEXTS,
}
