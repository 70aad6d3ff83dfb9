"""Stratified-sampling + perplexity-bucketing tests: hand-pinned
behavior + DuckDB oracle hash cross-checks (these operators live outside
the driver's 50-query registry budget, so the oracle runs in-test)."""

from __future__ import annotations

import duckdb

from fusus_spark.operators.curate import stratified_sample
from fusus_spark.operators.textstats import xent_buckets
from tools.parity import value_hash

SPACE = 16 ** 5


def _hex5(ppm: int) -> str:
    v = max(0, round(ppm * SPACE / 1_000_000))
    return "g" if v >= SPACE else format(v, "05x")


# --------------------------------------------------------- stratified_sample

FRACTIONS = {"en": 100_000, "de": 1_000_000, "fr": 0}


def _lang_corpus() -> list[tuple[int, str]]:
    rows = []
    did = 0
    for lang, n in (("en", 1000), ("de", 100), ("fr", 50), ("xx", 40)):
        for _ in range(n):
            rows.append((did, lang))
            did += 1
    return rows


def test_stratified_sample_hand_cases(spark):
    docs = spark.createDataFrame(_lang_corpus(), "doc_id long, lang string")
    out = stratified_sample(docs, FRACTIONS, default_ppm=500_000)
    by_lang = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    # ppm=1e6 keeps the whole stratum (the 'g' sentinel, not '100000')
    assert by_lang["de"] == 100
    # ppm=0 keeps nothing
    assert "fr" not in by_lang
    # 10% of en: deterministic, binomially near 100
    assert 60 <= by_lang["en"] <= 140
    # stratum absent from the map falls back to default_ppm (50%)
    assert 12 <= by_lang["xx"] <= 28
    # membership is a pure function of (stratum, doc_id): re-run identical
    again = stratified_sample(docs, FRACTIONS, default_ppm=500_000)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_stratified_sample_matches_duckdb_oracle(spark):
    docs = spark.createDataFrame(_lang_corpus(), "doc_id long, lang string")
    sdf = stratified_sample(docs, FRACTIONS, default_ppm=500_000)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _lang_corpus())
    cases = " ".join(
        f"WHEN '{lang}' THEN '{_hex5(ppm)}'" for lang, ppm in FRACTIONS.items()
    )
    orc = con.sql(f"""
WITH k AS (
  SELECT doc_id, lang,
         substr(md5(lang || ':' || doc_id::VARCHAR), 1, 5) AS sample_key,
         CASE lang {cases} ELSE '{_hex5(500_000)}' END AS thr
  FROM documents
)
SELECT doc_id, lang, sample_key FROM k WHERE sample_key < thr
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


# -------------------------------------------------------------- xent_buckets


def _xent_corpus() -> list[tuple[int, str]]:
    """~200 docs with a smooth fluency gradient: mostly common-bigram
    prose, with per-doc varying amounts of rare-bigram junk mixed in."""
    rows = []
    for i in range(200):
        base = "the cat sat on the mat and then ran off to the barn " * 3
        junk = " ".join("zq xv qj zx"[j % 11] * 2 for j in range(i % 23))
        rows.append((i, (base + junk).strip()))
    rows.append((900, "x"))  # <2 chars after norm: no bigrams, excluded
    return rows


def test_xent_buckets_hand_cases(spark):
    docs = spark.createDataFrame(_xent_corpus(), "doc_id long, text string")
    out = xent_buckets(docs, n_buckets=3).collect()
    got = {r["doc_id"]: r for r in out}
    assert 900 not in got  # no-bigram doc absent, like ngram_xent
    assert len(got) == 200
    labels = {r["label"] for r in out}
    assert labels == {"head", "middle", "tail"}
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # sampled thresholds: populations approximately equal (not exact)
    for b in (1, 2, 3):
        assert 20 <= len(by_bucket[b]) <= 140, {k: len(v) for k, v in by_bucket.items()}
    # the bucketing is an exact rank cut: xent ranges never interleave
    assert max(r["xent_e6"] for r in by_bucket[1]) <= min(r["xent_e6"] for r in by_bucket[2])
    assert max(r["xent_e6"] for r in by_bucket[2]) <= min(r["xent_e6"] for r in by_bucket[3])
    # head is the fluent end (lowest cross-entropy)
    assert by_bucket[1][0]["label"] == "head" and by_bucket[3][0]["label"] == "tail"


def test_xent_buckets_matches_duckdb_oracle(spark):
    docs = spark.createDataFrame(_xent_corpus(), "doc_id long, text string")
    sdf = xent_buckets(docs, n_buckets=3)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _xent_corpus())
    # mirrors ORACLE_QUALITY_XENT's model, then the sampled-threshold cut
    orc = con.sql("""
WITH n AS (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents),
bg AS (
  SELECT doc_id, substr(t, u.i, 2) AS g
  FROM n, unnest(generate_series(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 2
),
model AS (
  SELECT g, round(round(ln(count(*) / (SELECT count(*) FROM bg)::DOUBLE), 6)
                  * 1000000)::BIGINT AS logp_e6
  FROM bg GROUP BY g
),
scores AS (
  SELECT doc_id, round(-sum(logp_e6) / count(*))::BIGINT AS xent_e6
  FROM bg JOIN model USING (g) GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, xent_e6,
         row_number() OVER (ORDER BY xent_e6, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scores WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'
),
bounds AS (
  SELECT xent_e6 AS s, doc_id AS d FROM ranked
  WHERE rn = ceil(1 * n / 3.0) OR rn = ceil(2 * n / 3.0)
)
SELECT doc_id, xent_e6,
       (1 + (SELECT count(*) FROM bounds b
             WHERE scores.xent_e6 > b.s
                OR (scores.xent_e6 = b.s AND scores.doc_id > b.d)))::INT AS bucket,
       CASE (1 + (SELECT count(*) FROM bounds b
                  WHERE scores.xent_e6 > b.s
                     OR (scores.xent_e6 = b.s AND scores.doc_id > b.d)))
            WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS label
FROM scores
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


# ------------------------------------------------------------ pack_sequences


def _pack_corpus() -> list[tuple[int, str]]:
    rows = []
    for i in range(120):
        # token counts cycle 3..17 — plenty of bins at target 24
        rows.append((i, " ".join(f"t{j}" for j in range(3 + (i * 7) % 15))))
    rows.append((200, " ".join(f"big{j}" for j in range(40))))  # oversize (> 24)
    rows.append((201, ""))  # zero-token doc still packs
    return rows


def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    from fusus_spark.operators.curate import pack_sequences

    docs = spark.createDataFrame(_pack_corpus(), "doc_id long, text string")
    out = pack_sequences(docs, target_tokens=24, shards=4).cache()
    rows = out.collect()
    # every doc exactly once
    assert sorted(r["doc_id"] for r in rows) == sorted(d for d, _ in _pack_corpus())
    # bin totals bounded by target + (largest member - 1)
    bins = (
        out.groupBy("shard", "seq_id")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"),
             F.count("*").alias("cnt"))
        .collect()
    )
    assert all(b["tot"] <= 24 + b["mx"] - 1 or b["cnt"] == 1 for b in bins)
    # an oversize doc sits alone in its bin
    big = next(r for r in rows if r["doc_id"] == 200)
    assert [b["cnt"] for b in bins if (b["shard"], b["seq_id"]) == (big["shard"], big["seq_id"])] == [1]
    # seq_pos is 1..cnt within each bin
    pos = {}
    for r in rows:
        pos.setdefault((r["shard"], r["seq_id"]), []).append(r["seq_pos"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in pos.values())
    # deterministic: a second run packs identically
    again = pack_sequences(docs, target_tokens=24, shards=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pack_sequences_matches_duckdb_oracle(registry_parity):
    # the registry query packs at target 24 on the portable shard key
    # pmod(doc_id, 4), the parameters this corpus is built for
    registry_parity("pack_sequences", _pack_corpus())


# ------------------------------------------------------------ split_oversize


def _split_corpus() -> list[tuple[int, str]]:
    rows = [
        (0, " ".join(f"w{j}" for j in range(10))),   # 3 full chunks at max4/ov1
        (1, " ".join(f"w{j}" for j in range(9))),    # short last chunk
        (2, "small doc here"),                        # passthrough
        (3, "keeps\nnewlines  and  runs"),            # passthrough, verbatim
        (4, ""),                                      # empty -> 1 empty chunk
        (5, " ".join(f"w{j}" for j in range(4))),     # exactly max: passthrough
    ]
    for i in range(6, 30):
        rows.append((i, " ".join(f"x{j}" for j in range(i % 13))))
    return rows


def test_split_oversize_hand_cases(spark):
    from fusus_spark.operators.curate import split_oversize

    docs = spark.createDataFrame(_split_corpus(), "doc_id long, text string")
    out = split_oversize(docs, max_tokens=4, overlap=1)
    rows = sorted(
        ([tuple(r) for r in out.collect()]), key=lambda r: (r[0], r[1])
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    # doc 0: 10 tokens -> chunks [0,4) [3,7) [6,10)
    assert [(r[3], r[4]) for r in by_doc[0]] == [(0, 4), (3, 7), (6, 10)]
    assert by_doc[0][1][5] == "w3 w4 w5 w6"
    # doc 1: 9 tokens -> last chunk short [6,9)
    assert [(r[3], r[4]) for r in by_doc[1]] == [(0, 4), (3, 7), (6, 9)]
    # chunk windows tile the doc: every token index covered
    for d, n_tok in ((0, 10), (1, 9)):
        covered = set()
        for r in by_doc[d]:
            covered |= set(range(r[3], r[4]))
        assert covered == set(range(n_tok))
    # passthrough docs: 1 chunk, byte-verbatim text
    assert by_doc[3] == [(3, 0, 1, 0, 4, "keeps\nnewlines  and  runs")]
    assert by_doc[4] == [(4, 0, 1, 0, 0, "")]
    assert by_doc[5][0][1:3] == (0, 1)  # exactly max -> no split


def test_split_oversize_matches_duckdb_oracle(spark):
    from fusus_spark.operators.curate import split_oversize

    docs = spark.createDataFrame(_split_corpus(), "doc_id long, text string")
    sdf = split_oversize(docs, max_tokens=4, overlap=1)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _split_corpus())
    orc = con.sql("""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
              THEN []::VARCHAR[]
              ELSE string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')
         END AS t
  FROM documents
),
b AS (
  SELECT doc_id, text, t, len(t) AS n,
         CASE WHEN len(t) > 4 THEN ((len(t) - 4 + 2) // 3) + 1 ELSE 1 END AS n_chunks
  FROM toks
),
c AS (
  SELECT doc_id, text, t, n, n_chunks, i AS chunk_id
  FROM b, unnest(generate_series(0, n_chunks - 1)) AS u(i)
)
SELECT doc_id, chunk_id::INT AS chunk_id, n_chunks::INT AS n_chunks,
       (chunk_id * 3)::INT AS tok_start,
       least(chunk_id * 3 + 4, n)::INT AS tok_end,
       CASE WHEN n_chunks = 1 THEN COALESCE(text, '')
            ELSE array_to_string(t[chunk_id*3 + 1 : least(chunk_id*3 + 4, n)], ' ')
       END AS text_chunk
FROM c
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


# -------------------------------------------------------------- assign_split


def test_assign_split_properties(spark):
    import pytest

    from fusus_spark.operators.curate import assign_split

    docs = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    out = assign_split(docs, {"train": 800_000, "val": 100_000, "test": 100_000})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 5000          # exhaustive, one label each
    assert 3800 < counts["train"] < 4200         # ~80% (binomial, ±~4 sd)
    assert 380 < counts["val"] < 620
    assert 380 < counts["test"] < 620
    # deterministic across runs, and a different salt reshuffles
    again = {r["doc_id"]: r["split"] for r in
             assign_split(docs, {"train": 800_000, "val": 100_000, "test": 100_000}).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again
    other = {r["doc_id"]: r["split"] for r in
             assign_split(docs, {"train": 800_000, "val": 100_000, "test": 100_000},
                          salt="fold2").collect()}
    assert first != other
    with pytest.raises(ValueError):
        assign_split(docs, {"train": 999_999})


def test_assign_split_matches_duckdb_oracle(spark):
    from fusus_spark.operators.curate import assign_split

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    sdf = assign_split(docs, {"train": 800_000, "val": 100_000, "test": 100_000})
    srows = [tuple(r) for r in sdf.collect()]
    space = 16 ** 5
    t1 = format(round(800_000 * space / 1_000_000), "05x")
    t2 = format(round(900_000 * space / 1_000_000), "05x")
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?)", [(i,) for i in range(2000)])
    orc = con.sql(f"""
SELECT doc_id,
       CASE WHEN substring(md5('split:' || doc_id), 1, 5) < '{t1}' THEN 'train'
            WHEN substring(md5('split:' || doc_id), 1, 5) < '{t2}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


def test_assign_split_hundred_percent_first_label(spark):
    """A cumulative threshold of 100% must catch EVERY key (the 'g'
    sentinel) — regression: format(16^5) gave a 6-char '100000' that
    sorted below most 5-char keys and dumped docs into a 0-ppm label."""
    from fusus_spark.operators.curate import assign_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = assign_split(docs, {"train": 1_000_000, "val": 0, "test": 0})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts == {"train": 200}


def test_split_oversize_null_text(spark):
    """NULL text is a 0-token doc: one chunk, [0,0) span, empty text —
    regression: least() skipped the null count and claimed [0, max)."""
    from fusus_spark.operators.curate import split_oversize

    docs = spark.createDataFrame([(1, None), (2, "a b")], "doc_id long, text string")
    rows = {r["doc_id"]: tuple(r) for r in split_oversize(docs, max_tokens=4, overlap=1).collect()}
    assert rows[1] == (1, 0, 1, 0, 0, "")
    assert rows[2] == (2, 0, 1, 0, 2, "a b")


def test_mixture_ppm_temperature_flattening(spark):
    """Temperature targets: alpha=1 is proportional (uniform ppm),
    alpha=0 is uniform-across-strata, alpha=0.5 flattens the head —
    integer-exact cases (perfect-square counts) + DuckDB oracle."""
    from pyspark.sql import functions as F

    from fusus_spark.operators.curate import mixture_ppm

    # 1600 'big' + 400 'mid' + 100 'small' docs (perfect squares)
    rows = ([(i, "big") for i in range(1600)]
            + [(2000 + i, "mid") for i in range(400)]
            + [(3000 + i, "small") for i in range(100)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    # alpha=1: every stratum sampled at budget/total
    p1 = {r["stratum"]: r["ppm"]
          for r in mixture_ppm(docs, budget_docs=210, alpha_e6=1_000_000).collect()}
    assert p1 == {"big": 100_000, "mid": 100_000, "small": 100_000}

    # alpha=0.5: weights 40/20/10 -> targets 120/60/30 of budget 210
    p5 = {r["stratum"]: r["ppm"]
          for r in mixture_ppm(docs, budget_docs=210, alpha_e6=500_000).collect()}
    assert p5 == {"big": 75_000, "mid": 150_000, "small": 300_000}

    # alpha=0: equal doc targets per stratum; small stratum capped at 100%
    p0 = {r["stratum"]: r["ppm"]
          for r in mixture_ppm(docs, budget_docs=300, alpha_e6=0).collect()}
    assert p0 == {"big": 62_500, "mid": 250_000, "small": 1_000_000}

    # DuckDB oracle (same pow/round arithmetic on the exact cases)
    import duckdb as _dd

    con = _dd.connect()
    con.sql("CREATE TABLE d (doc_id BIGINT, lang VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    orc = {r[0]: r[2] for r in con.sql("""
WITH n AS (SELECT lang AS stratum, count(*) AS n_docs FROM d GROUP BY lang),
w AS (SELECT *, pow(n_docs, 0.5) AS wt FROM n),
t AS (SELECT sum(wt) AS tot FROM w)
SELECT stratum, n_docs,
       least(1000000, round(210 * wt / tot / n_docs * 1000000))::BIGINT AS ppm
FROM w, t
""").fetchall()}
    assert orc == p5


def test_stratified_sample_by_table_matches_dict_variant(spark):
    """The table-driven sampler must select the BYTE-IDENTICAL subset
    the dict-driven one selects for the same rates (same md5 rule),
    and absent strata fall back to default_ppm."""
    from fusus_spark.operators.curate import (
        stratified_sample,
        stratified_sample_by_table,
    )

    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(900)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 250_000, "fr": 1_000_000}
    want = {(r["doc_id"], r["lang"])
            for r in stratified_sample(docs, rates, default_ppm=50_000).collect()}
    table = spark.createDataFrame(list(rates.items()), "stratum string, ppm long")
    got = {(r["doc_id"], r["lang"])
           for r in stratified_sample_by_table(
               docs, table, default_ppm=50_000).collect()}
    assert got == want and len(got) > 0


def test_mixture_pipeline_end_to_end(spark):
    """mixture_ppm -> stratified_sample_by_table: the sampled corpus
    approaches the temperature targets (binomial tolerance)."""
    from fusus_spark.operators.curate import mixture_ppm, stratified_sample_by_table

    rows = ([(i, "big") for i in range(1600)]
            + [(10_000 + i, "small") for i in range(100)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    ppm = mixture_ppm(docs, budget_docs=425, alpha_e6=500_000)
    out = stratified_sample_by_table(docs, ppm)
    by = {r["lang"]: r["cnt"] for r in
          out.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    # targets: weights 40/10 -> 340/85 docs; md5 draw is binomial
    assert 260 <= by["big"] <= 420
    assert 55 <= by["small"] <= 100


def test_mixture_ppm_excludes_null_strata(spark):
    """Docs with a NULL stratum can never be sampled (equi-join and md5
    key both skip NULL), so they must not depress real strata's rates
    or appear in the audit table."""
    from fusus_spark.operators.curate import mixture_ppm, stratified_sample_by_table

    rows = [(i, "en") for i in range(64)] + [(100 + i, None) for i in range(16)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = mixture_ppm(docs, budget_docs=40, alpha_e6=500_000)
    got = {r["stratum"]: r["ppm"] for r in rates.collect()}
    assert got == {"en": 625_000}  # 40/64 of the ONLY real stratum
    out = stratified_sample_by_table(docs, rates)
    assert out.where("lang is null").count() == 0
