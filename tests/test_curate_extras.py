"""Decontamination / line-dedup / passage-dedup / PII-redaction / corpus
report tests: hand-pinned behavior + DuckDB oracle hash cross-checks.
Fixtures shaped like ``documents`` run through the registry query and
its oracle; the eval- and url-shaped fixtures keep their own SQL."""

from __future__ import annotations

import duckdb

from fusus_spark.operators.curate import (
    dedup_lines,
    dedup_passages,
    decontaminate,
    redact_pii,
)
from tools.parity import value_hash


# ---------------------------------------------------------------- decontam

EVAL_SET = [
    (0, "the capital of France is Paris"),
    (1, "photosynthesis converts light energy into chemical energy"),
]


def _train_corpus() -> list[tuple[int, str]]:
    rows = [
        (0, "students learn that The Capital Of FRANCE is paris early on"),  # hit (case-folded)
        (1, "totally unrelated text about cooking pasta with garlic"),
        (2, "photosynthesis converts light energy into chemical energy, as we all know"),  # hit
        (3, "capital of germany was bonn then berlin"),  # no shared 3-gram
        (4, ""),
        (5, "capital France of"),  # shared tokens but no shared 3-gram
    ]
    for i in range(6, 40):
        rows.append((i, " ".join(f"tok{(j * i) % 17}" for j in range(25))))
    return rows


def test_decontaminate_hand_cases(spark):
    docs = spark.createDataFrame(_train_corpus(), "doc_id long, text string")
    ev = spark.createDataFrame(EVAL_SET, "eval_id long, text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, ev, n=3).collect()}
    # only the two true-overlap docs are reported
    assert set(got) == {0, 2}
    # doc 0 shares exactly the 3-grams inside "the capital of france is paris"
    # → 4 of its distinct 3-grams hit
    assert got[0]["n_hit_ngrams"] == 4
    assert got[0]["hit_ratio_e6"] == round(4 / got[0]["n_ngrams"] * 1e6)
    assert got[2]["n_hit_ngrams"] > 0


def test_decontaminate_matches_duckdb_oracle(spark):
    docs = spark.createDataFrame(_train_corpus(), "doc_id long, text string")
    ev = spark.createDataFrame(EVAL_SET, "eval_id long, text string")
    sdf = decontaminate(docs, ev, n=3)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _train_corpus())
    con.sql("CREATE TABLE evals (eval_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO evals VALUES (?, ?)", EVAL_SET)
    orc = con.sql("""
WITH dt AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
  WHERE length(trim(text)) > 0
),
dg AS (
  SELECT DISTINCT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS gh
  FROM dt, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
dn AS (
  SELECT doc_id, count(*) AS n_ngrams FROM dg GROUP BY doc_id
),
et AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM evals
),
eg AS (
  SELECT DISTINCT md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS gh
  FROM et, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
)
SELECT dg.doc_id,
       any_value(dn.n_ngrams)::INT AS n_ngrams,
       count(*)::INT AS n_hit_ngrams,
       round(count(*) / any_value(dn.n_ngrams) * 1000000)::BIGINT AS hit_ratio_e6
FROM dg JOIN eg USING (gh) JOIN dn USING (doc_id)
GROUP BY dg.doc_id
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


# -------------------------------------------------------------- dedup_lines

BOILER = "Subscribe to our newsletter!"


def _line_corpus() -> list[tuple[int, str]]:
    rows = [
        (0, f"Unique opening line.\n{BOILER}\n\nBody of document zero."),
        (1, f"{BOILER}\nAnother body entirely.\nCopyright 2026 Example Corp"),
        (2, f"Third doc body text.\nCopyright 2026 Example Corp\n   \n{BOILER}"),
        (3, "Only unique material here.\nNothing shared with anyone."),
        (4, ""),
        (5, f"{BOILER}\n{BOILER}"),  # doc made entirely of boilerplate
        (6, "repeated inside\nrepeated inside\nbut only in this doc"),  # in-doc repeat: kept
    ]
    for i in range(7, 30):
        rows.append((i, f"filler head {i}\nfiller body {i * 7}\nfiller tail {i * 13}"))
    return rows


def test_dedup_lines_hand_cases(spark):
    docs = spark.createDataFrame(_line_corpus(), "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert len(got) == len(_line_corpus())  # no doc vanishes
    # boilerplate + shared copyright line removed everywhere
    assert got[0]["text_dedup"] == "Unique opening line.\n\nBody of document zero."
    assert got[1]["text_dedup"] == "Another body entirely."
    assert got[2]["text_dedup"] == "Third doc body text.\n   "
    # untouched doc round-trips byte-identically
    assert got[3]["text_dedup"] == _line_corpus()[3][1]
    assert got[3]["n_kept"] == got[3]["n_lines"] == 2
    # empty doc survives as one blank line
    assert got[4]["n_lines"] == 1 and got[4]["text_dedup"] == ""
    # all-boilerplate doc collapses to empty but still emits a row
    assert got[5]["text_dedup"] == "" and got[5]["n_kept"] == 0
    # a line repeated only WITHIN one doc is not corpus-duplicated
    assert got[6]["n_kept"] == 3


def test_dedup_lines_matches_duckdb_oracle(registry_parity):
    registry_parity("dedup_lines", _line_corpus())


# ----------------------------------------------------------- dedup_passages

PASSAGE = "please subscribe to our newsletter for daily updates"  # 8 tokens


def _passage_corpus() -> list[tuple[int, str]]:
    rows = [
        (0, f"alpha beta {PASSAGE} gamma delta"),          # owner: keeps it
        (1, f"{PASSAGE} entirely different tail here"),    # loses it
        (2, f"some lead in words then {PASSAGE}"),         # loses it
        (3, "wholly original content with no shared runs at all"),
        (4, ""),
        (5, "tiny doc"),                                   # < n tokens: untouched
        # both occurrences are non-owner copies of docs 0-2's passage
        (6, f"{PASSAGE} filler one two three four five six {PASSAGE}"),
        # in-doc-only repeat: first occurrence is the owner, second removed
        (7, "zig zag zoom zap quux mid a b c zig zag zoom zap quux tail"),
        # untouched doc with structure: must round-trip byte-identically
        (8, "newline\npreserved doc\n\nuntouched  entirely"),
    ]
    for i in range(9, 30):
        rows.append((i, " ".join(f"w{(j * (i + 3)) % 41}" for j in range(20))))
    return rows


def test_dedup_passages_hand_cases(spark):
    docs = spark.createDataFrame(_passage_corpus(), "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_passages(docs, n=4).collect()}
    assert len(got) == len(_passage_corpus())  # every doc emits one row
    # the min-(doc_id, pos) owner keeps the passage; the others lose all 8 tokens
    assert PASSAGE in got[0]["text_dedup"]
    assert got[0]["n_removed"] == 0
    assert got[1]["text_dedup"] == "entirely different tail here"
    assert got[1]["n_removed"] == 8
    assert got[2]["text_dedup"] == "some lead in words then"
    assert got[2]["n_removed"] == 8
    # untouched docs round-trip (tokens rejoined with single spaces)
    assert got[3]["text_dedup"] == _passage_corpus()[3][1]
    assert got[4]["text_dedup"] == "" and got[4]["n_tokens"] == 0
    assert got[5]["text_dedup"] == "tiny doc" and got[5]["n_removed"] == 0
    # doc 6's passage copies are both non-owner (doc 0 owns the windows),
    # so BOTH occurrences go — once-per-corpus, not once-per-doc
    assert got[6]["n_removed"] == 16
    assert got[6]["text_dedup"] == "filler one two three four five six"
    # in-doc-only repeat: the min-pos occurrence is the owner and stays
    assert got[7]["n_removed"] == 5
    assert got[7]["text_dedup"] == "zig zag zoom zap quux mid a b c tail"
    # untouched docs keep newlines / double spaces byte-identically
    assert got[8]["text_dedup"] == "newline\npreserved doc\n\nuntouched  entirely"


def test_dedup_passages_matches_duckdb_oracle(registry_parity):
    # the registry's n=8 windows are exactly PASSAGE: owner doc 0, copies
    # in docs 1, 2 and twice in doc 6; the short and blank docs pass through
    registry_parity("dedup_passages", _passage_corpus())


# --------------------------------------------------------------- redact_pii


def _pii_corpus() -> list[tuple[int, str]]:
    rows = [
        (0, "Contact alice@example.com or bob.smith+tag@mail.co for info"),
        (1, "Server at 192.168.0.1 and 10.0.0.255 responded"),
        (2, "Call +1 (555) 123-4567 or +44 20 7946 0958 today"),
        (3, "Mixed: eve@corp.io from 127.0.0.1 dialed +33 1 23 45 67 89"),
        (4, "No pii here, just text with numbers 12345 and dots..."),
        (5, ""),
        (6, "version 1.2.3 is not an ip but 8.8.8.8 is"),
    ]
    for i in range(7, 30):
        rows.append((i, f"user{i}@host{i % 3}.org logged in from 10.1.{i % 256}.{(i * 3) % 256}"))
    return rows


def test_redact_pii_hand_cases(spark):
    docs = spark.createDataFrame(_pii_corpus(), "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[0]["n_email"] == 2 and got[0]["n_ipv4"] == 0 and got[0]["n_phone"] == 0
    assert got[0]["text_redacted"] == "Contact <EMAIL> or <EMAIL> for info"
    assert got[1]["n_ipv4"] == 2
    assert got[1]["text_redacted"] == "Server at <IP> and <IP> responded"
    assert got[2]["n_phone"] == 2
    assert got[2]["text_redacted"] == "Call <PHONE> or <PHONE> today"
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (1, 1, 1)
    assert got[4]["text_redacted"] == _pii_corpus()[4][1]  # untouched
    assert got[5]["text_redacted"] == ""
    # "1.2.3" lacks a 4th octet; "8.8.8.8" is redacted
    assert got[6]["n_ipv4"] == 1 and "8.8.8.8" not in got[6]["text_redacted"]


def test_redact_pii_matches_duckdb_oracle(registry_parity):
    registry_parity("redact_pii", _pii_corpus())


def test_dedup_passages_matches_python_reference(spark):
    """Property: on random corpora the Spark plan equals an INDEPENDENT
    from-scratch Python reference (the DuckDB oracle mirrors the plan's
    relational shape, so this guards against shared-logic bugs)."""
    import random

    def reference(corpus: list[tuple[int, str]], n: int) -> dict[int, tuple]:
        toks = {d: t.split() for d, t in ((d, " ".join(s.split())) for d, s in corpus)}
        occ: dict[tuple, list[tuple[int, int]]] = {}
        for d, t in sorted(toks.items()):
            for p in range(len(t) - n + 1):
                occ.setdefault(tuple(t[p : p + n]), []).append((d, p))
        covered: dict[int, set[int]] = {}
        for g, places in occ.items():
            if len(places) < 2:
                continue
            owner = min(places)
            for d, p in places:
                if (d, p) != owner:
                    covered.setdefault(d, set()).update(range(p, p + n))
        out = {}
        for d, raw in corpus:
            t = toks[d]
            cov = covered.get(d, set())
            kept = [w for i, w in enumerate(t) if i not in cov]
            text = raw if not cov else " ".join(kept)
            out[d] = (len(t), len(cov), text if raw is not None else "")
        return out

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> dense collisions
    for trial in range(6):
        corpus = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
            for d in range(25)
        ]
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
            for r in dedup_passages(docs, n=3).collect()
        }
        assert got == reference(corpus, 3), f"trial {trial}"


# ---------------------------------------------------------------- corpus report


def _report_corpus() -> list[tuple[str, str, str]]:
    rows = [
        ("http://a.com/1", "en", "hello   world one"),
        ("http://a.com/2", "en", "hello again"),
        ("http://b.com/1", "en", "three tokens here"),
        ("http://b.com/2", "de", "hallo welt"),
        ("http://c.com/1", None, "lang unknown text"),
        ("http://c.com/2", "de", ""),          # empty -> 0 tokens, n_empty
        ("http://c.com/3", "fr", "  \n\t "),   # whitespace-only = empty
        ("http://c.com/4", "en", "héllo bytes"),  # bytes > chars
        ("not a url", "en", "malformed url"),     # no phantom host
        ("http://d.com/1", "ALL", "literal all tag"),          # not a total
        ("http://d.com/2", "unknown", "literal unknown tag"),  # not null lang
    ]
    return rows


def test_corpus_report_hand_cases(spark):
    from fusus_spark.operators.curate import corpus_report

    df = spark.createDataFrame(
        _report_corpus(), "url string, lang string, text string"
    )
    got = corpus_report(df, url_col="url").collect()
    al = got[0]                                  # total row sorts first
    assert al["is_total"] and al["scope"] is None
    assert [r["is_total"] for r in got[1:]] == [False] * 6  # one total only
    assert al["n_docs"] == 11 and al["n_empty"] == 2
    assert al["n_hosts"] == 4                    # '' host never counted
    assert al["tokens_total"] == 3 + 2 + 3 + 2 + 3 + 0 + 0 + 2 + 2 + 3 + 3
    by = {r["scope"]: r for r in got[1:]}
    assert set(by) == {"en", "de", "fr", "ALL", "unknown", None}
    assert by["en"]["n_docs"] == 5 and by["en"]["n_hosts"] == 3
    assert by["en"]["tokens_total"] == 12
    assert by["en"]["avg_tokens_e4"] == 24_000   # 12/5 * 1e4
    assert by["de"]["n_docs"] == 2 and by["de"]["n_empty"] == 1
    assert by["fr"]["n_empty"] == 1 and by["fr"]["tokens_total"] == 0
    # literal tags are plain languages: 'ALL' is no second total and
    # 'unknown' does not merge with the null-lang row
    assert by["ALL"]["n_docs"] == 1 and by["ALL"]["tokens_total"] == 3
    assert by["unknown"]["n_docs"] == 1 and by[None]["n_docs"] == 1
    # ordering after the total: n_docs desc, scope asc (null last) tie-break
    assert [r["scope"] for r in got] == [
        None, "en", "de", "ALL", "fr", "unknown", None
    ]

    # without url_col: n_hosts null, everything else identical
    no_host = corpus_report(df).collect()
    assert all(r["n_hosts"] is None for r in no_host)
    assert [(r["is_total"], r["scope"]) for r in no_host] == [
        (r["is_total"], r["scope"]) for r in got
    ]


def test_corpus_report_matches_duckdb_oracle(spark):
    from fusus_spark.operators.curate import corpus_report
    from tests.test_frontier import _HOST_RE_SQL

    sdf = corpus_report(
        spark.createDataFrame(
            _report_corpus(), "url string, lang string, text string"
        ),
        url_col="url",
    )
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql("CREATE TABLE docs (url VARCHAR, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", _report_corpus())
    norm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
    orc = con.sql(f"""
WITH base AS (
  SELECT lang AS _lang,
    CASE WHEN text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 1 ELSE 0 END AS _empty,
    CASE WHEN length({norm}) = 0 THEN 0
         ELSE len(string_split({norm}, ' ')) END AS _toks,
    length({norm}) AS _chars,
    octet_length(encode(text)) AS _bytes,
    nullif(lower(regexp_extract(url, '{_HOST_RE_SQL}', 1)), '') AS _host
  FROM docs
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
SELECT *, round(tokens_total * 10000 / n_docs)::BIGINT AS avg_tokens_e4
FROM g
ORDER BY is_total DESC, n_docs DESC, scope NULLS LAST
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows) > 0
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)
