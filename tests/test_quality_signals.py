"""Gopher/RefinedWeb-style quality signals: repetition + compression.

repetition_stats is hash-verified through its registry query and DuckDB
oracle; compression_ratio has no SQL equivalent and is pinned against
direct zlib.
"""

from __future__ import annotations

import zlib

from fusus_spark.operators.textstats import compression_ratio, repetition_stats


def _corpus() -> list[tuple[int, str]]:
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spam spam spam spam spam spam spam ham"),          # top-heavy word
        (2, "buy now buy now buy now buy now totally organic"),  # top-heavy bigram
        (3, "solo"),
        (4, ""),
        (5, "a b a b a b a b a b"),
    ]
    # deterministic filler docs with varying repetition
    for i in range(6, 40):
        words = [f"w{(j * (i % 7 + 1)) % (i % 13 + 2)}" for j in range(30 + i)]
        rows.append((i, " ".join(words)))
    return rows


def test_repetition_stats_hand_cases(spark):
    df = spark.createDataFrame(_corpus(), "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc 1: 'spam' is 7 of 8 tokens
    assert got[1]["top_word_share_e6"] == round(7 / 8 * 1e6)
    # doc 2: 'buy now' bigram is 4 of 9 bigrams
    assert got[2]["top_bigram_share_e6"] == round(4 / 9 * 1e6)
    # singleton and empty docs degrade cleanly
    assert got[3]["top_word_share_e6"] == 1000000
    assert got[3]["top_bigram_share_e6"] == 0
    assert got[4]["n_tokens"] == 0 and got[4]["top_word_share_e6"] == 0
    # alternating doc: words tie at 1/2; bigrams 'a b' own 5 of 9
    assert got[5]["top_word_share_e6"] == 500000
    assert got[5]["top_bigram_share_e6"] == round(5 / 9 * 1e6)


def test_repetition_stats_matches_duckdb_oracle(registry_parity):
    registry_parity("repetition_stats", _corpus())


def test_compression_ratio_matches_zlib(spark):
    rows = [(i, t) for i, t in _corpus() if True]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    for doc_id, text in rows:
        norm = " ".join(text.split())
        raw = norm.encode("utf-8")
        want = round(len(zlib.compress(raw, 6)) / len(raw) * 1e6) if raw else 0
        assert got[doc_id]["ratio_e6"] == want, doc_id
        assert got[doc_id]["n_bytes"] == len(raw)
    # the signal points the right way: repetitive doc compresses harder
    assert got[1]["ratio_e6"] < got[0]["ratio_e6"]
