"""Curation-gate tests: hand-pinned verdicts + the registry query's
DuckDB oracle on the same corpus."""

from __future__ import annotations

from fusus_spark.operators.curate import curation_gate


def _corpus() -> list[tuple[int, str]]:
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and then it sat down"),
        (1, "short"),                                            # too few tokens
        (2, "buy now buy now buy now buy now buy now stuff"),    # repetitive + no stopwords
        (3, "a b c d e f g h i j"),                              # mean token too short
        (4, "zzzzzzzzzzzzzzz xxxxxxxxxxxxxxxx wwwwwwwwwwwwwww qqqqqqqqqqqqqqqqq ssssssssssssssss"),  # too long + no stops
        (5, ""),
    ]
    for i in range(6, 60):
        body = " ".join(f"word{j % (i % 9 + 2)}" for j in range(10 + i % 25))
        rows.append((i, "the and " + body))
    return rows


def test_curation_gate_hand_cases(spark):
    df = spark.createDataFrame(_corpus(), "doc_id long, text string")
    got = {r["doc_id"]: r for r in curation_gate(df).collect()}
    assert got[0]["keep"] is True and got[0]["reasons"] == []
    assert got[1]["reasons"] == ["too_few_stopwords", "too_few_tokens"]
    assert "repetitive_bigrams" in got[2]["reasons"]
    assert "too_few_stopwords" in got[2]["reasons"]
    assert "mean_token_too_short" in got[3]["reasons"]
    assert "mean_token_too_long" in got[4]["reasons"]
    assert got[5]["keep"] is False  # empty doc fails the floor rules


def test_curation_gate_matches_duckdb_oracle(registry_parity):
    registry_parity("curation_gate", _corpus())
