"""Pytest wrapper over the oracle-parity harness (driver-contract guard).

Runs a representative subset at sf0.001 (fast) — the full sweep is
``python tools/parity.py /root/testdata/sf0.01``.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from fusus_spark.sources.testdata import TABLES
from tools.parity import value_hash

SF_DIR = "/root/testdata/sf0.001"

FAST_SUBSET = [
    "extract_words",
    "extract_text",
    "token_stats",
    "top_words",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce",
    "decontaminate",
    "corpus_report",
    "host_change_stats",
    "multimodal_meta",
    "pack_sequences",
    "host_anchor_texts",
    "curate_corpus",
    # round-2 surface
    "extract_words_hard",
    "align_merged",
    "align_quality",
    "normalize_rewrites",
    "translit_schemes",
    "toc_distill",
    "multimodal_resize",
    "multimodal_frames",
    "dedup_embedding",
    "levenshtein_pairs",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, duck, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    sdf = qs[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    orc = duck.sql(oracles[name])
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(orc.columns), f"{name}: schema"
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows), (
        f"{name}: value hash"
    )


@pytest.mark.parametrize("name", ["extract_text", "extract_text_hard", "extract_words_hard"])
def test_extraction_parity_with_empty_docs(registry_parity, name):
    """Empty / whitespace-only documents: the engine emits an empty token
    array while DuckDB string_split('', ' ') yields [''] — the oracles'
    guarded token expression must agree (advisor round-2 latent bug)."""
    registry_parity(
        name,
        [(0, "alpha beta gamma", "en", "web", 16), (1, "", "en", "web", 0),
         (2, "   ", "en", "web", 3), (3, "solo", "en", "web", 4)],
        "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    )


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "word" in df.columns and "char_start" in df.columns


def test_every_oracle_key_has_query():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) == 50
    assert set(oracles) == set(qs)


def test_every_plan_audit_check_resolves():
    """Every plan_audit CHECKS name is a registry query or an
    ``_extra_frames`` builder, and the CHECKS literal repeats no key (a
    repeated key silently drops the first entry's checks)."""
    import ast
    import inspect

    from tools import plan_audit

    orphans = set(plan_audit.CHECKS) - set(entrymod.queries()) - set(plan_audit._extra_frames())
    assert not orphans, sorted(orphans)
    tree = ast.parse(inspect.getsource(plan_audit))
    checks = next(
        node.value for node in tree.body
        if isinstance(node, ast.Assign) and node.targets[0].id == "CHECKS"
    )
    keys = [k.value for k in checks.keys]
    assert len(keys) == len(set(keys)), sorted(k for k in keys if keys.count(k) > 1)
