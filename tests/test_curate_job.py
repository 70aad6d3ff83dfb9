"""End-to-end curation job: all six tiers composed over one tiny corpus,
with every tier exercised by at least one document."""

from __future__ import annotations

from fusus_spark.jobs.curate_job import run_job

BOILER = "Subscribe now!"

ROWS = [
    (1, "https://ex.com/a",
     f"the cat sat on the mat and it was happy today\n{BOILER}", "en"),
    # URL-duplicate of doc 1 (tracking param) — dropped at tier 1
    (2, "https://ex.com/a?utm_source=feed",
     "different body that is for the reader and it is fine", "en"),
    (3, "https://ex.com/b",
     "the dog ran in the park and it was sunny today", "en"),
    # exact text duplicate of doc 3 — dropped at tier 2 (min-id rep kept)
    (4, "https://ex.com/c",
     "the dog ran in the park and it was sunny today", "en"),
    (5, "https://ex.com/d",
     f"the fish swam in the sea for a while today\n{BOILER}", "en"),
    # 1 token: fails the quality gate at tier 4
    (6, "https://ex.com/e", "short", "en"),
    # shares 3-grams with the eval set — dropped at tier 5
    (7, "https://ex.com/f",
     "the capital of france is paris and everyone knows it", "en"),
    # email redacted at tier 6
    (8, "https://ex.com/g",
     "write to alice@example.com for the details about it all", "en"),
    # tracking-LOOKALIKE params (my_gclid): distinct documents, must NOT
    # merge at tier 1 (regression for the unanchored-strip bug)
    (9, "https://ex.com/h?my_gclid=5",
     "the first lookalike page body is all about the number five", "en"),
    (10, "https://ex.com/h?my_gclid=7",
     "the second lookalike page body is all about the number seven", "en"),
]

EVAL_ROWS = [(0, "the capital of france is paris")]


def test_curate_job_end_to_end(spark, tmp_path):
    inp = str(tmp_path / "docs")
    ev = str(tmp_path / "eval")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        ROWS, "doc_id long, url string, text string, lang string"
    ).write.parquet(inp)
    spark.createDataFrame(EVAL_ROWS, "eval_id long, text string").write.parquet(ev)

    summary = run_job(
        spark, input_path=inp, output_path=out, eval_path=ev, decontam_n=3
    )

    assert summary == {
        "n_input": 10,
        "n_after_url_dedup": 9,        # doc 2 folded into doc 1's canonical;
                                       # docs 9/10 (?my_gclid=5 vs =7) survive
        "n_after_exact_dedup": 8,      # doc 4 folded into doc 3
        "n_dup_lines_removed": 2,      # BOILER stripped from docs 1 and 5
        "n_after_gate": 7,             # doc 6 too short
        "n_contaminated": 1,           # doc 7
        "n_final": 6,
        "n_pii_redacted": 1,           # doc 8's email
    }

    corpus = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert set(corpus) == {1, 3, 5, 8, 9, 10}
    # line dedup rewrote the text; survivors carry their cleaned bodies
    assert corpus[1]["text"] == "the cat sat on the mat and it was happy today"
    assert corpus[5]["text"] == "the fish swam in the sea for a while today"
    assert "<EMAIL>" in corpus[8]["text"] and "alice@" not in corpus[8]["text"]
    assert corpus[3]["n_email"] == 0

    # audit tables exist and carry the tier decisions
    gate = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/audit/gate").collect()}
    assert gate[6]["keep"] is False and "too_few_tokens" in gate[6]["reasons"]
    contam = spark.read.parquet(f"{out}/audit/contamination").collect()
    assert [r["doc_id"] for r in contam] == [7]


def _html_inputs(spark, tmp_path) -> tuple[str, str]:
    """ROWS with an html column (every optional tier can run), and the
    eval set: (input path, eval path)."""
    inp = str(tmp_path / "docs_b")
    ev = str(tmp_path / "eval_b")
    spark.createDataFrame(
        [(d, u, f"<p>{t}</p><a href='http://ex.com/a'>a</a>".encode(), t, lang)
         for d, u, t, lang in ROWS],
        "doc_id long, url string, html binary, text string, lang string",
    ).write.parquet(inp)
    spark.createDataFrame(EVAL_ROWS, "eval_id long, text string").write.parquet(ev)
    return inp, ev


def test_curate_job_action_budget(spark, tmp_path, driver_actions):
    """The summary rides the tier writes: a default run with eval and
    report spends one driver action (the n_input count), and a run with
    every optional tier on adds only the canonical distinct count."""
    import json

    inp, ev = _html_inputs(spark, tmp_path)
    before = len(driver_actions)
    summary = run_job(spark, input_path=inp, output_path=str(tmp_path / "out_b"),
                      eval_path=ev, decontam_n=3, write_report=True)
    assert len(driver_actions) - before == 1
    assert summary["n_final"] == 6

    rb = str(tmp_path / "robots_b")
    blk = str(tmp_path / "blk_b")
    spark.createDataFrame(
        [("ex.com", "User-agent: *\nDisallow: /g\n")], "host string, robots_txt string"
    ).write.parquet(rb)
    spark.createDataFrame([("spam.example",)], "domain string").write.parquet(blk)
    before = len(driver_actions)
    summary = run_job(
        spark, input_path=inp, output_path=str(tmp_path / "out_all"), eval_path=ev,
        respect_robots=True, canonical_scope="domain", robots_txt_path=rb,
        block_domains_path=blk, cap_per_host=100, host_prior_min_rank_e9=0,
        passage_n=4, decontam_n=3, pack_target=25, mixture_budget=4,
        write_report=True,
    )
    assert len(driver_actions) - before <= 2
    assert summary["n_after_robots_txt"] == 9  # /g disallowed
    assert all(type(v) is int for v in summary.values())
    json.dumps(summary)


def test_curate_job_empty_tiers(spark, tmp_path):
    """A corpus the gate rejects entirely and an eval set matching
    nothing: zero-row writes observe 0, never None."""
    import json

    inp = str(tmp_path / "docs_e")
    ev = str(tmp_path / "eval_e")
    spark.createDataFrame(
        [(i, f"short{i}", "en") for i in range(3)], "doc_id long, text string, lang string"
    ).write.parquet(inp)
    spark.createDataFrame(
        [(0, "nothing in this eval row matches the corpus")], "eval_id long, text string"
    ).write.parquet(ev)

    summary = run_job(spark, input_path=inp, output_path=str(tmp_path / "out_e"),
                      eval_path=ev, decontam_n=3)
    for key in ("n_contaminated", "n_after_gate", "n_final", "n_pii_redacted"):
        assert type(summary[key]) is int and summary[key] == 0, key
    json.dumps(summary)


def test_curate_job_passage_tier(spark, tmp_path):
    """Opt-in tier 3b: the shared 6-token passage is removed from the
    non-owner doc, the owner keeps its copy, summaries count tokens."""
    inp = str(tmp_path / "docs3")
    out = str(tmp_path / "out3")
    rows = [
        (1, "the story begins right here with common passage words shared across docs today", "en"),
        (2, "another opening line then common passage words shared across docs and more tail text", "en"),
        (3, "a wholly different document that is about other things entirely today", "en"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out, passage_n=4)
    assert summary["n_passage_tokens_removed"] == 6
    assert summary["n_final"] == 3  # passage dedup rewrites, never drops

    corpus = {r["doc_id"]: r for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert "common passage words shared across docs" in corpus[1]["text"]
    assert corpus[2]["text"] == "another opening line then and more tail text"
    assert corpus[2]["n_passage_removed"] == 6
    assert corpus[3]["n_passage_removed"] == 0


def test_curate_job_without_url_or_eval(spark, tmp_path):
    """Tiers degrade cleanly: no url column -> tier 1 skipped; no eval
    path -> tier 5 skipped."""
    inp = str(tmp_path / "docs2")
    out = str(tmp_path / "out2")
    rows = [(i, f"the quick document number {i} is here and it works fine", "en")
            for i in range(6)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out)
    assert "n_after_url_dedup" not in summary
    assert summary["n_input"] == summary["n_final"] == 6
    assert summary["n_contaminated"] == 0


def test_curate_job_host_policy_tier(spark, tmp_path):
    """Opt-in tier 1b: blocklisted domain dropped, host_stats audit
    written, and the summary counts the survivors."""
    inp = str(tmp_path / "docs4")
    blk = str(tmp_path / "blk")
    out = str(tmp_path / "out4")
    rows = [
        (i, f"http://keep.org/p{i}",
         f"the keeper document number {i} is here and it reads fine", "en")
        for i in range(4)
    ] + [
        (10 + i, f"http://spam.example/x{i}",
         f"the spammy document number {i} is here and it reads fine", "en")
        for i in range(3)
    ]
    spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string"
    ).write.parquet(inp)
    spark.createDataFrame([("spam.example",)], "domain string").write.parquet(blk)

    summary = run_job(
        spark, input_path=inp, output_path=out, block_domains_path=blk
    )
    assert summary["n_after_host_policy"] == 4
    assert summary["n_final"] == 4
    corpus = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert corpus == {0, 1, 2, 3}
    stats = {r["host"]: r["n_docs"]
             for r in spark.read.parquet(f"{out}/audit/host_stats").collect()}
    assert stats == {"keep.org": 4, "spam.example": 3}


def test_curate_job_robots_tier(spark, tmp_path):
    """Opt-in tier 0: meta-noindex pages dropped before any other tier
    spends on them; the signals audit table records every page."""
    inp = str(tmp_path / "docs7")
    out = str(tmp_path / "out7")
    rows = [
        (1, "http://a.com/keep",
         b"<p>body</p>",
         "the kept document body is here and it reads fine", "en"),
        (2, "http://a.com/optout",
         b'<meta name="robots" content="noindex"><p>x</p>',
         "the opted out document body is here and it reads fine", "en"),
        (3, "http://a.com/follow",
         b'<meta name="robots" content="nofollow"><p>y</p>',
         "the nofollow only document is here and it reads fine", "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, url string, html binary, text string, lang string"
    ).write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out, respect_robots=True)
    assert summary["n_after_robots"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert kept == {1, 3}
    audit = {r["url"]: r["noindex"]
             for r in spark.read.parquet(f"{out}/audit/robots").collect()}
    assert audit == {"http://a.com/keep": False, "http://a.com/optout": True,
                     "http://a.com/follow": False}


def test_curate_job_robots_txt_tier(spark, tmp_path):
    """Opt-in tier 0b: RFC 9309 robots.txt rules from a (host,
    robots_txt) parquet — the FILE half of the consent protocol —
    filter by longest-match before any other tier spends; the parsed
    rules land as an audit table."""
    inp = str(tmp_path / "docs8")
    rb = str(tmp_path / "robots8")
    out = str(tmp_path / "out8")
    rows = [
        (1, "http://a.com/public/page",
         "the first public document body is here and it reads fine", "en"),
        (2, "http://a.com/private/page",
         "the disallowed document body is here and it reads fine", "en"),
        (3, "http://a.com/private/ok/page",
         "the allow override document is here and it reads fine", "en"),
        (4, "http://norules.com/anything",
         "the host without robots file is here and it reads fine", "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string"
    ).write.parquet(inp)
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n")],
        "host string, robots_txt string",
    ).write.parquet(rb)

    summary = run_job(
        spark, input_path=inp, output_path=out, robots_txt_path=rb
    )
    assert summary["n_after_robots_txt"] == 3
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert kept == {1, 3, 4}
    rules = {(r["allow"], r["pattern"])
             for r in spark.read.parquet(f"{out}/audit/robots_txt_rules").collect()}
    assert rules == {(False, "/private/"), (True, "/private/ok/")}


def test_curate_job_host_prior_tier(spark, tmp_path):
    """Opt-in tier 1c: hosts ranked below the PageRank floor by the
    crawl's own link graph are dropped; hosts absent from the graph
    bypass; audit tables carry ranks and inbound anchor texts."""
    inp = str(tmp_path / "docs6")
    out = str(tmp_path / "out6")
    # hub.com is linked by every spoke page; spam.com links out but
    # nothing links to it (teleport floor); offgraph.com has no links
    # either way (absent from the graph entirely -> bypasses the gate)
    rows = []
    for i in range(3):
        rows.append((i, f"http://s{i}.com/p",
                     f'<a href="http://hub.com/x">hub</a><p>spoke {i} body</p>'.encode(),
                     f"the spoke document number {i} is here and it reads fine", "en"))
    rows.append((10, "http://hub.com/home",
                 '<a href="http://s0.com/p">back</a><p>hub</p>'.encode(),
                 "the hub document is here and it certainly reads fine", "en"))
    rows.append((20, "http://spam.com/x",
                 '<a href="http://hub.com/x">hub</a><p>spam</p>'.encode(),
                 "the spammy document is here and it also reads fine", "en"))
    rows.append((30, "http://offgraph.com/y", b"<p>no links at all</p>",
                 "the linkless document is here and it reads fine too", "en"))
    spark.createDataFrame(
        rows, "doc_id long, url string, html binary, text string, lang string"
    ).write.parquet(inp)

    summary = run_job(
        spark, input_path=inp, output_path=out, host_prior_min_rank_e9=200_000_000
    )
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    # spam.com, s1, s2 sit at the 150M teleport floor < 200M and are
    # dropped; hub (3 in-links) and s0 (fed hub's whole outflow) clear
    # the gate; offgraph bypasses it (absent from the graph)
    assert kept == {0, 10, 30}
    assert summary["n_after_host_prior"] == 3
    ranks = {r["host"]: r["rank_e9"]
             for r in spark.read.parquet(f"{out}/audit/host_pagerank").collect()}
    assert ranks["hub.com"] > 200_000_000 > ranks["spam.com"]
    assert ranks["s1.com"] == ranks["spam.com"] == 150_000_000
    anchors = spark.read.parquet(f"{out}/audit/host_anchors").collect()
    assert any(r["host"] == "hub.com" and r["anchor"] == "hub" for r in anchors)

    # precomputed-ranks path: same floor applied from the parquet table
    pr = str(tmp_path / "pr")
    spark.read.parquet(f"{out}/audit/host_pagerank").write.parquet(pr)
    out2 = str(tmp_path / "out6b")
    s2 = run_job(spark, input_path=inp, output_path=out2,
                 host_prior_min_rank_e9=200_000_000, pagerank_path=pr)
    assert s2["n_after_host_prior"] == 3


def test_curate_job_mixture_tier(spark, tmp_path):
    """Opt-in tier 8: the final corpus gains a temperature-sampled
    subset; the full corpus and the rate-table audit stay on disk."""
    inp = str(tmp_path / "docs8")
    out = str(tmp_path / "out8")
    rows = [(i, "the steady document number %d is here and it reads fine" % i,
             "en" if i < 64 else "fr") for i in range(80)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out,
                      mixture_budget=40, mixture_alpha_e6=500_000)
    assert summary["n_final"] == 80
    rates = {r["stratum"]: r["ppm"] for r in
             spark.read.parquet(f"{out}/audit/mixture_ppm").collect()}
    # weights sqrt(64)=8, sqrt(16)=4 -> targets 8/12*40, 4/12*40
    assert rates == {"en": round(40 * 8 / 12 / 64 * 1e6),
                     "fr": round(40 * 4 / 12 / 16 * 1e6)}
    sampled = spark.read.parquet(f"{out}/corpus_sampled")
    assert summary["n_sampled"] == sampled.count()
    assert 10 <= summary["n_sampled"] <= 70  # binomial around 40
    # sampled is a subset of the corpus with the full schema
    corpus_ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert {r["doc_id"] for r in sampled.collect()} <= corpus_ids
    assert set(sampled.columns) == set(spark.read.parquet(f"{out}/corpus").columns)


def test_curate_job_packing_tier(spark, tmp_path):
    """Opt-in tier 7: the final corpus gains a packing plan; every
    surviving doc appears exactly once."""
    inp = str(tmp_path / "docs5")
    out = str(tmp_path / "out5")
    rows = [(i, "the solid document number %d is here and it reads fine" % i, "en")
            for i in range(12)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out, pack_target=25)
    assert summary["n_final"] == 12
    packing = spark.read.parquet(f"{out}/packing")
    assert summary["n_sequences"] == packing.select("shard", "seq_id").distinct().count()
    assert sorted(r["doc_id"] for r in packing.collect()) == list(range(12))
    assert packing.where("n_tokens != 11").count() == 0


def test_curate_job_canonical_tier(spark, tmp_path):
    """Opt-in tier 1a: pages declaring rel=canonical fold into the
    nominated page (print views and m.-mirrors carry DIFFERENT chrome,
    so content dedup would miss them); cross-site declarations are
    flagged in the audit, never followed."""
    inp = str(tmp_path / "docs12")
    out = str(tmp_path / "out12")
    rows = [
        (1, "http://www.ex.com/story",
         b"<p>s</p>",
         "the main story body is here and it reads perfectly fine", "en"),
        # print view of doc 1: different chrome, declared alternate
        (2, "http://www.ex.com/story?output=print",
         b'<link rel="canonical" href="http://www.ex.com/story"><p>p</p>',
         "print chrome wraps the story body in its own different text", "en"),
        # m.-mirror: cross-host but same registrable domain -> in scope
        (3, "http://m.ex.com/story",
         b'<link rel="canonical" href="http://www.ex.com/story"><p>m</p>',
         "mobile chrome wraps the story body in another different text", "en"),
        # cross-site canonical: the spam vector -- flagged, NOT followed
        (4, "http://ex.com/spam",
         b'<link rel="canonical" href="http://evil.com/landing"><p>x</p>',
         "the spam page body is here and it survives the collapse", "en"),
        (5, "http://other.com/page",
         b"<p>o</p>",
         "an unrelated page body is here and it also reads fine", "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, url string, html binary, text string, lang string"
    ).write.parquet(inp)

    summary = run_job(
        spark, input_path=inp, output_path=out, canonical_scope="domain"
    )
    assert summary["n_after_canonical"] == 3   # surviving rows: docs 1,4,5
    assert summary["n_canonical_groups"] == 3  # {story x3}, {spam}, {page}
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()}
    assert kept == {1, 4, 5}
    audit = {r["url"]: r
             for r in spark.read.parquet(f"{out}/audit/canonical").collect()}
    assert audit["http://m.ex.com/story"]["collapsed"] is True
    assert audit["http://ex.com/spam"]["out_of_scope"] is True
    assert audit["http://ex.com/spam"]["collapsed"] is False

    # without url/html the flag is a loud error, not a silent no-op
    import pytest as _pytest

    bare = str(tmp_path / "docs12b")
    spark.createDataFrame(
        [(1, "a body")], "doc_id long, text string"
    ).write.parquet(bare)
    with _pytest.raises(ValueError, match="url and html"):
        run_job(spark, input_path=bare, output_path=str(tmp_path / "o12b"),
                canonical_scope="domain")


def _read_report(spark, path: str):
    """report parquet -> (the total row, {scope: language row})."""
    rows = spark.read.parquet(path).collect()
    (total,) = [r for r in rows if r["is_total"]]
    return total, {r["scope"]: r for r in rows if not r["is_total"]}


def test_curate_job_report_tier(spark, tmp_path):
    """Opt-in tier 9: the dataset-card rollup lands beside the corpus
    with the total row agreeing with n_final and the per-language docs
    summing to it."""
    inp = str(tmp_path / "docs9")
    out = str(tmp_path / "out9")
    rows = [
        (i, "the solid document number %d is here and it reads fine" % i,
         "en" if i % 3 else "de")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(inp)

    summary = run_job(spark, input_path=inp, output_path=out, write_report=True)
    assert summary["n_report_scopes"] == 3          # total + en + de
    total, rep = _read_report(spark, f"{out}/report")
    assert total["n_docs"] == summary["n_final"]
    assert rep["en"]["n_docs"] + rep["de"]["n_docs"] == total["n_docs"]
    assert total["n_hosts"] is None                 # no url column
    assert total["tokens_total"] == rep["en"]["tokens_total"] + rep["de"]["tokens_total"]


def test_curate_job_report_without_lang_and_with_mixture(spark, tmp_path):
    """The report tier tolerates a (doc_id, text)-only corpus (every
    doc in the null scope) and, when the mixture tier ran,
    describes the SHIPPED sample rather than the full corpus."""
    inp = str(tmp_path / "docs9b")
    out = str(tmp_path / "out9b")
    rows = [(i, "the solid document number %d is here and it reads fine" % i)
            for i in range(12)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
    summary = run_job(spark, input_path=inp, output_path=out, write_report=True)
    total, rep = _read_report(spark, f"{out}/report")
    assert set(rep) == {None}
    assert total["n_docs"] == rep[None]["n_docs"] == summary["n_final"] == 12

    inp2 = str(tmp_path / "docs9c")
    out2 = str(tmp_path / "out9c")
    rows2 = [(i, "the solid document number %d is here and it reads fine" % i,
              "en" if i % 3 else "de") for i in range(30)]
    spark.createDataFrame(
        rows2, "doc_id long, text string, lang string"
    ).write.parquet(inp2)
    summary2 = run_job(
        spark, input_path=inp2, output_path=out2,
        mixture_budget=10, write_report=True,
    )
    total2, _ = _read_report(spark, f"{out2}/report")
    assert total2["n_docs"] == summary2["n_sampled"]  # the shipped data
    assert total2["n_docs"] < summary2["n_final"]


def test_curate_job_spark_job_budget(spark, tmp_path, spark_jobs):
    """A default run with eval and report starts at most 35 Spark jobs:
    no tier read-back starts a schema-inference job of its own."""
    inp, ev = _html_inputs(spark, tmp_path)
    jobs = spark_jobs(lambda: run_job(
        spark, input_path=inp, output_path=str(tmp_path / "out_j"),
        eval_path=ev, decontam_n=3, write_report=True,
    ))
    assert jobs <= 35, jobs


def test_curate_job_warm_run_compiles_nothing(spark, tmp_path):
    """The session's codegen cache holds a whole curate job: a second
    identical run compiles no class."""
    inp, ev = _html_inputs(spark, tmp_path)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    for i in range(2):
        before = compiled.METRIC_COMPILATION_TIME().getCount()
        run_job(spark, input_path=inp, output_path=str(tmp_path / f"out_w{i}"),
                eval_path=ev, decontam_n=3, write_report=True)
        counts.append(compiled.METRIC_COMPILATION_TIME().getCount() - before)
    assert counts[1] == 0, counts


def test_write_tier_read_back_schema(spark, tmp_path, monkeypatch):
    """Every tier read-back of the curate and frontier jobs, a zero-row
    one included, carries the schema that inference reads from the
    written files: same columns, order, types and nullability."""
    import fusus_spark.jobs

    written = []

    def recording(df, path, **aggs):
        frame, seen = write_tier(df, path, **aggs)
        written.append((path, frame))
        return frame, seen

    write_tier = fusus_spark.jobs.write_tier
    monkeypatch.setattr(fusus_spark.jobs, "write_tier", recording)
    inp, ev = _html_inputs(spark, tmp_path)
    rb = str(tmp_path / "robots_s")
    spark.createDataFrame(
        [("ex.com", "User-agent: *\nDisallow: /g\n")], "host string, robots_txt string"
    ).write.parquet(rb)
    run_job(
        spark, input_path=inp, output_path=str(tmp_path / "out_s"), eval_path=ev,
        respect_robots=True, canonical_scope="domain", robots_txt_path=rb,
        cap_per_host=100, host_prior_min_rank_e9=0, passage_n=4, decontam_n=3,
        pack_target=25, mixture_budget=4, write_report=True,
    )
    # the frontier job's four tiers: fold-back delta, failure and feed
    # audits, schedule
    from fusus_spark.jobs import frontier_job

    fr = str(tmp_path / "frontier")
    spark.createDataFrame(
        [("http://a.com/x", "h0", "2026-01-01"), ("http://a.com/x", "h1", "2026-01-08")],
        "url string, content_hash string, crawl_date string",
    ).write.parquet(f"{fr}/store")
    spark.createDataFrame(
        [("http://a.com/x", 200, "h2")], "url string, http_status int, content_hash string"
    ).write.parquet(f"{fr}/fetches")
    spark.createDataFrame(
        [("http://a.com/x", "2026-01-09", 503)], "url string, crawl_date string, http_status int"
    ).write.parquet(f"{fr}/log")
    spark.createDataFrame(
        [("http://a.com/feed", "<rss><channel><item><link>http://a.com/y</link></item>"
          "</channel></rss>")], "feed_url string, xml string",
    ).write.parquet(f"{fr}/feeds")
    before = len(written)
    frontier_job.run_job(
        spark, snapshots_path=f"{fr}/store", output_path=f"{fr}/out",
        as_of_date="2026-01-20", fetch_results_path=f"{fr}/fetches",
        fetch_log_path=f"{fr}/log", feeds_path=f"{fr}/feeds",
    )
    assert len(written) - before == 4
    # zero rows, and columns that are not nullable before the write
    empty = spark.range(0).selectExpr("id AS doc_id", "array(id) AS ids")
    assert recording(empty, str(tmp_path / "empty"))[0].count() == 0
    assert len(written) >= 19
    for path, frame in written:
        assert frame.schema == spark.read.parquet(path).schema, path
