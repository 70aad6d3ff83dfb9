"""Corpus curation job — the training-data pipeline composed end to end,
``spark-submit --py-files`` launchable like the extraction job:

    spark-submit --py-files dist/fusus_spark.zip \\
        fusus_spark/jobs/curate_job.py \\
        --input  <documents parquet dir> \\
        --output <curated corpus dir> \\
        [--eval <benchmark/eval parquet dir>]

Tier order is cheapest-signal-first so every tier shrinks the next
tier's input (the CCNet / RefinedWeb macro shape):

    0. robots opt-out (optional) (pages declaring meta noindex are
                                  dropped — publisher consent first;
                                  pure map-side filter, the cheapest
                                  tier of all)
    1a. declared-canonical collapse (optional) (pages declaring
                                  rel=canonical fold into the nominated
                                  page, RFC 6596 — scoped to the same
                                  registrable domain; the cheapest
                                  cross-url dedup, the page hands us
                                  the cluster key)
    1. canonical-URL dedup       (one shuffle on the canonical key)
    1b. host policy (optional)   (domain blocklist broadcast anti-join +
                                  sort-free per-host cap; metadata only)
    1c. webgraph host prior      (optional; RefinedWeb-style: hosts the
                                  link graph ranks below a PageRank
                                  floor are dropped — ranks from
                                  --pagerank parquet or computed from
                                  the docs' html; audit tables carry
                                  the ranks and inbound anchor texts)
    2. exact content dedup       (one shuffle on md5(text))
    3. corpus-level line dedup   (rewrites text; drops no document)
    3b. passage dedup (optional) (Lee-et-al window-hash substring dedup;
                                  rewrites text; drops no document)
    4. quality gate              (map-side Gopher rules, audit reasons)
    5. eval-set decontamination  (broadcast n-gram report, anti-join)
    6. PII redaction             (zero-shuffle regexp chain)
    7. packing plan (optional)   (pack_sequences over the final corpus:
                                  the training-sample grouping table)
    8. mixture sampling (optional) (temperature-flattened n^alpha
                                  per-stratum rates over the final
                                  corpus -> corpus_sampled; the full
                                  corpus stays on disk for audit)

Every tier writes an AUDIT table under ``<output>/audit/`` and its
summary counts are observed on that write (``jobs.write_tier``), so no
statistic costs a Spark action. Two driver actions remain: the
``n_input`` parquet count (no tier writes the input) and the
``n_canonical_groups`` distinct count (no observation can express one);
a default run spends only the first. A tier's table is read back with
the schema it was written with, so no read-back starts a
schema-inference job; only the input, eval and option tables are read
with inference. A default run with eval and report thus starts ~35
one-task Spark jobs. A run generates ~136 classes; in a session built
by ``session.get_spark`` (whose codegen cache holds them all) a
repeated run compiles none of them again. ``main()`` runs one job per
session, which compiles about 136 with or without that cache: the
cache pays only where jobs repeat in one session.
Text rewritten by line dedup is materialized to ``<output>/stage/``
and read back, truncating lineage so the gate/decontam/PII tiers
re-plan from columnar parquet instead of re-executing three shuffles
per downstream action; tiers 0b, 1a, 1b and 1c stage their survivors
the same way.

Scale notes: the keep-set joins (url, doc_id) are large-with-large and
shuffle by design; on a real deployment both sides come from the same
bucketed/Iceberg layout as the extraction job, so they co-locate.
Restartability here is per-stage (each tier's output is an idempotent
overwrite); per-bucket lineage a la jobs/extract_job.py applies
unchanged if a tier needs finer restart units at 100 TB.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F

from fusus_spark.session import configure


def run_job(
    spark: SparkSession,
    *,
    input_path: str,
    output_path: str,
    eval_path: str | None = None,
    respect_robots: bool = False,
    canonical_scope: str | None = None,
    robots_txt_path: str | None = None,
    robots_agent: str = "*",
    block_domains_path: str | None = None,
    cap_per_host: int | None = None,
    host_prior_min_rank_e9: int | None = None,
    pagerank_path: str | None = None,
    min_dup_docs: int = 2,
    passage_n: int | None = None,
    decontam_n: int = 13,
    stop_lang: str = "en",
    pack_target: int | None = None,
    mixture_budget: int | None = None,
    mixture_alpha_e6: int = 700_000,
    mixture_strata: str = "lang",
    write_report: bool = False,
) -> dict:
    """The job body, session-agnostic (tests drive it directly).

    Input: parquet with at least (doc_id, text); ``url`` enables tier 1.
    Returns the summary dict (also printed by main as one JSON line).
    """
    from fusus_spark.functions.url import dedup_by_canonical_url
    from fusus_spark.jobs import write_tier
    from fusus_spark.operators.curate import (
        curation_gate,
        decontaminate,
        dedup_lines,
        dedup_passages,
        redact_pii,
    )
    from fusus_spark.operators.dedup import exact_duplicates

    out = output_path.rstrip("/")
    docs = spark.read.parquet(input_path)
    summary: dict = {"n_input": docs.count()}

    def write(df, table: str, **aggs):
        # write_tier under <output>; its observed stats join the summary
        frame, seen = write_tier(df, f"{out}/{table}", **aggs)
        summary.update(seen)
        return frame

    # 0. optional robots opt-out (needs html): publisher consent before
    # any other spend — a noindex page must not even pay for dedup.
    # The signals table is the audit; the filter itself is map-side.
    if respect_robots and "html" in docs.columns:
        from fusus_spark.operators.robots import apply_robots_optout, robots_signals

        write(robots_signals(docs), "audit/robots",
              n_after_robots=F.count_if(~F.col("noindex")))
        docs = apply_robots_optout(docs)

    # 0b. optional robots.txt rules — the FILE half of the consent
    # protocol (RFC 9309), fed from a (host, robots_txt) parquet the
    # fetch layer produced. The parsed rules table is the audit; the
    # filtered docs are materialized like tier 1b.
    if robots_txt_path is not None and "url" in docs.columns:
        from fusus_spark.operators.robots import apply_robots_txt, robots_txt_rules

        rules = write(
            robots_txt_rules(spark.read.parquet(robots_txt_path), agent=robots_agent),
            "audit/robots_txt_rules",
        )
        docs = write(apply_robots_txt(docs, rules), "stage/robots_txt",
                     n_after_robots_txt=F.count("*"))

    # 1a. optional declared-canonical collapse (RFC 6596): pages that
    # DECLARE their duplicate-ness via rel=canonical fold into the
    # nominated page before any heuristic comparison runs — it catches
    # alternates content dedup can miss (a print view rendered with
    # different chrome). Signals are computed on the CURRENT docs (post
    # consent tiers), never reused from the tier-0 audit: a
    # representative tier 0 dropped must not take its whole cluster
    # down through the semi-join. The mapping table is the audit;
    # survivors (one representative per declared group) are staged.
    if canonical_scope is not None:
        if "url" not in docs.columns or "html" not in docs.columns:
            raise ValueError(
                "canonical collapse needs url and html columns"
            )
        from fusus_spark.operators.canonical import (
            apply_canonical_collapse,
            canonical_collapse,
        )
        from fusus_spark.operators.robots import robots_signals

        mapped = canonical_collapse(
            robots_signals(docs).select("url", "canonical_href"),
            scope=canonical_scope,
        )
        mapped = write(mapped, "audit/canonical")
        # n_after_* keys are SURVIVING ROW counts everywhere in this
        # summary (input urls need not be unique — a representative url
        # present at two snapshots keeps both rows); the declared-group
        # count is its own key, a distinct count: one driver action
        docs = write(apply_canonical_collapse(docs, mapped), "stage/canonical",
                     n_after_canonical=F.count("*"))
        summary["n_canonical_groups"] = (
            mapped.select("canonical_target").distinct().count()
        )

    # 1. canonical-URL dedup (cheapest tier; only if a url column exists)
    if "url" in docs.columns:
        is_rep = F.col("url") == F.col("rep_url")
        url_audit = write(dedup_by_canonical_url(docs), "audit/url_dedup",
                          n_after_url_dedup=F.count_if(is_rep))
        docs = docs.join(url_audit.where(is_rep).select("url"), "url")

    # 1b. optional host policy (needs urls); host_stats written as the
    # audit table so the cap/block decisions are inspectable. The policy
    # result is MATERIALIZED like tier 3's (`is not None` guard:
    # cap_per_host=0 is a legal, maximally aggressive cap).
    if (
        block_domains_path is not None or cap_per_host is not None
    ) and "url" in docs.columns:
        from fusus_spark.operators.curate import apply_host_policy, host_stats

        host_stats(docs).write.mode("overwrite").parquet(f"{out}/audit/host_stats")
        block = (
            spark.read.parquet(block_domains_path) if block_domains_path else None
        )
        docs = write(
            apply_host_policy(docs, block_domains=block, cap_per_host=cap_per_host),
            "stage/host_policy", n_after_host_policy=F.count("*"),
        )

    # 1c. optional webgraph host prior (RefinedWeb-style): the crawl's
    # own link structure as a host-quality gate. Ranks come from a
    # precomputed crawl-wide parquet (--pagerank, the at-scale shape:
    # the graph is built once per crawl, not per curation run) or are
    # computed here from the docs' html (parquet-checkpointed rounds).
    # Hosts ranked BELOW the floor are dropped; hosts ABSENT from the
    # graph (and unparseable urls) are kept — absence of link evidence
    # is not evidence of spam, the same bypass philosophy as the
    # host-policy cap. Audit: the full rank table, plus top-k inbound
    # anchor texts when html is available (how the web describes each
    # host — the human-review side of the same signal).
    if host_prior_min_rank_e9 is not None and "url" in docs.columns:
        from fusus_spark.functions.url import url_host
        from fusus_spark.operators.webgraph import host_anchor_texts, host_pagerank

        if pagerank_path is not None:
            ranks = spark.read.parquet(pagerank_path)
        elif "html" in docs.columns:
            ranks = host_pagerank(docs, checkpoint_dir=f"{out}/stage/pagerank_ck")
        else:
            raise ValueError(
                "host prior needs --pagerank or an html column to build the graph"
            )
        ranks = write(ranks, "audit/host_pagerank")
        if "html" in docs.columns:
            host_anchor_texts(docs).write.mode("overwrite").parquet(
                f"{out}/audit/host_anchors"
            )
        low = ranks.where(F.col("rank_e9") < host_prior_min_rank_e9).select(
            F.col("host").alias("__low_host__")
        )
        docs = write(
            docs.join(
                low, url_host(F.col("url")) == F.col("__low_host__"), "left_anti"
            ),
            "stage/host_prior", n_after_host_prior=F.count("*"),
        )

    # 2. exact content dedup (keep the min-id representative)
    is_rep = F.col("doc_id") == F.col("rep_id")
    ex_audit = write(exact_duplicates(docs), "audit/exact_dedup",
                     n_after_exact_dedup=F.count_if(is_rep))
    docs = docs.join(ex_audit.where(is_rep).select("doc_id"), "doc_id")

    # 3. corpus-level line dedup -> rewritten text, materialized
    ld = dedup_lines(docs, min_dup_docs=min_dup_docs)
    passthrough = [c for c in docs.columns if c != "text"]
    staged = write(
        docs.select(*passthrough).join(
            ld.select(
                "doc_id", "n_lines", "n_kept", F.col("text_dedup").alias("text")
            ),
            "doc_id",
        ),
        "stage/deduped",
        n_dup_lines_removed=F.coalesce(F.sum(F.expr("n_lines - n_kept")), F.lit(0)),
    )

    # 3b. optional passage dedup on the line-deduped text (off by
    # default: the window-hash index costs a corpus-tokens-sized shuffle,
    # so the tier is opt-in where exact substring dedup is wanted)
    if passage_n is not None:
        pdup = dedup_passages(staged, n=passage_n)
        passthrough = [c for c in staged.columns if c != "text"]
        staged = write(
            staged.select(*passthrough).join(
                pdup.select("doc_id", F.col("n_removed").alias("n_passage_removed"),
                            F.col("text_dedup").alias("text")),
                "doc_id",
            ),
            "stage/passage_deduped",
            n_passage_tokens_removed=F.coalesce(F.sum("n_passage_removed"), F.lit(0)),
        )

    # 4. quality gate on the deduped text
    gate = write(curation_gate(staged, stop_lang=stop_lang), "audit/gate",
                 n_after_gate=F.count_if("keep"))
    kept = staged.join(gate.where("keep").select("doc_id"), "doc_id")

    # 5. eval-set decontamination (optional)
    summary["n_contaminated"] = 0
    if eval_path is not None:
        ev = spark.read.parquet(eval_path)
        report = write(decontaminate(kept, ev, n=decontam_n), "audit/contamination",
                       n_contaminated=F.count("*"))
        kept = kept.join(
            F.broadcast(report.select("doc_id")), "doc_id", "left_anti"
        )

    # 6. PII redaction -> final corpus
    corpus = write(
        redact_pii(kept).drop("text").withColumnRenamed("text_redacted", "text"),
        "corpus",
        n_final=F.count("*"),
        n_pii_redacted=sum(
            F.coalesce(F.sum(c), F.lit(0)) for c in ("n_email", "n_ipv4", "n_phone")
        ),
    )

    # 7. optional packing plan over the final corpus (the curated docs'
    # training-sequence assignment — written beside the corpus so a
    # trainer consumes both without re-deriving token counts)
    if pack_target is not None:
        if pack_target <= 0:
            raise ValueError("pack_target must be a positive token count")
        from fusus_spark.operators.curate import pack_sequences

        # one seq_pos = 1 row per (shard, seq_id) sequence
        write(pack_sequences(corpus, target_tokens=pack_target), "packing",
              n_sequences=F.count_if(F.col("seq_pos") == 1))

    # 8. optional temperature mixture sampling over the final corpus:
    # the n^alpha flattened per-stratum rates are written as the audit
    # (the rate table IS the mixture decision), the sampled ids join
    # back map-side, and the full corpus stays on disk above it.
    shipped = corpus
    if mixture_budget is not None:
        if mixture_budget <= 0:
            raise ValueError("mixture_budget must be a positive doc count")
        from fusus_spark.operators.curate import (
            mixture_ppm,
            stratified_sample_by_table,
        )

        rates = mixture_ppm(
            corpus, budget_docs=mixture_budget,
            alpha_e6=mixture_alpha_e6, strata_col=mixture_strata,
        )
        rates = write(rates, "audit/mixture_ppm")
        picked = stratified_sample_by_table(
            corpus, rates, strata_col=mixture_strata
        ).select("doc_id")
        shipped = write(corpus.join(picked, "doc_id"), "corpus_sampled",
                        n_sampled=F.count("*"))

    # 9. optional dataset-card report: the per-language rollup a
    # release ships next to the data — computed over the corpus that
    # SHIPS (the mixture sample when tier 8 ran, else the full curated
    # corpus; the card must describe the data it sits next to). Scope
    # rows are few, so the parquet is tiny. (The decontam tier reuses
    # the local name 'report' for its audit frame — the flag is
    # write_report to stay out of its way.)
    if write_report:
        from fusus_spark.operators.curate import corpus_report

        write(
            corpus_report(shipped, url_col="url" if "url" in shipped.columns else None),
            "report", n_report_scopes=F.count("*"),
        )
    return summary


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet dir")
    p.add_argument("--output", required=True, help="curated corpus output dir")
    p.add_argument("--eval", help="benchmark/eval parquet dir for decontamination")
    p.add_argument("--report", action="store_true",
                   help="write the per-language dataset-card rollup "
                        "(corpus_report) beside the corpus; describes the "
                        "SHIPPED data (corpus_sampled when --mixture-budget "
                        "ran, else the full curated corpus)")
    p.add_argument("--respect-robots", action="store_true",
                   help="drop pages declaring meta robots noindex "
                        "(tier 0, needs an html column)")
    p.add_argument("--canonical-scope", choices=("domain", "host", "any"),
                   default=None,
                   help="collapse pages onto their declared rel=canonical "
                        "target within this scope (tier 1a, needs url and "
                        "html columns; off when absent)")
    p.add_argument("--robots-txt",
                   help="(host, robots_txt) parquet dir: apply RFC 9309 "
                        "robots.txt rules as tier 0b (needs a url column)")
    p.add_argument("--robots-agent", default="*",
                   help="user-agent product token for robots.txt group "
                        "selection (default '*')")
    p.add_argument("--block-domains",
                   help="parquet dir with a 1-column domain blocklist (tier 1b)")
    p.add_argument("--cap-per-host", type=int, default=None,
                   help="approximate per-host document cap (tier 1b)")
    p.add_argument("--host-prior-min-rank-e9", type=int, default=None,
                   help="drop hosts the link graph ranks below this "
                        "e9-scaled PageRank floor (tier 1c, off when absent)")
    p.add_argument("--pagerank",
                   help="precomputed (host, rank_e9) parquet for tier 1c "
                        "(otherwise built from the docs' html column)")
    p.add_argument("--min-dup-docs", type=int, default=2)
    p.add_argument(
        "--passage-n", type=int, default=None,
        help="token-window size for the optional passage-dedup tier (off when absent)",
    )
    p.add_argument("--decontam-n", type=int, default=13)
    p.add_argument("--stop-lang", default="en")
    p.add_argument("--pack-target", type=int, default=None,
                   help="emit <output>/packing via pack_sequences at this "
                        "token target (tier 7, off when absent)")
    p.add_argument("--mixture-budget", type=int, default=None,
                   help="emit <output>/corpus_sampled at this doc budget "
                        "via n^alpha temperature mixture (tier 8)")
    p.add_argument("--mixture-alpha-e6", type=int, default=700_000,
                   help="e6-scaled temperature alpha (1e6 proportional, "
                        "0 uniform across strata)")
    p.add_argument("--mixture-strata", default="lang",
                   help="stratum column for the mixture (e.g. lang)")
    args = p.parse_args(argv)

    spark = configure(SparkSession.builder.appName("fusus-curate")).getOrCreate()
    summary = run_job(
        spark,
        input_path=args.input,
        output_path=args.output,
        eval_path=args.eval,
        respect_robots=args.respect_robots,
        canonical_scope=args.canonical_scope,
        robots_txt_path=args.robots_txt,
        robots_agent=args.robots_agent,
        block_domains_path=args.block_domains,
        cap_per_host=args.cap_per_host,
        host_prior_min_rank_e9=args.host_prior_min_rank_e9,
        pagerank_path=args.pagerank,
        min_dup_docs=args.min_dup_docs,
        passage_n=args.passage_n,
        decontam_n=args.decontam_n,
        stop_lang=args.stop_lang,
        pack_target=args.pack_target,
        mixture_budget=args.mixture_budget,
        mixture_alpha_e6=args.mixture_alpha_e6,
        mixture_strata=args.mixture_strata,
        write_report=args.report,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
