"""Crawl-frontier cycle job — one scheduling cycle of the crawl loop
composed end to end, ``spark-submit --py-files`` launchable like the
extraction and curation jobs:

    spark-submit --py-files dist/fusus_spark.zip \\
        fusus_spark/jobs/frontier_job.py \\
        --snapshots <(url, content_hash, crawl_date) parquet dir> \\
        --output    <cycle output dir> \\
        --as-of-date 2026-02-01 \\
        [--fetch-results <(url, http_status, content_hash) parquet>] \\
        [--sitemaps  <parse_sitemap_entries output parquet>] \\
        [--feeds     <raw (feed_url, xml) RSS/Atom parquet>] \\
        [--redirects <resolve_redirects output parquet>] \\
        [--links     <resolve_links output parquet>]

Stage order mirrors the loop the operators define:

    0. fold-back (optional)   (extend_snapshots over --fetch-results:
                               the PREVIOUS cycle's 200s/304s become
                               snapshot rows BEFORE this cycle scores —
                               a saved fetch must count as evidence the
                               same cycle it happens; the delta is
                               written to <output>/snapshots_delta for
                               the caller to append to the store)
    1. churn evidence         (url_change_stats over store + delta;
                               host_change_stats written as audit)
    2. unified fetch queue    (fetch_queue: revisit + optional
                               sitemap-seed / redirect-target /
                               link-discovery supplies, precedence-
                               ordered, one row per url; --fetch-log
                               demotes dead urls — >= max-fails
                               consecutive failures — with the stats
                               written as the demotion audit;
                               --announce-boost turns sitemap lastmods
                               newer than a url's last snapshot into
                               revisit-priority floors)
    3. politeness schedule    (schedule_fetches top-k per host ->
                               <output>/schedule, the cycle's work
                               list; --robots harvests Crawl-delays
                               into per-host budget overrides)

Summary counts are observed on the stage writes (``jobs.write_tier``);
the one driver action is the ``by_source`` group-by over the written
schedule (data-valued keys: no fixed observation can hold it). Output is
an idempotent overwrite per cycle directory — the restart unit is the
cycle, matching the operators' own "recompute one queue build" story;
the snapshot STORE itself is only ever appended to by the caller from
the written delta, so a crashed cycle never corrupts history.

Scale notes: every stage is the audited operator plan (plan_audit
frames for url_change_stats' window, fetch_queue's anti-join union,
schedule_fetches' per-host window) — the job adds only parquet IO at
the seams, no new shuffles.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F

from fusus_spark.session import configure

_SITEMAP_SCHEMA = (
    "sitemap_url string, kind string, loc string, "
    "lastmod string, changefreq string, priority_e6 bigint"
)
_SITEMAP_COLS = [
    "sitemap_url", "kind", "loc", "lastmod", "changefreq", "priority_e6"
]


def run_job(
    spark: SparkSession,
    *,
    snapshots_path: str,
    output_path: str,
    as_of_date: str,
    fetch_results_path: str | None = None,
    sitemaps_path: str | None = None,
    feeds_path: str | None = None,
    redirects_path: str | None = None,
    links_path: str | None = None,
    robots_path: str | None = None,
    robots_agent: str = "*",
    cycle_seconds: int = 3600,
    fetch_log_path: str | None = None,
    max_consecutive_fails: int = 3,
    crawl_date: str | None = None,
    hash_col: str = "content_hash",
    halflife_days: int = 30,
    k_per_host: int = 100,
    announce_boost_e6: int | None = None,
) -> dict:
    """The job body, session-agnostic (tests drive it directly).

    ``crawl_date`` stamps the fold-back rows (defaults to
    ``as_of_date`` — the cycle observes "now"). Returns the summary
    dict (also printed by main as one JSON line).
    """
    from fusus_spark.jobs import write_tier
    from fusus_spark.operators.frontier import (
        extend_snapshots,
        fetch_queue,
        host_change_stats,
        schedule_fetches,
        url_change_stats,
    )

    out = output_path.rstrip("/")
    snaps = spark.read.parquet(snapshots_path)
    summary: dict = {"as_of_date": as_of_date}

    # 0. fold the previous cycle's fetch results into the evidence
    # BEFORE scoring; persist the delta so the caller can append it to
    # the store (the job never mutates the store in place).
    if fetch_results_path is not None:
        delta, seen = write_tier(
            extend_snapshots(
                snaps,
                spark.read.parquet(fetch_results_path),
                crawl_date=crawl_date or as_of_date,
                hash_col=hash_col,
            ),
            f"{out}/snapshots_delta", n_folded=F.count("*"),
        )
        summary.update(seen)
        snaps = snaps.select(delta.columns).unionByName(delta)

    # 1. churn evidence; the host rollup is the cycle's audit table.
    # Snapshot the stats HERE: the audit write and fetch_queue both
    # consume them, and without it the store scan + churn window run
    # twice (fetch_queue's own re-checkpoint of the checkpointed frame
    # is then cheap).
    stats = url_change_stats(snaps, hash_col=hash_col).localCheckpoint()
    host_change_stats(stats).write.mode("overwrite").parquet(
        f"{out}/audit/host_change"
    )

    # 2. the unified queue over whichever supplies this deployment has;
    # an accumulated fetch log demotes dead urls and its per-url stats
    # are written as the demotion audit
    failures = None
    if fetch_log_path is not None:
        from fusus_spark.operators.frontier import url_failure_stats

        log = spark.read.parquet(fetch_log_path).select(
            "url", "crawl_date", "http_status"
        )
        if fetch_results_path is not None:
            # THIS run's results count as failure evidence too — else a
            # url whose fresh 200 was just folded into the snapshots
            # could be demoted by a stale log the same cycle
            log = log.unionByName(
                spark.read.parquet(fetch_results_path).select(
                    "url",
                    F.lit(crawl_date or as_of_date).alias("crawl_date"),
                    "http_status",
                )
            )
        failures, _ = write_tier(url_failure_stats(log), f"{out}/audit/url_failures")
    sitemaps = (
        spark.read.parquet(sitemaps_path)
        if sitemaps_path is not None
        else spark.createDataFrame([], _SITEMAP_SCHEMA)
    )
    # feeds are the second announce channel: raw (feed_url, xml) rows
    # parse per-cycle (feeds are small and change every cycle — caching
    # parsed entries would just go stale) and fold into the SAME
    # sitemap-seed/announce supply; the parsed entries are written as
    # the discovery audit
    if feeds_path is not None:
        from fusus_spark.operators.frontier import (
            feed_entries_as_announcements,
            parse_feed_entries,
        )

        entries, seen = write_tier(
            parse_feed_entries(spark.read.parquet(feeds_path)),
            f"{out}/audit/feed_entries", n_feed_entries=F.count("*"),
        )
        summary.update(seen)
        sitemaps = sitemaps.select(_SITEMAP_COLS).unionByName(
            feed_entries_as_announcements(entries).select(_SITEMAP_COLS)
        )
    queue = fetch_queue(
        stats,
        sitemaps,
        as_of_date=as_of_date,
        halflife_days=halflife_days,
        redirects=(
            spark.read.parquet(redirects_path)
            if redirects_path is not None
            else None
        ),
        links=(
            spark.read.parquet(links_path) if links_path is not None else None
        ),
        failures=failures,
        max_consecutive_fails=max_consecutive_fails,
        announce_boost_e6=announce_boost_e6,
    )

    # 3. the politeness-capped work list — the cycle's deliverable.
    # With a (host, robots_txt) parquet, harvested Crawl-delays become
    # per-host budget overrides (k=0 skips a host whose declared
    # spacing exceeds the cycle).
    budgets = None
    if robots_path is not None:
        from fusus_spark.operators.frontier import host_budgets_from_delays
        from fusus_spark.operators.robots import robots_crawl_delays

        budgets = host_budgets_from_delays(
            robots_crawl_delays(
                spark.read.parquet(robots_path), agent=robots_agent
            ),
            cycle_seconds=cycle_seconds,
            k_per_host=k_per_host,
        )
    # ranked per host, so each scheduled host has one rank_in_host = 1 row
    sched, seen = write_tier(
        schedule_fetches(queue, k_per_host=k_per_host, host_budgets=budgets),
        f"{out}/schedule",
        n_scheduled=F.count("*"),
        n_hosts=F.count_if(F.col("rank_in_host") == 1),
    )
    summary.update(seen)
    summary["by_source"] = {
        r["source"]: r["n"]
        for r in sched.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    return summary


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--snapshots", required=True,
                   help="(url, content_hash, crawl_date) snapshot store parquet")
    p.add_argument("--output", required=True, help="cycle output dir")
    p.add_argument("--as-of-date", required=True,
                   help="the cycle's scoring date (YYYY-MM-DD)")
    p.add_argument("--fetch-results",
                   help="previous cycle's (url, http_status, content_hash) parquet "
                        "to fold into the evidence first")
    p.add_argument("--sitemaps", help="parse_sitemap_entries output parquet")
    p.add_argument("--feeds",
                   help="raw (feed_url, xml) RSS/Atom parquet; entries parse "
                        "per-cycle and join the sitemap-seed/announce supply")
    p.add_argument("--redirects", help="resolve_redirects output parquet")
    p.add_argument("--links", help="resolve_links output parquet")
    p.add_argument("--robots",
                   help="(host, robots_txt) parquet; harvested Crawl-delays "
                        "become per-host schedule budgets")
    p.add_argument("--robots-agent", default="*",
                   help="product token for the governing robots group")
    p.add_argument("--cycle-seconds", type=int, default=3600,
                   help="cycle length the Crawl-delay budgets divide into")
    p.add_argument("--fetch-log",
                   help="accumulated (url, crawl_date, http_status) parquet; "
                        "dead urls (>= max-fails consecutive failures) are "
                        "demoted and the stats written as audit")
    p.add_argument("--max-fails", type=int, default=3)
    p.add_argument("--crawl-date",
                   help="date stamped on folded fetch results (default: as-of-date)")
    p.add_argument("--hash-col", default="content_hash",
                   help="change-signal column (content_hash or a validator like etag)")
    p.add_argument("--halflife-days", type=int, default=30)
    p.add_argument("--announce-boost", type=int, default=None,
                   help="priority-e6 floor for revisit urls whose sitemap "
                        "<lastmod> is newer than their last snapshot "
                        "(publisher change announcements; off by default)")
    p.add_argument("--k-per-host", type=int, default=100)
    a = p.parse_args(argv)

    spark = configure(SparkSession.builder.appName("fusus-frontier")).getOrCreate()
    summary = run_job(
        spark,
        snapshots_path=a.snapshots,
        output_path=a.output,
        as_of_date=a.as_of_date,
        fetch_results_path=a.fetch_results,
        sitemaps_path=a.sitemaps,
        feeds_path=a.feeds,
        redirects_path=a.redirects,
        links_path=a.links,
        robots_path=a.robots,
        robots_agent=a.robots_agent,
        cycle_seconds=a.cycle_seconds,
        fetch_log_path=a.fetch_log,
        max_consecutive_fails=a.max_fails,
        crawl_date=a.crawl_date,
        hash_col=a.hash_col,
        halflife_days=a.halflife_days,
        k_per_host=a.k_per_host,
        announce_boost_e6=a.announce_boost,
    )
    print(json.dumps(summary, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
