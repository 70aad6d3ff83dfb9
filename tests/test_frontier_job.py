"""Frontier cycle job: the crawl loop composed end to end over parquet
seams — fold-back delta, audit table, schedule — with the summary
derived from the WRITTEN tables (the job invariant)."""

from __future__ import annotations

from fusus_spark.jobs.frontier_job import run_job


def _write_store(spark, path):
    rows = []
    for i, d in enumerate(["2026-01-01", "2026-01-08", "2026-01-15"]):
        rows.append(("http://churn.com/a", f"h{i}", d))
        rows.append(("http://static.com/b", "same", d))
    spark.createDataFrame(
        rows, "url string, content_hash string, crawl_date string"
    ).write.mode("overwrite").parquet(path)


def test_frontier_job_end_to_end(spark, tmp_path, driver_actions):
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle1")
    _write_store(spark, store)

    spark.createDataFrame(
        [
            ("http://churn.com/a", 200, "h-new"),   # fresh observation
            ("http://static.com/b", 304, None),     # confirmed unchanged
            ("http://gone.com/x", 404, None),       # silent
        ],
        "url string, http_status int, content_hash string",
    ).write.mode("overwrite").parquet(str(tmp_path / "fetches"))

    spark.createDataFrame(
        [("https://s.com/sm.xml", "urlset", "http://new.com/p",
          None, None, 800_000)],
        "sitemap_url string, kind string, loc string, lastmod string, "
        "changefreq string, priority_e6 bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "sitemaps"))

    spark.createDataFrame(
        [("http://old.com/a", "http://moved.com/x", 1, True)],
        "url string, final_url string, hops int, terminal boolean",
    ).write.mode("overwrite").parquet(str(tmp_path / "redirects"))

    spark.createDataFrame(
        [("http://linker.com/p", "http://disc.com/q"),
         ("http://linker.com/p", "http://old.com/a")],  # shell: collapses
        "src_url string, resolved string",
    ).write.mode("overwrite").parquet(str(tmp_path / "links"))

    before = len(driver_actions)
    summary = run_job(
        spark,
        snapshots_path=store,
        output_path=out,
        as_of_date="2026-02-21",
        crawl_date="2026-01-22",  # the fold is LAST cycle's results
        fetch_results_path=str(tmp_path / "fetches"),
        sitemaps_path=str(tmp_path / "sitemaps"),
        redirects_path=str(tmp_path / "redirects"),
        links_path=str(tmp_path / "links"),
        k_per_host=10,
    )
    # the counts ride the writes; only the by_source group-by collects
    assert len(driver_actions) - before <= 1
    # 200 + confirmed 304; the 404 folds nothing
    assert summary["n_folded"] == 2
    assert summary["by_source"] == {
        "revisit": 2, "seed": 1, "redirect": 1, "link": 1,
    }
    assert summary["n_scheduled"] == 5
    assert summary["n_hosts"] == 5

    delta = {
        r["url"]: r["content_hash"]
        for r in spark.read.parquet(f"{out}/snapshots_delta").collect()
    }
    assert delta == {"http://churn.com/a": "h-new",
                     "http://static.com/b": "same"}
    # the folded 304 kept static.com static THROUGH the fold: its
    # schedule priority stays below the churner's
    sched = {r["url"]: r for r in
             spark.read.parquet(f"{out}/schedule").collect()}
    assert sched["http://churn.com/a"]["priority_e6"] > \
        sched["http://static.com/b"]["priority_e6"]
    assert sched["http://moved.com/x"]["source"] == "redirect"
    assert sched["http://disc.com/q"]["source"] == "link"
    assert "http://old.com/a" not in sched
    # audit table written
    hosts = {r["host"] for r in
             spark.read.parquet(f"{out}/audit/host_change").collect()}
    assert {"churn.com", "static.com"} <= hosts


def test_frontier_job_lastmod_announcement(spark, tmp_path):
    """--announce-boost: a sitemap lastmod newer than the static url's
    last snapshot lifts it ABOVE the churner this cycle — the announced
    change outranks the churn model."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle")
    _write_store(spark, store)
    spark.createDataFrame(
        [("https://s.com/sm.xml", "urlset", "http://static.com/b",
          "2026-02-01T00:00:00+00:00", None, None)],
        "sitemap_url string, kind string, loc string, lastmod string, "
        "changefreq string, priority_e6 bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "sitemaps"))

    run_job(
        spark,
        snapshots_path=store,
        output_path=out,
        as_of_date="2026-02-14",
        sitemaps_path=str(tmp_path / "sitemaps"),
        k_per_host=10,
        announce_boost_e6=900_000,
    )
    sched = {r["url"]: r for r in
             spark.read.parquet(f"{out}/schedule").collect()}
    # static.com/b: 3 snaps, 0 changes -> 300000 unboosted; the
    # announcement floors it at 900000, above the churner's 750000
    # (3 snaps, 2 changes -> smoothed 3/4, 30 days stale)
    assert sched["http://static.com/b"]["priority_e6"] == 900_000
    assert sched["http://churn.com/a"]["priority_e6"] == 750_000
    assert sched["http://static.com/b"]["source"] == "revisit"


def test_frontier_job_robots_budgets(spark, tmp_path):
    """--robots: a host whose Crawl-delay exceeds the cycle is skipped;
    an in-cycle delay caps its depth."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle")
    _write_store(spark, store)
    spark.createDataFrame(
        [
            ("static.com", "User-agent: *\nCrawl-delay: 7200\nDisallow: /x\n"),
        ],
        "host string, robots_txt string",
    ).write.mode("overwrite").parquet(str(tmp_path / "robots"))
    summary = run_job(
        spark, snapshots_path=store, output_path=out,
        as_of_date="2026-02-01", k_per_host=5,
        robots_path=str(tmp_path / "robots"), cycle_seconds=3600,
    )
    sched = {r["host"] for r in
             spark.read.parquet(f"{out}/schedule").collect()}
    assert sched == {"churn.com"}  # static.com's declared spacing > cycle
    assert summary["n_scheduled"] == 1


def test_frontier_job_dead_url_demotion(spark, tmp_path):
    """--fetch-log: a url with >= max-fails consecutive failures
    leaves the schedule; the stats land in the audit dir."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle")
    _write_store(spark, store)
    spark.createDataFrame(
        [("http://static.com/b", "2026-01-16", 404),
         ("http://static.com/b", "2026-01-17", 404),
         ("http://churn.com/a", "2026-01-16", 503),
         ("http://churn.com/a", "2026-01-17", 200)],
        "url string, crawl_date string, http_status int",
    ).write.mode("overwrite").parquet(str(tmp_path / "log"))
    summary = run_job(
        spark, snapshots_path=store, output_path=out,
        as_of_date="2026-02-01", k_per_host=5,
        fetch_log_path=str(tmp_path / "log"), max_consecutive_fails=2,
    )
    sched = {r["url"] for r in
             spark.read.parquet(f"{out}/schedule").collect()}
    assert sched == {"http://churn.com/a"}
    assert summary["n_scheduled"] == 1
    audit = {r["url"]: r["n_consecutive_fails"] for r in
             spark.read.parquet(f"{out}/audit/url_failures").collect()}
    assert audit["http://static.com/b"] == 2
    assert audit["http://churn.com/a"] == 0

    # this run's fresh 200 rescues a url the stale log calls dead:
    # fetch results feed the failure evidence too
    spark.createDataFrame(
        [("http://static.com/b", 200, "h-back")],
        "url string, http_status int, content_hash string",
    ).write.mode("overwrite").parquet(str(tmp_path / "fresh"))
    out2 = str(tmp_path / "cycle2")
    run_job(
        spark, snapshots_path=store, output_path=out2,
        as_of_date="2026-02-01", crawl_date="2026-01-25", k_per_host=5,
        fetch_results_path=str(tmp_path / "fresh"),
        fetch_log_path=str(tmp_path / "log"), max_consecutive_fails=2,
    )
    sched2 = {r["url"] for r in
              spark.read.parquet(f"{out2}/schedule").collect()}
    assert "http://static.com/b" in sched2


def test_frontier_job_minimal_supplies(spark, tmp_path):
    """Only the snapshot store: a pure-revisit cycle, no optional
    inputs, no fold-back."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle")
    _write_store(spark, store)
    summary = run_job(
        spark, snapshots_path=store, output_path=out,
        as_of_date="2026-02-01", k_per_host=1,
    )
    assert "n_folded" not in summary
    assert summary["by_source"] == {"revisit": 2}
    assert summary["n_scheduled"] == 2  # k=1 per host, two hosts


def test_frontier_job_feed_supply(spark, tmp_path):
    """--feeds: raw RSS xml parses per-cycle, the entries land as the
    discovery audit, a feed pubDate newer than the static url's last
    snapshot boosts it, and a never-crawled feed url seeds the queue —
    all through the SAME sitemap-supply path (no sitemaps given)."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "cycle")
    _write_store(spark, store)
    rss = ("<rss><channel>"
           "<item><link>http://static.com/b</link>"
           "<pubDate>Sun, 01 Feb 2026 08:00:00 GMT</pubDate></item>"
           "<item><link>http://new.com/from-feed</link></item>"
           "</channel></rss>")
    spark.createDataFrame(
        [("http://static.com/feed.xml", rss)], "feed_url string, xml string"
    ).write.mode("overwrite").parquet(str(tmp_path / "feeds"))

    summary = run_job(
        spark,
        snapshots_path=store,
        output_path=out,
        as_of_date="2026-02-14",
        feeds_path=str(tmp_path / "feeds"),
        k_per_host=10,
        announce_boost_e6=900_000,
    )
    assert summary["n_feed_entries"] == 2
    audit = spark.read.parquet(f"{out}/audit/feed_entries")
    assert audit.where("published is not null").count() == 1
    sched = {r["url"]: r for r in
             spark.read.parquet(f"{out}/schedule").collect()}
    # same numbers as the sitemap announcement test: the feed pubDate
    # (2026-02-01 > last snapshot 2026-01-15) floors static.com/b at
    # 900000, above the churner's 750000
    assert sched["http://static.com/b"]["priority_e6"] == 900_000
    assert sched["http://static.com/b"]["source"] == "revisit"
    assert sched["http://new.com/from-feed"]["source"] == "seed"
    assert sched["http://new.com/from-feed"]["priority_e6"] == 500_000
