"""Physical-plan audit: .explain('formatted') for the registry queries
and the operators beyond it.

Checks the plans Catalyst actually builds:
  * config-sized sides (eval n-grams, blocklists, the bigram model) are
    broadcast (BroadcastHashJoin, not SortMergeJoin),
  * aggregations are partial+final (no single-stage agg),
  * map-side tiers are whole-stage codegen'd and shuffle-free,
  * windows partition by a key, never one global partition,
  * no all-pairs operator where a blocked equi-join is claimed,
  * the extraction stage has exactly one MapInArrow over one scan.

A CHECKS name resolves to a registry query first, else to an
``_extra_frames`` builder.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    # the words/removals tables are a JVM inline (Generate) of the
    # stage's nested arrays, not a second python pass or a row filter.
    # One extraction lane: one MapInArrow over one documents scan, no
    # size-routed union (the session's Arrow byte cap bounds batches)
    "extract_words": [("MapInArrow", 1), ("Scan parquet", 1), ("Union", False),
                      ("Generate", True), ("Exchange", None)],
    "extract_text": [("MapInArrow", 1), ("Scan parquet", 1), ("Union", False)],
    "extract_words_hard": [("MapInArrow", 1), ("Scan parquet", 1), ("Union", False)],
    "extract_text_hard": [("MapInArrow", 1), ("Scan parquet", 1), ("Union", False)],
    # removals come from the SAME fused pass as words/envelopes: exactly
    # one MapInArrow node, and no second python stage (int = exact count
    # of plan-detail nodes '(n) <op>')
    "extract_removals": [("MapInArrow", 1), ("Generate", True), ("MapInPandas", False)],
    "token_stats": [("codegen id", True)],  # whole-stage codegen spans
    "knn_bruteforce": [("BroadcastNestedLoopJoin", None), ("Window", True)],
    "dedup_minhash_lsh": [("HashAggregate", True)],
    # top-k must be the distributed TakeOrderedAndProject, not a global
    # single-partition window over the full aggregate
    "top_words": [("TakeOrderedAndProject", True)],
    # the LSH candidate join must be an equi-join on the band keys —
    # required=False asserts the all-pairs operators are ABSENT
    "dedup_embedding": [
        ("BroadcastNestedLoopJoin", False),
        ("CartesianProduct", False),
    ],
    # the bigram model must come from scans of the SOURCE, not from a
    # corpus-sized localCheckpoint (which would show as Scan ExistingRDD)
    "quality_xent": [("Scan ExistingRDD", False), ("BroadcastHashJoin", True)],
    # SimHash: the candidate join must key on the Manku composite block
    # keys (block_key), with no all-pairs operator anywhere
    "dedup_simhash": [
        ("block_key", True),
        ("BroadcastNestedLoopJoin", False),
        ("CartesianProduct", False),
    ],
    # PassJoin blocking: only equi-joins on (lang, chunk, segment) keys
    "levenshtein_pairs": [
        ("BroadcastNestedLoopJoin", False),
        ("CartesianProduct", False),
    ],
    # (dedup_jaccard's df-cap anti-join runs inside the eager
    # localCheckpoint, so it is invisible to the final explain —
    # covered by the oracle instead)
    # merged sink: cogrouped aligner + forward-fill window
    "align_merged": [("FlatMapCoGroupsInPandas", True), ("Window", True)],
    # decontamination: the gram join must be broadcast (eval side is
    # config-sized), never a shuffle or all-pairs join. n-gram tiers:
    # ``slice`` must read a projected token column — a tokenizer
    # expression (CASE WHEN length(trim(regexp_replace ...))) inside the
    # shingles lambda, or re-inlined into an inferred scan filter,
    # re-tokenizes the text once per n-gram
    "decontaminate": [
        ("BroadcastHashJoin", True),
        ("SortMergeJoin", False),
        ("CartesianProduct", False),
        ("slice(CASE WHEN", False),
    ],
    # line dedup: bounded-key equi-joins only
    "dedup_lines": [
        ("HashAggregate", True),
        ("BroadcastNestedLoopJoin", False),
        ("CartesianProduct", False),
    ],
    # PII redaction claims ZERO shuffle: the only Exchange is the
    # small-file round-robin inside sources.testdata.load
    "redact_pii": [("Exchange", 1), ("codegen id", True)],
    # passage dedup: window-hash inverted index — bounded equi-joins
    # only, never an all-pairs operator
    "dedup_passages": [
        ("HashAggregate", True),
        ("BroadcastNestedLoopJoin", False),
        ("CartesianProduct", False),
        ("slice(CASE WHEN", False),
    ],
    # packing must window PER SHARD — a global cumsum would show as an
    # Exchange SinglePartition feeding the Window
    "pack_sequences": [("Window", True), ("Exchange SinglePartition", False)],
    # host policy: blocklist is a broadcast anti-join; no all-pairs
    "apply_host_policy": [
        ("BroadcastHashJoin", True),
        ("CartesianProduct", False),
    ],
    # incremental verify scan must carry the prefix partition filter
    # (directory pruning), not read all 256 store partitions
    "incremental_dedup": [("PartitionFilters: [prefix", True)],
    # splitting claims zero shuffle beyond the testdata-load repartition
    "split_oversize": [("Exchange", 1), ("Generate", True)],
    # split assignment is one map-side projection: no shuffle, no join
    "assign_split": [("Exchange", 1), ("SortMergeJoin", False)],
    # link harvest is a pure map-side scan+explode (no shuffle beyond
    # the testdata-load repartition)
    "extract_links": [("Exchange", 1), ("Generate", True)],
    # host graph: distinct edge agg + degree aggs, never all-pairs
    "host_link_stats": [("HashAggregate", True), ("CartesianProduct", False)],
    # quality gate is map-side projections only (no shuffle beyond the
    # testdata-load repartition), fully codegen'd; tokens projected once
    "curation_gate": [("Exchange", 1), ("codegen id", True), ("slice(CASE WHEN", False)],
    # per-host rollup: one partial+final agg, never all-pairs
    "host_stats": [("HashAggregate", True), ("CartesianProduct", False)],
    # Gopher repetition signals: map-side array folds, zero shuffle
    "repetition_stats": [("Exchange", 1), ("codegen id", True), ("slice(CASE WHEN", False)],
    # zlib ratio: exactly one Arrow-batched python stage, zero shuffle
    "compression_ratio": [("MapInPandas", 1), ("Exchange", 1)],
    # pagerank (checkpoint_dir mode): every round-trip input is a
    # parquet SCAN — corpus-sized state must never live as a
    # non-recomputable ExistingRDD block; and never all-pairs
    "host_pagerank": [("Scan ExistingRDD", False), ("CartesianProduct", False)],
    # anchor top-k: per-host window, NEVER a single global partition
    "host_anchor_texts": [
        ("Window", True),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
    ],
    # canonical-url dedup: one agg on the canonical key (SortAggregate:
    # min(string) has no mutable agg buffer) + an equi-join, no all-pairs
    "dedup_by_canonical_url": [
        ("Aggregate", True),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
    # stratified sampling is a pure map-side md5-threshold filter
    "stratified_sample": [("Exchange", 1), ("SortMergeJoin", False)],
    # frontier churn: per-url window (never a single global partition)
    # folded by one agg; priority is map-side on top
    "revisit_priority": [
        ("Window", True),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
    ],
    "host_change_stats": [("HashAggregate", True), ("CartesianProduct", False)],
    # survivor selection is agg-only by design: the sort-free claim —
    # a per-cluster window would straggle on exactly the big clusters
    "cluster_representatives": [
        ("Aggregate", True),
        ("Window", False),
        ("CartesianProduct", False),
    ],
    # anchors collapse to one row per host via agg; the only Window is
    # host_anchor_texts' per-host top-k upstream (never SinglePartition)
    "enrich_with_anchors": [
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
    ],
    # robots signals: pure map-side regexp scan, zero shuffle beyond
    # the testdata-load repartition, fully codegen'd
    "robots_signals": [("Exchange", 1), ("codegen id", True)],
    # page_metadata: pure codegen'd projection — the only exchange is
    # the loader's repartition; no python stage, no shuffle
    "page_metadata": [("Exchange", 1), ("codegen id", True),
                      ("MapInPandas", False), ("BatchEvalPython", False)],
    # hreflang explode: projection + one Generate, still shuffle-free
    "hreflang_alternates": [("Generate", True), ("Exchange", 1),
                            ("BatchEvalPython", False)],
    # feed parsing mirrors parse_sitemap_entries: projection + one
    # Generate per feed file, no python stage, no shuffle beyond the
    # loader; the announcement adapter adds a projection only
    "parse_feed_entries": [("Generate", True), ("Exchange", 1),
                           ("BatchEvalPython", False)],
    "feed_entries_as_announcements": [("Generate", True), ("Exchange", 1),
                                      ("MapInPandas", False)],
    # mime sniff: pure codegen'd projection over a 40-byte hex prefix
    "sniff_mime": [("Exchange", 1), ("codegen id", True),
                   ("BatchEvalPython", False)],
    # translation clusters: one projection + ONE groupBy(url) — the
    # loader's repartition plus the partial/final agg pair
    # (collect_set -> ObjectHashAggregate; count_distinct would cost
    # a third exchange via the distinct-agg rewrite)
    "hreflang_clusters": [("ObjectHashAggregate", True), ("Exchange", 2),
                          ("Window", False), ("BatchEvalPython", False)],
    # JSON-LD records: projection + two Generates (block explode,
    # entity explode), all-JVM json pulls — no python stage, no shuffle
    # beyond the loader's repartition
    "jsonld_records": [("Generate", True), ("Exchange", 1),
                       ("BatchEvalPython", False), ("MapInPandas", False)],
    # image-text pairs: projection + two Generates (figure/img region
    # explode, per-region img explode) — map-side only, no python stage
    "image_text_pairs": [("Generate", True), ("Exchange", 1),
                         ("BatchEvalPython", False), ("MapInPandas", False)],
    # media refs: same shape — region explode + ref-array explode
    "media_refs": [("Generate", True), ("Exchange", 1),
                   ("BatchEvalPython", False), ("MapInPandas", False)],
    # microdata: keyword-gated tag scan + one explode, map-side only
    "microdata_records": [("Generate", True), ("Exchange", 1),
                          ("BatchEvalPython", False), ("MapInPandas", False)],
    # corpus report: ONE rollup aggregation (Expand = grouping sets +
    # the two-phase distinct host agg), never a second scan or a join
    "corpus_report": [("Expand", True), ("HashAggregate", True),
                      ("CartesianProduct", False), ("BatchEvalPython", False)],
    # WET export: one codegen'd projection, zero shuffle, zero python
    "wet_records": [("Exchange", 1), ("codegen id", True),
                    ("BatchEvalPython", False), ("MapInPandas", False)],
    # sitemap media extensions: entry explode + media-struct explode,
    # map-side only
    "parse_sitemap_media": [("Generate", True), ("Exchange", 1),
                            ("BatchEvalPython", False),
                            ("MapInPandas", False)],
    # article tags: meta-region harvest + one explode, map-side only
    "article_tags": [("Generate", True), ("Exchange", 1),
                     ("BatchEvalPython", False), ("MapInPandas", False)],
    # temperature mixture: one stratum agg + a broadcast of the 1-ROW
    # total (BroadcastNestedLoop over one row is the intended shape;
    # a CartesianProduct would mean the broadcast was lost)
    "mixture_ppm": [("HashAggregate", True), ("CartesianProduct", False)],
    # table-driven sampler: equi-join on the stratum + map-side
    # threshold compare; never a global sort/partition
    "stratified_sample_by_table": [
        ("CartesianProduct", False),
        ("Exchange SinglePartition", False),
    ],
    # audio metadata: exactly one fused Arrow python stage, no shuffle
    "audio_meta": [("MapInPandas", 1), ("Exchange", 1)],
    # video metadata (ISO-BMFF box walk): same single-stage contract
    "video_meta": [("MapInPandas", 1), ("Exchange", 1)],
    # robots.txt match/precedence: host join + ONE max-of-struct agg —
    # never a per-url window (mega-hosts must not straggle) and never
    # an all-pairs join; the parse is the only Python stage
    "apply_robots_txt": [
        ("Aggregate", True),  # max-of-struct compiles to SortAggregate
        ("Window", False),
        ("CartesianProduct", False),
        ("MapInPandas", 1),
    ],
    # sitemap harvest: one codegen'd split/transform/filter projection +
    # explode — zero Python, no shuffle beyond the load repartition
    "robots_sitemaps": [
        ("Generate", True),
        ("Exchange", 1),
        ("CartesianProduct", False),
        ("MapInPandas", 0),
    ],
    # sitemap entry parse: one codegen'd regexp projection + explode
    # per file — zero Python, no shuffle beyond the load repartition
    "parse_sitemap_entries": [
        ("Generate", True),
        ("Exchange", 1),
        ("CartesianProduct", False),
        ("MapInPandas", 0),
    ],
    # fetch queue: seed groupBy + left_anti equi-join + union — both
    # sides billions of rows at crawl scale, so no broadcast assumption
    # is load-bearing; never an all-pairs join and never a global
    # partition (the only Window is url_change_stats' per-url churn
    # window upstream, audited in revisit_priority's frame)
    "fetch_queue": [
        ("Union", True),
        ("HashAggregate", True),
        # url_change_stats' per-url window sits BEHIND the eager
        # localCheckpoint (not in this plan; audited in
        # revisit_priority's frame) — so Window-absent is a real
        # assertion that no supply regressed its groupBy into a window
        ("Window", False),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
    # politeness schedule: per-HOST window top-k (never SinglePartition
    # — one giant host must not serialize the cycle); the frame passes
    # host_budgets, so the crawl-delay override join is audited too
    "schedule_fetches": [
        ("Window", True),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
    # domain-mode politeness: the registrable-domain group key is pure
    # InSet expressions — same window shape, no extra python, never a
    # global partition
    "schedule_fetches_domain": [
        ("Window", True),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
        ("MapInPandas", 0),
    ],
    # crawl-delay harvest: one Arrow python stage over config-sized
    # robots bodies, budgets a pure projection on top — no shuffle
    "robots_crawl_delays": [
        ("MapInPandas", 1),
        ("CartesianProduct", False),
        ("Window", False),
    ],
    # redirect collapse: pointer-doubling equi-joins over parquet
    # round snapshots — log2(max_hops) shuffles, never per-hop, never
    # all-pairs, and round state is always a recomputable file scan
    "resolve_redirects": [
        ("Scan ExistingRDD", False),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
    # redirect map applied to a link column: ONE left equi-join on the
    # url (both sides crawl-scale — no broadcast assumption is
    # load-bearing), never all-pairs, never a window
    "follow_redirects": [
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
        ("Window", False),
    ],
    # robots access policy: one Exchange on host feeding the
    # reversed-frame streak window, then a groupBy(host) that reuses
    # the window's hash partitioning — one shuffle, no join
    "robots_fetch_policy": [
        ("Aggregate", True),  # max-of-struct folds via SortAggregate
        ("Window", True),     # trailing-failure streak marker
        # load repartition + ONE hashpartitioning(host); the groupBy
        # reuses the window's partitioning (verified: no 3rd exchange)
        ("Exchange", 2),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
        ("MapInPandas", False),
    ],
    # declared-canonical collapse: pure per-row projection (RFC 3986
    # merge + canonical fold + PSL InSet scope guard, all JVM) — the
    # lone Exchange is the load repartition; no join, no window
    "canonical_collapse": [
        ("Exchange", 1),
        ("codegen id", True),
        ("Window", False),
        ("CartesianProduct", False),
        ("MapInPandas", False),
        ("SortMergeJoin", False),
        ("BroadcastHashJoin", False),
    ],
    # canonical-group representatives: ONE groupBy min-of-struct (the
    # cluster_representatives convention) — no window, no join
    "canonical_representatives": [
        ("Aggregate", True),
        ("Window", False),
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
        ("MapInPandas", False),
    ],
    # crawl-trap signals: ONE codegen'd projection over the url
    # string — zero extra shuffle (the lone Exchange is the load
    # repartition), no window, no join, no per-row Python
    "url_trap_features": [
        ("Exchange", 1),
        ("codegen id", True),
        ("Window", False),
        ("CartesianProduct", False),
        ("MapInPandas", False),
    ],
    # sitemap recursion step: distinct + one left_anti equi-join on
    # the file url — no broadcast assumption, no window, no all-pairs
    "sitemap_fetch_list": [
        ("HashAggregate", True),  # the distinct
        ("Window", False),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
    # failure evidence: ONE per-url unbounded window (no ordering) +
    # groupBy on the same key — one shuffle, never SinglePartition
    "url_failure_stats": [
        ("Window", True),
        ("Aggregate", True),  # max-of-struct folds via SortAggregate
        ("Exchange SinglePartition", False),
        ("CartesianProduct", False),
    ],
    # conditional-GET return path: latest-prior-hash is agg-only
    # (max-of-struct -> SortAggregate; a per-url window would straggle
    # on the hottest urls) + one inner equi-join for the 304s
    "extend_snapshots": [
        ("Aggregate", True),
        ("Window", False),
        ("CartesianProduct", False),
        ("BroadcastNestedLoopJoin", False),
    ],
}


def _extra_frames():
    """Frames for the operators outside the 50-query registry, audited
    alongside it."""
    from pyspark.sql import functions as F

    from fusus_spark.plans.web_queries import linked_docs, snapshot_docs
    from fusus_spark.sources.testdata import load

    def f_incremental(spark, sf_dir):
        import tempfile

        from fusus_spark.operators.dedup import (
            build_hash_bloom, incremental_dedup, write_hash_store)

        docs = load(spark, sf_dir, "documents")
        store = tempfile.mkdtemp() + "/store"
        write_hash_store(docs.limit(50), store)
        bloom = build_hash_bloom(
            docs.limit(50).select(
                F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("content_hash")
            ),
            expected_items=50,
        )
        return incremental_dedup(docs, store, bloom=bloom)

    def f_split(spark, sf_dir):
        from fusus_spark.operators.curate import split_oversize

        return split_oversize(load(spark, sf_dir, "documents"), max_tokens=64, overlap=8)

    def f_assign(spark, sf_dir):
        from fusus_spark.operators.curate import assign_split

        return assign_split(load(spark, sf_dir, "documents"))

    def f_links(spark, sf_dir):
        from fusus_spark.operators.webgraph import extract_links

        return extract_links(linked_docs(spark, sf_dir))

    def f_hostgraph(spark, sf_dir):
        from fusus_spark.operators.webgraph import host_link_stats

        return host_link_stats(linked_docs(spark, sf_dir))

    def f_compression(spark, sf_dir):
        from fusus_spark.operators.textstats import compression_ratio

        return compression_ratio(load(spark, sf_dir, "documents"))

    def f_pagerank(spark, sf_dir):
        import tempfile

        from fusus_spark.operators.webgraph import host_pagerank

        # the at-scale configuration: parquet-backed lineage truncation
        return host_pagerank(
            linked_docs(spark, sf_dir), iters=3,
            checkpoint_dir=tempfile.mkdtemp() + "/pr_ck", checkpoint_every=2,
        )

    def f_canon(spark, sf_dir):
        from fusus_spark.functions.url import dedup_by_canonical_url

        docs = load(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)),
                            F.lit(".com/p/"), "doc_id",
                            F.lit("?utm_source=feed"))
        )
        return dedup_by_canonical_url(docs)

    def f_sample(spark, sf_dir):
        from fusus_spark.operators.curate import stratified_sample

        return stratified_sample(
            load(spark, sf_dir, "documents"), {"en": 500_000}, default_ppm=250_000
        )

    def f_revisit(spark, sf_dir):
        from fusus_spark.operators.frontier import revisit_priority, url_change_stats

        return revisit_priority(
            url_change_stats(snapshot_docs(spark, sf_dir)), as_of_date="2026-02-01"
        )

    def f_cluster_reps(spark, sf_dir):
        from fusus_spark.operators.dedup import cluster_representatives

        docs = load(spark, sf_dir, "documents")
        clusters = docs.select("doc_id", F.pmod("doc_id", F.lit(97)).alias("cluster_id"))
        quality = docs.select("doc_id", (F.length("text") * 100).alias("score_e6"))
        return cluster_representatives(clusters, quality)

    def f_enrich(spark, sf_dir):
        from fusus_spark.operators.webgraph import enrich_with_anchors, host_anchor_texts

        web = linked_docs(spark, sf_dir)
        return enrich_with_anchors(web, host_anchor_texts(web, k=3))

    def f_robots(spark, sf_dir):
        from fusus_spark.operators.robots import robots_signals

        return robots_signals(linked_docs(spark, sf_dir))

    def f_audio(spark, sf_dir):
        from fusus_spark.operators.multimodal import audio_meta

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://m"), "doc_id").alias("url"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return audio_meta(docs)

    def f_video(spark, sf_dir):
        from fusus_spark.operators.multimodal import video_meta

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://v"), "doc_id").alias("url"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return video_meta(docs)

    def f_robots_txt(spark, sf_dir):
        from fusus_spark.operators.robots import apply_robots_txt, robots_txt_rules

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url")
        )
        robots = spark.createDataFrame(
            [(f"h{i}.com", "User-agent: *\nDisallow: /p/1\nAllow: /p/10\n")
             for i in range(7)],
            "host string, robots_txt string",
        )
        return apply_robots_txt(docs, robots_txt_rules(robots))

    def f_sitemaps(spark, sf_dir):
        from fusus_spark.operators.robots import robots_sitemaps

        robots = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(7)), F.lit(".com")).alias("host"),
            F.lit("User-agent: *\nSitemap: https://x.com/s.xml\n").alias("robots_txt"),
        )
        return robots_sitemaps(robots)

    def f_parse_sitemaps(spark, sf_dir):
        from fusus_spark.operators.frontier import parse_sitemap_entries

        sm = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/sitemap.xml")).alias("sitemap_url"),
            F.concat(F.lit("<urlset><url><loc>https://h.com/p/"), "doc_id",
                     F.lit("</loc><priority>0.5</priority></url></urlset>")
                     ).alias("xml"),
        )
        return parse_sitemap_entries(sm)

    def _queue(spark, sf_dir):
        from fusus_spark.operators.frontier import (
            fetch_queue, url_change_stats)

        stats = url_change_stats(snapshot_docs(spark, sf_dir))
        sm = load(spark, sf_dir, "documents").select(
            F.lit("https://h0.com/sm.xml").alias("sitemap_url"),
            F.lit("urlset").alias("kind"),
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/new/"), "doc_id").alias("loc"),
            # a real lastmod so the announce-boost join is in the plan
            F.lit("2026-01-15T00:00:00+00:00").alias("lastmod"),
            F.lit(None).cast("string").alias("changefreq"),
            F.lit(None).cast("bigint").alias("priority_e6"),
        )
        # synthetic resolve_redirects/resolve_links-shaped frames: the
        # audit wants the four-supply plan (revisit + seed + redirect +
        # link), not chain math
        docs = load(spark, sf_dir, "documents")
        rd = docs.select(
            F.concat(F.lit("http://old.com/"), "doc_id").alias("url"),
            F.concat(F.lit("http://moved.com/"), "doc_id").alias("final_url"),
            F.lit(1).alias("hops"),
            (F.pmod("doc_id", F.lit(2)) == 0).alias("terminal"),
        )
        lk = docs.select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("src_url"),
            F.concat(F.lit("http://disc.com/"),
                     F.pmod("doc_id", F.lit(97))).alias("resolved"),
        )
        return fetch_queue(
            stats, sm, as_of_date="2026-02-01", redirects=rd, links=lk,
            announce_boost_e6=900_000,
        )

    def f_queue(spark, sf_dir):
        return _queue(spark, sf_dir)

    def f_robots_policy(spark, sf_dir):
        from fusus_spark.operators.robots import robots_fetch_policy

        log = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(50)),
                     F.lit(".com")).alias("host"),
            F.when(F.pmod("doc_id", F.lit(5)) == 0, F.lit(503))
            .when(F.pmod("doc_id", F.lit(5)) == 1, F.lit(404))
            .otherwise(F.lit(200)).alias("http_status"),
            F.concat(F.lit("2026-01-0"),
                     (F.pmod("doc_id", F.lit(9)) + 1),
                     F.lit(" 00:00:00")).alias("fetched_at"),
        )
        return robots_fetch_policy(log, as_of_ts="2026-02-01 00:00:00")

    def f_trap(spark, sf_dir):
        from fusus_spark.functions.url import url_trap_features

        urls = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/a/b/"), F.pmod("doc_id", F.lit(3)),
                     F.lit("/a/b?q="), "doc_id").alias("url"))
        return url_trap_features(urls)

    def _canon_signals(spark, sf_dir):
        return load(spark, sf_dir, "documents").select(
            F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".example.com/p/"), "doc_id").alias("url"),
            F.when(F.pmod("doc_id", F.lit(3)) == 0,
                   F.concat(F.lit("http://www.example.com/c/"),
                            F.pmod("doc_id", F.lit(50))))
            .otherwise(F.lit("")).alias("canonical_href"),
        )

    def f_canon_collapse(spark, sf_dir):
        from fusus_spark.operators.canonical import canonical_collapse

        return canonical_collapse(_canon_signals(spark, sf_dir))

    def f_canon_reps(spark, sf_dir):
        from fusus_spark.operators.canonical import (
            canonical_collapse, canonical_representatives)

        return canonical_representatives(
            canonical_collapse(_canon_signals(spark, sf_dir)))

    def f_sitemap_list(spark, sf_dir):
        from fusus_spark.operators.frontier import sitemap_fetch_list

        sm = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/sm/"), F.pmod("doc_id", F.lit(20)),
                     F.lit(".xml")).alias("sitemap_url"),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit("index"))
            .otherwise(F.lit("urlset")).alias("kind"),
            F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/sm/"), F.pmod("doc_id", F.lit(40)),
                     F.lit(".xml")).alias("loc"),
            F.lit(None).cast("string").alias("lastmod"),
            F.lit(None).cast("string").alias("changefreq"),
            F.lit(None).cast("bigint").alias("priority_e6"),
        )
        return sitemap_fetch_list(sm)

    def f_failures(spark, sf_dir):
        from fusus_spark.operators.frontier import url_failure_stats

        log = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), F.pmod("doc_id", F.lit(100))).alias("url"),
            F.concat(F.lit("2026-01-0"),
                     (F.pmod("doc_id", F.lit(9)) + 1)).alias("crawl_date"),
            F.when(F.pmod("doc_id", F.lit(5)) == 0, F.lit(404))
            .otherwise(F.lit(200)).alias("http_status"),
        )
        return url_failure_stats(log)

    def f_extend(spark, sf_dir):
        from fusus_spark.operators.frontier import extend_snapshots

        fetches = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), F.pmod("doc_id", F.lit(200))).alias("url"),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit(304))
            .otherwise(F.lit(200)).alias("http_status"),
            F.md5(F.col("text")).alias("content_hash"),
        )
        return extend_snapshots(
            snapshot_docs(spark, sf_dir), fetches, crawl_date="2026-02-01"
        )

    def f_follow(spark, sf_dir):
        from fusus_spark.operators.webgraph import follow_redirects

        docs = load(spark, sf_dir, "documents")
        rd = docs.select(
            F.concat(F.lit("http://old.com/"), "doc_id").alias("url"),
            F.concat(F.lit("http://moved.com/"), "doc_id").alias("final_url"),
            F.lit(1).alias("hops"),
            (F.pmod("doc_id", F.lit(2)) == 0).alias("terminal"),
        )
        links = docs.select(
            F.concat(F.lit("http://linker.com/"), "doc_id").alias("src_url"),
            F.concat(F.lit("http://old.com/"),
                     F.pmod("doc_id", F.lit(97))).alias("resolved"),
        )
        return follow_redirects(links, rd)

    def _robots_docs(spark, sf_dir):
        return load(spark, sf_dir, "documents").select(
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com")).alias("host"),
            F.concat(F.lit("User-agent: *\nCrawl-delay: "),
                     F.pmod("doc_id", F.lit(5)) + 1,
                     F.lit("\nDisallow: /x\n")).alias("robots_txt"),
        )

    def f_schedule(spark, sf_dir):
        from fusus_spark.operators.frontier import (
            host_budgets_from_delays, schedule_fetches)
        from fusus_spark.operators.robots import robots_crawl_delays

        budgets = host_budgets_from_delays(
            robots_crawl_delays(_robots_docs(spark, sf_dir)),
            cycle_seconds=3600, k_per_host=10,
        )
        return schedule_fetches(
            _queue(spark, sf_dir), k_per_host=10, host_budgets=budgets
        )

    def f_schedule_domain(spark, sf_dir):
        from fusus_spark.operators.frontier import schedule_fetches

        return schedule_fetches(_queue(spark, sf_dir), k_per_host=10,
                                by="domain")

    def f_crawl_delays(spark, sf_dir):
        from fusus_spark.operators.robots import robots_crawl_delays

        return robots_crawl_delays(_robots_docs(spark, sf_dir))

    def f_redirects(spark, sf_dir):
        import tempfile

        from fusus_spark.operators.webgraph import resolve_redirects

        # mod-40 rings per host: chains, shared suffixes, and (beyond
        # the hop cap) non-terminal rows — the at-scale configuration
        # with parquet-backed round snapshots
        records = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/r/"), F.pmod("doc_id", F.lit(40))).alias("url"),
            F.lit(301).alias("http_status"),
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/r/"),
                     (F.pmod("doc_id", F.lit(40)) + 1)).alias("location"),
        )
        return resolve_redirects(
            records, checkpoint_dir=tempfile.mkdtemp() + "/rd_ck"
        )

    def f_mixture(spark, sf_dir):
        from fusus_spark.operators.curate import mixture_ppm

        return mixture_ppm(
            load(spark, sf_dir, "documents"), budget_docs=100, alpha_e6=500_000
        )

    def f_sample_table(spark, sf_dir):
        from fusus_spark.operators.curate import (
            mixture_ppm, stratified_sample_by_table)

        docs = load(spark, sf_dir, "documents")
        return stratified_sample_by_table(
            docs, mixture_ppm(docs, budget_docs=100, alpha_e6=500_000)
        )

    def f_sniff(spark, sf_dir):
        from fusus_spark.functions.mime import sniff_mime

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://m"), "doc_id").alias("url"),
            F.encode("text", "UTF-8").alias("payload"),
        )
        return docs.select("url", sniff_mime("payload").alias("mime"))

    def f_hreflang_clusters(spark, sf_dir):
        from fusus_spark.operators.pagemeta import hreflang_clusters

        alts = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), F.pmod("doc_id", F.lit(50))).alias("url"),
            F.lit("en").alias("hreflang"),
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), F.pmod("doc_id", F.lit(25))).alias("href"),
        )
        return hreflang_clusters(alts)

    def f_jsonld(spark, sf_dir):
        from fusus_spark.operators.pagemeta import jsonld_records

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(
                    F.lit('<script type="application/ld+json">'
                          '{"@type":"Article","headline":"'),
                    F.substring("text", 1, 20),
                    F.lit('"}</script>'),
                ),
                "UTF-8",
            ).alias("html"),
        )
        return jsonld_records(docs)

    def f_microdata(spark, sf_dir):
        from fusus_spark.operators.pagemeta import microdata_records

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(F.lit('<div itemscope><span itemprop="name">'),
                         F.substring("text", 1, 20), F.lit("</span></div>")),
                "UTF-8",
            ).alias("html"),
        )
        return microdata_records(docs)

    def f_wet(spark, sf_dir):
        from fusus_spark.sources.warc import wet_records

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("warc_ts"),
            F.col("text").alias("extracted_text"),
        )
        return wet_records(docs)

    def f_sitemap_media(spark, sf_dir):
        from fusus_spark.operators.frontier import parse_sitemap_media

        sm = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/media.xml")).alias("sitemap_url"),
            F.concat(F.lit("<urlset><url><loc>http://h.com/p/"), "doc_id",
                     F.lit("</loc><image:image><image:loc>http://cdn.com/"),
                     "doc_id",
                     F.lit(".jpg</image:loc></image:image></url></urlset>")
                     ).alias("xml"),
        )
        return parse_sitemap_media(sm)

    def f_article_tags(spark, sf_dir):
        from fusus_spark.operators.pagemeta import article_tags

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(F.lit('<meta property="article:tag" content="t'),
                         F.pmod("doc_id", F.lit(13)), F.lit('">')),
                "UTF-8",
            ).alias("html"),
        )
        return article_tags(docs)

    def f_img_pairs(spark, sf_dir):
        from fusus_spark.operators.multimodal import image_text_pairs

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(
                    F.lit('<figure><img src="/i/'), "doc_id",
                    F.lit('.jpg" alt="pic"><figcaption>'),
                    F.substring("text", 1, 30),
                    F.lit("</figcaption></figure>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        return image_text_pairs(docs)

    def f_media_refs(spark, sf_dir):
        from fusus_spark.operators.multimodal import media_refs

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(
                    F.lit('<video src="/v/'), "doc_id",
                    F.lit('.mp4"><track src="/t.vtt" kind="subtitles">'
                          "</video>"),
                ),
                "UTF-8",
            ).alias("html"),
        )
        return media_refs(docs)

    def f_feeds(spark, sf_dir):
        from fusus_spark.operators.frontier import parse_feed_entries

        feeds = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/feed.xml")).alias("feed_url"),
            F.concat(F.lit("<rss><channel><item><link>http://h.com/p/"),
                     "doc_id",
                     F.lit("</link><pubDate>Mon, 02 Feb 2026 00:00:00 GMT"
                           "</pubDate></item></channel></rss>")).alias("xml"),
        )
        return parse_feed_entries(feeds)

    def f_feed_ann(spark, sf_dir):
        from fusus_spark.operators.frontier import (
            feed_entries_as_announcements, parse_feed_entries)

        feeds = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/feed.xml")).alias("feed_url"),
            F.concat(F.lit("<rss><channel><item><link>http://h.com/p/"),
                     "doc_id",
                     F.lit("</link><pubDate>Mon, 02 Feb 2026 00:00:00 GMT"
                           "</pubDate></item></channel></rss>")).alias("xml"),
        )
        return feed_entries_as_announcements(parse_feed_entries(feeds))

    def f_pagemeta(spark, sf_dir):
        from fusus_spark.operators.pagemeta import page_metadata

        return page_metadata(linked_docs(spark, sf_dir))

    def f_hreflang(spark, sf_dir):
        from fusus_spark.operators.pagemeta import hreflang_alternates

        docs = load(spark, sf_dir, "documents").select(
            F.concat(F.lit("http://h"), F.pmod("doc_id", F.lit(7)),
                     F.lit(".com/p/"), "doc_id").alias("url"),
            F.encode(
                F.concat(F.lit('<link rel="alternate" hreflang="de" '
                               'href="http://h'),
                         F.pmod("doc_id", F.lit(5)), F.lit('.com/de">')),
                "UTF-8",
            ).alias("html"),
        )
        return hreflang_alternates(docs)

    return {
        "incremental_dedup": f_incremental,
        "split_oversize": f_split,
        "assign_split": f_assign,
        "extract_links": f_links,
        "host_link_stats": f_hostgraph,
        "compression_ratio": f_compression,
        "host_pagerank": f_pagerank,
        "dedup_by_canonical_url": f_canon,
        "stratified_sample": f_sample,
        "revisit_priority": f_revisit,
        "cluster_representatives": f_cluster_reps,
        "enrich_with_anchors": f_enrich,
        "robots_signals": f_robots,
        "mixture_ppm": f_mixture,
        "stratified_sample_by_table": f_sample_table,
        "audio_meta": f_audio,
        "video_meta": f_video,
        "apply_robots_txt": f_robots_txt,
        "robots_sitemaps": f_sitemaps,
        "parse_sitemap_entries": f_parse_sitemaps,
        "fetch_queue": f_queue,
        "schedule_fetches": f_schedule,
        "schedule_fetches_domain": f_schedule_domain,
        "robots_crawl_delays": f_crawl_delays,
        "url_failure_stats": f_failures,
        "sitemap_fetch_list": f_sitemap_list,
        "url_trap_features": f_trap,
        "robots_fetch_policy": f_robots_policy,
        "canonical_collapse": f_canon_collapse,
        "canonical_representatives": f_canon_reps,
        "resolve_redirects": f_redirects,
        "follow_redirects": f_follow,
        "extend_snapshots": f_extend,
        "page_metadata": f_pagemeta,
        "hreflang_alternates": f_hreflang,
        "parse_feed_entries": f_feeds,
        "feed_entries_as_announcements": f_feed_ann,
        "sniff_mime": f_sniff,
        "hreflang_clusters": f_hreflang_clusters,
        "jsonld_records": f_jsonld,
        "image_text_pairs": f_img_pairs,
        "media_refs": f_media_refs,
        "microdata_records": f_microdata,
        "wet_records": f_wet,
        "parse_sitemap_media": f_sitemap_media,
        "article_tags": f_article_tags,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or list(CHECKS)

    import __spark_entry__ as entrymod
    from fusus_spark.session import get_spark

    # AQE off for the audit: with AQE on, explain() of an unexecuted
    # frame prints isFinalPlan=false without codegen-id annotations.
    # Production sessions keep AQE on; the static plan shape is the same.
    spark = get_spark(
        "plan-audit",
        master="local[4]",
        shuffle_partitions=8,
        extra={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    extra = _extra_frames()
    failures = []
    import contextlib
    import io

    for name in only:
        df = (qs[name] if name in qs else extra[name])(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n{'='*70}\n{name}\n{'='*70}")
        # condensed: operator lines only
        for line in plan.splitlines():
            if re.match(r"^[\s*(+-]*[A-Z]", line) and "==" not in line:
                print(line[:120])
        for needle, required in CHECKS.get(name, []):
            # required=True: must appear; required=False: must NOT
            # appear; required=None: informational only; required=int:
            # exact count of plan-detail node headers '(n) <op>'
            if isinstance(required, int) and not isinstance(required, bool):
                count = len(re.findall(rf"\(\d+\) {re.escape(needle)}", plan))
                bad = count != required
                if bad:
                    failures.append((name, needle))
                print(f"  [{'MISS' if bad else 'OK '}] {needle}: "
                      f"count {count} (want {required})")
                continue
            present = needle in plan
            bad = (required is True and not present) or (required is False and present)
            if bad:
                failures.append((name, needle))
            print(f"  [{'MISS' if bad else 'OK '}] {needle}: "
                  f"{'present' if present else 'absent'}")
    spark.stop()
    if failures:
        print("\nFAILED checks:", failures)
        sys.exit(1)
    print("\nall required plan features present")


if __name__ == "__main__":
    main()
