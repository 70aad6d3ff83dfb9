"""Webgraph operator tests: hand-pinned link extraction/resolution +
DuckDB oracle hash cross-check (outside the 50-query registry budget,
so the oracle runs in-test)."""

from __future__ import annotations

import re

import duckdb

from fusus_spark.operators.webgraph import (
    extract_links,
    host_link_stats,
    resolve_links,
)
from tools.parity import value_hash


def _pages() -> list[tuple[str, str]]:
    return [
        ("http://a.com/1",
         '<html><body><a href="http://b.com/x">to B</a>'
         '<a class="nav" href=\'/local\'>home</a>'
         '<a href="//c.com/y">proto-rel</a>'
         '<a href="rel/path">rel</a>'
         '<a href="mailto:x@y.z">mail</a>'
         '<p>no links here</p></body></html>'),
        ("http://b.com/2",
         '<html><A HREF="http://a.com/1">back to <b>A</b></A>'
         '<a href="https://b.com/self">self</a></html>'),
        ("http://d.com/3", "<html><p>linkless page</p></html>"),
        ("http://e.com/4", '<a href="http://b.com/z">e to b</a>'),
        # attribute lookalikes and a/A-prefixed OTHER tags must not match
        ("http://f.com/5",
         '<a href="/real" data-href="http://tracker.com/x">t</a>'
         '<area href="http://m.com/z"><abbr href="http://n.com/q">n</abbr>'),
    ]


def _docs(spark):
    rows = [(u, h.encode()) for u, h in _pages()]
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_and_resolve_hand_cases(spark):
    links = resolve_links(extract_links(_docs(spark))).collect()
    by_src = {}
    for r in links:
        by_src.setdefault(r["src_url"], []).append(r)
    a = {r["href"]: r for r in by_src["http://a.com/1"]}
    assert set(a) == {"http://b.com/x", "/local", "//c.com/y", "rel/path", "mailto:x@y.z"}
    assert a["http://b.com/x"]["anchor"] == "to B"
    assert a["http://b.com/x"]["resolved"] == "http://b.com/x"
    assert a["/local"]["resolved"] == "http://a.com/local"
    assert a["//c.com/y"]["resolved"] == "http://c.com/y"
    assert a["rel/path"]["resolved"] is None      # path-relative: dropped
    assert a["mailto:x@y.z"]["resolved"] is None
    # uppercase tag + markup inside anchor: first text run only
    b = {r["href"]: r for r in by_src["http://b.com/2"]}
    assert b["http://a.com/1"]["anchor"] == "back to"
    assert "http://d.com/3" not in by_src          # linkless page: no rows
    # data-href must not shadow or fabricate; <area>/<abbr> excluded
    f = by_src["http://f.com/5"]
    assert [(r["href"], r["resolved"]) for r in f] == [("/real", "http://f.com/real")]


def test_host_link_stats_hand_cases(spark):
    got = {r["host"]: r for r in host_link_stats(_docs(spark)).collect()}
    # edges: a->b, a->c, b->a, e->b (self b->b and intra dropped)
    assert got["b.com"]["in_degree"] == 2 and got["b.com"]["out_degree"] == 1
    assert got["a.com"]["in_degree"] == 1 and got["a.com"]["out_degree"] == 2
    assert got["c.com"]["in_degree"] == 1 and got["c.com"]["out_degree"] == 0
    assert got["e.com"]["in_degree"] == 0 and got["e.com"]["out_degree"] == 1
    assert "d.com" not in got  # no edges either way
    # the data-href decoy never became an edge; f.com's only link is
    # intra-host, so it has no graph presence at all
    assert "tracker.com" not in got and "f.com" not in got


def test_extract_links_matches_duckdb_oracle(spark):
    sdf = extract_links(_docs(spark))
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.sql("CREATE TABLE pages (url VARCHAR, html VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", _pages())
    # the IDENTICAL RE2-safe pattern; '' escapes the quote inside the class
    pat = """<[aA](?:\\s[^>]*?)?\\s[hH][rR][eE][fF]=["'']([^"''<>]+)["''][^>]*>([^<]*)"""
    orc = con.sql(f"""
WITH e AS (
  SELECT url AS src_url,
         regexp_extract_all(html, '{pat}', 1) AS hrefs,
         regexp_extract_all(html, '{pat}', 2) AS anchors
  FROM pages
)
SELECT src_url, hrefs[i] AS href, trim(anchors[i]) AS anchor
FROM e, unnest(generate_series(1, len(hrefs))) AS u(i)
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


def test_resolve_links_page_level_matches_urljoin(spark):
    """page_level=True resolution vs Python's urllib.parse.urljoin as
    the independent reference, over every supported href shape
    (absolute, protocol-relative, root-relative, path-relative with
    ./ and ../ chains, query-only) crossed with assorted source paths.
    The dot-segment pop fold is not regexp/SQL-expressible, so the
    oracle is code — the repo's non-SQL-oracle pattern."""
    from urllib.parse import urljoin

    srcs = [
        "http://h.com/a/b/c",
        "http://h.com/a/b/",
        "http://h.com/",
        "http://h.com",
        "http://h.com/x/y/z.html?old=1",
    ]
    hrefs = [
        "http://other.com/q", "//p.com/r", "/root/x", "/root/../y",
        "/root//x", "a/b", "a//../b", "./a", "../up", "../../up2",
        "../../../over", "d/", "e/./f/../g", "?q=2", "a?x=1#frag",
        "..", ".", "http://other.com/a/../b#z", "//p.com/c/./d",
        "http://other.com",
    ]
    rows = [(s, h) for s in srcs for h in hrefs]
    links = spark.createDataFrame(rows, "src_url string, href string")
    got = {
        (r["src_url"], r["href"]): r["resolved"]
        for r in resolve_links(links, page_level=True).collect()
    }

    def ref_rds(path: str) -> str:
        # independent RFC 3986 §5.2.4 reference. urljoin deviates from
        # the RFC in two places this operator does NOT follow: absolute
        # references pass through verbatim (no dot removal), and '..'
        # pops THROUGH empty segments ('a//../b' -> 'b' instead of the
        # RFC's 'a/b', where '..' removes only the empty segment).
        out = []
        for s in path.split("/")[1:]:
            if s == ".":
                continue
            if s == "..":
                if out:
                    out.pop()
                continue
            out.append(s)
        r = "/" + "/".join(out)
        if path.endswith(("/.", "/..")) and out and out[-1] != "":
            r += "/"
        return r

    def ref_resolve(src: str, h: str) -> str:
        # full independent resolver (RFC 3986 §5.3 subset of this op)
        h = h.split("#", 1)[0]
        m = re.match(r"^(https?://[^/?#]*)([^?#]*)\??(.*)$", src)
        origin, src_path = m.group(1), m.group(2)
        hp, _, hq = h.partition("?")
        q = "?" + hq if hq else ""
        if h.startswith(("http://", "//")):
            a = h if not h.startswith("//") else "http:" + h
            am = re.match(r"^(https?://[^/?#]*)([^?#]*)\??(.*)$", a)
            path = am.group(2)
            return am.group(1) + (ref_rds(path) if path else "") + (
                "?" + am.group(3) if am.group(3) else "")
        if h.startswith("/"):
            return origin + ref_rds(hp) + q
        if h.startswith("?"):
            return origin + src_path + h
        src_dir = re.sub(r"[^/]*$", "", src_path) or "/"
        return origin + ref_rds(src_dir + hp) + q

    for s, h in rows:
        want = ref_resolve(s, h)
        assert got[(s, h)] == want, (s, h, got[(s, h)], want)
        # external anchor: where urllib IS RFC-faithful (relative refs
        # without empty segments), urljoin must agree with both
        if not h.startswith(("http://", "//")) and "//" not in h:
            assert want == urljoin(s, h).split("#", 1)[0], (s, h)

    # unsupported shapes stay null in page_level mode too
    weird = spark.createDataFrame(
        [("http://h.com/a", "mailto:x@y.z"), ("http://h.com/a", "#frag"),
         ("relative-src", "a/b")],
        "src_url string, href string",
    )
    out = {r["href"]: r["resolved"]
           for r in resolve_links(weird, page_level=True).collect()}
    assert out == {"mailto:x@y.z": None, "#frag": None, "a/b": None}

    # seeded fuzz: random dot-segment soup over random source paths,
    # all compared against the same independent resolver — the fixed
    # grid above cannot cover the '..'-past-root / empty-segment /
    # trailing-dot interaction space
    import random

    rng = random.Random(0xBEEF)
    seg_pool = ["a", "b9", ".", "..", "", "x.y", "%7e"]
    fuzz_rows = []
    for i in range(250):
        src = "http://h.com/" + "/".join(
            rng.choice(["p", "q2", "r"]) for _ in range(rng.randint(0, 3))
        ) + rng.choice(["", "/"])
        h = "/".join(rng.choice(seg_pool) for _ in range(rng.randint(1, 6)))
        h += rng.choice(["", "/", "?k=v", "#z"])
        if rng.random() < 0.3:
            h = "/" + h
        fuzz_rows.append((src, h))
    fdf = spark.createDataFrame(fuzz_rows, "src_url string, href string")
    fgot = {(r["src_url"], r["href"]): r["resolved"]
            for r in resolve_links(fdf, page_level=True).collect()}
    for s, h in fuzz_rows:
        hp = h.split("#", 1)[0].partition("?")[0]
        if h.startswith(("/", "?")):
            want = ref_resolve(s, h)
        elif hp == "":  # fragment-only / empty: intra-page, stays null
            want = None
        else:
            want = ref_resolve(s, h)
        assert fgot[(s, h)] == want, (s, h, fgot[(s, h)], want)


def test_links_never_raise_on_junk_bytes(spark):
    rows = [
        ("http://x.com/a", b"\xff\xfe\x00garbage<a href='http://y.com/'>ok</a>"),
        ("http://x.com/b", None),
        ("http://x.com/c", b""),
    ]
    docs = spark.createDataFrame(rows, "url string, html binary")
    got = resolve_links(extract_links(docs)).collect()
    assert [(r["href"], r["resolved"]) for r in got] == [
        ("http://y.com/", "http://y.com/")
    ]


def test_enrich_with_anchors(spark):
    """Docs gain the web's description of their host (rnk-ordered
    anchor array + total inbound refs); anchorless hosts get []/0 and
    rows pass through unchanged."""
    from fusus_spark.operators.webgraph import enrich_with_anchors, host_anchor_texts

    anchors = host_anchor_texts(_docs(spark), k=2)
    docs = spark.createDataFrame(
        [(1, "http://b.com/landing", "x"), (2, "http://nowhere.org/p", "y")],
        "doc_id long, url string, text string",
    )
    got = {r["doc_id"]: r for r in enrich_with_anchors(docs, anchors).collect()}
    assert got[1]["anchor_texts"] == ["e to b", "to b"]  # rnk order
    assert got[1]["n_anchor_refs"] == 2
    assert got[2]["anchor_texts"] == [] and got[2]["n_anchor_refs"] == 0
    assert got[1]["text"] == "x"  # passthrough columns intact

    # n_anchor_refs is the host TOTAL, not the top-k sum: with k=1 the
    # anchor list truncates but the reference count must not
    k1 = {r["doc_id"]: r for r in enrich_with_anchors(
        docs, host_anchor_texts(_docs(spark), k=1)).collect()}
    assert len(k1[1]["anchor_texts"]) == 1 and k1[1]["n_anchor_refs"] == 2

    # a pre-existing 'host' column on the docs side survives untouched
    docs_h = docs.withColumn("host", docs["url"])
    out_h = enrich_with_anchors(docs_h, anchors)
    assert "host" in out_h.columns
    assert {r["host"] for r in out_h.collect()} == {r["url"] for r in docs_h.collect()}

    # DuckDB oracle: ordered array + untruncated total per host
    import duckdb as _dd

    con = _dd.connect()
    con.sql("CREATE TABLE a (host VARCHAR, anchor VARCHAR, n_refs INT, host_refs INT, rnk INT)")
    con.executemany("INSERT INTO a VALUES (?, ?, ?, ?, ?)",
                    [(r["host"], r["anchor"], r["n_refs"], r["host_refs"], r["rnk"])
                     for r in anchors.collect()])
    con.sql("CREATE TABLE d (doc_id BIGINT, url VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)",
                    [(1, "http://b.com/landing", "x"), (2, "http://nowhere.org/p", "y")])
    orows = con.sql("""
WITH p AS (
  SELECT host, array_agg(anchor ORDER BY rnk) AS anchor_texts,
         max(host_refs) AS n_anchor_refs
  FROM a GROUP BY host
)
SELECT d.doc_id, d.url, d.text,
       coalesce(p.anchor_texts, []) AS anchor_texts,
       coalesce(p.n_anchor_refs, 0)::INT AS n_anchor_refs
FROM d LEFT JOIN p
  ON lower(regexp_extract(d.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) = p.host
""").fetchall()
    sdf = enrich_with_anchors(docs, anchors)
    assert value_hash(sdf.columns, [tuple(r) for r in sdf.collect()]) == value_hash(
        ["doc_id", "url", "text", "anchor_texts", "n_anchor_refs"],
        [tuple(r) for r in orows],
    )


# -------------------------------------------------------------- host_pagerank


def _ref_pagerank(edges, iters=10, damping_e6=850_000):
    """Independent integer-arithmetic reference (same scaling rules)."""
    base = 10**9
    edges = set(edges)
    nodes = {h for e in edges for h in e}
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    tel = (base * (1_000_000 - damping_e6)) // 1_000_000
    rank = {h: base for h in nodes}
    for _ in range(iters):
        inflow = {h: 0 for h in nodes}
        for s, t in edges:
            inflow[t] += rank[s] // out[s]
        rank = {h: tel + (inflow[h] * damping_e6) // 1_000_000 for h in nodes}
    return rank


def test_host_pagerank_matches_integer_reference(spark):
    from fusus_spark.operators.webgraph import host_pagerank

    # hub-and-spoke + a reciprocal pair + a spam ring pointing at itself
    edges = [
        ("s1.com", "hub.com"), ("s2.com", "hub.com"), ("s3.com", "hub.com"),
        ("hub.com", "s1.com"),
        ("x.com", "y.com"), ("y.com", "x.com"),
        ("spam1.com", "spam2.com"), ("spam2.com", "spam1.com"),
        ("s1.com", "x.com"),
    ]
    edf = spark.createDataFrame(edges, "src_host string, dst_host string")
    got = {r["host"]: r["rank_e9"] for r in host_pagerank(edges=edf, iters=10).collect()}
    assert got == _ref_pagerank(edges, iters=10)
    # mass flows where links point: the reciprocal sink pair (fed by
    # s1) tops the graph, the hub out-ranks its pure spokes, and the
    # self-contained spam ring keeps exactly its base mass
    assert got["y.com"] == max(got.values())
    assert got["hub.com"] > got["s2.com"]
    assert got["spam1.com"] == got["spam2.com"] == 10**9
    # deterministic: bit-identical on a re-run
    again = {r["host"]: r["rank_e9"] for r in host_pagerank(edges=edf, iters=10).collect()}
    assert got == again
    # caller-supplied edges go through the SAME normalization: spam
    # self-links and empty hosts cannot feed mass back
    dirty = edges + [("spam1.com", "spam1.com"), ("", "hub.com"), ("hub.com", "")]
    ddf = spark.createDataFrame(dirty, "src_host string, dst_host string")
    assert {r["host"]: r["rank_e9"]
            for r in host_pagerank(edges=ddf, iters=10).collect()} == got


def test_host_pagerank_checkpoint_dir_fault_tolerant_path(spark, tmp_path):
    """checkpoint_dir mode: bit-identical ranks, lineage truncated
    through PARQUET (fault-tolerant storage) instead of executor-local
    blocks — the final plan scans files, never an ExistingRDD, and the
    snapshot directories exist on disk."""
    from fusus_spark.operators.webgraph import host_pagerank

    edges = [
        ("s1.com", "hub.com"), ("s2.com", "hub.com"), ("s3.com", "hub.com"),
        ("hub.com", "s1.com"), ("x.com", "y.com"), ("y.com", "x.com"),
        ("s1.com", "x.com"),
    ]
    edf = spark.createDataFrame(edges, "src_host string, dst_host string")
    want = {r["host"]: r["rank_e9"] for r in host_pagerank(edges=edf, iters=7).collect()}

    ck = str(tmp_path / "pr_ck")
    out = host_pagerank(edges=edf, iters=7, checkpoint_dir=ck, checkpoint_every=3)
    got = {r["host"]: r["rank_e9"] for r in out.collect()}
    assert got == want == _ref_pagerank(edges, iters=7)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # no non-recomputable corpus input
    import os
    snaps = sorted(os.listdir(ck))
    assert "edges" in snaps and "nodes" in snaps
    # rounds 3 and 6 landed in alternating slots; final round 7 in its own
    assert [s for s in snaps if s.startswith("ranks_")] == [
        "ranks_0", "ranks_1", "ranks_3"
    ]
    # the final snapshot is read back with the schema it was written with
    assert out.schema == spark.read.parquet(f"{ck}/ranks_1").schema


def test_host_pagerank_from_docs(spark):
    from fusus_spark.operators.webgraph import host_pagerank

    got = {r["host"]: r["rank_e9"] for r in host_pagerank(_docs(spark), iters=5).collect()}
    assert set(got) == {"a.com", "b.com", "c.com", "e.com"}
    # the a<->b cycle concentrates the mass (a receives b's WHOLE
    # outflow, b receives half of a's plus e's); e, with no in-links,
    # sits exactly at the teleport floor
    assert {min(got, key=got.get)} == {"e.com"}
    assert got["e.com"] == 150_000_000
    assert got["a.com"] > got["c.com"] and got["b.com"] > got["c.com"]


# ---------------------------------------------------------- host_anchor_texts


def test_host_anchor_texts(spark):
    from fusus_spark.operators.webgraph import host_anchor_texts

    got = host_anchor_texts(_docs(spark), k=2).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], []).append((r["rnk"], r["anchor"], r["n_refs"]))
    # b.com is described by its inbound cross-host anchors, lowercased
    assert sorted(by_host["b.com"]) == [(1, "e to b", 1), (2, "to b", 1)]
    # a.com's inbound anchor comes from b's page (first text run)
    assert by_host["a.com"] == [(1, "back to", 1)]
    # same-host anchors ("self") and empty anchors never appear
    assert all(a != "self" for rows in by_host.values() for _, a, _ in rows)

    # DuckDB oracle over the same pattern + window
    con = duckdb.connect()
    con.sql("CREATE TABLE pages (url VARCHAR, html VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", _pages())
    host_re = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
    pat = """<[aA](?:\\s[^>]*?)?\\s[hH][rR][eE][fF]=["'']([^"''<>]+)["''][^>]*>([^<]*)"""
    orows = con.sql(f"""
WITH l AS (
  SELECT url AS src_url,
         regexp_extract_all(html, '{pat}', 1) AS hrefs,
         regexp_extract_all(html, '{pat}', 2) AS anchors
  FROM pages
),
x AS (
  SELECT src_url, hrefs[i] AS href, trim(anchors[i]) AS anchor
  FROM l, unnest(generate_series(1, len(hrefs))) AS u(i)
),
r AS (
  SELECT src_url, anchor,
         CASE WHEN regexp_matches(href, '^[hH][tT][tT][pP][sS]?://') THEN href
              WHEN href LIKE '//%' THEN 'http:' || href
              WHEN href LIKE '/%' AND lower(regexp_extract(src_url, '{host_re}', 1)) != ''
                THEN 'http://' || lower(regexp_extract(src_url, '{host_re}', 1)) || href
              ELSE NULL END AS resolved
  FROM x
),
p AS (
  SELECT lower(regexp_extract(src_url, '{host_re}', 1)) AS src_host,
         lower(regexp_extract(resolved, '{host_re}', 1)) AS host,
         lower(anchor) AS anchor
  FROM r WHERE resolved IS NOT NULL
),
c AS (
  SELECT host, anchor, count(*)::INT AS n_refs
  FROM p
  WHERE src_host != '' AND host != '' AND src_host != host AND anchor != ''
  GROUP BY host, anchor
)
SELECT host, anchor, n_refs,
       sum(n_refs) OVER (PARTITION BY host)::INT AS host_refs,
       row_number() OVER (PARTITION BY host ORDER BY n_refs DESC, anchor ASC)::INT AS rnk
FROM c QUALIFY rnk <= 2
""").fetchall()
    sdf = host_anchor_texts(_docs(spark), k=2)
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(
        ["host", "anchor", "n_refs", "host_refs", "rnk"], [tuple(r) for r in orows]
    )


# ---------------------------------------------------------------- redirects


def _redirect_records(spark):
    """Envelope rows exercising every resolver path: chains of length
    1..5, a 3-cycle, a self-loop, a conflicting-duplicate source, and
    rows the edge filter must ignore (non-3xx, null/blank Location)."""
    rows = []
    for c in range(10):
        length = (c % 5) + 1
        for i in range(length):
            rows.append((f"http://ch{c}.com/r{i}", 301, f"http://ch{c}.com/r{i + 1}"))
        rows.append((f"http://ch{c}.com/r{length}", 200, None))  # chain end: content
    rows += [(f"http://cyc.com/{i}", 302, f"http://cyc.com/{(i + 1) % 3}")
             for i in range(3)]
    rows.append(("http://self.com/a", 301, "http://self.com/a"))
    rows += [("http://dup.com/a", 301, "http://dup.com/z"),
             ("http://dup.com/a", 301, "http://dup.com/b")]
    rows.append(("http://ok.com/a", 200, "http://ok.com/ignored"))  # non-3xx
    rows += [("http://nul.com/a", 301, None), ("http://blank.com/a", 302, "  ")]
    return spark.createDataFrame(rows, "url string, http_status int, location string")


def test_resolve_redirects_hand_cases(spark):
    from fusus_spark.operators.webgraph import resolve_redirects

    got = {r["url"]: r for r in resolve_redirects(_redirect_records(spark)).collect()}
    # every 3xx row with a usable Location yields exactly one output row
    assert "http://ok.com/a" not in got and "http://nul.com/a" not in got
    assert "http://blank.com/a" not in got
    # full chain: head resolves to the end with exact hop count; every
    # middle is its own row walking to the SAME end
    assert got["http://ch4.com/r0"]["final_url"] == "http://ch4.com/r5"
    assert got["http://ch4.com/r0"]["hops"] == 5
    assert got["http://ch4.com/r0"]["terminal"] is True
    assert got["http://ch4.com/r3"]["final_url"] == "http://ch4.com/r5"
    assert got["http://ch4.com/r3"]["hops"] == 2
    # single-hop
    assert got["http://ch0.com/r0"]["final_url"] == "http://ch0.com/r1"
    assert got["http://ch0.com/r0"]["hops"] == 1
    # cycle members and the self-loop are flagged, never "terminal"
    for u in ("http://cyc.com/0", "http://cyc.com/1", "http://cyc.com/2",
              "http://self.com/a"):
        assert got[u]["terminal"] is False
    # conflicting duplicate source: deterministic min target
    assert got["http://dup.com/a"]["final_url"] == "http://dup.com/b"


def test_resolve_redirects_relative_locations(spark):
    """RFC 9110 §10.2.2: Location may be a relative reference — resolved
    against the source url via the RFC 3986 §5 merge."""
    from fusus_spark.operators.webgraph import resolve_redirects

    rows = [
        ("http://rel.com/dir/old", 301, "/new"),      # root-relative
        ("http://rel.com/dir/old2", 302, "next"),     # path-relative
        ("http://r2.com/a", 301, "/b"),               # mixed 2-chain
        ("http://r2.com/b", 301, "c"),
        ("http://dot.com/a/b/c", 301, "../x"),        # dot-segment merge
        ("http://frag.com/a", 301, "/p#sec"),         # fragment dropped
        ("http://junk.com/a", 301, "mailto:x@y.z"),   # unresolvable: dropped
        # https sources: the SOURCE scheme must survive resolution —
        # an http:// downgrade would break the chain at the join key
        # and falsely mark the mid-chain endpoint terminal
        ("https://sec.com/a", 301, "/b"),
        ("https://sec.com/b", 301, "https://sec.com/c"),
        ("https://proto.com/a", 301, "//proto.com/x"),
    ]
    df = spark.createDataFrame(rows, "url string, http_status int, location string")
    got = {r["url"]: r for r in resolve_redirects(df).collect()}
    assert got["http://rel.com/dir/old"]["final_url"] == "http://rel.com/new"
    assert got["http://rel.com/dir/old2"]["final_url"] == "http://rel.com/dir/next"
    assert got["http://r2.com/a"]["final_url"] == "http://r2.com/c"
    assert got["http://r2.com/a"]["hops"] == 2
    assert got["http://dot.com/a/b/c"]["final_url"] == "http://dot.com/a/x"
    assert got["http://frag.com/a"]["final_url"] == "http://frag.com/p"
    assert "http://junk.com/a" not in got
    assert got["https://sec.com/a"]["final_url"] == "https://sec.com/c"
    assert got["https://sec.com/a"]["hops"] == 2
    assert got["https://sec.com/a"]["terminal"] is True
    assert got["https://proto.com/a"]["final_url"] == "https://proto.com/x"


def test_resolve_redirects_max_hops(spark):
    from fusus_spark.operators.webgraph import resolve_redirects

    rows = [(f"http://long.com/{i}", 301, f"http://long.com/{i + 1}")
            for i in range(6)]
    df = spark.createDataFrame(rows, "url string, http_status int, location string")
    # default cap: the 6-chain resolves
    got = {r["url"]: r for r in resolve_redirects(df).collect()}
    assert got["http://long.com/0"]["terminal"] is True
    assert got["http://long.com/0"]["hops"] == 6
    # cap below the chain length: the head must NOT be presented as
    # terminal (its reported endpoint may still be mid-chain)
    capped = {r["url"]: r for r in resolve_redirects(df, max_hops=4).collect()}
    assert capped["http://long.com/0"]["terminal"] is False
    assert capped["http://long.com/3"]["terminal"] is True  # 3-suffix fits


def test_resolve_redirects_matches_duckdb_recursive_oracle(spark):
    """Terminal rows vs an independent DuckDB recursive-CTE transitive
    closure over the same edge set (cycles and the hop cap fall out of
    the recursion bound on both sides)."""
    from fusus_spark.operators.webgraph import resolve_redirects

    records = _redirect_records(spark)
    sdf = (
        resolve_redirects(records)
        .where("terminal")
        .select("url", "final_url", "hops")
    )
    con = duckdb.connect()
    con.register("records", records.toPandas())
    orows = con.execute("""
WITH RECURSIVE edges AS (
  SELECT url AS src, min(trim(location)) AS dst
  FROM records
  WHERE http_status BETWEEN 300 AND 399
    AND location IS NOT NULL AND trim(location) <> ''
  GROUP BY url
), walk(url, final_url, hops) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT w.url, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.final_url
  WHERE w.hops < 16
)
SELECT url, final_url, hops FROM walk w
WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.final_url)
""").fetchall()
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == len(orows) > 0
    assert value_hash(sdf.columns, srows) == value_hash(
        ["url", "final_url", "hops"], [tuple(r) for r in orows]
    )


def test_resolve_redirects_checkpoint_dir_fault_tolerant_path(spark, tmp_path):
    """checkpoint_dir mode: identical rows, doubling rounds snapshotted
    through PARQUET — the final plan scans files, never an ExistingRDD."""
    from fusus_spark.operators.webgraph import resolve_redirects

    records = _redirect_records(spark)
    want = sorted(tuple(r) for r in resolve_redirects(records).collect())
    ck = str(tmp_path / "rd_ck")
    out = resolve_redirects(records, checkpoint_dir=ck)
    assert sorted(tuple(r) for r in out.collect()) == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    import os
    assert "edges" in sorted(os.listdir(ck))


def test_host_graph_redirect_collapse(spark):
    """redirects= on the host-graph builders: degree/anchor credit
    lands on the serving host; a collapse back onto the source host
    becomes a self-edge and drops."""
    from pyspark.sql import functions as F
    from fusus_spark.operators.webgraph import (
        host_anchor_texts, host_link_stats, host_pagerank)

    docs = spark.createDataFrame(
        [
            ("http://a.com/p",
             "<a href='http://old.com/x'>Great Site</a>"
             "<a href='http://back.com/y'>loop</a>"),
            ("http://b.com/p", "<a href='http://old.com/x'>great site</a>"),
        ],
        "url string, html string",
    ).withColumn("html", F.encode("html", "utf-8"))
    rd = spark.createDataFrame(
        [
            ("http://old.com/x", "http://served.com/x", 1, True),
            # collapses a.com's edge back onto itself -> self-edge drop
            ("http://back.com/y", "http://a.com/home", 1, True),
        ],
        "url string, final_url string, hops int, terminal boolean",
    )
    deg = {r["host"]: r for r in host_link_stats(docs, redirects=rd).collect()}
    assert deg["served.com"]["in_degree"] == 2
    assert "old.com" not in deg
    assert deg["a.com"]["out_degree"] == 1  # back.com edge self-collapsed
    # without the collapse, credit sits on the 301 shell
    deg0 = {r["host"]: r for r in host_link_stats(docs).collect()}
    assert deg0["old.com"]["in_degree"] == 2 and "served.com" not in deg0

    anch = host_anchor_texts(docs, k=5, redirects=rd).collect()
    by_host = {(r["host"], r["anchor"]) for r in anch}
    assert ("served.com", "great site") in by_host
    assert all(h != "old.com" for h, _ in by_host)

    ranks = {r["host"]: r["rank_e9"]
             for r in host_pagerank(docs, iters=3, redirects=rd).collect()}
    assert "served.com" in ranks and "old.com" not in ranks

    edges = spark.createDataFrame(
        [("a.com", "b.com")], "src_host string, dst_host string"
    )
    try:
        host_pagerank(edges=edges, redirects=rd)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_follow_redirects_hand_cases(spark):
    from fusus_spark.operators.webgraph import follow_redirects

    links = spark.createDataFrame(
        [
            ("http://a.com/1", "http://old.com/x"),   # terminal source: re-aimed
            ("http://a.com/1", "http://cyc.com/0"),   # cycle member: verbatim
            ("http://b.com/2", "http://plain.com/y"), # no mapping: verbatim
            ("http://b.com/2", None),                 # null stays null
        ],
        "src_url string, resolved string",
    )
    rd = spark.createDataFrame(
        [
            ("http://old.com/x", "http://new.com/x", 2, True),
            ("http://cyc.com/0", "http://cyc.com/1", 4, False),
        ],
        "url string, final_url string, hops int, terminal boolean",
    )
    got = sorted(
        ((r["src_url"], r["resolved"])
         for r in follow_redirects(links, rd).collect()),
        key=lambda t: (t[0], t[1] is not None, t[1] or ""),
    )
    assert got == [
        ("http://a.com/1", "http://cyc.com/0"),
        ("http://a.com/1", "http://new.com/x"),
        ("http://b.com/2", None),
        ("http://b.com/2", "http://plain.com/y"),
    ]


def test_follow_redirects_matches_duckdb_oracle(spark):
    """Composition over the real chain: resolve_redirects output feeds
    follow_redirects; oracle re-derives the rewrite as a left join over
    the same terminal map."""
    from fusus_spark.operators.webgraph import follow_redirects, resolve_redirects

    from pyspark.sql import functions as F

    records = _redirect_records(spark)
    rd = resolve_redirects(records)
    links = records.select(
        F.lit("http://linker.com/p").alias("src_url"),
        F.col("url").alias("resolved"),
    )
    sdf = follow_redirects(links, rd)
    con = duckdb.connect()
    con.register("links", links.toPandas())
    con.register("rd", rd.toPandas())
    orows = con.execute("""
SELECT l.src_url, coalesce(m.final_url, l.resolved) AS resolved
FROM links l LEFT JOIN (SELECT url, final_url FROM rd WHERE terminal) m
ON l.resolved = m.url
""").fetchall()
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == len(orows) > 0
    assert value_hash(sdf.columns, srows) == value_hash(
        ["src_url", "resolved"], [tuple(r) for r in orows]
    )


def test_base_href_harvest_and_resolution(spark):
    """<base href> (first with-href tag wins, per spec) is harvested by
    include_base=True and applied by resolve_links(base_col=...) as a
    two-level resolution — base against document, href against base —
    matching nested urljoin as the independent reference."""
    from urllib.parse import urljoin

    from fusus_spark.operators.webgraph import extract_links, resolve_links

    pages = [
        # absolute base: relative hrefs leave the document's host
        ("http://h.com/dir/page", '<base href="http://cdn.com/assets/">'
         '<a href="x.png">x</a><a href="/root">r</a>'
         '<a href="http://abs.com/q">abs</a>'),
        # relative base: resolves against the document url first
        ("http://h.com/a/b/page", "<base href='../up/'>"
         '<a href="y.css">y</a>'),
        # first base wins; later base ignored
        ("http://h.com/p", '<base href="http://one.com/d/">'
         '<base href="http://two.com/e/"><a href="f">f</a>'),
        # base without href does NOT shadow a later base with one
        ("http://h.com/t", '<base target="_blank">'
         '<base href="http://real.com/g/"><a href="h">h</a>'),
        # no base at all: document url is the base
        ("http://h.com/n/m", '<a href="z">z</a>'),
        # query-only href against an absolute base (spec: base's path)
        ("http://h.com/q", '<base href="http://b.com/bp?bq=1">'
         '<a href="?n=2">n</a>'),
    ]
    docs = spark.createDataFrame(
        [(u, h.encode()) for u, h in pages], "url string, html binary"
    )
    links = extract_links(docs, include_base=True)
    got = {
        (r["src_url"], r["href"]): (r["base_href"], r["resolved"])
        for r in resolve_links(
            links, page_level=True, base_col="base_href"
        ).collect()
    }

    for (src, href), (base, resolved) in got.items():
        eff = urljoin(src, base) if base else src
        want = urljoin(eff, href).split("#", 1)[0]
        assert resolved == want, (src, base, href, resolved, want)

    # the interesting pins, explicitly
    assert got[("http://h.com/dir/page", "x.png")] == (
        "http://cdn.com/assets/", "http://cdn.com/assets/x.png")
    assert got[("http://h.com/dir/page", "/root")][1] == "http://cdn.com/root"
    assert got[("http://h.com/dir/page", "http://abs.com/q")][1] == "http://abs.com/q"
    assert got[("http://h.com/a/b/page", "y.css")] == (
        "../up/", "http://h.com/a/up/y.css")
    assert got[("http://h.com/p", "f")][1] == "http://one.com/d/f"
    assert got[("http://h.com/t", "h")][1] == "http://real.com/g/h"
    assert got[("http://h.com/n/m", "z")] == (None, "http://h.com/n/z")
    assert got[("http://h.com/q", "?n=2")][1] == "http://b.com/bp?n=2"
