"""Seeded input generator for the three benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files.  The generator owns its HTML chrome and
vocabulary, so the inputs do not move when the program's own fixtures
change.  Sizes that set the amount of work (page size mix, hostile-page
shapes, duplicate shares) are fixed multisets; the seed only chooses
content and placement, so the work per run is nearly seed-invariant.

    python3 perfbench/gen.py --workload crawl --seed 3 --out /tmp/x
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The word vocabulary and length range of the sf0.1 ``documents.text``
# column (31 words, uniform; 10..100 words per text).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")
WARC_TS = 1767225600_000000  # 2026-01-01T00:00:00Z in microseconds

# Plain chrome (header, nav, ad banner, share bar, footer around one <p>).
SMALL_HEAD = (
    "<html><head><title>doc</title><meta charset='utf-8'>"
    "<style>p{margin:0}</style><script>var t=1;</script></head><body>"
    "<header class='site-header'><a href='/'>Home</a> <a href='/about'>About</a></header>"
    "<nav><ul><li><a href='/s1'>One</a></li><li><a href='/s2'>Two</a></li></ul></nav>"
    "<div class='ads-banner'><a href='/buy'>buy</a> <a href='/now'>now</a></div>"
    "<main><article><p>"
)
SMALL_TAIL = (
    "</p></article></main>"
    "<div class='social-share'><a href='#'>tw</a> <a href='#'>fb</a></div>"
    "<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a></footer>"
    "</body></html>"
)

# Multi-block adversarial chrome: boilerplate nested inside <article>,
# a content-classed div trapped in the footer, an inline ad between
# content blocks, a comments section.
CRAWL_HEAD = (
    "<html><head><title>doc</title><meta charset='utf-8'>"
    "<style>p{margin:0}</style><script>var t='<p>fake</p>';</script></head><body>"
    "<div id='page'>"
    "<header class='site-header'><a href='/'>Home</a></header>"
    "<nav><ul><li><a href='/s1'>One</a></li><li><a href='/s2'>Two</a></li></ul></nav>"
    "<div class='content-wrap'>"
    "<aside class='related'><a href='/r1'>rel one</a> <a href='/r2'>rel two</a></aside>"
    "<article><h1>doc "
)
CRAWL_AD = "<div class='ad-inline'><a href='/buy'>sponsored link</a></div>"
CRAWL_TAIL = (
    "</article>"
    "<section class='comments'><p>leave a comment below</p></section>"
    "</div>"
    "<footer><a href='/tos'>terms</a>"
    "<div class='content'><p>trapped inner text</p></div></footer>"
    "</div></body></html>"
)

# Tag-soup families, as truncated pages (no closing chrome): runs of
# unterminated "<a ", runs of open attribute quotes, deep <div>
# nesting.  (family, repeat count); the same multiset appears in every
# seed's table.  Counts are sized so that a parser whose cost grows with
# the square of the run length still finishes each page in ~0.15 s.
HOSTILE = (
    ("a_runs", 1500), ("a_runs", 1500),
    ("open_quotes", 1000), ("open_quotes", 1000),
    ("deep_div", 8000), ("deep_div", 8000),
)
_HOSTILE_UNIT = {"a_runs": "<a ", "open_quotes": "<a href='", "deep_div": "<div>"}

SIZES = {
    # pages per table; the job sizes below set how long one iteration runs
    "small": {"pages": 18000, "sample": 600},
    "crawl": {"pages": 2000, "buckets": 2, "sample": 60},
    "curate": {"docs": 300, "eval_docs": 40},
}


def scale(factor: float) -> None:
    """Shrink (or grow) every table by ``factor``; for smoke tests."""
    for sizes in SIZES.values():
        for key in ("pages", "docs", "eval_docs", "sample"):
            if key in sizes:
                sizes[key] = max(40, int(sizes[key] * factor))


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"perfbench:{workload}:{seed}")


def _text(rng: random.Random, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=8192)


def _pages_table(urls, htmls, texts, langs) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array([WARC_TS] * len(urls), pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def small_pages(seed: int, n: int | None = None) -> tuple[pa.Table, dict]:
    """~840 B pages: one text in the plain chrome, distinct urls."""
    n = n or SIZES["small"]["pages"]
    rng = _rng("small", seed)
    urls, htmls, texts, langs = [], [], [], []
    for i in range(n):
        t = _text(rng)
        urls.append(f"https://ex.com/doc/{i}/r/{seed}")
        htmls.append((SMALL_HEAD + t + SMALL_TAIL).encode())
        texts.append(t)
        langs.append(rng.choice(LANGS))
    table = _pages_table(urls, htmls, texts, langs)
    return table, {
        "docs": n,
        "html_bytes": sum(len(h) for h in htmls),
        "expected_words": sum(len(t.split()) for t in texts),
    }


def _hostile_body(rng: random.Random, family: str, count: int) -> str:
    """Page body that ends inside the tag soup (a truncated fetch)."""
    unit = _HOSTILE_UNIT[family]
    head = f"<p>{_text(rng, 10, 30)}</p>"
    if family == "deep_div":
        return head + unit * count + f"<p>{_text(rng, 10, 30)}"
    return head + "<p>" + unit * count


def crawl_pages(
    seed: int, n: int | None = None, hostile: tuple = HOSTILE
) -> tuple[pa.Table, dict]:
    """Crawl-like pages: several texts per page in the multi-block
    chrome, a heavy-tailed (Pareto, alpha 1.5, capped at 48 texts)
    size mix, and the fixed ``hostile`` tag-soup multiset at seeded
    positions."""
    n = n or SIZES["crawl"]["pages"]
    rng = _rng("crawl", seed)
    # fixed size multiset (quantiles of the Pareto), seeded order
    ks = [min(48, int((1.0 - (i + 0.5) / n) ** (-1 / 1.5))) for i in range(n)]
    rng.shuffle(ks)
    hostile_at = dict(zip(rng.sample(range(n), len(hostile)), hostile))
    urls, htmls, texts, langs = [], [], [], []
    for i, k in enumerate(ks):
        if i in hostile_at:
            blocks = [_hostile_body(rng, *hostile_at[i])]
            page = CRAWL_HEAD + str(i) + "</h1>" + blocks[0]
        else:
            blocks = [_text(rng) for _ in range(k)]
            body = "".join(
                f"<p>{b}</p>" + (CRAWL_AD if j == 0 else "") for j, b in enumerate(blocks)
            )
            page = CRAWL_HEAD + str(i) + "</h1>" + body + CRAWL_TAIL
        urls.append(f"https://h{rng.randrange(97)}.example.com/p/{seed}/{i}")
        htmls.append(page.encode())
        texts.append("\n".join(blocks))
        langs.append(rng.choice(LANGS))
    table = _pages_table(urls, htmls, texts, langs)
    return table, {
        "docs": n,
        "html_bytes": sum(len(h) for h in htmls),
        "hostile_pages": len(hostile_at),
        "expected_words": None,  # defined by extract_document, checked per run
    }


def _url_variant(rng: random.Random, url: str) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return url.replace("http://", "https://", 1)
    if kind == 1:
        return url + f"?utm_source=feed{rng.randrange(9)}&utm_medium=rss"
    return url + "/index.html"


def curate_corpus(
    seed: int, n: int | None = None, n_eval: int | None = None
) -> tuple[pa.Table, pa.Table, dict]:
    """(doc_id, url, text, lang) corpus plus an eval set.

    Fixed shares: 8% exact duplicates, 8% url variants (tracking
    params, protocol twins, index pages) carrying their source's text,
    ~30% of lines from a shared boilerplate pool, 5% of documents with
    a 20-token eval span, 3% too short for the quality gate, 5% with an
    email or IPv4 address."""
    n = n or SIZES["curate"]["docs"]
    n_eval = n_eval or SIZES["curate"]["eval_docs"]
    rng = _rng("curate", seed)
    evals = [_text(rng, 40, 60) for _ in range(n_eval)]
    shared = [_text(rng, 6, 12) for _ in range(40)]
    n_dup = n_var = n * 8 // 100
    n_contam, n_short, n_pii = n * 5 // 100, n * 3 // 100, n * 5 // 100
    n_fresh = n - n_dup - n_var
    roles = ["contam"] * n_contam + ["short"] * n_short + ["pii"] * n_pii
    roles += ["plain"] * (n_fresh - len(roles))
    rng.shuffle(roles)
    urls, texts = [], []
    for i, role in enumerate(roles):
        if role == "short":
            text = _text(rng, 1, 4)
        else:
            lines = [
                rng.choice(shared) if rng.random() < 0.3 else _text(rng, 6, 15)
                for _ in range(rng.randint(3, 6))
            ]
            if role == "contam":
                ev = rng.choice(evals).split()
                s = rng.randrange(len(ev) - 20)
                lines.insert(rng.randrange(len(lines) + 1), " ".join(ev[s:s + 20]))
            elif role == "pii":
                lines[-1] += (
                    f" mail user{i}@example.org" if i % 2 else
                    f" from 10.{i % 250}.{rng.randrange(250)}.{rng.randrange(250)}"
                )
            text = "\n".join(lines)
        urls.append(f"http://h{rng.randrange(50)}.example.com/p/{i}")
        texts.append(text)
    for _ in range(n_var):
        j = rng.randrange(n_fresh)
        urls.append(_url_variant(rng, urls[j]))
        texts.append(texts[j])
    for _ in range(n_dup):
        j = rng.randrange(n_fresh)
        urls.append(f"http://h{rng.randrange(50)}.example.com/copy/{len(urls)}")
        texts.append(texts[j])
    order = list(range(n))
    rng.shuffle(order)
    corpus = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "url": pa.array([urls[k] for k in order], pa.string()),
            "text": pa.array([texts[k] for k in order], pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        }
    )
    eval_table = pa.table(
        {
            "doc_id": pa.array(range(n_eval), pa.int64()),
            "text": pa.array(evals, pa.string()),
        }
    )
    return corpus, eval_table, {
        "docs": n,
        "eval_docs": n_eval,
        "text_bytes": sum(len(t.encode()) for t in texts),
        "url_variants": n_var,
        "exact_dups": n_dup,
        "contaminated": n_contam,
    }


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write one workload's input tables under ``out_dir``; returns the
    input-size record (docs, bytes, expected words) plus file paths."""
    if workload == "small":
        table, info = small_pages(seed)
        info["pages_path"] = os.path.join(out_dir, "pages.parquet")
        write_table(table, info["pages_path"])
    elif workload == "crawl":
        table, info = crawl_pages(seed)
        info["pages_path"] = os.path.join(out_dir, "pages.parquet")
        write_table(table, info["pages_path"])
    elif workload == "curate":
        corpus, ev, info = curate_corpus(seed)
        info["corpus_path"] = os.path.join(out_dir, "corpus", "part-0.parquet")
        info["eval_path"] = os.path.join(out_dir, "eval", "part-0.parquet")
        write_table(corpus, info["corpus_path"])
        write_table(ev, info["eval_path"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return info


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", choices=("small", "crawl", "curate"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    info = write_inputs(a.workload, a.seed, a.out)
    info["sha256"] = digest(a.out)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
