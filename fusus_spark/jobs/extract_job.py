"""Cluster extraction job — the ``spark-submit --py-files`` entry point.

North-rule launch shape:

    tools/package.sh                       # builds dist/fusus_spark.zip
    spark-submit --py-files dist/fusus_spark.zip \\
        fusus_spark/jobs/extract_job.py \\
        --input  <bucketed documents table dir> \\
        --output <output root: one <kind> table per --emit kind> \\
        --ledger <progress ledger dir>

The job is resumable: units already marked done in the ledger (with
matching input lineage) are skipped; kill it at any point and re-submit
with the same arguments to resume exactly (tests/test_resume.py).
The units left run ``sources.ledger.UNITS_IN_FLIGHT`` at a time, each
from its own driver thread and with its Spark jobs described
``extract:<unit>``. The words/extracted/removals tables of a unit are
ONE Spark job: the fused stage's Python workers write them straight
to the unit's staging dirs (so the executors must see ``--output``),
nothing is persisted, and a task holds one Arrow batch of pages at a
time. Read the output back with ``sources.ledger.load_done``.

``--input-format warc`` accepts raw crawl segment files instead: the
segments are ingested (fusus_spark.sources.warc — one task per file,
the Common-Crawl layout, nested segment dirs included) and laid out as
the bucketed table first (``--buckets`` sets its bucket count; a
bucketed input brings its own), then the same resumable per-bucket
extraction runs. The ingest is gated on a fingerprint of the segment listing
(names + sizes + bucket count): an unchanged re-submit skips it so the
table stays byte-identical and every bucket resumes; a changed listing
re-ingests, and the lineage flip invalidates the affected buckets.

On a real cluster the input is an Iceberg table partitioned by
``days(warc_ts) + bucket(N, url)``; here the same layout is plain
parquet — ``bucket=k/`` directories, or the full
``crawl_date=D/bucket=k/`` grid (fusus_spark.sources.ledger.
write_bucketed_input with date_col; ``--by-date`` makes WARC ingest
write it). The job reads its layout and bucket count from the table:
each partition dir is one restart unit, and on a crawl-date table
``--dates`` limits a run to chosen crawl drops.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from fusus_spark.session import configure


def run_job(
    spark: SparkSession,
    *,
    input_path: str,
    output_path: str,
    ledger_path: str,
    n_buckets: int | None = None,
    input_format: str = "bucketed-parquet",
    table_dir: str | None = None,
    emit: tuple[str, ...] = ("words",),
    max_html_bytes: int = 4 * 1024 * 1024,
    by_date: bool = False,
    dates: list[str] | None = None,
    respect_robots: bool = False,
    html_only: bool = False,
) -> dict:
    """The job body, session-agnostic (tests drive it directly).

    ``n_buckets`` is the bucket count WARC ingest writes the table with;
    a bucketed-parquet input has its own (its ``bucket=k`` dirs), so
    there it is not read. ``by_date=True`` makes WARC ingest write the
    ``crawl_date=D/bucket=K`` layout; the extraction reads the layout
    from the table either way.
    ``dates`` limits a crawl-date table's run to specific crawl dates
    (e.g. reprocessing one crawl drop).
    """
    from fusus_spark.sources.ledger import run_extraction_job, write_bucketed_input

    if input_format == "warc":
        import hashlib
        import os

        from fusus_spark.sources.warc import read_warc

        if n_buckets is None:
            raise ValueError("warc ingest needs n_buckets")

        table_dir = table_dir or output_path.rstrip("/") + ".table"
        # idempotent ingest: re-writing the table would rename its
        # parquet files and flip every bucket's input lineage, forcing a
        # full redo on every re-submit. A fingerprint of the segment
        # listing (names + sizes) gates the ingest — unchanged segments
        # leave the table byte-identical so extraction resumes per
        # bucket; changed segments re-ingest and the lineage flip
        # correctly invalidates the affected buckets. The marker file's
        # '_' prefix keeps it invisible to Spark's directory listing.
        # layout change (bucket count OR date partitioning) must
        # re-ingest — and so must a change in what ingest MEANS: the
        # schema version covers the envelope columns + non-200 filter
        # (v2), the charset decode-hint column (v3), the HTTP
        # validator columns etag/last_modified (v4), and the redirect
        # location column + retained envelope-only 3xx rows (v6; v5
        # carried the column but filtered the rows that populate it)
        # so a table built by older code is rebuilt rather than
        # silently consumed without http_status/charset/x_robots_tag
        entries = [f"n_buckets={n_buckets}", f"by_date={by_date}",
                   "ingest_schema=v6", f"html_only={html_only}"]
        for root, _dirs, files in os.walk(input_path):
            for f in files:
                if ".warc" in f:
                    p = os.path.join(root, f)
                    entries.append(
                        f"{os.path.relpath(p, input_path)}:{os.path.getsize(p)}"
                    )
        fingerprint = hashlib.md5("|".join(sorted(entries)).encode()).hexdigest()
        marker = os.path.join(table_dir, "_ingest.json")
        prior = None
        try:
            with open(marker) as fh:
                prior = json.load(fh).get("fingerprint")
        except (FileNotFoundError, json.JSONDecodeError):
            prior = None  # absent or torn marker -> safe redo
        if prior != fingerprint:
            from pyspark.sql import functions as F

            # keep OK responses as documents and 3xx responses as
            # ENVELOPE-ONLY rows: a 301/404 body must not be extracted
            # as a document (the per-bucket extraction read filters to
            # 200/null — ledger._content_rows), but the Location
            # header is the redirect graph's edge set
            # (webgraph.resolve_redirects), so redirect rows travel
            # into the table with their html nulled (a 3xx body is a
            # stub nobody reads). Null status (no HTTP envelope in
            # the record) is kept — flag-don't-drop for legacy/plain
            # payloads; the envelope columns travel into the table so
            # the robots consent tier can honor X-Robots-Tag per bucket.
            docs = read_warc(spark, input_path)
            keep_ok = (
                (F.col("http_status") == 200) | F.col("http_status").isNull()
            )
            if html_only:
                # declared-type filter BEFORE the table is even written:
                # at crawl scale the media/JSON/PDF payloads a generic
                # fetch returns should never pay for bucketing, let
                # alone the Arrow parse channel. Envelope-less rows
                # (null type) are kept — absence of a declaration is
                # not evidence of non-HTML. Redirect rows are exempt:
                # their content_type describes the stub body, not the
                # edge.
                keep_ok = keep_ok & (
                    F.col("content_type").isNull()
                    | F.col("content_type").isin(
                        "text/html", "application/xhtml+xml"
                    )
                )
            is_redirect = (
                F.col("http_status").between(300, 399)
                & F.col("location").isNotNull()
            )
            docs = docs.where(keep_ok | is_redirect).withColumn(
                "html",
                F.when(is_redirect, F.lit(None).cast("binary")).otherwise(
                    F.col("html")
                ),
            )
            write_bucketed_input(
                docs, table_dir, n_buckets,
                date_col="warc_ts" if by_date else None,
            )
            # tmp + atomic replace: a crash mid-write must leave a
            # missing/torn marker (redo), never a valid-looking lie
            tmp_marker = marker + ".tmp"
            with open(tmp_marker, "w") as fh:
                json.dump({"fingerprint": fingerprint}, fh)
            os.replace(tmp_marker, marker)
        input_path = table_dir
    return run_extraction_job(
        spark,
        input_path,
        output_path,
        ledger_path,
        dates=dates,
        emit=emit,
        max_html_bytes=max_html_bytes,
        respect_robots=respect_robots,
    )


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="bucketed documents dir, or a crawl segment dir with --input-format warc")
    p.add_argument("--output", required=True, help="root of the <output>/<kind> tables")
    p.add_argument("--ledger", required=True, help="progress ledger dir")
    p.add_argument("--buckets", type=int,
                   help="bucket count of the table warc ingest writes (required "
                        "with --input-format warc; a bucketed input has its own)")
    p.add_argument("--input-format", choices=("bucketed-parquet", "warc"),
                   default="bucketed-parquet")
    p.add_argument("--table-dir",
                   help="bucketed table dir for warc ingest (default <output>.table)")
    p.add_argument("--emit", default="words",
                   help="comma list of output tables: parse-derived "
                        "words,extracted,removals + doc-level side tables "
                        "pagemeta,image_pairs,media_refs,jsonld")
    p.add_argument("--max-html-bytes", type=int, default=4 * 1024 * 1024)
    p.add_argument("--respect-robots", action="store_true",
                   help="drop meta/header-noindex pages BEFORE parsing "
                        "(publisher consent; map-side filter)")
    p.add_argument("--html-only", action="store_true",
                   help="warc ingest keeps only records whose Content-Type "
                        "declares html (or none) — media/JSON/PDF payloads "
                        "never reach the table")
    p.add_argument("--by-date", action="store_true",
                   help="warc ingest writes the crawl_date=D/bucket=K layout "
                        "(restart units become (crawl_date, bucket))")
    p.add_argument("--dates",
                   help="comma list of crawl dates to process on a crawl-date "
                        "table (default: all present)")
    args = p.parse_args(argv)

    if args.by_date and args.input_format != "warc":
        p.error("--by-date requires --input-format warc")
    if args.buckets is None and args.input_format == "warc":
        p.error("--input-format warc requires --buckets")

    spark = configure(SparkSession.builder.appName("fusus-extract")).getOrCreate()

    summary = run_job(
        spark,
        input_path=args.input,
        output_path=args.output,
        ledger_path=args.ledger,
        n_buckets=args.buckets,
        input_format=args.input_format,
        table_dir=args.table_dir,
        emit=tuple(k.strip() for k in args.emit.split(",") if k.strip()),
        max_html_bytes=args.max_html_bytes,
        by_date=args.by_date,
        dates=[d.strip() for d in args.dates.split(",") if d.strip()] if args.dates else None,
        respect_robots=args.respect_robots,
        html_only=args.html_only,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
