"""Kill/resume acceptance test (north rule: resume-exactly).

Run the bucketed extraction job, inject a crash after k buckets,
resume, and assert the final output is byte-identical to a single
uninterrupted run — plus ledger completeness and lineage invalidation.
Output is read back only through ``ledger.load_done``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fusus_spark.schema import DOCUMENTS_SCHEMA
from fusus_spark.sources.ledger import (
    BucketLock,
    Ledger,
    input_lineage,
    load_done,
    run_extraction_job,
    write_bucketed_input,
)
from tests.fixtures import fixture_documents

N_BUCKETS = 4


@pytest.fixture(scope="module")
def bucketed_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("job") / "input")
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    write_bucketed_input(docs, path, N_BUCKETS)
    return path


@pytest.fixture(scope="module")
def reference(spark, bucketed_input, tmp_path_factory):
    """The words table of one uninterrupted run."""
    base = tmp_path_factory.mktemp("ref")
    out, ledger_path = str(base / "out"), str(base / "ledger")
    summary = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert summary["processed"] == N_BUCKETS
    return load_done(spark, out, ledger_path, "words")


def _corpus_hash(df) -> str:
    return (
        df.orderBy("url", "block_id", "line_id", "word_seq")
        .select(
            F.md5(
                F.concat_ws("\x1f", "url", "block_id", "line_id", "word_seq",
                            "word", "punc", "char_start", "char_end")
            ).alias("h")
        )
        .agg(F.md5(F.concat_ws("", F.collect_list("h"))).alias("ch"))
        .first()["ch"]
    )


def test_kill_and_resume_identical(spark, bucketed_input, reference, tmp_path):
    ref_hash = _corpus_hash(reference)

    # Killed run: crash after 2 buckets.
    out = str(tmp_path / "out")
    ledger_path = str(tmp_path / "ledger")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path, fail_after=2
        )
    ledger = Ledger(ledger_path)
    done_after_crash = [r["partition_id"] for r in ledger.rows()]
    assert len(done_after_crash) == 2

    # Resume: must process exactly the remaining buckets.
    summary2 = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert summary2["skipped"] == 2
    assert summary2["processed"] == N_BUCKETS - 2

    # Final state identical to uninterrupted run.
    assert _corpus_hash(load_done(spark, out, ledger_path, "words")) == ref_hash

    # Ledger: one row per bucket with lineage + metrics.
    rows = ledger.rows()
    assert len(rows) == N_BUCKETS
    for r in rows:
        assert r["status"] == "done"
        assert r["rows_in"] > 0
        assert r["bytes_in"] > 0
        assert r["input_snapshot_id"]
        assert r["wall_ms"] >= 0
        assert set(r["outputs"]) == {"words"}

    # Idempotence: immediate re-run skips everything.
    summary3 = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert summary3["processed"] == 0
    assert summary3["skipped"] == N_BUCKETS


def test_kill_between_write_and_rename(spark, bucketed_input, reference, tmp_path):
    """Crash AFTER the staging write but BEFORE the atomic rename: the
    bucket must not be visible to readers (no partial dir under the
    final name), the ledger must not mark it, and the resumed run must
    converge to the byte-identical final state with no stale staging
    dirs left behind."""
    ref_hash = _corpus_hash(reference)

    out = str(tmp_path / "out")
    ledger_path = str(tmp_path / "ledger")
    with pytest.raises(RuntimeError, match="between write and rename"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path,
            fail_before_commit=1,
        )
    ledger = Ledger(ledger_path)
    assert len(ledger.rows()) == 1  # only the bucket committed before the crash
    committed = {r["partition_id"] for r in ledger.rows()}
    # the crashed bucket left a dir in the SIBLING staging tree but no
    # final dir — a concurrent reader of out/ sees only complete buckets
    words = os.path.join(out, "words")
    victims = [d for d in os.listdir(words + ".staging") if d.startswith("bucket=")]
    assert len(victims) == 1
    finals = set(os.listdir(words))
    assert finals == committed
    # the table root stays readable mid-crash (no partial/conflicting dirs)
    visible = spark.read.parquet(words).count()
    assert visible > 0

    summary = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert summary["skipped"] == 1
    assert summary["processed"] == N_BUCKETS - 1
    assert _corpus_hash(load_done(spark, out, ledger_path, "words")) == ref_hash
    # every staging dir was either swept (the crashed attempt) or
    # renamed into the table — the staging tree drains to empty
    assert os.listdir(words + ".staging") == []


# The job process of the kill test: its own session, one "started" line
# once that session is up, then one run_extraction_job(input, out, ledger).
_KILLED_JOB = """
import sys
from fusus_spark.session import get_spark
from fusus_spark.sources.ledger import run_extraction_job
spark = get_spark("killed-job", master="local[2]", shuffle_partitions=4)
print("started", flush=True)
run_extraction_job(spark, *sys.argv[1:])
"""


def test_kill_with_units_in_flight_resumes_exactly(spark, bucketed_input, reference, tmp_path):
    """SIGKILL the job's whole process group at a seeded random delay
    after its session is up, for three seeds; at least one kill lands
    while two units are in flight (their two lock files outlive the
    process). After each kill the words table holds only bucket dirs;
    an in-process resume converges to the uninterrupted output with the
    staging tree and the locks drained, and a second resume processes
    no unit."""
    import random
    import re
    import select
    import signal
    import subprocess
    import sys
    import time

    ref_hash = _corpus_hash(reference)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # a killed JVM cannot clean up its temp dirs: keep them in tmp_path
    spark_tmp = tmp_path / "spark_tmp"
    spark_tmp.mkdir()
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
        "FUSUS_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(spark_tmp),
        "TMPDIR": str(spark_tmp),
    }
    in_flight = []
    for seed in range(3):
        out, led = str(tmp_path / f"out{seed}"), str(tmp_path / f"ledger{seed}")
        with open(tmp_path / f"job{seed}.log", "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-c", _KILLED_JOB, bucketed_input, out, led],
                stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                start_new_session=True,
            )
        try:
            ready, _, _ = select.select([proc.stdout], [], [], 300)
            assert ready and proc.stdout.readline() == "started\n"
            time.sleep(random.Random(seed).uniform(0.5, 4.0))
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass  # the job had already ended
            proc.wait()
        locks = os.path.join(led, "locks")
        in_flight.append(len(os.listdir(locks)) if os.path.isdir(locks) else 0)
        words = os.path.join(out, "words")
        if os.path.isdir(words):
            assert all(re.fullmatch(r"bucket=\d", d) for d in os.listdir(words))

        s1 = run_extraction_job(spark, bucketed_input, out, led)
        assert s1["processed"] + s1["skipped"] == N_BUCKETS and s1["locked"] == 0
        assert os.listdir(words + ".staging") == [] and os.listdir(locks) == []
        assert sorted(os.listdir(words)) == [f"bucket={k}" for k in range(N_BUCKETS)]
        assert _corpus_hash(load_done(spark, out, led, "words")) == ref_hash
        s2 = run_extraction_job(spark, bucketed_input, out, led)
        assert s2["processed"] == 0 and s2["skipped"] == N_BUCKETS
    assert max(in_flight) == 2, in_flight


def test_failed_unit_stops_dispatch_and_drains(spark, bucketed_input, monkeypatch, tmp_path):
    """A unit that fails stops dispatch: the unit in flight beside it
    still commits, no later unit starts, every lock is released, and
    the first error is re-raised."""
    import threading

    from fusus_spark.sources import ledger as ledger_mod

    failed = threading.Event()
    sweep = ledger_mod._sweep_staging

    def fail_bucket_1(staging_root, unit):
        if unit == "bucket=1":
            failed.set()
            raise OSError("no space left on device")
        assert failed.wait(120)  # bucket 0 finishes only after bucket 1 failed
        return sweep(staging_root, unit)

    monkeypatch.setattr(ledger_mod, "_sweep_staging", fail_bucket_1)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    with pytest.raises(OSError, match="no space left"):
        run_extraction_job(spark, bucketed_input, out, led)
    assert [r["partition_id"] for r in Ledger(led).rows()] == ["bucket=0"]
    assert os.listdir(os.path.join(out, "words")) == ["bucket=0"]
    assert os.listdir(os.path.join(led, "locks")) == []


def test_load_done_reads_only_committed_buckets(spark, bucketed_input, reference, tmp_path):
    """load_done reads exactly the buckets whose ledger row is done:
    after a kill between buckets, after a kill between the staging
    write and the rename, with a committed dir whose row is gone, and
    with a row left by an older, larger bucket count (which the next
    run retires). The resumed output equals the uninterrupted run."""
    import shutil

    out = str(tmp_path / "out")
    ledger_path = str(tmp_path / "ledger")
    words = os.path.join(out, "words")

    def loaded() -> tuple[set[int], str]:
        df = load_done(spark, out, ledger_path, "words")
        return {r["bucket"] for r in df.select("bucket").distinct().collect()}, _corpus_hash(df)

    def want(buckets: set[int]) -> tuple[set[int], str]:
        return buckets, _corpus_hash(reference.where(F.col("bucket").isin(sorted(buckets))))

    with pytest.raises(ValueError, match="'words'"):
        load_done(spark, out, ledger_path, "words")  # nothing committed yet
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path, fail_after=2
        )
    assert loaded() == want({0, 1})

    # staged for bucket 2 but never renamed: invisible
    with pytest.raises(RuntimeError, match="between write and rename"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path, fail_before_commit=0
        )
    assert len(os.listdir(words + ".staging")) == 1
    assert loaded() == want({0, 1})

    # a committed dir whose ledger row is gone (renamed, not yet marked): invisible
    os.unlink(os.path.join(ledger_path, "bucket=0.json"))
    assert os.path.isdir(os.path.join(words, "bucket=0"))
    assert loaded() == want({1})
    # a kind the ledger does not list is not read either
    with pytest.raises(ValueError, match="'extracted'"):
        load_done(spark, out, ledger_path, "extracted")

    # a done row of an older 5-bucket run: read while the ledger names it,
    # retired by the next 4-bucket run
    shutil.copytree(os.path.join(words, "bucket=1"), os.path.join(words, f"bucket={N_BUCKETS}"))
    Ledger(ledger_path).mark_done(f"bucket={N_BUCKETS}", **{
        k: v for k, v in Ledger(ledger_path).get("bucket=1").items()
        if k not in ("partition_id", "status", "attempt")
    })
    assert loaded()[0] == {1, N_BUCKETS}

    summary = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert summary["processed"] == N_BUCKETS - 1 and summary["skipped"] == 1
    assert loaded() == want(set(range(N_BUCKETS)))


def test_flat_layout_ledger_is_redone_into_the_kind_layout(spark, tmp_path):
    """A ledger from the older flat layout, whose rows carry no
    ``outputs``: a flat ``out/bucket=0`` dir, one row keyed by the old
    ``+emit=words`` lineage suffix and one by the bare input lineage.
    Both buckets are redone and counted relineaged, and load_done reads
    the ``out/words`` table, not the flat dir."""
    from fusus_spark.extraction.pipeline import extract_stage, words_from_stage

    rows = [
        (f"http://ex.com/{i}", None, f"<p>body {i} of the page</p>".encode(), None, "en")
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    inp = str(tmp_path / "input")
    write_bucketed_input(docs, inp, 2)
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")
    spark.createDataFrame([("http://ex.com/stale",)], "url string").write.parquet(
        os.path.join(out, "bucket=0")
    )
    for bucket, suffix in ((0, "+emit=words"), (1, "")):
        Ledger(led).mark_done(
            f"bucket={bucket}", rows_in=6, rows_out=6, bytes_in=1, bytes_out=1,
            input_snapshot_id=input_lineage(inp, f"bucket={bucket}") + suffix, wall_ms=0,
        )

    summary = run_extraction_job(spark, inp, out, led)
    assert summary["processed"] == 2 and summary["skipped"] == 0
    assert summary["relineaged"] == 2
    got = load_done(spark, out, led, "words").drop("bucket")
    want = words_from_stage(extract_stage(docs)).select(*got.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_multi_emit_one_parse_three_tables(spark, bucketed_input, tmp_path):
    """emit=(words, extracted, removals): one fused parse per bucket
    feeds all three tables, each bucket-committed atomically; the
    contents match the batch accessors and a killed run resumes."""
    from pyspark.sql import functions as F

    from fusus_spark.extraction.pipeline import (
        extract_removals,
        extract_stage,
        extracted_from_stage,
        repartition_salted,
    )

    out = str(tmp_path / "out3")
    ledger_path = str(tmp_path / "ledger3")
    emit = ("words", "extracted", "removals")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path,
            emit=emit, fail_after=2,
        )
    summary = run_extraction_job(
        spark, bucketed_input, out, ledger_path, emit=emit
    )
    assert summary["processed"] == N_BUCKETS - 2 and summary["skipped"] == 2

    docs = spark.read.parquet(bucketed_input).drop("bucket")
    want_env = extracted_from_stage(extract_stage(repartition_salted(docs, 4)))
    got_env = load_done(spark, out, ledger_path, "extracted").drop("bucket")
    assert got_env.count() == want_env.count()
    assert got_env.exceptAll(want_env).count() == 0

    want_rem = extract_removals(docs).where(~F.col("kept")).count()
    got_rem = (
        load_done(spark, out, ledger_path, "removals")
        .where(~F.col("kept")).count()
    )
    assert got_rem == want_rem
    assert load_done(spark, out, ledger_path, "words").count() > 0

    # ledger carries per-kind metrics
    rows = Ledger(ledger_path).rows()
    assert all(set(r["outputs"]) == set(emit) for r in rows)


def test_lineage_invalidation(spark, bucketed_input, tmp_path):
    out = str(tmp_path / "out2")
    ledger_path = str(tmp_path / "ledger2")
    run_extraction_job(spark, bucketed_input, out, ledger_path)
    ledger = Ledger(ledger_path)
    # the stored key is the input lineage; the emit set is the row's outputs
    lineage0 = input_lineage(bucketed_input, "bucket=0")
    assert ledger.is_done("bucket=0", lineage0, ("words",))
    assert not ledger.is_done("bucket=0", lineage0, ("words", "jsonld"))
    # If the input bucket changes, the bucket is no longer considered done.
    assert not ledger.is_done("bucket=0", "different-lineage")
    # Corrupt ledger file -> treated as not-done (safe redo, not crash).
    with open(os.path.join(ledger_path, "bucket=1.json"), "w") as f:
        f.write("{broken json")
    assert not ledger.is_done("bucket=1", input_lineage(bucketed_input, "bucket=1"))


def _fixture_rows(day: str | None = None) -> list[tuple]:
    """The fixture documents as DOCUMENTS_SCHEMA rows, optionally only
    those crawled on UTC ``day``."""
    return [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
        if day is None or str(d["warc_ts"])[:10] == day
    ]


def _buckets_read(df) -> set[str]:
    """The partition ids a load_done frame read."""
    cols = ["crawl_date", "bucket"] if "crawl_date" in df.columns else ["bucket"]
    return {
        "/".join(f"{c}={r[c]}" for c in cols)
        for r in df.select(*cols).distinct().collect()
    }


@pytest.fixture(scope="module")
def dated_input(spark, tmp_path_factory):
    """The fixture documents in the crawl_date=D/bucket=k layout."""
    path = str(tmp_path_factory.mktemp("dated") / "input")
    docs = spark.createDataFrame(_fixture_rows(), schema=DOCUMENTS_SCHEMA)
    write_bucketed_input(docs, path, N_BUCKETS, date_col="warc_ts")
    return path


def test_by_date_grid_resume_and_reprocess(spark, reference, tmp_path):
    """Crawl-date layout through the one job: (date, bucket) restart
    units, per-date reprocessing, and one load_done call whose output
    equals the undated run."""
    from fusus_spark.sources.ledger import list_crawl_dates

    docs = spark.createDataFrame(_fixture_rows(), schema=DOCUMENTS_SCHEMA)
    inp = str(tmp_path / "dated_input")
    write_bucketed_input(docs, inp, N_BUCKETS, date_col="warc_ts")
    assert list_crawl_dates(inp) == ["2026-01-01", "2026-01-02"]

    out = str(tmp_path / "dated_out")
    led = str(tmp_path / "dated_ledger")
    s1 = run_extraction_job(spark, inp, out, led)
    assert s1["processed"] == 2 * N_BUCKETS
    assert s1["skipped"] == 0

    # resume: everything skips, on both date grids
    s2 = run_extraction_job(spark, inp, out, led)
    assert s2["processed"] == 0
    assert s2["skipped"] == 2 * N_BUCKETS

    # the dated output, read in one call, equals the undated run byte-for-byte
    dated = load_done(spark, out, led, "words")
    assert {"crawl_date", "bucket"} <= set(dated.columns)
    assert _corpus_hash(dated.drop("crawl_date")) == _corpus_hash(reference)

    # reprocess ONE date: only that date's grid runs
    s3 = run_extraction_job(spark, inp, out, led, dates=["2026-01-02"])
    assert s3["skipped"] == N_BUCKETS and s3["processed"] == 0

    # a changed input on one date invalidates only that date's buckets
    write_bucketed_input(
        spark.createDataFrame(_fixture_rows("2026-01-01"), schema=DOCUMENTS_SCHEMA),
        inp + "/crawl_date=2026-01-01", N_BUCKETS,
    )
    s4 = run_extraction_job(spark, inp, out, led)
    assert s4["processed"] == s4["relineaged"] > 0
    assert s4["processed"] + s4["skipped"] == 2 * N_BUCKETS
    attempts = {r["partition_id"]: r["attempt"] for r in Ledger(led).rows()}
    assert all(
        attempts[f"crawl_date=2026-01-02/bucket={k}"] == 1 for k in range(N_BUCKETS)
    )
    redone = {u for u, a in attempts.items() if a == 2}
    assert len(redone) == s4["processed"]
    assert all(u.startswith("crawl_date=2026-01-01/") for u in redone)
    assert _corpus_hash(load_done(spark, out, led, "words")) == _corpus_hash(reference)


def test_new_crawl_date_is_extracted(spark, reference, tmp_path):
    """A crawl date that lands in the table after a run is extracted by
    the next run (its units are new, not skipped as done), and one
    load_done call then sees every url of both dates."""
    inp = str(tmp_path / "input")
    write_bucketed_input(
        spark.createDataFrame(_fixture_rows("2026-01-01"), schema=DOCUMENTS_SCHEMA),
        inp, N_BUCKETS, date_col="warc_ts",
    )
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")
    s1 = run_extraction_job(spark, inp, out, led)
    assert s1["processed"] == N_BUCKETS

    write_bucketed_input(
        spark.createDataFrame(_fixture_rows("2026-01-02"), schema=DOCUMENTS_SCHEMA),
        inp + "/crawl_date=2026-01-02", N_BUCKETS,
    )
    s2 = run_extraction_job(spark, inp, out, led)
    assert s2["processed"] == N_BUCKETS and s2["skipped"] == N_BUCKETS

    got = load_done(spark, out, led, "words")
    urls = {r["url"] for r in got.select("url").distinct().collect()}
    assert urls == {r["url"] for r in reference.select("url").distinct().collect()}
    assert _corpus_hash(got) == _corpus_hash(reference)


def test_per_date_ledger_is_redone_into_the_unit_layout(spark, dated_input, reference, tmp_path):
    """Output of the older per-date runs: one flat job per date, with
    ledger rows ``crawl_date=D/bucket=k.json`` naming only ``bucket=k``
    and output under ``out/crawl_date=D/words``. load_done reads none
    of it; the next run redoes every unit (counted relineaged) into
    ``out/words/crawl_date=D/bucket=k``, which load_done then reads."""
    from fusus_spark.sources.ledger import list_crawl_dates

    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")
    dates = list_crawl_dates(dated_input)
    for d in dates:
        run_extraction_job(
            spark, f"{dated_input}/crawl_date={d}", f"{out}/crawl_date={d}",
            f"{led}/crawl_date={d}",
        )
        assert Ledger(f"{led}/crawl_date={d}").get("bucket=0")["partition_id"] == "bucket=0"
    with pytest.raises(ValueError, match="'words'"):
        load_done(spark, out, led, "words")

    summary = run_extraction_job(spark, dated_input, out, led)
    n_units = len(dates) * N_BUCKETS
    assert summary["processed"] == summary["relineaged"] == n_units
    assert summary["skipped"] == 0
    got = load_done(spark, out, led, "words")
    assert _buckets_read(got) == {
        f"crawl_date={d}/bucket={k}" for d in dates for k in range(N_BUCKETS)
    }
    assert os.path.isdir(os.path.join(out, "words", f"crawl_date={dates[0]}", "bucket=0"))
    assert _corpus_hash(got) == _corpus_hash(reference)


def test_dates_must_match_the_input_layout(spark, bucketed_input, dated_input, tmp_path):
    """``dates`` on an undated table, or naming a date the table lacks,
    raises before any unit runs; a flat run retires the rows of a
    crawl-date run in the same ledger, so one ledger holds one depth."""
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")
    with pytest.raises(ValueError, match="no crawl_date"):
        run_extraction_job(spark, bucketed_input, out, led, dates=["2026-01-01"])
    with pytest.raises(ValueError, match="crawl_date=2026-01-09"):
        run_extraction_job(
            spark, dated_input, out, led, dates=["2026-01-01", "2026-01-09"]
        )
    assert Ledger(led).rows() == [] and not os.path.exists(out)

    s = run_extraction_job(spark, dated_input, out, led, dates=["2026-01-02"])
    assert s["buckets"] == N_BUCKETS and s["processed"] == N_BUCKETS
    assert Ledger(led).units() == [
        f"crawl_date=2026-01-02/bucket={k}" for k in range(N_BUCKETS)
    ]
    run_extraction_job(spark, bucketed_input, out, led)
    assert Ledger(led).units() == [f"bucket={k}" for k in range(N_BUCKETS)]


def test_bucket_count_is_read_from_the_input(spark, tmp_path):
    """The run's bucket count is the table's: a table written with 8
    buckets runs 8 units and loads every url; rewritten with 4, the
    next run retires the rows of buckets 4-7, so load_done reads each
    url once. A table with no bucket dir raises before any unit runs."""
    rows = [
        (f"http://ex.com/{i}", None, f"<p>body {i} of the page</p>".encode(), None, "en")
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    inp = str(tmp_path / "input")
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")

    def urls() -> list[str]:
        words = load_done(spark, out, led, "words")
        return sorted(r["url"] for r in words.select("url", "bucket").distinct().collect())

    want = sorted(r[0] for r in rows)
    for n in (8, 4):
        write_bucketed_input(docs, inp, n)
        s = run_extraction_job(spark, inp, out, led)
        assert s["buckets"] == s["processed"] == n
        assert Ledger(led).units() == [f"bucket={k}" for k in range(n)]
        assert urls() == want

    docs.write.parquet(str(tmp_path / "flat"))
    with pytest.raises(ValueError, match="no bucket=k dirs"):
        run_extraction_job(spark, str(tmp_path / "flat"), str(tmp_path / "o2"), str(tmp_path / "l2"))
    assert Ledger(str(tmp_path / "l2")).rows() == [] and not os.path.exists(tmp_path / "o2")


def test_by_date_flag_is_warc_ingest_only():
    """--by-date chooses the layout WARC ingest writes: without
    --input-format warc it is rejected before any session starts."""
    from fusus_spark.jobs.extract_job import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", "in", "--output", "out", "--ledger", "led",
              "--buckets", "2", "--by-date"])
    assert exc.value.code == 2


def test_torn_ledger_row_is_redone(spark, bucketed_input, reference, tmp_path):
    """A torn row file is not-done for every reader: load_done skips its
    bucket instead of failing, and the next run redoes exactly that
    bucket, converging to the uninterrupted output."""
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")
    run_extraction_job(spark, bucketed_input, out, led)
    with open(os.path.join(led, "bucket=1.json"), "w") as f:
        f.write("{broken")
    assert _buckets_read(load_done(spark, out, led, "words")) == {
        f"bucket={k}" for k in range(N_BUCKETS) if k != 1
    }
    s = run_extraction_job(spark, bucketed_input, out, led)
    assert s["processed"] == 1 and s["skipped"] == N_BUCKETS - 1
    assert _corpus_hash(load_done(spark, out, led, "words")) == _corpus_hash(reference)


def test_crawl_date_is_session_timezone_independent(spark, tmp_path):
    """crawl_date must be UTC epoch-day arithmetic: the same instants
    land in the same partitions whatever the session timezone."""
    import datetime as dt

    from fusus_spark.sources.ledger import list_crawl_dates

    # 00:30 UTC on Jan 2 — a tz-dependent to_date would put this on
    # Jan 1 under a western-hemisphere session timezone
    rows = [("https://ex.com/a", dt.datetime(2026, 1, 2, 0, 30,
                                             tzinfo=dt.timezone.utc),
             b"<p>x</p>", "x", "en")]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        p1 = str(tmp_path / "tz_la")
        write_bucketed_input(docs, p1, 2, date_col="warc_ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    p2 = str(tmp_path / "tz_utc")
    write_bucketed_input(docs, p2, 2, date_col="warc_ts")
    assert list_crawl_dates(p1) == list_crawl_dates(p2) == ["2026-01-02"]


def test_bucket_lock_concurrent_writer_semantics(spark, bucketed_input, tmp_path):
    """Single-writer bucket locks: a LIVE foreign lock makes a writer
    skip that bucket (concurrent instances partition the work); a STALE
    lock (dead pid) is broken and taken over; a completed run leaves no
    locks behind."""
    import json
    import socket
    import time as _time

    out = str(tmp_path / "lk_out")
    ledger_path = str(tmp_path / "lk_ledger")
    locks = os.path.join(ledger_path, "locks")
    os.makedirs(locks, exist_ok=True)
    # bucket 1: held by a LIVE other process (pid 1 exists and is not us)
    with open(os.path.join(locks, "bucket=1.lock"), "w") as f:
        json.dump({"pid": 1, "host": socket.gethostname(), "ts": _time.time()}, f)
    # bucket 2: stale holder (dead pid) -> broken and taken over
    with open(os.path.join(locks, "bucket=2.lock"), "w") as f:
        json.dump({"pid": 2**22 + 12345, "host": socket.gethostname(),
                   "ts": _time.time()}, f)

    s1 = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert s1["locked"] == 1 and s1["processed"] == N_BUCKETS - 1
    done = {r["partition_id"] for r in Ledger(ledger_path).rows()}
    assert "bucket=1" not in done and "bucket=2" in done

    # the foreign writer "finishes" (lock released): a second run takes
    # the remaining bucket and the output converges to all buckets done
    os.unlink(os.path.join(locks, "bucket=1.lock"))
    s2 = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert s2["processed"] == 1 and s2["skipped"] == N_BUCKETS - 1
    assert s2["locked"] == 0
    assert not os.listdir(locks)  # no locks left behind


def test_bucket_lock_exception_release_and_reentrancy(spark, bucketed_input, tmp_path):
    """An in-process failure releases the lock (finally), so a transient
    error never blocks other instances for the staleness window; the
    lock is also reentrant by pid as defense in depth, and age-stale
    foreign locks are broken."""
    out = str(tmp_path / "re_out")
    ledger_path = str(tmp_path / "re_ledger")
    with pytest.raises(RuntimeError, match="between write and rename"):
        run_extraction_job(
            spark, bucketed_input, out, ledger_path,
            fail_before_commit=1,
        )
    locks = os.path.join(ledger_path, "locks")
    # the failed attempt RELEASED its lock on the way out
    assert os.listdir(locks) == []
    s = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert s["locked"] == 0 and s["processed"] + s["skipped"] == N_BUCKETS
    assert not os.listdir(locks)

    lk = BucketLock(ledger_path, stale_after_s=3600.0)
    # reentrancy: our own live leftover (the process-crash simulation a
    # finally cannot cover) does not block re-acquisition
    assert lk.acquire("bucket=0") is True
    assert lk.acquire("bucket=0") is True
    lk.release("bucket=0")

    # age-based staleness: a foreign LIVE pid but ancient timestamp
    import json
    import socket

    lk0 = BucketLock(ledger_path, stale_after_s=0.0)
    with open(os.path.join(locks, "bucket=0.lock"), "w") as f:
        json.dump({"pid": 1, "host": socket.gethostname(), "ts": 0}, f)
    assert lk0.acquire("bucket=0") is True
    lk0.release("bucket=0")

    # a live foreign lock with an UNREADABLE payload younger than the
    # write-grace window is treated as held (mid-creation race), not junk
    with open(os.path.join(locks, "bucket=1.lock"), "w") as f:
        f.write("")  # empty: exactly what a mid-write lock looks like
    assert BucketLock(ledger_path).acquire("bucket=1") is False
    os.unlink(os.path.join(locks, "bucket=1.lock"))


def test_extraction_job_respect_robots(spark, tmp_path):
    """respect_robots drops meta-noindex pages BEFORE the parse: they
    appear in no output table and rows_in counts processed docs only."""
    from tests.fixtures import fixture_documents

    rows = []
    for i, d in enumerate(fixture_documents()[:12]):
        html = d["html"]
        if i % 3 == 0:  # every third page opts out
            html = b'<meta name="robots" content="noindex">' + html
        rows.append((d["url"], d["warc_ts"], html, d["text"], d["lang"]))
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    inp = str(tmp_path / "rb_in")
    write_bucketed_input(docs, inp, 2)

    out = str(tmp_path / "rb_out")
    summary = run_extraction_job(
        spark, inp, out, str(tmp_path / "rb_ledger"), respect_robots=True
    )
    assert summary["processed"] == 2
    opted = {r[0] for i, r in enumerate(rows) if i % 3 == 0}
    words = load_done(spark, out, str(tmp_path / "rb_ledger"), "words")
    assert words.where(words["url"].isin(list(opted))).count() == 0
    assert words.count() > 0
    rows_in = sum(r["rows_in"] for r in Ledger(str(tmp_path / "rb_ledger")).rows())
    assert rows_in == 12 - len(opted)


def test_respect_robots_is_part_of_the_resume_key(spark, bucketed_input, tmp_path):
    """Toggling --respect-robots must invalidate done buckets: a resume
    under a different consent policy reprocesses, never skips."""
    out = str(tmp_path / "rk_out")
    ledger_path = str(tmp_path / "rk_ledger")
    s1 = run_extraction_job(spark, bucketed_input, out, ledger_path)
    assert s1["processed"] == N_BUCKETS
    s2 = run_extraction_job(spark, bucketed_input, out, ledger_path,
                            respect_robots=True)
    assert s2["processed"] == N_BUCKETS and s2["skipped"] == 0
    # and the robots-mode run is itself resumable
    s3 = run_extraction_job(spark, bucketed_input, out, ledger_path,
                            respect_robots=True)
    assert s3["skipped"] == N_BUCKETS


def test_doc_level_emit_kinds_side_tables(spark, tmp_path):
    """emit mixing parse-derived and doc-level kinds: image_pairs /
    pagemeta / jsonld / media_refs ride the same bucket grid, staged
    commit, and resume semantics; contents match the direct operators
    over the same (consent-filtered) rows."""
    from fusus_spark.operators.multimodal import image_text_pairs
    from fusus_spark.operators.pagemeta import page_metadata

    inp = str(tmp_path / "input")
    rows = []
    for i in range(40):
        html = (
            f'<html><head><title>T{i}</title>'
            f'<script type="application/ld+json">'
            f'{{"@type":"Article","headline":"H{i}"}}</script></head>'
            f"<body><figure><img src='/i/{i}.jpg' alt='a{i}'>"
            f"<figcaption>cap {i}</figcaption></figure>"
            f'<video src="/v/{i}.mp4"></video>'
            f"<p>body {i}</p></body></html>"
        ).encode()
        rows.append((f"http://h{i % 5}.com/p/{i}", None, html, None, "en"))
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    write_bucketed_input(docs, inp, N_BUCKETS)

    out = str(tmp_path / "out")
    ledger_path = str(tmp_path / "ledger")
    emit = ("words", "image_pairs", "pagemeta", "jsonld", "media_refs")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, inp, out, ledger_path, emit=emit, fail_after=2
        )
    summary = run_extraction_job(
        spark, inp, out, ledger_path, emit=emit
    )
    assert summary["processed"] == N_BUCKETS - 2 and summary["skipped"] == 2

    raw = spark.read.parquet(inp).drop("bucket")
    got_pairs = load_done(spark, out, ledger_path, "image_pairs").drop("bucket")
    want_pairs = image_text_pairs(raw)
    assert got_pairs.count() == want_pairs.count() == 40
    assert got_pairs.exceptAll(want_pairs).count() == 0

    got_meta = load_done(spark, out, ledger_path, "pagemeta").drop("bucket")
    want_meta = page_metadata(raw)
    assert got_meta.count() == 40
    assert got_meta.exceptAll(want_meta).count() == 0

    assert load_done(spark, out, ledger_path, "jsonld").count() == 40
    assert load_done(spark, out, ledger_path, "media_refs").count() == 40
    assert load_done(spark, out, ledger_path, "words").count() > 0

    rows_l = Ledger(ledger_path).rows()
    assert all(set(r["outputs"]) == set(emit) for r in rows_l)


def test_doc_level_emit_only_skips_parse(spark, tmp_path):
    """emit with ONLY doc-level kinds never builds the parse stage —
    the job completes and emits the side table alone, in the same
    ``out/<kind>/bucket=k`` layout as every other emit."""
    from fusus_spark.operators.pagemeta import jsonld_records

    inp = str(tmp_path / "input")
    rows = [
        (f"http://ex.com/{i}", None,
         (f'<script type="application/ld+json">'
          f'{{"@type":"Recipe","name":"r{i}"}}</script>').encode(),
         None, "en")
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    write_bucketed_input(docs, inp, 2)

    out = str(tmp_path / "out")
    summary = run_extraction_job(
        spark, inp, out, str(tmp_path / "ledger"), emit=("jsonld",)
    )
    assert summary["processed"] == 2
    got = load_done(spark, out, str(tmp_path / "ledger"), "jsonld").drop("bucket")
    want = jsonld_records(spark.read.parquet(inp).drop("bucket"))
    assert got.count() == want.count() == 12
    assert got.exceptAll(want).count() == 0


def test_emit_set_is_part_of_the_resume_key(spark, tmp_path):
    """Adding a kind to a finished run must REDO buckets (and produce
    the new side table) rather than skip-all and silently emit
    nothing (review finding); the summary counts the redone buckets
    as ``relineaged``."""
    inp = str(tmp_path / "input")
    rows = [
        (f"http://ex.com/{i}", None,
         (f'<p>body {i}</p><script type="application/ld+json">'
          f'{{"@type":"Article","headline":"H{i}"}}</script>').encode(),
         None, "en")
        for i in range(12)
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    write_bucketed_input(docs, inp, 2)
    out = str(tmp_path / "out")
    led = str(tmp_path / "ledger")

    s1 = run_extraction_job(spark, inp, out, led, emit=("words",))
    assert s1["processed"] == 2 and s1["relineaged"] == 0
    s2 = run_extraction_job(spark, inp, out, led, emit=("words", "jsonld"))
    assert s2["processed"] == 2 and s2["skipped"] == 0   # invalidated
    # ...and the summary says why: every done bucket was relineaged
    assert s2["relineaged"] == 2
    assert load_done(spark, out, led, "jsonld").count() == 12
    # identical emit resumes as before
    s3 = run_extraction_job(spark, inp, out, led, emit=("words", "jsonld"))
    assert s3["skipped"] == 2 and s3["processed"] == 0
    assert s3["relineaged"] == 0


def _input_stats(frame, n_buckets: int) -> dict[str, tuple[int, int]]:
    """{partition_id: (rows, html bytes)} by a plain agg, every bucket
    of ``range(n_buckets)`` present (0/0 when it holds no row)."""
    got = {
        r["bucket"]: (r["n"], r["b"])
        for r in frame.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.octet_length("html")), F.lit(0)).alias("b"),
        )
        .collect()
    }
    return {f"bucket={b}": got.get(b, (0, 0)) for b in range(n_buckets)}


def _ledger_stats(ledger_path: str) -> dict[str, tuple[int, int]]:
    return {
        r["partition_id"]: (r["rows_in"], r["bytes_in"])
        for r in Ledger(ledger_path).rows()
    }


def test_ledger_stats_ride_the_first_write(spark, spark_jobs, bucketed_input, tmp_path):
    """rows_in/bytes_in ride the bucket's one job, not a separate
    aggregate, and the ledger still equals an independent agg of the
    input. A run reads the table once (one schema-inference job), then
    each bucket is ONE Spark job that writes all three stage tables;
    every job carries the caller's job group, from whichever thread
    runs the bucket."""
    out = str(tmp_path / "out")
    ledger_path = str(tmp_path / "ledger")
    emit = ("words", "extracted", "removals")
    jobs = spark_jobs(
        lambda: run_extraction_job(
            spark, bucketed_input, out, ledger_path, emit=emit
        ),
    )
    assert jobs == 1 + N_BUCKETS, f"{jobs} Spark jobs for {N_BUCKETS} buckets"
    want = _input_stats(spark.read.parquet(bucketed_input), N_BUCKETS)
    assert all(rows > 0 for rows, _ in want.values())
    assert _ledger_stats(ledger_path) == want


def test_one_read_of_each_table_dir_per_run(spark, spark_jobs, dated_input, tmp_path):
    """A crawl-date table is read once per date dir, not once per unit:
    D reads plus one job per (date, bucket) unit for the stage kinds,
    and one more write per unit for each doc-level kind. A resumed run
    that skips every unit reads nothing."""
    from fusus_spark.sources.ledger import list_crawl_dates

    n_dates = len(list_crawl_dates(dated_input))
    n_units = n_dates * N_BUCKETS
    for emit, per_unit in ((("words", "removals"), 1), (("extracted", "pagemeta"), 2)):
        out = str(tmp_path / ("out-" + "-".join(emit)))
        ledger_path = str(tmp_path / ("ledger-" + "-".join(emit)))

        def run():
            run_extraction_job(spark, dated_input, out, ledger_path, emit=emit)

        assert spark_jobs(run) == n_dates + per_unit * n_units, emit
        assert len(Ledger(ledger_path).rows()) == n_units
        assert spark_jobs(run) == 0, emit


def test_ledger_stats_empty_bucket_and_doc_level_emit(spark, bucketed_input, tmp_path):
    """Empty buckets record 0/0: with an empty ``bucket=N+1`` dir the
    table has N+2 buckets, ``bucket=N`` (no dir) among them; a
    doc-level-only emit (no parse stage) records the same stats as a
    stage emit."""
    import shutil

    inp = str(tmp_path / "input")
    shutil.copytree(bucketed_input, inp)
    n = N_BUCKETS + 2  # buckets N_BUCKETS.. have no input rows
    spark.read.parquet(bucketed_input).drop("bucket").limit(0).write.parquet(
        f"{inp}/bucket={n - 1}"
    )
    want = _input_stats(spark.read.parquet(inp), n)
    assert want[f"bucket={N_BUCKETS}"] == want[f"bucket={n - 1}"] == (0, 0)
    for emit in (("words", "extracted"), ("pagemeta",)):
        ledger_path = str(tmp_path / ("ledger-" + "-".join(emit)))
        run_extraction_job(
            spark, inp, str(tmp_path / ("out-" + "-".join(emit))), ledger_path, emit=emit,
        )
        assert _ledger_stats(ledger_path) == want, emit


def test_ledger_stats_count_robots_filtered_rows(spark, tmp_path):
    """With respect_robots the stats cover the rows left after the
    consent filter, equal to that filter's own agg."""
    from fusus_spark.operators.robots import apply_robots_optout

    rows = []
    for i, d in enumerate(fixture_documents()[:12]):
        html = d["html"]
        if i % 3 == 0:
            html = b'<meta name="robots" content="noindex">' + html
        rows.append((d["url"], d["warc_ts"], html, d["text"], d["lang"]))
    inp = str(tmp_path / "in")
    write_bucketed_input(spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA), inp, 2)
    ledger_path = str(tmp_path / "ledger")
    run_extraction_job(
        spark, inp, str(tmp_path / "out"), ledger_path,
        emit=("words", "removals"), respect_robots=True,
    )
    want = _input_stats(apply_robots_optout(spark.read.parquet(inp)), 2)
    assert sum(r for r, _ in want.values()) == 8
    assert _ledger_stats(ledger_path) == want


def test_units_in_flight_carry_their_own_job_names(spark, monkeypatch, tmp_path):
    """Two units run at once, each on its own pool thread: every job of
    a unit carries its own ``extract:<unit>`` description plus the
    caller's job group, job tag and local property, and the caller's
    description is unchanged afterwards. Both units meet at a barrier
    after setting their description and before their first job, so
    local properties shared by the two threads would show."""
    import threading
    import uuid

    from fusus_spark.sources import ledger as ledger_mod

    rows = [
        (f"http://ex.com/{i}", None, f"<p>body {i} of the page</p>".encode(), None, "en")
        for i in range(12)
    ]
    inp = str(tmp_path / "input")
    write_bucketed_input(
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ),
        inp, 2,
    )
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=120)
    seen = {}
    sweep = ledger_mod._sweep_staging

    def meet(staging_root, unit):
        barrier.wait()
        seen[unit] = (
            sc.getLocalProperty("spark.job.description"),
            sc.getLocalProperty("fusus.test.caller"),
        )
        return sweep(staging_root, unit)

    monkeypatch.setattr(ledger_mod, "_sweep_staging", meet)
    group, tag = f"caller-{uuid.uuid4().hex}", f"tag-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "the caller's job")
    sc.setLocalProperty("fusus.test.caller", "yes")
    sc.addJobTag(tag)
    try:
        s = run_extraction_job(spark, inp, str(tmp_path / "out"), str(tmp_path / "ledger"))
        assert sc.getLocalProperty("spark.job.description") == "the caller's job"
    finally:
        sc.removeJobTag(tag)
        for key in ("spark.jobGroup.id", "spark.job.description", "fusus.test.caller"):
            sc.setLocalProperty(key, None)
    assert s["processed"] == 2
    assert seen == {f"bucket={k}": (f"extract:bucket={k}", "yes") for k in range(2)}

    store = sc._jsc.sc().statusStore()
    described = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = store.job(job)
        assert tag in info.jobTags().mkString("\n").split("\n")
        described.append(info.description().get())
    # the table's one read runs on the caller's thread, before dispatch
    assert sorted(described) == ["extract:bucket=0", "extract:bucket=1", "the caller's job"]
