"""North-rule launch-shape acceptance: the extraction job run LITERALLY
via ``spark-submit --py-files dist/fusus_spark.zip`` against
``local-cluster`` — real executor JVMs with their own Python workers, so
the package genuinely ships through --py-files (a driver-side sys.path
leak would fail at task time with ModuleNotFoundError)."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess

import pyspark

from fusus_spark.schema import DOCUMENTS_SCHEMA
from fusus_spark.sources.ledger import load_done, write_bucketed_input
from tests.fixtures import fixture_documents

REPO = pathlib.Path(__file__).resolve().parent.parent
SPARK_SUBMIT = pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit"


def test_spark_submit_py_files_local_cluster(spark, tmp_path):
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
        if len(d["html"] or b"") < 64 * 1024
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    inp = str(tmp_path / "in")
    write_bucketed_input(docs, inp, 2)

    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    env = {**os.environ, "SPARK_SUBMIT_OPTS": "-Dderby.system.home=" + str(tmp_path)}
    proc = subprocess.run(
        [
            str(SPARK_SUBMIT),
            "--master", "local-cluster[2,2,1536]",
            "--conf", "spark.executor.memory=1536m",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(REPO / "dist" / "fusus_spark.zip"),
            str(REPO / "fusus_spark" / "jobs" / "extract_job.py"),
            "--input", inp,
            "--output", out,
            "--ledger", ledger,
            "--buckets", "2",
        ],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=420,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
    )
    assert summary["processed"] == 2 and summary["skipped"] == 0

    # the executor-side extraction matches the in-process batch path
    # byte-for-byte (same words table)
    from fusus_spark.extraction.pipeline import extract_stage, words_from_stage

    words = load_done(spark, out, ledger, "words").drop("bucket")
    batch = words_from_stage(extract_stage(docs)).select(*words.columns)
    assert batch.exceptAll(words).count() == 0
    assert words.exceptAll(batch).count() == 0


def test_spark_submit_frontier_job(spark, tmp_path):
    """Same launch-shape acceptance for the crawl-cycle job: the
    frontier operators run inside real executor JVMs fed only by
    --py-files."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("http://churn.com/a", "h1", "2026-01-01"),
         ("http://churn.com/a", "h2", "2026-01-08"),
         ("http://static.com/b", "same", "2026-01-01"),
         ("http://static.com/b", "same", "2026-01-08")],
        "url string, content_hash string, crawl_date string",
    ).coalesce(1).write.mode("overwrite").parquet(store)

    out = str(tmp_path / "cycle")
    events = tmp_path / "events"
    events.mkdir()
    env = {**os.environ, "SPARK_SUBMIT_OPTS": "-Dderby.system.home=" + str(tmp_path)}
    proc = subprocess.run(
        [
            str(SPARK_SUBMIT),
            "--master", "local-cluster[2,2,1536]",
            "--conf", "spark.executor.memory=1536m",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--py-files", str(REPO / "dist" / "fusus_spark.zip"),
            str(REPO / "fusus_spark" / "jobs" / "frontier_job.py"),
            "--snapshots", store,
            "--output", out,
            "--as-of-date", "2026-02-01",
            "--k-per-host", "5",
        ],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=420,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
    )
    assert summary["by_source"] == {"revisit": 2}
    assert summary["n_scheduled"] == 2
    sched = {r["url"] for r in spark.read.parquet(f"{out}/schedule").collect()}
    assert sched == {"http://churn.com/a", "http://static.com/b"}

    # the main built its session with the engine confs (session.configure):
    # the application's environment, as its event log records it
    (log,) = list(events.iterdir())
    env_update = next(
        e for e in map(json.loads, log.read_text().splitlines())
        if e["Event"] == "SparkListenerEnvironmentUpdate"
    )
    props = dict(env_update["Spark Properties"])
    assert props["spark.sql.session.timeZone"] == "UTC"
    assert props["spark.sql.shuffle.partitions"] == "4"  # the launcher's sizing stands
