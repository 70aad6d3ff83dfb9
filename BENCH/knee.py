"""Diagnose the 8->32 scaling knee with ablations (VERDICT r1 item 7).

Three configurations, identical per-document work, at local[8] vs
local[32] on the 32-core host:

  full  — the production stage: fused mapInArrow, words table
          materialized through the Arrow channel and counted by Spark
          (what BENCH/scaling.py measures);
  env   — channel ablation: the same Python-side extraction (words are
          still computed per document and built into the stage batch)
          but only the envelope columns of that batch are yielded, so
          the words never cross the Arrow channel and the JVM never
          materializes them;
  pool  — JVM ablation: a plain multiprocessing pool running the same
          extract_document over the same payloads, count-only — no
          Spark, no JVM, no Arrow; the host's pure-Python compute
          ceiling.

Attribution logic: pool's 8->32 efficiency isolates the machine
(memory bandwidth / cache); env adds the JVM scheduling + input-side
Arrow feed; full adds the words-channel materialization. The deltas
between the three efficiencies attribute the knee.

Writes its table to stdout (json) for inclusion in BENCH/BASELINE.md.
Usage: python BENCH/knee.py [replicate]   (orchestrates subprocesses)
       python BENCH/knee.py run <mode> <cpus> <replicate>   (one run)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark_docs(spark, replicate: int):
    from bench import BENCH_PARTITIONS, build_docs
    from fusus_spark.extraction.pipeline import repartition_salted

    docs = repartition_salted(build_docs(spark, SF_DIR, replicate), BENCH_PARTITIONS)
    docs = docs.cache()
    n = docs.count()
    return docs, n


def run_full(cpus: int, replicate: int) -> dict:
    from fusus_spark.extraction.pipeline import extract_stage, words_from_stage
    from fusus_spark.session import get_spark

    spark = get_spark("knee-full", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs, n = _spark_docs(spark, replicate)
    words_from_stage(extract_stage(docs.limit(256))).count()  # warm workers
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        words_from_stage(extract_stage(docs)).count()
        wall = min(wall, time.time() - t0)
    spark.stop()
    return {"wall_s": round(wall, 3), "n_docs": n}


def run_env(cpus: int, replicate: int) -> dict:
    from fusus_spark.extraction.pipeline import _extract_batches_arrow
    from fusus_spark.schema import EXTRACTED_SCHEMA
    from fusus_spark.session import drop_zip_finders, get_spark

    spark = get_spark("knee-env", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    docs, n = _spark_docs(spark, replicate)

    def run(batches):
        drop_zip_finders()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: i for i, name in enumerate(rb.schema.names)}
            urls = rb.column(cols["url"]).to_pylist()
            htmls = rb.column(cols["html"]).to_pylist()
            langs = rb.column(cols["lang"]).to_pylist()
            stage_rb = _extract_batches_arrow(urls, htmls, langs, 4 * 1024 * 1024)
            # identical Python work; words never cross Arrow
            yield stage_rb.select(EXTRACTED_SCHEMA.fieldNames())

    pruned = docs.select("url", "html", "lang")
    pruned.limit(256).mapInArrow(run, schema=EXTRACTED_SCHEMA).count()
    wall = float("inf")
    for _ in range(2):
        t0 = time.time()
        pruned.mapInArrow(run, schema=EXTRACTED_SCHEMA).count()
        wall = min(wall, time.time() - t0)
    spark.stop()
    return {"wall_s": round(wall, 3), "n_docs": n}


def _pool_payloads(replicate: int) -> list[bytes]:
    import duckdb

    from fusus_spark.sources.testdata import WRAP_HEAD, WRAP_TAIL

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    ]
    return [
        (WRAP_HEAD + t + WRAP_TAIL).encode() for t in texts for _ in range(replicate)
    ]


def _pool_worker(chunk: list[bytes]) -> int:
    from fusus_spark.extraction.extract import extract_document

    return sum(len(extract_document(h)["words"]) for h in chunk)


def run_pool(cpus: int, replicate: int) -> dict:
    import multiprocessing as mp

    payloads = _pool_payloads(replicate)
    chunks = [payloads[i::cpus * 8] for i in range(cpus * 8)]
    with mp.get_context("fork").Pool(cpus) as pool:
        pool.map(_pool_worker, chunks[: cpus])  # warm
        wall = float("inf")
        for _ in range(2):
            t0 = time.time()
            pool.map(_pool_worker, chunks)
            wall = min(wall, time.time() - t0)
    return {"wall_s": round(wall, 3), "n_docs": len(payloads)}


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        mode, cpus, replicate = sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
        fn = {"full": run_full, "env": run_env, "pool": run_pool}[mode]
        print(json.dumps({"mode": mode, "cpus": cpus, **fn(cpus, replicate)}))
        return

    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    lo, hi = (
        int(x) for x in os.environ.get("FUSUS_KNEE_SIZES", "8,32").split(",")
    )
    configs = [(m, c) for m in ("full", "env", "pool") for c in (lo, hi)]
    samples: dict[tuple[str, int], list[float]] = {k: [] for k in configs}
    n_docs = 0
    for rnd in range(3):
        for mode, cpus in configs:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "run", mode,
                 str(cpus), str(replicate)],
                capture_output=True, text=True, cwd=REPO, check=True,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            r = json.loads(line)
            samples[(mode, cpus)].append(r["wall_s"])
            n_docs = r["n_docs"]
            print(f"round {rnd}: {mode}@{cpus}: {r['wall_s']}s", file=sys.stderr)
    pair = {}
    for mode in ("full", "env", "pool"):
        wlo = min(samples[(mode, lo)])
        whi = min(samples[(mode, hi)])
        pair[mode] = {
            "wall_lo": wlo, "wall_hi": whi,
            "all_lo": samples[(mode, lo)], "all_hi": samples[(mode, hi)],
            "per_worker_lo": round(n_docs / wlo / lo),
            "per_worker_hi": round(n_docs / whi / hi),
            "eff": round(wlo / whi / (hi // lo), 3),
        }
    # merge this pair into BENCH/knee.json (one entry per measured pair)
    path = os.path.join(REPO, "BENCH", "knee.json")
    doc = {"sf_dir": SF_DIR, "pairs": {}}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if "pairs" in old:
            doc = old
    doc["sf_dir"] = SF_DIR
    doc["pairs"][f"{lo}->{hi}"] = {
        "replicate": replicate, "n_docs": n_docs, "lo": lo, "hi": hi, **pair
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
