"""N vs 4N EXECUTORS — the north rule's literal shape, in-sandbox.

``local-cluster[n, c, mem]`` launches n REAL executor JVMs with c cores
each (separate processes, separate heaps, Python workers per executor) —
the closest a single host gets to "N executors vs 4N executors". Holding
per-executor sizing FIXED at c cores and scaling executor count 1 -> 4
isolates the executor-count axis the rule names, instead of widening one
executor's thread pool (a local[N] proxy).

Expectation set by the knee ablation (BENCH/BASELINE.md): the host's shared
memory system floors wide pairs regardless of process layout, so the
faithful pairs are those whose TOTAL worker count stays in the linear
regime of the host (1x2 -> 4x2: 8 workers; 1x4 -> 4x4: 16 workers); the
1x8 -> 4x8 pair saturates the box and is disclosed, not hidden.

Writes BENCH/localcluster.json (recorded next to BENCH/BASELINE.md).

Usage:
  python BENCH/localcluster.py [replicate]        # full interleaved sweep
  python BENCH/localcluster.py --one n c replicate  # child: one config
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (executors, cores/executor); override: FUSUS_LC_CORES="2,8"
CORE_SIZES = tuple(
    int(s) for s in os.environ.get("FUSUS_LC_CORES", "2,4,8").split(",")
)
CONFIGS = tuple((n, c) for c in CORE_SIZES for n in (1, 4))
EXEC_MEM_MB = 3072
ROUNDS = int(os.environ.get("FUSUS_LC_ROUNDS", "3"))


def run_child(n_exec: int, cores: int, replicate: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one",
         str(n_exec), str(cores), str(replicate)],
        capture_output=True, text=True, cwd=REPO, check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def one(n_exec: int, cores: int, replicate: int) -> None:
    from pyspark.sql import SparkSession

    from bench import extraction_trial, prepare_extraction

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = (
        SparkSession.builder
        .master(f"local-cluster[{n_exec},{cores},{EXEC_MEM_MB}]")
        .appName(f"lc-{n_exec}x{cores}")
        .config("spark.executor.memory", f"{EXEC_MEM_MB}m")
        .config("spark.sql.shuffle.partitions", str(max(n_exec * cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the spark-submit --py-files analog (north rule): executors are
    # separate JVMs with their own python workers, so the package ships
    # as the dist zip rather than leaking the driver's sys.path
    spark.sparkContext.addPyFile(os.path.join(REPO, "dist", "fusus_spark.zip"))
    # best of FUSUS_BENCH_TRIALS back-to-back trials; main() interleaves
    # whole processes in rounds
    docs, n_docs, total_bytes = prepare_extraction(spark, sf_dir, replicate)
    wall, n_words = min(
        extraction_trial(docs)
        for _ in range(max(int(os.environ.get("FUSUS_BENCH_TRIALS", "3")), 1))
    )
    print(json.dumps({
        "wall_s": round(wall, 3), "n_docs": n_docs, "n_words": n_words,
        "bytes_in": total_bytes, "docs_per_sec": round(n_docs / wall, 1),
        "gb_per_sec": round(total_bytes / wall / 1e9, 4),
        "n_exec": n_exec, "cores": cores,
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        one(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
        return
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 20

    # fresh package zip for the executors (spark-submit --py-files analog)
    subprocess.run(["bash", os.path.join(REPO, "tools", "package.sh")],
                   cwd=REPO, check=True, capture_output=True)

    samples: dict[tuple[int, int], list[dict]] = {cfg: [] for cfg in CONFIGS}
    for rnd in range(ROUNDS):
        for n_exec, cores in CONFIGS:
            print(f"round {rnd}: local-cluster[{n_exec},{cores}] ...",
                  file=sys.stderr)
            r = run_child(n_exec, cores, replicate)
            samples[(n_exec, cores)].append(r)
            print(f"  {r['wall_s']}s", file=sys.stderr)

    runs: dict[str, dict] = {}
    for (n_exec, cores), rs in samples.items():
        walls = [r["wall_s"] for r in rs]
        best = min(rs, key=lambda r: r["wall_s"])
        runs[f"{n_exec}x{cores}"] = {**best, "all_walls": walls}

    pairs = {}
    for cores in CORE_SIZES:
        lo, hi = runs[f"1x{cores}"], runs[f"4x{cores}"]
        pairs[f"1x{cores}->4x{cores}"] = {
            "cores": cores,
            "wall_1": lo["wall_s"],
            "wall_4": hi["wall_s"],
            "docs_per_sec_1": lo["docs_per_sec"],
            "docs_per_sec_4": hi["docs_per_sec"],
            "eff": round(lo["wall_s"] / hi["wall_s"] / 4, 3),
        }
    doc = {"replicate": replicate, "exec_mem_mb": EXEC_MEM_MB,
           "rounds": ROUNDS, "runs": runs, "pairs": pairs}
    path = os.path.join(REPO, "BENCH", "localcluster.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(pairs))
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
