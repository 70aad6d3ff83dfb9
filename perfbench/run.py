"""perfbench: end-to-end and per-layer benchmark of fusus_spark.

    python3 perfbench/run.py --workload extract_small_pages --seed 1 --seconds 10 --trace 0

One Python process runs one job at a time on ``local[<cores>]`` (a
closed loop with one client; cores = this process's CPU affinity) until
the timed job walls add up to ``--seconds``.  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones: it times half the
budget untraced, restarts the session with the Spark event log on,
times the other half with the public-call spans installed, and profiles
the per-document layers by direct calls.  Report lines go to stdout;
the last line is one JSON object (correct, attempted, failed, metrics).

Everything the run writes stays under ``.perfbench_run/`` at the root of
the checkout and is removed at exit.  The run fails (exit 2) without a
result when the checkout has no ``fusus_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # hard stop, inside the 180 s a run may take
GEN_REPS = 3  # input generation is repeated; the median goes into setup_s
SHUFFLE_PARTITIONS = 32  # fusus_spark.session's default, pinned
HEAP = "2g"  # Spark JVM heap (-Xmx and -Xms)

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
# per-layer metrics every workload reports (the JSON's trace-1 metrics)
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_frac": "ratio",
    "spark.jobs": "1/run",
    "spark.stages": "1/run",
    "spark.tasks": "1/run",
    "spark.task_max_over_median": "ratio",
    "spark.core_busy_frac": "ratio",
    "executor.run_s": "s/run",
    "executor.cpu_s": "s/run",
    "executor.gc_frac": "ratio",
    "shuffle.write_mb": "MB/run",
    "shuffle.read_mb": "MB/run",
    "spill.memory_mb": "MB/run",
    "spill.disk_mb": "MB/run",
    "input.mb": "MB/run",
    "output.mb": "MB/run",
    "output.records": "rows/run",
}


# metrics printed on the report lines only: workload-specific layers,
# failed_frac (= failed / attempted; 0 on a correct run),
# out_bytes_per_doc (written output; the count-sink workload writes
# none) and the shuffle fetch wait (whole milliseconds, 0 in local mode)
REPORT_UNITS = {
    "failed_frac": "ratio",
    "out_bytes_per_doc": "B/doc",
    "shuffle.fetch_wait_s": "s/run",
    "domparse_fast.us_per_doc": "us",
    "domparse_fast.us_per_kb": "us/KB",
    "domparse_fast.max_ms": "ms",
    "boilerplate.us_per_doc": "us",
    "boilerplate.max_ms": "ms",
    "boilerplate.removals_per_doc": "count",
    "segment.us_per_doc": "us",
    "assemble.us_per_doc": "us",
    "extract.us_per_doc": "us",
    "extract.us_per_doc_p50": "us",
    "extract.us_per_doc_p99": "us",
    "extract.max_ms": "ms",
    "pipeline.stage_us_per_doc": "us",
    "pipeline.python_run_us_per_doc": "us",
    "pipeline.outside_extract_us_per_doc": "us",
    "pipeline.arrow_to_python_mb": "MB/run",
    "pipeline.arrow_from_python_mb": "MB/run",
    "ledger.bucket_wall_ms_p50": "ms",
    "ledger.bucket_wall_ms_max": "ms",
    "ledger.between_buckets_s": "s/run",
    "curate.actions": "1/run",
}
UNITS = {**E2E_UNITS, **LAYER_UNITS, **REPORT_UNITS}


def _unit(name: str) -> str:
    return UNITS.get(name, "s/run" if name.startswith("curate.") else "count")


def descendants() -> list[int]:
    from procstat import tree

    return [pid for pid, _ in tree()]


def kill_descendants(timeout_s: float = 20.0) -> None:
    """SIGKILL every descendant, reap our children, wait until none is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = descendants()
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not pids or time.monotonic() > deadline:
            return
        time.sleep(0.1)


class Session:
    """Starts and stops the SparkSession and its JVM for one run."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None

    def start(self, event_dir: str | None = None):
        from eventlog import event_log_conf
        from fusus_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {
            # a fixed, pre-touched heap: the JVM's share of peak RSS is
            # then its configured size, not wherever G1 last grew it
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            extra.update(event_log_conf(event_dir))
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop Spark, end the JVM (EOF on its stdin) and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.close()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        kill_descendants()


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    let the Python workers import the checkout's fusus_spark."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        FUSUS_DRIVER_MEM=HEAP,
    )
    tempfile.tempdir = tmp


def measure(spark, wl, mon, budget_s: float, min_iters: int, first: int,
            traced: bool = False) -> list[dict]:
    """Closed loop: one job at a time until the timed walls reach
    ``budget_s`` (and at least ``min_iters`` jobs ran).  The output
    check of each job runs after its wall is taken."""
    import procstat
    import spans
    from eventlog import PHASE_KEY

    sc = spark.sparkContext
    its: list[dict] = []
    while sum(it["wall"] for it in its) < budget_s or len(its) < min_iters:
        i = first + len(its)
        sc.setLocalProperty(PHASE_KEY, "timed")
        mon.reset_peak()
        cpu0 = mon.scan()
        steal0 = procstat.steal_s()
        t0 = time.perf_counter()
        if traced:
            with spans.record() as sp:
                rec = wl.iteration(spark, i)
        else:
            sp = []
            rec = wl.iteration(spark, i)
        wall = time.perf_counter() - t0
        steal = procstat.steal_s() - steal0
        cpu = mon.scan() - cpu0
        peak = mon.peak_rss
        sc.setLocalProperty(PHASE_KEY, "check")
        failed = wl.check(spark, i, rec)
        its.append({**rec, "i": i, "wall": wall, "cpu": cpu, "steal": steal, "peak": peak,
                    "failed": failed, "spans": sp})
    sc.setLocalProperty(PHASE_KEY, None)
    return its


def _rate(its: list[dict]) -> float:
    """Documents per second over the whole timed window.  Steadier than
    the median of per-job rates: on a shared host, and while the JVM
    still compiles, one job's wall and CPU move more than a run's sum."""
    return sum(it["docs"] for it in its) / sum(it["wall"] for it in its)


def end_to_end(its: list[dict], setup_s: float) -> dict[str, float]:
    return {
        "docs_per_s": _rate(its),
        "cpu_s_per_kdoc": sum(it["cpu"] for it in its) / sum(it["docs"] for it in its) * 1000,
        "peak_rss_mb": max(it["peak"] for it in its) / 1e6,
        "setup_s": setup_s,
    }


def layer_metrics(wl, its: list[dict], ev: dict, untraced_rate: float) -> dict[str, float]:
    """Per-layer metrics of the traced iterations ``its``."""
    n = len(its)
    docs = sum(it["docs"] for it in its)
    out = {
        "trace.overhead_frac": 1.0 - _rate(its) / untraced_rate,
        "spark.jobs": ev["jobs"] / n,
        "spark.stages": ev["stages"] / n,
        "spark.tasks": ev["tasks"] / n,
        "spark.task_max_over_median": ev["task_max_over_median"],
        "spark.core_busy_frac": ev["core_busy_frac"],
        "executor.run_s": ev["run_s"] / n,
        "executor.cpu_s": ev["cpu_s"] / n,
        "executor.gc_frac": ev["gc_frac"],
        "shuffle.write_mb": ev["shuffle_write_mb"] / n,
        "shuffle.read_mb": ev["shuffle_read_mb"] / n,
        "shuffle.fetch_wait_s": ev["fetch_wait_s"] / n,
        "spill.memory_mb": ev["spill_memory_mb"] / n,
        "spill.disk_mb": ev["spill_disk_mb"] / n,
        "input.mb": ev["input_mb"] / n,
        "output.mb": ev["output_mb"] / n,
        "output.records": ev["output_records"] / n,
    }
    if ev["mapinarrow_task_s"]:
        out["pipeline.stage_us_per_doc"] = ev["mapinarrow_task_s"] / docs * 1e6
        out["pipeline.python_run_us_per_doc"] = ev["python_run_s"] / docs * 1e6
        out["pipeline.arrow_to_python_mb"] = ev["arrow_to_python_mb"] / n
        out["pipeline.arrow_from_python_mb"] = ev["arrow_from_python_mb"] / n
    if "bucket_ms" in its[0]:
        walls = [ms for it in its for ms in it["bucket_ms"]]
        out["ledger.bucket_wall_ms_p50"] = statistics.median(walls)
        out["ledger.bucket_wall_ms_max"] = max(walls)
        out["ledger.between_buckets_s"] = statistics.median(
            it["wall"] - sum(it["bucket_ms"]) / 1e3 for it in its
        )
    if "summary" in its[0]:
        import spans

        phases = [spans.by_phase(it["spans"], wl.phase_of) for it in its]
        for tier in [*wl.TIERS.values(), "input"]:
            out[f"curate.{tier}_s"] = statistics.median(p.get(tier, 0.0) for p in phases)
        out["curate.actions"] = statistics.median(
            sum(1 for kind, *_ in it["spans"] if kind == "action") for it in its
        )
    return out


def run(args, work: str, cores: int) -> tuple[dict, list[str]]:
    import eventlog
    import gen
    import layers
    import procstat
    from workloads import WORKLOADS

    if args.scale != 1.0:
        gen.scale(args.scale)
    report: list[str] = []
    wl = WORKLOADS[args.workload](work, cores, args.seed)
    session = Session(work, cores)
    try:
        with procstat.TreeMonitor() as mon:
            t0 = time.perf_counter()
            spark = session.start()
            start_s = time.perf_counter() - t0
            gen_s, digests = [], set()
            for _ in range(GEN_REPS):
                t0 = time.perf_counter()
                info = wl.generate()
                gen_s.append(time.perf_counter() - t0)
                digests.add(gen.digest(wl.inp))
            t0 = time.perf_counter()
            wl.layout(spark)
            layout_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warmup(spark)
            warmup_s = time.perf_counter() - t0
            setup_s = start_s + statistics.median(gen_s) + layout_s + warmup_s
            report.append(f"input {json.dumps(info, sort_keys=True)}")
            report.append(
                f"setup session={start_s:.3f}s generate={statistics.median(gen_s):.3f}s "
                f"layout={layout_s:.3f}s warmup={warmup_s:.3f}s cores={cores}"
            )
            if not args.trace:
                its = measure(spark, wl, mon, args.seconds, wl.min_iters, 0)
                metrics = end_to_end(its, setup_s)
                extra = {"out_bytes_per_doc": statistics.median(
                    it["out_bytes"] / it["docs"] for it in its)} if its[0]["out_bytes"] else {}
            else:
                half, n = args.seconds / 2, wl.traced_iters
                plain = measure(spark, wl, mon, half, n, 0)
                event_dir = os.path.join(work, "events")
                spark = session.start(event_dir)
                wl.layout(spark)
                wl.warmup(spark)
                its = measure(spark, wl, mon, half, n, len(plain), traced=True)
                metrics = {"session.start_s": start_s, "session.warmup_s": warmup_s}
                extra = {}
                if wl.pages:
                    extra = layers.profile(wl.pages)
            final_failed = wl.final_check(spark)
            session.stop()
            if args.trace:
                ev = eventlog.summarize(
                    eventlog.load(event_dir), wall_s=sum(it["wall"] for it in its), cores=cores
                )
                extra.update(layer_metrics(wl, its, ev, _rate(plain)))
                if "pipeline.stage_us_per_doc" in extra and "extract.us_per_doc" in extra:
                    extra["pipeline.outside_extract_us_per_doc"] = (
                        extra["pipeline.stage_us_per_doc"] - extra["extract.us_per_doc"]
                    )
                metrics.update({k: extra.pop(k) for k in LAYER_UNITS if k in extra})
    finally:
        session.stop()
    if args.trace:
        its = plain + its
    attempted = sum(it["docs"] for it in its)
    failed = min(attempted, sum(it["failed"] for it in its) + final_failed)
    extra["failed_frac"] = failed / attempted
    report.append(
        f"timed iterations={len(its)} walls_s="
        + ",".join(f"{it['wall']:.3f}" for it in its)
        + " cpu_s=" + ",".join(f"{it['cpu']:.2f}" for it in its)
        + " host_steal_s=" + ",".join(f"{it['steal']:.2f}" for it in its)
        + f" docs_per_iteration={its[0]['docs']} final_check_failed={final_failed}"
    )
    for name, value in [*metrics.items(), *sorted(extra.items())]:
        report.append(f"metric {name} = {value:.6g} {_unit(name)}")
    result = {
        "correct": failed == 0 and len(digests) == 1,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    if len(digests) != 1:
        report.append("generator output differed between repetitions of one seed")
    return result, report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=("extract_small_pages", "extract_job_crawl", "curate_corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (smoke tests; 1.0 is the benchmark)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fusus_spark", "__init__.py")):
        print(f"perfbench: no fusus_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    _isolate(work)

    def abort() -> None:
        print(f"perfbench: no result within {DEADLINE_S} s", file=sys.stderr)
        kill_descendants()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        result, report = run(args, work, cores)
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in report:
        print(f"perfbench: {args.workload} {line}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
