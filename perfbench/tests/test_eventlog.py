"""The event-log parser, on hand-made events and on a tiny real job."""

import os
import subprocess
import sys
import textwrap

import eventlog


def _task(stage, run_ms, *, shuffle_w=0, out_rec=0, python=False):
    acc = [{"Name": "time to run Python workers", "Update": str(run_ms // 2)}] if python else []
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": run_ms // 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {},
            "Output Metrics": {"Bytes Written": 0, "Records Written": out_rec},
        },
    }


def test_summarize_hand_made_events():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {eventlog.PHASE_KEY: "timed"}},
        _task(0, 5000),  # untimed job: ignored
        _task(1, 100, shuffle_w=2_000_000, python=True),
        _task(1, 100, python=True),
        _task(1, 400, python=True),
        _task(2, 200, out_rec=7),
    ]
    s = eventlog.summarize(events, wall_s=1.0, cores=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 2, 4)
    assert s["run_s"] == 0.8 and s["cpu_s"] == 0.8
    assert s["core_busy_frac"] == 0.4
    assert s["task_max_over_median"] == 4.0  # heaviest stage 1: 400 / 100
    assert s["shuffle_write_mb"] == 2.0 and s["output_records"] == 7
    assert s["mapinarrow_task_s"] == 0.6 and s["python_run_s"] == 0.3
    assert abs(s["gc_frac"] - 0.1) < 1e-9  # 80 ms GC / 800 ms run


def test_summarize_tiny_spark_job(tmp_path):
    """A tagged count over a 4-way repartition, after an untagged job."""
    log_dir = tmp_path / "events"
    script = textwrap.dedent(f"""
        import sys
        sys.path[:0] = {[os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))]!r}
        import eventlog
        from fusus_spark.session import get_spark
        extra = eventlog.event_log_conf({str(log_dir)!r})
        extra["spark.local.dir"] = {str(tmp_path)!r}
        spark = get_spark("evtest", master="local[2]", shuffle_partitions=2, extra=extra)
        spark.range(10).count()
        sc = spark.sparkContext
        sc.setLocalProperty(eventlog.PHASE_KEY, "timed")
        spark.range(0, 1000, 1, 4).repartition(3).write.parquet({str(tmp_path / "out")!r})
        spark.stop()
    """)
    log_dir.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run([sys.executable, "-c", script], check=True, env=env, timeout=300)
    s = eventlog.summarize(eventlog.load(str(log_dir)), wall_s=1.0, cores=2)
    assert s["output_records"] == 1000
    assert s["tasks"] >= 4 + 1
    assert s["shuffle_write_mb"] > 0 and s["shuffle_read_mb"] > 0
    assert s["jobs"] >= 1 and s["stages"] >= 2
    assert s["mapinarrow_task_s"] == 0
