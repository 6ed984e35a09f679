import threading

import pytest
from eventlog import attribute, read_events
from tracing import Span, Tracer


def _job(jid, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, shuffle_written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_written},
                             "Input Metrics": {"Bytes Read": 100}}}


def test_group_then_window_then_first_listing_job():
    spans = [Span("s0", "query", "q", None, 10.0, 20.0), Span("s1", "fn", "q", "s0", 11.0, 15.0)]
    events = [
        _job(0, 12_000, [0], group="s1"),
        _job(1, 16_000, [0, 1], group="s0"),  # lists stage 0 again: already run by job 0
        _job(2, 13_500, [2], group="stream-run-id"),  # foreign group: by time window -> s1
        _job(3, 30_000, [3]),  # outside every span: dropped
        _task(0, 5), _task(0, 5), _task(1, 7, shuffle_written=64), _task(2, 3), _task(3, 9),
    ]
    out = attribute(events, spans)
    assert out["s1"]["jobs"] == 2 and out["s0"]["jobs"] == 1
    assert (out["s1"]["stages"], out["s1"]["tasks"]) == (2, 3)
    assert out["s1"]["executor_run_s"] == pytest.approx(0.013)
    assert out["s0"]["shuffle_write_bytes"] == 64 and out["s0"]["tasks"] == 1
    assert out["s1"]["input_bytes"] == 300


def test_attribution_on_a_tiny_spark_run(tmp_path):
    """Job groups set on span entry reach the event log; a job started on
    another thread, outside the group, lands by time window."""
    pyspark = pytest.importorskip("pyspark.sql")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        pyspark.SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        t = Tracer(on_enter=lambda s: sc.setJobGroup(s.id, s.name),
                   on_exit=lambda s, p: sc.setJobGroup(p.id, p.name) if p else sc._jsc.clearJobGroup())
        with t.span("query", trace_id="q") as q:
            spark.range(10).count()
            with t.span("fn") as fn:
                spark.range(100).repartition(3).count()
                spark.range(5).collect()
                th = threading.Thread(target=lambda: spark.range(7).count())
                th.start()
                th.join(timeout=60)
                assert not th.is_alive()
    finally:
        spark.stop()
    events = list(read_events(str(log_dir)))
    groups = [(e.get("Properties") or {}).get("spark.jobGroup.id")
              for e in events if e["Event"] == "SparkListenerJobStart"]
    assert groups.count(q.id) >= 1 and groups.count(fn.id) >= 2
    ungrouped = len(groups) - groups.count(q.id) - groups.count(fn.id)
    assert ungrouped >= 1  # the other thread's job
    out = attribute(events, t.spans)
    assert out[q.id]["jobs"] == groups.count(q.id)
    assert out[fn.id]["jobs"] == groups.count(fn.id) + ungrouped
    assert out[fn.id]["shuffle_write_bytes"] > 0 and out[q.id]["tasks"] > 0
