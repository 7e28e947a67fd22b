"""Traced-run tooling: self-time arithmetic, wrappers, and the event-log
parser on a tiny Spark job."""

import os

import pytest

from perfbench import layers
from perfbench.trace import Span, Tracer, find_event_log, layer_of_group, parse_event_log, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (2.5, 2.75)]) == 3.0
    assert union_length([(5, 6), (0, 10)]) == 10.0


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        Span(0, "root", "pipeline", 0.0, 10.0),
        Span(1, "a", "segments", 1.0, 4.0, parent=0),
        Span(2, "b", "mentions", 3.0, 6.0, parent=0),  # overlaps a (side thread)
        Span(3, "c", "sinks", 5.0, 5.5, parent=2),
        Span(4, "late", "graph", 9.0, 12.0, parent=0),  # outlives the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_self_times_add_up_to_wall_without_concurrency():
    spans = [
        Span(0, "root", "pipeline", 0.0, 8.0),
        Span(1, "a", "segments", 0.5, 3.0, parent=0),
        Span(2, "b", "mentions", 3.0, 7.0, parent=0),
        Span(3, "c", "sinks", 4.0, 6.0, parent=2),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_wrappers_record_parents_and_restore_originals():
    import docs2kg_spark.operators.segments as seg_mod
    import docs2kg_spark.plans.pipeline as pipe_mod

    orig = seg_mod.segment_transcripts
    tracer = Tracer()
    tracer.install()
    try:
        assert seg_mod.segment_transcripts is not orig
        assert pipe_mod.segment_transcripts is seg_mod.segment_transcripts
        with tracer.span("outer", "pipeline"):
            with pytest.raises(Exception):
                seg_mod.segment_transcripts(None)
    finally:
        tracer.uninstall()
    assert seg_mod.segment_transcripts is orig and pipe_mod.segment_transcripts is orig
    outer, inner = tracer.spans
    assert inner.parent == outer.id and inner.layer == "segments" and inner.end >= inner.start


def test_layer_of_group():
    assert layer_of_group("linking|12") == "linking"
    assert layer_of_group(None) is None
    assert layer_of_group("unrelated") is None


def test_every_per_layer_metric_is_computed():
    spans = [Span(0, "pipeline.run_pipeline", "pipeline", 0.0, 2.0), Span(1, "sinks.write", "graph", 0.5, 1.5, parent=0, detail="kg_edges")]
    counts = {"session.start_s": 1.0, "session.warmup_s": 2.0}
    values = layers.compute(spans, {}, counts, 0.0)
    assert set(values) == {name for name, _ in layers.PER_LAYER}
    assert values["trace.wall_s"] == pytest.approx(2.0)
    assert values["graph.wall_s"] == pytest.approx(1.0)
    assert values["pipeline.self_s"] == pytest.approx(1.0)


@pytest.fixture(scope="module")
def traced_job(tmp_path_factory):
    from docs2kg_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench_trace_test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    tracer = Tracer(spark.sparkContext)
    try:
        with tracer.span("outer", "graphq"):
            spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
            with tracer.span("inner", "sinks"):
                spark.range(10).write.mode("overwrite").parquet(str(log_dir.parent / "out"))
        spark.range(5).count()  # ungrouped
    finally:
        spark.stop()
    return tracer, parse_event_log(find_event_log(str(log_dir)))


def test_event_log_groups_jobs_by_span(traced_job):
    tracer, groups = traced_job
    outer, inner = tracer.spans
    g_outer, g_inner = groups[f"graphq|{outer.id}"], groups[f"sinks|{inner.id}"]
    assert g_outer.jobs >= 1 and g_outer.tasks >= 2
    assert g_outer.shuffle_write_mb > 0 and g_outer.task_s >= 0
    assert g_inner.output_rows == 10 and g_inner.output_mb > 0
    assert groups[None].jobs >= 1
    assert g_outer.task_skew >= 1.0


def test_find_event_log_rejects_unfinished(tmp_path):
    (tmp_path / "app.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        find_event_log(str(tmp_path))
    os.remove(tmp_path / "app.inprogress")
    (tmp_path / "local-1").write_text("")
    assert find_event_log(str(tmp_path)).endswith("local-1")
