"""Unit checks for the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import feeder  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# --------------------------------------------------------------- freshness
def test_freshness_joins_first_covering_commit():
    chunks = [
        {"last_lsn": 99, "due_ms": 1_000},
        {"last_lsn": 199, "due_ms": 2_000},
        {"last_lsn": 299, "due_ms": 3_000},
        {"last_lsn": 399, "due_ms": 4_000},
    ]
    lineage = [
        # listed out of commit order on purpose
        {"lsn_min": 100, "lsn_max": 299, "committed_at_ms": 3_500, "snapshot_version": 3},
        {"lsn_min": 0, "lsn_max": 99, "committed_at_ms": 1_250, "snapshot_version": 2},
        # a compaction commit carries no lsn range
        {"lsn_min": None, "lsn_max": None, "committed_at_ms": 3_600, "snapshot_version": 4},
        # a later re-apply of the same range never counts
        {"lsn_min": 0, "lsn_max": 299, "committed_at_ms": 9_000, "snapshot_version": 5},
    ]
    assert stats.freshness(chunks, lineage) == [0.25, 1.5, 0.5, None]


def test_miss_ratio_counts_unapplied_and_late_chunks():
    assert stats.miss_ratio([1.0, 31.0, None, 2.0], 30.0) == 0.5
    assert stats.miss_ratio([], 30.0) == 0.0


# -------------------------------------------------------------- percentiles
def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.median([7.0]) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.reportable_tail(99) is None
    assert stats.reportable_tail(100) == 90.0
    assert stats.reportable_tail(999) == 90.0
    assert stats.reportable_tail(1000) == 99.0
    assert stats.reportable_tail(10_000) == 99.9
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["tail_q"] == 90.0
    s = stats.summarize([1.0, 2.0, 3.0])
    assert s["tail_q"] is None and s["tail"] is None and s["p50"] == 2.0


# --------------------------------------------------------------- generator
def test_generator_times_from_due_not_send():
    """One publish stalls for 2.5 s: the next chunks keep their due
    times (no schedule drift) and report how late they were sent."""
    now = [100.0]
    moved = []

    def clock():
        return now[0]

    def sleep(s):
        now[0] += s

    def move(src, dst):
        moved.append(src)
        if src == "c1":
            now[0] += 2.5  # the stall

    plan = {"start_ms": 101_000.0, "interval_ms": 1_000.0,
            "moves": [["c0", "f0"], ["c1", "f1"], ["c2", "f2"], ["c3", "f3"], ["c4", "f4"]]}
    recs = feeder.run(plan, clock=clock, sleep=sleep, move=move)
    assert moved == ["c0", "c1", "c2", "c3", "c4"]
    assert [r["due_ms"] for r in recs] == [101_000, 102_000, 103_000, 104_000, 105_000]
    late = [round((r["sent_ms"] - r["due_ms"]) / 1e3, 6) for r in recs]
    assert late == [0.0, 2.5, 1.5, 0.5, 0.0]
    # freshness is measured from the due time, so the stall shows
    lineage = [{"lsn_min": i, "lsn_max": i, "committed_at_ms": r["sent_ms"] + 100}
               for i, r in enumerate(recs)]
    fresh = stats.freshness(
        [{"last_lsn": i, "due_ms": r["due_ms"]} for i, r in enumerate(recs)], lineage)
    assert [round(f, 6) for f in fresh] == [0.1, 2.6, 1.6, 0.6, 0.1]


def test_feeder_process_publishes_in_order(tmp_path):
    import json
    import subprocess
    import time

    srcs = []
    for i in range(3):
        p = tmp_path / f"chunk-{i}.parquet"
        p.write_text(str(i))
        srcs.append(p)
    feed = tmp_path / "feed"
    feed.mkdir()
    plan = {"start_ms": time.time() * 1e3 + 200, "interval_ms": 50,
            "moves": [[str(p), str(feed / p.name)] for p in srcs]}
    (tmp_path / "plan.json").write_text(json.dumps(plan))
    subprocess.run([sys.executable, os.path.join(HERE, "feeder.py"),
                    str(tmp_path / "plan.json"), str(tmp_path / "sent.json")],
                   check=True, timeout=30)
    sent = json.loads((tmp_path / "sent.json").read_text())
    assert [r["due_ms"] for r in sent] == [plan["start_ms"] + 50 * i for i in range(3)]
    assert all(r["sent_ms"] >= r["due_ms"] for r in sent)
    assert sorted(os.listdir(feed)) == [p.name for p in srcs]
    mtimes = [os.stat(feed / p.name).st_mtime_ns for p in srcs]
    assert mtimes == sorted(mtimes)


def test_stage_chunks_groups_consecutive_chunks(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harness import stage_chunks

    srcs = []
    for i in range(5):
        p = tmp_path / f"chunk-{i:03d}.parquet"
        pq.write_table(pa.table({"lsn": [2 * i, 2 * i + 1]}), p)
        srcs.append(str(p))
    dst = tmp_path / "feed"
    stage_chunks(srcs, str(dst), mtime0=1000.0, per_file=2)
    names = sorted(os.listdir(dst))
    assert names == ["chunk-000.parquet", "chunk-002.parquet", "chunk-004.parquet"]
    assert [pq.read_table(dst / n).column("lsn").to_pylist() for n in names] == [
        [0, 1, 2, 3], [4, 5, 6, 7], [8, 9]]
    assert [os.stat(dst / n).st_mtime for n in names] == [1000.0, 1001.0, 1002.0]


# -------------------------------------------------------------------- spans
def test_interval_union():
    assert spans._union([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert spans._union([]) == 0


def test_missing_entry_point_fails_loudly():
    with pytest.raises(spans.TraceError):
        spans._resolve("stats", "no_such_fn")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "3")
         .config("spark.sql.adaptive.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_status_store_totals_for_a_tiny_job(spark):
    tr = spans.Tracer(spark)
    tr.active = True
    with tr.span("outer") as outer:
        spark.range(0, 1000, numPartitions=4).selectExpr("id % 7 AS k").groupBy(
            "k").count().collect()
        with tr.span("inner"):
            spark.range(0, 10, numPartitions=2).count()
    spark.range(5).count()  # outside any span: never attributed
    tr.collect()
    own = tr.totals(outer, inclusive=False)
    assert own.jobs >= 1
    # a 4-way scan plus a 3-way reduce (skipped stages are not counted)
    assert own.stages == 2 and own.tasks == 7
    assert own.task_s > 0 and own.cpu_s > 0 and own.shuffle_write_mb > 0
    assert 0 < own.max_task_s <= own.task_s
    inner = tr.find("inner")[0]
    assert inner.parent == outer.id
    t_in = tr.totals(inner)
    assert t_in.stages >= 1 and t_in.tasks >= 2
    both = tr.totals(outer)
    assert both.jobs == own.jobs + t_in.jobs
    assert both.tasks == own.tasks + t_in.tasks
    assert 0 < both.busy_s <= outer.wall + 1e-3
    assert 0 <= tr.self_time(outer) <= outer.wall
    # the job group is restored after the span
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_require_names_uncalled_entry_points(spark):
    tr = spans.Tracer(spark)
    tr.install()
    try:
        with pytest.raises(spans.TraceError, match="compact"):
            tr.require(("compact",))
    finally:
        tr.uninstall()
    from gear5_spark.lake import mor

    assert not hasattr(mor.compact, "__wrapped__")
