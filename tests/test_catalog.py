"""Table loading and scan spreading in ``catalog``.

``load_table`` infers a table file's schema once: a repeat load of an
unchanged file runs no Spark job, a rewritten file is inferred again, and
the ``events`` table keeps both of its ``ts`` encodings on a cache hit,
and so does its file stream, which a second build plans with no job.
``spread_scan`` spreads a one-partition scan to one task wave.
"""

from __future__ import annotations

import datetime as dt
import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from incr_iter_hadoop_spark.catalog import load_table, spread_scan
from incr_iter_hadoop_spark.session import scoped_conf

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test_catalog_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_repeat_load_of_an_unchanged_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, again_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    # the first load infers the schema with a job of its own
    assert first_jobs >= 1
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_a_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    load_table(spark, str(tmp_path), "t")  # a cache hit
    pq.write_table(pa.table({"k": [1, 2], "w": [0.5, 1.5], "x": [True, False]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "w", "x"]
    assert sorted(df.collect()) == [(1, 0.5, True), (2, 1.5, False)]


def test_events_ts_is_timestamp_ntz_in_both_encodings_on_a_cache_hit(spark, tmp_path):
    when = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(1999, 12, 31, 23, 59, 59)]
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        ts = pa.array(when, type=pa.timestamp(unit))
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), d / "events.parquet")
        first = load_table(spark, str(d), "events")
        hit, jobs = _jobs(spark, lambda: load_table(spark, str(d), "events"))
        assert jobs == 0, unit
        for df in (first, hit):
            assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz", unit
            assert [r["ts"] for r in df.orderBy("event_id").collect()] == when, unit


def test_building_the_events_stream_again_runs_no_job(spark, tmp_path):
    # the stream takes the file's raw schema from the kept one, so only the
    # first build of a table's stream infers it
    from incr_iter_hadoop_spark.operators.windows import _events_stream

    when = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(1999, 12, 31, 23, 59, 59)]
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        ts = pa.array(when, type=pa.timestamp(unit))
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), d / "events.parquet")
        _events_stream(spark, str(d))
        for normalize_ts in (True, False):
            stream, jobs = _jobs(
                spark, lambda: _events_stream(spark, str(d), normalize_ts=normalize_ts)
            )
            assert jobs == 0, (unit, normalize_ts)
            assert stream.isStreaming
        raw = spark.read.parquet(str(d / "events.parquet")).schema
        assert stream.schema == raw, unit
        normalized = _events_stream(spark, str(d)).schema["ts"].dataType
        assert normalized.simpleString() == "timestamp_ntz", unit


def test_spread_scan_spreads_one_partition_to_one_task_wave(spark):
    cores = spark.sparkContext.defaultParallelism
    one = spark.range(100, numPartitions=1)
    for shuffle in (2, 64):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(shuffle)}):
            spread = spread_scan(one, "id")
            assert spread.rdd.getNumPartitions() == min(cores, shuffle), shuffle
            # a scan already that wide is left as it is
            assert spread_scan(spread, "id") is spread
