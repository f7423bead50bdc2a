"""Regression tests for the footer-driven events ts-unit detection.

Round-4 postmortem: the driver regenerated events.parquet with ts as
TIMESTAMP(MICROS) while the reader hard-assumed the r1-era TIMESTAMP(NANOS)
layout (`ts long` + div 1000), dividing every timestamp by 1000 and turning
a 30-day event range into 43 minutes of January 1970 — 11 red queries from
one assumption. These tests pin the contract: whatever unit the footer
declares, loaded timestamps land in a sane modern range, and batch and
streaming readers agree.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gtec_etl_spark import catalog
from gtec_etl_spark.streaming.pipelines import read_events_stream

EPOCH_2000 = datetime.datetime(2000, 1, 1)
EPOCH_2100 = datetime.datetime(2100, 1, 1)


def test_events_ts_unit_detected_from_footer(sf_dir):
    unit = catalog.events_ts_unit(os.path.join(sf_dir, "events.parquet"))
    # The current driver data is micros; the assertion is on the MECHANISM:
    # whatever the footer says must match what pyarrow reads directly.
    field = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts")
    assert unit == getattr(field.type, "unit", "ns")


def test_events_batch_ts_in_modern_range(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = catalog.table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert EPOCH_2000 <= lo <= hi <= EPOCH_2100, (
        f"events ts range [{lo}, {hi}] is outside 2000-2100 — "
        "unit misdetection (the round-4 div-1000 bug)"
    )


def test_events_stream_schema_matches_batch(spark, sf_dir):
    batch = catalog.table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    assert stream.schema == batch.schema


def test_empty_directory_raises_clear_error(tmp_path):
    """An empty landing directory must fail with an explicit message, not a
    confusing FileNotFoundError on the literal '*.parquet' glob string
    (r5 advice)."""
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(FileNotFoundError, match="no parquet files found"):
        catalog.events_ts_unit(str(d))


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_both_units_read_identically(spark, tmp_path, unit):
    """Write the same logical rows as micros and as int64-nanos; the
    footer-driven reader must produce identical timestamps for both.

    All arithmetic and comparison happen in epoch-micros space via UTC
    (calendar.timegm) — naive datetime.timestamp() on the write side and
    collect()'s datetime conversion on the read side both go through the
    HOST's local timezone, which made the original test pass only on
    TZ=UTC machines (r5 advice)."""
    import calendar

    ts = [
        datetime.datetime(2024, 1, 1, 12, 0, 0),
        datetime.datetime(2024, 1, 15, 3, 30, 59, 123456),
    ]
    micros = [
        calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond for t in ts
    ]
    if unit == "us":
        arr = pa.array(ts, type=pa.timestamp("us"))
    else:
        arr = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    t = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": arr,
            "user_id": pa.array([10, 20], type=pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.5, 2.5], type=pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d = tmp_path / unit
    d.mkdir()
    pq.write_table(t, d / "events.parquet")
    from pyspark.sql import functions as F

    got = [
        r["tsm"]
        for r in catalog.table(spark, str(d), "events")
        .select("event_id", F.unix_micros("ts").alias("tsm"))
        .orderBy("event_id")
        .collect()
    ]
    assert got == micros


def _events_table(ts: pa.Array) -> pa.Table:
    n = len(ts)
    return pa.table(
        {
            "event_id": pa.array(range(1, n + 1), type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([10] * n, type=pa.int64()),
            "event_type": pa.array(["a"] * n),
            "value": pa.array([1.5] * n, type=pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )


def test_events_rewritten_with_other_unit_is_probed_again(spark, tmp_path):
    """The ts-unit cache is keyed on the file's stat fingerprint, not the
    path alone: an events file regenerated at the same path as int64-nanos
    after a MICROS read must not reuse the cached 'us' (the round-4
    div-1000 failure through the cache)."""
    from pyspark.sql import functions as F

    micros = [1_704_110_400_000_000, 1_705_289_459_123_456]  # 2024-01-01, -15
    path = tmp_path / "events.parquet"

    def read_micros():
        return [
            r["tsm"]
            for r in catalog.table(spark, str(tmp_path), "events")
            .select(F.unix_micros("ts").alias("tsm"))
            .orderBy("tsm")
            .collect()
        ]

    pq.write_table(_events_table(pa.array(micros, type=pa.timestamp("us"))), path)
    assert read_micros() == micros
    pq.write_table(
        _events_table(pa.array([m * 1000 for m in micros], type=pa.int64())), path
    )
    assert catalog.events_ts_unit(str(path)) == "ns"
    assert read_micros() == micros


def _jobs_in(spark, tag: str, fn):
    sc = spark.sparkContext
    group = f"catalog-{tag}"
    sc.setJobGroup(group, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_table_read_runs_no_job(spark, tmp_path):
    """The first read of a path infers the schema (a Spark job that merges
    footer schemas); a second read of the unchanged path reuses the
    inferred schema and starts no job at all."""
    pq.write_table(
        pa.table({"n_nationkey": [1, 2], "n_name": ["a", "b"]}),
        tmp_path / "nation.parquet",
    )
    first, n_first = _jobs_in(
        spark, f"first-{tmp_path.name}", lambda: catalog.table(spark, str(tmp_path), "nation")
    )
    second, n_second = _jobs_in(
        spark, f"second-{tmp_path.name}", lambda: catalog.table(spark, str(tmp_path), "nation")
    )
    assert n_first > 0  # the measurement sees inference when it happens
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """Overwriting the file at the same path (here with an extra column)
    changes its fingerprint, so the next read sees the new schema."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert catalog.table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["x", "y"]}), path)
    t = catalog.table(spark, str(tmp_path), "region")
    assert t.columns == ["r_regionkey", "r_name"]
    assert sorted(t.collect()) == [(0, "x"), (1, "y")]


def test_directory_table_sees_added_file(spark, tmp_path):
    """A directory's fingerprint covers every file under it, so adding a
    part file invalidates the memo."""
    d = tmp_path / "part.parquet"
    d.mkdir()
    pq.write_table(pa.table({"p_partkey": [1]}), d / "part-0.parquet")
    assert catalog.table(spark, str(tmp_path), "part").count() == 1
    before = catalog._fingerprint(str(d))
    pq.write_table(pa.table({"p_partkey": [2]}), d / "part-1.parquet")
    assert catalog._fingerprint(str(d)) != before
    assert catalog.table(spark, str(tmp_path), "part").count() == 2
