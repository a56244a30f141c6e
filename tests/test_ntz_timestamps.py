"""TIMESTAMP_NTZ loader path: value-level parity with DuckDB.

The testdata fixture happens to store events.ts as int64 nanos, so the
NTZ branch of sources/store.py:load_table (naive parquet timestamps,
isAdjustedToUTC=false) was only ever exercised incidentally. This test
writes a dedicated TIMESTAMP_NTZ parquet fixture and asserts, against
DuckDB reading the very same file:

* the epoch conversion — load_table must treat the naive wall clock as
  UTC (DuckDB ``epoch_us(ts)`` semantics), independent of the Spark
  session timezone;
* the pushed-down range filter — same surviving rows as DuckDB's
  ``BETWEEN`` over the naive timestamps;
* malformed range bounds raise instead of silently returning an empty
  DataFrame (a bad literal cast is NULL under non-ANSI mode, and a
  NULL predicate drops every row).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etsd_time_series_database_spark.sources.store import load_table


@pytest.fixture(scope="module")
def ntz_dir(tmp_path_factory):
    """A tiny table whose ts column is parquet TIMESTAMP(MICROS,
    isAdjustedToUTC=false) — surfaces as TIMESTAMP_NTZ in Spark 4."""
    d = tmp_path_factory.mktemp("ntz")
    ts = pa.array(
        [
            dt.datetime(2024, 1, 1, 0, 0, 0),
            dt.datetime(2024, 1, 1, 6, 30, 0),
            dt.datetime(2024, 1, 2, 12, 0, 0),
            dt.datetime(2024, 1, 3, 23, 59, 59, 999999),
        ],
        type=pa.timestamp("us"),  # no tz => isAdjustedToUTC=false
    )
    table = pa.table({"event_id": pa.array([1, 2, 3, 4]), "ts": ts})
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


def test_ntz_epoch_conversion_matches_duckdb(spark, duck, ntz_dir):
    df = load_table(spark, ntz_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = {
        r["event_id"]: r["ts_us"]
        for r in df.select(
            "event_id",
            (F.unix_micros("ts")).alias("ts_us"),
        ).collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{ntz_dir}/events.parquet') ORDER BY event_id"
        ).fetchall()
    )
    assert got == want


def test_ntz_range_filter_matches_duckdb(spark, duck, ntz_dir):
    lo, hi = "2024-01-01 06:00:00", "2024-01-02 12:00:00"
    df = load_table(spark, ntz_dir, "events", ts_range=(lo, hi))
    got = sorted(r["event_id"] for r in df.collect())
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT event_id FROM read_parquet('{ntz_dir}/events.parquet') "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}' "
            "ORDER BY event_id"
        ).fetchall()
    ]
    assert got == want == [2, 3]


def test_ntz_filter_pushed_to_scan(spark, ntz_dir):
    """The range predicate must reach the parquet scan (row-group
    skipping), not sit above the epoch conversion."""
    df = load_table(
        spark, ntz_dir, "events", ts_range=("2024-01-01 06:00:00", None)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def test_ntz_malformed_bound_raises(spark, ntz_dir):
    with pytest.raises(ValueError):
        load_table(spark, ntz_dir, "events", ts_range=("not-a-time", None))


def test_ntz_independent_of_session_timezone(spark, duck, ntz_dir):
    """Epoch parity must hold under a non-UTC session timezone — the
    conversion goes through the NTZ epoch diff, never a tz-sensitive
    cast."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, ntz_dir, "events")
        got = {
            r["event_id"]: r["ts_us"]
            for r in df.select(
                "event_id", F.unix_micros("ts").alias("ts_us")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{ntz_dir}/events.parquet')"
        ).fetchall()
    )
    assert got == want


def test_ntz_branch_survives_infer_conf_off(spark, duck, ntz_dir):
    """A caller session with inferTimestampNTZ disabled must still get
    UTC-parity values: load_table pins the conf itself (ADVICE r4)."""
    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = load_table(spark, ntz_dir, "events")
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)
    got = {
        r["event_id"]: r["ts_us"]
        for r in df.select(
            "event_id", F.unix_micros("ts").alias("ts_us")
        ).collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{ntz_dir}/events.parquet')"
        ).fetchall()
    )
    assert got == want


def test_ts_bound_grammar_accepts_spark_cast_short_forms(spark, ntz_dir):
    """The eager bound validation must accept everything the guarded
    Spark cast accepts: bare year, year-month, and 'Z'-suffixed ISO
    timestamps all filter instead of raising."""
    assert (
        load_table(
            spark, ntz_dir, "events", ts_range=("2024", "2024-02")
        ).count()
        == 4
    )
    assert (
        load_table(
            spark,
            ntz_dir,
            "events",
            ts_range=("2024-01-01T06:00:00Z", None),
        ).count()
        == 3
    )


def test_cli_query_reads_nanos_through_vanilla_session(spark, tmp_path, capsys):
    """The CLI verbs read through store.read_ts_parquet, so a caller's
    SparkSession without this repo's confs (nanosAsLong off, Spark's
    default) still reads a TIMESTAMP(NANOS) file — it used to raise
    PARQUET_TYPE_ILLEGAL — and prints the same stats."""
    from etsd_time_series_database_spark import cli

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array(
        [1_704_067_200_000_000_123, 1_704_070_800_000_000_456,
         1_704_153_600_000_000_789],  # 2024-01-01 00:00, 01:00, 01-02
        type=pa.timestamp("ns", tz="UTC"),
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3]),
            "ts": ts,
            "event_type": pa.array(["click", "click", "view"]),
            "value": pa.array([1.5, 2.5, 4.0]),
        }),
        path,
    )
    vanilla = spark.newSession()
    vanilla.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    rc = cli.main(
        ["query", path, "-s", "2024-01-01", "-e", "2024-01-03", "-q", "tot"],
        spark=vanilla,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "total_value" in out
    rows = {
        line.split("|")[1].strip(): line.split("|")[2].strip()
        for line in out.splitlines()
        if line.startswith("|") and "total_value" not in line
    }
    assert rows == {"click": "4.0", "view": "4.0"}
