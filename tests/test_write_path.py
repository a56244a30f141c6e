"""The write path's shared pieces: the crash-safe directory install
(``sources.store.swap_in_dir``) on a fake filesystem, the downsample
consolidation every sink path shares, and the bucketed-table overwrite
that must touch only the directory it resolved."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etsd_time_series_database_spark.sources.store import (
    swap_in_dir,
    write_bucketed_table,
)
from etsd_time_series_database_spark.streaming import ingest


class FakeFS:
    """The Hadoop FileSystem calls swap_in_dir makes, over a dict of
    directory -> contents. Like Hadoop, a failed rename returns False
    instead of raising; renames FROM a path in ``fail`` fail."""

    def __init__(self, dirs: dict, fail: tuple = ()):
        self.dirs = dict(dirs)
        self.fail = set(fail)

    def exists(self, p):
        return p in self.dirs

    def rename(self, src, dst):
        if src in self.fail or src not in self.dirs or dst in self.dirs:
            return False
        self.dirs[dst] = self.dirs.pop(src)
        return True

    def delete(self, p, recursive):
        return self.dirs.pop(p, None) is not None


def _swap(fs):
    swap_in_dir(fs, str, "t/__tmp", "t/dst", "t/__old", "test swap")


def test_swap_in_dir_replaces_existing_dir():
    fs = FakeFS({"t/__tmp": "new", "t/dst": "cur"})
    _swap(fs)
    assert fs.dirs == {"t/dst": "new"}


def test_swap_in_dir_installs_without_existing_dst():
    fs = FakeFS({"t/__tmp": "new"})
    _swap(fs)
    assert fs.dirs == {"t/dst": "new"}


def test_swap_in_dir_failed_move_aside_deletes_temp_only():
    fs = FakeFS({"t/__tmp": "new", "t/dst": "cur"}, fail=("t/dst",))
    with pytest.raises(IOError, match="test swap: failed to move t/dst aside"):
        _swap(fs)
    assert fs.dirs == {"t/dst": "cur"}


def test_swap_in_dir_failed_install_restores_old_dir():
    fs = FakeFS({"t/__tmp": "new", "t/dst": "cur"}, fail=("t/__tmp",))
    with pytest.raises(IOError, match="test swap: failed to install t/dst"):
        _swap(fs)
    assert fs.dirs["t/dst"] == "cur"
    assert "t/__old" not in fs.dirs


def test_consolidation_identity_live_replay_refresh(spark, tmp_path):
    """One consolidation, four paths: the live foreachBatch downsample
    (write_ingest_epoch), replay, and refresh_downsample's full rebuild
    and day refresh produce bit-identical buckets (the fast form of the
    slow streaming replay-vs-live test)."""
    rows = [
        ("2026-01-01 00:00:05", "a", 1.0),
        ("2026-01-01 00:00:55", "a", -3.25),
        ("2026-01-01 00:01:10", "a", 0.1),
        ("2026-01-01 00:01:11", "a", 0.2),
        ("2026-01-01 00:00:10", "b", 7.0),
        ("2026-01-01 23:59:59", "b", -0.0),
        ("2026-01-02 00:00:00", "b", 1e-9),
        ("2026-01-02 00:00:30", "b", 3.0),
    ]
    batch = spark.createDataFrame(
        [(ts, "s", ch, v, 0) for ts, ch, v in rows],
        "ts string, source string, channel string, value double, status int",
    ).withColumn("ts", F.to_timestamp("ts"))
    raw, live = str(tmp_path / "raw"), str(tmp_path / "live")
    ingest.write_ingest_epoch(batch, 0, raw, downsample_to=live)
    replayed, full, day = (str(tmp_path / n) for n in ("replay", "full", "day"))
    ingest.replay(spark, raw, replayed)
    ingest.refresh_downsample(spark, raw, full)
    ingest.refresh_downsample(spark, raw, day, days=["2026-01-02"])

    def canon(path, where=None):
        df = ingest.read_ingest_table(spark, path)
        if where is not None:
            df = df.filter(F.to_date("bucket_ts") == F.lit(where))
        return sorted(
            tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.select(
                "source", "channel", "bucket_ts", "n", "sum_value",
                "avg_value", "min_value", "max_value",
            ).collect()
        )

    want = canon(live)
    assert len(want) == 5
    assert canon(replayed) == want
    assert canon(full) == want
    assert canon(day) == canon(live, "2026-01-02")


def test_bucketed_overwrite_leaves_other_database_table(spark):
    """Under ``USE other``, overwriting ``t`` must not clear
    ``default.t``'s warehouse directory: the orphan cleanup applies
    only to an unregistered, unqualified name in ``default``."""
    name = "wpt_bucketed"
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    second = spark.createDataFrame([(3, "c")], "k int, v string")
    try:
        write_bucketed_table(first, name, "k", n_buckets=2)
        spark.sql("CREATE DATABASE IF NOT EXISTS wpt_other")
        spark.sql("USE wpt_other")
        write_bucketed_table(second, name, "k", n_buckets=2)
        spark.sql("USE default")
        assert sorted(
            map(tuple, spark.table(f"wpt_other.{name}").collect())
        ) == [(3, "c")]
        assert sorted(
            map(tuple, spark.table(f"default.{name}").collect())
        ) == [(1, "a"), (2, "b")]
    finally:
        spark.sql("USE default")
        spark.sql(f"DROP TABLE IF EXISTS default.{name}")
        spark.sql("DROP DATABASE IF EXISTS wpt_other CASCADE")
