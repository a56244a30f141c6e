"""The workloads. Each is a closed loop with one client: a pass is a
fixed rotation of calls, and the timed loop makes as many passes as
``--seconds`` holds at a nominal pass time. Calls are timed through
``Recorder.call``; outputs are checked after each call returns,
outside its timed span.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import io
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

import checks
from gen import BATCHES_PER_DAY, DAY_US, EVENT_TYPES, JAN_LO_US
from harness import Codegen, Recorder, median, planning_ms


def _lit(us: int) -> str:
    """Epoch micros -> 'YYYY-MM-DD HH:MM:SS' (UTC), the CLI's grammar."""
    import datetime as dt

    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    data: str
    info: dict
    work: str
    rng: np.random.Generator
    failures: list = field(default_factory=list)
    extra_checks: int = 0

    def check(self, call, reason: str | None) -> None:
        """Record a failed check against ``call`` (None = untimed)."""
        if reason is not None:
            self.failures.append((call.kind if call else "end", reason))
            if call is not None:
                call.failed = True


def _concurrently(tasks) -> None:
    """Run untimed calls on a few threads and wait for all of them."""
    with ThreadPoolExecutor(max_workers=4) as ex:
        for f in [ex.submit(t) for t in tasks]:
            f.result()


@contextlib.contextmanager
def _exec_span(rec: Recorder, name: str):
    """A span around an action, counting the codegen it triggers."""
    with rec.span(name) as s:
        if s is None:
            yield None
            return
        cg = Codegen(rec.spark)
        n0, ms0 = cg.read()
        yield s
        n1, ms1 = cg.read()
        s.counts.update(codegen_compiles=n1 - n0, codegen_ms=ms1 - ms0)


def _repeat(seconds: float, nominal_s: float, step, limit: int) -> tuple[int, bool]:
    """Call ``step(i)`` for i = 0, 1, ... as many times as fit in
    ``seconds`` at ``nominal_s`` a step (at least once), so every run
    with the same seconds does the same work whatever the host's speed:
    a warming JVM makes later steps faster, and a count that followed
    the host would move the medians with it. Returns the steps made and
    whether they fell short: cut at ``limit`` (what the inputs hold) or
    stopped once twice their nominal time was spent."""
    want = max(1, round(seconds / nominal_s))
    n = min(want, limit)
    t0 = time.perf_counter()
    for i in range(n):
        if time.perf_counter() - t0 > 2 * want * nominal_s:
            return i, True
        step(i)
    return n, n < want


class Workload:
    name = ""
    # Calls of each kind in one pass: the unit per-pass figures
    # (executor CPU, shuffle, pass wall) are reported in.
    PASS_MIX: dict[str, int] = {}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.capped = False

    def open_inputs(self) -> None:
        """Open the inputs; repeated, its median goes into setup_s."""

    def prepare(self) -> None:
        """One-time program set-up the workload needs (tiers, stores)."""

    def warmup(self) -> None:
        """Untimed calls, so JIT and codegen caches are warm."""

    def measure(self, seconds: float) -> int:
        """The timed loop; returns the number of passes made."""
        raise NotImplementedError

    def finish(self) -> None:
        """End-of-run checks."""

    def stored_bytes_per_row(self) -> float:
        """The analogue of ingest's bytes_per_row on other workloads."""
        raise NotImplementedError


def _dir_bytes(path: str) -> tuple[int, int]:
    """Total bytes and number of the parquet files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


# ------------------------------------------------------- interactive

PLAN_ENTRIES = ["q04_range_aggregate", "q06_time_bucket", "q35_ohlc_bars"]
# Wall of one round on a 4-core machine, which sets the rounds a run makes.
ROUND_S = 6.0
# (window h, channels) of a round's cli queries
QUERY_SHAPES = [(1, 1), (24, 2), (7 * 24, 3)]
# (bucket width s, window h) of the fetch requests, in turn
FETCH_SHAPES = [(3600, 24), (21600, 72), (86400, 168)]


class InteractiveQuery(Workload):
    """cli query / fetch / dump and catalog headline entries against a
    small January events store, one request at a time."""

    name = "interactive_query"
    PASS_MIX = {"request.query": len(QUERY_SHAPES), "request.fetch": 1, "request.dump": 1, "request.plan": 1}

    def __init__(self, ctx):
        super().__init__(ctx)
        from etsd_time_series_database_spark import cli
        from etsd_time_series_database_spark.plans import analytics, catalog, timeseries
        from etsd_time_series_database_spark.sources import store
        range_stats, trends = (
            importlib.import_module(f"etsd_time_series_database_spark.operators.{m}")
            for m in ("range_stats", "trends")
        )

        self.cli = cli
        self.catalog = catalog()
        self.path = os.path.join(ctx.data, "events.parquet")
        self.con = checks.duck({"events": self.path})
        rec = ctx.rec
        for mod, attr, name in [
            (cli, "cmd_query", "cli.query"),
            (cli, "cmd_fetch", "cli.fetch"),
            (cli, "cmd_dump", "cli.dump"),
            (cli, "_bounds", "cli.bounds"),
            (cli, "resolve_channels", "cli.resolve_channels"),
            (cli, "resolve_range", "timeparse.resolve_range"),
            (cli, "_load_events", "sources.store.load"),
            (timeseries, "load_table", "sources.store.load"),
            (analytics, "load_table", "sources.store.load"),
            (range_stats, "range_stats", "operators.range_stats.build"),
            (trends, "route_tier", "operators.route_tier"),
            (trends, "fetch_from_tier", "operators.fetch_from_tier.build"),
        ]:
            rec.wrap(mod, attr, name)
        self.store = store

    def open_inputs(self) -> None:
        with self.ctx.rec.span("sources.store.load"):
            self.store.load_table(self.ctx.spark, self.ctx.data, "events").schema

    def prepare(self) -> None:
        from etsd_time_series_database_spark.streaming.ingest import refresh_downsample

        self.tier = os.path.join(self.ctx.work, "tier60")
        with self.ctx.rec.span("streaming.ingest.refresh_downsample"):
            refresh_downsample(self.ctx.spark, self.path, self.tier, width_s=60)
        self.tier_bytes = _dir_bytes(self.tier)[0]

    def _range(self, hours: int, align_s: int = 1) -> tuple[int, int]:
        """A window of fixed length at a seeded position in January."""
        a = align_s * 1_000_000
        lo = (JAN_LO_US + int(self.ctx.rng.integers(0, 29 * DAY_US - hours * 3_600_000_000))) // a * a
        return lo, lo + hours * 3_600_000_000

    def _cli(self, kind: str, argv: list[str], timed: bool):
        buf = io.StringIO()
        with self.ctx.rec.call(kind, timed=timed) as c:
            with contextlib.redirect_stdout(buf):
                rc = self.cli.main(argv, spark=self.ctx.spark)
        if rc != 0:
            self.ctx.check(c, f"{argv[0]} exited {rc}")
        return c, buf.getvalue()

    def _query(self, hours: int, n_channels: int, timed: bool) -> None:
        lo, hi = self._range(hours)
        chans = [str(c) for c in self.ctx.rng.choice(EVENT_TYPES, size=n_channels, replace=False)]
        p = {"start": _lit(lo), "end": _lit(hi), "channels": chans}
        argv = ["query", self.path, "-s", p["start"], "-e", p["end"]]
        for ch in chans:
            argv += ["-c", ch]
        c, out = self._cli("request.query", argv, timed)
        if c is not None:
            c.rows = checks.rows_in_range(self.con, p)
            self.ctx.check(c, checks.check_cli_query(self.con, out, p))

    def warmup(self) -> None:
        # one round: every verb and the first catalog entry; the other
        # two entries are left cold, alike in every run, to keep the
        # run short
        self._round(0, timed=False)

    def measure(self, seconds: float) -> int:
        # A pass is one round: three cli queries, a fetch, a dump and a
        # catalog entry. The fetch widths and the entries take their
        # turns across the rounds; only positions and channels come from
        # the seed. cli query, the reference's main verb, gets half the
        # slots.
        n, self.capped = _repeat(seconds, ROUND_S, lambda i: self._round(i % len(PLAN_ENTRIES), timed=True), 1 << 30)
        return n

    def stored_bytes_per_row(self) -> float:
        """Bytes of the 60 s tier made in set-up per input row."""
        return self.tier_bytes / self.ctx.info["rows"]

    def _round(self, r: int, timed: bool) -> None:
        ctx = self.ctx
        for hours, n_channels in QUERY_SHAPES:
            self._query(hours, n_channels, timed)
        # cli fetch from the materialised tier, hour-aligned
        width, hours = FETCH_SHAPES[r]
        lo, hi = self._range(hours, align_s=3600)
        p = {"start": _lit(lo), "end": _lit(hi), "width": width}
        argv = ["fetch", self.tier, "--width", str(width), "-s", p["start"], "-e", p["end"], "--limit", "1000"]
        c, out = self._cli("request.fetch", argv, timed)
        if c is not None:
            c.rows = checks.rows_in_range(self.con, p)
            ctx.check(c, checks.check_cli_fetch(self.con, out, p))
        # cli dump: one hour
        lo, hi = self._range(1)
        p = {"start": _lit(lo), "end": _lit(hi), "limit": 20}
        c, out = self._cli("request.dump", ["dump", self.path, "-s", p["start"], "-e", p["end"], "--limit", "20"], timed)
        if c is not None:
            c.rows = checks.rows_in_range(self.con, p)
            ctx.check(c, checks.check_cli_dump(self.con, out, p))
        # one catalog headline entry
        q = self.catalog[PLAN_ENTRIES[r]]
        rec = ctx.rec
        with rec.call("request.plan", timed=timed) as c:
            with rec.span("plans.build"):
                df = q.build(ctx.spark, ctx.data)
            with _exec_span(rec, "plans.exec") as s:
                rows = df.collect()
                if s is not None:
                    s.counts["planning_ms"] = planning_ms(df)
        if c is not None:
            c.rows = ctx.info["rows"]
            ctx.check(c, checks.check_oracle(self.con, [tuple(r) for r in rows], df.columns, q.oracle))


# ------------------------------------------------------------ ingest

REFRESH_WIDTH = 60
# The share of --seconds the commit phase gets; amend rounds get the rest.
COMMIT_SHARE = 0.5
# Walls on a 4-core machine of one day's commits and compaction and of
# one warm amend round, which set how many of each a run makes (three
# of each in 25 s; amend_s is their median, so one slow round does not
# move it).
DAY_S = 4.0
AMEND_S = 4.5
# gen.INGEST_SCHEMA in Spark's terms. Each batch is read with it, so no
# commit pays for schema inference, which the daemon's batches skip.
BATCH_SCHEMA = "ts TIMESTAMP, source STRING, channel STRING, value DOUBLE"


class IngestAmend(Workload):
    """The write path, in two phases. Commit: micro-batch commits one at
    a time, with each day's compaction as soon as the day closes, for
    whole days. Amend: rounds of late corrections on the events store,
    each with its day-scoped tier refresh."""

    name = "ingest_amend"
    PASS_MIX = {
        "streaming.ingest.commit": BATCHES_PER_DAY,
        "streaming.ingest.compact": 1,
        "sources.store.amend_refresh": 1,
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        from etsd_time_series_database_spark.sources import store
        from etsd_time_series_database_spark.streaming import ingest

        self.store, self.ingest = store, ingest
        self.batches = sorted(glob.glob(os.path.join(ctx.data, "batches", "*.parquet")))
        self.days = len(self.batches) // BATCHES_PER_DAY
        self.rounds = sorted(glob.glob(os.path.join(ctx.data, "amend_round*.parquet")))
        self.base = os.path.join(ctx.data, "amend_base.parquet")
        self.raw = os.path.join(ctx.work, "ingest_raw")
        self.ds = os.path.join(ctx.work, "ingest_ds60")
        self.con = checks.duck({})
        self.amend_store = os.path.join(ctx.work, "amend_store")
        self.amend_sink = os.path.join(ctx.work, "amend_ds")
        self.epoch = 0
        self.committed: list[str] = []
        self.bytes_per_row: list[float] = []
        self.files_per_commit: list[int] = []
        self.compact_bytes: list[float] = []
        self.amend_s: list[float] = []
        self.amended: list[str] = []
        self.rewritten: list[tuple[int, int, int]] = []
        self.refreshed_days: set[str] = set()

    def open_inputs(self) -> None:
        self.base_df = self.ctx.spark.read.parquet(self.base)
        self.base_df.schema

    def prepare(self) -> None:
        with self.ctx.rec.span("sources.store.create"):
            self.store.create_events_table(self.base_df, self.amend_store, mode="error")

    def warmup(self) -> None:
        # The last day's commits and compaction (into a throwaway sink)
        # and the last correction round, concurrently; the timed phases
        # use neither.
        _concurrently([
            lambda: self._commit_day(self.days - 1, timed=False),
            lambda: self._amend(self.rounds[-1], timed=False),
        ])

    def measure(self, seconds: float) -> int:
        days, short = _repeat(COMMIT_SHARE * seconds, DAY_S, lambda d: self._commit_day(d, timed=True),
                              self.days - 1)
        rounds = self.rounds[:-1]
        _, short_amend = _repeat((1 - COMMIT_SHARE) * seconds, AMEND_S,
                                 lambda r: self._amend(rounds[r], timed=True), len(rounds))
        self.capped = short or short_amend
        return days

    def stored_bytes_per_row(self) -> float:
        """Raw-sink bytes per ingested row before compaction, median per
        day."""
        return median(self.bytes_per_row)

    def _commit_day(self, day: int, timed: bool) -> None:
        """Commit the day's micro-batches one by one, then compact the
        closed day."""
        ctx, rec, spark = self.ctx, self.ctx.rec, self.ctx.spark
        raw = self.raw if timed else self.raw + "-warm"
        ds = self.ds if timed else self.ds + "-warm"
        part = os.path.join(raw, "dt=" + _lit(JAN_LO_US + day * DAY_US)[:10])
        n = ctx.info["rows"] // ctx.info["batches"]
        for f in self.batches[day * BATCHES_PER_DAY:(day + 1) * BATCHES_PER_DAY]:
            batch = spark.read.schema(BATCH_SCHEMA).parquet(f)
            before = _dir_bytes(part)[1]
            with rec.call("streaming.ingest.commit", rows=n, timed=timed):
                with rec.span("streaming.ingest.write_ingest_epoch"):
                    self.ingest.write_ingest_epoch(batch, self.epoch, raw, downsample_to=ds, downsample_width_s=60)
            self.epoch += 1
            if timed:
                self.committed.append(f)
                self.files_per_commit.append(_dir_bytes(part)[1] - before)
        day_rows = n * BATCHES_PER_DAY
        if timed:
            self.bytes_per_row.append(_dir_bytes(part)[0] / day_rows)
        with rec.call("streaming.ingest.compact", rows=day_rows, timed=timed):
            with rec.span("streaming.ingest.compact_ingest_partition"):
                self.ingest.compact_ingest_partition(spark, raw, os.path.basename(part))
        if timed:
            self.compact_bytes.append(_dir_bytes(part)[0] / day_rows)

    def _amend(self, rnd: str, timed: bool) -> None:
        """One round of late corrections, then the day-scoped refresh."""
        rec, spark = self.ctx.rec, self.ctx.spark
        corr = spark.read.parquet(rnd)
        with rec.call("sources.store.amend_refresh", timed=timed) as c:
            with rec.span("sources.store.amend_events"):
                res = self.store.amend_events(spark, self.amend_store, corr)
            days = sorted(str(d).replace("dt=", "") for d in res["partitions"])
            with rec.span("streaming.ingest.refresh_downsample"):
                self.ingest.refresh_downsample(
                    spark, self.amend_store, self.amend_sink, width_s=REFRESH_WIDTH, days=days
                )
        self.amended.append(rnd)
        self.refreshed_days.update(days)
        if not timed:
            return
        self.amend_s.append(c.end - c.start)
        rewritten = sum(_dir_bytes(os.path.join(self.amend_store, f"dt={d}"))[0] for d in days)
        self.rewritten.append((len(days), corr.count(), rewritten))

    def finish(self) -> None:
        ctx = self.ctx
        ctx.extra_checks += 3
        ctx.check(None, checks.check_ingest_sink(self.con, os.path.join(self.raw, "**", "*.parquet"), self.committed))
        store_glob = os.path.join(self.amend_store, "**", "*.parquet")
        ctx.check(None, checks.check_amended(self.con, store_glob, self.base, self.amended))
        ctx.check(
            None,
            checks.check_refreshed(
                self.con, store_glob, os.path.join(self.amend_sink, "**", "*.parquet"),
                sorted(self.refreshed_days), REFRESH_WIDTH,
            ),
        )


WORKLOADS = {w.name: w for w in (InteractiveQuery, IngestAmend)}
DATASET = {"interactive_query": "query", "ingest_amend": "ingest"}
