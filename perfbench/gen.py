"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every dataset is a pure function of ``(seed, size)``: the same pair
writes byte-identical parquet files. Generated sets are cached under
``<cache>/<name>-<size>-s<seed>-v<FORMAT>/`` and reused, so generation stays out
of every timed region.

Timestamps are written UTC-adjusted (``timestamp[us, tz=UTC]``). With
naive parquet timestamps several operators fail (see CHANGES.md), and
the benchmark must measure the engine on the layout it supports.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# January 2024, the span the catalog's fixed time constants assume.
JAN_LO_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
JAN_HI_US = 1_706_659_200_000_000  # 2024-01-31 00:00:00 UTC
DAY_US = 86_400_000_000

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

# Ingest micro-batches per day: one commit every six hours.
BATCHES_PER_DAY = 4


@dataclass(frozen=True)
class Sizes:
    query_rows: int
    ingest_batches: int
    ingest_rows_per_batch: int
    amend_rows: int
    amend_rounds: int
    amend_corrections: int


SIZES = {
    "tiny": Sizes(
        query_rows=2_000,
        ingest_batches=12, ingest_rows_per_batch=64,
        amend_rows=2_000, amend_rounds=3, amend_corrections=20,
    ),
    # Ingest holds far more days and correction rounds than a run of
    # --seconds 25 uses; a run that asks for more stops where the data
    # ends (workloads.IngestAmend).
    "full": Sizes(
        query_rows=60_000,
        ingest_batches=120, ingest_rows_per_batch=512,
        amend_rows=20_000, amend_rounds=12, amend_corrections=200,
    ),
}

TS_UTC = pa.timestamp("us", tz="UTC")
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", TS_UTC),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    # One row group per file and no timing-dependent metadata keep the
    # bytes a pure function of the table.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def _sorted_ts(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` strictly increasing timestamps in [lo, hi): no two rows
    share an instant, so every per-channel ordering is total."""
    return lo + np.sort(rng.choice(hi - lo, size=n, replace=False))


def events_table(
    rng: np.random.Generator, n: int, channels: list[str], lo_us: int, hi_us: int
) -> pa.Table:
    """Events-shaped rows in ts order, with values drawn like the
    catalog's test data."""
    ts = _sorted_ts(rng, n, lo_us, hi_us)
    ch_idx = rng.integers(0, len(channels), size=n)
    value = np.round(rng.uniform(0.0, 200.0, size=n), 2)
    names = np.array(channels, dtype=object)[ch_idx]
    k = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.int64()).cast(TS_UTC),
            "user_id": pa.array(rng.integers(0, 2_000, size=n, dtype=np.int64)),
            "event_type": pa.array(names, type=pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], type=pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def gen_query(rng, s: Sizes, out: str) -> dict:
    """A small events store in ``sf_dir`` layout covering January."""
    t = events_table(rng, s.query_rows, EVENT_TYPES, JAN_LO_US, JAN_HI_US - DAY_US)
    _write(t, os.path.join(out, "events.parquet"))
    return {"rows": t.num_rows}


# Part of every cache directory's name: bump it when a generator's
# output changes, so no run reuses a stale cached set.
FORMAT = 3

INGEST_CHANNELS = [f"sensor{c:02d}" for c in range(16)]
INGEST_SCHEMA = pa.schema(
    [("ts", TS_UTC), ("source", pa.string()), ("channel", pa.string()), ("value", pa.float64())]
)


def gen_ingest(rng, s: Sizes, out: str) -> dict:
    """Micro-batches for the ingest sink, one file per batch and six
    hours of readings each (the daemon's commit interval), so every
    ``BATCHES_PER_DAY`` batches close a day; plus the events store and
    correction rounds for the amend phase."""
    per = DAY_US // BATCHES_PER_DAY
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir)
    for b in range(s.ingest_batches):
        n = s.ingest_rows_per_batch
        lo = JAN_LO_US + b * per
        ts = _sorted_ts(rng, n, lo, lo + per)
        ch = rng.integers(0, len(INGEST_CHANNELS), size=n)
        t = pa.table(
            {
                "ts": pa.array(ts, type=pa.int64()).cast(TS_UTC),
                "source": pa.array(np.where(ch % 2 == 0, "edd0", "edd1").astype(object)),
                "channel": pa.array(np.array(INGEST_CHANNELS, dtype=object)[ch]),
                "value": pa.array(np.round(rng.uniform(0, 500, size=n), 2)),
            },
            schema=INGEST_SCHEMA,
        )
        _write(t, os.path.join(bdir, f"b{b:05d}.parquet"))

    # Amend phase: a base events store over six days and disjoint
    # correction rounds. Each round corrects late readings of one day
    # and moves one in five of them to the next day, so amend's
    # cross-day resolution is exercised and two days are rewritten.
    days = 6
    base = events_table(rng, s.amend_rows, INGEST_CHANNELS[:8], JAN_LO_US, JAN_LO_US + days * DAY_US)
    _write(base, os.path.join(out, "amend_base.parquet"))
    ts_all = base.column("ts").cast(pa.int64()).to_numpy()
    day_of = (ts_all - JAN_LO_US) // DAY_US
    used = np.zeros(s.amend_rows, dtype=bool)
    for r in range(s.amend_rounds):
        free = np.flatnonzero((day_of == r % (days - 1)) & ~used)
        pick = np.sort(rng.choice(free, size=s.amend_corrections, replace=False))
        used[pick] = True
        rows = base.take(pa.array(pick))
        ts = ts_all[pick].copy()
        move = rng.random(len(pick)) < 0.2
        ts[move] = np.minimum(ts[move] + DAY_US, JAN_LO_US + days * DAY_US - 1)
        corr = rows.set_column(1, "ts", pa.array(ts, type=pa.int64()).cast(TS_UTC))
        corr = corr.set_column(
            4, "value", pa.array(np.round(rng.uniform(1000, 2000, size=len(pick)), 2))
        )
        _write(corr, os.path.join(out, f"amend_round{r:02d}.parquet"))
    return {"batches": s.ingest_batches, "rows": s.ingest_batches * s.ingest_rows_per_batch}


GENERATORS = {"query": gen_query, "ingest": gen_ingest}


def generate(name: str, seed: int, size: str, cache: str) -> tuple[str, dict]:
    """Return ``(dir, info)`` for dataset ``name``, generating it into
    the cache unless a complete copy is already there."""
    out = os.path.join(cache, f"{name}-{size}-s{seed}-v{FORMAT}")
    done = os.path.join(out, "_info.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # Each dataset draws from its own stream, so adding one never
    # changes the bytes of another for the same seed.
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    info = GENERATORS[name](rng, SIZES[size], tmp)
    with open(os.path.join(tmp, "_info.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, info
