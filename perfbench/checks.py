"""Output checks, run outside every timed call.

Each check returns ``None`` when the output is right and a one-line
reason when it is wrong; the run counts a call as failed when any of
its checks fails. References are independent of the engine: DuckDB on
the same generated parquet, reusing the catalog's own oracle SQL for
catalog entries, and the generator's own files for what was ingested.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-6


def duck(views: dict[str, str]):
    """A DuckDB connection in UTC with one view per parquet path. The
    generated files carry UTC-adjusted timestamps; the views expose
    them as naive UTC TIMESTAMPs, the shape the catalog's oracle SQL
    was written against."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, path in views.items():
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
        fix = " REPLACE (make_timestamp(epoch_us(ts)) AS ts)" if "ts" in cols else ""
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT *{fix} FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return round(v.timestamp() * 1e6)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return tuple((v is None, repr(v) if not isinstance(v, (int, float)) else v) for v in row)


def rows_match(got, want, cols_got=None, cols_want=None) -> str | None:
    """Compare two row sets (order-free, floats by tolerance). Columns
    are matched by name when both name lists are given."""
    if cols_got is not None and cols_want is not None:
        if sorted(cols_got) != sorted(cols_want):
            return f"columns {sorted(cols_got)} != {sorted(cols_want)}"
        order = [cols_got.index(c) for c in cols_want]
        got = [tuple(r[i] for i in order) for r in got]
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)} expected"
    for a, b in zip(g, w):
        if not _close(a, b):
            return f"row {a} != expected {b}"
    return None


def parse_show(text: str) -> tuple[list[str], list[list[str | None]]]:
    """Parse the table ``DataFrame.show(truncate=False)`` prints."""
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    if not lines:
        return [], []
    cells = [[c.strip() for c in ln.strip("|").split("|")] for ln in lines]
    rows = [[None if c == "NULL" else c for c in r] for r in cells[1:]]
    return cells[0], rows


def _num(s):
    return None if s is None else float(s)


# ------------------------------------------------------- interactive

def check_cli_query(con, out: str, p: dict) -> str | None:
    cols, rows = parse_show(out)
    want_cols = ["event_type", "n", "min_value", "max_value", "avg_value", "total_value"]
    if cols != want_cols:
        return f"cli query printed columns {cols}"
    got = [(r[0], *(_num(x) for x in r[1:])) for r in rows]
    chans = ",".join(f"'{c}'" for c in p["channels"])
    want = con.execute(
        f"""SELECT event_type, count(value), min(value), max(value), avg(value), sum(value)
            FROM events WHERE ts >= TIMESTAMP '{p['start']}' AND ts <= TIMESTAMP '{p['end']}'
              AND event_type IN ({chans}) GROUP BY 1"""
    ).fetchall()
    return rows_match(got, want)


def rows_in_range(con, p: dict) -> int:
    where = f"ts >= TIMESTAMP '{p['start']}' AND ts <= TIMESTAMP '{p['end']}'"
    if p.get("channels"):
        where += " AND event_type IN (" + ",".join(f"'{c}'" for c in p["channels"]) + ")"
    return con.execute(f"SELECT count(*) FROM events WHERE {where}").fetchone()[0]


def check_cli_fetch(con, out: str, p: dict) -> str | None:
    """Each printed bucket's count, average (the tier's exact sum over
    the count, rounded to 6 places), min and max against DuckDB."""
    cols, rows = parse_show(out)
    named = {pre: next((i for i, c in enumerate(cols) if c.startswith(pre)), None)
             for pre in ("bucket", "avg", "min", "max")}
    if "event_type" not in cols or "n" not in cols or None in named.values():
        return f"cli fetch printed columns {cols}"
    w = p["width"] * 1_000_000
    ref = con.execute(
        f"""SELECT event_type, (epoch_us(ts) // {w}) * {w} AS b, count(value) AS n,
                   sum(value) / count(value) AS avg, min(value) AS mn, max(value) AS mx
            FROM events WHERE ts >= TIMESTAMP '{p['start']}' AND ts < TIMESTAMP '{p['end']}'
            GROUP BY 1, 2 HAVING count(value) > 0"""
    ).fetchall()
    want = {(r[0], r[1]): r[2:] for r in ref}
    got = {}
    i_ch, i_n = cols.index("event_type"), cols.index("n")
    for r in rows:
        b = r[named["bucket"]]
        b = int(b) if b.lstrip("-").isdigit() else round(
            _dt.datetime.fromisoformat(b).replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6
        )
        got[(r[i_ch], b)] = (int(r[i_n]), *(_num(r[named[k]]) for k in ("avg", "min", "max")))
    if set(got) != set(want):
        return f"fetch buckets differ: {len(got)} printed, {len(want)} expected"
    for k, v in got.items():
        if not _close(v, tuple(want[k])):
            return f"fetch bucket {k}: (n, avg, min, max) {v} != {want[k]}"
    return None


def check_cli_dump(con, out: str, p: dict) -> str | None:
    cols, rows = parse_show(out)
    if "event_id" not in cols:
        return f"cli dump printed columns {cols}"
    got = sorted(int(r[cols.index("event_id")]) for r in rows)
    want = sorted(
        r[0]
        for r in con.execute(
            f"""SELECT event_id FROM events
                WHERE ts >= TIMESTAMP '{p['start']}' AND ts <= TIMESTAMP '{p['end']}'
                ORDER BY ts LIMIT {p['limit']}"""
        ).fetchall()
    )
    return None if got == want else f"dump ids {got[:5]}... != {want[:5]}..."


def check_oracle(con, rows, cols, oracle_sql: str) -> str | None:
    res = con.execute(oracle_sql)
    return rows_match(rows, res.fetchall(), cols, [d[0] for d in res.description])


# ------------------------------------------------------------- ingest

def check_ingest_sink(con, raw_glob: str, batch_files: list[str]) -> str | None:
    """Every committed row is in the sink exactly once: per-channel
    count and sum equal the committed batches'."""
    files = ",".join(f"'{f}'" for f in batch_files)
    want = con.execute(
        f"SELECT channel, count(*), sum(value) FROM read_parquet([{files}]) GROUP BY 1"
    ).fetchall()
    got = con.execute(
        f"SELECT channel, count(*), sum(value) FROM read_parquet('{raw_glob}', hive_partitioning=true) GROUP BY 1"
    ).fetchall()
    return rows_match(got, want)


def check_amended(con, store_glob: str, base: str, corrections: list[str]) -> str | None:
    """The amended store holds every base key once, corrected keys
    carry the correction's ts and value."""
    files = ",".join(f"'{f}'" for f in corrections)
    got = con.execute(
        f"""WITH s AS (SELECT event_id, epoch_us(ts) AS t, value FROM read_parquet('{store_glob}', hive_partitioning=true)),
                 c AS (SELECT event_id, epoch_us(ts) AS t, value FROM read_parquet([{files}]))
            SELECT (SELECT count(*) FROM s), (SELECT count(DISTINCT event_id) FROM s),
                   (SELECT count(*) FROM read_parquet('{base}')),
                   (SELECT count(*) FROM c JOIN s USING (event_id) WHERE c.t = s.t AND c.value = s.value),
                   (SELECT count(*) FROM c)"""
    ).fetchone()
    n, n_keys, n_base, n_won, n_corr = got
    if n != n_base or n_keys != n_base:
        return f"amended store has {n} rows / {n_keys} keys, base had {n_base}"
    if n_won != n_corr:
        return f"{n_corr - n_won} of {n_corr} corrections did not win"
    return None


def check_refreshed(con, store_glob: str, sink_glob: str, days: list[str], width: int) -> str | None:
    """Refreshed tier days equal a re-aggregation of the raw store."""
    w = width * 1_000_000
    dl = ",".join(f"DATE '{d}'" for d in days)
    want = con.execute(
        f"""SELECT event_type, (epoch_us(ts) // {w}) * {w}, count(value), sum(value), min(value), max(value)
            FROM read_parquet('{store_glob}', hive_partitioning=true)
            WHERE CAST(make_timestamp((epoch_us(ts) // {w}) * {w}) AS DATE) IN ({dl}) GROUP BY 1, 2"""
    ).fetchall()
    got = con.execute(
        f"""SELECT event_type, epoch_us(bucket_ts), n, sum_value, min_value, max_value
            FROM read_parquet('{sink_glob}', hive_partitioning=true)
            WHERE CAST(dt AS DATE) IN ({dl})"""
    ).fetchall()
    return rows_match(got, want)
