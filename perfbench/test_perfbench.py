"""Fast tests of the benchmark itself, at tiny size and without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from harness import Call, Span  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("cache"))
    return {n: gen.generate(n, 3, "tiny", cache) for n in gen.GENERATORS}


# ------------------------------------------------------------ generator

@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generator_is_deterministic_for_a_seed(tmp_path, name):
    a, _ = gen.generate(name, 11, "tiny", str(tmp_path / "a"))
    b, _ = gen.generate(name, 11, "tiny", str(tmp_path / "b"))
    c, _ = gen.generate(name, 12, "tiny", str(tmp_path / "c"))
    files = sorted(
        os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs
    )
    assert files
    for f in files:
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f
    assert any(
        not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
        for f in files if f.endswith(".parquet")
    )


def test_generated_timestamps_are_utc_adjusted(data):
    d, _ = data["query"]
    assert pq.read_schema(os.path.join(d, "events.parquet")).field("ts").type.tz == "UTC"


# --------------------------------------------------------------- checks

def _show(cols, rows) -> str:
    def cell(v):
        return "NULL" if v is None else str(v)

    lines = ["|" + "|".join(cols) + "|"] + ["|" + "|".join(cell(v) for v in r) + "|" for r in rows]
    return "\n".join(["+--+"] + lines[:1] + ["+--+"] + lines[1:] + ["+--+"])


@pytest.fixture(scope="module")
def qcon(data):
    d, _ = data["query"]
    return checks.duck({"events": os.path.join(d, "events.parquet")})


QP = {"start": "2024-01-03 00:00:00", "end": "2024-01-12 00:00:00", "channels": ["click", "view"]}


def test_cli_query_check_catches_a_wrong_value(qcon):
    rows = qcon.execute(
        f"""SELECT event_type, count(value), min(value), max(value), avg(value), sum(value) FROM events
            WHERE ts BETWEEN TIMESTAMP '{QP['start']}' AND TIMESTAMP '{QP['end']}'
              AND event_type IN ('click', 'view') GROUP BY 1"""
    ).fetchall()
    cols = ["event_type", "n", "min_value", "max_value", "avg_value", "total_value"]
    assert checks.check_cli_query(qcon, _show(cols, rows), QP) is None
    bad = [list(r) for r in rows]
    bad[0][5] += 0.01
    assert checks.check_cli_query(qcon, _show(cols, bad), QP) is not None


def test_cli_dump_check_catches_a_wrong_row(qcon):
    p = {**QP, "limit": 5}
    ids = [r[0] for r in qcon.execute(
        f"SELECT event_id FROM events WHERE ts >= TIMESTAMP '{p['start']}' ORDER BY ts LIMIT 5").fetchall()]
    assert checks.check_cli_dump(qcon, _show(["event_id"], [[i] for i in ids]), p) is None
    assert checks.check_cli_dump(qcon, _show(["event_id"], [[i + 1] for i in ids]), p) is not None


def test_cli_fetch_check_catches_a_wrong_bucket(qcon):
    p = {"start": QP["start"], "end": QP["end"], "width": 86400}
    rows = qcon.execute(
        f"""SELECT event_type, (epoch_us(ts) // 86400000000) * 86400000000, count(value),
                   round(sum(value) / count(value), 6), min(value), max(value)
            FROM events WHERE ts >= TIMESTAMP '{p['start']}' AND ts < TIMESTAMP '{p['end']}' GROUP BY 1, 2"""
    ).fetchall()
    cols = ["event_type", "bucket_us", "n", "avg_v", "min_v", "max_v"]
    assert checks.check_cli_fetch(qcon, _show(cols, rows), p) is None
    # a wrong count, a wrong sum (so a wrong average) and a missing
    # average column each fail
    for col, delta in ((2, 1), (3, 0.01)):
        bad = [list(r) for r in rows]
        bad[-1][col] += delta
        assert checks.check_cli_fetch(qcon, _show(cols, bad), p) is not None
    no_avg = [r[:3] + r[4:] for r in rows]
    assert checks.check_cli_fetch(qcon, _show(cols[:3] + cols[4:], no_avg), p) is not None


def test_oracle_check_catches_a_planted_error(qcon):
    sql = "SELECT event_type, count(*) AS n FROM events GROUP BY 1"
    rows = qcon.execute(sql).fetchall()
    assert checks.check_oracle(qcon, rows, ["event_type", "n"], sql) is None
    assert checks.check_oracle(qcon, [(c, n + 1) for c, n in rows], ["event_type", "n"], sql) is not None


def test_ingest_checks_catch_duplicates_and_lost_corrections(data, tmp_path):
    d, _ = data["ingest"]
    con = checks.duck({})
    batches = sorted(os.path.join(d, "batches", f) for f in os.listdir(os.path.join(d, "batches")))[:3]
    sink = tmp_path / "sink" / "dt=2024-01-01"
    sink.mkdir(parents=True)
    for i, f in enumerate(batches):
        pq.write_table(pq.read_table(f), sink / f"part{i}.parquet")
    glob_ = str(tmp_path / "sink" / "**" / "*.parquet")
    assert checks.check_ingest_sink(con, glob_, batches) is None
    pq.write_table(pq.read_table(batches[0]).slice(0, 1), sink / "dup.parquet")
    assert checks.check_ingest_sink(con, glob_, batches) is not None

    base = os.path.join(d, "amend_base.parquet")
    corr = os.path.join(d, "amend_round00.parquet")
    store = tmp_path / "store"
    store.mkdir()
    b, c = pq.read_table(base), pq.read_table(corr)
    keep = pc.invert(pc.is_in(b.column("event_id"), value_set=c.column("event_id")))
    pq.write_table(pa.concat_tables([b.filter(keep), c]), store / "part.parquet")
    sglob = str(store / "*.parquet")
    assert checks.check_amended(con, sglob, base, [corr]) is None
    pq.write_table(b, store / "part.parquet")
    assert checks.check_amended(con, sglob, base, [corr]) is not None


def test_refresh_check_catches_a_stale_bucket(data, tmp_path):
    d, _ = data["query"]
    con = checks.duck({})
    src = os.path.join(d, "events.parquet")
    sink = tmp_path / "sink" / "dt=2024-01-02"
    sink.mkdir(parents=True)
    tier = con.execute(
        f"""SELECT event_type, make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS bucket_ts,
                   count(value) AS n, sum(value) AS sum_value, min(value) AS min_value, max(value) AS max_value
            FROM read_parquet('{src}') WHERE CAST(ts AS DATE) = DATE '2024-01-02' GROUP BY 1, 2"""
    ).arrow()
    pq.write_table(tier, sink / "part.parquet")
    glob_ = str(tmp_path / "sink" / "**" / "*.parquet")
    assert checks.check_refreshed(con, src, glob_, ["2024-01-02"], 60) is None
    pq.write_table(tier.slice(1), sink / "part.parquet")
    assert checks.check_refreshed(con, src, glob_, ["2024-01-02"], 60) is not None


# -------------------------------------------------------------- metrics

def _fake_run(name: str):
    calls, spans = [], []
    kinds = list(workloads.WORKLOADS[name].PASS_MIX)
    for i in range(2 * len(kinds)):
        c = Call(kinds[i % len(kinds)], f"call{i}", float(i), float(i) + 0.5 + 0.01 * i, rows=100,
                 traced=i < len(kinds))
        calls.append(c)
        spans.append(Span(len(spans), c.kind, None, i, c.start, c.group, c.end))
        spans.append(Span(len(spans), "cli.query", spans[-1].sid, i, c.start + 0.1, f"span{len(spans)}", c.end))
    rec = SimpleNamespace(calls=calls, spans=spans, tracer_s=0.001)
    rec.self_times = lambda: {s.sid: (s.end - s.start) for s in spans}
    wl = SimpleNamespace(name=name, PASS_MIX=workloads.WORKLOADS[name].PASS_MIX, amend_s=[1.0, 1.2],
                         stored_bytes_per_row=lambda: 30.0)
    return wl, rec


@pytest.mark.parametrize("name", ["interactive_query", "ingest_amend"])
def test_every_metric_in_benchmark_json_is_printed_with_its_unit(name):
    wl, rec = _fake_run(name)
    acc = {c.group: {"cpu_s": 1.5, "shuffle_mb": 0.5} for c in rec.calls}
    e2e = metrics._end_to_end(wl, rec, acc, 10.0, 2.0, 900.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    layer = metrics._per_layer(wl, rec, {}, 8.0)
    assert set(layer) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert m["unit"], m


def test_per_pass_figures_follow_the_pass_mix():
    wl, rec = _fake_run("ingest_amend")
    acc = {c.group: {"cpu_s": 1.0 if c.kind == "streaming.ingest.commit" else 2.0} for c in rec.calls}
    e2e = metrics._end_to_end(wl, rec, acc, 10.0, 2.0, 900.0)
    assert e2e["executor_cpu_s"] == pytest.approx(gen.BATCHES_PER_DAY * 1.0 + 2.0 + 2.0)
    # ingest throughput counts compaction in the commit phase's wall
    commits = [c for c in rec.calls if c.kind == "streaming.ingest.commit"]
    phase = [c for c in rec.calls if c.kind != "sources.store.amend_refresh"]
    assert e2e["ingest_rows_per_s"] == pytest.approx(
        sum(c.rows for c in commits) / sum(c.end - c.start for c in phase))


@pytest.mark.parametrize("step_s, made, short", [(0.3, 4, False), (0.7, 3, True)])
def test_repeat_makes_the_work_its_seconds_hold(monkeypatch, step_s, made, short):
    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])

    def step(i):
        clock[0] += step_s

    # 1 s at a nominal 0.25 s a step asks for four steps, whatever the
    # steps take, but stops once twice that time is spent
    assert workloads._repeat(1.0, 0.25, step, limit=100) == (made, short)
    # the inputs' limit cuts the count
    assert workloads._repeat(1.0, 0.25, step, limit=2) == (2, True)
    assert workloads._repeat(0.01, 0.25, step, limit=100)[0] == 1
