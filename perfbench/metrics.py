"""Turn a finished run into the end-to-end or per-layer metrics.

The end-to-end names are shared by all workloads (the result line must
carry every one). Each workload's native metric is the one the name
describes; on the other workloads the same name reports the analogous
figure, listed in README.md.
"""

from __future__ import annotations

import os

from harness import group_accounting, layer_of, median, peak_rss_mb, pct, total

# The call kinds whose latency is each workload's request latency. On
# interactive_query that is cli query, the reference's main verb: its
# latency sits above the other verbs', and the median of the mixture
# fell now among them, now among the queries, which added about 10% of
# spread between runs.
REQUEST_KINDS = {
    "interactive_query": ("request.query",),
    "ingest_amend": ("streaming.ingest.commit",),
}


def _requests(name: str, calls):
    return [c for c in calls if c.kind in REQUEST_KINDS[name]]


def _call_groups(rec, call) -> list[str]:
    idx = int(call.group[4:])
    return [call.group] + [s.group for s in rec.spans if s.request == idx and s.group != call.group]


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def collect(spec, args, wl, ctx, *, session_s, session_start_s, setup_s, passes) -> dict:
    rec, spark = ctx.rec, ctx.spark
    acc = group_accounting(spark, scans=bool(args.trace))
    rss = peak_rss_mb([os.getpid(), _jvm_pid(spark)])
    calls = rec.calls
    attempted = len(calls) + ctx.extra_checks
    failed = sum(c.failed for c in calls) + sum(1 for k, _ in ctx.failures if k == "end")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "passes": passes,
        "capped": wl.capped,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "failed_frac": failed / attempted,
        "failed_checks": ctx.failures[:20],
    }
    if args.trace:
        values = _per_layer(wl, rec, acc, session_start_s)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = _end_to_end(wl, rec, acc, session_s, setup_s, rss)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        kinds = sorted({c.kind for c in calls})
        record["samples"] = {k: sum(1 for c in calls if c.kind == k) for k in kinds}
        record["call_ms_median"] = {k: median([c.ms for c in calls if c.kind == k]) for k in kinds}
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    record["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in sorted(units)}
    return record


def _per_pass(wl, calls, value) -> float:
    """One pass's total of ``value``: per call kind, its mean over the
    run's calls times the kind's calls per pass, so the figure does not
    depend on how many passes fit in the run."""
    out = 0.0
    for kind, k in wl.PASS_MIX.items():
        v = [value(c) for c in calls if c.kind == kind]
        out += k * sum(v) / len(v)
    return out


def _end_to_end(wl, rec, acc, session_s, setup_s, rss) -> dict:
    calls = rec.calls
    reqs = _requests(wl.name, calls)
    ms = [c.ms for c in reqs]
    per_call = {c.group: total(acc, _call_groups(rec, c)) for c in calls}
    if wl.name == "ingest_amend":
        # rows committed over the commit phase's wall, compaction included
        phase = [c for c in calls if c.kind in ("streaming.ingest.commit", "streaming.ingest.compact")]
        rows_per_s = sum(c.rows for c in reqs) / sum(c.end - c.start for c in phase)
        amend_s = median(wl.amend_s)
    else:
        rows_per_s = sum(c.rows for c in reqs) / sum(c.end - c.start for c in reqs)
        # the wall of one pass
        amend_s = _per_pass(wl, calls, lambda c: c.end - c.start)
    p50, p90 = pct(ms, 50), pct(ms, 90)
    return {
        "setup_s": session_s + setup_s,
        "peak_rss_mb": rss,
        "executor_cpu_s": _per_pass(wl, calls, lambda c: per_call[c.group].get("cpu_s", 0.0)),
        "shuffle_mb": _per_pass(wl, calls, lambda c: per_call[c.group].get("shuffle_mb", 0.0)),
        "query_p50_ms": p50,
        "query_p90_ms": p90,
        "commit_p50_ms": p50,
        "commit_p90_ms": p90,
        "ingest_rows_per_s": rows_per_s,
        "amend_s": amend_s,
        "bytes_per_row": wl.stored_bytes_per_row(),
    }


def _per_layer(wl, rec, acc, session_start_s) -> dict:
    spans = [s for s in rec.spans if s.request is not None]
    selfs = rec.self_times()

    def dur(name, unit=1e3, pool=spans):
        v = [(s.end - s.start) * unit for s in pool if s.name == name]
        return median(v) if v else 0.0

    def count(key):
        v = [s.counts[key] for s in spans if key in s.counts]
        return median(v) if v else 0.0

    traced = [c for c in rec.calls if c.traced]
    out = {"session.start_ms": session_start_s * 1e3}
    for verb in ("query", "fetch", "dump"):
        out[f"cli.{verb}.ms"] = dur(f"cli.{verb}")
    q = [c for c in traced if c.kind == "request.query"]
    out["cli.jobs_per_request"] = (
        sum(total(acc, _call_groups(rec, c)).get("jobs", 0) for c in q) / len(q) if q else 0.0
    )
    out["timeparse.resolve_range.us"] = dur("timeparse.resolve_range", 1e6)
    out["plans.build_ms"] = dur("plans.build")
    out["plans.exec_ms"] = dur("plans.exec")
    out["spark.planning_ms"] = count("planning_ms")
    out["spark.codegen_compiles"] = count("codegen_compiles")
    out["spark.codegen_ms"] = count("codegen_ms")
    # loads and store creation also run in set-up, outside any call
    out["sources.store.load_ms"] = dur("sources.store.load", pool=rec.spans)
    scan = [total(acc, _call_groups(rec, c)) for c in traced]
    out["sources.store.files_scanned"] = (
        sum(a.get("files_read", 0) for a in scan) / len(scan) if scan else 0.0
    )
    in_range = sum(c.rows for c in q)
    out["sources.store.rows_scanned_per_row_in_range"] = (
        sum(total(acc, _call_groups(rec, c)).get("rows_scanned", 0) for c in q) / in_range if in_range else 0.0
    )
    out["sources.store.create_ms"] = dur("sources.store.create", pool=rec.spans)
    out["sources.store.amend_ms"] = dur("sources.store.amend_events")
    rw = getattr(wl, "rewritten", [])
    out["sources.store.partitions_rewritten"] = sum(r[0] for r in rw) / len(rw) if rw else 0.0
    out["sources.store.bytes_rewritten_per_amended_row"] = (
        sum(r[2] for r in rw) / sum(r[1] for r in rw) if rw else 0.0
    )
    out["streaming.ingest.commit_ms"] = dur("streaming.ingest.write_ingest_epoch")
    fpc = getattr(wl, "files_per_commit", [])
    out["streaming.ingest.files_per_commit"] = sum(fpc) / len(fpc) if fpc else 0.0
    out["streaming.ingest.compact_ms"] = dur("streaming.ingest.compact_ingest_partition")
    cb = getattr(wl, "compact_bytes", [])
    out["streaming.ingest.compact_bytes_rewritten_per_row"] = median(cb) if cb else 0.0
    out["streaming.ingest.refresh_downsample_ms"] = dur("streaming.ingest.refresh_downsample")
    layers: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        layers[layer] = layers.get(layer, 0.0) + selfs[s.sid]
    for layer in ("bench", "cli", "timeparse", "plans", "sources.store", "streaming.ingest", "operators"):
        out[f"{layer}.self_ms"] = layers.get(layer, 0.0) * 1e3 / max(1, len(traced))
    out["trace.tracer_ms_per_call"] = rec.tracer_s * 1e3 / max(1, len(traced))
    # traced vs untraced, kind by kind, over the kinds that have both;
    # the first call of each kind is always traced and runs colder, so
    # it is left out
    first = {}
    for c in rec.calls:
        first.setdefault(c.kind, c)
    later = [c for c in rec.calls if first[c.kind] is not c]
    kinds = sorted({c.kind for c in later if c.traced} & {c.kind for c in later if not c.traced})
    t_ms = sum(median([c.ms for c in later if c.kind == k and c.traced]) for k in kinds)
    p_ms = sum(median([c.ms for c in later if c.kind == k and not c.traced]) for k in kinds)
    out["trace.overhead_pct"] = (t_ms - p_ms) / p_ms * 100.0 if kinds else 0.0
    return out
