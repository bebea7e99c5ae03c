"""Per-layer metrics of a traced run, derived from the spans, the Spark
profiles and the client log. Every metric is reported on every workload;
a layer that a workload does not exercise reads 0."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench.stats import geomean, median, pct
from perfbench.trace import covered, self_by_layer, self_times

UNITS = {
    "lineproto.parse_us_per_line": "us",
    "lineproto.batches_per_body": "count",
    "lineproto.escaped_line_share": "ratio",
    "catalog.validate_us_per_batch": "us",
    "ingest.store_us_per_row": "us",
    "ingest.flush_ms": "ms",
    "ingest.rows_per_flush": "count",
    "ingest.timer_wait_ms": "ms",
    "ingest.failed_flushes": "count",
    "writer.write_ms_per_flush": "ms",
    "writer.files_per_flush": "count",
    "writer.l1_bytes_per_row": "B/row",
    "index.save_ms": "ms",
    "index.loads_per_query": "count",
    "index.load_ms_per_query": "ms",
    "compactor.busy_s": "s",
    "compactor.runs": "count",
    "compactor.rewrite_amp": "ratio",
    "compactor.live_files_per_partition": "count",
    "query.sql_ms": "ms",
    "query.sql_ms.recent": "ms",
    "query.sql_ms.range": "ms",
    "query.sql_ms.scan": "ms",
    "query.sql_ms.repeat": "ms",
    "query.bounds_ms": "ms",
    "query.files_kept_ratio": "ratio",
    "query.plan_cache_hit_ratio": "ratio",
    "query.plan_cache_hit_ratio.recent": "ratio",
    "query.plan_cache_hit_ratio.range": "ratio",
    "query.plan_cache_hit_ratio.scan": "ratio",
    "query.plan_cache_hit_ratio.repeat": "ratio",
    "query.exec_ms": "ms",
    "api.self_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.planning_ms": "ms",
    "spark.scan_ms": "ms",
    "spark.shuffle_write_ms": "ms",
    "spark.agg_ms": "ms",
    "spark.python_ms": "ms",
    "spark.floor_ms": "ms",
    "suite.sql_surface_s": "s",
    "suite.llm_ops_s": "s",
    "suite.curation_s": "s",
    "suite.timeseries_s": "s",
    "suite.dataflow_s": "s",
    "suite.build_ms": "ms",
    "suite.action_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.uncovered_share": "ratio",
    "loadgen.write_lag_ms": "ms",
    "loadgen.late_sends": "count",
    "host.kernel_ms": "ms",
}

_SPARK_KEYS = ("planning_ms", "scan_ms", "shuffle_write_ms", "agg_ms", "python_ms")
# a send later than this counts as the generator falling behind
LATE_MS = 50.0


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _dur(sp) -> float:
    return sp[4] - sp[3]


def _attr(sp, key, default=0):
    return (sp[6] or {}).get(key, default)


def _spark(profiles) -> dict[str, float]:
    """Per-operation means: most gates run no Python stage, so a median
    would hide the ones that do."""
    ok = [p for p in profiles if "error" not in p]
    out = {f"spark.{k}": _mean(p[k] for p in ok) for k in _SPARK_KEYS}
    out["spark.jobs_per_query"] = _mean(p.get("jobs", 0) for p in ok)
    return out


def _common(context: dict) -> dict[str, float]:
    floors = [context.get("spark.floor_ms_start"), context.get("spark.floor_ms_end")]
    return {
        "spark.floor_ms": _mean(f for f in floors if f is not None),
        "host.kernel_ms": _mean([context["host.kernel_ms_start"], context["host.kernel_ms_end"]]),
    }


def self_seconds(res: dict) -> dict[str, float]:
    """Summed self time (s) per layer: from the engine's spans (serving),
    or the gates' build and action times (gate_suite)."""
    if "gates" in res:
        gates = [g for g in res["gates"].values() if g["ok"]]
        return {f"suite.{k}": sum(g[f"{k}_ms"] for g in gates) / 1e3 for k in ("build", "action")}
    return self_by_layer(res["engine"].get("spans", []))


def derive(workload: str, res: dict, context: dict) -> dict[str, float]:
    out = {k: 0.0 for k in UNITS}
    out.update(_common(context))
    if workload == "gate_suite":
        out.update(_suite(res))
    else:
        out.update(_serving(res))
    return out


def _suite(res: dict) -> dict[str, float]:
    gates = [g for g in res["gates"].values() if g["ok"]]
    out = {f"suite.{fam}_s": res["report"][f"{fam}_s"][0] for fam in
           ("sql_surface", "llm_ops", "curation", "timeseries", "dataflow")}
    out["suite.build_ms"] = _med(g["build_ms"] for g in gates)
    out["suite.action_ms"] = _med(g["action_ms"] for g in gates)
    out.update(_spark(g["spark"] for g in gates if "spark" in g))
    # trace.overhead_pct and trace.uncovered_share do not apply: a traced
    # gate_suite run wraps nothing inside the timed windows (Spark profiles
    # are read after each gate's action), so both read 0
    return out


def _serving(res: dict) -> dict[str, float]:
    eng, log = res["engine"], res["log"]
    spans = eng.get("spans", [])
    t_run = min((o["start"] for o in log.ops if o["phase"] != "warmup"), default=0.0)
    run_spans = [s for s in spans if s[3] >= t_run]
    by = defaultdict(list)
    for s in run_spans:
        by[s[2]].append(s)
    st = self_times(spans)
    out: dict[str, float] = {}

    parse = by["lineproto.parse_lines"]
    lines = sum(_attr(s, "lines") for s in parse)
    out["lineproto.parse_us_per_line"] = (
        sum(st[s[0]] for s in parse) / lines * 1e6 if lines else 0.0)
    out["lineproto.batches_per_body"] = _mean(_attr(s, "batches") for s in parse)
    out["lineproto.escaped_line_share"] = res["input"]["escaped_line_share"]
    out["catalog.validate_us_per_batch"] = _mean(
        _dur(s) * 1e6 for s in by["catalog.validate_schema"])

    stores = by["ingest.store"]
    rows = sum(_attr(s, "rows") for s in stores)
    out["ingest.store_us_per_row"] = sum(st[s[0]] for s in stores) / rows * 1e6 if rows else 0.0
    flushes = [s for s in by["ingest.flush"] if _attr(s, "rows")]
    out["ingest.flush_ms"] = _med(_dur(s) * 1e3 for s in flushes)
    out["ingest.rows_per_flush"] = _mean(_attr(s, "rows") for s in flushes)
    writes = by["writer.write_columnar"]
    out["ingest.failed_flushes"] = float(sum(1 for s in writes if _attr(s, "error", None)))
    out["writer.write_ms_per_flush"] = _med(_dur(s) * 1e3 for s in writes)
    out["writer.files_per_flush"] = _mean(_attr(s, "files") for s in writes)
    w_rows = sum(_attr(s, "rows") for s in writes)
    w_bytes = sum(_attr(s, "bytes") for s in writes)
    out["writer.l1_bytes_per_row"] = w_bytes / w_rows if w_rows else 0.0
    out["index.save_ms"] = _med(_dur(s) * 1e3 for s in by["index.save"])

    merges = by["compactor.merge"]
    out["compactor.busy_s"] = sum(_dur(s) for s in by["compactor.run_once"])
    out["compactor.runs"] = float(len(merges))
    out["compactor.rewrite_amp"] = (
        sum(_attr(s, "bytes_in") for s in merges) / w_bytes if w_bytes else 0.0)
    live = res["live_files"]
    parts = {os.path.dirname(p) for p in live}
    out["compactor.live_files_per_partition"] = len(live) / len(parts) if parts else 0.0

    # per request: spans sharing the client's request id
    by_req = defaultdict(list)
    for s in run_spans:
        if s[5]:
            by_req[s[5]].append(s)
    queries = [o for o in log.ops if o["kind"] == "query" and o["phase"] == "panels"
               and o["ok"] and o["traced"] and by_req.get(o["req"])]
    q_spans = [s for o in queries for s in by_req[o["req"]]]
    loads = [s for s in q_spans if s[2] == "index.load"]
    out["index.loads_per_query"] = len(loads) / len(queries) if queries else 0.0
    out["index.load_ms_per_query"] = (
        sum(_dur(s) for s in loads) * 1e3 / len(queries) if queries else 0.0)
    sqls = [s for s in q_spans if s[2] == "query.sql"]
    out["query.sql_ms"] = _med(_dur(s) * 1e3 for s in sqls)
    for cls in ("recent", "range", "scan", "repeat"):
        cls_sqls = [s for o in queries if o["cls"] == cls
                    for s in by_req[o["req"]] if s[2] == "query.sql"]
        out[f"query.sql_ms.{cls}"] = _med(_dur(s) * 1e3 for s in cls_sqls)
        out[f"query.plan_cache_hit_ratio.{cls}"] = _mean(
            1.0 if _attr(s, "hit", False) else 0.0 for s in cls_sqls)
    out["query.bounds_ms"] = _med(_dur(s) * 1e3 for s in q_spans if s[2] == "query.bounds")
    tf = [s for s in q_spans if s[2] == "query.table_files"]
    total = sum(_attr(s, "total") for s in tf)
    out["query.files_kept_ratio"] = sum(_attr(s, "kept") for s in tf) / total if total else 0.0
    out["query.plan_cache_hit_ratio"] = _mean(1.0 if _attr(s, "hit", False) else 0.0 for s in sqls)
    out["query.exec_ms"] = _med(_dur(s) * 1e3 for s in q_spans if s[2] == "query.exec")

    inner, uncovered = [], []
    for o in queries:
        sp = by_req[o["req"]]
        lat = o["end"] - o["start"]
        layer = [(s[3], s[4]) for s in sp if s[2] != "api.request"]
        inner.append((lat - covered(o["start"], o["end"], layer)) * 1e3)
        uncovered.append(1.0 - covered(o["start"], o["end"], [(s[3], s[4]) for s in sp]) / lat)
    out["api.self_ms"] = _med(inner)
    out["trace.uncovered_share"] = _med(uncovered)
    profiles = eng.get("profiles", {})
    out.update(_spark(profiles[o["req"]] for o in queries if o["req"] in profiles))

    steady = [o for o in log.ops if o["phase"] == "steady" and o["ok"]]
    acks = [o for o in steady if o["traced"] and by_req.get(o["req"])]
    waits = []
    for o in acks:
        parse_s = sum(_dur(s) for s in by_req[o["req"]] if s[2] == "ingest.ingest_lines")
        waits.append((o["end"] - o["due"] - parse_s) * 1e3 - out["ingest.flush_ms"])
    out["ingest.timer_wait_ms"] = _med(waits)

    # traced against untraced seconds of the same run, class by class (the
    # halves do not hold the same mix of panel classes)
    ratios = []
    for cls in ("recent", "range", "scan", "repeat"):
        on, off = ([(o["end"] - o["start"]) for o in log.ops if o["kind"] == "query"
                    and o["phase"] == "panels" and o["ok"] and o["cls"] == cls
                    and o["traced"] == traced] for traced in (True, False))
        if on and off:
            ratios.append(median(on) / median(off))
    out["trace.overhead_pct"] = 100.0 * (geomean(ratios) - 1.0) if ratios else 0.0
    lag = res.get("lag_ms", [])
    out["loadgen.write_lag_ms"] = pct(lag, 90) if lag else 0.0
    out["loadgen.late_sends"] = float(sum(x > LATE_MS for x in lag))
    return out
