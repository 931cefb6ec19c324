"""Turning a run's records into the numbers the benchmark reports.

End-to-end values come from the load generator's own clock; per-layer values
from the spans and Spark attribution that trace.py records.  ``result``
shapes the final JSON line.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench.traffic import PIPELINE_OPS

SERVED_LAYERS = (
    "mcp_server", "tools", "executor", "readonly", "dialect", "sources",
    "session", "catalog", "pagination",
)
# BENCHMARK.json, next to this directory, names every metric and its unit.
_SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}
PER_LAYER = tuple(m["name"] for m in _SPEC["per_layer"])


def result(correct: bool, attempted: int, failed: int, values: dict[str, float]) -> dict:
    return {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }


def end_to_end(lat_ms: list[float], elapsed_s: float, batch_s: float, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_p70_ms": statistics.quantiles(lat_ms, n=10)[6] if len(lat_ms) > 1 else lat_ms[0],
        "throughput_rps": len(lat_ms) / elapsed_s,
        "batch_s": batch_s,
    }


def process_values(host: dict, failed: int, attempted: int) -> dict[str, float]:
    """The set-up split, failures and memory of one run's engine process."""
    return {
        "session.get_spark_ms": host["setup"].get("get_spark_ms", 0.0),
        "session.register_ms": host["setup"].get("register_ms", 0.0),
        "error_rate": failed / max(1, attempted),
        "peak_rss_mb": host["peak_rss_mb"],
    }


def batch_metrics(host: dict) -> dict[str, float]:
    """Per-layer figures for pipeline_batch: medians over traced calls."""
    traced = host["calls"]
    counts, costs = host["spark_counts"], host["event_log"]

    def spark_med(source, key):
        return _median([source.get(c["group"], {}).get(key, 0) for c in traced])

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "session.jobs_per_call": spark_med(counts, "jobs"),
        "session.stages_per_call": spark_med(counts, "stages"),
        "session.tasks_per_call": spark_med(counts, "tasks"),
        "session.task_ms_per_call": spark_med(costs, "task_ms"),
        "session.shuffle_read_mb": spark_med(costs, "shuffle_read") / 2**20,
        "session.shuffle_write_mb": spark_med(costs, "shuffle_write") / 2**20,
        "session.spill_mb": spark_med(costs, "spill") / 2**20,
        "inventory.build_ms": _median([c["build_ms"] for c in traced]),
        "inventory.plan_cache_hit_ratio": _mean([float(c["plan_hit"]) for c in traced]),
        "trace.latency_p50_ms": _median([p * 1e3 for p in host["passes"]]),
        "trace.requests": len(traced),
    })
    for op in PIPELINE_OPS:
        m[f"pipeline.{op}_ms"] = _median(
            [c["ms"] - c["build_ms"] for c in traced if c["op"] == op])
    return m


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per request: layer -> self ms (span time not covered by children)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        covered, end = 0.0, s["t0"]
        for c in sorted(children.get(s["sid"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        layer_ms = out.setdefault(s["rid"], {})
        layer_ms[s["layer"]] = layer_ms.get(s["layer"], 0.0) + (s["t1"] - s["t0"] - covered) * 1e3
    return out


def served_metrics(dump: dict, client: dict[str, dict]) -> dict[str, float]:
    """Per-layer figures for a served workload: medians over the traced
    requests that use the layer, except self times (see below).

    ``client`` maps JSON-RPC id -> {"ms": client round trip, "kb": reply
    size}."""
    spans = [s for s in dump["spans"] if s["t1"] is not None]
    roots = {s["rid"]: s for s in spans if s["parent"] is None}
    by_rid: dict[int, list[dict]] = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)
    rid_of_msg = dump["msg_rid"]
    selfs = self_times(spans)
    counts = dump.get("spark_counts", {})
    costs = dump.get("event_log", {})

    def per_req(pred, fn):
        vals = []
        for rid, ss in by_rid.items():
            if rid in roots and pred(rid, ss):
                vals.append(fn(rid, ss))
        return _median(vals)

    def tool_of(ss):
        return next((s["name"] for s in ss if s["layer"] == "tools" and s["name"] != "query_fn"), None)

    def is_query(rid, ss):
        return tool_of(ss) in ("run_select_query", "run_embedded_select_query")

    def is_list(rid, ss):
        return tool_of(ss) == "list_tables"

    def span_ms(layer, name=None):
        return lambda rid, ss: sum(
            (s["t1"] - s["t0"]) * 1e3 for s in ss
            if s["layer"] == layer and (name is None or s["name"] == name))

    def groups_of(ss, span_name):
        return [s["attrs"]["group"] for s in ss if s["name"] == span_name and "group" in s["attrs"]]

    def spark_sum(key, source, span_name="query_fn"):
        return lambda rid, ss: sum(source.get(g, {}).get(key, 0) for g in groups_of(ss, span_name))

    anyreq = lambda rid, ss: True  # noqa: E731
    m = dict.fromkeys(PER_LAYER, 0.0)
    # Self times are means over all traced requests, so that per layer they
    # add up to the mean root span, and with the remainder (client side:
    # socket, HTTP parsing, JSON decode) to the mean round trip.
    matched = {rid_of_msg[k]: c for k, c in client.items() if rid_of_msg.get(k) in roots}
    traced = list(matched)
    for layer in SERVED_LAYERS:
        m[f"{layer}.self_ms"] = _mean([selfs[rid].get(layer, 0.0) for rid in traced])
    m["trace.self_sum_error_ms"] = max((abs(
        sum(selfs[rid].values()) - (roots[rid]["t1"] - roots[rid]["t0"]) * 1e3)
        for rid in traced), default=0.0)
    m["mcp_server.encode_ms"] = per_req(anyreq, span_ms("mcp_server", "encode"))
    m["executor.queue_wait_ms"] = per_req(is_query, lambda rid, ss: sum(
        s["attrs"].get("queue_wait_ms", 0.0) for s in ss if s["name"] == "run_with_timeout"))
    m["executor.timeouts"] = sum(1 for s in spans if s["attrs"].get("timeout"))
    m["readonly.check_ms"] = per_req(is_query, span_ms("readonly", "check"))
    m["readonly.plan_check_ms"] = per_req(is_query, span_ms("readonly", "plan_check"))
    m["readonly.rejected"] = sum(
        1 for s in spans if s["layer"] == "readonly" and s["attrs"].get("error"))
    m["dialect.settings_ms"] = per_req(is_query, span_ms("dialect", "settings"))
    m["dialect.translate_ms"] = per_req(is_query, span_ms("dialect", "translate"))
    m["sources.bind_ms"] = per_req(is_query, span_ms("sources"))
    m["session.analyze_ms"] = per_req(is_query, span_ms("session", "analyze"))
    m["session.execute_fetch_ms"] = per_req(is_query, span_ms("session", "execute_fetch"))
    for key in ("jobs", "stages", "tasks"):
        m[f"session.{key}_per_call"] = per_req(is_query, spark_sum(key, counts))
    m["session.task_ms_per_call"] = per_req(is_query, spark_sum("task_ms", costs))
    for key, name in (("shuffle_read", "session.shuffle_read_mb"),
                      ("shuffle_write", "session.shuffle_write_mb"), ("spill", "session.spill_mb")):
        m[name] = per_req(is_query, spark_sum(key, costs)) / 2**20
    m["catalog.list_ms"] = per_req(
        lambda rid, ss: tool_of(ss) in ("list_tables", "list_databases"), span_ms("catalog", "list"))
    m["catalog.describe_ms"] = _median([
        (s["t1"] - s["t0"]) * 1e3 for s in spans if s["name"] == "describe"])
    m["catalog.jobs_per_describe"] = _median([
        counts.get(s["attrs"]["group"], {}).get("jobs", 0)
        for s in spans if s["name"] == "describe" and "group" in s["attrs"]])
    m["pagination.mint_ms"] = per_req(is_list, span_ms("pagination", "mint"))
    m["pagination.consume_ms"] = per_req(is_list, span_ms("pagination", "consume"))
    consumed = [s for s in spans if s["name"] == "consume"]
    m["pagination.token_hit_ratio"] = (
        sum(1 for s in consumed if s["attrs"].get("hit")) / len(consumed) if consumed else 0.0)
    trips, remainders, kbs = [], [], []
    for rid, c in matched.items():
        root = roots[rid]
        trips.append(c["ms"])
        remainders.append(c["ms"] - (root["t1"] - root["t0"]) * 1e3)
        kbs.append(c["kb"])
    m["mcp_server.response_kb"] = _median(kbs)
    m["trace.round_trip_ms"] = _mean(trips)
    m["trace.remainder_ms"] = _mean(remainders)
    m["trace.requests"] = len(trips)
    return m
