"""agent_session: closed-loop MCP clients over the server's HTTP transport.

Each client keeps one keep-alive connection and sends its next JSON-RPC
request only after the previous reply is parsed.  Latency is measured from
the POST to the parsed reply (envelope and tool payload).  Answers are kept
and judged after the timed loop: queries against DuckDB, writes must be
refused by the read-only guard, and the catalogue walk must list every
table with its columns.
"""

from __future__ import annotations

import http.client
import json
import statistics
import sys
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import metrics, oracle
from perfbench.traffic import TABLES, AgentStream, Request, warmup_requests

HEALTH_TIMEOUT_S = 150
CALL_TIMEOUT_S = 120
SERVER_NAME = "mcp-clickhouse-spark"


def wait_healthy(port: int, engine) -> float:
    """Poll GET /health until it answers 200; seconds since the engine
    process was started."""
    deadline = time.time() + HEALTH_TIMEOUT_S
    while time.time() < deadline:
        if engine.proc.poll() is not None:
            raise RuntimeError(f"engine exited during set-up:\n{engine.tail()}")
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HEALTH_TIMEOUT_S)
        try:
            conn.request("GET", "/health")
            resp = conn.getresponse()
            resp.read()
            if resp.status == 200:
                return time.time() - engine.t0
        except OSError:
            pass
        finally:
            conn.close()
        time.sleep(0.1)
    raise RuntimeError("engine did not become healthy in time")


class Client:
    def __init__(self, port: int, name: str) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=CALL_TIMEOUT_S)
        self.name = name
        self.n = 0
        self.calls: list[dict] = []  # one record per JSON-RPC call

    def rpc(self, method: str, params: dict, template: str, record: bool) -> dict:
        self.n += 1
        msg_id = f"{self.name}-{self.n}"
        body = json.dumps({"jsonrpc": "2.0", "id": msg_id, "method": method, "params": params})
        t0 = time.perf_counter()
        self.conn.request("POST", "/mcp", body=body, headers={"Content-Type": "application/json"})
        raw = self.conn.getresponse().read()
        reply = json.loads(raw)
        payload = None
        result = reply.get("result") or {}
        if method == "tools/call" and "content" in result and not result.get("isError"):
            payload = json.loads(result["content"][0]["text"])
        t1 = time.perf_counter()
        rec = {"id": msg_id, "template": template, "t0": t0, "t1": t1,
               "ms": (t1 - t0) * 1e3, "kb": len(raw) / 1024, "reply": reply, "payload": payload}
        if record:
            self.calls.append(rec)
        return rec

    def call(self, req: Request, record: bool = True) -> None:
        """Issue one request; a list_tables request walks every page."""
        if req.tool == "initialize":
            params = {"protocolVersion": "2025-06-18", "capabilities": {},
                      "clientInfo": {"name": "perfbench", "version": "1"}}
            self.rpc("initialize", params, req.template, record)
            return
        args = req.arguments()
        while True:
            rec = self.rpc("tools/call", {"name": req.tool, "arguments": args},
                           req.template, record)
            rec["request"] = req
            token = req.tool == "list_tables" and (rec["payload"] or {}).get("next_page_token")
            if not token:
                return
            args = {**args, "page_token": token}


def _in_threads(fns) -> None:
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised in the caller's thread
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def drive(port: int, seed: int, seconds: float, clients: int, on_start=None) -> dict:
    """Warm up untimed, then run the closed loop for at least ``seconds``.
    ``on_start`` is called just before the clock starts."""
    pool = [Client(port, f"c{i}") for i in range(clients)]
    # Untimed warm-up, run to the end: client 0 walks the catalogue once
    # (about as long as four queries) while the others take the rest, so
    # that every template shape has paid its first-call costs (JIT,
    # codegen) before the clock starts
    warm = warmup_requests()
    walk = AgentStream("warmup", 0).session()[:3]
    share = [walk + warm[7:]] + [warm[i:7:clients - 1] for i in range(clients - 1)]
    t_warm = time.perf_counter()

    def warm_up(i: int) -> None:
        for req in share[i]:
            pool[i].call(req, record=False)

    _in_threads([lambda i=i: warm_up(i) for i in range(clients)])

    if on_start:
        on_start()
    start = time.perf_counter()
    deadline = start + seconds

    # The loop runs in rounds of one whole session per client, and starts a
    # round only while time is left: every run then has the same make-up of
    # work, and the clients contend with each other the same way.
    streams = [AgentStream(seed, i) for i in range(clients)]
    sessions: list[float] = []

    def session(i: int) -> None:
        s0 = time.perf_counter()
        for req in streams[i].session():
            pool[i].call(req)
        sessions.append(time.perf_counter() - s0)

    while time.perf_counter() < deadline:
        _in_threads([lambda i=i: session(i) for i in range(clients)])
    calls = [rec for c in pool for rec in c.calls]
    end = max(rec["t1"] for rec in calls)
    for c in pool:
        c.conn.close()
    return {"calls": calls, "elapsed": end - start, "warmup_s": start - t_warm,
            "sessions_s": sessions}


# --- answer checks ----------------------------------------------------------------------


def _error_text(rec: dict) -> str:
    reply = rec["reply"]
    if "error" in reply:
        return f"JSON-RPC error {reply['error']}"
    result = reply.get("result") or {}
    if result.get("isError"):
        return result["content"][0]["text"]
    p = rec["payload"]
    if isinstance(p, dict) and p.get("status") == "error":
        return p.get("message", "")
    return ""


def _rows(rec: dict) -> tuple[list[str] | None, list]:
    p = rec["payload"]
    if isinstance(p, dict):
        return p["columns"], p["rows"]
    return (list(p[0]) if p else None), [list(d.values()) for d in p]


def check(run: dict, data_dir: Path) -> list[dict]:
    """Judge every call; returns the failures (call id, template, error)."""
    con = oracle.connect(str(data_dir))
    want_cols = {t: pq.read_schema(data_dir / f"{t}.parquet").names for t in TABLES}
    expected: dict[str, tuple] = {}
    failures = []
    walks: dict[tuple, list[dict]] = {}
    for rec in run["calls"]:
        req = rec.get("request")
        err = _error_text(rec)
        why = None
        if req is None:  # initialize
            info = (rec["reply"].get("result") or {}).get("serverInfo", {})
            why = None if info.get("name") == SERVER_NAME else f"bad initialize reply {rec['reply']}"
        elif req.check == "reject":
            if not err:
                why = "write was not rejected"
            elif "readonly" not in err.lower() and "read-only" not in err.lower():
                why = f"write failed for another reason: {err[:200]}"
        elif err:
            why = err[:300]
        elif req.check == "databases":
            why = None if "default" in rec["payload"] else f"no default database in {rec['payload']}"
        elif req.check == "tables":
            walks.setdefault((rec["id"].split("-")[0], id(req)), []).append(rec)
        else:
            if req.oracle not in expected:
                expected[req.oracle] = oracle.expected(con, req.oracle)
            want = expected[req.oracle]
            cols, rows = _rows(rec)
            why = oracle.compare(want, cols if cols is not None else want[0], rows)
        if why:
            failures.append({"id": rec["id"], "template": rec["template"], "error": why})
    for pages in walks.values():
        why = _check_walk(pages, want_cols)
        if why:
            failures += [{"id": p["id"], "template": "list_tables", "error": why} for p in pages]
    return failures


def _check_walk(pages: list[dict], want_cols: dict) -> str | None:
    tables = [t for p in pages for t in p["payload"]["tables"]]
    names = [t["name"] for t in tables]
    if names != sorted(want_cols):
        return f"walk listed {names}"
    for t in tables:
        cols = [c["name"] for c in t["columns"]]
        if cols != want_cols[t["name"]]:
            return f"{t['name']} columns {cols}"
    return None


# --- report -----------------------------------------------------------------------------


def report(run, failures, host, setup_s, traced, run_dir) -> dict:
    calls = run["calls"]
    for f in failures:
        print(f"FAILED {f['id']} {f['template']}: {f['error']}", file=sys.stderr)
    by_template: dict[str, list[float]] = {}
    for c in calls:
        by_template.setdefault(c["template"], []).append(c["ms"])
    print("per template (calls, median ms): " + ", ".join(
        f"{k} {len(v)} {statistics.median(v):.0f}" for k, v in sorted(by_template.items())),
        file=sys.stderr)
    failed = len({f["id"] for f in failures})
    if not traced:
        batch_s = statistics.median(run["sessions_s"])
        tool_ms = [c["ms"] for c in calls if c.get("request") is not None]
        values = metrics.end_to_end(tool_ms, run["elapsed"], batch_s, setup_s)
    else:
        dump = json.loads((run_dir / "trace.json").read_text())
        client = {c["id"]: {"ms": c["ms"], "kb": c["kb"]} for c in calls}
        values = metrics.served_metrics(dump, client)
        values["trace.latency_p50_ms"] = statistics.median(
            c["ms"] for c in calls if c.get("request") is not None)
        values.update(metrics.process_values(host, failed, len(calls)))
    return metrics.result(not failures, len(calls), failed, values)
