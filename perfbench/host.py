"""Engine host: the process that owns the Spark session.

``serve`` starts ``MCPSparkServer`` on the session the server builds for
itself and serves it over ``make_http_server`` until SIGTERM.  ``batch``
runs the pipeline operators through ``__spark_entry__.queries()`` for a
fixed time and checks their answers.  Both write their results as JSON
into ``--out``.

With ``--trace 1`` the served-path spans are installed (see trace.py), the
event log is on, and SIGUSR1 switches span recording on once the warm-up
is over.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import trace  # noqa: E402

WARMUP_PASSES = 2


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, MiB; 0 if it is gone."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def peak_rss_mb() -> float:
    """This Python process plus its Spark JVM (and anything else it runs)."""
    me = os.getpid()
    return vm_hwm_mb(me) + sum(vm_hwm_mb(c) for c in children(me))


def _session_hooks(args, tracer_setup: dict) -> None:
    from mcp_clickhouse_spark import session

    if args.trace:
        session.get_spark = trace.with_event_log(session.get_spark, args.out / "eventlog")
    trace.timed_setup(session, tracer_setup)


def _attribution(spark, groups, out: Path) -> dict:
    """Spark work per job group.  Stops the session: the event log is
    complete only then.  (Untraced runs leave the JVM to the load
    generator, which kills the host's whole process group.)"""
    counts = trace.spark_counts(spark.sparkContext, groups)
    spark.stop()
    return {"spark_counts": counts, "event_log": trace.parse_event_log(out / "eventlog")}


def serve(args) -> None:
    from mcp_clickhouse_spark.mcp_server import MCPSparkServer, make_http_server

    setup: dict[str, float] = {}
    _session_hooks(args, setup)
    tracer = trace.Tracer()
    server = MCPSparkServer()
    httpd = make_http_server(server, "127.0.0.1", args.port)
    if args.trace:
        trace.install_server(tracer, httpd, server)

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGUSR1, lambda *_: setattr(tracer, "enabled", True))
    worker = threading.Thread(target=httpd.serve_forever, daemon=True)
    worker.start()
    stop.wait()
    httpd.shutdown()
    result = {"peak_rss_mb": peak_rss_mb(), "setup": setup}
    if args.trace and server._spark is not None:
        groups = [s["attrs"]["group"] for s in tracer.spans if "group" in s["attrs"]]
        tracer.dump(args.out / "trace.json", _attribution(server._spark, groups, args.out))
    (args.out / "host.json").write_text(json.dumps(result))


def batch(args) -> None:
    """pipeline_batch: seeded passes over the LLM-data operators."""
    import pyarrow as pa

    from mcp_clickhouse_spark import tools
    from mcp_clickhouse_spark.config import get_engine_config
    from mcp_clickhouse_spark.inventory import registry
    from mcp_clickhouse_spark.mcp_server import MCPSparkServer
    from perfbench import oracle
    from perfbench.traffic import pipeline_order

    setup: dict[str, float] = {}
    _session_hooks(args, setup)
    spark = MCPSparkServer().spark()
    if tools.health_check(spark)["status"] != 200:
        sys.exit("engine health check failed")
    setup_s = time.time() - args.t0

    import __spark_entry__ as entry

    queries = entry.queries()
    sf_dir = get_engine_config().warehouse
    sc = spark.sparkContext
    calls: list[dict] = []

    def run_op(op: str, traced: bool) -> tuple[pa.Table, dict]:
        rec = {"op": op}
        key = (id(spark), sf_dir, op)
        hit = registry._PLAN_CACHE.get(key)
        rec["plan_hit"] = hit is not None and hit[0] is spark
        if traced:
            rec["group"] = f"perfbench-{op}-{len(calls)}"
            sc.setJobGroup(rec["group"], op)
        t0 = time.perf_counter()
        df = queries[op](spark, sf_dir)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
        if traced:
            sc.setJobGroup("", "")
        rec.update(build_ms=(t1 - t0) * 1e3, ms=(t2 - t0) * 1e3, rows=table.num_rows)
        return table, rec

    phases = {"setup_s": setup_s}
    # untimed warm-up: the first pass pays each operator's first-call costs
    # (JIT, codegen), and the pass after it is still slower than the rest
    t_warm = time.perf_counter()
    for order in pipeline_order("warmup", WARMUP_PASSES):
        for op in order:
            run_op(op, False)
    phases["warmup_s"] = time.perf_counter() - t_warm

    # whole passes only, each started while time is left
    tables: list[pa.Table] = []
    passes: list[float] = []
    start = time.perf_counter()
    for order in pipeline_order(args.seed, 10_000):
        if time.perf_counter() >= start + args.seconds:
            break
        p0 = time.perf_counter()
        for op in order:
            table, rec = run_op(op, bool(args.trace))
            calls.append(rec)
            tables.append(table)
        passes.append(time.perf_counter() - p0)
    elapsed = time.perf_counter() - start
    phases["timed_s"] = elapsed
    t_check = time.perf_counter()

    # Every call's answer is checked: against DuckDB where the operator has
    # an oracle, else against the answer of its first call, which must
    # have rows.  A call whose sorted table equals an earlier correct answer
    # of its operator is correct without the (slow) row-by-row comparison.
    failures = []
    con = oracle.connect(sf_dir)
    oracles = entry.oracle_sql()
    want: dict[str, tuple] = {}
    correct: dict[str, pa.Table] = {}
    for i, (rec, table) in enumerate(zip(calls, tables)):
        op = rec["op"]
        table = table.sort_by([(c, "ascending") for c in table.column_names])
        if op in correct and table.equals(correct[op]):
            continue
        cols, rows = table.column_names, [tuple(r.values()) for r in table.to_pylist()]
        if op not in want:
            want[op] = (oracle.expected(con, oracles[op]) if op in oracles
                        else (cols, oracle.rowset(cols, rows)))
        why = oracle.compare(want[op], cols, rows) or (None if rows else "no rows")
        if why:
            failures.append({"op": op, "call": i, "error": why})
        else:
            correct.setdefault(op, table)
    phases["check_s"] = time.perf_counter() - t_check

    result = {
        "setup_s": setup_s, "setup": setup, "peak_rss_mb": peak_rss_mb(),
        "calls": calls, "passes": passes, "elapsed_s": elapsed,
        "failed_calls": len(failures), "failures": failures,
        "phases": phases,
    }
    if args.trace:
        groups = [c["group"] for c in calls if "group" in c]
        result.update(_attribution(spark, groups, args.out))
    (args.out / "host.json").write_text(json.dumps(result))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["serve", "batch"])
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--port", type=int, default=0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--t0", type=float, default=0.0)
    args = ap.parse_args()
    (args.out / "eventlog").mkdir(parents=True, exist_ok=True)
    serve(args) if args.mode == "serve" else batch(args)
    sys.stdout.flush()
    os._exit(0)  # no joins: the pool's idle threads and the JVM are killed with the group


if __name__ == "__main__":
    main()
