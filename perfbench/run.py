"""Served-path benchmark for the MCP Spark server.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 8 --trace 0

Run from the repository root.  Each run builds a fresh engine (a new JVM and
a fresh, empty split-layout warehouse), warms it up untimed, drives it from
this one load-generator process for at least ``--seconds`` in whole units of
work (agent sessions, operator passes), then checks every answer against
DuckDB.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Workloads:
  agent_session   2 closed-loop clients over HTTP; each session discovers
                  (initialize, list_databases, list_tables by page token)
                  and then runs seeded queries (see traffic.py).  The
                  clients run sessions in rounds, one each per round.
  pipeline_batch  1 caller; seeded passes over six LLM-data operators via
                  ``__spark_entry__.queries()``, each materialised with
                  ``toArrow()``.  No tool path.

The input data is the sf0.1 testdata, committed under ``perfbench/data/``;
the seed varies only the requests.  Scratch files go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import metrics  # noqa: E402

CLIENTS = 2
DATA = HERE / "data" / "sf0.1"
WORK = ROOT / ".perfbench_work"
# A run must end within 180 s: a batch host gets this long in all, a
# serving host this long to stop once told to.
BATCH_TIMEOUT_S = 150
STOP_TIMEOUT_S = 60


# --- engine process --------------------------------------------------------------


def engine_env(run_dir: Path, data: Path) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "MCP_SPARK_", "PYSPARK_"))}
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "local"):
        d.mkdir(parents=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        MCP_SPARK_WAREHOUSE=str(data),
        SPARK_GRAFT_WAREHOUSE=str(run_dir / "warehouse"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(tmp),
        # keep the JVM's scratch files (and its perf-data file) in the run dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


class Engine:
    """The host process (host.py) and everything it starts."""

    def __init__(self, mode: str, run_dir: Path, env: dict, args, port: int = 0) -> None:
        self.run_dir = run_dir
        self.t0 = time.time()
        cmd = [sys.executable, str(HERE / "host.py"), mode, "--out", str(run_dir),
               "--trace", str(args.trace), "--port", str(port), "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--t0", repr(self.t0)]
        self.err = open(run_dir / "host.err", "wb")
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=self.err,
                                     stderr=subprocess.STDOUT, start_new_session=True)

    def signal(self, sig) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(sig)

    def wait(self, timeout: float) -> dict:
        """Wait for the host to finish and return what it wrote."""
        try:
            self.proc.wait(timeout=timeout)
        finally:
            self.kill()
        out = self.run_dir / "host.json"
        if self.proc.returncode != 0 or not out.exists():
            raise RuntimeError(f"engine host failed (exit {self.proc.returncode}):\n{self.tail()}")
        return json.loads(out.read_text())

    def kill(self) -> None:
        """Stop the host's whole process group (its JVM too) and wait until
        every member has ended."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.err.close()
        deadline = time.time() + 30
        while _group_alive(self.proc.pid) and time.time() < deadline:
            time.sleep(0.05)

    def tail(self) -> str:
        text = (self.run_dir / "host.err").read_text(errors="replace")
        return "\n".join(text.splitlines()[-30:])


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (zombies left
    for init to reap do not count)."""
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# --- workloads ------------------------------------------------------------------------


def agent_session(args, run_dir: Path, env: dict) -> dict:
    from perfbench import agent

    port = free_port()
    engine = Engine("serve", run_dir, env, args, port)
    try:
        setup_s = agent.wait_healthy(port, engine)
        log(f"set-up {setup_s:.1f} s")
        run = agent.drive(port, args.seed, args.seconds, CLIENTS,
                          on_start=(lambda: engine.signal(signal.SIGUSR1)) if args.trace else None)
        log(f"warm-up {run['warmup_s']:.1f} s, timed loop {run['elapsed']:.1f} s, sessions "
            + " ".join(f"{s:.2f}" for s in run["sessions_s"]))
        engine.signal(signal.SIGTERM)
        host = engine.wait(STOP_TIMEOUT_S)
        log("engine stopped")
    finally:
        engine.kill()
    failures = agent.check(run, Path(env["MCP_SPARK_WAREHOUSE"]))
    log("answers checked")
    return agent.report(run, failures, host, setup_s, args.trace, run_dir)


def pipeline_batch(args, run_dir: Path, env: dict) -> dict:
    engine = Engine("batch", run_dir, env, args)
    host = engine.wait(BATCH_TIMEOUT_S)
    log(", ".join(f"{k} {v:.1f}" for k, v in host["phases"].items()) + ", passes "
        + " ".join(f"{p:.2f}" for p in host["passes"]))
    for f in host["failures"]:
        print(f"FAILED {f['op']}: {f['error']}", file=sys.stderr)
    calls = host["calls"]
    if args.trace:
        values = metrics.batch_metrics(host)
        values.update(metrics.process_values(host, host["failed_calls"], len(calls)))
    else:
        # the caller's unit of work is a pass: an operator-call median would
        # sit between two operators' costs and jump from run to run
        passes = host["passes"]
        values = metrics.end_to_end([p * 1e3 for p in passes], host["elapsed_s"],
                                    statistics.median(passes), host["setup_s"])
    return metrics.result(not host["failures"], len(calls), host["failed_calls"], values)


WORKLOADS = {"agent_session": agent_session, "pipeline_batch": pipeline_batch}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "mcp_clickhouse_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print("run from the repository root: mcp_clickhouse_spark/ not found", file=sys.stderr)
        return 2
    WORK.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    t0 = time.time()
    try:
        result = WORKLOADS[args.workload](args, run_dir, engine_env(run_dir, DATA))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.time() - t0:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
