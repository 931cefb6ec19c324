"""The benchmark's own checks: its request streams are seeded, and every
query template answers correctly on a small warehouse.

    python3 -m pytest perfbench/tests -q

Run from the repository root.  The template test starts a local Spark
session over the sf0.01 testdata in ``perfbench/data`` (about a minute).
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import oracle, traffic  # noqa: E402


def _stream_bytes(seed: int, client: int = 0, sessions: int = 6) -> bytes:
    s = traffic.AgentStream(seed, client)
    reqs = [r for _ in range(sessions) for r in s.session()]
    return json.dumps([[r.template, r.tool, r.args, r.oracle, r.check] for r in reqs]).encode()


def test_same_seed_same_stream():
    assert _stream_bytes(7) == _stream_bytes(7)
    assert traffic.pipeline_order(7, 5) == traffic.pipeline_order(7, 5)


def test_other_seed_other_literals():
    assert _stream_bytes(7) != _stream_bytes(8)
    # the same template renders different literals under different seeds
    a = traffic.t_pricing(random.Random("agent:7:0")).args
    b = traffic.t_pricing(random.Random("agent:8:0")).args
    assert a != b
    assert traffic.pipeline_order(7, 5) != traffic.pipeline_order(8, 5)


def test_every_session_has_the_same_make_up():
    templates = {t(random.Random(0)).template for t in traffic.TEMPLATES}
    for seed in (3, 4):
        for client in (0, 1):
            s = traffic.AgentStream(seed, client)
            for _ in range(3):
                queries = s.session()[3:]
                kinds = [r.template for r in queries]
                assert kinds.count("write_reject") == 1
                fresh = [r for r in queries if r.check == "rows"]
                assert len(fresh) == len(templates) + len(traffic.REPEAT_SLOTS)
                assert {r.template for r in fresh} == templates


def test_canon_matches_json_and_duckdb_forms():
    from decimal import Decimal

    assert oracle.canon(Decimal("12.50")) == oracle.canon("12.5") == oracle.canon(12.5)
    assert oracle.canon(3) == oracle.canon(Decimal("3.00"))
    assert oracle.compare((["a"], oracle.rowset(["a"], [[1], [2]])), ["a"], [[2], [1]]) is None
    assert oracle.compare((["a"], oracle.rowset(["a"], [[1], [2]])), ["a"], [[2], [2]])


@pytest.fixture(scope="module")
def small_warehouse():
    return Path(__file__).resolve().parents[1] / "data" / "sf0.01"


@pytest.fixture(scope="module")
def spark(small_warehouse, tmp_path_factory):
    import os

    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path_factory.mktemp("split"))
    from mcp_clickhouse_spark.session import get_spark, register_testdata

    session = get_spark(app_name="perfbench-tests")
    register_testdata(session, str(small_warehouse))
    yield session
    session.stop()


def test_every_template_answers_correctly(spark, small_warehouse):
    from mcp_clickhouse_spark import tools

    con = oracle.connect(str(small_warehouse))
    r = random.Random("templates")
    for tpl in traffic.TEMPLATES:
        # draw until the answer has rows: some literals range over sf0.1
        # keys that sf0.01 lacks
        req, want = next((req, want) for req in (tpl(r) for _ in range(200))
                         if (want := oracle.expected(con, req.oracle))[1])
        args = req.arguments()
        res = getattr(tools, req.tool)(spark, args["query"], dialect=args["dialect"])
        res = json.loads(json.dumps(res, default=str))  # the server's encoding
        assert not (isinstance(res, dict) and res.get("status") == "error"), res
        if isinstance(res, dict):
            cols, rows = res["columns"], res["rows"]
        else:
            cols, rows = (list(res[0]) if res else None), [list(x.values()) for x in res]
        assert oracle.compare(want, cols or want[0], rows) is None, req.template


def test_writes_are_rejected(spark):
    from mcp_clickhouse_spark import tools

    r = random.Random("writes")
    for _ in range(5):
        req = traffic._write_attempt(r)
        args = req.arguments()
        try:
            res = getattr(tools, req.tool)(spark, args["query"], dialect=args["dialect"])
        except tools.ToolError as e:
            assert "readonly" in str(e)
        else:
            assert res["status"] == "error" and "readonly" in res["message"]
