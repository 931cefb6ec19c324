"""Seeded request streams for the served-path workloads.

Every query template renders the SQL sent to the server and the DuckDB SQL
that answers the same question over the same parquet files.  Money sums go
through exact DECIMAL on both sides (the inventory's convention), so the
two engines agree digit for digit.  Only the literals depend on the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Tables the warehouse registers; list_tables walks these by page token.
TABLES = (
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
)
# Three pages of detailed tables; the NOT LIKE hides the views that system.*
# queries register next to the tables.
LIST_ARGS = (
    ("database", "default"), ("include_detailed_columns", True),
    ("not_like", "_system_%"), ("page_size", 4),
)
QUERIES_PER_SESSION = 14
PIPELINE_OPS = (
    "pipe_minhash_lsh", "pipe_span_dedup", "pipe_embed_topk",
    "pipe_text_stats", "pipe_dedup_exact", "pipe_vocab_oov",
)


@dataclass(frozen=True)
class Request:
    """One tool call: ``check`` says how the answer is judged."""

    template: str
    tool: str
    args: tuple  # (key, value) pairs of the tool arguments
    oracle: str | None = None  # DuckDB SQL, for check == "rows"
    check: str = "rows"  # "rows" | "reject" | "databases" | "tables"

    def arguments(self) -> dict:
        return dict(self.args)


def _date(r: random.Random, lo_year: int, hi_year: int) -> str:
    return f"{r.randint(lo_year, hi_year)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _q(template: str, tool: str, dialect: str, sql: str, oracle: str) -> Request:
    return Request(template, tool, (("dialect", dialect), ("query", sql)), oracle)


def t_pricing(r: random.Random) -> Request:
    d = _date(r, 1998, 1999)
    return _q(
        "pricing", "run_select_query", "clickhouse",
        "SELECT l_returnflag, l_linestatus, count() AS n, sum(l_quantity) AS qty,"
        " sum(CAST(l_extendedprice AS Decimal(15, 2))) AS price"
        f" FROM lineitem WHERE l_shipdate <= toDate('{d}')"
        " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,"
        " sum(CAST(l_extendedprice AS DECIMAL(15, 2))) AS price"
        f" FROM lineitem WHERE l_shipdate <= DATE '{d}'"
        " GROUP BY l_returnflag, l_linestatus",
    )


def t_join_topn(r: random.Random) -> Request:
    d0 = _date(r, 1995, 2000)
    n = 10
    seg = r.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    return _q(
        "join_topn", "run_embedded_select_query", "clickhouse",
        "SELECT c.c_custkey AS custkey, c.c_name AS name,"
        " sum(CAST(o.o_totalprice AS Decimal(15, 2))) AS spent"
        " FROM orders AS o INNER JOIN customer AS c ON o.o_custkey = c.c_custkey"
        f" WHERE o.o_orderdate >= toDate('{d0}')"
        f" AND o.o_orderdate < addYears(toDate('{d0}'), 1) AND c.c_mktsegment = '{seg}'"
        f" GROUP BY c.c_custkey, c.c_name ORDER BY spent DESC, custkey LIMIT {n}",
        "SELECT c.c_custkey AS custkey, c.c_name AS name,"
        " sum(CAST(o.o_totalprice AS DECIMAL(15, 2))) AS spent"
        " FROM orders AS o JOIN customer AS c ON o.o_custkey = c.c_custkey"
        f" WHERE o.o_orderdate >= DATE '{d0}'"
        f" AND o.o_orderdate < DATE '{d0}' + INTERVAL 1 YEAR AND c.c_mktsegment = '{seg}'"
        f" GROUP BY c.c_custkey, c.c_name ORDER BY spent DESC, custkey LIMIT {n}",
    )


def t_event_buckets(r: random.Random) -> Request:
    day, hour, span = r.randint(1, 28), r.randint(0, 23), 24
    t0 = f"2024-01-{day:02d} {hour:02d}:00:00"
    return _q(
        "event_buckets", "run_select_query", "clickhouse",
        "SELECT toStartOfHour(ts) AS hour, event_type, count() AS n,"
        " uniqExact(user_id) AS users FROM events"
        f" WHERE ts >= toDateTime('{t0}') AND ts < toDateTime('{t0}') + INTERVAL {span} HOUR"
        " GROUP BY hour, event_type ORDER BY hour, event_type",
        "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,"
        " count(DISTINCT user_id) AS users FROM events"
        f" WHERE ts >= TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t0}' + INTERVAL {span} HOUR"
        " GROUP BY ALL",
    )


def t_order_mix(r: random.Random) -> Request:
    d0 = _date(r, 1995, 2000)
    return _q(
        "order_mix", "run_embedded_select_query", "clickhouse",
        "SELECT o_orderpriority AS priority, countIf(o_orderstatus = 'F') AS finished,"
        " uniqExact(o_custkey) AS customers, count() AS n FROM orders"
        f" WHERE o_orderdate BETWEEN toDate('{d0}') AND addMonths(toDate('{d0}'), 6)"
        " GROUP BY priority ORDER BY priority",
        "SELECT o_orderpriority AS priority,"
        " count(*) FILTER (WHERE o_orderstatus = 'F') AS finished,"
        " count(DISTINCT o_custkey) AS customers, count(*) AS n FROM orders"
        f" WHERE o_orderdate BETWEEN DATE '{d0}' AND DATE '{d0}' + INTERVAL 6 MONTH"
        " GROUP BY priority",
    )


def t_brand_parts(r: random.Random) -> Request:
    lo = r.randint(1, 45)
    hi = lo + 5
    d0 = _date(r, 1995, 2000)
    return _q(
        "brand_parts", "run_select_query", "clickhouse",
        "SELECT p.p_brand AS brand, count() AS n, sum(l.l_quantity) AS qty"
        " FROM lineitem AS l INNER JOIN part AS p ON l.l_partkey = p.p_partkey"
        f" WHERE p.p_size BETWEEN {lo} AND {hi} AND l.l_shipdate >= toDate('{d0}')"
        f" AND l.l_shipdate < addYears(toDate('{d0}'), 1)"
        " GROUP BY brand ORDER BY brand",
        "SELECT p.p_brand AS brand, count(*) AS n, sum(l.l_quantity) AS qty"
        " FROM lineitem AS l JOIN part AS p ON l.l_partkey = p.p_partkey"
        f" WHERE p.p_size BETWEEN {lo} AND {hi} AND l.l_shipdate >= DATE '{d0}'"
        f" AND l.l_shipdate < DATE '{d0}' + INTERVAL 1 YEAR"
        " GROUP BY brand",
    )


def t_yearly(r: random.Random) -> Request:
    m = 100
    k = r.randint(0, m - 1)
    return _q(
        "yearly", "run_select_query", "clickhouse",
        "SELECT toYear(o_orderdate) AS y, count() AS n,"
        " sum(CAST(o_totalprice AS Decimal(15, 2))) AS total"
        f" FROM orders WHERE o_custkey % {m} = {k} GROUP BY y ORDER BY y",
        "SELECT year(o_orderdate) AS y, count(*) AS n,"
        " sum(CAST(o_totalprice AS DECIMAL(15, 2))) AS total"
        f" FROM orders WHERE o_custkey % {m} = {k} GROUP BY y",
    )


def t_running_qty(r: random.Random) -> Request:
    lo = r.randint(0, 149_899)  # o_orderkey runs 0..149,999 at sf0.1
    hi = lo + 100
    return _q(
        "running_qty", "run_embedded_select_query", "clickhouse",
        "SELECT l_orderkey, l_linenumber, l_partkey, sum(l_quantity) OVER"
        " (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS running"
        f" FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi}",
        "SELECT l_orderkey, l_linenumber, l_partkey, sum(l_quantity) OVER"
        " (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS running"
        f" FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi}",
    )


def t_system_columns(r: random.Random) -> Request:
    table = r.choice(TABLES)
    return _q(
        "system_columns", "run_select_query", "clickhouse",
        f"SELECT name FROM system.columns WHERE table = '{table}' ORDER BY name",
        f"SELECT column_name AS name FROM (DESCRIBE {table})",
    )


def t_spark_segments(r: random.Random) -> Request:
    nations = sorted(r.sample(range(25), 4))
    inlist = ", ".join(map(str, nations))
    return _q(
        "spark_segments", "run_select_query", "spark",
        "SELECT c_mktsegment AS segment, c_nationkey AS nation, count(*) AS n,"
        " sum(CAST(c_acctbal AS DECIMAL(15, 2))) AS balance FROM customer"
        f" WHERE c_nationkey IN ({inlist}) GROUP BY c_mktsegment, c_nationkey",
        "SELECT c_mktsegment AS segment, c_nationkey AS nation, count(*) AS n,"
        " sum(CAST(c_acctbal AS DECIMAL(15, 2))) AS balance FROM customer"
        f" WHERE c_nationkey IN ({inlist}) GROUP BY c_mktsegment, c_nationkey",
    )


def t_spark_props(r: random.Random) -> Request:
    lo = r.randint(0, 1400)
    hi = lo + 50
    return _q(
        "spark_props", "run_embedded_select_query", "spark",
        "SELECT CAST(get_json_object(props, '$.k') AS INT) AS k, count(*) AS n,"
        " sum(CAST(value AS DECIMAL(15, 2))) AS total FROM events"
        f" WHERE user_id BETWEEN {lo} AND {hi}"
        " GROUP BY CAST(get_json_object(props, '$.k') AS INT)",
        "SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n,"
        " sum(CAST(value AS DECIMAL(15, 2))) AS total FROM events"
        f" WHERE user_id BETWEEN {lo} AND {hi} GROUP BY 1",
    )


TEMPLATES = (
    t_pricing, t_join_topn, t_event_buckets, t_order_mix, t_brand_parts,
    t_yearly, t_running_qty, t_system_columns, t_spark_segments, t_spark_props,
)

# Statements the read-only guard must refuse; the table names do not exist,
# so a guard that let one through would fail loudly instead of writing.
WRITES = (
    "INSERT INTO perfbench_sink_{n} SELECT 1",
    "DROP TABLE perfbench_sink_{n}",
    "CREATE TABLE perfbench_sink_{n} AS SELECT 1 AS x",
    "ALTER TABLE perfbench_sink_{n} ADD COLUMNS (y INT)",
    "TRUNCATE TABLE perfbench_sink_{n}",
)


def _write_attempt(r: random.Random) -> Request:
    sql = r.choice(WRITES).format(n=r.randint(0, 10**6))
    tool = r.choice(["run_select_query", "run_embedded_select_query"])
    dialect = r.choice(["spark", "clickhouse"])
    return Request("write_reject", tool, (("dialect", dialect), ("query", sql)), check="reject")


REPEAT_SLOTS = (4, 8, 12)
WRITE_SLOT = 10


def session_plan(client: int) -> tuple:
    """The query slots of every session of one client: each template once,
    three verbatim repeats and one write.  The plan does not depend on the
    seed, so every session, and so every run, has the same make-up of work;
    the seed picks the literals.  Clients walk the templates half a cycle
    apart."""
    order = list(range(len(TEMPLATES)))
    random.Random("plan").shuffle(order)
    k = client * len(order) // 2
    fresh = iter(order[k:] + order[:k])
    return tuple(
        "repeat" if i in REPEAT_SLOTS else "write" if i == WRITE_SLOT else next(fresh)
        for i in range(QUERIES_PER_SESSION)
    )


class AgentStream:
    """The request stream of one client, fully determined by (seed, client)."""

    def __init__(self, seed, client: int) -> None:
        self.r = random.Random(f"agent:{seed}:{client}")
        self.plan = session_plan(client)

    def session(self) -> list[Request]:
        """One agent session: discover the catalogue, then query."""
        calls = [
            Request("initialize", "initialize", ()),
            Request("list_databases", "list_databases", (), check="databases"),
            Request("list_tables", "list_tables", LIST_ARGS, check="tables"),
        ]
        history: list[Request] = []
        for slot in self.plan:
            if slot == "write":
                calls.append(_write_attempt(self.r))
            elif slot == "repeat":
                calls.append(history[-2])
            else:
                history.append(TEMPLATES[slot](self.r))
                calls.append(history[-1])
        return calls


def pipeline_order(seed, passes: int) -> list[list[str]]:
    """Seed-permuted operator order for each pass."""
    r = random.Random(f"pipeline:{seed}")
    out = []
    for _ in range(passes):
        ops = list(PIPELINE_OPS)
        r.shuffle(ops)
        out.append(ops)
    return out


def warmup_requests() -> list[Request]:
    """One request per template from a fixed stream, outside any seed's."""
    r = random.Random("warmup")
    return [tpl(r) for tpl in TEMPLATES]
