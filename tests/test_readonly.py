"""Read-only classifier (A11) — the known-hard guard, no engine needed."""

import pytest

from mcp_clickhouse_spark.readonly import ReadOnlyViolation, check_read_only


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 1",
        "select * from users",
        "  WITH x AS (SELECT 1 AS a) SELECT * FROM x",
        "VALUES (1, 2), (3, 4)",
        "SHOW DATABASES",
        "SHOW TABLES IN default",
        "DESCRIBE users",
        "DESC users",
        "EXPLAIN SELECT 1",
        "EXPLAIN EXTENDED SELECT * FROM users",
        "(SELECT 1) UNION ALL (SELECT 2)",
        "-- leading comment\nSELECT 1",
        "/* block */ SELECT 1",
        "SELECT 1;",  # trailing semicolon ok
        "SELECT '; DROP TABLE users' AS s",  # write keyword inside a string
        # an escaped backslash ends the literal at the next quote, so the
        # second literal stays data
        r"SELECT 'C:\\' AS p, 'drop' AS verb",
        # a raw literal takes no backslash escapes: r'a\' ends at its
        # second quote, and 'drop' is the next literal
        r"SELECT r'a\' AS p, 'drop' AS verb",
        r'SELECT R"C:\" AS p, "drop" AS verb',
    ],
)
def test_allowed(sql):
    check_read_only(sql)


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO users VALUES (1)",
        "insert into t select * from users",
        "UPDATE users SET age = 1",
        "DELETE FROM users",
        "DROP TABLE users",
        "CREATE TABLE t (a INT)",
        "CREATE OR REPLACE VIEW v AS SELECT 1",
        "ALTER TABLE users ADD COLUMN x INT",
        "TRUNCATE TABLE users",
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE",
        "SET spark.sql.shuffle.partitions=1",
        "CACHE TABLE users",
        "REFRESH TABLE users",
        "ANALYZE TABLE users COMPUTE STATISTICS",
        "GRANT SELECT ON t TO role",
        "",
        "   ",
        "SELECT 1; DROP TABLE users",  # multi-statement smuggling
        "-- comment\nDROP TABLE users",
        "/* c */ INSERT INTO t VALUES (1)",
        "EXPLAIN INSERT INTO t VALUES (1)",  # EXPLAIN of a write still plans it
        # CTE-prefixed DML: first keyword is WITH but the statement writes
        # (round-1 advisor finding — Spark SQL accepts this shape).
        "WITH s AS (SELECT 99 AS x) INSERT INTO victim SELECT * FROM s",
        "WITH s AS (SELECT 1) DELETE FROM t WHERE id IN (SELECT x FROM s)",
        "WITH s AS (SELECT 1 AS x) UPDATE t SET a = 1",
        "WITH s AS (SELECT 1) MERGE INTO t USING s ON t.id = s.x WHEN MATCHED THEN DELETE",
        "EXPLAIN WITH s AS (SELECT 1) INSERT INTO t SELECT * FROM s",
        # the literal closes after the escaped backslash: the ';' and the
        # DROP after it are SQL, not string contents
        r"SELECT 'a\\'; DROP TABLE t",
        # ...and a raw literal closes at its first quote, backslash or not
        r"SELECT r'a\'; DROP TABLE t",
        r'SELECT R"x\"; DROP TABLE t',
    ],
)
def test_rejected(sql):
    with pytest.raises(ReadOnlyViolation):
        check_read_only(sql)


@pytest.mark.parametrize(
    "sql",
    [
        # Write verbs as parts of longer identifiers must not false-positive.
        "SELECT update_time, created_at, delete_flag FROM users",
        "WITH inserted AS (SELECT 1 AS a) SELECT * FROM inserted",
        "SELECT 'INSERT INTO t' AS payload",  # verb inside a string literal
        "SELECT `insert` FROM t",  # quoted identifier is masked
    ],
)
def test_depth0_scan_no_false_positives(sql):
    check_read_only(sql)


@pytest.mark.parametrize(
    "sql, spans",
    [
        (r"SELECT r'a\', 'b'", [r"'a\'", "'b'"]),
        (r'SELECT R"C:\", 1', [r'"C:\"']),
        (r"SELECT r'it''s\'", [r"'it''s\'"]),
        # an r that ends a longer identifier is no raw prefix: the
        # backslash escapes the quote and the span runs on
        (r"SELECT tr'a\', 'b'", [r"'a\', '", "'"]),
        (r"SELECT _r'a\', 'b'", [r"'a\', '", "'"]),
        (r"SELECT `r`'a\', 'b'", ["`r`", r"'a\', '", "'"]),
    ],
)
def test_raw_literal_spans(sql, spans):
    from mcp_clickhouse_spark.sqltext import quoted_spans

    assert [sql[a:b] for a, b, _ in quoted_spans(sql)] == spans


def test_replace_function_call_allowed():
    """SELECT replace(col, 'a', 'b') is a builtin call, not REPLACE TABLE —
    the reference allows it under readonly=1 (advisor r2)."""
    check_read_only("SELECT replace(n_name, 'a', 'b') FROM nation")
    check_read_only("SELECT replace (n_name, 'a', 'b') FROM nation")


def test_show_create_table_allowed():
    """SHOW CREATE TABLE is a metadata read (advisor r2)."""
    check_read_only("SHOW CREATE TABLE nation")
    check_read_only("DESCRIBE nation")


def test_cte_insert_still_rejected():
    with pytest.raises(ReadOnlyViolation):
        check_read_only("WITH s AS (SELECT 1) INSERT INTO t SELECT * FROM s")


def test_replace_table_still_rejected():
    with pytest.raises(ReadOnlyViolation):
        check_read_only("REPLACE TABLE t AS SELECT 1")
    with pytest.raises(ReadOnlyViolation):
        check_read_only("WITH s AS (SELECT 1) DELETE FROM t WHERE 1=1")


def test_raw_literal_does_not_hide_the_rest_from_the_translator():
    from mcp_clickhouse_spark.dialect import translate

    out = translate(r"SELECT r'a\' AS s, toUInt8(1) AS t")
    assert out.startswith(r"SELECT r'a\' AS s, ") and "toUInt8" not in out
