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
