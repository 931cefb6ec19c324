"""The served metadata path launches no Spark job, and returns what the
``spark.catalog.list*`` route returned.

``catalog.py`` reads databases, tables and columns on the driver (SQL
commands and a collected ``LocalRelation``) instead of PySpark's
``toLocalIterator()`` listings, and every ``system.*`` catalog view is a
``LocalRelation`` built by ``system_tables.local_frame``.  Jobs are counted
per job group with ``statusTracker().getJobIdsForGroup`` after the listener
bus has drained.
"""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException

from mcp_clickhouse_spark.catalog import (
    describe_table,
    list_database_names,
    list_table_names,
    list_tables_in,
)
from mcp_clickhouse_spark.sources.system_tables import (
    bind_system_tables,
    local_frame,
    spark_function_names,
)
from mcp_clickhouse_spark.tools import list_databases, list_tables

DB = "catjobs_db"

# The _system_* schemas as the views were declared before they became
# local relations.
SYSTEM_DDL = {
    "one": "dummy tinyint",
    "databases": "name string, engine string",
    "tables": (
        "database string, name string, engine string, engine_full string, "
        "sorting_key string, primary_key string, create_table_query string, "
        "comment string"
    ),
    "columns": (
        "database string, table string, name string, type string, "
        "position int, comment string"
    ),
    "functions": (
        "name string, is_aggregate tinyint, case_insensitive tinyint, "
        "alias_to string, origin string"
    ),
    "processes": "query_id string, user string, elapsed double, query string",
}


@pytest.fixture(scope="module")
def catalog(spark):
    """Temp views, a commented + ANALYZEd parquet table, a bucketed table
    and char/varchar/decimal/struct/array columns."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {DB}.typed (
            a INT COMMENT 'col a', b CHAR(5), c VARCHAR(7), d DECIMAL(15,2),
            s STRUCT<x: INT, y: ARRAY<STRING>>, arr ARRAY<INT>)
        USING PARQUET COMMENT 'typed table'
        """
    )
    spark.sql(
        f"INSERT INTO {DB}.typed SELECT id, 'ab', 'xyz', id * 1.25, "
        "named_struct('x', id, 'y', array('q')), array(id) FROM range(20)"
    )
    spark.sql(f"ANALYZE TABLE {DB}.typed COMPUTE STATISTICS")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {DB}.bucketed
        USING PARQUET CLUSTERED BY (k) SORTED BY (s) INTO 4 BUCKETS
        AS SELECT id % 10 AS k, id AS s, id * 2 AS v FROM range(100)
        """
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW catjobs_tv AS SELECT "
        "CAST('a' AS CHAR(5)) AS c5, CAST('b' AS VARCHAR(9)) AS v9, "
        "CAST(1.5 AS DECIMAL(15,2)) AS d, named_struct('x', 1, 'y', array('q')) AS s"
    )
    spark.range(3).createOrReplaceTempView("catjobs_range")
    yield DB
    for view in ("catjobs_tv", "catjobs_range", *(f"_system_{v}" for v in SYSTEM_DDL)):
        spark.catalog.dropTempView(view)
    spark.sql(f"DROP TABLE IF EXISTS {DB}.typed")
    spark.sql(f"DROP TABLE IF EXISTS {DB}.bucketed")
    spark.sql(f"DROP DATABASE IF EXISTS {DB}")


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"catjobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_counter_sees_the_listing_jobs(spark, catalog):
    # the old route runs jobs, so a 0 below is not a blind counter
    _, n = _jobs(spark, lambda: spark.catalog.listColumns(f"{DB}.typed"))
    assert n > 0


def test_metadata_reads_run_no_jobs(spark, catalog):
    for db, name in [(DB, "typed"), (DB, "bucketed"), ("default", "catjobs_tv"),
                     ("default", "catjobs_range")]:
        _, n = _jobs(spark, lambda: describe_table(spark, db, name))
        assert n == 0, (db, name)
    _, n = _jobs(spark, lambda: list_databases(spark))
    assert n == 0
    for db in (DB, "default"):
        token = None
        while True:
            page, n = _jobs(spark, lambda: list_tables(spark, db, page_token=token, page_size=2))
            assert n == 0, db
            token = page["next_page_token"]
            if not token:
                break
    for sql in ("SELECT * FROM system.columns", "SELECT * FROM system.tables",
                "SELECT * FROM system.databases", "SELECT * FROM system.functions",
                "SELECT * FROM system.one", "SELECT * FROM system.processes"):
        _, n = _jobs(spark, lambda: bind_system_tables(spark, sql))
        assert n == 0, sql


def test_system_views_are_local_relations_with_unchanged_schemas(spark, catalog):
    from pyspark.sql.types import StructType

    bind_system_tables(spark, "SELECT * FROM " + ", ".join(f"system.{v}" for v in SYSTEM_DDL))
    for view, ddl in SYSTEM_DDL.items():
        df = spark.table(f"_system_{view}")
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation", view
        assert df.schema == StructType.fromDDL(ddl), view


def test_local_frame_matches_create_data_frame(spark):
    ddl = "name string, n int, t tinyint, x double"
    for rows in ([], [("a", 1, 2, 0.5), (None, None, None, None), ("b", -3, 127, 1e300)]):
        new, old = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
        assert new.schema == old.schema
        assert new.collect() == old.collect()


def test_listings_match_spark_catalog(spark, catalog):
    assert list_database_names(spark) == [d.name for d in spark.catalog.listDatabases()]
    for db in (DB, "default", "global_temp", None):
        old = [(t.name, t.isTemporary) for t in (
            spark.catalog.listTables() if db is None else spark.catalog.listTables(db)
        )]
        assert list_tables_in(spark, db) == old, db
        if db is not None:
            assert list_table_names(spark, db) == sorted(n for n, _ in old)


def test_missing_database_raises_same_error_class(spark, catalog):
    with pytest.raises(AnalysisException) as old:
        spark.catalog.listTables("catjobs_no_such_db")
    with pytest.raises(AnalysisException) as new:
        list_table_names(spark, "catjobs_no_such_db")
    assert new.value.getCondition() == old.value.getCondition() == "SCHEMA_NOT_FOUND"


def test_describe_columns_match_list_columns(spark, catalog):
    for db, name, qualified in [(DB, "typed", f"{DB}.typed"), (DB, "bucketed", f"{DB}.bucketed"),
                                ("default", "catjobs_tv", "catjobs_tv")]:
        old = [(c.name, c.dataType, c.description) for c in spark.catalog.listColumns(qualified)]
        got = [(c.name, c.column_type, c.comment) for c in describe_table(spark, db, name).columns]
        assert got == old, name
    typed = describe_table(spark, DB, "typed")
    assert [c.column_type for c in typed.columns] == [
        "int", "string", "string", "decimal(15,2)", "struct<x:int,y:array<string>>", "array<int>",
    ]
    assert typed.comment == "typed table" and typed.columns[0].comment == "col a"
    assert typed.engine == "PARQUET" and typed.engine_full == "PARQUET MANAGED"
    assert typed.total_rows == 20 and typed.total_bytes and typed.parts
    bucketed = describe_table(spark, DB, "bucketed")
    assert bucketed.engine_full == "PARQUET MANAGED CLUSTERED BY (k) SORTED BY (s) INTO 4 BUCKETS"


def test_function_names_match_list_functions(spark):
    spark.udf.register("catjobs_udf", lambda x: x, "int")
    try:
        assert spark_function_names(spark) == [f.name for f in spark.catalog.listFunctions()]
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS catjobs_udf")


def test_table_property_names_as_columns_stay_columns(spark, catalog):
    """DESCRIBE EXTENDED lists the schema before the table properties; a
    column named like a property must not fill the property."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW catjobs_props AS SELECT 'x' AS Provider, "
        "1 AS `Sort Columns`, 2 AS `Bucket Columns`, '3' AS Statistics"
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {DB}.props (Provider STRING, `Sort Columns` INT, "
        "`Bucket Columns` INT, `Num Buckets` INT, Statistics STRING) USING PARQUET"
    )
    try:
        tv = describe_table(spark, "default", "catjobs_props")
        assert (tv.engine, tv.engine_full, tv.sorting_key, tv.primary_key) == (
            "TEMPORARY", "TEMPORARY", "", "")
        assert tv.total_bytes is None and tv.total_rows is None
        tb = describe_table(spark, DB, "props")
        assert (tb.engine, tb.engine_full, tb.sorting_key, tb.primary_key) == (
            "PARQUET", "PARQUET MANAGED", "", "")
        assert [c.name for c in tb.columns][:2] == ["Provider", "Sort Columns"]
    finally:
        spark.catalog.dropTempView("catjobs_props")
        spark.sql(f"DROP TABLE IF EXISTS {DB}.props")


_JOB_LISTINGS = {"listDatabases", "listTables", "listColumns", "listFunctions"}


def test_no_module_uses_the_per_partition_catalog_listings():
    """``spark.catalog.listDatabases/listTables/listColumns/listFunctions``
    run one Spark job per partition of the catalog Dataset; the package
    reads the catalog through ``catalog.py`` instead."""
    root = Path(__file__).resolve().parents[1] / "mcp_clickhouse_spark"
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in _JOB_LISTINGS
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "catalog"
            ):
                hits.append(f"{path.relative_to(root.parent)}:{node.lineno} .catalog.{node.attr}")
    assert not hits, hits
