"""Catalog metadata: the reference's Table/Column dataclasses realized over
spark.catalog (SURVEY.md §1.1-1.2, §2.1 A5-A7).

Field mapping (reference mcp_clickhouse/mcp_server.py:26-55):
  engine                → table provider/type (e.g. 'parquet', 'VIEW')
  create_table_query    → SHOW CREATE TABLE output (views/tables) or ''
  sorting_key/primary_key → '' (no MergeTree equivalent; bucket/sort spec
                            would go here for bucketed tables)
  total_rows/total_bytes → catalog stats when computed, else None
  parts/active_parts     → backing file count for external tables, else None
  total_marks            → None (no mark index in Spark)

The reference's N+1 per-table column query loop (:246-258) is collapsed:
one column read per table on the page only (§4.1 'improve').

Every read here runs on the driver and launches no Spark job.  PySpark's
``Catalog.listDatabases/listTables/listColumns/listFunctions`` walk the
JVM catalog Dataset with ``toLocalIterator()``, which runs one job per
partition (2-11 jobs and 100-200 ms per call); the catalog is metadata,
not analytics, so the listings come from SQL commands instead (``SHOW
DATABASES``, ``SHOW TABLES IN``: executed eagerly on the driver, their
result a local relation), and the columns from collecting the JVM
``listColumns`` Dataset, a ``LocalRelation`` whose collect reads its rows
in place.  Values are the same as the ``spark.catalog`` route's
(``tests/test_catalog_jobs.py`` pins both).  A name taken from a tool
argument enters a SQL command backtick-quoted (:func:`quote_ident`).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Any, List, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Column:
    database: str
    table: str
    name: str
    column_type: str
    default_kind: Optional[str] = None
    default_expression: Optional[str] = None
    comment: Optional[str] = None

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)


@dataclass
class Table:
    database: str
    name: str
    engine: str = ""
    create_table_query: str = ""
    dependencies_database: str = ""
    dependencies_table: str = ""
    engine_full: str = ""
    sorting_key: str = ""
    primary_key: str = ""
    total_rows: Optional[int] = None
    total_bytes: Optional[int] = None
    total_bytes_uncompressed: Optional[int] = None
    parts: Optional[int] = None
    active_parts: Optional[int] = None
    total_marks: Optional[int] = None
    comment: Optional[str] = None
    columns: List[Column] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        d = asdict(self)
        d["columns"] = [asdict(c) if not isinstance(c, dict) else c for c in self.columns]
        return d


def quote_ident(name: str) -> str:
    """One backtick-quoted SQL identifier, inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def list_database_names(spark: SparkSession) -> list[str]:
    return [r[0] for r in spark.sql("SHOW DATABASES").collect()]


def list_tables_in(
    spark: SparkSession, database: str | None = None
) -> list[tuple[str, bool]]:
    """``(name, is_temporary)`` of every table and view in ``database``
    (the current one when None), session temp views included — the rows
    ``spark.catalog.listTables`` returns, in its order."""
    sql = "SHOW TABLES" if database is None else f"SHOW TABLES IN {quote_ident(database)}"
    return [(r[1], r[2]) for r in spark.sql(sql).collect()]


def list_table_names(spark: SparkSession, database: str) -> list[str]:
    # Temp views live in the session namespace; global catalog tables under
    # their database. The reference's system.tables scan (:188) maps to both.
    return sorted(name for name, _ in list_tables_in(spark, database))


def _list_columns(spark: SparkSession, qualified: str) -> list:
    """The rows of ``spark.catalog.listColumns(qualified)`` (name,
    description, dataType, …), collected on the driver."""
    jds = spark._jsparkSession.catalog().listColumns(qualified)
    return DataFrame(jds.toDF(), spark).collect()


def _show_create(spark: SparkSession, database: str, name: str) -> str:
    for qualified in (f"{quote_ident(database)}.{quote_ident(name)}", quote_ident(name)):
        try:
            return spark.sql(f"SHOW CREATE TABLE {qualified}").collect()[0][0]
        except Exception:
            continue
    return ""


def _attach_stats(
    spark: SparkSession,
    database: str,
    name: str,
    table: Table,
    is_temp: bool = False,
) -> None:
    """Fill the MergeTree-analog physical metadata: total_rows/total_bytes
    from catalog statistics (populated by ANALYZE TABLE … COMPUTE
    STATISTICS), parts/active_parts = backing file count. Best-effort —
    temp views over in-memory frames have none of these.  ``is_temp``
    skips ``DESCRIBE EXTENDED``, which prints only the schema for a temp
    view, and the db-qualified attempts that are GUARANTEED to throw for
    one (each thrown Spark exception is a full analysis + Py4J round-trip
    — the system.tables sweep over a long session's hundreds of views
    paid ~6 of them per view, round 17).  Only the rows after
    ``# Detailed Table Information`` are table properties: the schema
    rows above it carry column names, and a column named ``Provider``
    must not become the engine."""
    import re as _re

    provider = num_buckets = None
    qualifieds = () if is_temp else (
        f"{quote_ident(database)}.{quote_ident(name)}", quote_ident(name)
    )
    for qualified in qualifieds:
        try:
            rows = spark.sql(f"DESCRIBE EXTENDED {qualified}").collect()
        except Exception:
            continue
        in_detail = False
        for r in rows:
            if r[0].startswith("#"):
                if in_detail:
                    break
                in_detail = r[0] == "# Detailed Table Information"
            elif not in_detail:
                continue
            elif r[0] == "Statistics":
                m = _re.search(r"(\d+)\s+bytes(?:,\s*(\d+)\s+rows)?", r[1] or "")
                if m:
                    table.total_bytes = int(m.group(1))
                    if m.group(2):
                        table.total_rows = int(m.group(2))
            elif r[0] == "Sort Columns":
                # bucketed-table sort spec — the closest Spark analog of
                # MergeTree's sorting_key (reference Table.sorting_key,
                # mcp_server.py:46-48)
                table.sorting_key = (r[1] or "").strip("[]").replace("`", "")
            elif r[0] == "Bucket Columns":
                table.primary_key = (r[1] or "").strip("[]").replace("`", "")
            elif r[0] == "Provider":
                provider = (r[1] or "").strip()
            elif r[0] == "Num Buckets":
                num_buckets = (r[1] or "").strip()
        break
    if provider:
        # engine = the storage provider (the MergeTree-analog slot:
        # reference Table.engine, mcp_server.py:30); engine_full adds the
        # managed/external type and the bucket-sort layout the way CH's
        # engine_full carries the ORDER BY/SETTINGS tail.
        ttype = table.engine  # tableType set by describe_table before this
        table.engine = provider
        full = f"{provider} {ttype}".strip()
        if table.primary_key:
            full += f" CLUSTERED BY ({table.primary_key})"
            if table.sorting_key:
                full += f" SORTED BY ({table.sorting_key})"
            if num_buckets:
                full += f" INTO {num_buckets} BUCKETS"
        table.engine_full = full
    try:
        files = spark.table(
            name if is_temp else f"{database}.{name}"
        ).inputFiles()
        table.parts = len(files)
        table.active_parts = len(files)
    except Exception:
        pass


def describe_table(spark: SparkSession, database: str, name: str) -> Table:
    meta = None
    for qualified in (f"{database}.{name}", name):
        try:
            meta = spark.catalog.getTable(qualified)
            break
        except Exception:
            continue
    table = Table(database=database, name=name)
    is_temp = False
    if meta is not None:
        table.engine = meta.tableType or ""
        table.engine_full = meta.tableType or ""
        table.comment = meta.description
        is_temp = (meta.tableType or "").upper() == "TEMPORARY"
    # SHOW CREATE TABLE cannot render a temp view (Spark
    # EXPECT_PERMANENT_VIEW_NOT_TEMP) — skip the two guaranteed-throw
    # attempts; the value was '' for temp views before too
    table.create_table_query = (
        "" if is_temp else _show_create(spark, database, name)
    )
    _attach_stats(spark, database, name, table, is_temp=is_temp)
    cols = []
    for qualified in ((name,) if is_temp else (f"{database}.{name}", name)):
        try:
            cols = _list_columns(spark, qualified)
            break
        except Exception:
            continue
    table.columns = [
        Column(
            database=database,
            table=name,
            name=c.name,
            column_type=c.dataType,
            comment=c.description,
        )
        for c in cols
    ]
    return table
