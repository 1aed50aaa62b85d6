"""The engine facade: SQL execution, previews, saved queries.

Rebuild of the reference's query lifecycle (SURVEY §3.1):
``execute_sql_query → SQLManager.execute_query`` (tool:269-280,
1088-1111) becomes ``Engine.execute`` — dialect shim → ``spark.sql``
→ a *lazy* DataFrame (the reference materializes everything with
fetchall, tool:274; we only materialize the 100-row preview).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from sparketl.catalog import Catalog
from sparketl.dialect import parse_merge, split_statements, transpile
from sparketl.operators.relational import stringify_for_display

PREVIEW_ROWS = 100  # tool:619, 846


class QueryError(Exception):
    pass


class Engine:
    """One engine instance per SparkSession (the reference's
    SQLManager held one pyodbc connection, tool:108-138)."""

    def __init__(self, spark: SparkSession, saved_queries_path: str | None = None):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.saved_queries_path = saved_queries_path or os.path.join(
            os.getcwd(), "saved_queries.json"
        )
        self.last_result: DataFrame | None = None  # tool:427-428, 1106-1107
        self.managed_tables: dict = {}  # MERGE targets, name → ManagedTable

    def register_managed(self, name: str, table) -> None:
        """Expose a ManagedTable to SQL statements that need row-level
        writes (currently MERGE — plain parquet has no v2 row-level
        catalog, so `spark.sql` cannot serve those)."""
        self.managed_tables[name.lower()] = table

    # -- Tier C pass-through (tool:269-280) ---------------------------------
    def execute(
        self,
        sql: str,
        database: str | None = None,
        params: list | dict | None = None,
    ) -> DataFrame:
        """Run SQL (T-SQL spellings accepted via the dialect shim).

        ``params`` binds parameter markers the way the reference's
        pyodbc path does (FLT-04, tool:1067-1075 passes user values as
        ``?`` placeholders, never string-spliced): a list binds
        positional ``?`` markers, a dict binds named ``:name`` markers.
        Spark substitutes them AFTER parsing — same injection-safety
        contract as the server-side prepared statement.

        Empty-query guard mirrors tool:1093-1095. The result is a lazy
        DataFrame — callers preview/aggregate/write it without a full
        client-side materialization.
        """
        if not sql or not sql.strip():
            raise QueryError("Query is empty")  # tool:1093-1095
        if database:
            self.catalog.use_database(database)  # tool:272 → 146-153
        spec = parse_merge(sql)
        if spec is not None:
            if params is not None:
                # The MERGE path executes through ManagedTable's
                # builder, not spark.sql(..., args=...), so bound
                # params would be silently dropped and the '?'/' :name'
                # markers would surface later as opaque Spark
                # expression parse errors. Refuse up front (FLT-04
                # binds apply to query statements only).
                raise QueryError(
                    "MERGE statements do not support bound parameters; "
                    "inline literal values in the MERGE text"
                )
            return self._execute_merge(spec)
        if params is None:
            df = self.spark.sql(transpile(sql))
        else:
            df = self.spark.sql(transpile(sql), args=params)
        self.last_result = df
        return df

    def _execute_merge(self, spec: dict) -> DataFrame:
        """Execute a parsed MERGE statement against a registered
        ManagedTable (see ``dialect.parse_merge`` for the grammar).
        Returns a one-row (version BIGINT) DataFrame — the statement's
        committed table version, the analogue of pyodbc's rowcount-only
        DML result."""
        target = self.managed_tables.get(spec["target"].lower())
        if target is None:
            raise QueryError(
                f"MERGE target '{spec['target']}' is not a registered "
                "managed table (Engine.register_managed)"
            )
        if spec["source_subquery"] is not None:
            source = self.spark.sql(transpile(spec["source_subquery"]))
        else:
            name = spec["source_table"]
            reg = self.managed_tables.get(name.lower())
            source = reg.read() if reg is not None else self.spark.table(name)
        builder = target.merge(source, spec["condition"])
        table_cols = [f.name for f in target.schema().fields]
        for category, action, payload, cond in spec["clauses"]:
            if action == "delete":
                if category == "matched":
                    builder.when_matched_delete(cond)
                else:
                    builder.when_not_matched_by_source_delete(cond)
            elif action == "update":
                if category == "matched":
                    builder.when_matched_update(payload, cond)
                else:
                    builder.when_not_matched_by_source_update(payload, cond)
            else:  # insert
                if isinstance(payload, list):  # positional VALUES
                    if len(payload) != len(table_cols):
                        raise QueryError(
                            "INSERT VALUES without a column list must match "
                            f"the table's {len(table_cols)} columns"
                        )
                    payload = dict(zip(table_cols, payload))
                builder.when_not_matched_insert(payload, cond)
        version = builder.execute()
        # an Arrow-built frame is a local relation: collecting it runs no
        # job (a Python list would become a Python RDD)
        df = self.spark.createDataFrame(
            pa.table({"version": pa.array([version], pa.int64())})
        )
        self.last_result = df
        return df

    def execute_script(
        self, script: str, database: str | None = None
    ) -> list[DataFrame]:
        """Run a multi-statement batch: statements split on ``;`` using
        the dialect lexer (semicolons inside string literals, bracket
        identifiers, or comments never split), each executed in order
        through the same shim path. Returns one DataFrame per
        statement — the reference's users paste T-SQL batches, and
        sequential semantics (later statements see earlier DDL/USE)
        match the server behavior."""
        stmts = split_statements(script)
        if not stmts:
            raise QueryError("Query is empty")
        return [self.execute(stmt, database=database) for stmt in stmts]

    # -- preview (tool:616-626, 843-853): first 100 rows, stringified ------
    def preview(self, df: DataFrame | None = None, n: int = PREVIEW_ROWS):
        df = df if df is not None else self.last_result
        if df is None:
            raise QueryError("No query has been executed")
        return stringify_for_display(df.limit(n)).toPandas()

    # -- saved-query store (SNK-05, tool:1379-1395) -------------------------
    def load_saved_queries(self) -> dict[str, str]:
        if os.path.exists(self.saved_queries_path):
            with open(self.saved_queries_path, encoding="utf-8") as f:
                return json.load(f)
        return {}

    def save_query(self, name: str, sql: str) -> None:
        queries = self.load_saved_queries()
        queries[name] = sql
        with open(self.saved_queries_path, "w", encoding="utf-8") as f:
            json.dump(queries, f, indent=2)

    def delete_saved_query(self, name: str) -> None:
        queries = self.load_saved_queries()
        queries.pop(name, None)
        with open(self.saved_queries_path, "w", encoding="utf-8") as f:
            json.dump(queries, f, indent=2)
