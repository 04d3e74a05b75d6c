"""JDBC warehouse sink (S5) — the relational-warehouse family of the
destination catalog mapped onto `df.write.jdbc` + a staging-table MERGE.

Reference: the catalog's postgres/mysql/redshift entries
(`webapps/console/lib/schema/destinations.tsx:369-616`) share bulker's
batch contract (`destinations.tsx:134-147`): `deduplicate: true` upserts
on `primaryKey` with newest-`timestampColumn` wins. Bulker implements
that against SQL warehouses as load-into-temp-table + MERGE; the same
shape here:

1. the batch is reduced to one row per key (max_by on the timestamp — a
   partial-agg-friendly aggregate, same helper the parquet sink uses),
2. written to `<table>__stage` via the parallel JDBC writer (each Spark
   partition holds one connection — executor-side, nothing driver-routed),
3. one `MERGE INTO ... WHEN MATCHED AND stage.ts >= target.ts` statement
   promotes the stage (a control-plane call; the data never leaves the DB),
4. the stage is dropped.

Scale notes: writes parallelize per Spark partition (use
`df.repartition(n)` to bound connection count); reads accept
partitionColumn/numPartitions so a big table scan fans out instead of
serializing through one cursor. Tested against the Derby embedded driver
that ships with Spark; any server-side JDBC URL (postgres/mysql/redshift)
drops in via config — MERGE is ANSI, with a dialect hook for
ON CONFLICT/REPLACE variants.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .sinks import DEFAULT_PRIMARY_KEY, WarehouseSink, _latest_per_key

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# destinations.tsx ids that are relational (JDBC) warehouses
JDBC_FAMILIES = {"postgres", "mysql", "redshift", "derby"}


def _check_ident(name: str) -> str:
    if not _IDENT.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


class JdbcWarehouseSink:
    """WarehouseSink semantics over a JDBC database."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        properties: dict | None = None,
        key_string_type: str = "VARCHAR(256)",
        string_type: str = "VARCHAR(4096)",
    ):
        self.spark = spark
        self.url = url
        self.properties = properties or {}
        self.key_string_type = key_string_type
        self.string_type = string_type

    # -- connection plumbing (driver-side control plane only) ----------

    def _connection(self):
        jvm = self.spark._jvm
        driver = self.properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        jprops = jvm.java.util.Properties()
        for k, v in self.properties.items():
            if k != "driver":
                jprops.setProperty(k, str(v))
        return jvm.java.sql.DriverManager.getConnection(self.url, jprops)

    def _execute(self, sql: str) -> int:
        conn = self._connection()
        try:
            st = conn.createStatement()
            try:
                return st.executeUpdate(sql)
            finally:
                st.close()
        finally:
            conn.close()

    def exists(self, table: str) -> bool:
        """Case-insensitive existence probe. Databases fold unquoted
        identifiers differently (Derby/Oracle UPPER, postgres/mysql
        lower); probing only one case reports existing tables as missing
        on the other family — and a false negative here would route
        upsert() through CREATE/overwrite, silently dropping data. Probe
        the dialect's stored case first (DatabaseMetaData.storesUpper/
        LowerCaseIdentifiers), then both spellings."""
        name = _check_ident(table)
        conn = self._connection()
        try:
            md = conn.getMetaData()
            candidates = []
            try:
                if md.storesUpperCaseIdentifiers():
                    candidates.append(name.upper())
                if md.storesLowerCaseIdentifiers():
                    candidates.append(name.lower())
            except Exception:
                pass  # driver without metadata support: fall through
            for cand in [*candidates, name.upper(), name.lower(), name]:
                rs = md.getTables(None, None, cand, None)
                try:
                    if rs.next():
                        return True
                finally:
                    rs.close()
            return False
        finally:
            conn.close()

    # -- reads ---------------------------------------------------------

    def read(
        self,
        table: str,
        partition_column: str | None = None,
        num_partitions: int | None = None,
        lower_bound=None,
        upper_bound=None,
    ) -> DataFrame:
        """Parallel read when partition bounds are given (one cursor per
        partition range); single-cursor otherwise."""
        reader = self.spark.read
        if partition_column is not None:
            return reader.jdbc(
                self.url,
                _check_ident(table),
                column=partition_column,
                lowerBound=lower_bound,
                upperBound=upper_bound,
                numPartitions=num_partitions or 8,
                properties=self.properties,
            )
        return reader.jdbc(self.url, _check_ident(table), properties=self.properties)

    # -- writes --------------------------------------------------------

    def _column_types(self, df: DataFrame, pk: list[str]) -> str:
        """String columns become VARCHAR (comparable/indexable) rather than
        the dialect's LOB default — key columns must be MERGE-comparable."""
        parts = []
        for f in df.schema.fields:
            if f.dataType.simpleString() == "string":
                t = self.key_string_type if f.name in pk else self.string_type
                parts.append(f"{_check_ident(f.name)} {t}")
        return ", ".join(parts)

    def append(self, df: DataFrame, table: str, primary_key: list[str] | None = None):
        pk = primary_key or DEFAULT_PRIMARY_KEY
        (
            df.write.option("createTableColumnTypes", self._column_types(df, pk))
            .jdbc(self.url, _check_ident(table), mode="append", properties=self.properties)
        )

    def upsert(
        self,
        df: DataFrame,
        table: str,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
    ) -> None:
        """MERGE-by-primary-key, newest timestamp wins — bulker's
        deduplicate:true contract against a SQL warehouse."""
        pk = [_check_ident(k) for k in (primary_key or DEFAULT_PRIMARY_KEY)]
        table = _check_ident(table)
        _check_ident(timestamp_col)
        batch = _latest_per_key(df, pk, timestamp_col)
        col_types = self._column_types(batch, pk)

        if not self.exists(table):
            (
                batch.write.option("createTableColumnTypes", col_types)
                .jdbc(self.url, table, mode="overwrite", properties=self.properties)
            )
            return

        stage = f"{table}__stage"
        (
            batch.write.option("createTableColumnTypes", col_types)
            .jdbc(self.url, stage, mode="overwrite", properties=self.properties)
        )
        try:
            cols = [_check_ident(c) for c in batch.columns]
            non_key = [c for c in cols if c not in pk]
            on = " AND ".join(f't."{k}" = s."{k}"' for k in pk)
            sets = ", ".join(f't."{c}" = s."{c}"' for c in non_key)
            ins_cols = ", ".join(f'"{c}"' for c in cols)
            ins_vals = ", ".join(f's."{c}"' for c in cols)
            self._execute(
                f"MERGE INTO {table} t USING {stage} s ON {on} "
                f'WHEN MATCHED AND s."{timestamp_col}" >= t."{timestamp_col}" '
                f"THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
            )
        finally:
            self._execute(f"DROP TABLE {stage}")

    def purge_user(
        self, table: str, user_id, user_col: str = "user_id"
    ) -> dict:
        """Erase one user's rows (GDPR/CCPA data-plane half, round 9):
        executes the generated ANSI DELETE (`sinks_cloud.
        erasure_statements`) and returns the audit dict in the same
        shape as the parquet path's `purge_user_from_table` —
        `partitions_touched` is 0 because a relational DELETE is
        statement-scoped, not partition-scoped."""
        from .sinks_cloud import erasure_statements

        table = _check_ident(table)
        _check_ident(user_col)
        if not self.exists(table):
            return {"table": table, "rows_deleted": 0, "partitions_touched": 0}
        # Spark's JDBC writer quotes (case-preserves) column names, so
        # the ANSI dialect's quoted-column predicate matches the stored
        # schema exactly — same convention as upsert's MERGE.
        deleted = 0
        for sql in erasure_statements("ansi", table, user_id, user_col):
            deleted += self._execute(sql)
        return {
            "table": table,
            "rows_deleted": deleted,
            "partitions_touched": 0,
        }

    def write_routed(
        self,
        df: DataFrame,
        table_col: str = "_table",
        deduplicate: bool = True,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
    ) -> list[str]:
        """Multi-table routing (bulker-destination.ts:340-385) against the
        JDBC warehouse: one upsert/append per routed table."""
        from pyspark.sql import functions as F

        df = df.cache()
        try:
            tables = [r[0] for r in df.select(table_col).distinct().collect()]
            if None in tables:
                # refuse the batch before any write: `_unroutable` (the
                # parquet sink's quarantine) is not a valid unquoted Derby
                # identifier, and upsert(None) would fail mid fan-out
                n = df.where(F.col(table_col).isNull()).count()
                raise ValueError(
                    f"{n} row(s) have a null routing column {table_col!r}; "
                    "the JDBC warehouse has no quarantine table"
                )
            for t in tables:
                part = df.where(F.col(table_col) == t).drop(table_col)
                if deduplicate:
                    self.upsert(part, t, primary_key, timestamp_col)
                else:
                    self.append(part, t, primary_key)
            return tables
        finally:
            df.unpersist()


def make_warehouse_sink(spark: SparkSession, config: dict):
    """Destination-catalog dispatch (S5): a connection config selects its
    warehouse implementation the way `destinationType` does in
    `destinations.tsx:369-616` — relational ids get the JDBC sink, the
    lake/columnar ids get the parquet-directory sink."""
    dtype = config.get("destinationType", "")
    if dtype in JDBC_FAMILIES:
        return JdbcWarehouseSink(
            spark,
            url=config["url"],
            properties=config.get("properties"),
        )
    return WarehouseSink(
        spark,
        base_dir=config["directory"],
        schema_freeze=bool(config.get("schemaFreeze", False)),
    )
