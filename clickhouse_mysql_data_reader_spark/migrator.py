"""End-to-end table migration (K9) — the reference's
``migrate_all_tables`` / ``migrate_all_tables_data`` loop
(tablemigrator.py:121-178) composed from the engine's pieces:

discover tables -> generate DDL -> execute it against the Spark
catalog -> partitioned read -> column policy -> write -> count
reconciliation.  Count reconciliation is the reference's own
acceptance method (docs/manual.md:436-443: compare MySQL COUNT(*)
with ClickHouse COUNT(*) after migration).

Scale shape: each table is one distributed read -> one distributed
write; the driver only touches table *names* and *counts*. Tables
bound for DIFFERENT destinations migrate concurrently from driver
threads (``util.overlap_jobs``); tables sharing a destination (a
``--dst-table`` fan-in, or the one ``--dst-file``) migrate serially in
sorted order, so no two writes ever land in one directory at once.
Measured on 4 cores with five small TPC-H-shaped tables (the
``land_query`` benchmark workload), overlap lifted landing throughput
by about 60%: each table's write is a single task over one
small file, and its DDL, ``MSCK REPAIR`` and two counts are driver-
bound, so a serial loop leaves most executor slots idle. Under FIFO
scheduling one large table still fills every slot by itself, so the
gain is for tables that are small or have a single input split; at
100 TB per-table parallelism remains the lever.
"""

from __future__ import annotations

import functools
import os
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from clickhouse_mysql_data_reader_spark.catalog.names import (
    NameResolver,
    create_full_table_name,
)
from clickhouse_mysql_data_reader_spark.config import AppConfig
from clickhouse_mysql_data_reader_spark.schema.ddl import (
    create_database_ddl,
    create_table_ddl,
    create_table_json,
    elect_partition_date_field,
    schema_to_columns,
)
from clickhouse_mysql_data_reader_spark.sinks.batch import write_csv, write_parquet
from clickhouse_mysql_data_reader_spark.sources.csv import read_csv
from clickhouse_mysql_data_reader_spark.sources.jdbc import (
    JdbcSourceConfig,
    discover_tables,
    read_table,
)
from clickhouse_mysql_data_reader_spark.sources.parquet import load_table
from clickhouse_mysql_data_reader_spark.transforms.row_ops import (
    apply_defaults,
    empty_string_to_null,
    skip_columns,
)
from clickhouse_mysql_data_reader_spark.util import overlap_jobs

# Catalog statements (CREATE DATABASE/TABLE, MSCK REPAIR TABLE) from
# concurrently migrating tables run one at a time.
_CATALOG_LOCK = threading.Lock()


@dataclass
class MigrationReport:
    """One table's migration outcome; ``reconciled`` is the acceptance
    bit (src/dst COUNT(*) equality, docs/manual.md:436-443)."""

    src_db: str
    src_table: str
    dst_db: str
    dst_table: str
    location: str | None
    ddl: str | None
    src_rows: int
    dst_rows: int

    @property
    def reconciled(self) -> bool:
        return self.src_rows == self.dst_rows

    def as_dict(self) -> dict:
        return {
            "src": f"{self.src_db}.{self.src_table}",
            "dst": f"{self.dst_db}.{self.dst_table}",
            "location": self.location,
            "src_rows": self.src_rows,
            "dst_rows": self.dst_rows,
            "reconciled": self.reconciled,
        }


class Migrator:
    """Wires AppConfig into the discover->DDL->copy->reconcile loop."""

    def __init__(self, spark: SparkSession, cfg: AppConfig):
        self.spark = spark
        self.cfg = cfg
        self.resolver = NameResolver(
            dst_schema=cfg.dst.schema,
            dst_table=cfg.dst.table,
            dst_table_prefix=cfg.dst.table_prefix,
            distribute=cfg.dst.distribute,
        )

    # -- discovery ---------------------------------------------------------

    def discover(self) -> dict[str, list[str]]:
        src = self.cfg.src
        if src.parquet_dir:
            db = src.schemas[0] if src.schemas else os.path.basename(
                src.parquet_dir.rstrip("/")
            ).replace(".", "_")
            names = sorted(
                f[: -len(".parquet")]
                for f in os.listdir(src.parquet_dir)
                if f.endswith(".parquet")
            )
            # union-of-inclusions over the FULL discovered list, same
            # semantics as the JDBC path (jdbc.match_tables): a table
            # kept by EITHER --src-tables OR a prefix survives
            if src.tables or src.tables_prefixes:
                keep = {t for t in names if t in src.tables} | {
                    t
                    for t in names
                    if any(t.startswith(p) for p in src.tables_prefixes)
                }
                names = sorted(keep)
            return {db: names}
        if src.file:
            table = os.path.splitext(os.path.basename(src.file))[0]
            return {(src.schemas[0] if src.schemas else "default"): [table]}
        if src.jdbc_url:
            return discover_tables(
                self.spark,
                self._jdbc_cfg(),
                dbs=src.schemas,
                tables=src.tables or None,
                prefixes=src.tables_prefixes or None,
            )
        raise ValueError("no source configured (src-host / src-file / src-parquet-dir)")

    def _jdbc_cfg(self) -> JdbcSourceConfig:
        src = self.cfg.src
        return JdbcSourceConfig(url=src.jdbc_url, user=src.user, password=src.password)

    # -- read --------------------------------------------------------------

    def read_source(self, db: str, table: str) -> DataFrame:
        src = self.cfg.src
        if src.parquet_dir:
            df = load_table(self.spark, src.parquet_dir, table)
            where = src.where_for(table)
            return df.filter(where) if where else df
        if src.file:
            return read_csv(self.spark, src.file)
        return read_table(
            self.spark,
            self._jdbc_cfg(),
            db,
            table,
            skip_columns=self.cfg.columns.skip or None,
            where=src.where_for(table),
            partition_column=src.partition_column,
            lower_bound=src.lower_bound,
            upper_bound=src.upper_bound,
            num_partitions=src.num_partitions,
        )

    def apply_column_policy(self, df: DataFrame) -> DataFrame:
        pol = self.cfg.columns
        if pol.skip:
            df = skip_columns(df, pol.skip)
        if pol.empty_string_as_null:
            df = empty_string_to_null(df)
        if pol.defaults:
            df = apply_defaults(df, pol.defaults)
        return df

    # -- DDL ---------------------------------------------------------------

    def ddl_for(self, db: str, table: str, df: DataFrame, location: str | None) -> str:
        dst_db, dst_table = self.resolver.resolve(db, table)
        cols = schema_to_columns(df.schema)
        stmts = []
        if self.cfg.with_create_database:
            stmts.append(create_database_ddl(dst_db))
        stmts.append(
            create_table_ddl(dst_db, dst_table, cols, location=location)
        )
        return ";\n".join(stmts)

    def json_template_for(self, db: str, table: str, df: DataFrame) -> str:
        dst_db, dst_table = self.resolver.resolve(db, table)
        return create_table_json(dst_db, dst_table, schema_to_columns(df.schema))

    # -- migrate -----------------------------------------------------------

    def migrate_table(self, db: str, table: str) -> MigrationReport:
        spark, cfg = self.spark, self.cfg
        dst_db, dst_table = self.resolver.resolve(db, table)
        df = self.apply_column_policy(self.read_source(db, table))
        date_col = elect_partition_date_field(schema_to_columns(df.schema))

        location = None
        if cfg.dst.parquet_dir:
            location = os.path.join(cfg.dst.parquet_dir, dst_db, dst_table)
        ddl = self.ddl_for(db, table, df, location) if cfg.dst.create_table else None

        if cfg.dry:
            return MigrationReport(
                db, table, dst_db, dst_table, location, ddl,
                src_rows=df.count(), dst_rows=0,
            )

        src_rows = df.count()
        if cfg.dst.file:
            write_csv(df, cfg.dst.file)
            dst_rows = spark.read.option("header", True).csv(cfg.dst.file).count()
            return MigrationReport(
                db, table, dst_db, dst_table, cfg.dst.file, ddl, src_rows, dst_rows
            )

        if location is None:
            raise ValueError("no destination configured (dst-parquet-dir / dst-file)")
        write_parquet(df, location, date_col=date_col)

        if ddl:
            # land the table in the catalog over the files just written,
            # then sync partitions (tablemigrator.py:136-158's CREATE
            # DATABASE/TABLE step, Spark-style)
            full = create_full_table_name(dst_db, dst_table)
            with _CATALOG_LOCK:
                for stmt in ddl.split(";\n"):
                    spark.sql(stmt)
                if date_col:
                    spark.sql(f"MSCK REPAIR TABLE {full}")
                else:
                    # the table may already exist (a fan-in, a re-run) with
                    # a cached file listing that misses the files just
                    # written; MSCK REPAIR refreshes it for partitioned ones
                    spark.catalog.refreshTable(full)
            dst_rows = spark.table(full).count()
        else:
            dst_rows = spark.read.parquet(location).count()
        return MigrationReport(
            db, table, dst_db, dst_table, location, ddl, src_rows, dst_rows
        )

    def check_drift(self, db: str, table: str):
        """Schema drift between the CURRENT source table and what was
        previously landed at the destination: `schema_diff(landed,
        current)` (schema/drift.py), [] when nothing changed.

        The mechanical replacement for the reference's diff-DESCRIBE-
        by-eye re-migration workflow: run before an incremental
        re-land; all-safe changes (nullable adds, lossless widenings)
        can proceed via parquet schema merge, any unsafe one means
        re-migrate. Nullability verdicts reflect what the engines
        REPORT (landed parquet reads back nullable), so type changes
        are the primary signal here.
        """
        from clickhouse_mysql_data_reader_spark.schema.drift import schema_diff

        if not self.cfg.dst.parquet_dir:
            raise ValueError("check_drift: needs dst-parquet-dir (landed schema)")
        dst_db, dst_table = self.resolver.resolve(db, table)
        location = os.path.join(self.cfg.dst.parquet_dir, dst_db, dst_table)
        landed = self.spark.read.parquet(location).schema
        current = self.apply_column_policy(self.read_source(db, table)).schema
        return schema_diff(landed, current)

    def _destination(self, db: str, table: str):
        """What two tables must not write at the same time: the one
        ``--dst-file`` every table writes, else the resolved table (the
        fan-in rule ``start_pump`` groups by)."""
        return self.cfg.dst.file or self.resolver.resolve(db, table)

    def migrate_all(self) -> list[MigrationReport]:
        """The per-table loop of tablemigrator.py:121-178, run as one
        serial loop per destination with the destinations overlapped.
        Reports come back in discovery order. A failure ends its own
        destination's loop; once every loop has ended, the error of the
        first failed destination (in sorted order) raises."""
        order = [
            (db, table)
            for db, tables in sorted(self.discover().items())
            for table in tables
        ]
        groups: dict = {}
        for db, table in sorted(order):
            groups.setdefault(self._destination(db, table), []).append((db, table))

        def migrate_group(group: list[tuple[str, str]]) -> dict:
            return {key: self.migrate_table(*key) for key in group}

        done: dict = {}
        for reports in overlap_jobs(
            {dest: functools.partial(migrate_group, g) for dest, g in groups.items()},
            max_workers=self.spark.sparkContext.defaultParallelism,
        ).values():
            done.update(reports)
        return [done[key] for key in order]
