"""land_query: land source tables with the Migrator, then query them.

Set-up generates TPC-H-shaped source tables (the TESTDATA schemas, with
dates over many months) and warms up on a smaller source of the same
shape. The timed phase is one cycle with one caller:
``Migrator.migrate_all`` lands every table into a fresh destination
(DDL, month partitions, count reconciliation), then the analytic
queries of ``bench.py``'s HEADLINE that have a DuckDB oracle run over
the tables just landed. The check compares the landing with the
generated row counts and every query result with its oracle run on the
generated source.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from common import tree_size

SF = 0.02
WARM_SF = 0.002
# bench.py HEADLINE members that read the landed tables and have an
# oracle; the text, embedding and bucketed-table members read tables
# this workload does not land.
QUERIES = (
    "q1_pricing_summary",
    "join_shuffle_fact_fact",
    "join_broadcast_dim",
    "window_topn_per_group",
    "agg_rollup",
    "topk_global",
    "join_asof_attrib",
    "window_session_gaps",
    "cdc_apply_final_state",
    "dedup_latest_wins",
)


class LandQuery:
    def __init__(self, ctx):
        self.ctx = ctx
        self.src_dir = os.path.join(ctx.work, "source")
        self.warm_dir = os.path.join(ctx.work, "warm")

    def generate(self) -> dict:
        src = gen.gen_tpch(self.ctx.seed, SF)
        gen.write_tpch(src["tables"], self.src_dir)
        gen.write_tpch(gen.gen_tpch(self.ctx.seed, WARM_SF)["tables"], self.warm_dir)
        self.rows = src["props"]["rows"]
        props = dict(src["props"])
        props["queries"] = list(QUERIES)
        props["input_sha256"] = gen.digest_dir(self.src_dir)
        return props

    def install_spans(self, tracer) -> None:
        from clickhouse_mysql_data_reader_spark import migrator

        tracer.wrap(migrator.Migrator, "migrate_table", "migrator.migrate_table")
        tracer.wrap(migrator, "write_parquet", "sinks.write_parquet")

    def _land(self, name: str, src_dir: str) -> tuple[list, float]:
        """Land every table of ``src_dir`` as database ``name``; returns
        the Migrator's reports and the seconds it took."""
        from clickhouse_mysql_data_reader_spark.config import AppConfig, DestConfig, SourceConfig
        from clickhouse_mysql_data_reader_spark.migrator import Migrator

        cfg = AppConfig(
            src=SourceConfig(parquet_dir=src_dir, schemas=["shop"]),
            dst=DestConfig(parquet_dir=os.path.join(self.ctx.work, name), schema=name, create_table=True),
            with_create_database=True,
        )
        t0 = time.perf_counter()
        reports = Migrator(self.ctx.spark, cfg).migrate_all()
        return reports, time.perf_counter() - t0

    def _mix(self, table_dir: str) -> tuple[dict, dict, float]:
        """Run and collect every query over ``<table_dir>/<table>.parquet``;
        returns the results, each query's seconds and the total."""
        import __spark_entry__

        qmap = __spark_entry__.queries()
        results, query_s = {}, {}
        t0 = time.perf_counter()
        with self.ctx.tracer.span("queries.total"):
            for q in QUERIES:
                tq = time.perf_counter()
                results[q] = qmap[q](self.ctx.spark, table_dir).toPandas()
                query_s[q] = time.perf_counter() - tq
        return results, query_s, time.perf_counter() - t0

    def prepare(self) -> None:
        # Warm-up: landing and queries run once, cold, on the small
        # source. A cold pass is bound by one driver thread (planning,
        # code generation, class loading), so the two run side by side.
        with ThreadPoolExecutor(max_workers=2) as pool:
            land = pool.submit(self._land, "warm_land", self.warm_dir)
            mix = pool.submit(self._mix, self.warm_dir)
            land.result()
            mix.result()

    def measure(self) -> dict:
        self.reports, land_s = self._land("land", self.src_dir)
        # the queries read ``<dir>/<table>.parquet``: point those names
        # at the landed table directories
        qdir = os.path.join(self.ctx.work, "landed")
        os.makedirs(qdir)
        for r in self.reports:
            os.symlink(r.location, os.path.join(qdir, f"{r.src_table}.parquet"))
        self.results, self.query_s, mix_s = self._mix(qdir)
        rate = sum(self.rows.values()) / land_s
        named = {
            "land_rows_per_s": (rate, "1/s"),
            "query_mix_s": (mix_s, "s"),
        }
        generic = {"rate_per_s": rate, "latency_p50_s": mix_s}
        samples = {"land_s": land_s, "query_mix_s": mix_s, "query_s": self.query_s}
        return {"named": named, "generic": generic, "samples": samples}

    def check(self) -> None:
        import duckdb

        import __spark_entry__
        from oracle import same_result

        ctx = self.ctx
        for r in self.reports:
            want = self.rows[r.src_table]
            ctx.record(
                r.reconciled and r.dst_rows == want,
                f"land.{r.src_table}: src {r.src_rows}, landed {r.dst_rows}, generated {want}",
            )
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.src_dir}/{t}.parquet'")
        for q, got in self.results.items():
            want = con.execute(oracles[q]).df()
            ok, why = same_result(got, want)
            ctx.record(ok, f"{q}: {why}")
            ctx.outputs.setdefault("query_rows", {})[q] = len(want)

    def layer_counters(self) -> dict:
        files, size = tree_size(os.path.join(self.ctx.work, "land"))
        out = {
            "sinks.mb_written": size / (1024 * 1024),
            "sinks.files_written": files,
        }
        out.update({f"queries.{q}.wall_s": t for q, t in self.query_s.items()})
        return out
