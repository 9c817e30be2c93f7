"""cdc_pump: an open-loop CDC stream applied by ``start_pump`` into a
month-partitioned ``SnapshotStore``.

A generator thread writes one JSON CDC file every ``FILE_EVERY_S`` on a
fixed schedule that does not slow when the pump slows; each file's
events are stamped with their due time (seconds after the stream
start). An event's lag runs from its file's due time to the write of
``commits/<batch>`` for the micro-batch that held the file; the
checkpoint's ``sources/0`` log says which batch held which file, so no
Spark job is needed to measure it. At the end the snapshot must equal a
pandas last-write-wins fold of the whole generated log.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
from common import pctl

# Offered load: the pump spends about half of each trigger interval
# applying it on a 4-core host (README.md, "Choosing the rate").
RATE_EVENTS_PER_S = 1000
FILE_EVERY_S = 0.25
INITIAL_ROWS = 20_000
WARM_FILES = 4  # applied in one batch after the initial load
TRIGGER_S = 6  # flush by time, like the reference's pool flush
DRAIN_TIMEOUT_S = 60.0


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(df.astype(str).itertuples(index=False, name=None))


class CdcPump:
    def __init__(self, ctx):
        self.ctx = ctx
        self.inbox = os.path.join(ctx.work, "inbox")
        self.staging = os.path.join(ctx.work, "staging")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        self.store_dir = os.path.join(ctx.work, "store")
        self.writes: dict[str, tuple[float, float]] = {}  # file -> (due, written)
        # per-apply counters, filled by the traced apply during the timed phase
        self.lock = threading.Lock()
        self.measuring = False
        self.applies: list[int] = []  # partitions rewritten by each apply
        self.rows_rewritten = 0

    def generate(self) -> dict:
        self.log = gen.gen_cdc(
            self.ctx.seed,
            INITIAL_ROWS,
            RATE_EVENTS_PER_S,
            self.ctx.seconds + WARM_FILES * FILE_EVERY_S,
            FILE_EVERY_S,
        )
        self.per_file = self.log["props"]["events_per_file"]
        self.warm = self.log["files"][:WARM_FILES]
        warm_s = WARM_FILES * FILE_EVERY_S
        self.stream = [(due - warm_s, evs) for due, evs in self.log["files"][WARM_FILES:]]
        os.makedirs(self.inbox)
        os.makedirs(self.staging)
        self._drop("initial.json", self.log["initial"])
        props = dict(self.log["props"])
        props["warm_events"] = sum(len(evs) for _, evs in self.warm)
        props["rate_events_per_s"] = RATE_EVENTS_PER_S
        props["trigger_s"] = TRIGGER_S
        return props

    def _drop(self, name: str, events: list[dict]) -> None:
        """Write a file outside the watched dir, then rename it in, so
        the stream never lists a half-written file."""
        tmp = os.path.join(self.staging, name)
        with open(tmp, "wb") as f:
            f.write(gen.events_jsonl(events))
        os.replace(tmp, os.path.join(self.inbox, name))

    def install_spans(self, tracer) -> None:
        from clickhouse_mysql_data_reader_spark.streaming.pump import SnapshotStore

        orig = SnapshotStore.apply
        bench = self

        def apply(store, spark, db, table, changes):
            # runs inside the pump's pool thread, so the job group the
            # span sets tags exactly this table's apply jobs
            before = store.partition_paths(db, table)
            with tracer.span("pump.SnapshotStore.apply"):
                orig(store, spark, db, table, changes)
            if bench.measuring:
                bench._footers(before, store.partition_paths(db, table))

        SnapshotStore.apply = apply

    def _footers(self, before: dict[str, str], after: dict[str, str]) -> None:
        """Count the partitions an apply rewrote and their rows, from the
        parquet footers of the new generation's files."""
        rewritten = [d for pv, d in after.items() if before.get(pv) != d]
        rows = sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d in rewritten
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        with self.lock:
            self.applies.append(len(rewritten))
            self.rows_rewritten += rows

    def prepare(self) -> None:
        from pyspark.sql import types as T

        from clickhouse_mysql_data_reader_spark.streaming.pump import (
            SnapshotStore,
            read_cdc_stream,
            start_pump,
        )

        spark = self.ctx.spark
        types = {"long": T.LongType(), "date": T.DateType(), "double": T.DoubleType(), "string": T.StringType()}
        payload = T.StructType([T.StructField(n, types[t], True) for n, t in gen.cdc_payload_fields()])
        self.store = SnapshotStore(
            root=self.store_dir,
            key_cols=["id"],
            partition_expr="date_format(day, 'yyyyMM')",
        )
        events = read_cdc_stream(spark, self.inbox, payload)
        self.query = start_pump(
            events,
            self.store,
            self.ckpt,
            trigger={"processingTime": f"{TRIGGER_S} seconds"},
            max_parallel_tables=len(gen.CDC_TABLES),
        )
        # the initial load is batch 0 (pre-landing); one merge batch
        # into the landed snapshot is the warm-up
        self._wait_committed({"initial.json"}, DRAIN_TIMEOUT_S)
        self._drop("warm.json", [e for _, evs in self.warm for e in evs])
        self._wait_committed({"warm.json"}, DRAIN_TIMEOUT_S)

    def _batches(self) -> dict[str, int]:
        """file name -> micro-batch id, from the source log."""
        out = {}
        d = os.path.join(self.ckpt, "sources", "0")
        if not os.path.isdir(d):
            return out
        for f in os.listdir(d):
            if f.startswith("."):
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    lines = fh.read().splitlines()[1:]
            except FileNotFoundError:  # replaced by a compaction
                continue
            for line in lines:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def _commit_times(self) -> dict[int, float]:
        d = os.path.join(self.ckpt, "commits")
        if not os.path.isdir(d):
            return {}
        return {
            int(f): os.stat(os.path.join(d, f)).st_mtime
            for f in os.listdir(d)
            if f.isdigit()
        }

    def _wait_committed(self, names: set[str], timeout: float) -> None:
        end = time.time() + timeout
        while time.time() < end:
            if self.query.exception():
                raise RuntimeError(f"pump failed: {self.query.exception()}")
            batches, commits = self._batches(), self._commit_times()
            if all(n in batches and batches[n] in commits for n in names):
                return
            time.sleep(0.05)
        raise TimeoutError(f"pump did not commit {len(names)} files within {timeout}s")

    def _generator(self, t0: float) -> None:
        for i, (due, events) in enumerate(self.stream):
            delay = t0 + due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"ev-{i:06d}.json"
            self._drop(name, events)
            self.writes[name] = (t0 + due, time.time())

    def measure(self) -> dict:
        self.measuring = True
        # start just after a trigger tick (ticks fall on multiples of the
        # interval), so every run cuts the stream into the same batches
        t0 = (time.time() // TRIGGER_S + 1) * TRIGGER_S + 0.05
        self.t0 = t0
        g = threading.Thread(target=self._generator, args=(t0,), name="cdc-generator")
        g.start()
        g.join()
        self._wait_committed(set(self.writes), DRAIN_TIMEOUT_S)
        self.measuring = False
        batches, commits = self._batches(), self._commit_times()
        self.batch_ids = sorted({batches[n] for n in self.writes})
        self.file_commit = {n: commits[batches[n]] for n in self.writes}
        # every event of a file shares the file's lag
        file_lags = [self.file_commit[n] - due for n, (due, _) in sorted(self.writes.items())]
        lags = [lag for lag in file_lags for _ in range(self.per_file)]
        self.n_events = len(lags)
        rate = self.n_events / (max(self.file_commit.values()) - t0)
        p50, p99 = pctl(lags, 50), pctl(lags, 99)
        named = {
            "cdc_lag_p50_s": (p50, "s"),
            "cdc_lag_p99_s": (p99, "s"),
            "cdc_events_per_s": (rate, "1/s"),
        }
        generic = {"rate_per_s": rate, "latency_p50_s": p50}
        samples = {
            "events": self.n_events,
            "batches": len(self.batch_ids),
            "lag_s_by_file": [round(x, 3) for x in file_lags],
        }
        return {"named": named, "generic": generic, "samples": samples}

    def check(self) -> None:
        """Stop the pump, then compare every table's snapshot with a
        last-write-wins fold of the whole generated log."""
        self.query.stop()
        log = pd.DataFrame(self.log["initial"] + [e for _, evs in self.log["files"] for e in evs])
        last = log.sort_values("log_pos").groupby(["table", "id"], as_index=False).last()
        want_all = last[last["op"] != "delete"]
        cols = [n for n, _ in gen.cdc_payload_fields()]
        for t in gen.CDC_TABLES:
            want = want_all[want_all["table"] == t][cols]
            got_df = self.store.read(self.ctx.spark, "shop", t)
            got = got_df.select(*cols).toPandas() if got_df is not None else pd.DataFrame(columns=cols)
            got["day"] = got["day"].astype(str)
            self.ctx.record(
                _rows(got) == _rows(want),
                f"snapshot shop.{t}: {len(got)} rows vs fold {len(want)}",
            )

    def layer_counters(self) -> dict:
        timed = set(self.batch_ids)
        progress = [p for p in self.query.recentProgress if p["batchId"] in timed]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress]
        span = max(self.file_commit.values()) - self.t0
        # files written but not yet committed, at each write instant
        events = sorted(
            [(w, 1) for _, w in self.writes.values()] + [(c, -1) for c in self.file_commit.values()]
        )
        backlog = peak = 0
        for _, d in events:
            backlog += d
            peak = max(peak, backlog)
        live = 0
        for t in gen.CDC_TABLES:
            for d in self.store.partition_paths("shop", t).values():
                live += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return {
            "pump.trigger_s_p50": pctl(trig, 50) if trig else 0.0,
            "pump.add_batch_s_p50": pctl(add, 50) if add else 0.0,
            "pump.busy_frac": sum(trig) / span,
            "store.partitions_touched_per_apply": sum(self.applies) / max(1, len(self.applies)),
            "store.rows_rewritten_per_event": self.rows_rewritten / self.n_events,
            "store.live_files": live,
            "source.backlog_files_max": peak,
            "gen.late_max_s": max(w - d for d, w in self.writes.values()),
        }
