"""Custom stateful streaming operators (applyInPandasWithState):
cross-batch last-write-wins dedup and bbpool-parity flush signals.

Two source files processed as separate micro-batches
(maxFilesPerTrigger=1) prove state genuinely carries across batches."""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.streaming.stateful import (
    pooled_flush_signals,
    stateful_latest_wins,
)

CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType(), False),
        T.StructField("ver", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
    ]
)


def _write_jsonl(path, batches):
    path.mkdir(parents=True, exist_ok=True)
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = path / f"b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # distinct, increasing mtimes: the file source orders batches by
        # modification time, and same-second writes would tie
        os.utime(p, (base + i * 10, base + i * 10))


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_latest_wins_suppresses_stale_across_batches(spark, tmp_path):
    src = tmp_path / "lw_src"
    _write_jsonl(
        src,
        [
            # batch 0: pk=1 reaches ver 5; pk=2 at ver 1
            [
                {"pk": 1, "ver": 3, "val": "a"},
                {"pk": 1, "ver": 5, "val": "b"},
                {"pk": 2, "ver": 1, "val": "x"},
            ],
            # batch 1: stale pk=1 ver 4 (suppressed), duplicate pk=2
            # ver 1 (suppressed), fresh pk=2 ver 2 (emitted)
            [
                {"pk": 1, "ver": 4, "val": "stale"},
                {"pk": 2, "ver": 1, "val": "dup"},
                {"pk": 2, "ver": 2, "val": "y"},
            ],
        ],
    )
    stream = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = stateful_latest_wins(stream, ["pk"], "ver")
    _run_to_memory(out, "lw_out")
    rows = {(r["pk"], r["ver"]): r["val"] for r in spark.sql("SELECT * FROM lw_out").collect()}
    # accepted: (1,5) from batch 0, (2,1) from batch 0, (2,2) from batch 1
    assert rows == {(1, 5): "b", (2, 1): "x", (2, 2): "y"}


def test_latest_wins_batch_internal_newest_only(spark, tmp_path):
    src = tmp_path / "lw2_src"
    _write_jsonl(src, [[{"pk": 7, "ver": v, "val": f"v{v}"} for v in (1, 9, 4)]])
    stream = spark.readStream.schema(CHANGE_SCHEMA).json(str(src))
    out = stateful_latest_wins(stream, ["pk"], "ver")
    _run_to_memory(out, "lw2_out")
    rows = [tuple(r) for r in spark.sql("SELECT pk, ver, val FROM lw2_out").collect()]
    assert rows == [(7, 9, "v9")]


@pytest.mark.slow
def test_pooled_flush_signals_size_rotation(spark, tmp_path):
    src = tmp_path / "pool_src"
    # 25 rows for belt db.a (2 size-flushes of 10, 5 left buffered),
    # 7 rows for db.b (below threshold, nothing emitted)
    _write_jsonl(
        src,
        [
            [{"belt": "db.a", "i": i} for i in range(25)]
            + [{"belt": "db.b", "i": i} for i in range(7)]
        ],
    )
    schema = T.StructType(
        [T.StructField("belt", T.StringType(), False), T.StructField("i", T.LongType(), True)]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = pooled_flush_signals(stream, "belt", max_rows=10, idle_timeout_ms=60_000)
    _run_to_memory(out, "pool_out")
    rows = [tuple(r) for r in spark.sql("SELECT * FROM pool_out ORDER BY pool_key").collect()]
    # size rotations are exact and deterministic
    assert [r for r in rows if r[2] == "size"] == [
        ("db.a", 10, "size"),
        ("db.a", 10, "size"),
    ]
    # idle flushes may fire at stream finalization (timeout processing
    # on the terminal batch) — if they do, they must drain exactly the
    # buffered remainders (25 - 2*10 = 5 for db.a, 7 for db.b)
    idle = sorted(r for r in rows if r[2] == "idle")
    assert idle in ([], [("db.a", 5, "idle"), ("db.b", 7, "idle")])
