"""Custom stateful streaming operators via ``applyInPandasWithState``
(Arrow-batched per-key state — the escape hatch for semantics the
built-in window/watermark operators can't express).

Two operators, both with direct reference parity:

- ``stateful_latest_wins``: cross-batch last-write-wins dedup for CDC
  replay. The reference replays binlog events strictly in arrival order
  (single thread, mysqlreader.py:362-448) so staleness can't happen; a
  distributed replay CAN deliver stale or duplicate change rows across
  micro-batches, and ``dropDuplicates`` can't fix it (it keeps the
  FIRST seen, not the highest version). Per-key state = highest version
  accepted so far; stale rows are suppressed.

- ``pooled_flush_signals``: the reference's buckets-on-belts pool
  (pool/bbpool.py:99-180) — per-(schema, table) row buffering flushed
  by SIZE or IDLE timeout — re-expressed as a keyed state machine with
  a processing-time timeout. Spark's micro-batches already batch the
  *data*; what survives of bbpool is the flush-control contract, useful
  for e.g. compaction triggers per destination table.

State per key is O(1) (a version / a counter) — at 100 TB the state
store scales with key cardinality, not row volume.
"""

from __future__ import annotations

import sys
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _self_contained_pickle() -> None:
    """Ship this module's functions by value inside pickled UDFs (the
    workers may not have the repo on PYTHONPATH); shared logic in
    util.py."""
    from clickhouse_mysql_data_reader_spark.util import self_contained_pickle

    self_contained_pickle(sys.modules[__name__])


def _newest_row(pdfs: Iterable[pd.DataFrame], vcol: str) -> pd.DataFrame | None:
    """The selection kernel of ``stateful_latest_wins``: the single
    newest row across an iterable of pandas chunks. Ties within
    a chunk -> LAST occurrence (binlog order within a batch, mirroring
    the reference's strictly-ordered replay, mysqlreader.py:362-448);
    ties ACROSS chunks -> the later chunk (>= comparison), same rule.
    """
    best: pd.DataFrame | None = None
    for pdf in pdfs:
        if pdf.empty:
            continue
        idx = pdf[pdf[vcol] == pdf[vcol].max()].index[-1]
        row = pdf.loc[[idx]]
        if best is None or row[vcol].iloc[0] >= best[vcol].iloc[0]:
            best = row
    return best


def stateful_latest_wins(
    changes: DataFrame,
    key_cols: list[str],
    version_col: str,
    output_schema: T.StructType | str | None = None,
) -> DataFrame:
    """Emit, per key and micro-batch, only the newest change row — and
    only if it advances past every version already accepted in PRIOR
    batches. Exactly the ReplacingMergeTree contract, held as streaming
    state instead of a read-time view.

    Works on a streaming DataFrame grouped by ``key_cols``; state is a
    single long per key. Output schema defaults to the input schema.
    """
    _self_contained_pickle()
    out_schema = output_schema or changes.schema
    state_schema = "max_ver long"
    vcol = version_col

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (prev,) = state.get if state.exists else (None,)
        best = _newest_row(pdfs, vcol)
        if best is not None:
            ver = int(best[vcol].iloc[0])
            if prev is None or ver > prev:
                state.update((ver,))
                yield best

    return changes.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


FLUSH_SCHEMA = T.StructType(
    [
        T.StructField("pool_key", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("reason", T.StringType(), False),  # size | idle
    ]
)


def pooled_flush_signals(
    events: DataFrame,
    key_col: str,
    max_rows: int = 10_000,
    idle_timeout_ms: int = 60_000,
) -> DataFrame:
    """bbpool.rotate_belt as a streaming operator: one output row per
    flush decision for the keyed pool (key = the reference's
    ``schema.table`` belt key, bbpool.py:13-28).

    Defaults mirror the reference: 10k rows (poolwriter.py:21-22) /
    60 s idle (clioptions.py:105-107). SIZE flushes fire as soon as the
    running count crosses the threshold; IDLE flushes fire through a
    processing-time timeout when a key goes quiet with rows buffered.
    """
    _self_contained_pickle()

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        pool_key = str(key[0])
        if state.hasTimedOut:
            (buffered,) = state.get if state.exists else (0,)
            state.remove()
            if buffered > 0:
                yield pd.DataFrame(
                    {"pool_key": [pool_key], "n_rows": [buffered], "reason": ["idle"]}
                )
            return
        (buffered,) = state.get if state.exists else (0,)
        flushes = []
        for pdf in pdfs:
            buffered += len(pdf)
            while buffered >= max_rows:
                flushes.append(max_rows)
                buffered -= max_rows
        state.update((buffered,))
        state.setTimeoutDuration(idle_timeout_ms)
        if flushes:
            yield pd.DataFrame(
                {
                    "pool_key": [pool_key] * len(flushes),
                    "n_rows": flushes,
                    "reason": ["size"] * len(flushes),
                }
            )

    return events.groupBy(key_col).applyInPandasWithState(
        fn, FLUSH_SCHEMA, "buffered long", "update", GroupStateTimeout.ProcessingTimeTimeout
    )
