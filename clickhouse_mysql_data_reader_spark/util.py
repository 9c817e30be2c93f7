"""Small shared utilities."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

# Only inputs smaller than target_partitions * this are worth fanning
# out — bigger inputs already split into enough parquet row-group tasks.
_SMALL_INPUT_BYTES_PER_SLOT = 32 * 1024 * 1024


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Repartition ONLY when the input is a genuinely small, under-split
    file set (e.g. one small parquet file -> one task), which would run
    CPU-heavy per-row transforms (shingling, hashing, decode UDFs) on a
    single core.

    Decision uses the *scan* inputs, not ``df.rdd`` (whose partitioning
    reflects the conversion, not the file splits). On a well-partitioned
    100 TB input — many files, or few huge splittable files — the
    condition is false and NO shuffle is added.

    ``bytes_per_task`` tunes the fan WIDTH to the downstream work:
    consumers whose per-row cost explodes the input (shingle/bit
    explosion -> 30-50x the scanned bytes) want every core regardless
    of input size (leave it None); plain per-row projections (quality
    features, token stats) on a tiny input would pay more in task
    scheduling than they win in parallelism at full width, so they cap
    the fan at ~one task per ``bytes_per_task`` of input.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            return df  # remote store: trust the source's split planning
        try:
            total += os.path.getsize(p.path)
        except OSError:
            return df
    if total >= target * _SMALL_INPUT_BYTES_PER_SLOT:
        return df
    if bytes_per_task is not None:
        target = max(2, min(target, -(-total // bytes_per_task)))
        if len(files) >= target:
            return df
    return df.repartition(target)


def self_contained_pickle(module) -> None:
    """Register ``module`` for pickle-BY-VALUE inside UDF closures.

    mapInPandas / applyInPandasWithState closures that reference
    package functions pickle by REFERENCE to their defining module by
    default — the driver may run from any cwd, and python workers
    without the repo on PYTHONPATH then fail the import. Call
    ``self_contained_pickle(sys.modules[__name__])`` before building
    the UDF (one shared implementation; the per-module wrappers in
    membership/stateful/multimodal delegate here so a cloudpickle API
    change is fixed in one place).
    """
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(module)
    except Exception:
        pass


def plan_report(df: DataFrame) -> dict:
    """Machine-readable summary of a DataFrame's physical plan — the
    properties worth asserting in tests and checking before a 100 TB
    run, without grepping explain output by hand:

    - ``n_exchanges``: shuffle count (each is a full network pass);
    - ``joins``: physical join operators used (a CartesianProduct or
      BroadcastNestedLoopJoin here is almost always a missing equi-key);
    - ``scans``: per-scan pushed filters and projected column count
      (a scan reading 11 columns for a 2-column projection means
      pruning failed);
    - ``has_aqe``: AdaptiveSparkPlan present (runtime re-planning on).

    Codegen spans are deliberately NOT reported: under AQE the codegen
    ids are only assigned when stages actually execute, so any number
    derived from the un-executed plan would be a misleading zero.

    Introspection only — never executes the frame.
    """
    import re

    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)

    def _split_top_level(s: str) -> list[str]:
        # split on commas NOT nested inside (), [], or <> — a pushed
        # In(col, [a,b]) filter and a struct<a:array<int>,b:int> schema
        # both carry nested commas a naive split would fragment
        out, depth, cur = [], 0, []
        for ch in s:
            if ch in "([<":
                depth += 1
            elif ch in ")]>":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        tail = "".join(cur).strip()
        if tail:
            out.append(tail)
        return [x for x in out if x]

    scans = []
    for m in re.finditer(r"PushedFilters: \[([^\n]*)\]", plan):
        scans.append({"pushed_filters": _split_top_level(m.group(1))})
    for i, m in enumerate(re.finditer(r"ReadSchema: struct<(.*)>\s*$", plan, re.M)):
        cols = _split_top_level(m.group(1))
        if i < len(scans):
            scans[i]["n_read_columns"] = len(cols)
        else:
            scans.append({"pushed_filters": [], "n_read_columns": len(cols)})
    return {
        "n_exchanges": sum(1 for n in nodes if n == "Exchange"),
        "joins": sorted({n for n in nodes if "Join" in n}),
        "scans": scans,
        "has_aqe": "AdaptiveSparkPlan" in plan,
    }


def suggest_shuffle_partitions(
    df: DataFrame,
    target_mb: int = 128,
    min_partitions: int = 1,
    max_partitions: int = 200_000,
) -> int:
    """Partition-count advice from Catalyst's own size estimate:
    ceil(estimated_bytes / target_mb), clamped. The sizing rule every
    100 TB tuning guide states — shuffle partitions should hold
    ~100-200 MB each — as a function over the optimizer statistics
    (parquet footer sizes; filter selectivity only refines it when CBO
    column stats exist, i.e. after ANALYZE TABLE), so a job
    can `spark.conf.set("spark.sql.shuffle.partitions",
    suggest_shuffle_partitions(df))` before its heavy stage instead of
    inheriting a global constant. Introspection only, never executes;
    the estimate inherits Catalyst's optimism (post-filter sizes are
    heuristic), so treat it as an order-of-magnitude setting, not a
    contract — AQE coalescing cleans up the remainder at runtime.
    """
    if target_mb <= 0:
        raise ValueError("suggest_shuffle_partitions: target_mb must be positive")
    # py4j converts the Scala BigInt straight to a Python int
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n = -(-size // (target_mb * 1024 * 1024))  # ceil div
    return max(min_partitions, min(int(n), max_partitions))


def overlap_jobs(jobs: dict, max_workers: int = 4) -> dict:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    and return {key: result}.

    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls
    them sequentially. A chain of eager ``localCheckpoint``s over
    frames that do not depend on each other (the curate_increment
    per-batch materializations: shingles, vectors, media fingerprints)
    serializes jobs whose tails leave most executors idle — submitting
    them from a small thread pool lets the next job's tasks back-fill
    the slots the current job's stragglers free. FIFO scheduling (the
    default) gives exactly that back-fill behaviour.

    Each value in ``jobs`` is a zero-arg callable; DEPENDENT actions
    must be chained inside one callable (e.g. vectors -> SRP bands),
    never split across two. Exceptions propagate from result(); with
    one job the pool is skipped entirely (no thread overhead on the
    single-materialization configs).

    Callers: ``curation.curate_increment`` (the per-batch
    materializations, default pool of 4), ``streaming.start_pump`` (one
    job per destination snapshot, ``max_parallel_tables`` workers) and
    ``Migrator.migrate_all`` (one job per destination, at most
    ``defaultParallelism`` workers). For the migrator, an interleaved
    A/B of the ``land_query`` benchmark workload on a 4-core host
    (five small tables, one input split each) measured landing
    throughput up by about 60% against the serial loop.
    """
    if len(jobs) <= 1:
        return {k: fn() for k, fn in jobs.items()}
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(jobs))) as pool:
        futures = {k: pool.submit(fn) for k, fn in jobs.items()}
        return {k: f.result() for k, f in futures.items()}
