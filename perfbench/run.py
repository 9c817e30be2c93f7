"""Benchmark entry point.

    python3 perfbench/run.py --workload curate_inc --seed 1 --seconds 10 --trace 0

runs one workload from the root of a checkout and prints, as its last
stdout line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Earlier lines carry the host stamp, the input
properties and the workload's own named metrics.

    python3 perfbench/run.py --report --seed 1 --seconds 10

runs every workload untraced and traced (one child process each) and
prints all metrics by name and unit plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from land import QUERIES as LAND_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clickhouse_mysql_data_reader_spark"
WORKLOADS = ("land_query", "cdc_pump", "curate_inc")

# End-to-end metrics every run reports; each workload maps its own
# named metrics onto the shared roles (README.md has the table).
E2E_UNITS = {
    "setup_s": "s",
    "rate_per_s": "1/s",
    "latency_p50_s": "s",
}
# A traced run's own end-to-end values; peak RSS is reported here and on
# the named-metrics line but has no bound (README.md, "Metrics").
TRACED_UNITS = {**E2E_UNITS, "peak_rss_mb": "MB"}
SPANS = (
    "migrator.migrate_table",
    "sinks.write_parquet",
    "queries.total",
    "pump.SnapshotStore.apply",
    "curation.curate_increment",
    "curation.CurationState.write",
    "graph.connected_components",
)
COUNTERS = {
    "sinks.mb_written": "MB",
    "sinks.files_written": "count",
    **{f"queries.{q}.wall_s": "s" for q in LAND_QUERIES},
    "pump.trigger_s_p50": "s",
    "pump.add_batch_s_p50": "s",
    "pump.busy_frac": "frac",
    "store.partitions_touched_per_apply": "count",
    "store.rows_rewritten_per_event": "rows/event",
    "store.live_files": "count",
    "source.backlog_files_max": "count",
    "gen.late_max_s": "s",
    "curation.state_mb": "MB",
    "curation.state_files": "count",
    "curation.kept_frac": "frac",
    "run.measure_wall_s": "s",
    "run.jvm_cpu_s": "s",
}


def field_unit(field: str) -> str:
    if field in ("calls", "jobs", "tasks"):
        return "count"
    return "MB" if field.endswith("_mb") else "s"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from spans import FIELDS

    units = {f"{s}.{f}": field_unit(f) for s in SPANS for f in FIELDS}
    units.update(COUNTERS)
    units.update({f"traced.{k}": u for k, u in TRACED_UNITS.items()})
    return units


class Ctx:
    """What a workload needs from the run: seed, work dir, session,
    tracer, and the tally of checked operations."""

    def __init__(self, seed: int, seconds: float, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.outputs: dict = {}  # output properties the checks found

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def start_spark(work: str, trace: bool):
    from clickhouse_mysql_data_reader_spark.session import get_spark
    from common import nproc

    n = nproc()
    tmp = os.path.join(work, "tmp")
    # no driver memory setting: the program runs with the package's own
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def make_workload(name: str, ctx: Ctx):
    if name == "land_query":
        from land import LandQuery

        return LandQuery(ctx)
    if name == "cdc_pump":
        from cdc import CdcPump

        return CdcPump(ctx)
    from curate import CurateInc

    return CurateInc(ctx)


def run_one(name: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from common import cpu_s, host_stamp, jvm_pid, loadavg, peak_rss_mb, stop_spark
    from spans import Tracer, flatten, fold, read_events

    work = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process and the JVM stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    load_before = loadavg()

    ctx = Ctx(seed, seconds, work)
    t0 = time.perf_counter()
    wl = make_workload(name, ctx)
    try:
        ctx.spark = start_spark(work, trace)
        t_spark = time.perf_counter() - t0
        inputs = wl.generate()
        t_gen = time.perf_counter() - t0
        ctx.tracer = Tracer(ctx.spark.sparkContext, enabled=trace)
        if trace:
            wl.install_spans(ctx.tracer)
        wl.prepare()
        setup_s = time.perf_counter() - t0
        phases = {"spark_s": t_spark, "generate_s": t_gen - t_spark, "prepare_s": setup_s - t_gen}

        pid = jvm_pid(ctx.spark)
        measure_start = time.time()
        cpu0, w0 = cpu_s(pid), time.perf_counter()
        result = wl.measure()
        measure_wall, jvm_cpu = time.perf_counter() - w0, cpu_s(pid) - cpu0
        wl.check()
        rss = peak_rss_mb(pid)
        host = host_stamp(ctx.spark, seed)
        counters = wl.layer_counters() if trace else {}
    finally:
        # stops a running pump too; the event log is complete after this,
        # and the JVM and every process it started have ended
        stop_spark(ctx.spark)

    generic = dict(result["generic"], setup_s=setup_s, peak_rss_mb=rss)
    host.update(
        {
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "setup_phases_s": phases,
            "measure_wall_s": measure_wall,
            "jvm_cpu_s": jvm_cpu,
            "trace": int(trace),
        }
    )
    fail_frac = ctx.failed / max(1, ctx.attempted)
    named = dict(result["named"])
    named.update(
        {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"), "fail_frac": (fail_frac, "frac")}
    )
    print(json.dumps({"host": host}))
    print(json.dumps({"inputs": inputs}))
    print(json.dumps({"samples": result.get("samples", {}), "outputs": ctx.outputs}))
    for f in ctx.failures[:20]:
        print(f"FAILED: {f}")
    print(json.dumps({"workload": name, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))

    if trace:
        logs = os.listdir(os.path.join(work, "eventlog"))
        events = read_events(os.path.join(work, "eventlog", logs[0]))
        # per-layer numbers cover the timed phase, like the end-to-end ones
        timed = [s for s in ctx.tracer.spans if s["start"] >= measure_start]
        values = flatten(fold(events, timed, names=list(SPANS)))
        values.update(dict.fromkeys(COUNTERS, 0.0))
        values.update(counters)
        values["run.measure_wall_s"] = measure_wall
        values["run.jvm_cpu_s"] = jvm_cpu
        values.update({f"traced.{k}": v for k, v in generic.items()})
        units = per_layer_units()
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(generic[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if ctx.failed == 0 else 1


def report(seed: int, seconds: float) -> int:
    """Every workload untraced then traced; prints all metrics by name
    and unit, and the tracing overhead (traced minus untraced)."""
    rc = 0
    for name in WORKLOADS:
        last = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            ]
            # own session, so a timeout stops the child's JVM with it
            proc = subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT,
                start_new_session=True,
            )
            try:
                out, err = proc.communicate(timeout=600)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                out, err = proc.communicate()
            lines = out.strip().splitlines()
            rc = rc or proc.returncode
            if proc.returncode != 0 and not lines:
                print(f"{name} trace={trace}: exit {proc.returncode}\n{err[-2000:]}")
                continue
            named = next((json.loads(x) for x in lines if x.startswith('{"workload"')), {})
            final = json.loads(lines[-1])
            last[trace] = final["metrics"]
            print(f"== {name} trace={trace} correct={final['correct']} "
                  f"attempted={final['attempted']} failed={final['failed']}")
            for k, m in named.get("metrics", {}).items():
                print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
            if trace:
                for k, m in final["metrics"].items():
                    print(f"  {k:<58} {m['value']:>14.4f} {m['unit']}")
        if 0 in last and 1 in last:
            print(f"== {name} tracing overhead (traced - untraced)")
            for k in E2E_UNITS:
                d = last[1][f"traced.{k}"]["value"] - last[0][k]["value"]
                print(f"  {k:<34} {d:>+14.4f} {E2E_UNITS[k]}")
    return rc


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", action="store_true")
    a = p.parse_args(argv)
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.report:
        return report(a.seed, a.seconds)
    if not a.workload:
        p.error("--workload is required without --report")
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
