"""curate_inc: daily curation increments against a landed history.

Set-up lands a history batch with ``curate_increment`` (pre-landing
and warm-up at once). The timed phase is a closed loop of a fixed
number of ``curate_increment(..., update_state=True)`` calls, one batch
each, with line dedup and a decontamination benchmark; each call reads
the state the previous one appended to. The number of calls does not
depend on how fast they run, so every run times the same work. The
corpus has exact copies and near-dup clusters that span batches, so
the history probes drop documents.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import tree_size

HISTORY_DOCS = 600
BATCH_DOCS = 200
# one warm call costs about 11 s on a 4-core host whatever the batch
# size (most of it is fixed per-call work), so a run times one
INCREMENTS = 1


def fingerprint(text: str) -> str:
    """md5 of lower-cased, whitespace-collapsed text, computed here in
    Python rather than by the package."""
    return hashlib.md5(re.sub(r"\s+", " ", text.lower()).strip().encode()).hexdigest()


def kept_digest(ids: list[int]) -> str:
    return hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()


class CurateInc:
    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus_dir = os.path.join(ctx.work, "corpus")
        self.state_dir = os.path.join(ctx.work, "state")

    def generate(self) -> dict:
        c = gen.gen_corpus(self.ctx.seed, HISTORY_DOCS, INCREMENTS, BATCH_DOCS)
        self.corpus = c
        os.makedirs(self.corpus_dir)
        gen.write_docs(c["history"], os.path.join(self.corpus_dir, "history.parquet"))
        for i, b in enumerate(c["batches"]):
            gen.write_docs(b, os.path.join(self.corpus_dir, f"batch-{i:02d}.parquet"))
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(c["benchmark"]["doc_id"], pa.int64()),
                    "text": pa.array(c["benchmark"]["text"], pa.string()),
                }
            ),
            os.path.join(self.corpus_dir, "benchmark.parquet"),
            compression="snappy",
            store_schema=False,
        )
        props = dict(c["props"])
        props["input_sha256"] = gen.digest_dir(self.corpus_dir)
        # kept-set digests are kept per input, so runs on other inputs
        # (another seed or batch size) never compare with each other
        self.digest_file = os.path.join(
            os.path.dirname(self.ctx.work), "digests", f"curate_inc-{props['input_sha256'][:16]}.json"
        )
        return props

    def install_spans(self, tracer) -> None:
        from clickhouse_mysql_data_reader_spark import curation

        tracer.wrap(curation.CurationState, "write", "curation.CurationState.write")
        tracer.wrap(curation, "connected_components", "graph.connected_components")

    def _increment(self, name: str) -> tuple[float, list[tuple[int, str]]]:
        """One curate_increment call; returns (seconds, kept (id, text))."""
        from clickhouse_mysql_data_reader_spark.curation import curate_increment

        spark = self.ctx.spark
        docs = spark.read.parquet(os.path.join(self.corpus_dir, f"{name}.parquet"))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("curation.curate_increment"):
            kept = curate_increment(docs, self.state, self.cfg, benchmark=self.bench)
            rows = [(r["doc_id"], r["text"]) for r in kept.select("doc_id", "text").collect()]
        return time.perf_counter() - t0, rows

    def prepare(self) -> None:
        from clickhouse_mysql_data_reader_spark.curation import (
            CurationConfig,
            CurationState,
        )

        self.cfg = CurationConfig(dedup_lines=True)
        self.state = CurationState(self.state_dir)
        self.bench = self.ctx.spark.read.parquet(os.path.join(self.corpus_dir, "benchmark.parquet"))
        _, rows = self._increment("history")
        self.kept = {"history": rows}

    def measure(self) -> dict:
        times = []
        for i in range(INCREMENTS):
            name = f"batch-{i:02d}"
            dt, rows = self._increment(name)
            times.append(dt)
            self.kept[name] = rows
        n_in = INCREMENTS * BATCH_DOCS
        n_kept = sum(len(self.kept[f"batch-{i:02d}"]) for i in range(INCREMENTS))
        self.kept_frac = n_kept / n_in
        named = {
            "curate_docs_per_s": (n_in / sum(times), "1/s"),
            "curate_inc_p50_s": (median(times), "s"),
        }
        generic = {"rate_per_s": n_in / sum(times), "latency_p50_s": median(times)}
        return {"named": named, "generic": generic, "samples": {"increment_s": times, "kept": n_kept}}

    def check(self) -> None:
        ctx, c = self.ctx, self.corpus
        seen: dict[str, int] = {}
        inputs = {"history": set(c["history"]["doc_id"])}
        inputs.update({f"batch-{i:02d}": set(b["doc_id"]) for i, b in enumerate(c["batches"])})
        for name, rows in self.kept.items():
            ids = [i for i, _ in rows]
            ctx.record(set(ids) <= inputs[name], f"{name}: kept ids outside its input")
            ctx.record(len(ids) == len(set(ids)), f"{name}: a doc id kept twice")
            clash = 0
            for i, text in rows:
                fp = fingerprint(text)
                clash += fp in seen
                seen[fp] = i
            ctx.record(clash == 0, f"{name}: {clash} kept docs repeat a kept fingerprint")
        # near-dups of documents kept in an earlier batch must be probed
        # out of later batches: at least one is dropped
        cluster = c["truth"]["cluster"]
        kept_ids = {i for rows in self.kept.values() for i, _ in rows}
        cross = []  # docs whose kept cluster root came in an earlier batch
        for n in self.kept:
            if n != "history":
                first = min(inputs[n])
                cross += [i for i in inputs[n] if 0 <= cluster[i] < first and cluster[i] in kept_ids]
        dropped = sum(1 for i in cross if i not in kept_ids)
        ctx.record(not cross or dropped > 0, f"{len(cross)} cross-batch near-dups, none dropped")
        ctx.outputs.update(
            {
                "kept_per_batch": {n: len(r) for n, r in self.kept.items()},
                "cross_batch_near_dups": len(cross),
                "cross_batch_near_dups_dropped": dropped,
            }
        )
        # the kept set of each batch is a function of the seed alone
        digests = {n: kept_digest([i for i, _ in rows]) for n, rows in self.kept.items()}
        os.makedirs(os.path.dirname(self.digest_file), exist_ok=True)
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                before = json.load(f)
            for n in sorted(set(before) & set(digests)):
                ctx.record(before[n] == digests[n], f"{n}: kept-set digest differs from an earlier run")
            digests = {**before, **digests}
        with open(self.digest_file, "w") as f:
            json.dump(digests, f, sort_keys=True)

    def layer_counters(self) -> dict:
        files, size = tree_size(self.state_dir)
        return {
            "curation.state_mb": size / (1024 * 1024),
            "curation.state_files": files,
            "curation.kept_frac": self.kept_frac,
        }
