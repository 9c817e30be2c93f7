"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes files with fixed writer settings, so the same seed gives
byte-identical files and another seed gives different ones
(``test_perfbench.py`` checks both). The program under test only ever
sees the files written here.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose): adding a generator never
    shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    pq.write_table(
        table,
        path,
        row_group_size=row_group_size,
        compression="snappy",
        write_statistics=True,
        store_schema=False,
    )


# --------------------------------------------------------------------------
# TPC-H-shaped source tables
# --------------------------------------------------------------------------

TPCH_TABLES = ["nation", "customer", "orders", "lineitem", "events"]
ORDER_MONTHS = 36  # orders (and their line items) span 1995-01 .. 1997-12
EVENT_MONTHS = 12  # events span 2024-01 .. 2024-12
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts_us(start: str, us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(start, "us") + us.astype("timedelta64[us]"), pa.timestamp("us"))


def gen_tpch(seed: int, sf: float) -> dict:
    """The tables of the TESTDATA schemas that the land-then-query mix
    reads, at scale factor ``sf`` (lineitem ~6M*sf rows): a TPC-H-shaped
    star plus an ``events`` stream. Orders are
    spread evenly over ``ORDER_MONTHS`` months and events over
    ``EVENT_MONTHS``, so a month-partitioned landing writes many
    partitions. Timestamps are distinct per user, so every order-
    sensitive query has one answer. Returns ``{"tables": {name:
    pa.Table}, "props": {...}}``."""
    r = _rng(seed, "tpch")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(r.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
        }
    )
    # part's retail price, for the line items' extended price
    price = _cents(900.0 + (np.arange(n_part) % 20_000) * 0.1)
    order_days = ORDER_MONTHS * 365 // 12
    o_day = np.sort(r.integers(0, order_days, n_orders))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, n_orders)],
            "o_totalprice": _cents(r.uniform(1000.0, 500_000.0, n_orders)),
            "o_orderdate": _ts_us("1995-01-01", o_day.astype(np.int64) * 86_400_000_000),
            "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_orders)],
        }
    )
    lines = r.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_lines = len(l_order)
    first = np.cumsum(lines) - lines
    l_num = np.arange(n_lines) - np.repeat(first, lines) + 1
    l_part = r.integers(0, n_part, n_lines)
    qty = r.integers(1, 51, n_lines).astype(float)
    ship = o_day[l_order] + r.integers(1, 122, n_lines)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * price[l_part]),
            "l_discount": r.integers(0, 11, n_lines) / 100.0,
            "l_tax": r.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, n_lines)],
            "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, n_lines)],
            "l_shipdate": _ts_us("1995-01-01", ship.astype(np.int64) * 86_400_000_000),
        }
    )
    # distinct microsecond stamps: no two events of a user tie on ts
    span_us = EVENT_MONTHS * 365 // 12 * 86_400_000_000
    ev_us = np.sort(r.choice(span_us, n_events, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts_us("2024-01-01", ev_us),
            "user_id": pa.array(r.integers(0, max(1, n_events // 60), n_events), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_events)],
            "value": _cents(r.uniform(0.0, 100.0, n_events)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }
    )
    return {
        "tables": t,
        "props": {
            "sf": sf,
            "rows": {name: tab.num_rows for name, tab in t.items()},
            "order_months": ORDER_MONTHS,
            "event_months": EVENT_MONTHS,
        },
    }


def write_tpch(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), 1 << 17)


# --------------------------------------------------------------------------
# CDC log
# --------------------------------------------------------------------------

CDC_TABLES = ["accounts", "orders", "payments", "shipments"]
CDC_MONTHS = 6
CDC_KEYS = 6_000  # per table


def cdc_payload_fields() -> list[tuple[str, str]]:
    """(name, spark type) of the payload every CDC table shares."""
    return [("id", "long"), ("day", "date"), ("amount", "double"), ("status", "string"), ("seq", "long")]


def _key_day(key: int) -> int:
    """A key's partition day is a fixed function of the key (the store
    requires a key never to move between partitions). Key ranges map
    to months in order, so 'recent months' = high keys."""
    return key * CDC_MONTHS * 30 // CDC_KEYS


def gen_cdc(seed: int, n_initial: int, rate: float, seconds: float, file_every_s: float) -> dict:
    """Deterministic CDC log: an initial insert load plus a timed stream.

    Returns ``{"initial": [events], "files": [(due_s, [events])], "props"}``
    with events as dicts ready for JSON. Keys are Zipf-skewed within
    each month; months are drawn with weight rising towards the most
    recent; 8% of the streamed events that hit a live key delete it (a
    deleted key comes back as an insert)."""
    r = _rng(seed, "cdc")
    day0 = np.datetime64("2023-01-01", "D")
    live: list[set] = [set() for _ in CDC_TABLES]
    positions = itertools.count(1)

    def event(t: int, key: int, op: str) -> dict:
        pos = next(positions)
        return {
            "op": op,
            "log_file": f"binlog.{pos // 50_000:06d}",
            "log_pos": pos,
            "schema": "shop",
            "table": CDC_TABLES[t],
            "id": int(key),
            "day": str(day0 + _key_day(key)),
            "amount": float(r.integers(0, 1_000_000)) / 100.0,
            "status": ["new", "paid", "sent", "done"][int(r.integers(0, 4))],
            "seq": pos,
        }

    initial = []
    per_table = n_initial // len(CDC_TABLES)
    for t in range(len(CDC_TABLES)):
        for key in r.choice(CDC_KEYS, per_table, replace=False):
            initial.append(event(t, int(key), "insert"))
            live[t].add(int(key))

    month_w = np.arange(1, CDC_MONTHS + 1, dtype=float) ** 2
    month_w /= month_w.sum()
    per_month = CDC_KEYS // CDC_MONTHS
    zipf_w = 1.0 / np.arange(1, per_month + 1) ** 1.1
    zipf_w /= zipf_w.sum()
    n_files = int(round(seconds / file_every_s))
    per_file = max(1, int(round(rate * file_every_s)))
    files = []
    n_delete = 0
    hits: dict[tuple[int, int], int] = {}
    for i in range(n_files):
        evs = []
        tabs = r.integers(0, len(CDC_TABLES), per_file)
        months = r.choice(CDC_MONTHS, per_file, p=month_w)
        ranks = r.choice(per_month, per_file, p=zipf_w)
        dels = r.random(per_file) < 0.08
        for t, m, k, d in zip(tabs, months, ranks, dels):
            key = int(m) * per_month + int(k)
            t = int(t)
            if key in live[t]:
                op = "delete" if d else "update"
            else:
                op = "insert"
            if op == "delete":
                live[t].discard(key)
                n_delete += 1
            else:
                live[t].add(key)
            evs.append(event(t, key, op))
            hits[t, key] = hits.get((t, key), 0) + 1
        files.append((round(i * file_every_s, 6), evs))
    n_stream = n_files * per_file
    top = sorted(hits.values(), reverse=True)[: max(1, len(CDC_TABLES) * CDC_KEYS // 100)]
    return {
        "initial": initial,
        "files": files,
        "props": {
            "tables": len(CDC_TABLES),
            "initial_rows": len(initial),
            "stream_events": n_stream,
            "files": n_files,
            "events_per_file": per_file,
            "months": CDC_MONTHS,
            "zipf_s": 1.1,
            "top1pct_keys_event_share": round(sum(top) / max(1, n_stream), 4),
            "recent_month_weight": "quadratic",
            "delete_share": round(n_delete / max(1, n_stream), 4),
        },
    }


def events_jsonl(events: list[dict]) -> bytes:
    return "".join(json.dumps(e, sort_keys=True) + "\n" for e in events).encode()


# --------------------------------------------------------------------------
# Curation corpus
# --------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "po", "ru", "sa", "ti", "vo", "ze", "bra", "cle", "dri", "fro", "gli", "pla", "str", "qua"]
SOURCES = ["web", "books", "code", "news", "forum"]


def _vocab(r: np.random.Generator, size: int) -> list[str]:
    words = set()
    while len(words) < size:
        k = int(r.integers(2, 4))
        words.add("".join(_SYL[int(i)] for i in r.integers(0, len(_SYL), k)))
    return sorted(words)


def gen_corpus(seed: int, n_history: int, n_batches: int, batch_size: int) -> dict:
    """Documents for history + ``n_batches`` increments, plus a small
    decontamination benchmark.

    Mix per doc: 10% exact copies (case/whitespace-varied) of an earlier
    doc, 15% near-dup variants (one token replaced) of a cluster root
    that may sit in history or an earlier batch, 2% carrying a 20-word
    span of a benchmark doc, the rest fresh. Every doc has a shared
    boilerplate line that line dedup removes after its first copy.
    Returns {"history": rows, "batches": [rows], "benchmark": rows,
    "truth": {...}, "props": {...}} with rows as column dicts."""
    r = _rng(seed, "corpus")
    vocab = _vocab(r, 3000)
    boiler = [
        f"all rights reserved {i} " + " ".join(r.choice(vocab, 4)) for i in range(12)
    ]
    bench_docs = [" ".join(r.choice(vocab, 60)) for _ in range(10)]
    total = n_history + n_batches * batch_size
    texts: list[str] = []
    clusters: list[int] = []  # near-dup cluster root id, -1 if none
    kinds: list[str] = []
    roots: list[int] = []
    for i in range(total):
        u = r.random()
        if i > 20 and u < 0.10:
            j = int(r.integers(0, i))
            base = texts[j]
            t = base.upper() if r.random() < 0.5 else base.replace(" ", "  ", 3)
            texts.append(t)
            clusters.append(clusters[j])
            kinds.append("exact")
            continue
        if roots and u < 0.25:
            root = roots[int(r.integers(0, len(roots)))]
            body = texts[root].split("\n")[0].split(" ")
            body[int(r.integers(0, len(body)))] = str(r.choice(vocab))
            texts.append(" ".join(body) + "\n" + boiler[int(r.integers(0, len(boiler)))])
            clusters.append(root)
            kinds.append("near")
            continue
        n_words = int(r.integers(40, 90))
        words = list(r.choice(vocab, n_words))
        kind = "fresh"
        if u > 0.98:
            b = bench_docs[int(r.integers(0, len(bench_docs)))].split(" ")
            s = int(r.integers(0, len(b) - 20))
            words[5:5] = b[s : s + 20]
            kind = "contaminated"
        texts.append(" ".join(words) + "\n" + boiler[int(r.integers(0, len(boiler)))])
        clusters.append(-1)
        kinds.append(kind)
        if kind == "fresh" and r.random() < 0.3:
            roots.append(i)
            clusters[i] = i
    sources = [SOURCES[int(k)] for k in r.integers(0, len(SOURCES), total)]

    def rows(lo: int, hi: int) -> dict:
        return {
            "doc_id": list(range(lo, hi)),
            "text": texts[lo:hi],
            "lang": ["en"] * (hi - lo),
            "source": sources[lo:hi],
            "n_chars": [len(t) for t in texts[lo:hi]],
        }

    def batch_of(i: int) -> int:
        return -1 if i < n_history else (i - n_history) // batch_size

    cross = sum(
        1
        for i in range(n_history, total)
        if clusters[i] >= 0 and clusters[i] != i and batch_of(clusters[i]) < batch_of(i)
    )
    return {
        "history": rows(0, n_history),
        "batches": [
            rows(n_history + b * batch_size, n_history + (b + 1) * batch_size)
            for b in range(n_batches)
        ],
        "benchmark": {"doc_id": list(range(10)), "text": bench_docs},
        "truth": {"cluster": clusters, "kind": kinds},
        "props": {
            "docs": total,
            "history_docs": n_history,
            "batches": n_batches,
            "batch_docs": batch_size,
            "exact_dup_share": round(kinds.count("exact") / total, 4),
            "near_dup_share": round(kinds.count("near") / total, 4),
            "contaminated_share": round(kinds.count("contaminated") / total, 4),
            "near_dup_cluster_max": int(np.bincount([c for c in clusters if c >= 0]).max()),
            "cross_batch_near_dups": int(cross),
        },
    }


def write_docs(rows: dict, path: str) -> None:
    table = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "source": pa.array(rows["source"], pa.string()),
            "n_chars": pa.array(rows["n_chars"], pa.int64()),
        }
    )
    _write(table, path, max(100, table.num_rows // 4))


def digest_dir(path: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
