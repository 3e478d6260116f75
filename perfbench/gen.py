"""Seeded input generators and the open-loop feeder.

Everything the library sees is produced here from ``--seed`` and written as
parquet files; the library never receives the seed or the generator.

Event histories: user keys are Zipf-skewed (rank ``k`` has weight
``k ** -s``, s = 1.3: the hottest user carries 27% of the events among 20k
users, 30% among 400) or uniform; event types are mixed; event times never decrease,
and ties are broken by ``event_id`` (the row index), so ``event_id`` order is
the engine's total order ``(ts, event_id)``.

Run as a script, this module is the open-loop feeder of the ``streaming``
workload:

    python3 perfbench/gen.py --dir D --rate 1000 --seconds 30 --seed 1 \
        --period-ms 100 --users 400 --stats D.json

It is one process with one thread. File ``k`` is due at ``t0 + k * period``
and holds the events created in that period, each stamped (``ts``, epoch ms)
with the file's due time. Each file is written to a hidden temp name and
renamed into place, so a reader never sees a partial file. The schedule never
waits for the reader: a file that is late is written as soon as possible and
its lateness is recorded, so a stall shows in the measured latency.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
EVENT_TYPE_P = np.array([0.40, 0.25, 0.15, 0.12, 0.08])
ZIPF_S = 1.3

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
])
# Spark DDL of the same schema, for readStream
EVENTS_DDL = "event_id long, ts long, user_id long, event_type string, value double"


class EventSource:
    """Seeded stream of events; successive ``take`` calls continue the stream."""

    def __init__(self, seed: int, n_users: int, skew: float | None = ZIPF_S):
        self.rng = np.random.default_rng(seed)
        if skew is None:
            self.user_p = None
        else:
            w = np.arange(1, n_users + 1, dtype=np.float64) ** -skew
            self.user_p = w / w.sum()
        # The user population is fixed: which id has which popularity rank
        # does not depend on the seed, so the hot keys land in the same
        # shuffle partitions in every run and the seed varies only the
        # events. (A seeded relabelling moved the second-hottest key into
        # the hottest key's partition on some seeds only.)
        self.user_ids = np.random.default_rng(0).permutation(n_users).astype(np.int64)
        self.n_users = n_users
        self.next_id = 0

    def take(self, ts_ms: np.ndarray) -> pa.Table:
        n = len(ts_ms)
        ranks = self.rng.choice(self.n_users, size=n, p=self.user_p)
        types = self.rng.choice(EVENT_TYPES, size=n, p=EVENT_TYPE_P)
        value = np.round(self.rng.uniform(0.01, 500.0, size=n), 2)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pa.table(
            [ids, ts_ms.astype(np.int64), self.user_ids[ranks], types, value],
            schema=EVENTS_SCHEMA,
        )


def event_history(seed: int, n_events: int, n_users: int,
                  mean_gap_ms: float = 20.0, start_ms: int = 1_704_067_200_000,
                  skew: float | None = ZIPF_S) -> pa.Table:
    """``n_events`` events with non-decreasing integer ``ts`` (epoch ms)."""
    src = EventSource(seed, n_users, skew)
    gaps = np.floor(src.rng.exponential(mean_gap_ms, size=n_events))
    return src.take(start_ms + np.cumsum(gaps))


def write_files(table: pa.Table, directory: str, n_files: int) -> None:
    """Split ``table`` in row order into ``n_files`` parquet files."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(directory, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- batch tables

_WORDS = (
    "a the data query table join key value row column scan filter sort merge "
    "hash group agg order line part customer batch stream window spark fast "
    "slow big small vector index token text model score rank graph node edge"
).split()
_LANGS = np.array(["en", "de", "fr", "es"])
_LANG_P = np.array([0.85, 0.06, 0.05, 0.04])


def _us(days: np.ndarray, base: str) -> pa.Array:
    """Whole days after ``base`` as naive microsecond timestamps."""
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def batch_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-ish tables plus ``events``/``documents``/``embeddings`` that
    the ``batch_queries`` entries read, with the column names and types of
    the library's test data, at about its sf0.01 sizes."""
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_line = 1500, 15000, 60000
    n_events, n_docs, n_embs = 10000, 500, 500

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    odays = rng.integers(0, 2400, n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_orders), 2),
        "o_orderdate": _us(odays, "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    lorder = np.sort(rng.integers(0, n_orders, n_line))
    lineitem = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, 2000, n_line),
        "l_suppkey": rng.integers(0, 100, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _us(odays[lorder] + rng.integers(1, 122, n_line), "1995-01-01"),
    })

    ev = event_history(seed + 1, n_events, 150, mean_gap_ms=259_200.0, skew=None)
    ts_us = ev.column("ts").to_numpy() * 1000
    events = pa.table({
        "event_id": ev.column("event_id"),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": ev.column("user_id"),
        "event_type": ev.column("event_type"),
        "value": ev.column("value"),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    words = np.array(_WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.08:
            # a near-duplicate of an earlier document: a few words replaced
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = str(rng.choice(words))
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(8, 100)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_embs)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_embs, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_embs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "nation": nation, "customer": customer, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_batch_tables(seed: int, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in batch_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


# ---------------------------------------------------------------------- feeder

def feed(directory: str, rate: int, seconds: float, seed: int, period_ms: int,
         n_users: int, stats_path: str) -> None:
    os.makedirs(directory, exist_ok=True)
    src = EventSource(seed, n_users)
    per_file = max(1, round(rate * period_ms / 1000))
    n_files = max(1, round(seconds * 1000 / period_ms))
    # a throwaway file first, so the first due file does not pay the
    # writer's first-call costs
    pq.write_table(EventSource(seed, n_users).take(np.zeros(per_file)), pa.BufferOutputStream())
    t0 = time.time()
    late_ms = []
    for k in range(n_files):
        due = t0 + k * period_ms / 1000
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        stamp = int(due * 1000)
        table = src.take(np.full(per_file, stamp, dtype=np.int64))
        tmp = os.path.join(directory, f".tmp-{k:06d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(directory, f"part-{k:06d}.parquet"))
        late_ms.append((time.time() - due) * 1000.0)
    stats = {
        "files": n_files,
        "events": n_files * per_file,
        "period_ms": period_ms,
        "late_ms_max": max(late_ms),
        "late_ms_p50": float(np.median(late_ms)),
    }
    tmp = stats_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.rename(tmp, stats_path)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="open-loop feeder of the streaming workload")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=int, required=True, help="offered events per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--period-ms", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--stats", required=True, help="JSON file written at the end")
    a = ap.parse_args(argv)
    feed(a.dir, a.rate, a.seconds, a.seed, a.period_ms, a.users, a.stats)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
