"""``batch_queries``: one client in a closed loop running fixed entries over
seeded inputs, in an order drawn from the seed each pass.

Three groups. ``cql`` entries of ``__spark_entry__.queries()`` go through
``SiddhiCEP.cql``; with small data, query building, Catalyst and job
scheduling dominate them. ``curation`` entries call the ``llm/`` library,
where the LSH shuffle, Python UDFs and the ANN stall before the first stage
dominate. ``backfill`` runs the keyed followed_by pattern of the streaming
workload as a batch ``cql()`` over a Zipf-keyed history, and the same plan
without ``partition`` over a shorter one: one task does the un-keyed work,
through a window frame Spark evaluates in O(n^2). No group uses streaming
state.

An entry's time is build plus ``count()``, at its floor over the measured
passes. The first (warm-up) pass collects every result and compares it,
untimed, with the entry's ``oracle_sql()`` or, for backfills, with the
DuckDB pattern reference.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

import gen
import reference
import tracing
from common import HostProbe, log, percentile, repeated_setup
from replay import FIELDS, FOLLOWED_BY, keyed

# A representative subset of the groups first proposed: the pattern and
# sequence entries (the largest build share), a windowed aggregate, a
# stream-table join, a TPC-H join, the LSH dedup chain, n-gram
# contamination, TF-IDF and the exact kNN graph. Cheap entries are kept so
# that a pass is short and each entry's floor is taken over several passes;
# all 33 do not fit the time one run may take.
GROUPS = {
    "cql": [
        "filter_projection", "window_session", "join_stream_table",
        "pattern_followed_by", "sequence_family", "tpch_q3_shipping",
    ],
    "curation": [
        "dedup_minhash_lsh", "pipeline_contamination",
        "ann_knn_graph", "text_tfidf_top_terms",
    ],
    "backfill": ["backfill_keyed", "backfill_unkeyed"],
}
# backfill inputs: events (a prefix of one history of 40k events over 800
# users, 50 per user as in the replay history) and whether the plan is keyed.
# 10k un-keyed events already show the quadratic frame cost.
BACKFILL = {"backfill_keyed": (40_000, True), "backfill_unkeyed": (10_000, False)}
BACKFILL_USERS = 800
CHECK_THREADS = 4
MIN_PASSES = 3
SLOW_FIRST = ("dedup_minhash_lsh", "ann_knn_graph", "backfill_unkeyed", "backfill_keyed",
              "sequence_family")
# tables each entry scans, for rows read per second
TABLES = {
    "filter_projection": ["events"], "window_session": ["events"],
    "join_stream_table": ["orders", "customer"], "pattern_followed_by": ["events"],
    "sequence_family": ["events"], "tpch_q3_shipping": ["lineitem", "orders", "customer"],
    "dedup_minhash_lsh": ["documents"], "pipeline_contamination": ["documents"],
    "ann_knn_graph": ["embeddings"], "text_tfidf_top_terms": ["documents"],
}


class BatchQueries:
    def __init__(self, work: str, seed: int, tracer: tracing.Tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(work, "tables")
        self.rng = random.Random(seed)

    def setup(self, spark) -> None:
        import __spark_entry__

        gen.write_batch_tables(self.seed, self.data)
        history = gen.event_history(self.seed, max(n for n, _ in BACKFILL.values()),
                                    BACKFILL_USERS)
        for name, (n, _) in BACKFILL.items():
            gen.write_files(history.slice(0, n), os.path.join(self.work, name), 1)
        self.spark = spark
        self.entries = dict(__spark_entry__.queries())
        self.entries.update({name: self.backfill for name in BACKFILL})
        self.oracles = __spark_entry__.oracle_sql()
        rows = {t: pq.ParquetFile(os.path.join(self.data, f"{t}.parquet")).metadata.num_rows
                for ts in TABLES.values() for t in ts}
        self.input_rows = {q: sum(rows[t] for t in ts) for q, ts in TABLES.items()}
        self.input_rows.update({name: n for name, (n, _) in BACKFILL.items()})

    def backfill(self, spark, name: str):
        """The backfill entry ``name``; called like a ``queries()`` entry,
        with the entry's name in place of the table directory."""
        from flink_siddhi_spark import SiddhiCEP

        cep = SiddhiCEP(spark)
        cep.register_stream("events", spark.read.parquet(os.path.join(self.work, name)),
                            *FIELDS, ts_field="ts")
        plan = keyed(FOLLOWED_BY) if BACKFILL[name][1] else FOLLOWED_BY
        return cep.from_("events").cql(plan).returns("Out")

    def call(self, name: str):
        return self.entries[name](self.spark, name if name in BACKFILL else self.data)

    def check_pass(self) -> tuple[int, list[str]]:
        """Untimed warm-up pass: collect every entry and compare it with its
        oracle. Entries run on ``CHECK_THREADS`` threads at once, which
        shortens the cold start. Returns (attempted, failures)."""
        # the slowest entries first, so that no thread starts one last
        names = sorted((q for qs in GROUPS.values() for q in qs),
                       key=lambda q: q not in SLOW_FIRST)
        self.check_s: dict[str, float] = {}
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            errors = list(pool.map(self.check_one, names))
        log("checked " + " ".join(f"{q}={t:.2f}" for q, t in self.check_s.items()))
        return len(names), [f"{n}: {e}" for n, e in zip(names, errors) if e]

    def check_one(self, name: str) -> str | None:
        t0 = time.perf_counter()
        try:
            return self._check_one(name)
        finally:
            self.check_s[name] = time.perf_counter() - t0

    def _check_one(self, name: str) -> str | None:
        try:
            df = self.call(name)
            if name in BACKFILL:
                got = [tuple(r) for r in
                       df.select("user_id", "error_id", "purchase_id").collect()]
                con = reference.events_connection(os.path.join(self.work, name, "*.parquet"))
                want = reference.followed_by(con, keyed=BACKFILL[name][1])
                con.close()
                missing, extra = reference.row_set_diff(got, want)
                return f"{missing} missing, {extra} extra" if missing or extra else None
            rows = [tuple(r) for r in df.collect()]
            con = duckdb.connect()
            for t in os.listdir(self.data):
                con.execute(f"CREATE VIEW {t.split('.')[0]} AS "
                            f"SELECT * FROM '{os.path.join(self.data, t)}'")
            err = reference.compare_to_oracle(con, self.oracles[name], df.columns, rows)
            con.close()
            return err
        except Exception as e:  # a raised query counts as a failure
            return f"raised {type(e).__name__}: {str(e)[:200]}"

    def run_query(self, group: str, name: str) -> float:
        t = self.tracer
        t0 = time.perf_counter()
        if not t.enabled:
            self.call(name).count()
            return time.perf_counter() - t0
        import flink_siddhi_spark.cep as cep_module

        t.new_trace()
        with t.span(f"query.{name}"):
            with t.span("build"), tracing.time_calls(
                    cep_module, "parse", t, f"{group}.siddhiql.parse_ms"):
                df = self.call(name)
            t.add(f"{group}.plans.build_ms", (time.perf_counter() - t0) * 1000)
            with t.span("catalyst"):
                t.add_all(tracing.catalyst_phases(df._jdf), f"{group}.")
            with t.span("action"), tracing.job_window(self.spark, t, f"{group}."):
                # what count() runs, kept as a handle on its executed plan
                counted = df.groupBy().count()
                counted.collect()
            t.add_all(tracing.python_metrics(
                counted._jdf.queryExecution().executedPlan()), f"{group}.")
        return time.perf_counter() - t0

    def one_pass(self) -> tuple[dict, list[str]]:
        """Every entry once, in a seeded order: (seconds by group and entry,
        failures). A query that raises is a failure and is left out of the
        times."""
        order = [(g, q) for g, qs in GROUPS.items() for q in qs]
        self.rng.shuffle(order)
        times, failures = {g: {} for g in GROUPS}, []
        for g, q in order:
            try:
                times[g][q] = self.run_query(g, q)
            except Exception as e:
                failures.append(f"{q}: raised {type(e).__name__}: {str(e)[:200]}")
        return times, failures

    def count_py4j(self) -> None:
        """Untimed: py4j round trips of building every entry once."""
        for g, qs in GROUPS.items():
            with tracing.count_py4j(self.spark, self.tracer, f"{g}.plans.py4j_calls"):
                for q in qs:
                    self.call(q)


def run(work: str, seed: int, seconds: int, tracer: tracing.Tracer) -> dict:
    wl = BatchQueries(work, seed, tracer)
    spark, setup_s = repeated_setup(work, wl.setup)
    log("warm-up and check pass")
    attempted, failures = wl.check_pass()
    probe = HostProbe(spark)
    log("measuring")
    quiet = tracing.Tracer(False)

    passes, traced_passes = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        # traced runs go untraced, traced, traced, untraced, so that a drift
        # over the run cancels out of the overhead
        traced = tracer.enabled and i % 4 in (1, 2)
        wl.tracer = tracer if traced else quiet
        t0 = time.perf_counter()
        probe.sample()
        p, errs = wl.one_pass()
        took = time.perf_counter() - t0
        (traced_passes if traced else passes).append(p)
        attempted += sum(len(GROUPS[g]) for g in GROUPS)
        failures += errs
        log("pass " + " ".join(f"{g}={sum(p[g].values()):.2f}s" for g in p) + " | "
            + " ".join(f"{q}={t:.2f}" for g in p for q, t in p[g].items()))
        i += 1
        if t_end - time.perf_counter() < took * 0.5 and i >= (4 if tracer.enabled else MIN_PASSES):
            break
    probe.sample()
    for f in failures:
        log(f"check failed: {f}")
    if tracer.enabled:
        wl.tracer = tracer
        wl.count_py4j()

    def floors(ps: list[dict]) -> dict:
        """Each entry's fastest time over the passes that ran it: the first
        timed pass still runs slower while the JIT settles, and noise only
        ever adds time."""
        return {g: {q: min(p[g][q] for p in ps if q in p[g])
                    for q in qs if any(q in p[g] for p in ps)}
                for g, qs in GROUPS.items()}

    floor = floors(passes)

    def rows_per_s(times: dict) -> float:
        """Geometric mean of the entries' input rows per second, so that
        every entry weighs the same and the slowest ones do not dominate."""
        return math.exp(statistics.fmean(
            math.log(wl.input_rows[q] / t) for g in times for q, t in times[g].items()))

    lat = [t * 1000 for g in floor for t in floor[g].values()]
    e2e = {
        "setup_s": setup_s,
        "throughput_eps": rows_per_s(floor),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
    }
    parts = {"part.cql_pass_s": sum(floor["cql"].values()),
             "part.curation_pass_s": sum(floor["curation"].values())}
    for name, key in (("backfill_keyed", "part.backfill_eps"),
                      ("backfill_unkeyed", "part.backfill_unkeyed_eps")):
        if name in floor["backfill"]:
            parts[key] = BACKFILL[name][0] / floor["backfill"][name]
    overhead = {}
    if traced_passes:
        overhead[""] = rows_per_s(floor) / rows_per_s(floors(traced_passes)) - 1.0
    return {"spark": spark, "e2e": e2e, "host_factor": probe.factor(), "parts": parts,
            "attempted": attempted, "failed": len(failures),
            "units": {f"{g}.": len(traced_passes) for g in GROUPS}, "overhead": overhead}
