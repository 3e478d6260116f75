"""``streaming``: the partitioned CQL patterns on Structured Streaming, used
two opposite ways in one run.

1. Replay: a Zipf-keyed history drained with ``availableNow`` through the
   followed_by and the absence plan (``replay.py``), one huge micro-batch per
   drain. Per-key state and the Python kernels set the pace; this gives
   ``throughput_eps``.
2. Open loop: a feeder at 1,000 events/s into the followed_by plan added
   through ``QueryManager`` (``latency.py``), many small micro-batches on
   the default trigger. Fixed costs per micro-batch and per task set the
   event-to-alert latency; this gives ``latency_p50_ms`` and
   ``latency_p90_ms``.

The replay's warm cycles take the first ``REPLAY_SHARE`` of ``--seconds``,
after one cold cycle and at least ``MIN_CYCLES`` cycles in all; the open
loop's measured window takes the rest, and at least ``MIN_WINDOW_S``.
"""

from __future__ import annotations

import os
import time

import tracing
from common import HostProbe, log, percentile, repeated_setup
from latency import AlertLatency
from replay import Replay

REPLAY_SHARE = 0.3
MIN_CYCLES = 3
MIN_WINDOW_S = 16


def run(work: str, seed: int, seconds: int, tracer: tracing.Tracer) -> dict:
    quiet = tracing.Tracer(False)
    rp = Replay(os.path.join(work, "replay"), seed, quiet)
    al = AlertLatency(os.path.join(work, "alert"), seed, tracer)

    def setup(spark) -> None:
        rp.setup(spark)
        al.setup(spark)

    spark, setup_s = repeated_setup(work, setup, al.teardown)
    rp.references()
    probe = HostProbe(spark)

    # The first cycle runs on a cold JVM and cold Python workers; each plan
    # reports its floor over the cycles, so the first one is the warm-up.
    log("replay")
    cycles, traced_cycles = [], []
    spent = 0.0
    while True:
        # traced runs go untraced (cold), traced, traced, untraced, untraced,
        # so that a drift over the run cancels out of the overhead
        i = len(cycles) + len(traced_cycles)
        traced = tracer.enabled and i % 4 in (1, 2)
        rp.tracer = tracer if traced else quiet
        t0 = time.perf_counter()
        res = rp.cycle()
        probe.sample()
        if i:
            spent += time.perf_counter() - t0
        (traced_cycles if traced else cycles).append(res)
        if spent >= seconds * REPLAY_SHARE and i + 1 >= (5 if tracer.enabled else MIN_CYCLES):
            break
    log("cycles " + "; ".join(" ".join(f"{n}={w:.2f}s" for n, (w, _) in c.items())
                              for c in cycles + traced_cycles))

    window = max(MIN_WINDOW_S, seconds - spent)
    log(f"open loop, {window:.1f} s window")
    al_res = al.measure(window)
    probe.sample()
    drains = [o for c in cycles + traced_cycles for _, o in c.values()]
    for e in ([o.error for o in drains if o.error] + al_res["errors"])[:5]:
        log(f"check failed: {e}")

    def eps(cs: list[dict]) -> float:
        """History events over the drains' wall time, each plan at its
        floor over the cycles (noise only ever adds time)."""
        return len(rp.plans) * rp.n_events / sum(min(c[n][0] for c in cs) for n in rp.plans)

    lat = al_res["latency_ms"]
    log(f"{len(lat)} alerts in the window, p99 {percentile(lat, 99):.0f} ms, "
        f"feeder late max {al_res['late_ms_max']:.1f} ms")
    e2e = {
        "setup_s": setup_s,
        "throughput_eps": eps(cycles),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p90_ms": percentile(lat, 90),
    }
    parts = {
        "part.replay_eps": e2e["throughput_eps"],
        "part.alert_p50_ms": e2e["latency_p50_ms"],
        "part.alert_p99_ms": percentile(lat, 99),
        "part.alert_samples": len(lat),
    }
    overhead = {}
    if tracer.enabled:
        # the open loop traces its second half only: compare the halves
        m0, m1 = al_res["window"]
        mid = (m0 + m1) / 2
        first, second = al.latencies(m0, mid), al.latencies(mid, m1)
        parts["part.alert_p50_ms"] = percentile(first, 50)
        parts["part.alert_p99_ms"] = percentile(first, 99)
        parts["part.alert_samples"] = len(first)
        overhead = {"replay.": eps(cycles) / eps(traced_cycles) - 1.0,
                    "alert.": percentile(second, 50) / percentile(first, 50) - 1.0}
    # drains and alerts are counted at the same grain, output rows
    attempted = sum(o.attempted for o in drains) + al_res["attempted"]
    failed = sum(o.failed for o in drains) + al_res["failed"]
    return {"spark": spark, "e2e": e2e, "host_factor": probe.factor(), "parts": parts,
            "attempted": attempted, "failed": failed,
            "units": {"replay.": len(traced_cycles)}, "overhead": overhead}
