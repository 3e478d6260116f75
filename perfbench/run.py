#!/usr/bin/env python3
"""Benchmark of the flink_siddhi_spark engine.

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads (see README.md next to this file):
``streaming`` and ``batch_queries``. Inputs are made
from ``--seed``; the run sets up, warms up, measures for ``--seconds``,
checks every output against a DuckDB reference and prints, as its last
stdout line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, from a run that alternates untraced and
traced units and also reports the tracing overhead. The line before it holds
the run's provenance (nproc, Spark and Python versions, seed). Spans of a
traced run are written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("streaming", "batch_queries")
E2E_UNITS = {
    "setup_s": "s",
    "throughput_eps": "events/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ok_rate": "fraction",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="flink_siddhi_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flink_siddhi_spark", "__init__.py")):
        print("perfbench: flink_siddhi_spark not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # the library is imported from the checkout, by this process and by the
    # Python workers Spark starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench", f"work-{a.workload}-{a.seed}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts would keep perf data in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if o)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    import common
    import tracing

    tracer = tracing.Tracer(bool(a.trace))
    prov = common.provenance(a.workload, a.seed, a.seconds, bool(a.trace))
    common.log(f"provenance {json.dumps(prov)}")
    res = None
    try:
        if a.workload == "streaming":
            import streaming as wl
        else:
            import queries as wl
        res = wl.run(work, a.seed, a.seconds, tracer)
        rss = tracing.peak_rss_mb(common.jvm_pid(res["spark"]))
    finally:
        if res is not None:
            common.stop_session(res["spark"])
        common.clean(work)
        common.log("done")

    attempted, failed = res["attempted"], res["failed"]
    if a.trace:
        values = {m: 0.0 for m in tracing.ALL_METRICS}
        values.update(tracer.aggregate(res["units"]))
        values.update(res["parts"])
        values["part.error_rate"] = failed / attempted
        values["proc.peak_rss_mb"] = rss
        values.update({f"{p}trace.overhead": v for p, v in res["overhead"].items()})
        metrics = {k: {"value": values[k], "unit": tracing.unit_of(k)}
                   for k in tracing.ALL_METRICS}
        out = os.path.join(ROOT, ".perfbench", "out",
                           f"trace-{a.workload}-{a.seed}.json")
        tracer.write(out, {"provenance": prov, "metrics": values})
        common.log(f"spans written to {out}")
    else:
        # at the reference host's speed: times scale with the host
        # factor, rates with its inverse
        f = res["host_factor"]
        common.log(f"host factor {f:.3f}; as measured: "
                   + " ".join(f"{k}={v:.4g}" for k, v in res["e2e"].items()))
        values = {k: v / f if E2E_UNITS[k].endswith("/s") else v * f
                  for k, v in res["e2e"].items()}
        values["ok_rate"] = 1.0 - failed / attempted
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
