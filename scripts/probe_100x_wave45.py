#!/usr/bin/env python3
"""Round-5 waves 4-5 100x probe: run the eight new operators on the
100x-amplified corpus (bench._amplified_dir, factor=100 — same corpus
shape as SCALE.md's earlier probes) and print min-of-2 interleaved floors.

Usage: python scripts/probe_100x_wave45.py [factor]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import bench
import __spark_entry__ as entry

ARGS = [a for a in sys.argv[1:] if a != "--w67"]
FACTOR = int(ARGS[0]) if ARGS else 100
OPS = [
    "pipeline_dsir_weights",
    "text_inverted_index",
    "text_source_kl",
    "events_topk_paths",
    "events_rfm",
    "events_cooccurrence",
    "multimodal_image_neardup",
    "ann_pq_topk",
]

# waves 6-7 (pass --w67 to probe these instead)
OPS_W67 = [
    "ann_ivfpq_topk",
    "ann_sq_topk",
    "pipeline_dsir_resample",
    "pipeline_quality_budget",
    "text_dataset_card",
    "events_attribution",
    "pipeline_exact_k_sample",
    "dedup_cluster_sizes",
]


def main():
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName(f"probe-{FACTOR}x-wave45")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.time()
    amp = bench._amplified_dir(spark, sf_dir, FACTOR)
    print(f"amplified dir ready in {time.time() - t0:.1f}s: {amp}", flush=True)
    ops = OPS_W67 if "--w67" in sys.argv else OPS
    qs = entry.queries()
    floors = {}
    for p in range(2):
        for name in ops:
            t0 = time.time()
            n = qs[name](spark, amp).count()
            dt = round(time.time() - t0, 2)
            floors[name] = min(floors.get(name, dt), dt)
            print(f"pass{p} {name}: {dt}s rows={n}", flush=True)
    print("--- floors (min-of-2):")
    for name in ops:
        print(f"{floors[name]:8.2f}  {name}")


if __name__ == "__main__":
    main()
