"""Core-count scaling evidence at sf1 (round-10, r9 verdict item 7).

The driver's own 8c/32c block is recorded at sf0.1, where every bench
query is fixed-job-cost dominated and the ratio reads ~1 for
everything — uninformative. This tool times a query list at the sf1
stress set (tools/make_sf1.py output) under the CURRENT
``SPARK_GRAFT_CPUS``, with the bench methodology (noop sink, min of
N passes, caches cleared between queries). Run it twice —
``SPARK_GRAFT_CPUS=32`` then ``=8`` — and merge with ``--merge`` to
produce SCALING_SF1_r10.json with the 8c/32c ratios.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/scaling_sf1.py [query ...]   # writes .scaling_c32.json
  SPARK_GRAFT_CPUS=8  python tools/scaling_sf1.py [query ...]   # writes .scaling_c8.json
  python tools/scaling_sf1.py --merge                           # writes SCALING_SF1_r10.json
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF1 = os.path.join(_REPO, ".stress", "sf1")
OUT = os.path.join(_REPO, "SCALING_SF1_r10.json")

#: Queries touched by the r9/r10 optimization rounds whose changes
#: carry parallelism claims (fan-out, pinned repartition, kernel
#: loops, window frames, persisted fan-outs).
DEFAULT_QUERIES = [
    "winnowing_overlap",
    "contamination_check",
    "llm_corpus_pipeline",
    "rolling_window_features",
    "full_enrichment",
    "indicators_recursive_pack",
    "tpch_q9_product_profit",
    "bpe_train_merges",
    "anchored_vwap_points",
    "asof_join_next_bar",
    "candles_gap_interpolate",
    "dedup_embedding_cosine",
    "graph_bfs_levels",
    "fuzzy_match_customers",
    "candles_1s",
    "join_order_revenue",
]

PASSES = 2


def run() -> int:
    names = sys.argv[1:] or DEFAULT_QUERIES
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from auto_trade_data_pipeline_spark.corpus import load_all
    from auto_trade_data_pipeline_spark.session import get_spark

    spark = get_spark(f"scaling-sf1-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    out: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(PASSES):
            t0 = time.perf_counter()
            df = reg[name].fn(spark, SF1)
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
        out[name] = round(best, 3)
        print(f"c{cpus} {name}: {best:.3f}s", flush=True)
    path = os.path.join(_REPO, f".scaling_c{cpus}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)
    return 0


def merge() -> int:
    with open(os.path.join(_REPO, ".scaling_c32.json")) as fh:
        c32 = json.load(fh)
    with open(os.path.join(_REPO, ".scaling_c8.json")) as fh:
        c8 = json.load(fh)
    rows = {
        n: {
            "c32_sec": c32[n],
            "c8_sec": c8[n],
            # c32 is rounded to ms: a 0 there has no ratio
            "c8_over_c32": round(c8[n] / c32[n], 2) if c32[n] else None,
        }
        for n in c32
        if n in c8
    }
    doc = {
        "sf_dir": SF1,
        "method": f"noop sink, min of {PASSES} passes, caches cleared "
        "between queries; one process per core count "
        "(master local[SPARK_GRAFT_CPUS])",
        "queries": rows,
    }
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1)
    print("wrote", OUT)
    return 0


if __name__ == "__main__":
    sys.exit(merge() if "--merge" in sys.argv else run())
