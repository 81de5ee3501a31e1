"""Micro-bench: point-lookup latency vs bucket count (the SCALE.md
lookup table). At FIXED table size more buckets only add per-file
overhead; the scan fraction is |keys' buckets|/n_buckets either way —
this measures the local fixed-overhead floor, not the scaling law.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_lookup_buckets.py

Prints one JSON line: {"sf": ..., "runs": N,
  "points": [{"n_buckets": 8, "lookup_s": ...}, ...]}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelinerepo_spark.io import TableStore, load_table  # noqa: E402
from datapipelinerepo_spark.session import get_spark  # noqa: E402

BUCKET_COUNTS = (8, 32, 128, 512)
KEYS = [1, 7, 34, 96, 4000, 9991, 130, 998]
RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(tail)  # tolerate dirs not named sf<number>
    except ValueError:
        sf = sf_dir
    spark = get_spark(app_name="bench_lookup_buckets")
    spark.sparkContext.setLogLevel("ERROR")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    orders.write.format("noop").mode("overwrite").save()  # warm scan
    points = []
    for nb in BUCKET_COUNTS:
        wdir = tempfile.mkdtemp(prefix="lkb_")
        try:
            store = TableStore(spark, wdir)
            store.overwrite_keyed(
                orders, "t", "o_orderkey", n_buckets=nb
            )
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                store.lookup("t", KEYS).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
            samples.sort()
            points.append(
                {"n_buckets": nb, "lookup_s": round(samples[RUNS // 2], 3)}
            )
            print(f"# {points[-1]}", file=sys.stderr)
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
    print(json.dumps({"sf": sf, "runs": RUNS, "points": points}))


if __name__ == "__main__":
    main()
