"""Same-day A/B micro-bench for the table_changes verb (VERDICT r10
item 4): BENCH_r10 recorded store_table_changes_verb at 1.49x r9's
number, and that verb was NOT in the round-10 same-day A/B set — this
script settles whether the elevation is machine-day drift (like its
siblings) or a real cost added by the r10 OCC/CDF changes.

Usage: python tools/bench_tc_ab.py <repo_path> [label]

Reproduces bench.py's verb-block lifecycle exactly (overwrite_keyed at
32 buckets from sf0.1 orders, constraint set, upsert + merge_when +
delete_where mutations) and times ONLY the table_changes("t", 1) noop
materialization, median-of-5 with spread, against the package rooted
at <repo_path>. Run it against two checkouts in one sitting for a
same-machine-day comparison (SCALE.md playbook rule 4).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

repo = os.path.abspath(sys.argv[1])
label = sys.argv[2] if len(sys.argv) > 2 else repo
sys.path.insert(0, repo)

from datapipelinerepo_spark.io import TableStore, load_table  # noqa: E402
from datapipelinerepo_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

RUNS = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_tc_ab")
    spark.sparkContext.setLogLevel("ERROR")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    base.count()  # warm scan

    samples = []
    for _ in range(RUNS):
        wdir = tempfile.mkdtemp(prefix="bench_tc_ab_")
        try:
            store = TableStore(spark, os.path.join(wdir, "store"))
            store.overwrite_keyed(
                base, "t", "o_orderkey", n_buckets=32
            )
            store.set_constraints("t", {"price_pos": "o_totalprice > 0"})
            batch = base.filter(F.col("o_orderkey") % 100 == 7).withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            )
            store.upsert(batch, "t", "o_orderkey")
            merge_src = base.filter(F.col("o_orderkey") % 100 == 9).select(
                "o_orderkey",
                (F.col("o_totalprice") / 10).alias("adj"),
                F.when(F.col("o_orderkey") % 200 == 9, F.lit("del"))
                .otherwise(F.lit("adj"))
                .alias("tag"),
            )
            store.merge_when(
                merge_src,
                "t",
                "o_orderkey",
                when_matched_update={
                    "o_totalprice": "t.o_totalprice + s.adj"
                },
                matched_condition="s.tag = 'adj'",
                when_matched_delete="s.tag = 'del'",
                when_not_matched_insert=False,
            )
            store.delete_where("t", F.col("o_totalprice") > 400000)

            t0 = time.perf_counter()
            store.table_changes("t", 1).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - t0)
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
    samples.sort()
    print(json.dumps({
        "label": label,
        "verb": "store_table_changes_verb",
        "median": round(samples[RUNS // 2], 3),
        "spread": round(samples[-1] - samples[0], 3),
        "samples": [round(s, 3) for s in samples],
    }))


if __name__ == "__main__":
    main()
