#!/usr/bin/env python3
"""r16 adjudication harness (VERDICT r15 #1): alternating old/new A/B of
one query within ONE Spark session, toggling a SPARK_GRAFT_AB token
between reps so host drift cancels pairwise.

Usage:
  python tools/ab_suspects.py <query> <ab_token> [--pairs 5] [--sf DIR]

Prints per-pair (old, new) walls and the paired medians/means. The
token is read at plan-BUILD time by the code under test, so flipping
os.environ inside the driver process switches variants without a new
session. Methodology per guide §1: same warm-up suite as bench.py,
noop sink, release_driver_blocks(unpersist_all=True) between reps — as
bench.py does, since every rep is fully materialized by its noop save.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from rust_vector_search_spark.plans import QUERIES  # noqa: E402
from rust_vector_search_spark.plans.registry import (  # noqa: E402
    release_driver_blocks,
)
from rust_vector_search_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    pairs = 5
    if "--sf" in args:
        i = args.index("--sf"); sf_dir = args[i + 1]; del args[i:i + 2]
    if "--pairs" in args:
        i = args.index("--pairs"); pairs = int(args[i + 1]); del args[i:i + 2]
    if len(args) != 2:
        raise SystemExit(__doc__)
    name, token = args

    spark = get_spark(app_name=f"ab_{name}")
    spark.range(1000).selectExpr("sum(id)").collect()
    for w in ("q6_forecast_revenue", "ann_rp_forest_recall",
              "streaming_dedup_arrival_order"):
        QUERIES[w](spark, sf_dir).write.mode("overwrite").format("noop").save()

    fn = QUERIES[name]

    def run(variant: str) -> float:
        os.environ["SPARK_GRAFT_AB"] = token if variant == "old" else ""
        release_driver_blocks(spark, unpersist_all=True)
        spark.sparkContext.setJobDescription(f"ab:{name}:{variant}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # one untimed warm rep of each variant (JIT/codegen parity)
    run("old"); run("new")

    olds, news = [], []
    for p in range(pairs):
        # alternate starting order every pair so position bias cancels
        order = ("old", "new") if p % 2 == 0 else ("new", "old")
        for v in order:
            w = run(v)
            (olds if v == "old" else news).append(w)
        print(f"pair {p}: old={olds[-1]:.3f} new={news[-1]:.3f}", flush=True)

    os.environ["SPARK_GRAFT_AB"] = ""
    wins = sum(1 for o, n in zip(olds, news) if n < o)
    print(f"RESULT {name} [{token}] pairs={pairs}")
    print(f"  old: median={statistics.median(olds):.3f} mean={statistics.mean(olds):.3f} {sorted(round(x,3) for x in olds)}")
    print(f"  new: median={statistics.median(news):.3f} mean={statistics.mean(news):.3f} {sorted(round(x,3) for x in news)}")
    print(f"  new wins {wins}/{pairs} pairwise; median speedup old/new = "
          f"{statistics.median(olds)/statistics.median(news):.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
