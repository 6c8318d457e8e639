#!/usr/bin/env python
"""Isolated per-query timing for optimization A/B runs (guide §1.1/§1.4).

Times each named query with the noop sink (computes every column, no
collect/driver transfer) after one warmup, and stamps the host speed with
the bench's calibration job before and after — the host oscillates on
minute timescales (history/PLANS.md, r15 ledger), so paired readings must be
normalized by calibration to be comparable across runs.

Usage: python tools/op_time.py [--repeats N] [--collect] query [query ...]
Prints one JSON line: {"cal": [pre, post], "queries": {name: {"median":
s, "samples": [...]}}}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jena_fuseki_kafka_spark.queries import QUERIES  # noqa: E402
from jena_fuseki_kafka_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--collect", action="store_true",
                    help="time .collect() like bench.py instead of the noop sink")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="op-time", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    def cal() -> float:
        vals = []
        for _ in range(3):
            t0 = time.time()
            spark.range(1_000_000_000).selectExpr("sum(id)").collect()
            vals.append(time.time() - t0)
        return round(statistics.median(vals), 3)

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"op_time:{name}")
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        if args.collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        took = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return round(took, 3)

    # JVM/codegen warmup so the first query doesn't absorb startup cost
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    cal_pre = cal()
    out: dict[str, dict] = {}
    for name in args.names:
        run(name)  # warmup: steady-state codegen/AQE, same rationale as bench.py
        samples = [run(name) for _ in range(args.repeats)]
        out[name] = {"median": round(statistics.median(samples), 3), "samples": samples}
        print(f"# {name}: median {out[name]['median']}s {samples}", file=sys.stderr)
    cal_post = cal()
    print(json.dumps({"cal": [cal_pre, cal_post], "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
