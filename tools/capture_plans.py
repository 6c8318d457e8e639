#!/usr/bin/env python
"""Capture `.explain("formatted")` output for registered queries.

Optimization-round evidence tool: writes one file per query to
history/plans/<tag>/<query>_<suffix>.txt so plan claims (Exchange counts, join
strategies, PushedFilters, BatchEvalPython presence) are checkable
without running Spark.  A query that builds stable_checkpoint'd
sub-relations also gets history/plans/<tag>/<query>_subtrees_<suffix>.txt: the
PRE-truncation plan of each subtree, captured in the same build through
``checkpointing.PLAN_OBSERVER`` (the final plan shows a checkpoint only
as an opaque ``Scan ExistingRDD`` leaf, e.g. d06/s06's edge-list sort).

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
  tag     history/plans/<tag>/ output directory (e.g. r15)
  suffix  "before" or "after"
  query   names to capture (default: every registered batch query)

Streaming gates (st*) and u01 are skipped by default: their entry
points run streaming queries / update sequences whose plans are not a
single DataFrame.

Caveat (ADVICE r15): "without running Spark" refers to the plan files'
CONSUMER.  Capturing itself builds each query's DataFrame, and for
queries with EAGER checkpoints (d03, m07, the SPARQL closure gates) the
build executes the checkpointed subtree — including m07's full Python
image-decode chain — so a capture sweep runs real jobs for those.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jena_fuseki_kafka_spark import checkpointing  # noqa: E402
from jena_fuseki_kafka_spark.queries import QUERIES  # noqa: E402
from jena_fuseki_kafka_spark.session import build_session  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [
        n for n in QUERIES if not n.startswith(("st", "u01"))
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "history", "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(
        app_name="capture-plans",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    failed = []
    subtrees: list[str] = []
    checkpointing.PLAN_OBSERVER = subtrees.append
    for name in names:
        subtrees.clear()
        try:
            df = QUERIES[name](spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # plan capture must not abort the sweep
            print(f"# {name}: FAILED ({e})", file=sys.stderr)
            failed.append(name)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"{name}: {path}")
        if subtrees:
            path = os.path.join(out_dir, f"{name}_subtrees_{suffix}.txt")
            with open(path, "w") as f:
                f.write("\n\n".join(
                    f"-- stable_checkpoint subtree plan {i} --\n{plan}"
                    for i, plan in enumerate(subtrees, 1)
                ))
            print(f"{name}: {path} ({len(subtrees)} checkpointed subtrees)")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
