"""Lineage-truncation checkpoint helper with a reliability switch.

Iterative fixpoints (property paths, HashMin connected components,
SPARQL update chains) and reused sub-relations (LSH signatures, census
legs) truncate lineage so plans do not grow per iteration and shared
work is not recomputed.  ``localCheckpoint`` is the default: it writes
to executor-local block storage — no distributed filesystem round-trip,
which is the right trade on a static cluster and the only option in a
checkpoint-dir-less test session.  Its documented weakness (history/PLANS.md,
VERDICT r13/r14 "keep on the radar"): blocks are NON-replicated, so an
executor lost mid-query fails the query instead of recomputing — under
dynamic allocation or spot/preemptible executors that is a real
availability gap at 100 TB.

``spark.graft.reliableCheckpoint=true`` flips every call site in the
repo to reliable ``checkpoint()`` — blocks go to the fault-tolerant
checkpoint directory (HDFS/S3; set ``SparkContext.setCheckpointDir``
first, Spark raises a clear error otherwise) and survive executor loss.
The switch is a session conf, not a per-call flag, because mixing the
two modes inside one query buys nothing: the failure domain is the
session's executor fleet.

Neutrality when off is structural: the default branch calls
``localCheckpoint(eager=...)`` with identical arguments to the code it
replaced (tests/test_checkpointing.py pins both paths to identical
results on the iterative-fixpoint and lazy-reuse gates).

Two further documented weaknesses (ADVICE r15), both accepted trades:

- **Block accumulation in long-lived sessions.**  Checkpointed RDD
  blocks are never explicitly unpersisted; each fresh DataFrame build
  (every bench repeat, every HTTP request that rebuilds a plan) leaves
  its own checkpointed RDDs in the block manager until the RDD objects
  are garbage-collected on the driver and the ContextCleaner reaps the
  blocks.  Storage is MEMORY_AND_DISK, so the footprint spills rather
  than OOMs, and the cleaner does reclaim it asynchronously — but a
  long-lived session's block manager grows between GC cycles, and the
  benign "non-existent accumulator" DAGScheduler warnings seen in long
  oracle sweeps come from this same machinery.  A session that builds
  thousands of checkpointed plans should either call
  ``spark.sparkContext._jsc.sc().cleaner()`` hygiene hooks (automatic)
  or periodically restart, as any Spark service does.

- **Lazy sharing within one action is timing-dependent.**  A LAZY
  localCheckpoint consumed by two subtrees of a single action (e.g.
  both sides of a self-join) is materialized by whichever stage runs
  first; concurrent shuffle-map stages can RACE the MEMORY_AND_DISK
  cache and each recompute some partitions.  The sharing is therefore
  an optimization, not a guarantee — correctness is unaffected (the
  subtree is deterministic), only the dedup of work.  Call sites where
  the shared subtree is expensive enough that a duplicated computation
  would be catastrophic (m07's Python image-decode chain) use
  ``eager=True`` and pay the materialization barrier; the d-family's
  lazy sites accept the race because a partial recompute of hash
  columns is cheap next to an always-on barrier.
"""

from __future__ import annotations

RELIABLE_CONF = "spark.graft.reliableCheckpoint"

# Optional observer for PRE-truncation plans (ADVICE r15): checkpoint
# truncation replaces the subtree with an opaque ``Scan ExistingRDD``
# leaf, hiding it from any lint that only sees the final plan — the
# registry-wide fatal-pattern sweep (tests/test_plan_lint.py) would miss
# a CartesianProduct or BatchEvalPython INSIDE a checkpointed
# sub-relation.  The lint installs a callable here while it builds each
# query; every stable_checkpoint call then hands it the formatted plan
# of the subtree being truncated.  None in production: zero overhead.
PLAN_OBSERVER = None


def stable_checkpoint(df, eager: bool = True):
    """Truncate ``df``'s lineage: ``localCheckpoint`` by default,
    reliable ``checkpoint`` when ``spark.graft.reliableCheckpoint`` is
    true in the session conf (see module docstring for the trade)."""
    if PLAN_OBSERVER is not None:
        try:
            mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            PLAN_OBSERVER(df._jdf.queryExecution().explainString(mode))
        except Exception:
            pass  # observability must never break the query build
    reliable = (
        df.sparkSession.conf.get(RELIABLE_CONF, "false") or "false"
    ).lower() == "true"
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
