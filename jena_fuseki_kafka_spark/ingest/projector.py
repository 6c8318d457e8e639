"""Micro-batch projector: Kafka-event batches -> one quad-store transaction.

This replaces the reference's entire hand-built write path
(FusekiProjector.java:233-479 — transactional micro-batcher, DLQ router,
abort-and-replay, good-prefix guarantee) with a declarative formulation:

- **Micro-batch = transaction** (reference A6): every call to
  ``apply_event_batch`` is exactly one QuadStore commit.  Batch sizing is
  the streaming trigger's job (``maxOffsetsPerTrigger`` etc.), not code —
  see SURVEY.md §4.

- **Good-prefix guarantee, declaratively** (reference A10/A11,
  FusekiProjector.java:362-379): instead of abort-and-replay, malformed
  events are filtered out *before* the single commit, so all parseable
  events land and no batch-mate is lost.  The end state is identical to the
  reference's replay dance.

- **Ordered deletes without a driver loop** (reference §7.4 "delete
  ordering"): the net effect of an ordered op sequence is "for each quad,
  the last op wins".  We assign each op a global sequence number
  (partition-ordered by (topic, partition, offset, op index) — the
  reference requires single-partition topics for delete workloads,
  README.md:148-153, and we preserve that documented constraint for
  cross-batch ordering) and reduce with max_by.  This is a single shuffle
  on the quad key and scales linearly; no collect(), no per-event loop.

- **DLQ side-output** (reference A10, FusekiProjector.java:287-320): bad
  rows are returned enriched with the same four ``Dead-Letter-*`` headers
  the reference sets; the caller produces them to the DLQ topic (or a
  parquet dead-letter table when Kafka isn't attached).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import QUAD_COLS
from ..store import QuadStore
from .payloads import PARSED_SCHEMA, parse_events_pdf

DLQ_REASON = "Dead-Letter-Reason"
DLQ_EXC_CLASS = "Dead-Letter-Exception-Class"
DLQ_ROOT_CAUSE = "Dead-Letter-Root-Cause"
DLQ_ROOT_CAUSE_CLASS = "Dead-Letter-Root-Cause-Class"


def parse_events(events: DataFrame) -> DataFrame:
    """EVENT_SCHEMA -> flat PARSED_SCHEMA (one row per op; one NULL-op row
    per failed event) via Arrow-batched mapInPandas."""
    return events.mapInPandas(parse_events_pdf, schema=PARSED_SCHEMA)


def net_effect(parsed_ok: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reduce an ordered op stream to net (adds, deletes).

    Input: flat PARSED_SCHEMA rows.  The global op order is (partition,
    offset, op index) — offset order within a Kafka partition is the
    reference's correctness axis (SURVEY.md §2 "ordering, not time").
    """
    last = _net_last(parsed_ok)
    adds = last.filter(F.col("last_op") == "A").drop("last_op")
    deletes = last.filter(F.col("last_op") == "D").drop("last_op")
    return adds, deletes


def _net_last(parsed_ok: DataFrame) -> DataFrame:
    """The shared net-effect aggregate: quad cols + last_op.

    Input is already one row per op (flat PARSED_SCHEMA).  One monotone
    sequence per (partition, offset, op_idx); offsets are < 2^40 and
    ops-per-event < 2^20 in practice.
    """
    ops = parsed_ok.filter(F.col("op").isNotNull()).select(
        ((F.col("offset") * F.lit(1 << 20)) + F.col("op_idx")).alias("seq"),
        F.col("partition"),
        "op",
        *QUAD_COLS,
    )
    # last-op-wins per quad: single hash aggregation, no window, no sort
    return ops.groupBy(*QUAD_COLS).agg(F.max_by("op", F.col("seq")).alias("last_op"))


def dlq_rows(parsed_bad: DataFrame) -> DataFrame:
    """Enrich failed events with the reference's Dead-Letter-* headers
    (FusekiProjector.java:309-314 naming) for DLQ production."""
    enriched_headers = F.concat(
        F.coalesce(F.col("headers"), F.array()),
        F.array(
            F.struct(F.lit(DLQ_REASON).alias("key"), F.encode(F.col("error"), "utf-8").alias("value")),
            F.struct(
                F.lit(DLQ_EXC_CLASS).alias("key"), F.encode(F.col("error_class"), "utf-8").alias("value")
            ),
            F.struct(
                F.lit(DLQ_ROOT_CAUSE).alias("key"), F.encode(F.col("error"), "utf-8").alias("value")
            ),
            F.struct(
                F.lit(DLQ_ROOT_CAUSE_CLASS).alias("key"),
                F.encode(F.col("error_class"), "utf-8").alias("value"),
            ),
        ),
    )
    return parsed_bad.withColumn("headers", enriched_headers).select(
        "key", "value", "headers", "topic", "partition", "offset", "timestamp"
    )


def apply_event_batch(
    spark: SparkSession,
    store: QuadStore,
    events: DataFrame,
    txn_id: str | None = None,
) -> dict:
    """Apply one micro-batch of events transactionally.

    Returns {"version": int, "dlq": DataFrame, "n_adds": int, "n_deletes": int}.
    The caller (streaming foreachBatch or a batch driver) writes the dlq
    DataFrame to the configured dead-letter sink.
    """
    # Fan the batch out to every core before the parse UDF: a micro-batch
    # is typically a handful of Kafka partitions (or one small file split),
    # so without this the Python parse runs on 1-2 tasks while the rest of
    # the cluster idles.  Unconditional: the shuffle moves only the bounded
    # batch payload (<= batch_bytes), always cheaper than single-threaded
    # parsing — and probing the current partition count would force an RDD
    # conversion + full plan analysis on the driver every micro-batch.
    events = events.repartition(spark.sparkContext.defaultParallelism)
    # cache: parse once, consumed by the ok branch, the bad branch, and the
    # adds/deletes actions inside commit
    parsed = parse_events(events).persist()
    last = None
    try:
        ok = parsed.filter(F.col("error").isNull())
        bad = parsed.filter(F.col("error").isNotNull())
        # both A and D branches share the net-effect aggregate as their
        # parent — persist THAT, so the shuffle runs once and the branches
        # are cached-filter reads (previously each count re-ran the groupBy)
        last = _net_last(ok).persist()
        counts = {
            r["last_op"]: r["n"]
            for r in last.groupBy("last_op").agg(F.count("*").alias("n")).collect()
        }
        n_adds = counts.get("A", 0)
        n_deletes = counts.get("D", 0)
        adds = last.filter(F.col("last_op") == "A").drop("last_op")
        deletes = last.filter(F.col("last_op") == "D").drop("last_op")
        # materialize the DLQ branch BEFORE the commit: it is independent of
        # the store state, and doing every Spark action up front means the
        # only work after the commit becomes visible is assembling the
        # return dict — a stop() that drains the in-flight batch can no
        # longer observe committed-but-unaccounted state
        dlq = dlq_rows(bad).persist()
        n_dlq = dlq.count()
        txn = txn_id or uuid.uuid4().hex
        # applied-delta accounting: a crash-replayed batch (same txn_id) is
        # a store no-op, so its delta is 0 — single writer per connector
        # makes this pre-check race-free (FKRegistry.java:45-99 invariant)
        replayed = store.seen_txn(txn)
        version = store.commit(
            spark,
            adds=adds if n_adds else None,
            deletes=deletes if n_deletes else None,
            txn_id=txn,
            # net-effect already reduced to unique quads — skip the
            # within-batch dropDuplicates shuffle in the store
            assume_unique=True,
        )
        return {
            "version": version,
            "dlq": dlq,
            "n_adds": 0 if replayed else n_adds,
            "n_deletes": 0 if replayed else n_deletes,
            "n_dlq": n_dlq,
            "replayed": replayed,
        }
    finally:
        parsed.unpersist()
        if last is not None:
            last.unpersist()
