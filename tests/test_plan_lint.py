"""Registry-wide physical-plan lint: the automatic 100 TB safeguard.

``test_plan_shape.py`` pins the plans of individually-audited queries;
this module sweeps EVERY registered batch query — including ones added in
future rounds that nobody remembered to pin — and rejects the three plan
patterns that are always fatal at scale:

* ``CartesianProduct``        — |left| × |right| rows, never acceptable.
* ``BatchEvalPython``         — row-at-a-time Python eval (the slow path;
                                 Arrow/Pandas eval is the sanctioned one).
* ``BroadcastNestedLoopJoin`` — acceptable ONLY when the broadcast side is
                                 provably bounded (a collected query set, a
                                 centroid table, a scalar subquery row);
                                 every such case must be allowlisted below
                                 WITH its boundedness argument, so an
                                 unbounded theta-join can't slip in under
                                 an old exemption.

A new query that legitimately needs a bounded nested-loop join must add an
allowlist entry here — the reason string is the review artifact.
"""

import pytest

from jena_fuseki_kafka_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

# name -> why the BroadcastNestedLoopJoin side is bounded.  Keep reasons
# concrete: what relation broadcasts and what bounds its size.
BNLJ_ALLOWED = {
    "q12_subquery_above_avg": "scalar AVG subquery: broadcast side is one row",
    "r16_from_named_dataset": "SPARQL MINUS domain-overlap join over two "
    "small graph-restricted binding sets; overlap predicate is a theta-join "
    "by construction (§18.5), inputs bounded by the FROM NAMED selection",
    "r17_minus_compat": "SPARQL MINUS §18.5 domain-overlap theta-join; "
    "right side is the MINUS pattern's bindings (dimension-scale)",
    "r18_negated_property_set": "negated-property-set complement join "
    "against the bounded predicate vocabulary of the dataset",
    "p03_mixture_rebalance": "per-source target-share table (one row per "
    "source label, ≤ distinct sources) broadcast against documents",
    "p08_epoch_mixture_plan": "the ONE-row global-totals aggregate crossed "
    "with the per-source counts (twice: the plan subtree feeds both the "
    "fractional-epoch selection and the final report); every corpus-sized "
    "join is a source-keyed equi-join",
    "p04_leakage_safe_split": "straddle audit joins the ≤16-row split "
    "summary back; broadcast side bounded by split arity",
    "s01_ann_bruteforce_topk": "broadcast side is the collected query "
    "vector set (fixed query batch), fanned out per corpus row",
    # s03/s03b/s09 carried centroid-cross entries until r15: their
    # cell-assignment subtrees (bounded centroid BNLJ) are now
    # materialized ONCE via a lazy stable_checkpoint instead of being
    # recomputed per consumer, so the cross lives inside the truncated
    # subtree — the same observability class as the d-family's
    # checkpointed shingle relations (test_checkpointing pins the
    # result identity; the boundedness argument is unchanged: the
    # broadcast side is the fixed-size centroid table).
    "s04_ann_ivf": "broadcast centroid table (n_cells fixed) for cell "
    "assignment; probe join bounded by n_probe × queries",
    "s05_ann_recall_gate": "recall gate joins IVF results against the "
    "brute-force truth for the fixed query batch (both bounded)",
    "s08_prefix_dim_rerank": "coarse top-k candidate ids (k × queries rows) "
    "broadcast back for exact rerank",
    "s10_incremental_ann_admission": "broadcast centroid table (n_cells "
    "fixed) scores both the corpus assignment and the batch probes; the "
    "admission join itself is a cell-id equi-join",
    "s11_pq_adc_topk": "broadcast sides are the PQ codebook (<= PQ_K rows "
    "by construction: vec_id < PQ_CODE_MOD*PQ_K) and the per-query ADC "
    "distance-table maps (N_QUERY_VECS rows); the ADC pass itself is a "
    "row-local lookup-and-add over the codes relation",
}

# Queries whose construction executes driver-side iterative jobs (fixpoint
# loops, staged model fits) — sweeping them here would re-run those jobs on
# every test session.  Each has an individual plan pin in test_plan_shape.py
# or an algorithm-level bound documented in history/PLANS.md.
EXPENSIVE_ITERATIVE = {
    "d06_dedup_clusters",
    "s06_embedding_dup_clusters",
    "p04_leakage_safe_split",
    "d11_fuzzy_decontamination",
    "r05_property_path_closure",
    "t11_bigram_lm_perplexity",
}

# Streaming gates run an actual micro-batch stream when invoked (their
# plans are stateful-operator plans pinned by their own tests); u01 drives
# a live HTTP update sequence.
_SKIP = lambda n: n.startswith("st") or n == "u01_update_sequence" or n in EXPENSIVE_ITERATIVE

BATCH_QUERIES = sorted(n for n in QUERIES if not _SKIP(n))


# Checkpointed SUB-RELATION plans (captured pre-truncation via
# checkpointing.PLAN_OBSERVER) whose BroadcastNestedLoopJoin is bounded.
# Same discipline as BNLJ_ALLOWED, but for plans the final-plan lint
# cannot see because stable_checkpoint replaced them with a Scan
# ExistingRDD leaf (the ADVICE r15 blind spot).
SUBTREE_BNLJ_ALLOWED = {
    "s03_embedding_near_dup": "checkpointed cell-assignment subtree "
    "crosses the corpus with the broadcast centroid table (n_cells "
    "fixed by construction)",
    "s03b_embedding_near_dup_lowt": "same checkpointed centroid cross "
    "as s03 (threshold-only variant)",
    "s09_semdedup_prune": "checkpointed single-cell assignment subtree: "
    "broadcast centroid table, bounded as in s03/s04",
}


# name -> (spark column names, physical plan, checkpointed subtree
# plans).  Built once per query and shared by the lint, the subtree
# lint, and the column-parity test so the sweep's DataFrame construction
# cost is paid once, not per-test.
_INFO: dict[str, tuple[list, str, list]] = {}


def _info(spark, name: str) -> tuple[list, str, list]:
    if name not in _INFO:
        from jena_fuseki_kafka_spark import checkpointing

        subtrees: list[str] = []
        checkpointing.PLAN_OBSERVER = subtrees.append
        try:
            df = QUERIES[name](spark, SF)
        finally:
            checkpointing.PLAN_OBSERVER = None
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        _INFO[name] = (df.columns, plan, subtrees)
    return _INFO[name]


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_fatal_plan_patterns(spark, name):
    _, p, _ = _info(spark, name)
    assert "CartesianProduct" not in p, f"{name}: cartesian product\n{p}"
    assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python eval\n{p}"
    if "BroadcastNestedLoopJoin" in p:
        assert name in BNLJ_ALLOWED, (
            f"{name}: BroadcastNestedLoopJoin without an allowlist entry — "
            f"either bound the broadcast side and document it in "
            f"BNLJ_ALLOWED, or rewrite as an equi-join\n{p}"
        )


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_fatal_patterns_inside_checkpointed_subtrees(spark, name):
    """Checkpoint truncation hides the subtree from the final-plan lint
    above (ADVICE r15): a CartesianProduct or BatchEvalPython inside a
    stable_checkpoint'd sub-relation would otherwise escape the
    registry-wide 100 TB safeguard entirely.  PLAN_OBSERVER captures
    each subtree's plan at build time; scan them with the same rules."""
    _, _, subtrees = _info(spark, name)
    for p in subtrees:
        assert "CartesianProduct" not in p, (
            f"{name}: cartesian product inside a checkpointed subtree\n{p}"
        )
        assert "BatchEvalPython" not in p, (
            f"{name}: row-at-a-time Python eval inside a checkpointed "
            f"subtree\n{p}"
        )
        if "BroadcastNestedLoopJoin" in p:
            assert name in SUBTREE_BNLJ_ALLOWED or name in BNLJ_ALLOWED, (
                f"{name}: BroadcastNestedLoopJoin inside a checkpointed "
                f"subtree without a SUBTREE_BNLJ_ALLOWED entry\n{p}"
            )


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_oracle_column_names_match_spark(spark, duck, name):
    """The driver's compare sorts columns BY NAME before hashing, so a
    Spark/oracle alias drift is a guaranteed hash-mismatch even with
    identical values.  ``DESCRIBE <sql>`` binds the oracle without
    executing it, so this catches alias drift in every registered query
    without running a full oracle sweep."""
    from jena_fuseki_kafka_spark.queries import ORACLES

    if name not in ORACLES:
        pytest.skip("rows-only gate (no SQL oracle)")
    spark_cols, _, _ = _info(spark, name)
    oracle_cols = [r[0] for r in duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()]
    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"{name}: Spark columns {sorted(spark_cols)} != oracle columns "
        f"{sorted(oracle_cols)} — the driver hash-compare will fail on this"
    )


def test_allowlist_has_no_dead_entries(spark):
    """An allowlist entry whose query no longer produces a BNLJ (or no
    longer exists) is a stale exemption a future unbounded join could hide
    behind — prune it.  Checking registration alone cannot catch the
    exemption going stale (ADVICE r10), so each swept allowlist entry's
    plan is asserted to STILL contain the BNLJ it was exempted for —
    via the same ``_info`` cache the sweep fills, so no plan is built
    twice in a full test session."""
    for name in BNLJ_ALLOWED:
        assert name in QUERIES, f"allowlisted query {name} not registered"
        if name not in BATCH_QUERIES:
            # e.g. p04: EXPENSIVE_ITERATIVE — excluded from the sweep and
            # plan-pinned individually in test_plan_shape.py
            continue
        _, p, _ = _info(spark, name)
        assert "BroadcastNestedLoopJoin" in p, (
            f"{name}: allowlisted but its plan no longer contains a "
            f"BroadcastNestedLoopJoin — stale exemption; prune the entry"
        )
