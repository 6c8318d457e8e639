#!/usr/bin/env python
"""Degenerate-corpus robustness probe for the batch query registry.

The driver's testdata is uniformly well-formed: every document has many
words, every embedding has a nonzero norm, every table has rows.  At
production scale none of that holds — empty partitions, empty strings,
single-word documents and zero vectors all occur — and r10 found a whole
crash class there: ``sequence(1, 0)`` DESCENDS in Spark, so n-gram
builders bounded with ``greatest(..., 0)`` fed ``slice()`` a 0 start (or
indexed past the array) and errored under ANSI mode on any doc shorter
than the gram width, while the DuckDB oracles' ``generate_series(1, 0)``
quietly produced no rows (fixed for d05/t07/_shingles_spark in r10;
tests/test_dedup.py::TestShortDocRobustness pins those).

This probe generalizes that discovery loop.  It builds two corpora and
runs tools/check_correctness.py (Spark AND oracle, value-hash compare)
over every registered batch gate:

- ``empty``: every table schema-only, zero rows.  Exercises empty-scan /
  empty-join / empty-aggregate paths — the "empty partition at 100 TB"
  story, plus driver-side ``.first()``/``collect()[0]`` indexing bugs.
- ``edge``: real sf0.001 fixtures for the relational tables, but
  documents replaced with adversarial rows (empty text, whitespace-only,
  1/2/7/8-word docs, a 2000-token single-word repeat, PII/URL shapes,
  bench-sampled docs 20/52 sharing a verbatim 8-token run so d05/d11
  stay non-vacuous) and embeddings replaced with hazard vectors (the
  all-zero vector — a division-by-zero hazard for every cosine — exact
  duplicates, constant vectors, one-hot bases).

A FAIL here on a gate that is green on the driver's testdata is a LATENT
robustness bug, not a wrong answer on the graded corpus.  Like
tools/unicode_parity_probe.py, the measured partition must match
EXPECTED_FAIL exactly (exit 0 iff it does), so the probe is a tripwire
in both directions: a clean gate newly failing AND an expected-fail gate
silently passing both flag.  Shrink the dicts as fixes land; gates whose
fix has not landed yet stay documented here.

Usage: python tools/degenerate_corpus_probe.py [--corpus empty|edge] [gate ...]
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# the same verbatim >=8-token run device as the unicode probe: docs 20
# and 52 sit in d05/d11's 1-in-20 md5 benchmark sample, doc 11 quotes
# them, so the decontamination joins stay non-vacuous on the edge corpus
SHARED_RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

# source follows the fixtures' 'srcN' convention — p03 documents the
# srcN-derived weights as a config-table stand-in, so arbitrary source
# strings are out of that table's data contract (lang carries the
# empty-string hazard instead)
EDGE_DOCS = [
    (1, "", "", "src0"),
    (2, "   ", "en", "src1"),
    (3, "solo", "en", "src2"),
    (4, "two words", "en", "src3"),
    (5, "seven words sit in this doc here", "en", "src0"),
    (6, "eight words exactly fill up this document here", "en", "src1"),
    (7, "İstanbul mixed-case drift with combining marks inside words", "tr", "src2"),
    (8, ("repeat " * 2000).strip(), "en", "src3"),
    (9, "visit https://example.com/a/b mail a@b.com card 4111-1111-1111-1111", "en", "src0"),
    (11, f"train doc quoting {SHARED_RUN} verbatim in full", "en", "src1"),
    (12, "a perfectly ordinary document with enough distinct words to pass every gate", "en", "src2"),
    (13, None, "en", "src3"),  # NULL text: inevitable in any 100 TB corpus
    # r13 close-out: NULL metadata — inevitable at 100 TB, and the one
    # documents hazard class the corpus lacked.  A NULL lang falls out
    # of d04's (lang, len_bucket) equi-join blocking on BOTH engines
    # (NULL keys never match: such a doc escapes blocked dedup
    # entirely — the SQL-join semantic, identical in Spark and DuckDB)
    # and groups as its own NULL group in the lang aggregates; a NULL
    # source drops from p03's rate join the same way.  The probe pins
    # that both engines agree on every such path.
    (14, "an ordinary enough document with plenty of distinct words", None, "src1"),
    (15, "another unremarkable document body for the source hazard", "en", None),
    (20, f"benchmark sampled doc containing {SHARED_RUN} inside it", "en", "src3"),
    (52, f"second sampled benchmark doc {SHARED_RUN} again for overlap", "en", "src0"),
]

DIM = 64


def _edge_embeddings():
    rows = []

    def vec(fn):
        return [float(fn(i)) for i in range(DIM)]

    rows.append((0, vec(lambda i: 0.0), 0))  # zero norm: cosine 0/0 hazard
    rows.append((1, vec(lambda i: 1.0 if i == 0 else 0.0), 1))  # basis e0
    rows.append((2, vec(lambda i: 1.0 if i == 0 else 0.0), 1))  # exact dup of 1
    rows.append((3, vec(lambda i: 0.5), 2))  # constant
    rows.append((4, vec(lambda i: 1.0 if i == 1 else 0.0), 3))  # basis e1
    for k in range(5, 12):  # a few distinct, deterministic directions
        rows.append((k, vec(lambda i, k=k: ((i * k) % 7) - 3.0), k % 10))
    # corrupt-encoder rows (r11): a NaN component makes every cosine
    # against the row NaN, and BOTH engines evaluate NaN >= t as TRUE
    # and rank NaN above every real — unguarded, one such vector
    # near-duplicates the whole corpus; the s-family maps NaN -> NULL
    # (similarity._nan_to_null / the nullif in _COS_SQL) so these rows
    # fall out of thresholds and sort last, like zero-norm
    rows.append((12, vec(lambda i: float("nan") if i == 3 else 0.25), 2))
    rows.append((13, vec(lambda i: float("inf") if i == 7 else 0.25), 3))
    # STRUCTURALLY malformed rows (r13): NULL array, NULL component,
    # truncated width, empty array — a failed encoder batch or a
    # schema-evolved writer produces all four in a real store.  These
    # must be QUARANTINED at the scan (similarity._emb +
    # queries.valid_vector_*): the engines' list primitives diverge on
    # them (Spark zip_with/aggregate NULL-poison the dot; DuckDB
    # list_sum SKIPS NULL elements and returns a silently partial dot),
    # so any gate that let one reach a cosine would split the engines.
    rows.append((14, None, 4))
    rows.append((15, [0.25 if i != 5 else None for i in range(DIM)], 5))
    rows.append((16, vec(lambda i: 0.5)[: DIM // 2], 6))
    rows.append((17, [], 7))
    return rows


# gate -> reason it is EXPECTED to fail on the named corpus today.
# Measured 2026-08-15 (r10).  Shrink as fixes land.
EXPECTED_FAIL_EMPTY: dict[str, str] = {
    # FIXED r15 (was: Spark's Expand-based ROLLUP/CUBE yield 0 rows over
    # an EMPTY relation where ANSI and DuckDB emit the grand-total
    # grouping set's single row).  The r13-era note rejected "union an
    # ungrouped aggregate into every rollup plan" as a worse plan at
    # scale — the landed fix is cheaper than that strawman: a 1-row
    # ZERO-COLUMN count aggregate (ReadSchema struct<>) filtered to
    # n == 0, contributing the literal grand-total row only when the
    # scan is empty; no join, no second wide scan.
    # FIXED r15 (was: the oracle hard-coded one row per expected named
    # graph as UNION ALL of scalar counts where the engine's GROUP BY ?g
    # over zero solutions is correctly zero groups).  The oracle now
    # filters named_quads > 0 so it emits rows only for graphs that
    # EXIST — every corpus is at ZERO latents, no documented exceptions.
}

EXPECTED_FAIL_EDGE: dict[str, str] = {
    # FIXED r11: the zero-norm embedding (vec_id 0 — also a centroid
    # under the vec_id % CENTROID_MOD quantizer) made every cosine
    # against it divide by zero, an ANSI job abort.  All cosine sites in
    # similarity.py (the shared _cos_spark AND every inline dot/(na*nb))
    # now use F.try_divide — a NULL cosine falls out of >= threshold
    # filters and sorts NULLS LAST in every ranking window, explicitly
    # pinned on both engines (DuckDB's x/0.0 already yielded NULL, so
    # _COS_SQL needed no change).  s01-s09 all parity-clean here.
    # FIXED r11 (was: the unicode_parity_probe.py EXPECTED_FAIL set —
    # Java vs utf8proc lower() on U+0130-class codepoints): the
    # \\p{Mn}-after-lower recipe landed on t03/t04/t05/t06/t11, and
    # t06's bigram transform now rides grams_expr, whose size>=2
    # short-circuit fixes the 1-word-doc sequence(1,0) ANSI crash.
    #
    # FIXED r12 (was: s07's int8 quantizer guarded scale == 0 but not
    # scale = NaN/Inf, so the int cast of a NaN quantized value aborted
    # on BOTH engines): a non-finite scale now quantizes to the zero
    # vector exactly like the zero-norm case — finite_spark(s).isNull()
    # routes to the zero branch, NOT isfinite(s) mirrored in the oracle.
}

# Measured 2026-08-15 (r10); r11 burned the list down.  FIXED in r11:
# the relational event gates (q21/q34/q37 pin ts NULLS LAST on both
# engines; q27 filters NULL ts on both — no event time, no time window;
# q22 guards extraction behind json_valid() in a CASE and try-casts the
# value on both engines; q40's salt cast widened to the decimal(28,6)
# every other revenue gate uses — 1e12 overflowed (18,6) as an ANSI job
# abort; q44 routes NULL-ts rows to the base leg so the two cutoff
# predicates PARTITION the table) and events_to_quads, which now drops
# any quad with a NULL component (RDF has no nulls — the ingest path's
# malformed-row DLQ philosophy) with `IS NOT NULL` mirrored in the
# r01/r03/r04/r13/r14/r16 gate oracles.
# DISCOVERED late r11 by the new non-finite metric rows (18-20): every
# value -> DECIMAL/BIGINT oracle cast ABORTS in DuckDB on NaN/Inf while
# Spark's silently yields NULL — a silent-drop on one engine, a job
# abort on the other.  The shared finite_spark/finite_sql guard landed
# r11 on the in-window gates (q27/q37/q40/q44/r02/r04); the three
# below are out of r11's full window and ride r12 (q35/q41 are
# r12-mandatory; q20 takes a touched slot).  Fix = the same guard:
# Spark F.nanvl + != inf, oracle CASE WHEN isfinite(value).
# FIXED r12, dict now empty: q20/q35/q41 got the shared finite_spark/
# finite_sql guard their siblings landed in r11, and the SPARQL FLOOR/
# CEIL/ROUND builtins (translate.py) now pass any |x| >= 2^52 double —
# which routes NaN/±Inf, ordered above every real — through unchanged
# instead of riding Spark's long-returning floor()/ceil() clamp, so
# xsd:integer(FLOOR(INF)) is a type error -> unbound (XPath fn:floor
# stays in the DOUBLE domain), matching r04's oracle isfinite mirror.
EXPECTED_FAIL_EVENTS_EDGE: dict[str, str] = {}


# r12's new corpus for VERDICT r11 item 1: the TPC-H DOUBLE columns
# (l_quantity/l_extendedprice/l_discount/l_tax) carry the same
# non-finite hazard the events.value fixes closed — real sf0.001
# fixtures with six hazard rows APPENDED to lineitem (existing order
# keys, fresh l_linenumber 90+ so no PK collision; join gates see
# them).  The r12 window finite-guards the _dsumf callers (q02/q03/q04/
# q18); the gates below migrate with their r13 re-check — each entry
# is one unguarded decimal-sum/cast site (measured 2026-08-15: DuckDB
# "Could not cast value inf/nan to DECIMAL(28,6)" oracle aborts; Spark
# silently NULLs the same rows).
# FIXED r13, dict now empty: q01/q15/q19/q25 migrated from the deleted
# _dsum to the finite-guarded _dsumf (oracle isfinite mirrors); q31/q36
# guard their inline decimal casts (q31's Spark-SQL spelling is
# abs(nanvl(x, NULL)) != Inf — Spark SQL has no isfinite); q38's
# percentile + sketch input is finite-guarded on both engines (NaN
# placement diverged the sketches: 800.9 vs 744.9 at the p90 tail).
# q10's c_acctbal (customer) shared the _dsum helper and its moment
# casts — the customer-edge corpus below pins it separately.
EXPECTED_FAIL_LINEITEM_EDGE: dict[str, str] = {}


def _lineitem_edge_table():
    """sf0.001 lineitem + 6 appended rows with NaN/±Inf in the double
    columns.  Order keys are copied from real rows so the hazard flows
    through every join gate; l_linenumber 90+ keeps the PK unique.

    Built COLUMN-WISE with pyarrow: a pandas round-trip
    (``Table.from_pandas``) silently converts NaN cells to NULL, which
    would leave the NaN hazard class (``NaN > t`` is TRUE on both
    engines; finite_spark's nanvl branch) unprobed while the dict
    comments claim it measured."""
    nan, inf = float("nan"), float("inf")
    tbl = pq.read_table(os.path.join(FIXTURES, "lineitem.parquet"))
    hazards = [
        # (l_quantity, l_extendedprice, l_discount, l_tax)
        (nan, 100.0, 0.05, 0.02),
        (5.0, inf, 0.05, 0.02),
        (5.0, 100.0, -inf, 0.02),
        (5.0, 100.0, 0.05, nan),
        (inf, nan, 0.05, 0.02),
        (nan, inf, -inf, nan),
    ]
    n = len(hazards)
    head = tbl.slice(0, n)
    patched = {
        "l_linenumber": pa.array(
            [90 + i for i in range(n)], type=tbl.schema.field("l_linenumber").type
        ),
        "l_quantity": pa.array([h[0] for h in hazards], type=pa.float64()),
        "l_extendedprice": pa.array([h[1] for h in hazards], type=pa.float64()),
        "l_discount": pa.array([h[2] for h in hazards], type=pa.float64()),
        "l_tax": pa.array([h[3] for h in hazards], type=pa.float64()),
    }
    extra_cols = [
        patched.get(f.name, head.column(i)) for i, f in enumerate(tbl.schema)
    ]
    extra = pa.table(dict(zip(tbl.schema.names, extra_cols))).cast(tbl.schema)
    out = pa.concat_tables([tbl, extra])
    # tripwire on the tripwire: the written corpus must actually carry
    # NaN (not NULL) — the exact silent conversion this builder replaced
    qcol = out.column("l_quantity").to_pylist()
    assert any(v is not None and v != v for v in qcol), "NaN hazard lost"
    return out


# r13 pre-work (built in r12, tools-only): the same non-finite hazard
# class on customer.c_acctbal — the double column q10's moment
# aggregates, q12's above-average subquery, and q39's correlated MAX
# read.  Hazard rows get FRESH custkeys (no orders), so join-shaped
# gates see only a row-count ripple; the aggregate-shaped ones meet
# real NaN/Inf.  Measured partition pinned below; the fixes ride each
# gate's r13 window slot alongside the _dsum migration.
# Measured 2026-08-15: only q10 tripped — its moment aggregates cast
# c_acctbal to DECIMAL(28,6) unguarded (DuckDB NaN -> INT128 abort;
# Spark silent NULL).  q12's above-average subquery goes empty on BOTH
# engines (AVG turns NaN, nothing compares above it) and q39's
# correlated MAX matches the NaN holder on BOTH (NaN = NaN is TRUE in
# each engine's total order), so those agree without a guard.
# FIXED r13, dict now empty: q10's sum/avg/moment casts all route
# through finite_spark (oracle CTE mirrors isfinite before the cast);
# min/max/has_debt stay unguarded — both engines already agree there.
EXPECTED_FAIL_CUSTOMER_EDGE: dict[str, str] = {}


def _customer_edge_table():
    """sf0.001 customer + 4 appended rows with NaN/Inf/-Inf c_acctbal,
    built column-wise with pyarrow (a pandas round-trip would NULL the
    NaN)."""
    nan, inf = float("nan"), float("inf")
    tbl = pq.read_table(os.path.join(FIXTURES, "customer.parquet"))
    import pyarrow.compute as pc

    max_key = pc.max(tbl.column("c_custkey")).as_py()
    hazards = [(nan, "BUILDING"), (inf, "MACHINERY"), (-inf, "AUTOMOBILE"), (nan, "BUILDING")]
    patched = {
        "c_custkey": pa.array(
            [max_key + 1 + i for i in range(len(hazards))],
            type=tbl.schema.field("c_custkey").type,
        ),
        "c_acctbal": pa.array([h[0] for h in hazards], type=pa.float64()),
        "c_mktsegment": pa.array([h[1] for h in hazards]),
    }
    head = tbl.slice(0, len(hazards))
    cols = [patched.get(f.name, head.column(i)) for i, f in enumerate(tbl.schema)]
    extra = pa.table(dict(zip(tbl.schema.names, cols))).cast(tbl.schema)
    out = pa.concat_tables([tbl, extra])
    bal = out.column("c_acctbal").to_pylist()
    assert any(v is not None and v != v for v in bal), "NaN hazard lost"
    return out


# the relational gates that read customer (the quad-surface consumers
# read only c_mktsegment, and st05 is out of every default sweep)
CUSTOMER_GATES = [
    "q02_top_revenue_orders",
    "q03_local_supplier_volume",
    "q06_customers_without_orders",
    "q07_optional_left_join",
    "q10_aggregate_functions",
    "q12_subquery_above_avg",
    "q13_values_inline_join",
    "q14_window_top_order_per_cust",
    "q39_correlated_scalar_subquery",
]


# r13 pre-work, second table (built late r12, tools-only): NaN/Inf in
# orders.o_totalprice — beyond the relational readers this column flows
# INTO THE QUAD STORE as an xsd:double literal (_order_quads), so the
# corpus also probes the SPARQL engine gates end-to-end on non-finite
# typed literals.  Hazard rows reuse EXISTING custkeys (left-join gates
# see them) under fresh orderkeys (no lineitems).
# Measured 2026-08-15 after the in-window fixes (r10's vacuous-ASK
# oracle mirror, r11's XSD-lexical rendering mirror, r17's finite
# bucket guard landed immediately — those gates are r12-window).
# FIXED r13, dict now empty: q24's quantile input is finite-guarded on
# both engines (Spark finite_spark select, oracle isfinite CTE) — NULL
# is skipped by both engines' quantile_cont/percentile, so the exact
# interpolation agrees again.
EXPECTED_FAIL_ORDERS_EDGE: dict[str, str] = {}


def _orders_edge_table():
    """sf0.001 orders + 4 appended rows with NaN/Inf/-Inf o_totalprice,
    built column-wise with pyarrow (a pandas round-trip NULLs NaN)."""
    nan, inf = float("nan"), float("inf")
    tbl = pq.read_table(os.path.join(FIXTURES, "orders.parquet"))
    import pyarrow.compute as pc

    max_key = pc.max(tbl.column("o_orderkey")).as_py()
    vals = [nan, inf, -inf, nan]
    patched = {
        "o_orderkey": pa.array(
            [max_key + 1 + i for i in range(len(vals))],
            type=tbl.schema.field("o_orderkey").type,
        ),
        "o_totalprice": pa.array(vals, type=pa.float64()),
    }
    head = tbl.slice(0, len(vals))
    cols = [patched.get(f.name, head.column(i)) for i, f in enumerate(tbl.schema)]
    extra = pa.table(dict(zip(tbl.schema.names, cols))).cast(tbl.schema)
    out = pa.concat_tables([tbl, extra])
    tp = out.column("o_totalprice").to_pylist()
    assert any(v is not None and v != v for v in tp), "NaN hazard lost"
    return out


# relational orders readers + every SparqlEngine gate built over
# _order_quads (the double literal reaches their FILTER/BIND/aggregate
# paths); st gates stay out of default sweeps as always
ORDERS_GATES = [
    "q02_top_revenue_orders",
    "q03_local_supplier_volume",
    "q05_order_priority_count",
    "q06_customers_without_orders",
    "q07_optional_left_join",
    "q09_distinct_projection",
    "q11_order_offset_pagination",
    "q14_window_top_order_per_cust",
    "q16_conditional_agg_case",
    "q24_exact_percentiles",
    "q33_semi_anti_join",
    "q39_correlated_scalar_subquery",
    "r05_property_path_closure",
    "r06_optional_bind_coalesce",
    "r07_not_exists_antijoin",
    "r08_construct_quads",
    "r10_ask",
    "r11_describe_subject",
    "r12_group_concat",
    "r15_optional_unbound_compat",
    "r17_minus_compat",
    "r18_negated_property_set",
]


# the 15 relational gates that read lineitem — the lineitem-edge
# corpus's default sweep (everything else never sees the table)
LINEITEM_GATES = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_local_supplier_volume",
    "q04_forecast_revenue",
    "q05_order_priority_count",
    "q15_rollup_revenue",
    "q18_multi_join_part_supplier_stats",
    "q19_disjunctive_predicate_join",
    "q25_cube_aggregation",
    "q28_set_operations",
    "q31_grouping_sets",
    "q32_approx_distinct",
    "q33_semi_anti_join",
    "q36_per_group_outlier_filter",
    "q38_approx_percentile",
]


# r13 close-out: the LAST two unprobed double columns in the schema —
# part.p_retailprice (never read by any gate: scan-pruning evidence
# only) and supplier.s_acctbal (q08's `> 9000` filter: NaN compares
# GREATER than any real on BOTH engines, so the NaN/Inf holders flow
# INTO the union output and the hash pins that agreement) — plus the
# NULL hazards the part/supplier readers never met: NULL p_brand/p_type
# through q17's 16-expression builtin surface (every function is
# NULL-in/NULL-out on both engines), NULL p_size/p_name through the
# q08/q17/q18/q19 filter predicates (three-valued logic drops them
# identically), NULL s_name into q08's output, NULL s_nationkey into
# q03's join (inner-join drop on both).  Part hazard rows take NEGATIVE
# partkeys: p_partkey is the PK (uniqueness preserved) and q17 is
# `ORDER BY p_partkey LIMIT 50`, so negative keys rank FIRST and the
# hazard rows actually enter the compared window on both engines —
# max+1 keys would sort past the limit and leave the expression surface
# unprobed while the dict claimed it measured.
# Measured 2026-08-16: the FIRST run caught a real engine-primitive
# divergence — DuckDB's split_part returns '' on NULL input where
# Spark (and Postgres) return NULL, so q17's type_mid split the
# engines on the NULL-p_type hazard row.  FIXED same session (q17 is
# r13-window): the oracle carries an IS NULL CASE mirror; the engine
# keeps the standard NULL-propagating semantic.  Dict empty after the
# fix; the corpus stays as the regression tripwire.
# Systematic follow-up (same session): audited every scalar function
# the oracles use against NULL inputs in DuckDB — the full
# non-NULL-propagating set is {split_part, concat, concat_ws,
# greatest, least, list_sum}.  concat_ws/greatest/least skip NULLs on
# BOTH engines (no divergence); DuckDB concat skips where Spark
# F.concat NULL-poisons, but every F.concat site is an IRI builder
# whose NULL components are dropped pre-quad with IS NOT NULL oracle
# mirrors (events-edge/orders-edge probe that), and SPARQL CONCAT's
# NULL-in/unbound-out matches ARQ; list_sum's NULL-element skipping is
# exactly why malformed embeddings are quarantined at the scan.  So
# split_part was the last unguarded member of the class.
EXPECTED_FAIL_PART_SUPPLIER_EDGE: dict[str, str] = {}


def _part_supplier_edge_tables():
    """sf0.001 part + supplier, each with hazard rows appended
    column-wise via pyarrow (a pandas round-trip would NULL the NaN)."""
    nan, inf = float("nan"), float("inf")

    part = pq.read_table(os.path.join(FIXTURES, "part.parquet"))
    # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    part_hazards = [
        (-1, "apple grove hazard", None, None, 15, nan),
        (-2, "azure pane", "Brand#12", "ECONOMY BRASS", None, inf),
        (-3, None, "Brand#23", "STANDARD", 50, -inf),
        (-4, "", "Brand#15", "PROMO", 46, nan),
        (-5, "a minimal case", "Brand#5", None, 12, 0.0),
        (-6, "astute name here", None, "ECONOMY ANODIZED", 20, inf),
    ]
    cols = {
        "p_partkey": pa.array([h[0] for h in part_hazards], type=pa.int64()),
        "p_name": pa.array([h[1] for h in part_hazards]),
        "p_brand": pa.array([h[2] for h in part_hazards]),
        "p_type": pa.array([h[3] for h in part_hazards]),
        "p_size": pa.array([h[4] for h in part_hazards], type=pa.int32()),
        "p_retailprice": pa.array([h[5] for h in part_hazards], type=pa.float64()),
    }
    part_out = pa.concat_tables(
        [part, pa.table({n: cols[n] for n in part.schema.names}).cast(part.schema)]
    )
    rp = part_out.column("p_retailprice").to_pylist()
    assert any(v is not None and v != v for v in rp), "NaN hazard lost"

    supp = pq.read_table(os.path.join(FIXTURES, "supplier.parquet"))
    import pyarrow.compute as pc

    base = pc.max(supp.column("s_suppkey")).as_py() + 1
    # (s_name, s_nationkey, s_acctbal)
    supp_hazards = [
        ("Supplier#HAZ00", 15, nan),     # NaN > 9000 TRUE both: in q08 output
        ("Supplier#HAZ01", 19, inf),     # Inf > 9000 TRUE both
        ("Supplier#HAZ02", 3, -inf),     # -Inf > 9000 FALSE both
        ("Supplier#HAZ03", 7, None),     # NULL filter-drop both
        (None, 15, 9500.0),              # NULL name INTO q08 output
        ("Supplier#HAZ05", None, 9400.0),  # NULL nationkey: q03 join-drop
    ]
    scols = {
        "s_suppkey": pa.array(
            [base + i for i in range(len(supp_hazards))], type=pa.int64()
        ),
        "s_name": pa.array([h[0] for h in supp_hazards]),
        "s_nationkey": pa.array([h[1] for h in supp_hazards], type=pa.int32()),
        "s_acctbal": pa.array([h[2] for h in supp_hazards], type=pa.float64()),
    }
    supp_out = pa.concat_tables(
        [supp, pa.table({n: scols[n] for n in supp.schema.names}).cast(supp.schema)]
    )
    bal = supp_out.column("s_acctbal").to_pylist()
    assert any(v is not None and v != v for v in bal), "NaN hazard lost"
    return part_out, supp_out


# every gate that reads part or supplier (grep-verified: no other
# module touches either table; neither flows into the quad store)
PART_SUPPLIER_GATES = [
    "q03_local_supplier_volume",
    "q08_union_all_parts_suppliers",
    "q17_string_functions",
    "q18_multi_join_part_supplier_stats",
    "q19_disjunctive_predicate_join",
]


# r14: the LAST two tables without a hazard corpus — nation and region
# (the dimension tables).  With this corpus every table in the schema
# has hazard coverage.  The interesting surface is r12: nation flows
# into an AD-HOC quad builder (F.concat IRI subjects, raw n_name
# literals) and then through the SPARQL engine's GROUP_CONCAT/SAMPLE
# path — the one quad-construction site the events/orders corpora never
# reach.  Measured 2026-08-16 (first run, zero latents): the engine and
# the SQL oracle agree EXACTLY on every hazard row, for a non-obvious
# reason this corpus now pins — the relational translation treats NULL
# as a joinable term end-to-end (the BGP join is null-safe, so a
# NULL-IRI subject still pairs its own name/region quads), SPARQL
# GROUP_CONCAT skips the unbound ?n exactly where SQL string_agg skips
# NULL, and COUNT(*) counts the row on both.  A future "cleanup" that
# drops NULL components in r12's quad builder without mirroring the
# oracle (or vice versa) fails here.  Production ingest never stores
# NULL terms (events_to_quads drops them pre-quad); this gate's ad-hoc
# builder is deliberately rawer than ingest, and the agreement is
# engine-semantics evidence, not an ingest contract.
EXPECTED_FAIL_DIMS_EDGE: dict[str, str] = {}


def _dims_edge_tables():
    """sf0.001 nation + region with NULL/empty/non-ASCII hazard rows
    (column-wise pyarrow append, same discipline as the other corpora)."""
    nat = pq.read_table(os.path.join(FIXTURES, "nation.parquet"))
    # (n_nationkey, n_name, n_regionkey)
    nat_hazards = [
        (100, None, 0),               # NULL name: ?n unbound; string_agg skip
        (None, "NATION_NULLKEY", 1),  # NULL pk -> NULL IRI subject (null-safe BGP)
        (101, "NATION_NULLREG", None),  # NULL regionkey -> NULL region IRI group
        (102, "", 2),                 # empty-string name: substr('')='' both
        (103, "zęta nation", 3),  # non-ASCII: UTF-8 binary collation both
    ]
    cols = {
        "n_nationkey": pa.array([h[0] for h in nat_hazards], type=pa.int32()),
        "n_name": pa.array([h[1] for h in nat_hazards]),
        "n_regionkey": pa.array([h[2] for h in nat_hazards], type=pa.int32()),
    }
    nat_out = pa.concat_tables(
        [nat, pa.table({n: cols[n] for n in nat.schema.names}).cast(nat.schema)]
    )
    reg = pq.read_table(os.path.join(FIXTURES, "region.parquet"))
    # (r_regionkey, r_name)
    reg_hazards = [
        (90, None),        # NULL name: q03's r_name filter drops on both
        (None, "NOWHERE"),  # NULL key: q03 join-drop on both
    ]
    rcols = {
        "r_regionkey": pa.array([h[0] for h in reg_hazards], type=pa.int32()),
        "r_name": pa.array([h[1] for h in reg_hazards]),
    }
    reg_out = pa.concat_tables(
        [reg, pa.table({n: rcols[n] for n in reg.schema.names}).cast(reg.schema)]
    )
    return nat_out, reg_out


# every gate that reads nation or region (grep-verified: relational q03/
# q10 and rdf_surface r12 are the only readers of either table)
DIMS_GATES = [
    "q03_local_supplier_volume",
    "q10_aggregate_functions",
    "r12_group_concat",
]


def _edge_events():
    """Synthetic events with every NULL/extreme the real fixtures lack.
    Times are pinned (no wall clock) so verdicts are reproducible."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(hours):
        return base + dt.timedelta(hours=hours) if hours is not None else None

    rows = []
    # (event_id, ts_hours, user_id, event_type, value, props)
    spec = [
        (1, 0, 2, "purchase", 60.0, '{"k": 1}'),
        (2, 1, 2, "purchase", None, '{"k": 2}'),      # NULL value
        (3, 2, None, "purchase", 70.0, "{}"),          # NULL user
        (4, 3, 3, None, 80.0, "{}"),                   # NULL type -> NULL graph
        (5, None, 4, "view", 90.0, "{}"),              # NULL ts
        (6, 4, 4, "view", -55.5, None),                # negative value, NULL props
        (7, 5, 5, "signup", 1e12, "not json"),         # huge value, bad json
        (8, 6, 5, "click", 0.0, ""),                   # zero value, empty props
        (9, 6, 5, "click", 51.0, '{"deep": {"a": 1}}'),
        (10, 200_000, 6, "view", 52.0, "{}"),          # far-future ts
        (11, 7, 1, "purchase", 53.0, "{}"),            # user below r05's >= 2 cut
        # q22's junk-props parity classes (r11 review): Jackson-lenient
        # but RFC-invalid JSON, non-integral / string-coded / overflow /
        # leading-zero / negative k values
        (12, 8, 6, "click", 1.0, "{'k': 5}"),          # single-quoted: invalid both
        (13, 9, 6, "click", 2.0, '{"k": 3.0}'),        # float k: not integer-coded
        (14, 10, 7, "view", 3.0, '{"k": "7"}'),        # string-coded int: counts
        (15, 11, 7, "view", 4.0, '{"k": 99999999999}'),  # int32 overflow: NULL both
        (16, 12, 8, "purchase", 5.0, '{"k": 007}'),    # leading zeros: invalid JSON
        (17, 13, 8, "purchase", 6.0, '{"k": -4}'),     # negative int: counts
        # non-finite metric values (late r11): Spark's non-finite ->
        # DECIMAL cast silently yields NULL where DuckDB's ERRORS, and
        # NaN > t is TRUE on both engines — every value -> decimal gate
        # needs the shared finite_spark/finite_sql guard.  SCOPE NOTE:
        # the same hazard covers the TPC-H DOUBLE columns — the
        # lineitem-edge corpus below probes them; r12 guarded the
        # mandatory-cohort callers via _dsumf and r13 migrated every
        # remaining caller and DELETED _dsum (that corpus's dict is
        # empty — the probe now guards against regression only)
        (18, 14, 9, "purchase", float("nan"), "{}"),
        (19, 15, 9, "view", float("inf"), "{}"),
        (20, 16, 9, "click", float("-inf"), "{}"),
    ]
    for eid, h, uid, etype, val, props in spec:
        rows.append((eid, t(h), uid, etype, val, props))
    return rows


def _symlink_except(tmp: str, *hazard_tables: str) -> None:
    """Symlink every fixture table into the corpus dir except the ones a
    corpus replaces with hazard versions — one definition, so a layout
    change (a new table, non-symlink handling) edits one place."""
    for t in TABLES:
        if t in hazard_tables:
            continue
        os.symlink(
            os.path.join(FIXTURES, f"{t}.parquet"),
            os.path.join(tmp, f"{t}.parquet"),
        )


def build_corpus(kind: str, tmp: str) -> None:
    if kind == "empty":
        for t in TABLES:
            schema = pq.read_schema(os.path.join(FIXTURES, f"{t}.parquet"))
            pq.write_table(schema.empty_table(), os.path.join(tmp, f"{t}.parquet"))
        return
    if kind == "events-edge":
        _symlink_except(tmp, "events")
        ev = _edge_events()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in ev], type=pa.int64()),
                    "ts": pa.array([r[1] for r in ev], type=pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in ev], type=pa.int64()),
                    "event_type": [r[3] for r in ev],
                    "value": pa.array([r[4] for r in ev], type=pa.float64()),
                    "props": [r[5] for r in ev],
                }
            ),
            os.path.join(tmp, "events.parquet"),
        )
        return
    if kind == "part-supplier-edge":
        _symlink_except(tmp, "part", "supplier")
        part_out, supp_out = _part_supplier_edge_tables()
        pq.write_table(part_out, os.path.join(tmp, "part.parquet"))
        pq.write_table(supp_out, os.path.join(tmp, "supplier.parquet"))
        return
    if kind == "dims-edge":
        _symlink_except(tmp, "nation", "region")
        nat_out, reg_out = _dims_edge_tables()
        pq.write_table(nat_out, os.path.join(tmp, "nation.parquet"))
        pq.write_table(reg_out, os.path.join(tmp, "region.parquet"))
        return
    if kind == "orders-edge":
        _symlink_except(tmp, "orders")
        pq.write_table(_orders_edge_table(), os.path.join(tmp, "orders.parquet"))
        return
    if kind == "customer-edge":
        _symlink_except(tmp, "customer")
        pq.write_table(_customer_edge_table(), os.path.join(tmp, "customer.parquet"))
        return
    if kind == "lineitem-edge":
        _symlink_except(tmp, "lineitem")
        pq.write_table(_lineitem_edge_table(), os.path.join(tmp, "lineitem.parquet"))
        return
    # edge: real relational fixtures, adversarial documents + embeddings
    _symlink_except(tmp, "documents", "embeddings")
    ids = [d[0] for d in EDGE_DOCS]
    texts = [d[1] for d in EDGE_DOCS]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": texts,
                "lang": [d[2] for d in EDGE_DOCS],
                "source": [d[3] for d in EDGE_DOCS],
                "n_chars": pa.array([len(t) if t is not None else None for t in texts], type=pa.int64()),
            }
        ),
        os.path.join(tmp, "documents.parquet"),
    )
    emb = _edge_embeddings()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in emb], type=pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in emb], type=pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in emb], type=pa.int32()),
            }
        ),
        os.path.join(tmp, "embeddings.parquet"),
    )


def _all_registered() -> list[str]:
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "from jena_fuseki_kafka_spark.queries import QUERIES;"
            "print('\\n'.join(QUERIES))",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    out = proc.stdout.split()
    if proc.returncode != 0 or not out:
        # an empty gate list would make the tripwire exit 0 vacuously
        # (and pass zero names to check_correctness, which then runs
        # EVERYTHING including the excluded streaming gates)
        sys.stderr.write(proc.stderr[-2000:] if proc.stderr else "")
        raise SystemExit("could not enumerate registry gates — refusing a vacuous run")
    return out


def default_gates() -> list[str]:
    # streaming gates stage their own inputs and spin multi-batch
    # queries; u01 drives the HTTP update sequence — both out of the
    # DEFAULT sweep EXCEPT on events-edge (see main: that corpus's
    # hazards are exactly what streaming state machines meet at 100 TB;
    # its r13 first full st sweep found six latents).  Any gate can
    # still be probed by passing its name explicitly (the r10
    # empty-corpus run of all 11 st gates found and fixed two
    # first-deploy crashes: st10's sink read had no files to infer a
    # schema from, st11's ledger arithmetic hit None - None)
    return [
        g for g in _all_registered()
        if not g.startswith("st") and g != "u01_update_sequence"
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--corpus",
        choices=[
            "empty", "edge", "events-edge",
            "lineitem-edge", "customer-edge", "orders-edge",
            "part-supplier-edge", "dims-edge",
        ],
        default="empty",
    )
    ap.add_argument("gates", nargs="*")
    args = ap.parse_args()
    expected = {
        "empty": EXPECTED_FAIL_EMPTY,
        "edge": EXPECTED_FAIL_EDGE,
        "events-edge": EXPECTED_FAIL_EVENTS_EDGE,
        "lineitem-edge": EXPECTED_FAIL_LINEITEM_EDGE,
        "customer-edge": EXPECTED_FAIL_CUSTOMER_EDGE,
        "orders-edge": EXPECTED_FAIL_ORDERS_EDGE,
        "part-supplier-edge": EXPECTED_FAIL_PART_SUPPLIER_EDGE,
        "dims-edge": EXPECTED_FAIL_DIMS_EDGE,
    }[args.corpus]
    if args.gates:
        gates = args.gates
    elif args.corpus == "lineitem-edge":
        gates = LINEITEM_GATES
    elif args.corpus == "customer-edge":
        gates = CUSTOMER_GATES
    elif args.corpus == "orders-edge":
        gates = ORDERS_GATES
    elif args.corpus == "part-supplier-edge":
        gates = PART_SUPPLIER_GATES
    elif args.corpus == "dims-edge":
        gates = DIMS_GATES
    elif args.corpus == "events-edge":
        # the streaming family is IN this corpus's default sweep (r13):
        # the NaN value + NULL ts rows are exactly the hazards their
        # state machines see at 100 TB, and the sweep found six latents
        # the batch-only default hid (st01/st10/st11 unguarded value
        # sums; st01/st03/st09 watermark-vs-batch NULL-ts divergence;
        # st02's count("*") over a deduped NULL type).  ~50s extra.
        gates = default_gates() + sorted(
            g for g in _all_registered() if g.startswith("st")
        )
    else:
        gates = default_gates()

    tmp = tempfile.mkdtemp(prefix=f"degenerate_{args.corpus}_")
    try:
        build_corpus(args.corpus, tmp)
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"), tmp]
            + gates,
            capture_output=True,
            text=True,
        )
        sys.stderr.write(proc.stderr[-2000:] if proc.stderr else "")
        print(proc.stdout, end="")
        measured = {
            m.group(2): m.group(1)
            for m in re.finditer(r"^(PASS|FAIL) (\S+?):?\s", proc.stdout, flags=re.M)
        }
        ok = True
        for g in gates:
            got = measured.get(g)
            want = "FAIL" if g in expected else "PASS"
            if got is None:
                print(f"UNEXPECTED: {g} produced no verdict")
                ok = False
            elif got != want:
                why = expected.get(g, "expected robust on this corpus")
                print(f"UNEXPECTED: {g} {got} (expected {want}: {why})")
                ok = False
        if ok:
            print(
                f"partition as expected ({args.corpus}: {len(gates)} gates, "
                f"{sum(1 for g in gates if g in expected)} known-latent)"
            )
        return 0 if ok else 1
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
