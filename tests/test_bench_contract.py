"""Bench record contract (VERDICT r8 item 2): the bench consumer keeps
only the last ~2000 chars of stdout, so the machine JSON line must fit.
These tests pin the contract WITHOUT running Spark: they build the
worst-case record shape bench.py would emit and measure it.
"""

import json

import bench
from jena_fuseki_kafka_spark.queries import QUERIES


def _worst_case_record(exclude):
    names = bench.HEADLINE + ["http_four_ops_roundtrip"]
    # widest plausible formatting: the line rounds per-row medians to 2
    # decimals, so a contention-wave row under 100s costs <= 5 digits;
    # rows beyond 100s mean the bench is broken and the batch-only
    # fallback path takes over
    timings = {n: 99.99 for n in names if n not in exclude}
    return {
        "metric": "headline_suite_seconds",
        "value": 99999.999,
        "unit": "sec",
        "queries": timings,
        "batch_seconds": 99999.999,
        "streaming_seconds": 99999.999,
        "http_seconds": 999.999,
        "failed_queries": 99,  # stdout carries the count; names in BENCH_full

        "calibration_range_sum_sec": 0.999,
        "sf": 0.1,
    }


def test_headline_names_are_registered():
    ghosts = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not ghosts, f"bench HEADLINE names unknown queries: {ghosts}"


def test_no_duplicate_headline_rows():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    overlap = set(bench.HEADLINE_BATCH) & set(bench.HEADLINE_STREAMING)
    assert not overlap, overlap


def test_json_line_fits_tail_capture():
    # the emit path falls back to a batch-only queries map above 1900
    # chars, but the DEFAULT shape should fit with margin: growing the
    # headline past this bound silently degrades the round record, so
    # fail here first and either trim rows or re-shape the record.
    line = json.dumps(_worst_case_record(bench.SLIM_LINE_EXCLUDE))
    assert len(line) <= 1900, (
        f"bench JSON line would be {len(line)} chars with "
        f"{len(bench.HEADLINE) + 1 - len(bench.SLIM_LINE_EXCLUDE)} rows — "
        f"exceeds the consumer's tail capture; trim HEADLINE or move "
        f"fields to BENCH_full.json"
    )


def test_line_is_superset_of_r15_line():
    # VERDICT r15 items 1d + 2: the driver-visible line may never shrink
    # round-over-round (any drop is a gate regression), and m05/q44 —
    # dropped by the r15 rotation-pool edit — must be restored.  Pin the
    # r16 visible set as a strict superset of the r15 BENCH line.
    import json as _json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "history", "BENCH_r15.json")) as f:
        r15_rows = set(_json.load(f)["parsed"]["queries"])
    visible = {
        n for n in bench.HEADLINE + ["http_four_ops_roundtrip"]
        if n not in bench.SLIM_LINE_EXCLUDE
    }
    dropped = r15_rows - visible
    assert not dropped, (
        f"rows visible on the r15 driver line but excluded now — the "
        f"drop gate flags these as regressions: {sorted(dropped)}"
    )
    assert {"m05_scene_changes", "q44_incremental_agg_merge"} <= visible
    assert bench.SLIM_LINE_EXCLUDE <= set(bench.HEADLINE)
