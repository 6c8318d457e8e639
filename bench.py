#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is timed end-to-end (plan + execute + collect), repeated
REPEATS times (default 3, override with $SPARK_GRAFT_BENCH_REPEATS), and
the reported number is the per-query MEDIAN — single-shot numbers proved
noisier than a round's improvement (s02 swung 1.06s -> 2.59s across
rounds with zero code change), so the median is the round-over-round
signal.  A warmup pass runs first so JVM/codegen startup isn't attributed
to the first query.

The JSON line is the final stdout write and carries every row's median,
the sub-totals and the calibration; per-query spreads, normalized
medians (median / calibration — VERDICT r8 item 5) and sample lists go
to BENCH_full.json next to this script (and spreads to stderr).  A query
whose every sample failed appears as an explicit null in "queries"
rather than a silently missing key (ADVICE r8).

Sub-totals (VERDICT r8 item 4): "value" remains the whole-suite total for
continuity, but batch_seconds / streaming_seconds / http_seconds are
reported separately — the streaming gates' wall time is trigger/state-store
machinery by design (4 staged micro-batches each) and would otherwise
drown batch-suite movement in the single number.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jena_fuseki_kafka_spark.queries import QUERIES  # noqa: E402
from jena_fuseki_kafka_spark.session import build_session  # noqa: E402

_LOADAVG_START = None

# headline set: the scan/join/agg relational core + one of each
# training-data operator family + the RDF quad surface
HEADLINE_BATCH = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_local_supplier_volume",
    "q04_forecast_revenue",
    "q14_window_top_order_per_cust",
    "q19_disjunctive_predicate_join",
    "q20_tumbling_window_hourly",
    "q21_sessionization",
    "q29_asof_join",
    "q30_interval_join",
    "q31_grouping_sets",
    "q36_per_group_outlier_filter",
    "q39_correlated_scalar_subquery",
    "q40_salted_fact_dim_join",
    "d01_exact_dedup",
    "d02_minhash_lsh",
    "d03_simhash",
    "d06_dedup_clusters",
    "d08_substring_span_dedup",
    "s01_ann_bruteforce_topk",
    "s02_ann_lsh_bucketed",
    "s04_ann_ivf",
    "t03_token_count",
    "t06_topk_bigrams_per_lang",
    "t08_pii_scrub",
    "t10_char_entropy",
    "d05_decontamination",
    "p02_curation_pipeline",
    "p05_sequence_packing",
    "s07_int8_quantization",
    "r01_sparql_acceptance_count",
    "r02_bgp_join_filter",
    "m01_image_features",
    "m05_scene_changes",
    "m06_audio_vad_segments",
    "s08_prefix_dim_rerank",
    "q41_pivot_wide_metrics",
    "t11_bigram_lm_perplexity",
    "s09_semdedup_prune",
    "m07_image_phash_neardup",
    "d09_duplication_fraction",
    "q42_changelog_latest_compaction",
    "m08_image_resize_facets",
    "q43_scd2_validity_intervals",
    "q44_incremental_agg_merge",
    "p06_time_embargo_split",
    "d10_incremental_corpus_dedup",
    "d11_fuzzy_decontamination",
    "p07_packing_efficiency_census",
    "s10_incremental_ann_admission",
    "s11_pq_adc_topk",
    "t12_classifier_quality_filter",
]

# streaming gates: wall time here is micro-batch trigger + state-store
# machinery (each stages 4 weekly files and runs availableNow), so they
# get their own sub-total.  They take the full REPEATS samples like batch
# rows — a 2-sample cap was tried and rejected: with 2 samples the median
# IS the midpoint, so one host-contention outlier (observed: st07 17s and
# 63s in the same run) drags the reported number by half the spread; a
# median of 3 rejects it.  They are only excluded from the sub-second
# extra-sample escalation (they are never sub-second).
HEADLINE_STREAMING = [
    "st07_stream_stream_join",
    "st08_stream_stream_outer_join",
    "st09_streaming_bounded_dedup",
    "st10_streaming_file_sink_exactly_once",
    "st11_foreachbatch_merge_exactly_once",
]

HEADLINE = HEADLINE_BATCH + HEADLINE_STREAMING

# State-store sizing for the streaming gates: a stateful micro-batch
# creates and commits one state-store instance PER SHUFFLE PARTITION per
# stateful operator per batch, so running the 4-file staged gates at the
# batch suite's 32 partitions is ~24/25ths empty-state overhead
# (measured: st07 14.1s -> 4.7s, st08 17.4s -> 5.8s at 8 partitions,
# identical results — availableNow processes the same files either way).
# r15 re-measured the sweep in one session (medians of 3, same host):
#   st07  8 -> 6.67s   4 -> 4.95s   2 -> 4.16s
#   st08  8 -> 6.91s   4 -> 5.25s   2 -> 4.76s
#   st09  8 -> 2.07s   4 -> 1.85s   2 -> 1.56s
# and settled on 4: the staged streams' volume (~25k events, ~100 keys)
# fits ANY partition count, so smaller is strictly less empty-store
# commit overhead, but 2 would collapse st07's deliberate hot-key-vs-
# uniform state-distribution shape (one partition would hold ~all
# state), weakening what the gate exercises.  Sizing state partitions
# to the stream's actual volume is the same first-class knob a
# production streaming job sets (and at 100 TB you size it UP for the
# same reason); the batch rows keep the full core count.  Set per query
# start — Spark reads it when the streaming query starts, so a runtime
# conf set is sufficient.
STREAMING_STATE_PARTITIONS = 4

def bench_http_four_ops(spark) -> float:
    """Round-trip the four Fuseki service operations (query / update /
    gsp-rw / patch — config-connector.ttl:14-17) against a live server on
    an ingested store; returns wall seconds for the whole sequence."""
    import tempfile
    import urllib.request
    from urllib.parse import quote

    from jena_fuseki_kafka_spark.server import SparqlHttpServer
    from jena_fuseki_kafka_spark.store import QuadStore

    def req(url, method="GET", data=None, content_type=None):
        r = urllib.request.Request(url, data=data, method=method)
        if content_type:
            r.add_header("Content-Type", content_type)
        with urllib.request.urlopen(r) as resp:
            return resp.read()

    with tempfile.TemporaryDirectory() as td:
        # few buckets: an HTTP-sized store pays per-bucket file overhead on
        # every commit; 16 (the ingest default) is sized for streaming volume
        store = QuadStore(os.path.join(td, "q"), n_buckets=2)
        srv = SparqlHttpServer(spark, store, dataset="bench")
        port = srv.start()
        base = f"http://127.0.0.1:{port}/bench"
        nt = "\n".join(
            f'<http://e/s{i}> <http://e/p> "v{i}" .' for i in range(1000)
        ).encode()
        try:
            t0 = time.time()
            req(f"{base}/data?default", "PUT", nt, "application/n-triples")  # gsp-rw
            req(
                f"{base}/query?query="
                + quote("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }", safe="")
            )  # query
            req(
                f"{base}/update", "POST",
                b'INSERT DATA { <http://e/extra> <http://e/p> "new" }',
                "application/sparql-update",
            )  # update
            req(
                f"{base}/patch", "POST",
                b'TX .\nD <http://e/s0> <http://e/p> "v0" .\nTC .',
                "application/rdf-patch",
            )  # patch
            body = req(
                f"{base}/query?query="
                + quote("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }", safe="")
            )
            elapsed = time.time() - t0
            assert b"1000" in body, body  # 1000 + 1 insert - 1 patch delete
            return round(elapsed, 3)
        finally:
            srv.stop()


def main():
    global _LOADAVG_START
    try:
        with open("/proc/loadavg") as lf:
            _LOADAVG_START = lf.read().split()[:3]
    except OSError:
        _LOADAVG_START = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    spark = build_session(
        app_name="jfk-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: run every headline query once AT THE TARGET SF so the timed
    # runs measure steady-state execution.  A smaller-SF warmup is not
    # enough: AQE re-plans and broadcast-threshold choices differ with
    # input size, so the generated whole-stage code differs and the first
    # target-SF run still paid compile+JIT (measured 3.3s cold vs 0.8s
    # steady for t10).  The scale question is per-row throughput, not
    # one-time plan compilation.
    def set_workload_conf(name: str) -> None:
        parts = (
            STREAMING_STATE_PARTITIONS
            if name in HEADLINE_STREAMING
            else int(cpus)
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))

    for name in HEADLINE:
        try:
            set_workload_conf(name)
            QUERIES[name](spark, sf_dir).count()
        except Exception:
            pass
    set_workload_conf("")  # restore the batch setting for the HTTP path
    # warm the HTTP path too: the first round-trip pays server-thread +
    # commit-path codegen compile (~1.1s extra, VERDICT r6 item 7), and a
    # measured second round still shaves ~10% — warmup twice so the five
    # timed samples sit on the flat part of the curve
    for _ in range(2):
        try:
            bench_http_four_ops(spark)
        except Exception:
            pass

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    samples["http_four_ops_roundtrip"] = []

    def run_one(name: str, rep: int) -> None:
        # guarded like run_http: one query's transient failure must not
        # abort the suite; a query with zero surviving samples is emitted
        # as an explicit null (ADVICE r8)
        try:
            set_workload_conf(name)
            fn = QUERIES[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count() if name.startswith(("d0", "s0")) else len(df.collect())
            took = round(time.time() - t0, 3)
        except Exception as e:
            print(f"# {name} sample failed: {e}", file=sys.stderr)
            return
        finally:
            set_workload_conf("")  # batch setting back for whatever runs next
        samples[name].append(took)
        if rep == 0:
            print(f"# {name}: {took:.2f}s ({n} rows)", file=sys.stderr)

    # interleave repeats (full suite per round) rather than back-to-back
    # per query, so one query's page-cache warmth doesn't flatter its own
    # 2nd/3rd sample more than a real re-run would see
    def run_http() -> None:
        # guarded: one transient HTTP/server failure must not abort the
        # whole bench after minutes of collected timings — emit the JSON
        # with whatever samples exist (the median just has fewer votes)
        try:
            samples["http_four_ops_roundtrip"].append(bench_http_four_ops(spark))
        except Exception as e:
            print(f"# http_four_ops sample failed: {e}", file=sys.stderr)

    for rep in range(repeats):
        for name in HEADLINE:
            run_one(name, rep)
        run_http()

    # sub-second queries swing ±30% on 3 samples (VERDICT r5: four
    # "regressions" all inside the spread) — take 2 extra samples so a
    # ±20% median move on a <1s query is decidable signal, not noise
    for name in HEADLINE_BATCH:
        if samples[name] and statistics.median(samples[name]) < 1.0:
            for rep in range(repeats, repeats + 2):
                run_one(name, rep)
    # http round-trip variance comes from commit-path GC/compaction, not
    # plan noise — median-of-5 keeps its round-over-round signal decidable
    for _ in range(2):
        run_http()

    # host-speed calibration: a fixed pure-JVM job (range sum — no I/O,
    # no shuffle, plan never changes) whose cost is independent of any
    # code in this repo.  Round-over-round, queries should be compared
    # AFTER normalizing by this row: r8 measured every untouched query
    # uniformly +20-40% vs r7 on an idle machine — host speed drift, not
    # regressions — and this row makes that drift visible in the JSON.
    cal = []
    for _ in range(3):
        t0 = time.time()
        spark.range(1_000_000_000).selectExpr("sum(id)").collect()
        cal.append(round(time.time() - t0, 3))

    timings = {
        name: (round(statistics.median(vals), 3) if vals else None)
        for name, vals in samples.items()
    }
    spreads = {
        name: (round(max(vals) - min(vals), 3) if vals else None)
        for name, vals in samples.items()
    }
    for name, vals in samples.items():
        if not vals:
            print(f"# {name}: NO SAMPLES (all attempts failed)", file=sys.stderr)
            continue
        print(
            f"# median {name}: {timings[name]:.2f}s "
            f"(samples {', '.join(f'{v:.2f}' for v in vals)}; spread {spreads[name]:.2f}s)",
            file=sys.stderr,
        )

    calibration = round(statistics.median(cal), 3)
    subtotal = lambda names: round(  # noqa: E731
        sum(timings[n] for n in names if timings.get(n) is not None), 3
    )
    batch_s = subtotal(HEADLINE_BATCH)
    streaming_s = subtotal(HEADLINE_STREAMING)
    http_s = subtotal(["http_four_ops_roundtrip"])
    # ADVICE r9: a query whose every sample failed shrinks the sub-totals
    # (subtotal() skips its None), so a crash could read as a speedup if
    # only totals are compared — surface the casualty count on the stdout
    # line and the names in BENCH_full.json + stderr
    failed = sorted(n for n, vals in samples.items() if not vals)
    record = {
        "metric": "headline_suite_seconds",
        "value": round(batch_s + streaming_s + http_s, 3),
        "unit": "sec",
        # per-row medians ride the line at 2 decimals: the 3rd decimal is
        # far below the measured sample spreads (~0.5s); BENCH_full.json
        # keeps the full 3-decimal medians, spreads and raw samples
        "queries": {n: (round(v, 2) if v is not None else None) for n, v in timings.items()},
        "batch_seconds": batch_s,
        "streaming_seconds": streaming_s,
        "http_seconds": http_s,
        "failed_queries": len(failed),
        "calibration_range_sum_sec": calibration,
        "sf": sf,
    }
    # full record (spreads, raw samples, calibration-normalized medians)
    # goes to a side file
    full = dict(record)
    full["queries"] = timings  # 3-decimal medians
    full["failed_query_names"] = failed
    full["spreads"] = spreads
    # host-contention forensics (r13 ledger lesson: a clean calibration
    # median can coexist with a PARTIAL contention wave — the calibration
    # samples run at the end and can dodge a mid-run stretch; row-inflation
    # uniformity against loadavg is the mechanical tell)
    full["loadavg_start"] = _LOADAVG_START  # captured at startup; None-safe
    try:
        with open("/proc/loadavg") as lf:
            full["loadavg_end"] = lf.read().split()[:3]
    except OSError:
        pass
    full["samples"] = {n: v for n, v in samples.items()}
    full["queries_normalized"] = {
        n: (round(v / calibration, 2) if v is not None and calibration else None)
        for n, v in timings.items()
    }
    side = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")
    with open(side, "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
