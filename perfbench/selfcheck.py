#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark's closed forms.

    python3 perfbench/selfcheck.py [--quick]

1. Generators against the package's own parsers, without Spark: the
   replay events' distinct quads, the patch events' net effect and the
   malformed share are recomputed by applying the parsed ops in order and
   compared with the closed forms in ``gen.py``.
2. Unless ``--quick``: every workload (including ``stream_serve``) runs at
   a few seconds' length and must report ``correct: true`` with no failed
   operation; each run checks its final store count, DLQ count and every
   HTTP client's namespace against the closed form.

Exits 0 only if every check holds.  Run from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import gen  # noqa: E402


def check_generators(seed: int = 11, n: int = 120) -> list[str]:
    from jena_fuseki_kafka_spark.model import RdfParseError
    from jena_fuseki_kafka_spark.rdf import parse_payload

    errors = []
    store: set = set()
    for eid in range(n):
        ct, payload = gen.replay_event(seed, eid)
        ops = parse_payload(payload, ct)
        if len(ops) != gen.replay_ops(seed, eid):
            errors.append(f"replay event {eid}: {len(ops)} ops, closed form {gen.replay_ops(seed, eid)}")
        store.update(op[1:] for op in ops)
    want = sum(gen.replay_distinct_quads(seed, e) for e in range(n))
    if len(store) != want:
        errors.append(f"replay: {len(store)} distinct quads, closed form {want}")
    if n % 2 == 0 and want != 500 * n:
        errors.append(f"replay: antithetic sizes give {want}, not {500 * n}")

    store = set()
    bad = 0
    for eid in range(n):
        try:
            ops = parse_payload(gen.patch_event(seed, eid), gen.PATCH)
        except RdfParseError:
            bad += 1
            continue
        for op in ops:  # last op wins, in order
            (store.add if op[0] == "A" else store.discard)(op[1:])
    final, want_bad, _, _ = gen.patch_expected(seed, n)
    if (len(store), bad) != (final, want_bad):
        errors.append(f"patch: store {len(store)} / malformed {bad}, closed form {final} / {want_bad}")

    pre = list(gen.pre_quads(200))
    if len(pre) != gen.pre_count(200) or len(set(pre)) != len(pre):
        errors.append("preload count differs from its closed form")
    return errors


def check_workloads(seconds: int = 4) -> list[str]:
    errors = []
    for w in ("ingest_replay", "http_mixed", "stream_serve"):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "5",
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            errors.append(f"{w}: exit {p.returncode}: {p.stderr[-500:]}")
            continue
        res = json.loads(lines[-1])
        host = json.loads(lines[-3])["host"]
        if not res["correct"] or res["failed"]:
            errors.append(f"{w}: correct={res['correct']} failed={res['failed']} "
                          f"errors={host['errors']} failures={host['failures']}")
        print(f"{w}: correct={res['correct']} attempted={res['attempted']}", flush=True)
    return errors


def main() -> int:
    errors = check_generators()
    print(f"generators: {'ok' if not errors else errors}", flush=True)
    if "--quick" not in sys.argv:
        errors += check_workloads()
    for e in errors:
        print("FAIL", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
