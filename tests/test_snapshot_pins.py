"""Snapshot pins: a read built from a store snapshot answers from that
snapshot however many commits land before its Spark job runs, and the
leaves it pinned are deleted by the first commit after the pin ends.

Every commit here retires every leaf the store held before it (each
deletes one quad from every bucket), so ``grace_versions`` alone would
delete a read's files after ``grace_versions`` commits.
"""

import datetime
import gc
import json
import os

import pytest

from jena_fuseki_kafka_spark.config import ConnectorConfig
from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA
from jena_fuseki_kafka_spark.ingest.streaming import IngestStream, file_stream
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.sparql import SparqlEngine
from jena_fuseki_kafka_spark.store import QuadStore, quad_frame
from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket

EX = "http://example.org/"
N = 80
Q = f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }}"
ALL = sorted((f"{EX}s{i}", f"v{i}") for i in range(N))


def seed(n=N):
    return [("", f"{EX}s{i}", f"{EX}p", "literal", f"v{i}", None, None) for i in range(n)]


@pytest.fixture()
def store(spark, tmp_path):
    st = QuadStore(str(tmp_path / "quads"), n_buckets=4)
    st.commit(spark, adds=quad_frame(spark, seed()), txn_id="seed")
    return st


def by_bucket(store) -> list[list[tuple]]:
    out = {}
    for r in seed():
        out.setdefault(spark_bucket(r[1], store.n_buckets), []).append(r)
    assert len(out) == store.n_buckets
    return list(out.values())


def delete_across_buckets(spark, store, ks):
    """One commit per k in ``ks``, deleting the k-th quad of every bucket."""
    groups = by_bucket(store)
    assert min(map(len, groups)) > max(ks)
    for k in ks:
        store.commit(spark, deletes=[g[k] for g in groups])


def on_disk(store, leaves) -> list[bool]:
    return [os.path.exists(os.path.join(store.files_dir, f)) for f in leaves]


def values(body: str):
    return sorted((b["s"]["value"], b["o"]["value"])
                  for b in json.loads(body)["results"]["bindings"])


def test_query_answers_from_its_snapshot_past_grace(spark, store):
    engine = SparqlEngine.from_store(spark, store)
    df = engine.select_values(Q)
    n = store.grace_versions + 5
    delete_across_buckets(spark, store, range(n))
    assert all(on_disk(store, engine.snapshot.files))
    assert sorted(tuple(r) for r in df.collect()) == ALL
    assert store.count(spark) == N - n * store.n_buckets


@pytest.mark.parametrize("read", ["query", "gsp"])
def test_server_read_answers_from_its_snapshot_past_grace(spark, store, monkeypatch, read):
    """The commits land after the read took its snapshot and before its
    one Spark job writes the result."""
    real = QuadStore.snapshot
    armed = [True]

    def snapshot_then_commit(self, spark_):
        snap = real(self, spark_)
        if armed:
            armed.pop()
            delete_across_buckets(spark, self, range(self.grace_versions + 5))
        return snap

    monkeypatch.setattr(QuadStore, "snapshot", snapshot_then_commit)
    srv = SparqlHttpServer(spark, store)
    if read == "query":
        got = values("".join(srv.run_query(store, Q)[1]))
    else:
        body = "".join(srv.gsp_read(store, "default")[1])
        got = sorted((line.split(" ")[0][1:-1], line.split(" ")[2].strip('"'))
                     for line in body.splitlines())
    assert not armed
    assert got == ALL
    assert store.stats()["pinned_snapshots"] == 0


def test_query_answers_from_its_snapshot_across_ingest_and_compaction(spark, store, tmp_path):
    engine = SparqlEngine.from_store(spark, store)
    df = engine.select_values(Q)
    events = str(tmp_path / "events")
    os.makedirs(events)
    conn = ConnectorConfig.from_dict(dict(
        name="pins", topics=["t1"], dataset=store.path, state_dir=str(tmp_path / "ckpt"),
    ))
    stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events),
                          compact_every_batches=1)
    groups = by_bucket(store)
    n = store.grace_versions + 5
    ts = datetime.datetime(2026, 1, 1)
    for k in range(n):
        # each micro-batch deletes a quad in every bucket and adds quads
        # of their own, so the compaction after it merges leaves too
        patch = "TX .\n" + "".join(
            f'D <{g[k][1]}> <{EX}p> "{g[k][4]}" .\nA <{EX}x{k}-{j}> <{EX}q> "x" .\n'
            for j, g in enumerate(groups)
        ) + "TC .\n"
        event = (b"k", patch.encode(), [("Content-Type", b"application/rdf-patch")],
                 "t1", 0, k, ts)
        spark.createDataFrame([event], EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(events)
        stream.run_available()
    assert stream.metrics["batches"] == n
    assert sorted(tuple(r) for r in df.collect()) == ALL
    assert store.count(spark) == N
    assert store.stats()["max_leaves_per_bucket"] == 1


@pytest.mark.parametrize("end", ["release", "collect"])
def test_retired_leaves_go_once_the_pin_ends(spark, store, end):
    engine = SparqlEngine.from_store(spark, store)
    seen = list(engine.snapshot.files)
    delete_across_buckets(spark, store, range(store.grace_versions + 1))
    assert all(on_disk(store, seen))
    assert store.stats()["pinned_snapshots"] == 1
    if end == "release":
        engine.snapshot.release()
    else:
        del engine
        gc.collect()
    assert store.stats()["pinned_snapshots"] == 0
    assert all(on_disk(store, seen))
    delete_across_buckets(spark, store, [store.grace_versions + 1])
    assert not any(on_disk(store, seen))


def test_pins_hold_under_concurrent_commits(spark, tmp_path):
    """More reader threads than cores take and release snapshots while a
    writer's every commit retires a leaf of every bucket, with no version
    grace at all: each leaf a held snapshot lists stays readable."""
    import sys
    import threading
    import time

    import pyarrow.parquet as pq

    store = QuadStore(str(tmp_path / "stress"), n_buckets=4, grace_versions=0)
    store.commit(spark, adds=seed())
    groups = by_bucket(store)
    stop = threading.Event()
    errors, reads, commits = [], [], []

    def reader():
        try:
            while not stop.is_set():
                snap = store.snapshot(spark)
                for f in snap.files:
                    leaf = os.path.join(store.files_dir, f)
                    for part in os.listdir(leaf):
                        pq.read_metadata(os.path.join(leaf, part))
                snap.release()
                reads.append(1)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    def writer():
        try:
            k = 0
            while not stop.is_set():
                rows = [g[k % len(g)] for g in groups]
                store.commit(spark, deletes=rows)
                store.commit(spark, adds=rows)
                commits.append(2)
                k += 1
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(2 * len(os.sched_getaffinity(0)))]
    threads.append(threading.Thread(target=writer))
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        time.sleep(3)
        stop.set()
        for t in threads:
            t.join(timeout=60)
    finally:
        stop.set()
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert reads and commits
    assert store.stats()["pinned_snapshots"] == 0
    assert store.count(spark) == N
