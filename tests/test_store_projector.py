"""QuadStore + projector tests, mirroring the reference's unit strategy:
exact counts per commit trigger (TestFusekiProjector.java:136-232), DLQ
routing with Dead-Letter-* headers (:345-374), good-prefix guarantee
(:377-394), set semantics (FKS.java:95-98), delete ordering (README.md:148-153).
"""

import datetime
import os
from pathlib import Path

import pytest

from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA, apply_event_batch, parse_events
from jena_fuseki_kafka_spark.ingest.projector import DLQ_REASON, net_effect
from jena_fuseki_kafka_spark.model import QUAD_COLS, QUAD_SCHEMA
from jena_fuseki_kafka_spark.store import QuadStore

TS = datetime.datetime(2026, 1, 1)


def ev(value: str, offset: int, content_type: str | None = None, partition: int = 0):
    headers = [("Content-Type", content_type.encode())] if content_type else []
    return (b"k", value.encode(), headers, "t1", partition, offset, TS)


def events_df(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def quads(store, spark):
    return {
        (r.graph, r.subject, r.predicate, r.object_value)
        for r in store.read(spark).collect()
    }


class TestQuadStore:
    def test_empty_read(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        assert store.count(spark) == 0
        assert store.read(spark).columns == QUAD_COLS

    def test_commit_and_set_semantics(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        rows = [("", "s1", "p", "iri", "o", None, None), ("", "s1", "p", "iri", "o", None, None)]
        df = spark.createDataFrame(rows, QUAD_SCHEMA)
        store.commit(spark, adds=df)
        assert store.count(spark) == 1  # dup within batch collapsed
        store.commit(spark, adds=df)
        assert store.count(spark) == 1  # dup across commits collapsed

    def test_delete(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        rows = [("", f"s{i}", "p", "iri", "o", None, None) for i in range(10)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA))
        dels = spark.createDataFrame(rows[:3], QUAD_SCHEMA)
        store.commit(spark, deletes=dels)
        assert store.count(spark) == 7

    def test_idempotent_txn(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        df = spark.createDataFrame([("", "s", "p", "iri", "o", None, None)], QUAD_SCHEMA)
        v1 = store.commit(spark, adds=df, txn_id="batch-1")
        v2 = store.commit(spark, adds=df, txn_id="batch-1")  # crash-replay
        assert v1 == v2
        assert store.count(spark) == 1

    def test_mvcc_snapshot(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        df1 = spark.createDataFrame([("", "s1", "p", "iri", "o", None, None)], QUAD_SCHEMA)
        store.commit(spark, adds=df1)
        snapshot = store.read(spark)
        df2 = spark.createDataFrame([("", "s2", "p", "iri", "o", None, None)], QUAD_SCHEMA)
        store.commit(spark, adds=df2)
        # the frozen snapshot still sees 1 row; a fresh read sees 2
        assert snapshot.count() == 1
        assert store.count(spark) == 2


class TestProjector:
    def test_dataset_event_apply(self, spark, tmp_path):
        # reference: applyDatasetEvent streams all quads in (FusekiSink.java:74-77)
        store = QuadStore(str(tmp_path / "q"))
        df = events_df(spark, [ev('<http://e/s> <http://e/p> "v" .', 0)])
        res = apply_event_batch(spark, store, df)
        assert res["n_adds"] == 1 and res["n_dlq"] == 0
        assert store.count(spark) == 1

    def test_reference_acceptance_mix(self, spark, tmp_path):
        # data.ttl + data.nq + patch1.rdfp = 1 + 1 + 4 = 6 quads
        # (the reference's DockerTestConfigFK golden count)
        store = QuadStore(str(tmp_path / "q"))
        ttl = "PREFIX : <http://example/>\n\n:s1 :p :o ."
        nq = '<http://example/sq> <http://example/pq> "abc" .'
        patch = (
            "H id <uuid:1> .\nTX .\n"
            'A <http://example/s> <http://example/p> "two" <http://example/patch> .\n'
            'A <http://example/s> <http://example/p> "one" <http://example/patch> .\n'
            'A <http://example/s> <http://example/p> "three" <http://example/patch> .\n'
            'A <http://example/s> <http://example/p> "four" <http://example/patch> .\nTC .'
        )
        df = events_df(
            spark,
            [
                ev(ttl, 0, "text/turtle"),
                ev(nq, 1),
                ev(patch, 2, "application/rdf-patch"),
            ],
        )
        res = apply_event_batch(spark, store, df)
        assert res["n_adds"] == 6
        assert store.count(spark) == 6

    def test_oversized_batch_commits_without_forced_broadcast(
        self, spark, tmp_path, monkeypatch
    ):
        # the commit dedup join broadcasts the batch side only while the
        # store's count of it is at most BROADCAST_MAX_ROWS; past the cap a
        # replay burst must shuffle instead of collecting a multi-GB build
        # side.  Shrink the cap so a tiny batch crosses it and assert
        # identical results on both paths.
        from jena_fuseki_kafka_spark.store import quadstore

        # one bucket: every add shares the seed's leaf, so the dedup runs
        store = QuadStore(str(tmp_path / "q"), n_buckets=1)
        seed = events_df(spark, [ev('<http://e/s0> <http://e/p> "v" .', 0)])
        apply_event_batch(spark, store, seed, txn_id="seed")

        captured = []
        orig_semi = quadstore._semi_join_quads

        def spying_semi(left, right, broadcast_right=False):
            captured.append(broadcast_right)
            return orig_semi(left, right, broadcast_right)

        monkeypatch.setattr(quadstore, "_semi_join_quads", spying_semi)
        store.BROADCAST_MAX_ROWS = 2
        nq = "\n".join(f'<http://e/s{i}> <http://e/p> "v" .' for i in range(1, 6))
        df = events_df(spark, [ev(nq, 1)])
        res = apply_event_batch(spark, store, df, txn_id="big")
        assert captured and not any(captured), "5-row batch over a 2-row cap"
        assert res["n_adds"] == 5
        assert store.count(spark) == 6

        # under the cap the bounded fast path stays on
        captured.clear()
        df2 = events_df(spark, [ev('<http://e/s9> <http://e/p> "v" .', 2)])
        apply_event_batch(spark, store, df2, txn_id="small")
        assert captured and all(captured)
        assert store.count(spark) == 7

    def test_replayed_txn_reports_zero_applied_delta(self, spark, tmp_path):
        # crash-replay accounting (VERDICT r5 item 8): same txn_id twice ->
        # store no-op AND a zero delta, so stream metrics never double-count
        store = QuadStore(str(tmp_path / "q"))
        df = events_df(spark, [ev('<http://e/s> <http://e/p> "v" .', 0)])
        res1 = apply_event_batch(spark, store, df, txn_id="t-0")
        res2 = apply_event_batch(spark, store, df, txn_id="t-0")
        assert res1["n_adds"] == 1 and not res1["replayed"]
        assert res2["n_adds"] == 0 and res2["n_deletes"] == 0 and res2["replayed"]
        assert store.count(spark) == 1

    def test_good_prefix_guarantee(self, spark, tmp_path):
        # valid, malformed, valid => 2 quads + 1 DLQ row
        # (mirrors DockerTestConfigFK.java:267-310)
        store = QuadStore(str(tmp_path / "q"))
        df = events_df(
            spark,
            [
                ev('<http://e/s1> <http://e/p> "a" .', 0),
                ev("this is not rdf", 1),
                ev('<http://e/s2> <http://e/p> "b" .', 2),
            ],
        )
        res = apply_event_batch(spark, store, df)
        assert store.count(spark) == 2
        assert res["n_dlq"] == 1
        dlq_row = res["dlq"].collect()[0]
        header_keys = [h["key"] for h in dlq_row["headers"]]
        assert DLQ_REASON in header_keys
        assert dlq_row["offset"] == 1

    def test_patch_delete_ordering(self, spark, tmp_path):
        # add then delete in later event => gone; delete-then-add => present.
        # order = (partition, offset): single-partition constraint documented
        # by the reference (README.md:148-153)
        store = QuadStore(str(tmp_path / "q"))
        add = 'A <http://e/s> <http://e/p> "x" .'
        delete = 'D <http://e/s> <http://e/p> "x" .'
        add2 = 'A <http://e/s2> <http://e/p> "y" .'
        df = events_df(
            spark,
            [
                ev(add, 0, "application/rdf-patch"),
                ev(delete, 1, "application/rdf-patch"),
                ev(delete.replace("/s", "/s2").replace('"x"', '"y"'), 2, "application/rdf-patch"),
                ev(add2, 3, "application/rdf-patch"),
            ],
        )
        apply_event_batch(spark, store, df)
        got = quads(store, spark)
        assert ("", "http://e/s2", "http://e/p", "y") in got
        assert ("", "http://e/s", "http://e/p", "x") not in got

    def test_delete_from_prior_batch(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "q"))
        apply_event_batch(
            spark, store, events_df(spark, [ev('<http://e/s> <http://e/p> "x" .', 0)]), txn_id="b1"
        )
        assert store.count(spark) == 1
        apply_event_batch(
            spark,
            store,
            events_df(spark, [ev('D <http://e/s> <http://e/p> "x" .', 1, "application/rdf-patch")]),
            txn_id="b2",
        )
        assert store.count(spark) == 0

    # Spark jobs one ingest batch costs (below), measured before the store
    # took over sizing its commit joins: the counts it sizes them from
    # come from aggregates the commit already runs, so the figure stays
    INGEST_BATCH_JOBS = 18

    def test_ingest_batch_job_count(self, spark, tmp_path, count_jobs):
        store = QuadStore(str(tmp_path / "q"), n_buckets=4)
        seed = "\n".join(f'<http://e/s{i}> <http://e/p> "v" .' for i in range(8))
        apply_event_batch(spark, store, events_df(spark, [ev(seed, 0)]), txn_id="seed")
        batch = events_df(spark, [
            ev("\n".join(f'<http://e/n{i}> <http://e/p> "v" .' for i in range(6)), 1),
            ev('D <http://e/s0> <http://e/p> "v" .\nD <http://e/s5> <http://e/p> "v" .\n'
               'A <http://e/s0> <http://e/q> "w" .', 2, "application/rdf-patch"),
            ev("<http://e/broken", 3),
        ])
        jobs, res = count_jobs(lambda: apply_event_batch(spark, store, batch, txn_id="b"))
        assert (res["n_adds"], res["n_deletes"], res["n_dlq"]) == (7, 2, 1)
        assert store.count(spark) == 8 - 2 + 7
        assert jobs == self.INGEST_BATCH_JOBS

    def test_jsonld_and_rdfxml_events_ingest_cleanly(self, spark, tmp_path):
        # the reference accepts any registered Jena syntax (FKLib.java:55-69);
        # JSON-LD and RDF/XML events must ingest, not land in the DLQ
        store = QuadStore(str(tmp_path / "q"))
        jsonld = '{"@context": {"ex": "http://e/"}, "@id": "ex:j", "ex:p": "from-jsonld"}'
        rdfxml = (
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            ' xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/x">'
            "<ex:p>from-rdfxml</ex:p></rdf:Description></rdf:RDF>"
        )
        df = events_df(
            spark,
            [ev(jsonld, 0, "application/ld+json"), ev(rdfxml, 1, "application/rdf+xml")],
        )
        res = apply_event_batch(spark, store, df)
        assert res["n_dlq"] == 0 and res["n_adds"] == 2
        got = quads(store, spark)
        assert ("", "http://e/j", "http://e/p", "from-jsonld") in got
        assert ("", "http://e/x", "http://e/p", "from-rdfxml") in got

    def test_bnode_labels_scoped_per_event(self, spark, tmp_path):
        # two document events both saying _:b1 describe DIFFERENT nodes
        # (Jena scopes labels per parsed document); without per-event
        # skolemization set-semantics dedup silently merges them
        store = QuadStore(str(tmp_path / "q"))
        ttl = "PREFIX : <http://example/>\n_:b1 :p :o ."
        df = events_df(spark, [ev(ttl, 0, "text/turtle"), ev(ttl, 1, "text/turtle")])
        apply_event_batch(spark, store, df)
        rows = store.read(spark).collect()
        assert len(rows) == 2
        subjects = {r.subject for r in rows}
        assert len(subjects) == 2 and all(s.startswith("_:b1.") for s in subjects)

    def test_bnode_replay_idempotent(self, spark, tmp_path):
        # the skolem suffix is derived from (topic, partition, offset), so
        # crash-replay of the same event re-derives identical labels and
        # the snapshot dedup still collapses it
        store = QuadStore(str(tmp_path / "q"))
        ttl = "PREFIX : <http://example/>\n_:b1 :p :o ."
        df = events_df(spark, [ev(ttl, 0, "text/turtle")])
        apply_event_batch(spark, store, df, txn_id="b1")
        apply_event_batch(spark, store, df, txn_id="b1-replayed-as-b2")
        assert store.count(spark) == 1

    def test_patch_bnode_labels_durable_across_events(self, spark, tmp_path):
        # RDF Patch labels are NOT document-scoped: a later patch can
        # delete a bnode quad an earlier patch created (patch-log contract)
        store = QuadStore(str(tmp_path / "q"))
        add = 'A _:b1 <http://e/p> "x" .'
        delete = 'D _:b1 <http://e/p> "x" .'
        apply_event_batch(
            spark, store, events_df(spark, [ev(add, 0, "application/rdf-patch")]), txn_id="b1"
        )
        assert store.count(spark) == 1
        apply_event_batch(
            spark, store, events_df(spark, [ev(delete, 1, "application/rdf-patch")]), txn_id="b2"
        )
        assert store.count(spark) == 0

    def test_malformed_patch_dlq(self, spark, tmp_path):
        # invalid marker sequence => whole event to DLQ, batch-mates kept
        # (TestFusekiProjector.java:235-342)
        store = QuadStore(str(tmp_path / "q"))
        df = events_df(
            spark,
            [
                ev("TC .", 0, "application/rdf-patch"),
                ev('<http://e/s> <http://e/p> "ok" .', 1),
            ],
        )
        res = apply_event_batch(spark, store, df)
        assert store.count(spark) == 1
        assert res["n_dlq"] == 1

    def test_net_effect_last_op_wins(self, spark):
        df = events_df(
            spark,
            [
                ev('A <http://e/s> <http://e/p> "x" .\nD <http://e/s> <http://e/p> "x" .\nA <http://e/s> <http://e/p> "x" .', 0, "application/rdf-patch"),
            ],
        )
        adds, deletes = net_effect(parse_events(df))
        assert adds.count() == 1
        assert deletes.count() == 0


class TestBucketPruning:
    def test_delete_rewrites_only_affected_buckets(self, spark, tmp_path):
        """Bucket-granular manifest: a delete must carry over every leaf
        whose bucket none of the delete keys hash to."""
        store = QuadStore(str(tmp_path / "q"), n_buckets=8)
        rows = [("", f"s{i}", "p", "iri", f"o{i}", None, None) for i in range(64)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA))
        before = set(store._read_manifest()["files"])
        assert len(before) > 1  # multiple bucket leaves

        dels = spark.createDataFrame([rows[0]], QUAD_SCHEMA)
        from pyspark.sql import functions as F

        target_bucket = dels.select(
            F.pmod(F.xxhash64("subject"), F.lit(8)).alias("b")
        ).collect()[0]["b"]
        store.commit(spark, deletes=dels)
        after = set(store._read_manifest()["files"])

        untouched_before = {f for f in before if not f.endswith(f"bucket={target_bucket}")}
        assert untouched_before <= after  # carried over byte-identical
        assert store.count(spark) == 63


class TestCompaction:
    def test_compact_merges_leaves_preserving_content(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qc"), n_buckets=4)
        # 6 commits -> every bucket accumulates ~6 leaves
        for i in range(6):
            rows = [("", f"s{i}_{j}", "p", "literal", f"v{i}", None, None) for j in range(8)]
            store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id=f"c{i}")
        before = store._read_manifest()
        n_before = len(before["files"])
        content_before = sorted(tuple(r) for r in store.read(spark).collect())
        v = store.compact(spark)
        after = store._read_manifest()
        assert v == before["version"] + 1
        # one leaf per non-empty bucket afterwards
        assert len(after["files"]) <= 4 < n_before
        content_after = sorted(tuple(r) for r in store.read(spark).collect())
        assert content_after == content_before
        # txn history survives (idempotent replay still detected)
        assert store.seen_txn("c3")
        # re-commit of a compacted txn is still a no-op
        rows = [("", "s0_0", "p", "literal", "v0", None, None)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id="c0")
        assert len(store.read(spark).collect()) == len(content_before)

    def test_compact_noop_when_already_compacted(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qn"), n_buckets=4)
        rows = [("", "s1", "p", "iri", "o", None, None)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA))
        v1 = store.compact(spark)  # single leaf: nothing to merge
        assert v1 == store.version
        v2 = store.compact(spark)
        assert v2 == v1  # stable: no version churn on repeated no-ops

    def test_concurrent_writers_no_lost_commits(self, spark, tmp_path):
        """Commits from many threads over *separate* QuadStore instances on
        the same path (the HTTP-handler / ingest-stream / compaction race)
        must serialize on the shared per-path write lock: every committed
        quad survives and no txn id is dropped."""
        import threading

        path = str(tmp_path / "qc")
        n_threads, per_thread = 6, 3
        errors: list[Exception] = []

        def writer(t: int) -> None:
            try:
                store = QuadStore(path, n_buckets=4)  # own instance, shared lock
                for i in range(per_thread):
                    rows = [("", f"s-{t}-{i}", "p", "iri", "o", None, None)]
                    store.commit(
                        spark,
                        adds=spark.createDataFrame(rows, QUAD_SCHEMA),
                        txn_id=f"t{t}-{i}",
                    )
                    if i == 1:
                        store.compact(spark)  # interleave compaction too
            except Exception as exc:  # pragma: no cover - failure reporting
                errors.append(exc)

        threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors
        final = QuadStore(path)
        assert final.count(spark) == n_threads * per_thread
        for t in range(n_threads):
            for i in range(per_thread):
                assert final.seen_txn(f"t{t}-{i}")


class TestVacuumGrace:
    """MVCC read grace: dropped leaves survive `grace_versions` further
    commits so readers of recent snapshots never lose files mid-scan."""

    def _quads(self, spark, n, tag):
        rows = [("", f"s{tag}-{i}", "p", "iri", f"o{i}", None, None) for i in range(n)]
        return spark.createDataFrame(rows, QUAD_SCHEMA)

    def _on_disk(self, store):
        out = set()
        for name in os.listdir(store.files_dir):
            sub = os.path.join(store.files_dir, name)
            for leaf in os.listdir(sub):
                if leaf.startswith("bucket="):
                    out.add(f"{name}/{leaf}")
        return out

    def test_dropped_files_survive_grace_then_vanish(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qg"), n_buckets=2, grace_versions=2)
        store.commit(spark, adds=self._quads(spark, 8, "a"), txn_id="c1")
        before = self._on_disk(store)
        # delete rewrites every touched bucket -> all original leaves drop
        store.commit(
            spark,
            deletes=self._quads(spark, 8, "a"),
            adds=self._quads(spark, 4, "b"),
            txn_id="c2",
        )
        assert before <= self._on_disk(store)  # still present (grace)
        store.commit(spark, adds=self._quads(spark, 1, "c"), txn_id="c3")
        assert before <= self._on_disk(store)  # version delta 1 < grace 2
        store.commit(spark, adds=self._quads(spark, 1, "d"), txn_id="c4")
        assert not (before & self._on_disk(store))  # grace expired, deleted

    def test_reader_snapshot_survives_delete_commit(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qr"), n_buckets=2)
        store.commit(spark, adds=self._quads(spark, 10, "a"), txn_id="c1")
        snapshot = store.read(spark)  # plan captures the v1 file list
        store.commit(spark, deletes=self._quads(spark, 10, "a"), txn_id="c2")
        assert snapshot.count() == 10  # old files still on disk
        assert store.count(spark) == 0  # new snapshot is empty

    def test_vacuum_removes_all_tombstones(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qv"), n_buckets=2)
        store.commit(spark, adds=self._quads(spark, 8, "a"), txn_id="c1")
        before = self._on_disk(store)
        store.commit(spark, deletes=self._quads(spark, 8, "a"), txn_id="c2")
        assert before <= self._on_disk(store)
        n = store.vacuum()
        assert n >= 1
        assert not (before & self._on_disk(store))
        assert store.vacuum() == 0

    def test_compaction_respects_grace(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "qc2"), n_buckets=2)
        for i in range(4):
            store.commit(spark, adds=self._quads(spark, 3, f"t{i}"), txn_id=f"c{i}")
        before = self._on_disk(store)
        v = store.compact(spark, min_files_per_bucket=2)
        assert v == store.version
        assert before <= self._on_disk(store)  # merged leaves tombstoned, not deleted
        assert store.count(spark) == 12


class TestRowCommit:
    """Row-tuple commits (the HTTP write path): set semantics and delete
    correctness hold, a commit rewrites only the buckets it changes, each
    as one leaf, and a DataFrame on either side routes the commit to the
    Spark tier."""

    def test_row_add_dedups_against_store(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "h"), n_buckets=4)
        rows1 = [("", f"s{i}", "p", "iri", "o", None, None) for i in range(10)]
        rows2 = [("", f"s{i}", "p", "iri", "o", None, None) for i in range(5, 15)]
        store.commit(spark, adds=rows1, txn_id="h1")
        store.commit(spark, adds=rows2, txn_id="h2")
        assert store.count(spark) == 15  # overlap deduplicated

    def test_row_delete_rewrites_only_matching_leaves(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket

        store = QuadStore(str(tmp_path / "h2"), n_buckets=4)
        rows = [("", f"s{i}", "p", "iri", "o", None, None) for i in range(20)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id="h1")

        def leaf_bytes():
            out = {}
            for f in store._read_manifest()["files"]:
                leaf = os.path.join(store.files_dir, f)
                out[f] = {p.name: p.read_bytes() for p in Path(leaf).iterdir()}
            return out

        def changed_buckets(before, after):
            # every other leaf carries over byte-identical; each changed
            # bucket ends with exactly one (new) leaf
            assert all(after[f] == before[f] for f in set(before) & set(after))
            buckets = sorted(store._bucket_of(f) for f in set(after) - set(before))
            assert all(store._bucket_of(f) in buckets for f in set(before) - set(after))
            assert store.stats()["max_leaves_per_bucket"] == 1
            return buckets

        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(spark_bucket(r[1], 4), []).append(r)
        assert len(by_bucket) == 4
        # delete from two of the four buckets: only those two change
        b1, b2 = sorted(b for b, rs in by_bucket.items() if len(rs) > 2)[:2]
        dels = by_bucket[b1][:2] + by_bucket[b2][:1]
        before = leaf_bytes()
        store.commit(spark, deletes=dels, txn_id="h2")
        assert changed_buckets(before, leaf_bytes()) == [b1, b2]
        assert store.count(spark) == 17
        left = {r.subject for r in store.read(spark).collect()}
        assert left == {r[1] for r in rows} - {d[1] for d in dels}
        # an add lands in its bucket's one leaf; a graph-scoped delete then
        # rewrites only the bucket that holds the graph's one quad
        store.commit(spark, adds=[("g", "s1", "p", "iri", "o", None, None)], txn_id="h3")
        before = leaf_bytes()
        store.commit(spark, deletes=[("g",)], txn_id="h4")
        assert changed_buckets(before, leaf_bytes()) == [spark_bucket("s1", 4)]
        assert store.count(spark) == 17

    def test_mixed_rows_and_dataframe_sides(self, spark, tmp_path):
        # a DataFrame side takes the commit to the Spark tier; the rows
        # side must come along with it
        store = QuadStore(str(tmp_path / "h3"), n_buckets=4)
        rows = [("", f"s{i}", "p", "iri", "o", None, None) for i in range(8)]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id="h1")
        adds = [("", "new", "p", "iri", "o", None, None)] * 2
        dels_df = store.read(spark).filter("subject = 's0'")
        store.commit(spark, adds=adds, deletes=dels_df, txn_id="h2")
        assert store.count(spark) == 8  # 8 - 1 + 1


class TestCompactionConcurrency:
    def test_compact_racing_commits_loses_nothing(self, spark, tmp_path):
        """compact() and commit() from separate threads over separate
        QuadStore instances on ONE path: the realpath-keyed write lock
        must serialize the read-manifest -> write-files -> swap-manifest
        sequences, or a compaction snapshotting stale files silently
        drops a racing commit's quads.  Every committed quad must survive
        an interleaved storm of both."""
        import threading

        path = str(tmp_path / "qr")
        writer = QuadStore(path, n_buckets=2)
        compactor = QuadStore(path, n_buckets=2)
        errs = []

        def committer():
            try:
                for i in range(12):
                    rows = [("", f"s{i}_{j}", "p", "literal", f"v{i}", None, None)
                            for j in range(5)]
                    writer.commit(
                        spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA),
                        txn_id=f"r{i}",
                    )
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)

        def compacter():
            try:
                for _ in range(6):
                    compactor.compact(spark, min_files_per_bucket=1)
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)

        t1 = threading.Thread(target=committer)
        t2 = threading.Thread(target=compacter)
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs, errs
        # fresh instance reads the final manifest: all 12x5 quads present
        assert QuadStore(path).count(spark) == 60
