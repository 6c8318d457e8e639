"""Streaming ingest + lifecycle tests, mirroring the reference's layer-6/7
Docker suites (DockerTestConfigFK, AbstractDockerTests): exact quad counts
after streaming, DLQ side-output, restart-resume from checkpoint,
pause/resume, idempotent re-apply.  Kafka is replaced by the file source —
identical EVENT_SCHEMA rows, identical foreachBatch path.
"""

import datetime
import os

import pytest

from jena_fuseki_kafka_spark.config import ConnectorConfig
from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA
from jena_fuseki_kafka_spark.ingest.streaming import IngestStream, file_stream
from jena_fuseki_kafka_spark.lifecycle import Engine
from jena_fuseki_kafka_spark.store import QuadStore

TS = datetime.datetime(2026, 1, 1)


def ev(value: str, offset: int, ct: str | None = None, partition: int = 0):
    headers = [("Content-Type", ct.encode())] if ct else []
    return (b"k", value.encode(), headers, "t1", partition, offset, TS)


def write_events(spark, path: str, rows, mode="append"):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(mode).parquet(path)


def make_conn(tmp_path, **kw):
    base = dict(
        name=kw.pop("name", "stream1"),
        topics=["t1"],
        dataset=str(tmp_path / "ds"),
        state_dir=str(tmp_path / "checkpoint"),
    )
    base.update(kw)
    return ConnectorConfig.from_dict(base)


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    return str(d)


class TestFileStreamIngest:
    def test_exact_count_end_to_end(self, spark, tmp_path, events_dir):
        # the reference's golden-count acceptance (DockerTestConfigFK):
        # N events x M quads -> exact count visible after the stream drains
        n_events, quads_per_event = 30, 7
        rows = []
        for i in range(n_events):
            nq = "\n".join(
                f'<http://e/s{i}> <http://e/p{j}> "v{i}-{j}" .' for j in range(quads_per_event)
            )
            rows.append(ev(nq, i))
        write_events(spark, events_dir, rows)

        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        stream.run_available()

        assert store.count(spark) == n_events * quads_per_event
        assert stream.metrics["adds"] == n_events * quads_per_event
        assert stream.metrics["dlq"] == 0

    def test_restart_resumes_from_checkpoint(self, spark, tmp_path, events_dir):
        # replay/sync semantics: new data after restart is picked up;
        # already-processed files are not re-applied (checkpoint = offsets)
        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        write_events(spark, events_dir, [ev('<http://e/s1> <http://e/p> "a" .', 0)])
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        stream.run_available()
        assert store.count(spark) == 1

        write_events(spark, events_dir, [ev('<http://e/s2> <http://e/p> "b" .', 1)])
        stream2 = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        stream2.run_available()
        assert store.count(spark) == 2
        # second run processed only the new file: adds metric counts 1
        assert stream2.metrics["adds"] == 1

    def test_dlq_side_output_parquet(self, spark, tmp_path, events_dir):
        # valid, malformed, valid -> 2 quads + 1 dead-letter row with headers
        rows = [
            ev('<http://e/s1> <http://e/p> "a" .', 0),
            ev("NOT RDF", 1),
            ev('<http://e/s2> <http://e/p> "b" .', 2),
        ]
        write_events(spark, events_dir, rows)
        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        dlq_path = str(tmp_path / "dlq")
        stream = IngestStream(
            spark, conn, store=store, source=file_stream(spark, events_dir), dlq_path=dlq_path
        )
        stream.run_available()

        assert store.count(spark) == 2
        dlq = spark.read.parquet(dlq_path)
        assert dlq.count() == 1
        keys = [h["key"] for h in dlq.collect()[0]["headers"]]
        assert "Dead-Letter-Reason" in keys

    def test_no_dlq_configured_fails_batch(self, spark, tmp_path, events_dir):
        # reference aborts the pipeline when malformed + no DLQ
        write_events(spark, events_dir, [ev("garbage", 0)])
        conn = make_conn(tmp_path)
        stream = IngestStream(
            spark, conn, store=QuadStore(conn.dataset), source=file_stream(spark, events_dir)
        )
        with pytest.raises(Exception):
            stream.run_available()


class TestStalledSource:
    """A9 stall-handler contract, mirroring the reference's Toxiproxy delay
    suite (DockerTestKafkaDelays.java:146-226): a source that goes silent
    must not crash the connector or corrupt the store, and data arriving
    after the stall must land exactly once.  Kafka+Toxiproxy is replaced by
    the file-source twin — silence is simply no new files across several
    live triggers."""

    def _await(self, cond, timeout_s=60, interval_s=0.25):
        import time

        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if cond():
                return True
            time.sleep(interval_s)
        return False

    def test_stall_mid_run_then_resume_no_loss_no_crash(self, spark, tmp_path, events_dir):
        import time

        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))

        write_events(spark, events_dir, [ev(f'<http://e/s{i}> <http://e/p> "a" .', i) for i in range(3)])
        q = stream.start(processing_time="250 milliseconds")
        try:
            assert self._await(lambda: store.count(spark) == 3), "initial data never landed"

            # --- stall: no new data across many trigger intervals ---------
            v_stalled = store.version
            time.sleep(2.0)  # ~8 empty triggers at 250ms
            assert q.isActive, "query died during source silence"
            assert q.exception() is None
            # txn boundary respected at the stall: nothing committed, no
            # partial state, counts exact (timeout-no-crash, ref :177-216)
            assert store.version == v_stalled
            assert store.count(spark) == 3

            # --- late data arrives (latency-data-arrives, ref :222-226) ---
            write_events(spark, events_dir, [ev('<http://e/late> <http://e/p> "b" .', 99)])
            assert self._await(lambda: store.count(spark) == 4), "late data never landed"
            assert q.isActive and q.exception() is None
        finally:
            stream.stop()
        # exactly-once accounting across the stall
        assert stream.metrics["adds"] == 4
        assert stream.metrics["dlq"] == 0

    def test_stop_mid_batch_drains_commit_and_accounting(self, spark, tmp_path, events_dir):
        """Commit-then-park: stop() issued in the window between the store
        commit becoming visible and the metrics accounting must wait for the
        in-flight batch, so metrics == store delta afterwards.  The window
        is widened deterministically by wrapping store.commit."""
        import threading
        import time

        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        committed = threading.Event()
        orig_commit = store.commit

        def slow_commit(*a, **k):
            v = orig_commit(*a, **k)
            committed.set()
            time.sleep(1.0)  # stop() lands inside this post-commit window
            return v

        store.commit = slow_commit
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        write_events(
            spark, events_dir, [ev(f'<http://e/s{i}> <http://e/p> "a" .', i) for i in range(5)]
        )
        stream.start(processing_time="100 milliseconds")
        assert committed.wait(timeout=60), "batch never committed"
        stream.stop()  # must drain: block until the batch is accounted
        assert store.count(spark) == 5
        assert stream.metrics["adds"] == 5, "stop() lost the in-flight batch's accounting"
        assert stream.metrics["batches"] == 1

    def test_source_silent_from_start_loads_nothing_and_stays_up(
        self, spark, tmp_path, events_dir
    ):
        import time

        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        q = stream.start(processing_time="250 milliseconds")
        try:
            time.sleep(1.5)
            # the reference's givenTimeoutProxy case: nothing consumed, no
            # crash, server keeps answering with zero data
            assert q.isActive and q.exception() is None
            assert store.count(spark) == 0
            assert stream.metrics["batches"] == 0
        finally:
            stream.stop()

    def test_source_delayed_data_arrives_without_error(
        self, spark, tmp_path, events_dir
    ):
        # the reference's givenLatencyProxy case
        # (DockerTestKafkaDelays.java:146-226): the source is slow, not
        # dead — data that shows up AFTER the stream started must be
        # consumed on a later trigger with no error and exact counts
        import time

        conn = make_conn(tmp_path)
        store = QuadStore(conn.dataset)
        stream = IngestStream(spark, conn, store=store, source=file_stream(spark, events_dir))
        q = stream.start(processing_time="250 milliseconds")
        try:
            time.sleep(1.0)  # several empty triggers first
            assert q.isActive and stream.metrics["batches"] == 0
            write_events(
                spark, events_dir,
                [ev(f'<http://e/s{i}> <http://e/p> "v" .', i) for i in range(3)],
            )
            deadline = time.time() + 30
            while time.time() < deadline and stream.metrics["adds"] < 3:
                time.sleep(0.25)
            assert q.exception() is None
            assert stream.metrics["adds"] == 3
        finally:
            stream.stop()
        assert store.count(spark) == 3


class TestEngineLifecycle:
    def test_engine_two_connectors_one_dataset(self, spark, tmp_path):
        # DockerTestConfigFK two-connectors/ONE-dataset shape: two topics
        # feed a single store.  The realpath-keyed per-store write lock
        # must serialize commits from both streams — exact combined count,
        # no lost or duplicated quads across 50+ interleaved micro-batches.
        import threading
        import time

        n_files = 26  # one quad per file, maxFilesPerTrigger=1 -> one
        # micro-batch per file -> 52 interleaved batches across streams
        eng = Engine(spark)
        shared_ds = str(tmp_path / "shared_ds")
        streams = {}
        for i in (1, 2):
            d = tmp_path / f"events{i}"
            d.mkdir()
            for n in range(n_files):
                write_events(
                    spark, str(d), [ev(f'<http://e/c{i}/s{n}> <http://e/p> "v" .', n)]
                )
            conn = ConnectorConfig.from_dict(
                dict(
                    name=f"shared{i}",
                    topics=[f"t{i}"],
                    dataset=shared_ds,
                    state_dir=str(tmp_path / f"cp{i}"),
                    group_id=f"g{i}",
                )
            )
            source = (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(d))
            )
            streams[i] = eng.add_connector(conn, source=source)

        # both IngestStream instances hold DISTINCT QuadStore objects on the
        # SAME path; instrument their commit bodies to prove the shared
        # write lock serializes them (overlap > 1 = lost-update window)
        overlap = {"cur": 0, "max": 0}
        guard = threading.Lock()

        def instrument(store):
            orig = store._commit_locked

            def locked(*a, **k):
                with guard:
                    overlap["cur"] += 1
                    overlap["max"] = max(overlap["max"], overlap["cur"])
                try:
                    time.sleep(0.01)  # widen any race window
                    return orig(*a, **k)
                finally:
                    with guard:
                        overlap["cur"] -= 1

            store._commit_locked = locked

        assert streams[1].store is not streams[2].store
        for s in streams.values():
            instrument(s.store)

        eng.start(trigger_available_now=True)
        for s in eng.streams.values():
            s.query.awaitTermination()
            s.query = None

        assert overlap["max"] == 1, "two ingest streams entered commit concurrently"
        batches = [streams[1].metrics["batches"], streams[2].metrics["batches"]]
        assert all(b >= n_files for b in batches), batches
        adds = streams[1].metrics["adds"] + streams[2].metrics["adds"]
        assert adds == 2 * n_files, (adds, batches)
        # exact combined count through a FRESH store instance: nothing lost,
        # nothing duplicated, manifest versions from both writers intact
        assert QuadStore(shared_ds).count(spark) == 2 * n_files

    def test_engine_two_connectors_two_datasets(self, spark, tmp_path):
        # DockerTestConfigFK two-connector/two-dataset shape
        eng = Engine(spark)
        dirs = {}
        for i in (1, 2):
            d = tmp_path / f"events{i}"
            d.mkdir()
            write_events(spark, str(d), [ev(f'<http://e/s{i}> <http://e/p> "v" .', 0)])
            conn = ConnectorConfig.from_dict(
                dict(
                    name=f"c{i}",
                    topics=[f"t{i}"],
                    dataset=str(tmp_path / f"ds{i}"),
                    state_dir=str(tmp_path / f"cp{i}"),
                    group_id=f"g{i}",
                )
            )
            stream = eng.add_connector(conn, source=file_stream(spark, str(d)))
            dirs[f"c{i}"] = stream
        eng.start(trigger_available_now=True)
        for stream in eng.streams.values():
            stream.query.awaitTermination()
            stream.query = None
        assert dirs["c1"].store.count(spark) == 1
        assert dirs["c2"].store.count(spark) == 1
        st = eng.status()
        assert st["c1"]["metrics"]["adds"] == 1

    def test_pause_resume(self, spark, tmp_path):
        d = tmp_path / "events"
        d.mkdir()
        write_events(spark, str(d), [ev('<http://e/s> <http://e/p> "v" .', 0)])
        eng = Engine(spark)
        conn = make_conn(tmp_path, name="pausable")
        stream = eng.add_connector(conn, source=file_stream(spark, str(d)))
        eng.pause_dataset(conn.dataset)
        assert eng.status()["pausable"]["paused"]
        eng.start(trigger_available_now=True)  # paused connector must NOT start
        assert stream.query is None
        assert stream.store.count(spark) == 0

        eng.resume_dataset(conn.dataset, trigger_available_now=True)
        stream.query.awaitTermination()
        stream.query = None
        assert stream.store.count(spark) == 1

    def test_restore_offsets_replays(self, spark, tmp_path):
        # A13: drop checkpoint -> re-read everything per read policy
        d = tmp_path / "events"
        d.mkdir()
        write_events(spark, str(d), [ev('<http://e/s> <http://e/p> "v" .', 0)])
        eng = Engine(spark)
        conn = make_conn(tmp_path, name="restorable")
        stream = eng.add_connector(conn, source=file_stream(spark, str(d)))
        stream.run_available()
        assert stream.metrics["batches"] >= 1
        first_adds = stream.metrics["adds"]
        assert first_adds == 1

        eng.restore_offsets("restorable")
        stream2 = IngestStream(
            spark, conn, store=stream.store, source=file_stream(spark, str(d))
        )
        stream2.run_available()
        # re-read happened (batch processed again) but set semantics +
        # idempotent txn keep the store exact
        assert stream2.metrics["batches"] >= 1
        assert stream.store.count(spark) == 1


class TestSecuredKafkaLifecycle:
    """Secured-cluster negative paths through the Engine lifecycle (the
    file-source twin of DockerTestSecureKafka / DockerTestMutualTlsKafka):
    an invalid SASL bundle must fail at CONFIG time — before any stream
    object exists, let alone starts — and no secret may leave the process
    through ``Engine.status()``, even on the error path."""

    SECRET_MARKERS = ("s3cr3t-pw", "jaas-p4ss", "trust-p4ss")

    def _secured_props(self, tmp_path):
        trust = tmp_path / "client.truststore.jks"
        trust.write_bytes(b"\x00fake-store")
        return {
            "security.protocol": "SASL_SSL",
            "sasl.mechanism": "PLAIN",
            "sasl.jaas.config": (
                "org.apache.kafka.common.security.plain.PlainLoginModule required "
                'username="svc" password="jaas-p4ss";'
            ),
            "ssl.truststore.location": str(trust),
            "ssl.truststore.password": "trust-p4ss",
        }

    def test_invalid_sasl_bundle_fails_before_any_stream(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.config.connector import ConfigError

        active_before = len(spark.streams.active)
        with pytest.raises(ConfigError, match="sasl.mechanism"):
            Engine.from_config(
                spark,
                [
                    dict(
                        name="sec-bad",
                        topics=["t1"],
                        dataset=str(tmp_path / "ds"),
                        kafka_properties={
                            "security.protocol": "SASL_SSL",
                            # mechanism missing -> structurally invalid
                            "sasl.jaas.config": 'Foo.Bar required password="s3cr3t-pw";',
                        },
                    )
                ],
            )
        # fail-fast means fail EMPTY: no stream object, no streaming query
        assert len(spark.streams.active) == active_before

    def test_invalid_bundle_error_never_echoes_secret(self, tmp_path):
        from jena_fuseki_kafka_spark.config.connector import ConfigError

        with pytest.raises(ConfigError) as ei:
            make_conn(
                tmp_path,
                name="sec-jaas",
                kafka_properties={
                    "security.protocol": "SASL_PLAINTEXT",
                    "sasl.mechanism": "PLAIN",
                    # malformed (no control flag): rejected, but the message
                    # must not quote the credential-bearing string
                    "sasl.jaas.config": 'password="s3cr3t-pw"',
                },
            )
        assert "s3cr3t-pw" not in str(ei.value)

    def test_status_redacted_even_on_error_path(self, spark, tmp_path):
        # valid secured bundle; the stream then FAILS mid-batch (malformed
        # event, no DLQ).  status() must expose the failure but never the
        # jaas password / store password — the redaction pin end-to-end.
        import json

        d = tmp_path / "events"
        d.mkdir()
        write_events(spark, str(d), [ev("garbage not rdf", 0)])
        eng = Engine(spark)
        conn = make_conn(
            tmp_path, name="sec-ok", kafka_properties=self._secured_props(tmp_path)
        )
        eng.add_connector(conn, source=file_stream(spark, str(d)))
        with pytest.raises(Exception):
            eng.start(trigger_available_now=True)
            for s in eng.streams.values():
                s.query.awaitTermination()
        st = eng.status()
        assert st["sec-ok"]["kafka_properties"]["sasl.jaas.config"] == "*****"
        assert st["sec-ok"]["kafka_properties"]["ssl.truststore.password"] == "*****"
        # nothing secret anywhere in the whole (stringified) status payload
        blob = json.dumps(st, default=str)
        for marker in self.SECRET_MARKERS:
            assert marker not in blob
        # non-secret config still visible for operators, and the store's
        # layout (no properties in it)
        assert st["sec-ok"]["kafka_properties"]["security.protocol"] == "SASL_SSL"
        assert st["sec-ok"]["store"] == eng.streams["sec-ok"].store.stats()
        assert set(st["sec-ok"]["store"]) == {
            "version", "leaves", "max_leaves_per_bucket", "tombstones", "pinned_snapshots",
        }
        for s in eng.streams.values():
            s.query = None

    def test_no_http_endpoint_returns_a_secret(self, spark, tmp_path):
        # the admin endpoints describe the engine's datasets; none of
        # them, nor a dataset endpoint, may echo a connector property
        import json
        import urllib.error
        import urllib.request

        from jena_fuseki_kafka_spark.server import SparqlHttpServer

        eng = Engine(spark)
        conn = make_conn(tmp_path, name="sec-http", kafka_properties=self._secured_props(tmp_path))
        eng.add_connector(conn, source=file_stream(spark, str(tmp_path)))
        srv = SparqlHttpServer.from_engine(eng)
        base = f"http://127.0.0.1:{srv.start()}"
        try:
            seen = []
            for path in ("/$/ping", "/$/stats", "/ds/data", "/ds/query?query=ASK%7B%7D",
                         "/ds/status", "/$/nope", "/sec-http/data"):
                try:
                    with urllib.request.urlopen(base + path) as resp:
                        seen.append((resp.status, str(resp.headers), resp.read().decode()))
                except urllib.error.HTTPError as e:
                    seen.append((e.code, str(e.headers), e.read().decode()))
        finally:
            srv.stop()
        assert [code for code, _, _ in seen[:4]] == [200, 200, 200, 200]
        assert "/ds" in json.loads(seen[1][2])["datasets"]
        blob = repr(seen)
        for marker in self.SECRET_MARKERS:
            assert marker not in blob


class TestEngineToHttp:
    def test_ingest_then_serve_over_http(self, spark, tmp_path):
        """Full reference shape end-to-end: two connectors ingest RDF off
        their (file-twin) topics into separate datasets, then ONE HTTP
        server serves both; the acceptance count query over HTTP sees
        exactly what was ingested (DockerTestConfigFK's verification)."""
        import json as _json
        import urllib.request

        from jena_fuseki_kafka_spark.server import SparqlHttpServer

        eng = Engine(spark)
        for i in (1, 2):
            d = tmp_path / f"ev{i}"
            d.mkdir()
            nq = "\n".join(f'<http://e/s{j}> <http://e/p> "d{i}" .' for j in range(i * 2))
            write_events(spark, str(d), [ev(nq, 0)])
            conn = ConnectorConfig.from_dict(
                dict(
                    name=f"hc{i}",
                    topics=[f"ht{i}"],
                    dataset=str(tmp_path / f"hds{i}"),
                    state_dir=str(tmp_path / f"hcp{i}"),
                    group_id=f"hg{i}",
                )
            )
            eng.add_connector(conn, source=file_stream(spark, str(d)))
        eng.start(trigger_available_now=True)
        for stream in eng.streams.values():
            stream.query.awaitTermination()
            stream.query = None

        srv = SparqlHttpServer.from_engine(eng)
        port = srv.start()
        try:
            q = b"SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }"
            counts = {}
            for name in ("hds1", "hds2"):
                r = urllib.request.Request(
                    f"http://127.0.0.1:{port}/{name}/query", data=q, method="POST"
                )
                r.add_header("Content-Type", "application/sparql-query")
                with urllib.request.urlopen(r) as resp:
                    doc = _json.loads(resp.read())
                counts[name] = int(doc["results"]["bindings"][0]["C"]["value"])
            assert counts == {"hds1": 2, "hds2": 4}
        finally:
            srv.stop()


class TestStateFileMigration:
    """Reference offset-state-file migration (FusekiOffsetStore.java:112-255),
    mirroring TestFusekiOffsetStore's legacy/current scenarios."""

    def _write(self, tmp_path, doc):
        import json

        p = tmp_path / "Replay-RDF0.state"
        p.write_text(json.dumps(doc))
        return str(p)

    def test_current_format_selects_consumer_group(self, tmp_path):
        from jena_fuseki_kafka_spark.ingest import migrate_state_file, starting_offsets_json

        # two groups in one file (DockerTestConfigFK.java:366-369)
        path = self._write(
            tmp_path,
            {
                "dataset": "/ds",
                "offsets": {"RDF0-0-g1": 42, "RDF0-1-g1": 17, "RDF0-0-another": 5},
            },
        )
        state = migrate_state_file(path, consumer_group="g1")
        assert state["dataset"] == "/ds"
        assert state["offsets"] == {"RDF0": {0: 42, 1: 17}}
        import json

        assert json.loads(starting_offsets_json(state)) == {"RDF0": {"0": 42, "1": 17}}

    def test_dashed_topic_and_group(self, tmp_path):
        from jena_fuseki_kafka_spark.ingest import migrate_state_file

        path = self._write(
            tmp_path,
            {"dataset": "/ds", "offsets": {"knowledge-updates-3-my-group": 9}},
        )
        state = migrate_state_file(path, consumer_group="my-group")
        assert state["offsets"] == {"knowledge-updates": {3: 9}}

    def test_legacy_format_corrects_off_by_one(self, tmp_path):
        from jena_fuseki_kafka_spark.ingest import migrate_state_file

        # TestFusekiOffsetStore.givenLegacyStateFile_... expects 1234 -> 1235
        path = self._write(
            tmp_path,
            {"dataset": "/ds", "endpoint": "foo", "topic": "test", "offset": 1234},
        )
        state = migrate_state_file(path, consumer_group="example")
        assert state["offsets"] == {"test": {0: 1235}}

    def test_legacy_format_requires_consumer_group(self, tmp_path):
        from jena_fuseki_kafka_spark.config import ConfigError
        from jena_fuseki_kafka_spark.ingest import migrate_state_file

        path = self._write(
            tmp_path, {"dataset": "/ds", "topic": "test", "offset": 1}
        )
        with pytest.raises(ConfigError, match="consumer group"):
            migrate_state_file(path)

    def test_dataset_mismatch_rejected_prefix_tolerated(self, tmp_path):
        from jena_fuseki_kafka_spark.config import ConfigError
        from jena_fuseki_kafka_spark.ingest import migrate_state_file

        path = self._write(tmp_path, {"dataset": "/ds/extra", "offsets": {}})
        # prefix-tolerant (FusekiOffsetStore.java:205-210)
        assert migrate_state_file(path, dataset="/ds")["dataset"] == "/ds/extra"
        with pytest.raises(ConfigError, match="does not match"):
            migrate_state_file(path, dataset="/other")

    def test_missing_dataset_rejected(self, tmp_path):
        from jena_fuseki_kafka_spark.config import ConfigError
        from jena_fuseki_kafka_spark.ingest import migrate_state_file

        path = self._write(tmp_path, {"offsets": {}})
        with pytest.raises(ConfigError, match="dataset"):
            migrate_state_file(path)
