"""Config + registry tests, mirroring the reference's layer-5 suite
(TestKafkaConnectorAssembler.java:36-380, TestConnectorDescriptor.java,
TestEnvVariables.java:41-121, TestConfig.java bad-config-*.ttl cases)."""

import os

import pytest

from jena_fuseki_kafka_spark.config import (
    ConfigError,
    ConnectorConfig,
    Registry,
    interpolate_env,
)


def conn(**kw):
    base = dict(name="c1", topics=["t1"], dataset="/tmp/ds1")
    base.update(kw)
    return ConnectorConfig.from_dict(base)


class TestEnvInterpolation:
    # grammar from EnvVariables.java:39-115
    def test_plain_passthrough(self):
        assert interpolate_env("k", "plain") == "plain"
        assert interpolate_env("k", 42) == 42

    def test_bare_env(self, monkeypatch):
        monkeypatch.setenv("MY_TOPIC", "events")
        assert interpolate_env("k", "env:MY_TOPIC") == "events"

    def test_braced_env(self, monkeypatch):
        monkeypatch.setenv("MY_TOPIC", "events")
        assert interpolate_env("k", "env:{MY_TOPIC}") == "events"

    def test_braced_default_used(self, monkeypatch):
        monkeypatch.delenv("NOPE", raising=False)
        assert interpolate_env("k", "env:{NOPE:fallback}") == "fallback"

    def test_braced_default_ignored_when_set(self, monkeypatch):
        monkeypatch.setenv("SET_VAR", "real")
        assert interpolate_env("k", "env:{SET_VAR:fallback}") == "real"

    def test_empty_default_allowed(self, monkeypatch):
        monkeypatch.delenv("NOPE", raising=False)
        assert interpolate_env("k", "env:{NOPE:}") == ""

    def test_unset_no_default_errors(self, monkeypatch):
        monkeypatch.delenv("NOPE", raising=False)
        with pytest.raises(ConfigError, match="NOPE"):
            interpolate_env("k", "env:NOPE")
        with pytest.raises(ConfigError, match="NOPE"):
            interpolate_env("k", "env:{NOPE}")


class TestConnectorConfig:
    def test_defaults_match_reference(self):
        c = conn()
        assert c.batch_size == 5000            # SysJenaKafka.java:126
        assert c.batch_bytes == 50 * 1024 * 1024  # SysJenaKafka.java:77
        assert c.read_policy == "sync"

    def test_no_topic_rejected(self):
        # bad-config-no-topic.ttl analog
        with pytest.raises(ConfigError, match="topic"):
            conn(topics=[])

    def test_dlq_not_input(self):
        # KConnectorDesc.java:116-119
        with pytest.raises(ConfigError, match="DLQ"):
            conn(dlq_topic="t1")

    def test_bad_read_policy(self):
        with pytest.raises(ConfigError, match="read_policy"):
            conn(read_policy="bogus")

    def test_invalid_numbers_fall_back_to_defaults(self):
        # validate-or-default, KConnectorDesc.java:153-192
        c = conn(batch_size=-5, batch_bytes=0)
        assert c.batch_size == 5000
        assert c.batch_bytes == 50 * 1024 * 1024

    def test_unknown_keys_rejected(self):
        with pytest.raises(ConfigError, match="unknown"):
            ConnectorConfig.from_dict({"name": "x", "topics": ["t"], "dataset": "d", "bogus": 1})

    def test_env_in_topics(self, monkeypatch):
        monkeypatch.setenv("TOPIC_A", "resolved")
        c = conn(topics=["env:TOPIC_A"])
        assert c.topics == ["resolved"]

    def test_starting_offsets_mapping(self):
        # README.md:169-173 read policies
        assert conn(read_policy="replay").starting_offsets() == "earliest"
        assert conn(read_policy="latest").starting_offsets() == "latest"
        assert conn(read_policy="sync").starting_offsets() == "earliest"


class TestRegistry:
    def test_single_connector_per_topic(self):
        # FKRegistry.java:45-99
        r = Registry()
        r.register(conn())
        with pytest.raises(ConfigError, match="already registered"):
            r.register(conn(name="c2", group_id="g2"))

    def test_duplicate_group_rejected(self):
        # FMod_FusekiKafka.java:177-182
        r = Registry()
        r.register(conn(group_id="shared"))
        with pytest.raises(ConfigError, match="group"):
            r.register(conn(name="c2", topics=["t2"], group_id="shared"))

    def test_dlq_cross_check(self):
        r = Registry()
        r.register(conn(dlq_topic="dead"))
        with pytest.raises(ConfigError, match="DLQ"):
            r.register(conn(name="c2", topics=["dead"], group_id="g2"))

    def test_find_topics_reverse_lookup(self):
        # FKS.findTopics
        r = Registry()
        r.register(conn())
        r.register(conn(name="c2", topics=["t2"], group_id="g2"))
        assert r.find_topics("/tmp/ds1") == ["t1", "t2"]

    def test_unregister(self):
        r = Registry()
        r.register(conn())
        r.unregister("c1")
        assert r.connector_for_topic("t1") is None
        r.register(conn())  # re-register works


class TestTopicGate:
    """A15 topic-existence gate (FKS.java:140-194 contract)."""

    def test_all_exist(self):
        from jena_fuseki_kafka_spark.ingest.topics import check_topics_exist

        assert check_topics_exist(["t1", "t2"], lambda ts: {"t1", "t2", "x"})

    def test_unknown_checker_passes_open(self):
        from jena_fuseki_kafka_spark.ingest.topics import check_topics_exist

        assert check_topics_exist(["t1"], lambda ts: None)

    def test_missing_topic_fails_after_timeout(self):
        import pytest as _pytest

        from jena_fuseki_kafka_spark.config import ConfigError
        from jena_fuseki_kafka_spark.ingest.topics import check_topics_exist

        clock = iter([0.0, 0.2, 0.4, 5.1, 5.2]).__next__
        with _pytest.raises(ConfigError, match="t2"):
            check_topics_exist(
                ["t1", "t2"],
                lambda ts: {"t1"},
                timeout_s=5.0,
                clock=clock,
                sleep=lambda s: None,
            )

    def test_topic_appears_within_retries(self):
        from jena_fuseki_kafka_spark.ingest.topics import check_topics_exist

        answers = iter([{"t1"}, {"t1"}, {"t1", "t2"}])
        assert check_topics_exist(
            ["t1", "t2"],
            lambda ts: next(answers),
            timeout_s=5.0,
            clock=iter([0.0, 0.1, 0.2, 0.3]).__next__,
            sleep=lambda s: None,
        )


REF_FILES = os.path.join(os.path.dirname(__file__), "fixtures", "config")


class TestTurtleConfigLoader:
    """The RDF-graph config path (KafkaConnectorAssembler.java:198-303),
    driven by this repo's reconstructions of the reference's fixture
    files (``tests/fixtures/config``): the same file names and the
    settings each test reads, written in the ``fk:`` vocabulary the
    loader reads."""

    def _load(self, name):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        return load_turtle_config(f"{REF_FILES}/{name}")

    def test_reference_config_connector(self):
        (c,) = self._load("config-connector.ttl")
        assert c.name == "connector0"
        assert c.topics == ["RDF0"]
        assert c.bootstrap_servers == "localhost:9092"
        assert c.dataset == "/ds"
        assert c.read_policy == "sync"
        assert c.group_id == "connector-0"
        assert c.state_dir == "Replay-RDF0.state"
        assert c.dlq_topic is None

    def test_reference_config_dlq(self):
        (c,) = self._load("config-connector-dlq.ttl")
        assert c.dlq_topic == "bad-rdf"

    def test_reference_config_latest(self):
        # syncTopic false + replayTopic false -> read from latest offsets
        (c,) = self._load("config-connector-latest.ttl")
        assert c.read_policy == "latest"

    def test_reference_config_two_connectors(self):
        cs = self._load("config-connector-2.ttl")
        assert {c.name for c in cs} == {"connector1", "connector2"}
        assert {c.dataset for c in cs} == {"/ds1", "/ds2"}

    def test_reference_config_env(self, monkeypatch):
        # env: interpolation inside the TTL values (EnvVariables grammar)
        monkeypatch.setenv("TEST_BOOTSTRAP_SERVER", "broker:9999")
        monkeypatch.delenv("TEST_KAFKA_TOPIC", raising=False)
        (c,) = self._load("config-connector-env.ttl")
        assert c.bootstrap_servers == "broker:9999"
        assert c.topics == ["RDF0"]  # default applied
        assert c.group_id == "connector-6"

    def test_reference_bad_config_no_topic(self):
        with pytest.raises(ConfigError, match="topic"):
            self._load("bad-config-no-topic.ttl")

    def test_reference_bad_config_no_state_file(self):
        with pytest.raises(ConfigError, match="stateFile"):
            self._load("bad-config-no-state-file.ttl")

    def test_reference_bad_config_shared_group_id(self):
        # the loader returns both; the registry invariant rejects them
        cs = self._load("bad-config-shared-group-id.ttl")
        reg = Registry()
        reg.register(cs[0])
        with pytest.raises(ConfigError):
            reg.register(cs[1])

    def test_cluster_inheritance(self, tmp_path):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        # mirrors givenConnectorReferencingCluster_whenAssembling_then
        # InheritsBootstrapAndConfig (TestKafkaConnectorAssembler.java:420)
        ttl = """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX fk:  <http://jena.apache.org/fuseki/kafka#>
        <#cluster> rdf:type fk:Cluster ;
            fk:bootstrapServers "cluster-host:9092" ;
            fk:config ("security.protocol" "SSL") ;
            fk:groupId "cluster-group" .
        <#c1> rdf:type fk:Connector ;
            fk:cluster <#cluster> ;
            fk:topic "T1" ;
            fk:fusekiServiceName "/ds" ;
            fk:stateFile "s.state" ;
            fk:config ("client.id" "c1") .
        """
        p = tmp_path / "cluster.ttl"
        p.write_text(ttl)
        (c,) = load_turtle_config(str(p))
        assert c.bootstrap_servers == "cluster-host:9092"  # inherited
        assert c.kafka_properties == {"security.protocol": "SSL", "client.id": "c1"}
        # group id is deliberately NOT inherited (assembler :229-233)
        assert c.group_id != "cluster-group"

    def test_connector_overrides_cluster(self, tmp_path):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        ttl = """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX fk:  <http://jena.apache.org/fuseki/kafka#>
        <#cluster> rdf:type fk:Cluster ;
            fk:bootstrapServers "cluster-host:9092" ;
            fk:config ("security.protocol" "SSL") .
        <#c1> rdf:type fk:Connector ;
            fk:cluster <#cluster> ;
            fk:bootstrapServers "own-host:9092" ;
            fk:topic "T1" ;
            fk:fusekiServiceName "/ds" ;
            fk:stateFile "s.state" ;
            fk:config ("security.protocol" "PLAINTEXT") .
        """
        p = tmp_path / "cluster2.ttl"
        p.write_text(ttl)
        (c,) = load_turtle_config(str(p))
        assert c.bootstrap_servers == "own-host:9092"
        assert c.kafka_properties["security.protocol"] == "PLAINTEXT"

    def test_config_file_layering(self, tmp_path):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        # file overrides inline within a level (assembler :293-295)
        (tmp_path / "kafka.properties").write_text(
            "# comment\nsecurity.protocol=SASL_SSL\nsasl.mechanism=PLAIN\n"
            "sasl.jaas.config=org.apache.kafka.common.security.plain.PlainLoginModule"
            ' required username="u" password="p";\n'
        )
        ttl = """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX fk:  <http://jena.apache.org/fuseki/kafka#>
        <#c1> rdf:type fk:Connector ;
            fk:bootstrapServers "h:9092" ;
            fk:topic "T1" ;
            fk:fusekiServiceName "/ds" ;
            fk:stateFile "s.state" ;
            fk:config ("security.protocol" "SSL") ;
            fk:configFile "kafka.properties" .
        """
        p = tmp_path / "layered.ttl"
        p.write_text(ttl)
        (c,) = load_turtle_config(str(p))
        assert c.kafka_properties["security.protocol"] == "SASL_SSL"
        assert c.kafka_properties["sasl.mechanism"] == "PLAIN"

    def test_missing_properties_file_errors(self, tmp_path):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        ttl = """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX fk:  <http://jena.apache.org/fuseki/kafka#>
        <#c1> rdf:type fk:Connector ;
            fk:bootstrapServers "h:9092" ;
            fk:topic "T1" ;
            fk:fusekiServiceName "/ds" ;
            fk:stateFile "s.state" ;
            fk:configFile "nope.properties" .
        """
        p = tmp_path / "missing.ttl"
        p.write_text(ttl)
        with pytest.raises(ConfigError, match="not found"):
            load_turtle_config(str(p))

    def test_no_bootstrap_anywhere_errors(self, tmp_path):
        from jena_fuseki_kafka_spark.config import load_turtle_config

        ttl = """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX fk:  <http://jena.apache.org/fuseki/kafka#>
        <#c1> rdf:type fk:Connector ;
            fk:topic "T1" ;
            fk:fusekiServiceName "/ds" ;
            fk:stateFile "s.state" .
        """
        p = tmp_path / "nobootstrap.ttl"
        p.write_text(ttl)
        with pytest.raises(ConfigError, match="bootstrap"):
            load_turtle_config(str(p))


class TestKafkaSecurity:
    """Secured-cluster config bundles must validate at config time and
    never leak secrets (ref DockerTestSecureKafka.java:22,
    DockerTestMutualTlsKafka.java:22, README.md:305-315)."""

    JAAS = (
        'org.apache.kafka.common.security.plain.PlainLoginModule required '
        'username="alice" password="alice-secret";'
    )

    def sasl_ssl(self, tmp_path, **extra):
        ts = tmp_path / "truststore.jks"
        ts.write_bytes(b"\xfe\xed\xfe\xed")
        props = {
            "security.protocol": "SASL_SSL",
            "sasl.mechanism": "PLAIN",
            "sasl.jaas.config": self.JAAS,
            "ssl.truststore.location": str(ts),
            "ssl.truststore.password": "ts-pass",
        }
        props.update(extra)
        return props

    def mtls(self, tmp_path, **extra):
        ts = tmp_path / "truststore.jks"
        ks = tmp_path / "keystore.jks"
        ts.write_bytes(b"\xfe\xed\xfe\xed")
        ks.write_bytes(b"\xfe\xed\xfe\xed")
        props = {
            "security.protocol": "SSL",
            "ssl.truststore.location": str(ts),
            "ssl.truststore.password": "ts-pass",
            "ssl.keystore.location": str(ks),
            "ssl.keystore.password": "ks-pass",
            "ssl.key.password": "key-pass",
        }
        props.update(extra)
        return props

    # ---- valid bundles pass at config time -----------------------------
    def test_sasl_ssl_bundle_ok(self, tmp_path):
        c = conn(kafka_properties=self.sasl_ssl(tmp_path))
        assert c.kafka_properties["sasl.mechanism"] == "PLAIN"

    def test_mtls_bundle_ok(self, tmp_path):
        c = conn(kafka_properties=self.mtls(tmp_path))
        assert c.kafka_properties["security.protocol"] == "SSL"

    def test_scram_bundle_ok(self, tmp_path):
        jaas = (
            'org.apache.kafka.common.security.scram.ScramLoginModule required '
            'username="u" password="p";'
        )
        c = conn(kafka_properties={
            "security.protocol": "SASL_PLAINTEXT",
            "sasl.mechanism": "SCRAM-SHA-512",
            "sasl.jaas.config": jaas,
        })
        assert c.kafka_properties["sasl.mechanism"] == "SCRAM-SHA-512"

    def test_gssapi_without_jaas_ok(self):
        # Kerberos configures via krb5/jaas files, not inline jaas
        conn(kafka_properties={
            "security.protocol": "SASL_PLAINTEXT",
            "sasl.mechanism": "GSSAPI",
        })

    # ---- fail-fast cases ------------------------------------------------
    def test_unknown_protocol(self):
        with pytest.raises(ConfigError, match="security.protocol"):
            conn(kafka_properties={"security.protocol": "TLSv9"})

    def test_sasl_without_mechanism(self):
        with pytest.raises(ConfigError, match="sasl.mechanism"):
            conn(kafka_properties={"security.protocol": "SASL_PLAINTEXT"})

    def test_plain_mechanism_without_jaas(self):
        with pytest.raises(ConfigError, match="sasl.jaas.config"):
            conn(kafka_properties={
                "security.protocol": "SASL_PLAINTEXT",
                "sasl.mechanism": "PLAIN",
            })

    def test_malformed_jaas_missing_semicolon(self, tmp_path):
        bad = self.sasl_ssl(
            tmp_path,
            **{"sasl.jaas.config":
               'org.apache.kafka.common.security.plain.PlainLoginModule required username="u"'}
        )
        with pytest.raises(ConfigError, match="malformed sasl.jaas.config"):
            conn(kafka_properties=bad)

    def test_malformed_jaas_missing_control_flag(self, tmp_path):
        bad = self.sasl_ssl(
            tmp_path,
            **{"sasl.jaas.config":
               'org.apache.kafka.common.security.plain.PlainLoginModule username="u";'}
        )
        with pytest.raises(ConfigError, match="malformed sasl.jaas.config"):
            conn(kafka_properties=bad)

    def test_jaas_error_does_not_echo_credentials(self, tmp_path):
        bad = self.sasl_ssl(
            tmp_path,
            **{"sasl.jaas.config": 'Broken hunter2-password-value'}
        )
        with pytest.raises(ConfigError) as ei:
            conn(kafka_properties=bad)
        assert "hunter2" not in str(ei.value)

    def test_missing_truststore_file(self, tmp_path):
        props = self.sasl_ssl(tmp_path)
        props["ssl.truststore.location"] = str(tmp_path / "nope.jks")
        with pytest.raises(ConfigError, match="ssl.truststore.location"):
            conn(kafka_properties=props)

    def test_missing_keystore_file(self, tmp_path):
        props = self.mtls(tmp_path)
        props["ssl.keystore.location"] = str(tmp_path / "nope.jks")
        with pytest.raises(ConfigError, match="ssl.keystore.location"):
            conn(kafka_properties=props)

    def test_truststore_password_without_location(self):
        with pytest.raises(ConfigError, match="ssl.truststore.password"):
            conn(kafka_properties={
                "security.protocol": "SSL",
                "ssl.truststore.password": "p",
            })

    def test_keystore_password_without_location(self, tmp_path):
        props = self.mtls(tmp_path)
        del props["ssl.keystore.location"]
        with pytest.raises(ConfigError, match="ssl.keystore"):
            conn(kafka_properties=props)

    def test_sasl_props_on_plaintext(self):
        with pytest.raises(ConfigError, match="sasl"):
            conn(kafka_properties={"sasl.mechanism": "PLAIN"})

    def test_ssl_props_on_plaintext(self, tmp_path):
        ts = tmp_path / "t.jks"
        ts.write_bytes(b"x")
        with pytest.raises(ConfigError, match="ssl"):
            conn(kafka_properties={"ssl.truststore.location": str(ts)})

    # ---- env-interpolated secrets --------------------------------------
    def test_env_interpolated_secret(self, tmp_path, monkeypatch):
        monkeypatch.setenv("KS_PASS", "s3cr3t-from-env")
        props = self.mtls(tmp_path, **{"ssl.keystore.password": "env:{KS_PASS}"})
        c = conn(kafka_properties=props)
        assert c.kafka_properties["ssl.keystore.password"] == "s3cr3t-from-env"
        assert c.redacted_properties()["ssl.keystore.password"] == "*****"

    def test_env_interpolated_secret_unset_errors(self, tmp_path, monkeypatch):
        monkeypatch.delenv("KS_PASS", raising=False)
        props = self.mtls(tmp_path, **{"ssl.keystore.password": "env:{KS_PASS}"})
        with pytest.raises(ConfigError, match="KS_PASS"):
            conn(kafka_properties=props)

    # ---- redaction ------------------------------------------------------
    def test_redacted_properties_masks_all_secrets(self, tmp_path):
        c = conn(kafka_properties=self.sasl_ssl(tmp_path))
        red = c.redacted_properties()
        assert red["sasl.jaas.config"] == "*****"
        assert red["ssl.truststore.password"] == "*****"
        # non-secrets survive for diagnostics
        assert red["security.protocol"] == "SASL_SSL"
        assert red["sasl.mechanism"] == "PLAIN"
        assert "alice-secret" not in str(red)

    def test_engine_status_redacts(self, tmp_path):
        from jena_fuseki_kafka_spark.lifecycle import Engine

        props = self.mtls(tmp_path)
        c = conn(
            kafka_properties=props,
            dataset=str(tmp_path / "ds"),
            bootstrap_servers="broker:9093",
        )
        eng = Engine(spark=None)
        eng.add_connector(c)
        status = eng.status()
        text = repr(status)
        for secret in ("ts-pass", "ks-pass", "key-pass"):
            assert secret not in text
        assert status["c1"]["kafka_properties"]["ssl.keystore.password"] == "*****"
        assert status["c1"]["kafka_properties"]["security.protocol"] == "SSL"
