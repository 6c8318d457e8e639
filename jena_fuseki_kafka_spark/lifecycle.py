"""Engine lifecycle: the FMod_FusekiKafka / FKS equivalent.

Manages N connectors as Structured Streaming queries over one SparkSession
(SURVEY.md §2A A13-A17, A20):

- ``Engine.from_config`` -> validate + register (assembler + registry)
- ``start()``            -> start each connector's streaming query
                            (serverBeforeStarting -> startKafkaConnectors)
- ``stop()``             -> graceful stop of all queries (serverStopped)
- ``pause_dataset()`` / ``resume_dataset()`` -> safe-point pause of every
                            connector feeding a dataset (FKS.pauseProjectors)
- ``restore_offsets()``  -> point-in-time reset by replacing the checkpoint
                            (FKS.restoreOffsetForDataset analog)
- ``status()``           -> supervision snapshot (PollThreadMonitor analog;
                            Spark's StreamingQuery exposes liveness and
                            progress natively)
"""

from __future__ import annotations

import shutil

from pyspark.sql import SparkSession

from .config import ConfigError, ConnectorConfig, Registry
from .ingest.streaming import IngestStream
from .store import QuadStore


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.registry = Registry()
        self.streams: dict[str, IngestStream] = {}

    @classmethod
    def from_config(cls, spark: SparkSession, connectors: list[dict | ConnectorConfig]) -> "Engine":
        eng = cls(spark)
        for c in connectors:
            conn = c if isinstance(c, ConnectorConfig) else ConnectorConfig.from_dict(c)
            eng.add_connector(conn)
        return eng

    def add_connector(
        self, conn: ConnectorConfig, source=None, store: QuadStore | None = None, dlq_path=None
    ) -> IngestStream:
        if conn.name in self.streams:
            raise ConfigError(f"duplicate connector name {conn.name!r}")
        self.registry.register(conn)
        stream = IngestStream(self.spark, conn, store=store, source=source, dlq_path=dlq_path)
        self.streams[conn.name] = stream
        return stream

    # ------------------------------------------------------------ lifecycle
    def start(self, trigger_available_now: bool = False, topic_checker=None) -> None:
        from .ingest.topics import check_topics_exist, default_topic_checker

        for stream in self.streams.values():
            conn = stream.conn
            if conn.check_topics and conn.bootstrap_servers:
                # A15 strict startup: fail fast if a topic is missing
                checker = topic_checker or default_topic_checker(conn.bootstrap_servers)
                check_topics_exist(conn.topics, checker)
        for stream in self.streams.values():
            if stream.query is None and not stream._paused:
                stream.start(trigger_available_now=trigger_available_now)

    def stop(self) -> None:
        for stream in self.streams.values():
            stream.stop()

    def pause_dataset(self, dataset: str) -> list[str]:
        """Pause every connector feeding ``dataset`` (FKS.java:375-448);
        returns the paused connector names."""
        paused = []
        for name, stream in self.streams.items():
            if stream.conn.dataset == dataset:
                stream.pause()
                paused.append(name)
        return paused

    def resume_dataset(self, dataset: str, trigger_available_now: bool = False) -> list[str]:
        resumed = []
        for name, stream in self.streams.items():
            if stream.conn.dataset == dataset and stream._paused:
                stream.resume(trigger_available_now=trigger_available_now)
                resumed.append(name)
        return resumed

    def restore_offsets(self, connector_name: str) -> None:
        """Point-in-time reset (A13): drop the connector's checkpoint so the
        next start re-reads per its read policy.  The reference swaps in an
        external offsets file (FKS.java:456-475); with Spark the checkpoint
        IS that file — removing it + read_policy controls the restart point."""
        stream = self.streams.get(connector_name)
        if stream is None:
            raise ConfigError(f"unknown connector {connector_name!r}")
        if stream.query is not None:
            raise ConfigError("stop the connector before restoring offsets")
        checkpoint = stream.conn.state_dir or f"{stream.store.path}/_checkpoint"
        shutil.rmtree(checkpoint, ignore_errors=True)

    def status(self) -> dict:
        out = {}
        for name, stream in self.streams.items():
            q = stream.query
            out[name] = {
                "active": q is not None and q.isActive,
                "paused": stream._paused,
                "metrics": dict(stream.metrics),
                "exception": (q.exception() if q is not None else None),
                # layout only (see QuadStore.stats): no connector property
                "store": stream.store.stats(),
                # never the raw properties: jaas strings / store passwords
                # must not leave the process via a status endpoint
                "kafka_properties": stream.conn.redacted_properties(),
            }
        return out
