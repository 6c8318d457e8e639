"""Connector configuration: the engine's KConnectorDesc equivalent.

The reference assembles connector descriptors from an RDF config graph
(KafkaConnectorAssembler.java:182-295) with typed getters, defaults, and
validation (KConnectorDesc.java:50-192).  We use a plain dataclass +
dict/JSON loader — same properties, same invariants, same env-interpolation
grammar (EnvVariables.java:39-115):

    env:NAME            -> value of NAME (error if unset)
    env:{NAME}          -> same
    env:{NAME:default}  -> value of NAME, or "default" if unset

Validated invariants (same sources):
- at least one topic                       (KConnectorDesc.java:108-115)
- DLQ topic must differ from input topics  (KConnectorDesc.java:116-119)
- batch sizes positive-or-default
  (KConnectorDesc.java:153-192, 325-328)
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


class ConfigError(ValueError):
    pass


_ENV_BRACED = re.compile(r"^env:\{([A-Za-z_][A-Za-z0-9_]*)(?::(.*))?\}$")
_ENV_BARE = re.compile(r"^env:([A-Za-z_][A-Za-z0-9_]*)$")


def interpolate_env(name: str, value):
    """Expand the reference's env-interpolation grammar in a config value.

    Mirrors EnvVariables.checkForEnvironmentVariableValue: values not
    starting with ``env:`` pass through; unset variables without a default
    are a configuration error naming the offending key.
    """
    if not isinstance(value, str) or not value.startswith("env:"):
        return value
    m = _ENV_BRACED.match(value)
    if m:
        var, default = m.group(1), m.group(2)
        got = os.environ.get(var)
        if got is not None:
            return got
        if default is not None:
            return default
        raise ConfigError(f"{name}: environment variable {var!r} is not set and no default given")
    m = _ENV_BARE.match(value)
    if m:
        var = m.group(1)
        got = os.environ.get(var)
        if got is None:
            raise ConfigError(f"{name}: environment variable {var!r} is not set")
        return got
    raise ConfigError(f"{name}: malformed env: reference {value!r}")


# defaults mirror SysJenaKafka.java:77,126
DEFAULT_BATCH_SIZE = 5000
DEFAULT_BATCH_BYTES = 50 * 1024 * 1024


@dataclass
class ConnectorConfig:
    name: str
    topics: list[str]
    dataset: str                      # quad-store path (the fk:fusekiServiceName analog)
    bootstrap_servers: str = ""       # empty = no Kafka (batch/file mode)
    state_dir: str = ""               # checkpoint dir = the offset state file analog
    read_policy: str = "sync"         # sync | replay | latest  (README.md:169-173)
    group_id: str = ""
    dlq_topic: str | None = None
    batch_size: int = DEFAULT_BATCH_SIZE
    batch_bytes: int = DEFAULT_BATCH_BYTES
    check_topics: bool = False        # A15 strict startup gate (fk:checkTopics)
    kafka_properties: dict[str, str] = field(default_factory=dict)  # fk:config (k v) pairs

    def __post_init__(self):
        # env interpolation on every string field (A19)
        for f in ("dataset", "bootstrap_servers", "state_dir", "read_policy", "group_id", "dlq_topic"):
            setattr(self, f, interpolate_env(f, getattr(self, f)))
        self.topics = [interpolate_env("topics", t) for t in self.topics]
        self.kafka_properties = {
            k: interpolate_env(f"kafka_properties.{k}", v) for k, v in self.kafka_properties.items()
        }
        # secured-cluster bundles (SASL/SSL/mTLS) fail fast here, not at
        # stream start (ref DockerTestSecureKafka.java:22 and friends run
        # e2e against secured clusters; see config/security.py)
        from .security import validate_kafka_security

        validate_kafka_security(self.kafka_properties, self.name)
        # invariants
        if not self.topics:
            raise ConfigError(f"connector {self.name!r}: at least one topic is required")
        if len(set(self.topics)) != len(self.topics):
            raise ConfigError(f"connector {self.name!r}: duplicate topics")
        if self.dlq_topic is not None and self.dlq_topic in self.topics:
            # KConnectorDesc.java:116-119 — DLQ must not loop back
            raise ConfigError(
                f"connector {self.name!r}: DLQ topic {self.dlq_topic!r} cannot be an input topic"
            )
        if not self.dataset:
            raise ConfigError(f"connector {self.name!r}: dataset is required")
        if self.read_policy not in ("sync", "replay", "latest"):
            raise ConfigError(
                f"connector {self.name!r}: read_policy must be sync|replay|latest, "
                f"got {self.read_policy!r}"
            )
        # validate-or-default numeric knobs (KConnectorDesc.java:153-192)
        if self.batch_size <= 0:
            self.batch_size = DEFAULT_BATCH_SIZE
        if self.batch_bytes <= 0:
            self.batch_bytes = DEFAULT_BATCH_BYTES
        if not self.group_id:
            self.group_id = f"jfk-spark-{self.name}"

    # ---------------------------------------------------------------- I/O
    @classmethod
    def from_dict(cls, d: dict) -> "ConnectorConfig":
        unknown = set(d) - set(cls.__dataclass_fields__)
        if unknown:
            raise ConfigError(f"unknown connector config keys: {sorted(unknown)}")
        return cls(**d)

    @classmethod
    def from_json_file(cls, path: str) -> list["ConnectorConfig"]:
        with open(path) as f:
            doc = json.load(f)
        items = doc["connectors"] if isinstance(doc, dict) else doc
        return [cls.from_dict(c) for c in items]

    def redacted_properties(self) -> dict:
        """``kafka_properties`` with secret values masked — the only form
        that may appear in ``Engine.status()``, logs, or error text."""
        from .security import redact_properties

        return redact_properties(self.kafka_properties)

    def starting_offsets(self) -> str:
        """Map the reference's read policy (FKS.java:105-114) to Spark's
        startingOffsets: replay -> earliest (re-read all), latest -> latest,
        sync -> checkpoint-resume (startingOffsets only applies on first
        start, so 'earliest' + existing checkpoint == stored offsets)."""
        return {"replay": "earliest", "sync": "earliest", "latest": "latest"}[self.read_policy]
