"""RDF syntax parsers (pure Python, Arrow-batched when run inside Spark).

The reference delegates parsing to Apache Jena (any registered RDF syntax,
selected by the Kafka ``Content-Type`` header, defaulting to NQuads —
reference README.md:8-14, FKLib.java:55-69).  This container has no JVM RDF
library, so we implement the formats the reference's own tests exercise
plus the ones real pipelines post: NTriples/NQuads, Turtle, TriG, JSON-LD,
RDF/XML, and RDF Patch.  Parsers return ordered op lists of
``(op, *model.QUAD_COLS)`` tuples, op ``A`` or ``D``.

At 100 TB these parsers run inside ``mapInPandas`` so the data never
collects to the driver; swapping in a faster tokenizer (or a JVM-side
parser via a Scala UDF) changes one function, not the pipeline.
"""

from .content_types import CONTENT_TYPE_PARSERS, parse_payload
from .jsonld import parse_jsonld
from .nquads import parse_nquads
from .patch import parse_patch
from .rdfxml import parse_rdfxml
from .turtle import parse_turtle

__all__ = [
    "CONTENT_TYPE_PARSERS",
    "parse_payload",
    "parse_jsonld",
    "parse_nquads",
    "parse_patch",
    "parse_rdfxml",
    "parse_turtle",
]
