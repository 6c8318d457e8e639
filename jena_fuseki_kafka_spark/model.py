"""The quad data model.

Reference semantics (SURVEY.md §1.1): datasets are *sets* of RDF quads
(graph, subject, predicate, object); terms are IRIs, blank nodes, or
literals (lexical form + datatype IRI + optional language tag).  Insert
events rely on set semantics — duplicates and order don't matter for adds
(reference: FusekiSink.java:74-77 streams quads into a set-semantic store;
README.md:148-153 documents order-independence for adds).

Spark mapping: one flat DataFrame schema.  Subject/predicate/graph are
IRI-or-bnode and encoded as plain strings (bnodes carry the ``_:`` prefix,
IRIs are bare — the two sets are disjoint because IRIs cannot start with
``_:``).  Objects keep the full term shape in 4 columns, which lets
predicate/graph filters and object-value filters push into the parquet scan
(a single struct column would defeat per-field min/max stats in many parquet
readers).

A parsed event is an ordered list of patch-style operations, each an
``(op, *QUAD_COLS)`` tuple with op ``A`` or ``D``.  A plain RDF document payload parses to all-``A`` ops
(reference: RdfPayload dataset branch, FusekiSink.java:41-45); an RDF Patch
payload parses to its literal op sequence (A/D adds/deletes; TX/TC/TA
transaction markers are validated at parse time and folded away — see
ingest.projector).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Graph column value for the default graph (NULL would poison joins/grouping;
# the reference's DatasetGraph also models the default graph as a distinguished
# name, urn:x-arq:DefaultGraph in Jena).
DEFAULT_GRAPH = ""

KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LITERAL = "literal"

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"

QUAD_FIELDS = [
    ("graph", T.StringType()),
    ("subject", T.StringType()),
    ("predicate", T.StringType()),
    ("object_kind", T.StringType()),
    ("object_value", T.StringType()),
    ("object_datatype", T.StringType()),
    ("object_lang", T.StringType()),
]

QUAD_SCHEMA = T.StructType(
    [T.StructField(n, t, nullable=(n in ("object_datatype", "object_lang"))) for n, t in QUAD_FIELDS]
)

QUAD_COLS = [n for n, _ in QUAD_FIELDS]


class RdfParseError(ValueError):
    """Raised on malformed RDF payloads (reference: RdfPayloadException)."""

