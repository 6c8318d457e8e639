"""RDF serializers: quad rows -> N-Quads / Turtle / TriG / JSON-LD /
RDF-XML text, SELECT rows -> SPARQL results JSON / XML / CSV / TSV.
The write-side complement of the parsers, used by the HTTP facade's
Graph Store Protocol GET and query endpoints with Accept-header
negotiation (the reference serves any registered Jena syntax through
Fuseki; the grammars are the public W3C specs).  Every serializer
round-trips through this package's own parser for the same syntax.

Serializers are CHUNK ITERATORS (``iter_*``): they consume an iterator
of rows and yield text chunks, so the HTTP layer can stream a
store-sized result with chunked transfer encoding instead of
``collect()``-ing it onto the driver.  The HTTP layer feeds them rows it
reads back from the result's parquet files (``server._ResultBody``):
quad rows are read as ``r.subject``, SELECT rows as ``row[var]["kind"]``.
Subject/graph grouping is over *consecutive* rows — callers sort the
DataFrame by (graph, subject) for compact output; unsorted input still
serializes valid (just less compact) RDF.
"""

from __future__ import annotations

import json as _json
import re as _re

from ..model import DEFAULT_GRAPH, KIND_BNODE, KIND_IRI, KIND_LITERAL, XSD_STRING

_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\b": "\\b",
    "\f": "\\f",
}


def escape_literal(s: str) -> str:
    return "".join(_ESCAPES.get(c, c) for c in s)


def _term_nq(kind: str, value: str, datatype: str | None, lang: str | None) -> str:
    if kind == KIND_IRI:
        return f"<{value}>"
    if kind == KIND_BNODE:
        return value if value.startswith("_:") else f"_:{value}"
    lit = f'"{escape_literal(value)}"'
    if lang:
        return f"{lit}@{lang}"
    if datatype and datatype != XSD_STRING:
        return f"{lit}^^<{datatype}>"
    return lit


def _runs(rows, keyfn):
    """Group an iterator into (key, [rows]) runs of CONSECUTIVE equal keys.
    Memory is bounded by the largest single run (one subject / one graph),
    never the whole stream."""
    run_key, run = None, []
    for r in rows:
        k = keyfn(r)
        if run and k != run_key:
            yield run_key, run
            run = []
        run_key = k
        run.append(r)
    if run:
        yield run_key, run


# ------------------------------------------------------------------ N-Quads
def iter_nquads(rows):
    """Quad rows (QUAD_COLS attribute order) -> N-Quads lines; rows in the
    default graph come out as triples (N-Quads allows both).  One chunk
    per row: streams with O(1) memory."""
    for r in rows:
        subj = f"<{r.subject}>" if not r.subject.startswith("_:") else r.subject
        term = _term_nq(r.object_kind, r.object_value, r.object_datatype, r.object_lang)
        if r.graph and r.graph != DEFAULT_GRAPH:
            yield f"{subj} <{r.predicate}> {term} <{r.graph}> .\n"
        else:
            yield f"{subj} <{r.predicate}> {term} .\n"


# ------------------------------------------------------------------ Turtle
def iter_turtle(rows):
    """Quad rows -> Turtle (subject-grouped ``;`` form).  Turtle cannot
    express named graphs, so the graph column is ignored — callers
    serialize a single graph's contents (the GSP GET case) or use TriG.
    Consecutive same-subject rows share one block."""
    for subj_iri, run in _runs(rows, lambda r: r.subject):
        subj = subj_iri if subj_iri.startswith("_:") else f"<{subj_iri}>"
        pairs = " ;\n    ".join(
            f"<{r.predicate}> "
            + _term_nq(r.object_kind, r.object_value, r.object_datatype, r.object_lang)
            for r in run
        )
        yield f"{subj} {pairs} .\n"


# ------------------------------------------------------------------ TriG
def iter_trig(rows):
    """Quad rows -> TriG: default-graph triples bare, named graphs as
    ``<g> { ... }`` blocks.  Consecutive same-graph rows share a block."""
    for g, run in _runs(rows, lambda r: r.graph or DEFAULT_GRAPH):
        if g == DEFAULT_GRAPH:
            yield from iter_turtle(run)
        else:
            yield f"<{g}> {{\n"
            for chunk in iter_turtle(run):
                yield "".join(f"  {line}\n" for line in chunk.splitlines())
            yield "}\n"


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


# ------------------------------------------------------------------ JSON-LD
def _jsonld_node(subject: str, run) -> dict:
    node: dict = {"@id": subject}
    for r in run:
        if r.predicate == _RDF_TYPE and r.object_kind == KIND_IRI:
            node.setdefault("@type", []).append(r.object_value)
            continue
        if r.object_kind == KIND_IRI or r.object_kind == KIND_BNODE:
            v: dict = {"@id": r.object_value}
        else:
            v = {"@value": r.object_value}
            if r.object_lang:
                v["@language"] = r.object_lang
            elif r.object_datatype and r.object_datatype != XSD_STRING:
                v["@type"] = r.object_datatype
        node.setdefault(r.predicate, []).append(v)
    return node


def iter_jsonld(rows):
    """Quad rows -> expanded-form JSON-LD: a top-level ``@graph`` of node
    objects, named graphs as ``{"@id": g, "@graph": [...]}``.  Streams one
    node object per chunk; consecutive (graph, subject) rows share a node.
    Round-trips through ``parse_jsonld``."""
    yield '{"@graph": ['
    first = True
    for g, graph_run in _runs(rows, lambda r: r.graph or DEFAULT_GRAPH):
        if g == DEFAULT_GRAPH:
            for s, run in _runs(graph_run, lambda r: r.subject):
                yield ("" if first else ",") + "\n" + _json.dumps(_jsonld_node(s, run))
                first = False
        else:
            yield ("" if first else ",") + "\n" + '{"@id": ' + _json.dumps(g) + ', "@graph": ['
            gfirst = True
            for s, run in _runs(graph_run, lambda r: r.subject):
                yield ("" if gfirst else ",") + "\n" + _json.dumps(_jsonld_node(s, run))
                gfirst = False
            yield "\n]}"
            first = False
    yield "\n]}\n"


# ------------------------------------------------------------------ RDF/XML
_NCNAME_TAIL = _re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")


def iter_rdfxml(rows):
    """Quad rows -> RDF/XML (graph column ignored, like Turtle).  Predicate
    IRIs split into namespace + NCName local part; each ``rdf:Description``
    declares the ``xmlns:nsN`` prefixes it uses LOCALLY, so blocks stream
    without a buffered whole-document namespace table.  Round-trips
    through ``parse_rdfxml`` (ElementTree resolves per-element xmlns)."""
    from xml.sax.saxutils import escape, quoteattr

    def split_iri(iri: str) -> tuple[str, str]:
        m = _NCNAME_TAIL.search(iri)
        if m is None or m.start() == 0:
            raise ValueError(f"cannot derive an XML name from predicate <{iri}>")
        return iri[: m.start()], m.group(0)

    yield (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
    )
    for s, run in _runs(rows, lambda r: r.subject):
        namespaces: dict[str, str] = {}

        def prefix_of(ns: str) -> str:
            if ns not in namespaces:
                namespaces[ns] = f"ns{len(namespaces) + 1}"
            return namespaces[ns]

        if s.startswith("_:"):
            ident = f"rdf:nodeID={quoteattr(s[2:])}"
        else:
            ident = f"rdf:about={quoteattr(s)}"
        props: list[str] = []
        for r in run:
            ns, local = split_iri(r.predicate)
            tag = f"{prefix_of(ns)}:{local}"
            if r.object_kind == KIND_IRI:
                props.append(f"    <{tag} rdf:resource={quoteattr(r.object_value)}/>")
            elif r.object_kind == KIND_BNODE:
                v = r.object_value
                props.append(
                    f"    <{tag} rdf:nodeID={quoteattr(v[2:] if v.startswith('_:') else v)}/>"
                )
            else:
                attrs = ""
                if r.object_lang:
                    attrs = f" xml:lang={quoteattr(r.object_lang)}"
                elif r.object_datatype and r.object_datatype != XSD_STRING:
                    attrs = f" rdf:datatype={quoteattr(r.object_datatype)}"
                props.append(f"    <{tag}{attrs}>{escape(r.object_value)}</{tag}>")
        xmlns = "".join(
            f' xmlns:{p}="{escape(ns)}"' for ns, p in namespaces.items()
        )
        yield (
            f"  <rdf:Description {ident}{xmlns}>\n"
            + "\n".join(props)
            + "\n  </rdf:Description>\n"
        )
    yield "</rdf:RDF>\n"


# ------------------------------------------------------------ negotiation
# Accept-header negotiation for graph payloads: media type -> (chunk
# iterator, response Content-Type, whether the syntax can express named
# graphs).  N-Quads is the default, as on the parse side.
# Triple-only formats (Turtle, RDF/XML, N-Triples) silently flatten a
# multi-graph dataset — the HTTP layer refuses those for whole-dataset
# reads (406) rather than lose graph membership without any signal.
GRAPH_STREAMERS = {
    "application/n-quads": (iter_nquads, "application/n-quads", True),
    "application/n-triples": (iter_nquads, "application/n-quads", True),
    "text/turtle": (iter_turtle, "text/turtle", False),
    "application/turtle": (iter_turtle, "text/turtle", False),
    "application/trig": (iter_trig, "application/trig", True),
    "application/ld+json": (iter_jsonld, "application/ld+json", True),
    "application/rdf+xml": (iter_rdfxml, "application/rdf+xml", False),
}

_WILDCARDS = ("*/*", "application/*", "text/*")


def _accept_preferences(accept: str) -> list[tuple[float, int, str]]:
    """Parse an Accept header into (q, listing_order, media_type), sorted
    highest q first, ties broken by listing order (RFC 9110 §12.5.1)."""
    prefs = []
    for i, part in enumerate(accept.split(",")):
        pieces = part.split(";")
        mt = pieces[0].strip().lower()
        if not mt:
            continue
        q = 1.0
        for param in pieces[1:]:
            k, _, v = param.partition("=")
            if k.strip().lower() == "q":
                try:
                    q = float(v.strip())
                except ValueError:
                    q = 0.0
        prefs.append((q, i, mt))
    return sorted(prefs, key=lambda p: (-p[0], p[1]))


def _negotiate(accept: str | None, registry: dict, default_mt: str) -> str:
    """Pick the supported media type with the highest q-value; wildcards
    select the default.  No supported type at q>0 -> default."""
    if not accept:
        return default_mt
    for q, _, mt in _accept_preferences(accept):
        if q <= 0:
            continue
        if mt in registry:
            return mt
        if mt in _WILDCARDS:
            return default_mt
    return default_mt


def negotiate_graph_streamer(accept: str | None):
    """Accept header -> (chunk_iterator_fn, content_type, quad_capable);
    highest q-weighted supported media type wins, wildcards / nothing
    usable -> N-Quads."""
    return GRAPH_STREAMERS[_negotiate(accept, GRAPH_STREAMERS, "application/n-quads")]


def negotiate_dataset_streamer(accept: str | None):
    """Accept negotiation for WHOLE-DATASET reads, where only quad-capable
    syntaxes can represent named graphs.  Triple-only preferences (Turtle,
    RDF/XML) are skipped rather than honored-then-406ed: per RFC 9110 the
    server chooses among representations it can actually provide, and
    Fuseki likewise serves a quad format for dataset GETs.  A ``*/*`` or
    ``application/*`` wildcard selects TriG (Fuseki's dataset default);
    no Accept header at all keeps the N-Quads default (matching the
    parse-side default).  Returns (stream_fn, content_type), or None when
    the client insists on exclusively triple-only formats (caller answers
    406)."""
    if not accept:
        s, ct, _ = GRAPH_STREAMERS["application/n-quads"]
        return s, ct
    for q, _, mt in _accept_preferences(accept):
        if q <= 0:
            continue
        entry = GRAPH_STREAMERS.get(mt)
        if entry is not None and entry[2]:
            return entry[0], entry[1]
        if mt in ("*/*", "application/*"):  # no quad-capable text/* exists
            s, ct, _ = GRAPH_STREAMERS["application/trig"]
            return s, ct
    return None


# ------------------------------------------------------------------ SELECT
def _binding_json(term) -> dict:
    """Term struct row (kind/value/datatype/lang) -> SPARQL JSON binding."""
    kind = term["kind"]
    if kind == KIND_IRI:
        return {"type": "uri", "value": term["value"]}
    if kind == KIND_BNODE:
        v = term["value"]
        return {"type": "bnode", "value": v[2:] if v.startswith("_:") else v}
    b = {"type": "literal", "value": term["value"]}
    if term["lang"]:
        b["xml:lang"] = term["lang"]
    elif term["datatype"] and term["datatype"] != XSD_STRING:
        b["datatype"] = term["datatype"]
    return b


def iter_select_json(vars_, rows):
    """SELECT result (the variable names, and rows holding one term
    struct per var) -> SPARQL 1.1 Query Results JSON, one binding-object
    chunk per row."""
    yield '{"head": {"vars": ' + _json.dumps(vars_) + '}, "results": {"bindings": ['
    first = True
    for row in rows:
        b = {}
        for v in vars_:
            term = row[v]
            if term is not None and term["kind"] is not None:
                b[v] = _binding_json(term)
        yield ("" if first else ",") + "\n" + _json.dumps(b)
        first = False
    yield "\n]}}\n"


def ask_to_json(value: bool) -> dict:
    return {"head": {}, "boolean": bool(value)}


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def iter_select_xml(vars_, rows):
    """SELECT result -> SPARQL Query Results XML (W3C REC, Fuseki's
    application/sparql-results+xml), one <result> chunk per row."""
    yield "\n".join(
        [
            '<?xml version="1.0"?>',
            '<sparql xmlns="http://www.w3.org/2005/sparql-results#">',
            "  <head>",
            *(f'    <variable name="{_xml_escape(v)}"/>' for v in vars_),
            "  </head>",
            "  <results>",
            "",
        ]
    )
    for row in rows:
        out = ["    <result>"]
        for v in vars_:
            term = row[v]
            if term is None or term["kind"] is None:
                continue
            kind, value = term["kind"], term["value"]
            if kind == KIND_IRI:
                body = f"<uri>{_xml_escape(value)}</uri>"
            elif kind == KIND_BNODE:
                label = value[2:] if value.startswith("_:") else value
                body = f"<bnode>{_xml_escape(label)}</bnode>"
            else:
                attrs = ""
                if term["lang"]:
                    attrs = f' xml:lang="{_xml_escape(term["lang"])}"'
                elif term["datatype"] and term["datatype"] != XSD_STRING:
                    attrs = f' datatype="{_xml_escape(term["datatype"])}"'
                body = f"<literal{attrs}>{_xml_escape(value)}</literal>"
            out.append(f'      <binding name="{_xml_escape(v)}">{body}</binding>')
        out.append("    </result>")
        yield "\n".join(out) + "\n"
    yield "  </results>\n</sparql>\n"


def ask_to_xml(value: bool) -> str:
    return (
        '<?xml version="1.0"?>\n'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">\n'
        "  <head/>\n"
        f"  <boolean>{'true' if value else 'false'}</boolean>\n"
        "</sparql>\n"
    )


def _csv_field(s: str) -> str:
    if any(c in s for c in ',"\n\r'):
        return '"' + s.replace('"', '""') + '"'
    return s


def iter_select_csv(vars_, rows):
    """SPARQL 1.1 CSV results: header without '?', plain lexical forms
    (IRIs bare, bnodes _:label), RFC4180 quoting, CRLF rows."""
    yield ",".join(_csv_field(v) for v in vars_) + "\r\n"
    for row in rows:
        fields = []
        for v in vars_:
            term = row[v]
            if term is None or term["kind"] is None:
                fields.append("")
                continue
            value = term["value"]
            if term["kind"] == KIND_BNODE and not value.startswith("_:"):
                value = f"_:{value}"
            fields.append(_csv_field(value))
        yield ",".join(fields) + "\r\n"


def iter_select_tsv(vars_, rows):
    """SPARQL 1.1 TSV results: header keeps '?', terms in SPARQL syntax
    (IRIs <>, literals quoted with lang/datatype tags)."""
    yield "\t".join(f"?{v}" for v in vars_) + "\n"
    for row in rows:
        fields = []
        for v in vars_:
            term = row[v]
            if term is None or term["kind"] is None:
                fields.append("")
            else:
                fields.append(
                    _term_nq(term["kind"], term["value"], term["datatype"], term["lang"])
                )
        yield "\t".join(fields) + "\n"


def ask_to_csv(value: bool) -> str:
    # Fuseki's CSV/TSV boolean form: one header-less line
    return ("true" if value else "false") + "\r\n"


def ask_to_tsv(value: bool) -> str:
    return ("true" if value else "false") + "\n"


RESULTS_STREAMERS = {
    # content-type -> (iter_select_fn(vars, rows) -> chunks, ask_fn(bool) -> str)
    "application/sparql-results+json": (
        iter_select_json,
        lambda b: _json.dumps(ask_to_json(b)),
    ),
    "application/sparql-results+xml": (iter_select_xml, ask_to_xml),
    "text/csv": (iter_select_csv, ask_to_csv),
    "text/tab-separated-values": (iter_select_tsv, ask_to_tsv),
}

_RESULTS_DEFAULT = "application/sparql-results+json"


def negotiate_results_streamer(accept: str | None):
    """Accept header -> ((iter_select_fn, ask_fn), content-type); highest
    q-weighted supported media type wins, wildcards / nothing -> JSON."""
    mt = _negotiate(accept, RESULTS_STREAMERS, _RESULTS_DEFAULT)
    return RESULTS_STREAMERS[mt], mt
