"""Parser unit tests, modeled on the reference's fixture files
(jena-fuseki-kafka-module/src/test/files/: data.ttl, data.nq, patch1.rdfp,
malformed.ttl, malformed.rdfp)."""

import pytest

from jena_fuseki_kafka_spark.model import (
    DEFAULT_GRAPH,
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    RdfParseError,
    XSD_INTEGER,
)
from jena_fuseki_kafka_spark.rdf import parse_nquads, parse_patch, parse_payload, parse_turtle
from jena_fuseki_kafka_spark.rdf.turtle import RDF_TYPE, parse_trig


class TestNQuads:
    def test_ntriples_literal(self):
        # mirrors reference data.nq
        ops = parse_nquads('<http://example/sq> <http://example/pq> "abc" .')
        assert ops == [("A", DEFAULT_GRAPH, "http://example/sq", "http://example/pq", KIND_LITERAL, "abc", None, None)]

    def test_quad_with_graph(self):
        ops = parse_nquads("<http://e/s> <http://e/p> <http://e/o> <http://e/g> .")
        assert ops[0][1] == "http://e/g"
        assert ops[0][4] == KIND_IRI

    def test_typed_and_lang_literals(self):
        text = (
            '<http://e/s> <http://e/p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
            '<http://e/s> <http://e/p> "hi"@en .'
        )
        ops = parse_nquads(text)
        assert ops[0][6] == XSD_INTEGER
        assert ops[1][7] == "en"

    def test_bnode_subject(self):
        ops = parse_nquads("_:b0 <http://e/p> _:b1 .")
        assert ops[0][2] == "_:b0"
        assert ops[0][4] == KIND_BNODE

    def test_escapes(self):
        ops = parse_nquads('<http://e/s> <http://e/p> "a\\"b\\nc\\u0041" .')
        assert ops[0][5] == 'a"b\ncA'

    def test_comments_and_blanks(self):
        ops = parse_nquads("# comment\n\n<http://e/s> <http://e/p> <http://e/o> . # trailing\n")
        assert len(ops) == 1

    def test_malformed_raises(self):
        with pytest.raises(RdfParseError):
            parse_nquads("<http://e/s> <http://e/p> .")
        with pytest.raises(RdfParseError):
            parse_nquads("not rdf at all")
        with pytest.raises(RdfParseError):
            parse_nquads('<http://e/s> <http://e/p> "x"')  # missing dot


class TestTurtle:
    def test_reference_fixture_shape(self):
        # mirrors reference data.ttl
        ops = parse_turtle("PREFIX : <http://example/>\n\n:s1 :p :o .")
        assert ops == [("A", DEFAULT_GRAPH, "http://example/s1", "http://example/p", KIND_IRI, "http://example/o", None, None)]

    def test_at_prefix_and_semicolon_comma(self):
        text = """@prefix ex: <http://ex.org/> .
        ex:s a ex:T ; ex:p ex:o1 , "lit" ; ex:q 5 .
        """
        ops = parse_turtle(text)
        assert ("A", "", "http://ex.org/s", RDF_TYPE, KIND_IRI, "http://ex.org/T", None, None) in ops
        preds = [(o[3], o[5]) for o in ops]
        assert ("http://ex.org/p", "http://ex.org/o1") in preds
        assert ("http://ex.org/p", "lit") in preds
        assert ("http://ex.org/q", "5") in preds
        q = [o for o in ops if o[3] == "http://ex.org/q"][0]
        assert q[6] == XSD_INTEGER

    def test_numeric_and_boolean_shorthand(self):
        ops = parse_turtle("PREFIX : <http://e/>\n:s :p 3.14 . :s :q true .")
        assert ops[0][6].endswith("decimal")
        assert ops[1][6].endswith("boolean")

    def test_anonymous_bnode(self):
        ops = parse_turtle("PREFIX : <http://e/>\n:s :p [ :q :o ] .")
        assert len(ops) == 2
        bn = [o for o in ops if o[3] == "http://e/p"][0][5]
        assert bn.startswith("_:")
        inner = [o for o in ops if o[2] == bn]
        assert inner and inner[0][3] == "http://e/q"

    def test_long_string_and_lang(self):
        ops = parse_turtle('PREFIX : <http://e/>\n:s :p """multi\nline""" ; :q "fr"@fr .')
        assert ops[0][5] == "multi\nline"
        assert ops[1][7] == "fr"

    def test_malformed_raises(self):
        with pytest.raises(RdfParseError):
            parse_turtle(":s :p :o .")  # unknown prefix
        with pytest.raises(RdfParseError):
            parse_turtle("PREFIX : <http://e/>\n:s :p")  # no terminator

    def test_trig_graph_block(self):
        ops = parse_trig('PREFIX : <http://e/>\nGRAPH :g { :s :p :o . :s :p :o2 . }\n:t :q :u .')
        graphs = {o[1] for o in ops}
        assert graphs == {"http://e/g", DEFAULT_GRAPH}
        assert len(ops) == 3


class TestPatch:
    REFERENCE_PATCH = """H id <uuid:73323f12-4011-4a3a-add3-5754baf3fda9> .
TX .
A <http://example/s> <http://example/p> "two" <http://example/patch> .
A <http://example/s> <http://example/p> "one" <http://example/patch> .
A <http://example/s> <http://example/p> "three" <http://example/patch> .
A <http://example/s> <http://example/p> "four" <http://example/patch> .
TC .
"""

    def test_reference_patch1(self):
        # mirrors reference patch1.rdfp exactly
        ops, committed = parse_patch(self.REFERENCE_PATCH)
        assert committed is True
        assert len(ops) == 4
        assert all(o[0] == "A" and o[1] == "http://example/patch" for o in ops)
        assert [o[5] for o in ops] == ["two", "one", "three", "four"]

    def test_delete_op(self):
        ops, _ = parse_patch('A <http://e/s> <http://e/p> "x" .\nD <http://e/s> <http://e/p> "x" .')
        assert [o[0] for o in ops] == ["A", "D"]

    def test_aborted_segment_dropped(self):
        text = 'TX .\nA <http://e/s> <http://e/p> "x" .\nTA .\nTX .\nA <http://e/s> <http://e/p> "y" .\nTC .'
        ops, committed = parse_patch(text)
        assert [o[5] for o in ops] == ["y"]
        assert committed

    def test_invalid_marker_sequences(self):
        # mirrors TestFusekiProjector malformed-patch cases (:235-269)
        with pytest.raises(RdfParseError):
            parse_patch("TC .")  # TC without TX
        with pytest.raises(RdfParseError):
            parse_patch("TX .\nTX .")  # nested
        with pytest.raises(RdfParseError):
            parse_patch('TX .\nA <http://e/s> <http://e/p> "x" .')  # unterminated
        with pytest.raises(RdfParseError):
            parse_patch('TX .\nTC .\nA <http://e/s> <http://e/p> "x" .')  # op after close

    def test_prefix_ops_accepted(self):
        ops, _ = parse_patch('PA "ex" <http://e/> .\nA <http://e/s> <http://e/p> "x" .')
        assert len(ops) == 1


class TestTurtleCollections:
    def test_collection_object(self):
        ops = parse_turtle(
            "PREFIX : <http://e/>\n:s :p (\"a\" \"b\") ."
        )
        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        firsts = [o for o in ops if o[3] == rdf + "first"]
        rests = [o for o in ops if o[3] == rdf + "rest"]
        assert [f[5] for f in firsts] == ["a", "b"]
        assert rests[-1][5] == rdf + "nil"
        head = [o for o in ops if o[3] == "http://e/p"][0]
        assert head[4] == "bnode" and head[5] == firsts[0][2]

    def test_empty_collection_is_nil(self):
        ops = parse_turtle("PREFIX : <http://e/>\n:s :p () .")
        assert ops[0][4] == "iri"
        assert ops[0][5].endswith("#nil")

    def test_collection_subject(self):
        ops = parse_turtle('PREFIX : <http://e/>\n("x") :p :o .')
        preds = {o[3] for o in ops}
        assert "http://e/p" in preds and any(p.endswith("#first") for p in preds)


class TestJsonLd:
    def test_basic_node_object(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        doc = """{
          "@context": {"ex": "http://example/", "name": "http://example/name"},
          "@id": "ex:alice",
          "@type": "ex:Person",
          "name": "Alice"
        }"""
        ops = parse_jsonld(doc)
        got = {(o[2], o[3], o[4], o[5]) for o in ops}
        assert ("http://example/alice",
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "iri", "http://example/Person") in got
        assert ("http://example/alice", "http://example/name", "literal", "Alice") in got

    def test_typed_and_language_values(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        doc = """{
          "@context": {"ex": "http://example/"},
          "@id": "ex:s",
          "ex:age": 42,
          "ex:score": 1.5,
          "ex:active": true,
          "ex:label": {"@value": "chat", "@language": "fr"},
          "ex:when": {"@value": "2026-01-01", "@type": "http://www.w3.org/2001/XMLSchema#date"}
        }"""
        ops = {(o[3].rsplit("/", 1)[1], o[5], o[6], o[7]) for o in parse_jsonld(doc)}
        assert ("age", "42", "http://www.w3.org/2001/XMLSchema#integer", None) in ops
        assert ("active", "true", "http://www.w3.org/2001/XMLSchema#boolean", None) in ops
        assert ("label", "chat", None, "fr") in ops
        assert ("when", "2026-01-01", "http://www.w3.org/2001/XMLSchema#date", None) in ops

    def test_id_coercion_and_nesting(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        doc = """{
          "@context": {
            "ex": "http://example/",
            "knows": {"@id": "http://example/knows", "@type": "@id"}
          },
          "@id": "ex:a",
          "knows": "ex:b",
          "ex:child": {"@id": "ex:c", "ex:name": "C"}
        }"""
        ops = parse_jsonld(doc)
        got = {(o[2], o[3], o[4], o[5]) for o in ops}
        assert ("http://example/a", "http://example/knows", "iri", "http://example/b") in got
        assert ("http://example/a", "http://example/child", "iri", "http://example/c") in got
        assert ("http://example/c", "http://example/name", "literal", "C") in got

    def test_top_level_and_named_graph(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        doc = """{
          "@context": {"ex": "http://example/"},
          "@graph": [
            {"@id": "ex:s1", "ex:p": "v1"},
            {"@id": "ex:g", "@graph": [{"@id": "ex:s2", "ex:p": "v2"}]}
          ]
        }"""
        ops = parse_jsonld(doc)
        by_graph = {(o[1], o[2]) for o in ops}
        assert ("", "http://example/s1") in by_graph
        assert ("http://example/g", "http://example/s2") in by_graph

    def test_bnodes_and_vocab(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        doc = """{
          "@context": {"@vocab": "http://v/"},
          "name": "anon",
          "ref": {"@id": "_:b7", "name": "labeled"}
        }"""
        ops = parse_jsonld(doc)
        anon = [o for o in ops if o[3] == "http://v/name" and o[5] == "anon"]
        assert anon and anon[0][2].startswith("_:")
        ref = [o for o in ops if o[3] == "http://v/ref"]
        assert ref and ref[0][4] == "bnode" and ref[0][5] == "_:b7"

    def test_errors(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld

        with pytest.raises(RdfParseError):
            parse_jsonld("{not json")
        with pytest.raises(RdfParseError):
            parse_jsonld('{"@context": "http://remote/ctx", "@id": "http://e/s"}')
        with pytest.raises(RdfParseError):
            parse_jsonld('{"@id": "http://e/s", "http://e/p": {"@list": [1, 2]}}')


class TestRdfXml:
    def test_description_and_typed_node(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                          xmlns:ex="http://example/">
          <rdf:Description rdf:about="http://example/s">
            <ex:name>Alice</ex:name>
            <ex:knows rdf:resource="http://example/o"/>
          </rdf:Description>
          <ex:Person rdf:about="http://example/p1"/>
        </rdf:RDF>"""
        ops = parse_rdfxml(doc)
        got = {(o[2], o[3], o[4], o[5]) for o in ops}
        assert ("http://example/s", "http://example/name", "literal", "Alice") in got
        assert ("http://example/s", "http://example/knows", "iri", "http://example/o") in got
        assert ("http://example/p1",
                "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "iri", "http://example/Person") in got

    def test_datatype_lang_and_nesting(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                          xmlns:ex="http://example/" xml:lang="en">
          <rdf:Description rdf:about="http://example/s">
            <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:age>
            <ex:label>hello</ex:label>
            <ex:label xml:lang="fr">bonjour</ex:label>
            <ex:child>
              <rdf:Description rdf:about="http://example/c">
                <ex:name>C</ex:name>
              </rdf:Description>
            </ex:child>
          </rdf:Description>
        </rdf:RDF>"""
        ops = parse_rdfxml(doc)
        got = {(o[3].rsplit("/", 1)[1], o[5], o[6], o[7]) for o in ops}
        assert ("age", "42", "http://www.w3.org/2001/XMLSchema#integer", None) in got
        assert ("label", "hello", None, "en") in got  # inherited xml:lang
        assert ("label", "bonjour", None, "fr") in got
        child = [o for o in ops if o[3].endswith("/child")]
        assert child and child[0][4] == "iri" and child[0][5] == "http://example/c"
        assert ("name", "C", None, "en") in got

    def test_node_ids_parse_type_and_li(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                          xmlns:ex="http://example/">
          <rdf:Description rdf:nodeID="n1">
            <ex:addr rdf:parseType="Resource">
              <ex:city>Berlin</ex:city>
            </ex:addr>
            <rdf:li>first</rdf:li>
            <rdf:li>second</rdf:li>
          </rdf:Description>
        </rdf:RDF>"""
        ops = parse_rdfxml(doc)
        subj = {o[2] for o in ops}
        assert "_:n1" in subj
        addr = [o for o in ops if o[3].endswith("/addr")][0]
        assert addr[4] == "bnode"
        city = [o for o in ops if o[3].endswith("/city")][0]
        assert city[2] == addr[5] and city[5] == "Berlin"
        lis = {o[3] for o in ops if "_" in o[3].rsplit("#", 1)[-1]}
        assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#_1" in lis
        assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#_2" in lis

    def test_property_attributes(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                          xmlns:ex="http://example/">
          <ex:Thing rdf:about="http://example/t" ex:name="shorthand"/>
        </rdf:RDF>"""
        got = {(o[3], o[4], o[5]) for o in parse_rdfxml(doc)}
        assert ("http://example/name", "literal", "shorthand") in got

    def test_errors(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml

        with pytest.raises(RdfParseError):
            parse_rdfxml("<unclosed")
        with pytest.raises(RdfParseError):
            parse_rdfxml(
                '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                ' xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/s">'
                '<ex:p rdf:parseType="Collection"/></rdf:Description></rdf:RDF>'
            )


class TestSerializerRoundTrips:
    """Every graph serializer must round-trip through this package's own
    parser for the same syntax (the Accept-negotiation contract)."""

    ROWS = [
        # (graph, subject, predicate, object_kind, object_value, dt, lang)
        ("", "http://e/s1", "http://e/p", "iri", "http://e/o1", None, None),
        ("", "http://e/s1", "http://e/name", "literal", 'say "hi"\n', None, None),
        ("", "http://e/s1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "iri", "http://e/Thing", None, None),
        ("", "http://e/s2", "http://e/age", "literal", "30",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("", "http://e/s2", "http://e/label", "literal", "bonjour", None, "fr"),
        ("", "_:b1", "http://e/p", "bnode", "_:b2", None, None),
    ]
    NAMED = ROWS + [
        ("http://e/g1", "http://e/s3", "http://e/p", "literal", "in-g1", None, None),
    ]

    def _rows(self, data):
        import collections

        R = collections.namedtuple(
            "R", "graph subject predicate object_kind object_value object_datatype object_lang"
        )
        return [R(*r) for r in data]

    def _key(self, ops):
        return sorted((g, s, p, ok, ov, dt or None, lang or None) for _, g, s, p, ok, ov, dt, lang in ops)

    def _expected(self, data, with_graph=False):
        return sorted(
            ((g if with_graph else ""), s, p, ok, ov, dt, lang) for g, s, p, ok, ov, dt, lang in data
        )

    def test_turtle_roundtrip(self):
        from jena_fuseki_kafka_spark.rdf.serialize import iter_turtle

        text = "".join(iter_turtle(self._rows(self.ROWS)))
        assert self._key(parse_turtle(text)) == self._expected(self.ROWS)

    def test_trig_roundtrip_preserves_graphs(self):
        from jena_fuseki_kafka_spark.rdf import parse_payload
        from jena_fuseki_kafka_spark.rdf.serialize import iter_trig

        text = "".join(iter_trig(self._rows(self.NAMED)))
        ops = parse_payload(text.encode(), "application/trig")
        assert self._key(ops) == self._expected(self.NAMED, with_graph=True)

    def test_jsonld_roundtrip_preserves_graphs(self):
        from jena_fuseki_kafka_spark.rdf import parse_jsonld
        from jena_fuseki_kafka_spark.rdf.serialize import iter_jsonld

        text = "".join(iter_jsonld(self._rows(self.NAMED)))
        assert self._key(parse_jsonld(text)) == self._expected(self.NAMED, with_graph=True)

    def test_rdfxml_roundtrip(self):
        from jena_fuseki_kafka_spark.rdf import parse_rdfxml
        from jena_fuseki_kafka_spark.rdf.serialize import iter_rdfxml

        text = "".join(iter_rdfxml(self._rows(self.ROWS)))
        assert self._key(parse_rdfxml(text)) == self._expected(self.ROWS)

    def test_negotiation(self):
        from jena_fuseki_kafka_spark.rdf.serialize import (
            iter_jsonld,
            iter_nquads,
            iter_turtle,
            negotiate_graph_streamer,
        )

        def pick(accept):
            return negotiate_graph_streamer(accept)[0]

        assert pick(None) is iter_nquads
        assert pick("*/*") is iter_nquads
        assert pick("text/turtle") is iter_turtle
        # q-values rank (RFC 9110 12.5.1): implicit q=1.0 beats q=0.9
        # regardless of listing order
        assert pick("application/ld+json;q=0.9, text/turtle") is iter_turtle
        assert pick("text/turtle;q=0.1, application/ld+json;q=0.9") is iter_jsonld
        # ties break by listing order
        assert pick("application/ld+json;q=0.5, text/turtle;q=0.5") is iter_jsonld
        # q=0 means "never" — fall through to the next acceptable type
        assert pick("text/turtle;q=0, application/ld+json") is iter_jsonld
        assert pick("application/weird") is iter_nquads


class TestContentTypeDispatch:
    def test_default_is_nquads(self):
        ops = parse_payload(b'<http://e/s> <http://e/p> "v" .', None)
        assert len(ops) == 1

    def test_turtle_by_header(self):
        ops = parse_payload(b"PREFIX : <http://example/>\n:s1 :p :o .", "text/turtle")
        assert ops[0][2] == "http://example/s1"

    def test_patch_by_header(self):
        ops = parse_payload(TestPatch.REFERENCE_PATCH.encode(), "application/rdf-patch")
        assert len(ops) == 4

    def test_charset_parameter_stripped(self):
        ops = parse_payload(b"PREFIX : <http://e/>\n:s :p :o .", "text/turtle; charset=utf-8")
        assert len(ops) == 1

    def test_jsonld_by_header(self):
        doc = b'{"@context": {"ex": "http://e/"}, "@id": "ex:s", "ex:p": "v"}'
        ops = parse_payload(doc, "application/ld+json")
        assert ops == [("A", "", "http://e/s", "http://e/p", "literal", "v", None, None)]

    def test_rdfxml_by_header(self):
        doc = (
            b'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            b' xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/s">'
            b"<ex:p>v</ex:p></rdf:Description></rdf:RDF>"
        )
        ops = parse_payload(doc, "application/rdf+xml")
        assert ops == [("A", "", "http://e/s", "http://e/p", "literal", "v", None, None)]

    def test_unknown_content_type(self):
        with pytest.raises(RdfParseError):
            parse_payload(b"x", "application/json")

    def test_invalid_utf8(self):
        with pytest.raises(RdfParseError):
            parse_payload(b"\xff\xfe<bad>", None)


class TestNQuadsProperty:
    """Property-based: serialize random quads -> parse -> identical terms,
    and the regex fast path must agree with the TermScanner slow path."""

    @staticmethod
    def _serialize_term(kind, value, dt, lang):
        def esc(s):
            return (
                s.replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
                .replace("\r", "\\r")
                .replace("\t", "\\t")
            )

        if kind == "iri":
            return f"<{esc(value)}>"
        if kind == "bnode":
            return value
        lit = f'"{esc(value)}"'
        if dt:
            return f"{lit}^^<{dt}>"
        if lang:
            return f"{lit}@{lang}"
        return lit

    def test_roundtrip_random_quads(self):
        from hypothesis import given, settings, strategies as st

        from jena_fuseki_kafka_spark.rdf.nquads import parse_nquads

        iri_chars = st.text(
            alphabet=st.characters(
                blacklist_characters='<>"{}|^`\\', blacklist_categories=("Cs", "Cc", "Zs")
            ),
            min_size=1,
            max_size=30,
        )
        lit_chars = st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
        )
        bnode = st.from_regex(r"_:[A-Za-z0-9][A-Za-z0-9_-]{0,10}", fullmatch=True)
        lang = st.from_regex(r"[a-z]{2}(-[A-Za-z0-9]{1,4})?", fullmatch=True)

        subject = st.one_of(
            iri_chars.map(lambda v: ("iri", v, None, None)),
            bnode.map(lambda v: ("bnode", v, None, None)),
        )
        obj = st.one_of(
            iri_chars.map(lambda v: ("iri", v, None, None)),
            bnode.map(lambda v: ("bnode", v, None, None)),
            lit_chars.map(lambda v: ("literal", v, None, None)),
            st.tuples(lit_chars, iri_chars).map(lambda t: ("literal", t[0], t[1], None)),
            st.tuples(lit_chars, lang).map(lambda t: ("literal", t[0], None, t[1])),
        )
        graph = st.one_of(st.none(), iri_chars)

        @settings(max_examples=200, deadline=None)
        @given(s=subject, p=iri_chars, o=obj, g=graph)
        def check(s, p, o, g):
            line = (
                f"{self._serialize_term(*s)} <{p}> {self._serialize_term(*o)}"
                + (f" <{g}>" if g is not None else "")
                + " ."
            )
            ops = parse_nquads(line)
            assert len(ops) == 1
            op, got_g, got_s, got_p, o_kind, o_val, o_dt, o_lang = ops[0]
            assert op == "A"
            assert got_g == (g if g is not None else "")
            assert got_s == s[1]
            assert got_p == p
            assert (o_kind, o_val, o_dt, o_lang) == (o[0], o[1], o[2], o[3])

        check()

    def test_fast_path_agrees_with_scanner(self):
        from hypothesis import given, settings, strategies as st

        import jena_fuseki_kafka_spark.rdf.nquads as nq

        # lines constrained to the fast path's shape, parsed both ways
        simple_iri = st.from_regex(r"[A-Za-z0-9:/#.?=_-]{1,25}", fullmatch=True)
        word = st.from_regex(r"[A-Za-z0-9 .,:;@()'!-]{0,30}", fullmatch=True)

        @settings(max_examples=200, deadline=None)
        @given(s=simple_iri, p=simple_iri, o=word, g=st.one_of(st.none(), simple_iri))
        def check(s, p, o, g):
            line = f'<{s}> <{p}> "{o}"' + (f" <{g}>" if g else "") + " ."
            fast = nq._fast_line(line)
            assert fast is not None, f"fast path rejected well-formed line: {line!r}"
            # slow path: force scanner by asking for the full parse of a
            # line the regex can't see (prepend nothing — call TermScanner
            # through parse with the fast path monkey-patched off)
            orig = nq._fast_line
            nq._fast_line = lambda _l: None
            try:
                slow = nq.parse_nquads(line)[0]
            finally:
                nq._fast_line = orig
            assert fast == slow

        check()
