"""HTTP facade tests: the reference's four service operations
(config-connector.ttl:14-17) driven through real HTTP requests, ending
with the acceptance count query its e2e tests poll
(DockerTestConfigFK.java:392-397).
"""

import json
import os
import urllib.request
from collections import Counter
from urllib.parse import quote

import pytest

from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.store import QuadStore, quad_frame
from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket

EX = "http://example.org/"
_JSON = "application/sparql-results+json"


def req(url, method="GET", data=None, content_type=None, accept=None):
    r = urllib.request.Request(url, data=data, method=method)
    if content_type:
        r.add_header("Content-Type", content_type)
    if accept:
        r.add_header("Accept", accept)
    try:
        with urllib.request.urlopen(r) as resp:
            return resp.status, resp.headers.get("Content-Type"), resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read().decode()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    store = QuadStore(str(tmp_path_factory.mktemp("http") / "quads"))
    srv = SparqlHttpServer(spark, store, dataset="ds")
    port = srv.start()
    yield f"http://127.0.0.1:{port}/ds"
    srv.stop()


def seed_rows(n, graph="", value=lambda i: f"v{i}"):
    """n quads <EX>s{i} <EX>p "value(i)" in ``graph``: enough subjects to
    fill every bucket of a 16-bucket store."""
    return [(graph, f"{EX}s{i}", f"{EX}p", "literal", value(i), None, None) for i in range(n)]


@pytest.fixture()
def own_server(spark, tmp_path):
    """A server over a fresh store of 200 quads, for tests that break the
    store or inspect its ``_results`` directory: (url, store)."""
    store = QuadStore(str(tmp_path / "quads"))
    store.commit(spark, adds=seed_rows(200), txn_id="seed")
    srv = SparqlHttpServer(spark, store, dataset="ds")
    port = srv.start()
    yield f"http://127.0.0.1:{port}/ds", store
    srv.stop()


def corrupt_one_leaf(store):
    leaf = os.path.join(store.files_dir, store._read_manifest()["files"][-1])
    part = next(f for f in os.listdir(leaf) if f.endswith(".parquet"))
    with open(os.path.join(leaf, part), "wb") as f:
        f.write(b"not a parquet file" * 64)


def raw_get(url: str, target: str) -> tuple[bytes, bytes]:
    """GET ``target`` over a bare socket, reading until the server closes:
    (status line and headers, body as sent on the wire)."""
    import socket
    from urllib.parse import urlparse

    u = urlparse(url)
    with socket.create_connection((u.hostname, u.port), timeout=60) as sock:
        sock.sendall(f"GET {target} HTTP/1.1\r\nHost: t\r\n\r\n".encode())
        raw = b""
        while data := sock.recv(65536):
            raw += data
    head, _, body = raw.partition(b"\r\n\r\n")
    return head, body


def assert_cut_after_headers(head: bytes, body: bytes, first: str, error: str):
    """A 200 whose chunked body carries ``first`` and then stops: no
    terminating chunk, no second status line, no error text."""
    assert head.startswith(b"HTTP/1.1 200") and b"chunked" in head
    assert body.startswith(f"{len(first.encode()):X}\r\n".encode())
    assert first.encode() in body
    assert b"HTTP/1." not in body and error.encode() not in body
    assert not body.endswith(b"0\r\n\r\n")


def spilled(store) -> list:
    """Result directories left under the store's ``_results``."""
    d = os.path.join(store.path, "_results")
    return os.listdir(d) if os.path.isdir(d) else []


class TestGraphStoreProtocol:
    def test_put_then_get_default_graph(self, server):
        ttl = b"@prefix ex: <http://example.org/> . ex:s1 ex:p ex:o1 . ex:s2 ex:p ex:o2 ."
        code, _, body = req(f"{server}/data?default", "PUT", ttl, "text/turtle")
        assert code == 200 and json.loads(body)["quads"] == 2
        code, ct, body = req(f"{server}/data?default")
        assert code == 200 and ct.startswith("application/n-quads")
        assert body.count("\n") == 2 and "<http://example.org/s1>" in body

    def test_post_merges_put_replaces(self, server):
        extra = b"<http://example.org/s3> <http://example.org/p> \"v\" ."
        code, _, _ = req(f"{server}/data?default", "POST", extra, "application/n-triples")
        assert code == 200
        _, _, body = req(f"{server}/data?default")
        assert body.count("\n") == 3
        replacement = b"@prefix ex: <http://example.org/> . ex:only ex:p ex:o ."
        code, _, _ = req(f"{server}/data?default", "PUT", replacement, "text/turtle")
        assert code == 200
        _, _, body = req(f"{server}/data?default")
        assert body.count("\n") == 1 and "only" in body

    def test_named_graph_and_delete(self, server):
        g = EX + "g1"
        ttl = b"@prefix ex: <http://example.org/> . ex:a ex:q ex:b ."
        code, _, _ = req(f"{server}/data?graph={quote(g, safe='')}", "PUT", ttl, "text/turtle")
        assert code == 200
        _, _, body = req(f"{server}/data?graph={quote(g, safe='')}")
        assert f"<{g}>" in body
        code, _, _ = req(f"{server}/data?graph={quote(g, safe='')}", "DELETE")
        assert code == 204
        _, _, body = req(f"{server}/data?graph={quote(g, safe='')}")
        assert body.strip() == ""


class TestGraphStoreProtocolOverTheBound(TestGraphStoreProtocol):
    """The same GSP round trips over a store whose reads take the Spark
    path (``SMALL_COMMIT_ROWS`` 0) instead of the driver's Arrow read."""

    G = quote(EX + "cngraph", safe="")

    @pytest.fixture(scope="class")
    def server(self, spark, tmp_path_factory):
        store = QuadStore(str(tmp_path_factory.mktemp("http-spark") / "quads"))
        store.SMALL_COMMIT_ROWS = 0
        srv = SparqlHttpServer(spark, store, dataset="ds")
        port = srv.start()
        yield f"http://127.0.0.1:{port}/ds"
        srv.stop()

    def test_gsp_get_honors_accept(self, server):
        TestContentNegotiation.test_gsp_get_honors_accept(self, server)


class TestContentNegotiation:
    # uses its own named graph so the shared fixture's default graph
    # (exercised by the other classes) is untouched
    G = quote(EX + "cngraph", safe="")

    def test_gsp_get_honors_accept(self, server):
        ttl = b"@prefix ex: <http://example.org/> . ex:cn ex:p \"neg\" ."
        code, _, _ = req(f"{server}/data?graph={self.G}", "PUT", ttl, "text/turtle")
        assert code == 200
        for accept, expect_ct, marker in [
            ("text/turtle", "text/turtle", "<http://example.org/cn>"),
            ("application/ld+json", "application/ld+json", '"@graph"'),
            ("application/rdf+xml", "application/rdf+xml", "<rdf:RDF"),
            ("application/trig", "application/trig", "<http://example.org/cn>"),
            (None, "application/n-quads", "<http://example.org/cn>"),
        ]:
            code, ct, body = req(f"{server}/data?graph={self.G}", accept=accept)
            assert code == 200 and ct.startswith(expect_ct), (accept, ct)
            assert marker in body, (accept, body)


    G2 = quote(EX + "rfgraph", safe="")

    def test_select_results_formats(self, server):
        ttl = b'@prefix ex: <http://example.org/> . ex:rf ex:p "v1" . ex:rf ex:q 5 .'
        code, _, _ = req(f"{server}/data?graph={self.G2}", "PUT", ttl, "text/turtle")
        assert code == 200
        q = (
            "SELECT ?s ?o WHERE { GRAPH <http://example.org/rfgraph>"
            ' { ?s <http://example.org/p> ?o } }'
        ).encode()

        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query",
                             accept="application/sparql-results+xml")
        assert code == 200 and ct.startswith("application/sparql-results+xml")
        assert '<sparql xmlns="http://www.w3.org/2005/sparql-results#">' in body
        assert "<uri>http://example.org/rf</uri>" in body
        assert "<literal>v1</literal>" in body

        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query", accept="text/csv")
        assert code == 200 and ct.startswith("text/csv")
        assert body.splitlines()[0] == "s,o"
        assert "http://example.org/rf,v1" in body

        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query",
                             accept="text/tab-separated-values")
        assert code == 200 and ct.startswith("text/tab-separated-values")
        assert body.splitlines()[0] == "?s\t?o"
        assert "<http://example.org/rf>\t\"v1\"" in body

        # typed literal keeps its datatype tag in TSV
        q2 = (
            "SELECT ?o WHERE { GRAPH <http://example.org/rfgraph>"
            ' { ?s <http://example.org/q> ?o } }'
        ).encode()
        code, ct, body = req(f"{server}/query", "POST", q2,
                             "application/sparql-query",
                             accept="text/tab-separated-values")
        assert "integer" in body and body.splitlines()[0] == "?o"

        # unknown accept falls back to JSON
        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query", accept="application/weird")
        assert code == 200 and ct.startswith("application/sparql-results+json")
        json.loads(body)

    def test_ask_results_formats(self, server):
        q = b"ASK { GRAPH <http://example.org/rfgraph> { ?s ?p ?o } }"
        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query",
                             accept="application/sparql-results+xml")
        assert code == 200 and "<boolean>true</boolean>" in body
        code, ct, body = req(f"{server}/query", "POST", q,
                             "application/sparql-query", accept="text/csv")
        assert code == 200 and body.strip() == "true"
        req(f"{server}/data?graph={self.G2}", "DELETE")

    def test_construct_honors_accept(self, server):
        q = (
            b"CONSTRUCT { ?s ?p ?o } WHERE { GRAPH <http://example.org/cngraph> { ?s ?p ?o } }"
        )
        code, ct, body = req(
            f"{server}/query", "POST", q, "application/sparql-query", accept="text/turtle"
        )
        assert code == 200 and ct.startswith("text/turtle")
        assert "<http://example.org/cn>" in body
        # clean up the named graph for any later class using the fixture
        req(f"{server}/data?graph={self.G}", "DELETE")


class TestQueryEndpoint:
    def test_select_get_and_post(self, server):
        q = "SELECT ?s ?o WHERE { ?s <http://example.org/p> ?o }"
        code, ct, body = req(f"{server}/query?query={quote(q, safe='')}")
        assert code == 200 and ct.startswith("application/sparql-results+json")
        doc = json.loads(body)
        assert doc["head"]["vars"] == ["s", "o"]
        assert len(doc["results"]["bindings"]) == 1
        b = doc["results"]["bindings"][0]
        assert b["s"]["type"] == "uri" and b["s"]["value"] == EX + "only"
        # POST raw body form
        code, _, body2 = req(f"{server}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200 and json.loads(body2) == doc

    def test_ask_and_construct(self, server):
        code, _, body = req(
            f"{server}/query", "POST",
            b"ASK { <http://example.org/only> ?p ?o }", "application/sparql-query",
        )
        assert json.loads(body)["boolean"] is True
        code, ct, body = req(
            f"{server}/query", "POST",
            b"CONSTRUCT { ?s <http://example.org/made> ?o } WHERE { ?s <http://example.org/p> ?o }",
            "application/sparql-query",
        )
        assert code == 200 and ct.startswith("application/n-quads")
        assert "<http://example.org/made>" in body

    def test_ask_exists_and_construct_never_bound_var(self, server):
        code, _, body = req(
            f"{server}/query", "POST",
            b"ASK { ?s <http://example.org/p> ?o FILTER EXISTS { ?s ?q ?z } }",
            "application/sparql-query",
        )
        assert code == 200 and json.loads(body)["boolean"] is True
        # ?x is bound by no solution: its template triple is skipped
        code, _, body = req(
            f"{server}/query", "POST",
            b"CONSTRUCT { ?s <http://example.org/made> ?o . ?s <http://example.org/never> ?x }"
            b" WHERE { ?s <http://example.org/p> ?o }",
            "application/sparql-query",
        )
        assert code == 200, body
        assert "<http://example.org/made>" in body and "never" not in body

    def test_exists_inside_filter_expressions(self, own_server):
        # !EXISTS, EXISTS as an && conjunct, and EXISTS in an OPTIONAL's
        # filter: joins, not a 500
        url, _ = own_server
        code, _, _ = req(f"{url}/update", "POST",
                         f"INSERT DATA {{ <{EX}s0> <{EX}knows> <{EX}s1> . "
                         f"<{EX}s1> <{EX}knows> <{EX}s2> }}".encode(),
                         "application/sparql-update")
        assert code == 200

        def ask(q):
            code, _, body = req(f"{url}/query", "POST", q.encode(), "application/sparql-query")
            assert code == 200, body
            return json.loads(body)

        got = ask(f"SELECT ?s WHERE {{ ?s <{EX}knows> ?o FILTER(!EXISTS {{ ?o <{EX}knows> ?z }}) }}")
        assert [b["s"]["value"] for b in got["results"]["bindings"]] == [f"{EX}s1"]
        got = ask(f"ASK {{ ?s <{EX}knows> ?o FILTER(?s != <{EX}s0> && EXISTS {{ ?o <{EX}knows> ?z }}) }}")
        assert got["boolean"] is False
        got = ask(f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?v FILTER(?v IN (\"v0\", \"v1\")) "
                  f"OPTIONAL {{ ?s <{EX}knows> ?o FILTER EXISTS {{ ?o <{EX}knows> ?z }} }} }}")
        assert {(b["s"]["value"], b.get("o", {}).get("value"))
                for b in got["results"]["bindings"]} == {(f"{EX}s0", f"{EX}s1"), (f"{EX}s1", None)}

    def test_protocol_dataset_params(self, server):
        # SPARQL 1.1 Protocol §2.1.4: default-graph-uri scopes the query
        # dataset (and overrides any FROM clause in the query text)
        g = EX + "proto-g"
        nt = b'<http://example.org/pd> <http://example.org/p> "in-g" .'
        code, _, _ = req(
            f"{server}/data?graph={quote(g, safe='')}", "PUT", nt,
            "application/n-triples",
        )
        assert code == 200
        q = "SELECT ?o WHERE { <http://example.org/pd> <http://example.org/p> ?o }"
        # without the param the triple lives in a named graph -> no match
        code, _, body = req(f"{server}/query?query={quote(q, safe='')}")
        assert code == 200 and json.loads(body)["results"]["bindings"] == []
        # with it, that named graph IS the query's default graph
        code, _, body = req(
            f"{server}/query?query={quote(q, safe='')}"
            f"&default-graph-uri={quote(g, safe='')}"
        )
        assert code == 200
        vals = [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]]
        assert vals == ["in-g"]
        # FROM clause in the query text works over HTTP too
        q_from = (
            f"SELECT ?o FROM <{g}> WHERE "
            "{ <http://example.org/pd> <http://example.org/p> ?o }"
        )
        code, _, body = req(f"{server}/query?query={quote(q_from, safe='')}")
        assert code == 200
        vals = [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]]
        assert vals == ["in-g"]

    def test_update_using_graph_param(self, server):
        # §2.2.3: using-graph-uri scopes the update's WHERE dataset
        g = EX + "using-g"
        nt = b'<http://example.org/us> <http://example.org/p> "scoped" .'
        code, _, _ = req(
            f"{server}/data?graph={quote(g, safe='')}", "POST", nt,
            "application/n-triples",
        )
        assert code == 200
        u = (
            "PREFIX ex: <http://example.org/> "
            "INSERT { ?s ex:fromg ?o } WHERE { ?s ex:p ?o }"
        )
        code, _, _ = req(
            f"{server}/update?using-graph-uri={quote(g, safe='')}",
            "POST", u.encode(), "application/sparql-update",
        )
        assert code == 200
        q = "SELECT ?o WHERE { <http://example.org/us> <http://example.org/fromg> ?o }"
        code, _, body = req(f"{server}/query?query={quote(q, safe='')}")
        vals = [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]]
        assert vals == ["scoped"]
        # combined with USING in the text -> 400 per the protocol
        bad = (
            "PREFIX ex: <http://example.org/> DELETE { ?s ?p ?o } "
            f"USING <{g}> WHERE {{ ?s ?p ?o }}"
        )
        code, _, _ = req(
            f"{server}/update?using-graph-uri={quote(g, safe='')}",
            "POST", bad.encode(), "application/sparql-update",
        )
        assert code == 400

    def test_bad_query_is_400(self, server):
        code, _, _ = req(f"{server}/query", "POST", b"SELECT WHERE garbage", "application/sparql-query")
        assert code == 400

    def test_select_projecting_quad_column_names_is_json(self, server):
        # serialization must branch on the parsed query form: a SELECT
        # whose variables happen to be named like the quad columns must
        # still come back as SPARQL results JSON, not N-Quads
        q = (
            "SELECT ?graph ?subject ?predicate ?object_kind ?object_value "
            "?object_datatype ?object_lang WHERE { "
            "?subject ?predicate ?object_value . "
            'BIND("g" AS ?graph) BIND("k" AS ?object_kind) '
            'BIND("d" AS ?object_datatype) BIND("l" AS ?object_lang) }'
        )
        code, ct, body = req(f"{server}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200 and ct.startswith("application/sparql-results+json"), body
        doc = json.loads(body)
        assert "subject" in doc["head"]["vars"]


class TestUpdateAndPatch:
    def test_update_insert_data(self, server):
        u = 'INSERT DATA { <http://example.org/u1> <http://example.org/p> "from-update" }'
        code, _, _ = req(f"{server}/update", "POST", u.encode(), "application/sparql-update")
        assert code == 200
        q = 'ASK { ?s ?p "from-update" }'
        _, _, body = req(f"{server}/query", "POST", q.encode(), "application/sparql-query")
        assert json.loads(body)["boolean"] is True

    def test_patch_add_and_delete(self, server):
        patch = (
            b"TX .\n"
            b'A <http://example.org/px> <http://example.org/p> "x" .\n'
            b"TC .\n"
        )
        code, _, body = req(f"{server}/patch", "PATCH", patch, "application/rdf-patch")
        assert code == 200 and json.loads(body)["adds"] == 1
        dpatch = (
            b"TX .\n"
            b'D <http://example.org/px> <http://example.org/p> "x" .\n'
            b"TC .\n"
        )
        # POST fallback for PATCH-less clients
        code, _, body = req(f"{server}/patch", "POST", dpatch, "application/rdf-patch")
        assert code == 200 and json.loads(body)["deletes"] == 1
        _, _, body = req(
            f"{server}/query", "POST",
            b'ASK { <http://example.org/px> ?p ?o }', "application/sparql-query",
        )
        assert json.loads(body)["boolean"] is False

    def test_acceptance_count_over_http(self, server):
        # the reference's own acceptance query, over HTTP, end of pipeline
        q = "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }"
        code, _, body = req(f"{server}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200
        n = int(json.loads(body)["results"]["bindings"][0]["C"]["value"])
        assert n >= 2


class TestServerRestart:
    def test_writes_after_restart_land_with_fresh_bnodes(self, spark, tmp_path):
        """HTTP writes carry no transaction id, so a new server over the
        same store neither skips its writes as replays of the old
        server's nor mints the blank-node labels the old one did."""
        path = str(tmp_path / "quads")
        update = f"INSERT DATA {{ <{EX}a> <{EX}p> _:b }}"
        for k in range(2):
            store = QuadStore(path)
            srv = SparqlHttpServer(spark, store)
            srv.run_update(store, update)
            srv.apply_patch(store, f'TX .\nA <{EX}s{k}> <{EX}p> "{k}" .\nTC .\n'.encode(),
                            "application/rdf-patch")
        rows = store.read(spark).collect()
        assert {r.subject for r in rows if r.predicate == f"{EX}p"} >= {f"{EX}s0", f"{EX}s1"}
        labels = [r.object_value for r in rows if r.subject == f"{EX}a"]
        assert len(labels) == 2 and len(set(labels)) == 2, labels


class TestWriteFailures:
    """A write that fails inside the commit answers 500 with the error's
    message; the connection is never dropped without a response."""

    @pytest.fixture()
    def failing_commit(self, monkeypatch):
        def boom(self, *a, **k):
            raise RuntimeError("commit failed: disk full")

        monkeypatch.setattr(QuadStore, "commit", boom)

    @staticmethod
    def assert_500(resp):
        code, _, body = resp
        assert code == 500 and "disk full" in body

    def test_update_commit_failure_is_500(self, server, failing_commit):
        self.assert_500(req(f"{server}/update", "POST",
                            b'INSERT DATA { <http://example.org/f> <http://example.org/p> "1" }',
                            "application/sparql-update"))

    def test_gsp_write_commit_failure_is_500(self, server, failing_commit):
        body = b'<http://example.org/f> <http://example.org/p> "1" .'
        for method in ("PUT", "POST"):
            self.assert_500(req(f"{server}/data?graph={quote(EX + 'fail', safe='')}",
                                method, body, "application/n-triples"))

    def test_patch_commit_failure_is_500(self, server, failing_commit):
        patch = b'TX .\nA <http://example.org/f> <http://example.org/p> "1" .\nTC .\n'
        self.assert_500(req(f"{server}/patch", "PATCH", patch, "application/rdf-patch"))


class TestQueryFailures:
    """A query that fails before its response starts answers 500 with the
    message; every Spark job of a read runs before then.  A failure after
    the chunked headers went out (in a serializer) cannot change its
    status: the body is left without its terminating chunk and the
    connection closes, with no second status line written into it."""

    def test_query_failure_is_500(self, server):
        q = "SELECT ?s WHERE { SERVICE <http://127.0.0.1:9/nope> { ?s ?p ?o } }"
        code, _, body = req(f"{server}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 500 and "SERVICE" in body

    def test_execution_failure_is_500(self, own_server):
        url, store = own_server
        corrupt_one_leaf(store)
        q = f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }}"
        code, _, body = req(f"{url}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 500 and "parquet" in body.lower(), (code, body[:500])
        assert spilled(store) == []  # the failed write left no result files

    def test_gsp_read_failure_on_a_small_store_is_500(self, own_server):
        # the driver's Arrow read runs before the status line too
        url, store = own_server
        corrupt_one_leaf(store)
        code, _, body = req(f"{url}/data?default")
        assert code == 500 and "parquet" in body.lower(), (code, body[:500])

    def test_failure_after_headers_leaves_body_unterminated(self, server, monkeypatch):
        first = "<http://example.org/a> <http://example.org/p> \"1\" .\n" * 2000

        def chunks():
            yield first  # over the 64 KiB write buffer: reaches the wire
            raise RuntimeError("executor lost")

        monkeypatch.setattr(
            SparqlHttpServer, "run_query",
            lambda self, *a, **k: ("application/n-quads", chunks()),
        )
        head, body = raw_get(server, "/ds/query?query=x")
        assert_cut_after_headers(head, body, first, "executor lost")


class TestSerializerFailures:
    """A serializer that raises after the 200 went out, on each read path
    that feeds one: the body stops without its terminating chunk (so no
    client takes it for a complete result), and a spilled result is
    still removed."""

    @staticmethod
    def cut(serializer, sent: list):
        """``serializer`` cut short: its first chunk, repeated past the
        64 KiB write buffer so it reaches the wire, and then a failure.
        What it sent is appended to ``sent``."""
        def serialize(*args):
            chunk = next(serializer(*args))
            sent.append(chunk * (65536 // len(chunk) + 1))
            yield sent[0]
            raise RuntimeError("serializer failed")
        return serialize

    @pytest.mark.parametrize("bound", [None, 0], ids=["driver", "spark"])
    def test_gsp_read(self, spark, own_server, monkeypatch, bound):
        from jena_fuseki_kafka_spark.rdf import serialize

        url, store = own_server
        if bound is not None:
            store.SMALL_COMMIT_ROWS = bound
        assert store.snapshot(spark).small == (bound is None)
        sent = []
        monkeypatch.setitem(serialize.GRAPH_STREAMERS, "application/n-quads",
                            (self.cut(serialize.iter_nquads, sent), "application/n-quads", True))
        head, body = raw_get(url, "/ds/data?default")
        assert_cut_after_headers(head, body, sent[0], "serializer failed")
        assert spilled(store) == []

    def test_run_query(self, own_server, monkeypatch):
        import jena_fuseki_kafka_spark.server as server_mod
        from jena_fuseki_kafka_spark.rdf.serialize import ask_to_json, iter_select_json

        url, store = own_server
        sent = []
        streamers = ((self.cut(iter_select_json, sent), ask_to_json), _JSON)
        monkeypatch.setattr(server_mod, "negotiate_results_streamer", lambda accept: streamers)
        q = quote(f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }}", safe="")
        head, body = raw_get(url, f"/ds/query?query={q}")
        assert_cut_after_headers(head, body, sent[0], "serializer failed")
        assert spilled(store) == []


class TestAdminEndpoints:
    """Fuseki's ``/$/ping`` and ``/$/stats`` on the same server."""

    def test_ping_answers_a_timestamp(self, server):
        from datetime import datetime

        code, ct, body = req(server.rsplit("/", 1)[0] + "/$/ping")
        assert code == 200 and ct.startswith("text/plain")
        assert datetime.fromisoformat(body.strip()).tzinfo is not None

    def test_accepted_connections_set_tcp_nodelay(self, spark, tmp_path):
        """Headers and body go out as separate writes; with Nagle on, each
        response would wait for the client's delayed ACK (~40 ms)."""
        import queue
        import socket

        srv = SparqlHttpServer(spark, QuadStore(str(tmp_path / "quads")))
        port = srv.start()
        httpd, nodelay = srv._httpd, queue.Queue()
        finish = httpd.finish_request

        def finish_and_probe(request, client_address):
            finish(request, client_address)
            nodelay.put(request.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))

        httpd.finish_request = finish_and_probe
        try:
            assert req(f"http://127.0.0.1:{port}/$/ping")[0] == 200
            assert nodelay.get(timeout=30)
        finally:
            srv.stop()

    def test_stats_has_each_store(self, server):
        code, ct, body = req(server.rsplit("/", 1)[0] + "/$/stats")
        assert code == 200 and ct.startswith("application/json")
        datasets = json.loads(body)["datasets"]
        assert list(datasets) == ["/ds"]
        assert set(datasets["/ds"]) == {
            "version", "leaves", "max_leaves_per_bucket", "tombstones", "pinned_snapshots",
        }
        assert datasets["/ds"]["version"] >= 0


class TestServiceFederation:
    """SERVICE <endpoint> { ... }: ship a sub-pattern to a remote SPARQL
    endpoint (here: a second SparqlHttpServer) and join the bindings."""

    @pytest.fixture(scope="class")
    def remote(self, spark, tmp_path_factory):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        store = QuadStore(str(tmp_path_factory.mktemp("svc") / "quads"))
        rows = [
            ("", EX + "alice", EX + "city", "literal", "Berlin", None, None),
            ("", EX + "bob", EX + "city", "literal", "Paris", None, None),
        ]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA))
        srv = SparqlHttpServer(spark, store, dataset="remote")
        port = srv.start()
        yield f"http://127.0.0.1:{port}/remote/query"
        srv.stop()

    def _local_engine(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        rows = [
            ("", EX + "alice", EX + "age", "literal", "30", None, None),
            ("", EX + "carol", EX + "age", "literal", "41", None, None),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_service_join(self, spark, remote):
        eng = self._local_engine(spark)
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?age ?city WHERE { ?s ex:age ?age . "
            f"SERVICE <{remote}> {{ ?s ex:city ?city }} }}"
        )
        rows = {(r.s, r.age, r.city) for r in df.collect()}
        # only alice exists on both sides
        assert rows == {(EX + "alice", "30", "Berlin")}

    def test_service_only(self, spark, remote):
        eng = self._local_engine(spark)
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            f"SELECT ?s ?city WHERE {{ SERVICE <{remote}> {{ ?s ex:city ?city }} }}"
        )
        assert {r.city for r in df.collect()} == {"Berlin", "Paris"}

    def test_service_ships_lang_literal_without_space(self, spark, remote):
        # "Berlin"@de must re-serialize with the LANGTAG attached — some
        # endpoints reject '"Berlin" @de' (whitespace before LANGTAG)
        from jena_fuseki_kafka_spark.sparql.parser import SparqlParser
        from jena_fuseki_kafka_spark.sparql.ast import ServicePattern

        q = (
            "PREFIX ex: <http://example.org/> SELECT ?s WHERE { "
            f'SERVICE <{remote}> {{ ?s ex:city "x"@en . ?s ex:n "5"^^ex:int }} }}'
        )
        parsed = SparqlParser(q).parse()

        def find_service(node):
            if isinstance(node, ServicePattern):
                return node
            for attr in ("left", "right", "pattern"):
                child = getattr(node, attr, None)
                if child is not None:
                    hit = find_service(child)
                    if hit:
                        return hit
            return None

        svc = find_service(parsed.pattern)
        assert svc is not None
        assert '"x"@en' in svc.raw, svc.raw
        assert '"5"^^ex:int' in svc.raw, svc.raw

    def test_service_join_on_lang_tagged_literal(self, spark, remote, tmp_path):
        # e2e: the shipped pattern contains a lang-tagged literal and the
        # remote endpoint (a second server instance) must accept it
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        rows = [("", EX + "alice", EX + "age", "literal", "30", None, None)]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?age WHERE { ?s ex:age ?age . "
            f'SERVICE <{remote}> {{ ?s ex:city "Berlin" }} }}'
        )
        assert {r.s for r in df.collect()} == {EX + "alice"}

    def test_service_silent_failure_is_identity(self, spark):
        eng = self._local_engine(spark)
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?age WHERE { ?s ex:age ?age . "
            "SERVICE SILENT <http://127.0.0.1:9/does-not-exist> { ?s ex:city ?c } }"
        )
        assert df.count() == 2  # local bindings survive untouched

    def test_service_failure_raises_without_silent(self, spark):
        eng = self._local_engine(spark)
        with pytest.raises(Exception, match="SERVICE"):
            eng.select_values(
                "PREFIX ex: <http://example.org/> "
                "SELECT ?s WHERE { SERVICE <http://127.0.0.1:9/nope> { ?s ex:p ?o } }"
            ).collect()


class TestMultiDataset:
    def test_two_datasets_isolated(self, spark, tmp_path_factory):
        base_dir = tmp_path_factory.mktemp("multi")
        s1 = QuadStore(str(base_dir / "q1"))
        s2 = QuadStore(str(base_dir / "q2"))
        srv = SparqlHttpServer(spark, stores={"ds1": s1, "ds2": s2})
        port = srv.start()
        try:
            root = f"http://127.0.0.1:{port}"
            req(f"{root}/ds1/data?default", "PUT",
                b"<http://example.org/a> <http://example.org/p> \"one\" .",
                "application/n-triples")
            req(f"{root}/ds2/data?default", "PUT",
                b"<http://example.org/b> <http://example.org/p> \"two\" .",
                "application/n-triples")
            q = b"SELECT ?o WHERE { ?s <http://example.org/p> ?o }"
            b1 = json.loads(req(f"{root}/ds1/query", "POST", q, "application/sparql-query")[2])
            b2 = json.loads(req(f"{root}/ds2/query", "POST", q, "application/sparql-query")[2])
            assert [x["o"]["value"] for x in b1["results"]["bindings"]] == ["one"]
            assert [x["o"]["value"] for x in b2["results"]["bindings"]] == ["two"]
            code, _, _ = req(f"{root}/nope/query", "POST", q, "application/sparql-query")
            assert code == 404
        finally:
            srv.stop()


class TestStreamingServe:
    """Store-sized exports must stream: the serve path never collect()s a
    result onto the driver (one Spark job writes it to parquet, the body
    is read back one Arrow batch at a time and written chunked), and
    triple-only formats refuse whole-dataset reads rather than silently
    flattening named graphs."""

    G = quote(EX + "streamgraph", safe="")

    def test_serve_path_never_collects(self, server, monkeypatch):
        ttl = b'@prefix ex: <http://example.org/> . ex:sg1 ex:p "a" . ex:sg2 ex:p "b" .'
        code, _, _ = req(f"{server}/data?graph={self.G}", "PUT", ttl, "text/turtle")
        assert code == 200

        from pyspark.sql import DataFrame

        calls = []
        orig = DataFrame.collect

        def tracking(self_df):
            calls.append(1)
            return orig(self_df)

        monkeypatch.setattr(DataFrame, "collect", tracking)
        # GSP GET (nquads + turtle), SELECT, CONSTRUCT — all streamed
        code, _, body = req(f"{server}/data?graph={self.G}")
        assert code == 200 and body.count("\n") == 2
        code, _, body = req(f"{server}/data?graph={self.G}", accept="text/turtle")
        assert code == 200 and "<http://example.org/sg1>" in body
        q = (
            "SELECT ?s ?o WHERE { GRAPH <http://example.org/streamgraph>"
            " { ?s <http://example.org/p> ?o } }"
        ).encode()
        code, _, body = req(f"{server}/query", "POST", q, "application/sparql-query")
        assert code == 200 and len(json.loads(body)["results"]["bindings"]) == 2
        c = (
            "CONSTRUCT { ?s <http://example.org/made> ?o } WHERE {"
            " GRAPH <http://example.org/streamgraph>"
            " { ?s <http://example.org/p> ?o } }"
        ).encode()
        code, _, body = req(f"{server}/query", "POST", c, "application/sparql-query")
        assert code == 200 and body.count("made") == 2
        assert calls == [], f"serve path collect()ed {len(calls)} time(s)"

    def test_responses_are_chunked(self, server):
        r = urllib.request.Request(f"{server}/data?graph={self.G}")
        with urllib.request.urlopen(r) as resp:
            assert resp.headers.get("Transfer-Encoding") == "chunked"
            assert resp.headers.get("Content-Length") is None

    def test_whole_dataset_triple_only_is_406(self, server):
        for accept in ("text/turtle", "application/rdf+xml"):
            code, _, body = req(f"{server}/data", accept=accept)
            assert code == 406, (accept, code)
            assert "quad" in body
        # quad-capable formats serve the whole dataset fine
        for accept in (None, "application/trig", "application/ld+json"):
            code, _, _ = req(f"{server}/data", accept=accept)
            assert code == 200, (accept, code)
        # and a named graph still serializes to turtle
        code, _, _ = req(f"{server}/data?graph={self.G}", accept="text/turtle")
        assert code == 200

    def test_whole_dataset_wildcard_prefers_trig(self, server):
        # */* on a multi-graph dataset serves TriG (Fuseki's dataset
        # default), never 406 — the friendly path for browsers/curl -H
        for accept in ("*/*", "application/*", "text/html, */*;q=0.1"):
            code, ct, _ = req(f"{server}/data", accept=accept)
            assert code == 200 and ct.startswith("application/trig"), (accept, ct)
        # a lossy preference with a wildcard fallback picks TriG too:
        # the server chooses among representations it can actually provide
        code, ct, _ = req(f"{server}/data", accept="text/turtle, */*;q=0.1")
        assert code == 200 and ct.startswith("application/trig")
        # mixed lossy + explicit quad format: the quad format wins
        code, ct, _ = req(
            f"{server}/data", accept="text/turtle, application/ld+json;q=0.5"
        )
        assert code == 200 and ct.startswith("application/ld+json")
        # no Accept header keeps the N-Quads default
        code, ct, _ = req(f"{server}/data")
        assert code == 200 and ct.startswith("application/n-quads")

    def test_results_negotiation_honors_q_values(self, server):
        q = b"SELECT ?o WHERE { ?s <http://example.org/p> ?o }"
        # ADVICE example: low-q csv listed first must not beat high-q xml
        code, ct, _ = req(
            f"{server}/query", "POST", q, "application/sparql-query",
            accept="text/csv;q=0.1, application/sparql-results+xml;q=0.9",
        )
        assert code == 200 and ct.startswith("application/sparql-results+xml")


def test_bounded_and_streamed_serializations_identical(server):
    """The bounded collect path must serialize byte-identically to the
    toLocalIterator streaming path for the same result."""
    # seed a couple of rows through the public surface
    req(
        f"{server}/update",
        "POST",
        f'INSERT DATA {{ <{EX}bs1> <{EX}bp> "bv1" . <{EX}bs2> <{EX}bp> "bv2" }}'.encode(),
        "application/sparql-update",
    )
    q = f"SELECT ?s ?o WHERE {{ ?s <{EX}bp> ?o }} ORDER BY ?s"
    status, ct, body = req(f"{server}/query?query=" + quote(q, safe=""))
    assert status == 200
    streamed = json.loads(body)  # LIMIT-less: streaming path
    status, ct, body = req(f"{server}/query?query=" + quote(q + " LIMIT 10", safe=""))
    assert status == 200
    collected = json.loads(body)  # LIMIT 10: bounded collect path
    assert streamed["results"]["bindings"] == collected["results"]["bindings"]
    assert len(streamed["results"]["bindings"]) == 2


class TestResultSpill:
    """Every HTTP read writes its result once under ``<store>/_results``
    with one Spark job, before the status line, and streams the body from
    those files: the directory is gone however the body ends, the body no
    longer depends on the store's files or the client's pace, and the
    rows come back with their variable names and in their order."""

    Q = f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }}"

    def test_removed_after_complete_body(self, own_server):
        url, store = own_server
        code, _, body = req(f"{url}/query", "POST", self.Q.encode(), "application/sparql-query")
        assert code == 200 and len(json.loads(body)["results"]["bindings"]) == 200
        code, _, body = req(f"{url}/data", accept="application/trig")
        assert code == 200 and body.count(f"<{EX}p>") == 200
        assert spilled(store) == []

    def test_removed_after_client_disconnect(self, spark, own_server, caplog):
        import socket
        import time
        from urllib.parse import urlparse

        url, store = own_server
        # ~8 MB of JSON: far more than the socket buffers take, so the
        # server is still writing when the client goes away
        store.commit(spark, adds=seed_rows(2000, value=lambda i: f"{i:04d}" * 1000),
                     txn_id="big")
        u = urlparse(url)
        with socket.socket() as sock:
            sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 4096)
            sock.settimeout(60)
            sock.connect((u.hostname, u.port))
            sock.sendall(f"GET /ds/query?query={quote(self.Q, safe='')} HTTP/1.1\r\n"
                         "Host: t\r\n\r\n".encode())
            assert sock.recv(4096).startswith(b"HTTP/1.1 200")
        deadline = time.monotonic() + 60
        while spilled(store) and time.monotonic() < deadline:
            time.sleep(0.1)
        assert spilled(store) == []
        assert any("failed mid-response" in r.getMessage() for r in caplog.records)

    def test_case_distinct_variables(self, own_server):
        # ?S is unbound: the result has columns s and S, which the
        # parquet writer would refuse under their own names
        url, _ = own_server
        q = f"SELECT ?s ?S WHERE {{ ?s <{EX}p> ?o }}"
        code, _, body = req(f"{url}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200, body[:500]
        res = json.loads(body)
        assert res["head"]["vars"] == ["s", "S"]
        b = res["results"]["bindings"]
        assert {x["s"]["value"] for x in b} == {f"{EX}s{i}" for i in range(200)}
        assert not any("S" in x for x in b)

    def test_case_variant_variables_both_bound(self, own_server):
        url, _ = own_server
        q = f"SELECT ?s ?S WHERE {{ ?s <{EX}p> ?S }}"
        code, _, body = req(f"{url}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200, body[:500]
        res = json.loads(body)
        assert res["head"]["vars"] == ["s", "S"]
        got = {(b["s"]["value"], b["S"]["value"]) for b in res["results"]["bindings"]}
        assert got == {(f"{EX}s{i}", f"v{i}") for i in range(200)}

    def test_bind_to_a_case_variant_keeps_the_original(self, own_server):
        url, _ = own_server
        q = f"SELECT ?s ?S WHERE {{ ?s <{EX}p> ?o BIND(?o AS ?S) }}"
        code, _, body = req(f"{url}/query", "POST", q.encode(), "application/sparql-query")
        assert code == 200, body[:500]
        got = {(b["s"]["value"], b["S"]["value"])
               for b in json.loads(body)["results"]["bindings"]}
        assert got == {(f"{EX}s{i}", f"v{i}") for i in range(200)}

    def test_order_by_spread_over_files_arrives_in_order(self, spark, own_server):
        import glob

        _, store = own_server
        # the multi-partition read: a one-partition snapshot sorts
        # without a range exchange and writes a single part file
        store.SMALL_COMMIT_ROWS = 0
        srv = SparqlHttpServer(spark, store)
        q = f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }} ORDER BY DESC(?o)"
        # keep the sort's range partitions apart: one file per partition
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            _, chunks = srv.run_query(store, q)
        finally:
            spark.conf.set(key, prev)
        parts = glob.glob(os.path.join(store.path, "_results", "*", "part-*.parquet"))
        assert len(parts) >= 2, parts
        got = [b["o"]["value"] for b in json.loads("".join(chunks))["results"]["bindings"]]
        assert got == sorted((f"v{i}" for i in range(200)), reverse=True)
        assert spilled(store) == []

    def test_read_outlives_store_commits(self, spark, tmp_path):
        """A read's body is served from its own files: commits that retire
        and then delete every leaf the query saw, while the client is
        still reading, do not change or cut it."""
        store = QuadStore(str(tmp_path / "quads"))
        store.commit(spark, adds=seed_rows(200), txn_id="seed")
        seen = list(store._read_manifest()["files"])
        assert len(seen) == store.n_buckets
        by_bucket = {}
        for r in store.read(spark).collect():
            by_bucket.setdefault(spark_bucket(r.subject, store.n_buckets), []).append(tuple(r))
        assert all(len(rows) > store.grace_versions for rows in by_bucket.values())

        srv = SparqlHttpServer(spark, store)
        _, chunks = srv.run_query(store, self.Q)
        head = next(chunks) + next(chunks)  # the header and the first row
        for k in range(store.grace_versions + 1):
            store.commit(spark, deletes=[rows[k] for rows in by_bucket.values()],
                         txn_id=f"del-{k}")
        assert not any(os.path.exists(os.path.join(store.files_dir, f)) for f in seen)
        got = json.loads(head + "".join(chunks))["results"]["bindings"]
        assert sorted(b["o"]["value"] for b in got) == sorted(f"v{i}" for i in range(200))


XSD = "http://www.w3.org/2001/XMLSchema#"


def typed_rows(n, graph):
    """n subjects <EX>t{i} with a type, an integer val and, every third
    one, an opt: the shape of the benchmark's BGP + FILTER + OPTIONAL."""
    rows = []
    for i in range(n):
        s = f"{EX}t{i}"
        rows += [(graph, s, f"{EX}type", "iri", f"{EX}C{i % 2}", None, None),
                 (graph, s, f"{EX}val", "literal", str(i * 7 % 50), f"{XSD}integer", None)]
        if i % 3 == 0:
            rows.append((graph, s, f"{EX}opt", "literal", f"opt{i}", None, None))
    return rows


class TestReadJobCounts:
    """An HTTP read costs one Spark job for its result, however many
    partitions that result has.  On a small store every scan is one
    partition, so an aggregate needs no shuffle stage and a point
    DELETE/INSERT WHERE's bounded binding probe no second scan, and the
    joins and unions of a query run in the same single task instead of
    broadcasting a side each: one job each too."""

    G = f"{EX}jobs"
    T = f"{EX}typed"
    BGP = (f"SELECT ?s ?v ?o WHERE {{ GRAPH <{T}> {{ ?s <{EX}type> <{EX}C0> . "
           f"?s <{EX}val> ?v . FILTER(?v < 30) OPTIONAL {{ ?s <{EX}opt> ?o }} }} }}")

    @pytest.fixture()
    def loaded(self, spark, tmp_path):
        store = QuadStore(str(tmp_path / "quads"))
        store.commit(spark, adds=seed_rows(200) + seed_rows(20, graph=self.G)
                     + typed_rows(60, self.T), txn_id="seed")
        assert len(store._read_manifest()["files"]) == store.n_buckets
        return SparqlHttpServer(spark, store), store

    def test_bgp_filter_optional_is_one_job(self, loaded, count_jobs):
        srv, store = loaded
        jobs, body = count_jobs(lambda: "".join(srv.run_query(store, self.BGP)[1]))
        got = {(b["s"]["value"], b["v"]["value"], b.get("o", {}).get("value"))
               for b in json.loads(body)["results"]["bindings"]}
        assert got == {(f"{EX}t{i}", str(i * 7 % 50), f"opt{i}" if i % 3 == 0 else None)
                       for i in range(60) if i % 2 == 0 and i * 7 % 50 < 30}
        assert jobs == 1

    def test_union_and_minus_are_one_job(self, loaded, count_jobs):
        srv, store = loaded
        union = (f"SELECT ?s ?x WHERE {{ GRAPH <{self.T}> {{ {{ ?s <{EX}type> ?x }} "
                 f"UNION {{ ?s <{EX}opt> ?x }} }} }}")
        minus = (f"SELECT ?s WHERE {{ GRAPH <{self.T}> {{ ?s <{EX}type> ?c "
                 f"MINUS {{ ?s <{EX}opt> ?o }} }} }}")
        for q, n in ((union, 60 + 20), (minus, 40)):
            jobs, body = count_jobs(lambda: "".join(srv.run_query(store, q)[1]))
            assert len(json.loads(body)["results"]["bindings"]) == n, q
            assert jobs == 1, q

    def test_bgp_plan_over_the_bound_keeps_its_exchanges(self, spark, loaded):
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        _, store = loaded
        plans = {}
        for bound in (store.SMALL_COMMIT_ROWS, 0):
            store.SMALL_COMMIT_ROWS = bound
            df = SparqlEngine.from_store(spark, store).query(self.BGP)
            plans[bound] = df._jdf.queryExecution().executedPlan().toString()
        small, split = plans.values()
        assert small.count("FileScan") <= 3 and "Exchange" not in small, small
        assert "Exchange" in split and "Coalesce" not in split, split

    def test_reads_past_32_leaves_list_no_files(self, spark, loaded, count_jobs):
        """Spark lists more than 32 paths with a job of its own; the
        manifest already names every leaf, so no read may pay for one.
        The leaves come from Spark-tier DataFrame commits, which append a
        leaf per touched bucket (the shape ingest writes; a driver-tier
        commit merges each bucket it changes into one leaf)."""
        srv, store = loaded
        for k in range(40):
            rows = (seed_rows(1, graph=self.G, value=lambda i: f"x{k}")
                    + [(self.G, f"{EX}n{k}", f"{EX}p", "literal", "n", None, None)])
            store.commit(spark, adds=quad_frame(spark, rows), txn_id=f"small-{k}")
        assert len(store._read_manifest()["files"]) > 32
        store.SMALL_COMMIT_ROWS = 0  # the GSP read's Spark path
        jobs, body = count_jobs(lambda: "".join(srv.gsp_read(store, self.G)[1]))
        assert body.count("\n") == 20 + 40 + 40
        assert jobs == 1
        del store.SMALL_COMMIT_ROWS
        s = f"{EX}s7"
        jobs, _ = count_jobs(lambda: srv.run_update(
            store, f'DELETE {{ <{s}> <{EX}p> ?o }} INSERT {{ <{s}> <{EX}p> "m" }} '
            f"WHERE {{ <{s}> <{EX}p> ?o }}",
        ))
        assert jobs == 1

    def test_unconstrained_select_is_one_job(self, loaded, count_jobs):
        srv, store = loaded
        q = f"SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o }}"
        jobs, body = count_jobs(lambda: "".join(srv.run_query(store, q)[1]))
        assert len(json.loads(body)["results"]["bindings"]) == 200
        assert jobs == 1

    def test_gsp_get_of_one_graph_is_one_job(self, loaded, count_jobs):
        srv, store = loaded
        store.SMALL_COMMIT_ROWS = 0  # over the bound: the Spark path
        jobs, body = count_jobs(lambda: "".join(srv.gsp_read(store, self.G)[1]))
        assert body.count("\n") == 20
        assert jobs == 1

    def test_gsp_get_of_one_graph_on_a_small_store_runs_no_job(self, loaded, count_jobs):
        srv, store = loaded
        jobs, body = count_jobs(lambda: "".join(srv.gsp_read(store, self.G)[1]))
        assert body.count("\n") == 20
        assert jobs == 0
        assert spilled(store) == []

    def test_count_by_graph_is_one_job(self, loaded, count_jobs):
        srv, store = loaded
        q = f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{self.G}> {{ ?s ?p ?o }} }}"
        jobs, body = count_jobs(lambda: "".join(srv.run_query(store, q)[1]))
        assert json.loads(body)["results"]["bindings"][0]["n"]["value"] == "20"
        assert jobs == 1

    def test_group_by_aggregate_is_one_job(self, loaded, count_jobs):
        srv, store = loaded
        q = f"SELECT ?o (COUNT(?s) AS ?n) WHERE {{ ?s <{EX}p> ?o }} GROUP BY ?o"
        jobs, body = count_jobs(lambda: "".join(srv.run_query(store, q)[1]))
        b = json.loads(body)["results"]["bindings"]
        assert len(b) == 200 and {x["n"]["value"] for x in b} == {"1"}
        assert jobs == 1

    def test_point_delete_insert_where_is_one_job(self, spark, loaded, count_jobs):
        srv, store = loaded
        s = f"{EX}s7"
        jobs, _ = count_jobs(lambda: srv.run_update(
            store,
            f'DELETE {{ <{s}> <{EX}p> ?o }} INSERT {{ <{s}> <{EX}p> "m" }} '
            f"WHERE {{ <{s}> <{EX}p> ?o }}",
        ))
        assert jobs == 1
        got = {(r.graph, r.object_value) for r in store.read(spark).collect() if r.subject == s}
        assert got == {("", "m"), (self.G, "v7")}

    def test_joined_delete_insert_where_is_one_job(self, spark, loaded, count_jobs):
        # a WHERE joining two patterns gets a query's one-task plan: no
        # broadcast job for either side
        srv, store = loaded
        jobs, _ = count_jobs(lambda: srv.run_update(
            store,
            f'WITH <{self.T}> DELETE {{ ?s <{EX}val> ?v }} INSERT {{ ?s <{EX}val> "0" }} '
            f"WHERE {{ ?s <{EX}type> <{EX}C0> . ?s <{EX}val> ?v FILTER(?v < 30) }}",
        ))
        assert jobs == 1
        got = {(r.subject, r.object_value) for r in store.read(spark).collect()
               if r.graph == self.T and r.predicate == f"{EX}val"}
        hit = lambda i: i % 2 == 0 and i * 7 % 50 < 30  # noqa: E731
        assert got == {(f"{EX}t{i}", "0" if hit(i) else str(i * 7 % 50)) for i in range(60)}


class TestGspReadPaths:
    """``gsp_read`` at the size bound (the driver's Arrow read, no job)
    and one row under it (one Spark job) answers the same, for every
    negotiated syntax and every selector.  The store mixes bnode
    subjects and objects, language-tagged and typed literals, an escaped
    string, and a Spark-written leaf whose columns are marked not null
    next to driver-written ones."""

    G = f"{EX}diff"
    SYNTAXES = ("application/n-quads", "text/turtle", "application/trig",
                "application/ld+json", "application/rdf+xml")

    @pytest.fixture(scope="class")
    def store(self, spark, tmp_path_factory):
        import pyarrow.parquet as pq

        store = QuadStore(str(tmp_path_factory.mktemp("gsp-paths") / "quads"))
        spark_rows = [(g, f"{EX}d{i}", f"{EX}p", "literal", str(i), f"{XSD}integer", None)
                      for i in range(40) for g in ("", self.G)]
        store.commit(spark, adds=quad_frame(spark, spark_rows), txn_id="spark-tier")
        leaf = os.path.join(store.files_dir, store._read_manifest()["files"][0])
        part = next(f for f in os.listdir(leaf) if f.endswith(".parquet"))
        assert not pq.read_schema(os.path.join(leaf, part)).field("subject").nullable
        driver_rows = []
        for g in ("", self.G, f"{EX}other"):
            driver_rows += [
                (g, "_:b1", f"{EX}name", "literal", "chat", None, "fr"),
                (g, "_:b1", f"{EX}name", "literal", "cat", None, "en-GB"),
                (g, "_:b1", f"{EX}knows", "bnode", "_:b2", None, None),
                (g, "_:b2", f"{EX}when", "literal", "2024-01-01", f"{XSD}date", None),
                (g, f"{EX}d3", f"{EX}note", "literal", 'say "hi"\nbye', None, None),
                (g, f"{EX}d3", f"{EX}link", "iri", f"{EX}d4", None, None),
            ]
        store.commit(spark, adds=driver_rows)
        return store

    @pytest.mark.parametrize("selector", ["graph", "default", "dataset", "absent"])
    def test_driver_and_spark_reads_agree(self, spark, store, count_jobs, selector):
        from jena_fuseki_kafka_spark.rdf.content_types import parse_payload
        from jena_fuseki_kafka_spark.server import NotAcceptable

        graph = {"graph": self.G, "default": "default", "dataset": None,
                 "absent": f"{EX}absent"}[selector]
        srv = SparqlHttpServer(spark, store)
        rows = store.count(spark)

        def read(accept, bound):
            store.SMALL_COMMIT_ROWS = bound
            try:
                ct, chunks = srv.gsp_read(store, graph, accept)
                return ct, "".join(chunks)
            finally:
                del store.SMALL_COMMIT_ROWS

        for accept in self.SYNTAXES:
            if graph is None and accept in ("text/turtle", "application/rdf+xml"):
                for bound in (rows, rows - 1):
                    with pytest.raises(NotAcceptable):
                        read(accept, bound)
                continue
            got = []
            for bound in (rows, rows - 1):
                jobs, (ct, body) = count_jobs(lambda: read(accept, bound))
                assert (jobs == 0) == (bound == rows), (accept, bound, jobs)
                if accept == "application/n-quads":
                    got.append(Counter(body.splitlines()))
                else:
                    got.append(sorted(parse_payload(body, ct), key=repr))
            assert got[0] == got[1], (selector, accept)
            assert (len(got[0]) == 0) == (selector == "absent"), (selector, accept)
