"""Kafka and HTTP writes agree: the same RDF Patch applied as an ingest
event (``apply_event_batch``, last op wins) and as an HTTP PATCH (one
ordered update transaction) leaves the same store, and a GSP PUT leaves
the same store as ``DROP SILENT GRAPH`` plus ``INSERT DATA``.
"""

import datetime
import urllib.request
from collections import Counter

import pytest

from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA, apply_event_batch
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.store import QuadStore

EX = "http://example.org/"
G = EX + "g"


def quad(s, v, graph=""):
    return (graph, EX + s, EX + "p", "literal", v, None, None)


def nt(row) -> str:
    graph = f" <{row[0]}>" if row[0] else ""
    return f'<{row[1]}> <{row[2]}> "{row[4]}"{graph} .'


def rows(spark, store) -> Counter:
    return Counter(tuple(r) for r in store.read(spark).collect())


def send(url, method, data: bytes, content_type: str) -> int:
    r = urllib.request.Request(url, data=data, method=method)
    r.add_header("Content-Type", content_type)
    try:
        with urllib.request.urlopen(r) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


@pytest.fixture()
def over_http(spark, tmp_path):
    """Seed a store with ``seed``, start a server over it: (url, store)."""
    servers = []

    def start(seed, name="http"):
        store = QuadStore(str(tmp_path / name))
        if seed:
            store.commit(spark, adds=seed)
        srv = SparqlHttpServer(spark, store, dataset="ds")
        servers.append(srv)
        return f"http://127.0.0.1:{srv.start()}/ds", store

    yield start
    for srv in servers:
        srv.stop()


Q, Q0, Q1 = quad("q", "1"), quad("q0", "0"), quad("q1", "1", G)

PATCHES = {
    "add_then_delete": ([], [f"A {nt(Q)}", f"D {nt(Q)}"]),
    "delete_then_add": ([Q], [f"D {nt(Q)}", f"A {nt(Q)}"]),
    "add_then_aborted_segment": (
        [Q0],
        [f"A {nt(Q)}", "TC .", "TX .", f"A {nt(Q1)}", f"D {nt(Q0)}", "TA ."],
    ),
}


@pytest.mark.parametrize("case", sorted(PATCHES))
def test_patch_over_kafka_and_http_leaves_the_same_store(spark, tmp_path, over_http, case):
    seed, lines = PATCHES[case]
    patch = "\n".join(["TX .", *lines] + ([] if lines[-1] == "TA ." else ["TC ."])) + "\n"

    kafka = QuadStore(str(tmp_path / "kafka"))
    if seed:
        kafka.commit(spark, adds=seed)
    event = (b"k", patch.encode(), [("Content-Type", b"application/rdf-patch")], "t", 0, 0,
             datetime.datetime(2026, 1, 1))
    res = apply_event_batch(spark, kafka, spark.createDataFrame([event], EVENT_SCHEMA))
    assert res["n_dlq"] == 0

    url, http = over_http(seed)
    assert send(f"{url}/patch", "PATCH", patch.encode(), "application/rdf-patch") == 200
    assert rows(spark, http) == rows(spark, kafka)
    expected = {
        "add_then_delete": Counter(),
        "delete_then_add": Counter([Q]),
        "add_then_aborted_segment": Counter([Q0, Q]),
    }[case]
    assert rows(spark, http) == expected


def test_gsp_put_equals_drop_silent_graph_then_insert_data(spark, over_http):
    seed = [quad("old", "1", G), quad("keep", "1"), quad("other", "1", EX + "h")]
    body = [quad("new", "1"), quad("new", "2")]
    put_url, put_store = over_http(seed, "put")
    upd_url, upd_store = over_http(seed, "update")

    doc = "\n".join(nt(r) for r in body).encode()
    assert send(f"{put_url}/data?graph={G}", "PUT", doc, "application/n-triples") == 200
    triples = " ".join(nt(r) for r in body)
    update = f"DROP SILENT GRAPH <{G}> ; INSERT DATA {{ GRAPH <{G}> {{ {triples} }} }}"
    assert send(f"{upd_url}/update", "POST", update.encode(), "application/sparql-update") == 200

    assert rows(spark, put_store) == rows(spark, upd_store)
    assert rows(spark, put_store) == Counter(seed[1:] + [(G,) + r[1:] for r in body])


def test_gsp_body_with_deletes_is_400_and_writes_nothing(spark, over_http):
    url, store = over_http([Q0])
    patch = f"TX .\nA {nt(Q)}\nD {nt(Q0)}\nTC .\n".encode()
    for method in ("PUT", "POST"):
        assert send(f"{url}/data?default", method, patch, "application/rdf-patch") == 400
    assert rows(spark, store) == Counter([Q0])


@pytest.mark.parametrize("graph", ["all", "named"])
def test_gsp_delete_clears_only_the_named_graph(spark, over_http, graph):
    """A graph whose IRI reads like a CLEAR keyword is still one graph."""
    keep = [quad("a", "1"), quad("b", "1", G)]
    url, store = over_http(keep + [quad("c", "1", graph)])
    r = urllib.request.Request(f"{url}/data?graph={graph}", method="DELETE")
    with urllib.request.urlopen(r) as resp:
        assert resp.status == 204
    assert rows(spark, store) == Counter(keep)
