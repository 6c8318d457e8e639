"""The store's read layout: a snapshot of at most ``SMALL_COMMIT_ROWS``
rows is read as one partition and its queries run as one task, a bigger
one as the files split.

The one-partition layout exists to save Spark jobs (no shuffle stage for
an aggregate, no second scan for a bounded probe, no broadcast for a
join), so it must never change an answer: both layouts are run side by
side at the bound, shrunk per instance the way the commit-tier tests
shrink it.  A constant subject scans only its bucket's leaves on either
layout, every pattern of a query scans one snapshot, and the row count
that picks the layout must come from leaf footers read once per leaf.
"""

from __future__ import annotations

import json

import pytest

from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
from jena_fuseki_kafka_spark.rdf.content_types import parse_payload
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.sparql import SparqlEngine
from jena_fuseki_kafka_spark.store import QuadStore
from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket

E = "http://e/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
N_SUBJECTS = 60


def graph(j: int) -> str:
    return f"{E}g{j}"


def preload() -> list[tuple]:
    """Every subject has type / val / name / link, every third one opt,
    spread over three graphs; vals are distinct, so ORDER BY is total."""
    rows = []
    for i in range(N_SUBJECTS):
        g, s = graph(i % 3), f"{E}s{i}"
        rows += [
            (g, s, f"{E}type", "iri", f"{E}C{i % 4}", None, None),
            (g, s, f"{E}val", "literal", str((i * 37) % 1000), XSD_INT, None),
            (g, s, f"{E}name", "literal", f"name{i}", None, None),
            (g, s, f"{E}link", "iri", f"{E}s{(i * 13 + 1) % N_SUBJECTS}", None, None),
        ]
        if i % 3 == 0:
            rows.append((g, s, f"{E}opt", "literal", f"opt{i}", None, None))
    return rows


def snapshot(spark, store) -> list[tuple]:
    return sorted(tuple(r) for r in store.read(spark).collect())


@pytest.fixture()
def layouts(spark, tmp_path):
    """Two stores with the same rows: one at SMALL_COMMIT_ROWS (read as
    one partition), one whose bound sits a row below (store at the bound
    + 1: read as the files split)."""
    rows = preload()
    stores = {}
    for name, bound in [("one", len(rows)), ("split", len(rows) - 1)]:
        store = QuadStore(str(tmp_path / name))
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id="pre")
        store.SMALL_COMMIT_ROWS = bound
        stores[name] = store
    assert stores["one"].read(spark).rdd.getNumPartitions() == 1
    assert stores["split"].read(spark).rdd.getNumPartitions() > 1
    assert stores["one"].snapshot(spark).small and not stores["split"].snapshot(spark).small
    return SparqlHttpServer(spark, stores["one"]), stores


def bindings(body: str) -> list[str]:
    return [json.dumps(b, sort_keys=True) for b in json.loads(body)["results"]["bindings"]]


def turtle(body: str) -> tuple[set, int]:
    """(the triples, the number of subject blocks): a subject-grouped
    body has exactly one block per subject."""
    triples = {op[1:] for op in parse_payload(body, "text/turtle")}
    return triples, sum(1 for line in body.splitlines() if line and not line[0].isspace())


QUERIES = {
    "count_by_graph": (
        "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g", False,
    ),
    "group_by": (
        f"SELECT ?c (COUNT(?s) AS ?n) WHERE {{ GRAPH <{graph(0)}> {{ ?s <{E}type> ?c }} }} "
        "GROUP BY ?c", False,
    ),
    "bgp_filter_optional": (
        f"SELECT ?s ?v ?o WHERE {{ GRAPH <{graph(1)}> {{ ?s <{E}type> <{E}C1> . "
        f"?s <{E}val> ?v . FILTER(?v < 700) OPTIONAL {{ ?s <{E}opt> ?o }} }} }}", False,
    ),
    "order_by_desc": (
        f"SELECT ?s ?v WHERE {{ GRAPH ?g {{ ?s <{E}val> ?v }} }} ORDER BY DESC(?v)", True,
    ),
    "union": (
        f"SELECT ?s ?x WHERE {{ GRAPH <{graph(0)}> {{ {{ ?s <{E}type> ?x }} "
        f"UNION {{ ?s <{E}opt> ?x }} }} }}", False,
    ),
    "minus": (
        f"SELECT ?s WHERE {{ GRAPH ?g {{ ?s <{E}type> <{E}C2> "
        f"MINUS {{ ?s <{E}opt> ?o }} }} }}", False,
    ),
    # ?o is unbound where the OPTIONAL found nothing, so the second
    # OPTIONAL joins on a maybe-unbound var: the compatible-mapping join
    "optional_filter_unbound": (
        f"SELECT ?s ?o ?n WHERE {{ GRAPH ?g {{ ?s <{E}type> ?c "
        f"OPTIONAL {{ ?s <{E}opt> ?o }} OPTIONAL {{ ?s <{E}name> ?n . ?s <{E}opt> ?o "
        f'FILTER(?n != "name3") }} }} FILTER(!BOUND(?o) || ?c = <{E}C0>) }}', False,
    ),
    "values_undef": (
        f"SELECT ?s ?c ?v WHERE {{ GRAPH ?g {{ ?s <{E}type> ?c . ?s <{E}val> ?v }} "
        f'VALUES (?c ?v) {{ (<{E}C1> UNDEF) (UNDEF "74"^^<{XSD_INT}>) }} }}', False,
    ),
    "path_plus": (
        f"SELECT ?o FROM <{graph(0)}> FROM <{graph(1)}> FROM <{graph(2)}> "
        f"WHERE {{ <{E}s0> <{E}link>+ ?o }}", False,
    ),
    "from_and_from_named": (
        f"SELECT ?g ?s ?v FROM <{graph(0)}> FROM NAMED <{graph(2)}> WHERE {{ "
        f"{{ ?s <{E}val> ?v }} UNION {{ GRAPH ?g {{ ?s <{E}val> ?v }} }} }}", False,
    ),
    "graph_var": (
        f"SELECT ?g ?v WHERE {{ GRAPH ?g {{ <{E}s5> <{E}val> ?v }} }}", False,
    ),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_select_answers_agree_across_layouts(layouts, name):
    srv, stores = layouts
    q, ordered = QUERIES[name]
    got = {k: bindings("".join(srv.run_query(s, q)[1])) for k, s in stores.items()}
    assert got["one"], name
    if ordered:
        assert got["one"] == got["split"]
    else:
        assert sorted(got["one"]) == sorted(got["split"])


def test_graph_answers_agree_across_layouts(layouts):
    srv, stores = layouts
    describe = f"DESCRIBE ?s WHERE {{ GRAPH <{graph(2)}> {{ ?s <{E}type> <{E}C2> }} }}"
    for fetch in (
        lambda s: srv.run_query(s, describe, accept="text/turtle"),
        lambda s: srv.gsp_read(s, graph(1), accept="text/turtle"),
    ):
        got = {k: turtle("".join(fetch(s)[1])) for k, s in stores.items()}
        triples, blocks = got["one"]
        assert triples and blocks == len({t[1] for t in triples})
        assert got["one"] == got["split"]


def test_delete_where_agrees_across_layouts(spark, layouts):
    srv, stores = layouts
    for s in stores.values():
        srv.run_update(s, f"DELETE WHERE {{ GRAPH <{graph(0)}> {{ ?s <{E}opt> ?o }} }}")
    after = snapshot(spark, stores["one"])
    assert after == snapshot(spark, stores["split"])
    assert len(after) == len(preload()) - len(range(0, N_SUBJECTS, 3))


def test_constant_subject_prunes_to_its_bucket_on_one_partition(spark, layouts):
    _, stores = layouts
    store = stores["one"]
    subject = f"{E}s7"
    df = SparqlEngine.from_store(spark, store).query(
        f"SELECT ?p ?o WHERE {{ GRAPH ?g {{ <{subject}> ?p ?o }} }}"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "subject" in plan.split("PushedFilters:")[1].split("]")[0], plan
    bucket = spark_bucket(subject, store.n_buckets)
    leaves = {f for f in store._read_manifest()["files"] if store._bucket_of(f) == bucket}
    scanned = {f.split("/files/")[1].rsplit("/", 1)[0] for f in df.inputFiles()}
    assert scanned and scanned <= leaves, (scanned, leaves)
    assert len(df.collect()) == 4  # s7: type, val, name, link (7 % 3 != 0: no opt)


def rows(df) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())


@pytest.mark.parametrize("layout", ["one", "split"])
def test_pruned_subject_query_equals_full_scan(spark, layouts, layout):
    """A constant IRI subject scans its bucket's leaves only; the answer
    equals the engine's over one full scan, also under FROM / FROM NAMED
    and the protocol's dataset, and a bnode subject (a variable) prunes
    nothing."""
    store = layouts[1][layout]
    s = f"{E}s7"  # in graph(1)
    cases = [
        (f"SELECT ?g ?p ?o WHERE {{ GRAPH ?g {{ <{s}> ?p ?o }} }}", None),
        (f"SELECT ?p ?o FROM <{graph(1)}> WHERE {{ <{s}> ?p ?o }}", None),
        (f"SELECT ?p ?o FROM <{graph(2)}> WHERE {{ <{s}> ?p ?o }}", None),
        (f"SELECT ?g ?p ?o FROM NAMED <{graph(1)}> WHERE {{ GRAPH ?g {{ <{s}> ?p ?o }} }}", None),
        (f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}", ([graph(1)], [])),
        (f"SELECT ?g ?p ?o WHERE {{ GRAPH ?g {{ <{s}> ?p ?o }} }}", ([], [graph(2)])),
        (f"SELECT ?v ?n WHERE {{ GRAPH ?g {{ <{s}> <{E}link> ?t }} GRAPH ?h {{ ?t <{E}val> ?v }} "
         f"OPTIONAL {{ GRAPH ?k {{ ?t <{E}name> ?n }} }} }}", None),
        (f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH ?g {{ _:b <{E}val> ?o }} }}", None),
    ]
    answers = []
    for q, ds in cases:
        pruned = rows(SparqlEngine.from_store(spark, store).query(q, dataset=ds))
        assert pruned == rows(SparqlEngine(store.read(spark)).query(q, dataset=ds)), q
        answers.append(len(pruned))
    assert answers == [4, 4, 0, 4, 4, 0, 1, 1], answers


@pytest.mark.parametrize("layout", ["one", "split"])
def test_query_answers_from_the_snapshot_it_was_built_on(spark, layouts, layout):
    """Build the queries, then commit a delete in every bucket, then
    execute: the answers are the earlier snapshot's."""
    store = layouts[1][layout]
    scan = f"SELECT ?s ?v WHERE {{ GRAPH ?g {{ ?s <{E}val> ?v . ?s <{E}type> ?c }} }}"
    point = f"SELECT ?v WHERE {{ GRAPH ?g {{ <{E}s7> <{E}val> ?v }} }}"
    before = [rows(SparqlEngine(store.read(spark)).query(q)) for q in (scan, point)]
    built = [SparqlEngine.from_store(spark, store).query(q) for q in (scan, point)]
    vals = [tuple(r) for r in store.read(spark).collect() if r.predicate == f"{E}val"]
    assert {spark_bucket(r[1], store.n_buckets) for r in vals} == set(range(store.n_buckets))
    store.commit(spark, deletes=vals, txn_id="del-vals")
    assert rows(SparqlEngine.from_store(spark, store).query(scan)) == []
    assert [rows(df) for df in built] == before
    assert len(before[0]) == N_SUBJECTS and len(before[1]) == 1


def test_unchanged_snapshot_reads_no_footer(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    store = QuadStore(str(tmp_path / "memo"))
    store.commit(spark, adds=spark.createDataFrame(preload(), QUAD_SCHEMA), txn_id="pre")
    opened = []
    real = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata", lambda *a, **k: opened.append(a) or real(*a, **k))
    store.read(spark)
    assert len(opened) >= len(store._read_manifest()["files"])  # first sight of each leaf
    opened.clear()
    store.read(spark)
    store.snapshot(spark).scan(f"{E}s7")
    assert opened == []
