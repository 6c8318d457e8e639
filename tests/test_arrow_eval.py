"""The driver's Arrow evaluator (``sparql.arrow_eval``) against the Spark
translator, differentially, over generated data and generated queries
inside the evaluator's fragment.

Every generated query must answer the same on three paths: the driver
(``plan_query`` over a small ``Snapshot``), small Spark (the translator's
one-task plans) and split Spark (``SMALL_COMMIT_ROWS = 0``: file-split
plans), through the engine; one query per example also goes through HTTP
on the driver and on the Spark path.  A generated update (``INSERT …
WHERE``, sometimes after a ``DELETE DATA``, ``INSERT DATA`` or ``CLEAR``
in the same request) must leave the same store on the driver path as on
the DataFrame path (``DRIVER_COMMIT_ROWS = -1``).

The generator is seeded (``derandomize``, no example database), so a run
is reproducible.  Tier-1 budget: 150 s for this module on 4 vCPUs
(``local[4]``); it measured about 130 s.
"""

import json
import re
import urllib.request
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.sparql import SparqlEngine, arrow_eval
from jena_fuseki_kafka_spark.sparql.parser import parse_sparql
from jena_fuseki_kafka_spark.sparql.update import UpdateEngine
from jena_fuseki_kafka_spark.store import QuadStore

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
G1, G2 = f"{EX}g1", f"{EX}g2"
PREFIX = f"PREFIX xsd: <{XSD}> "

# ------------------------------------------------------------ data
SUBJECTS = [f"{EX}a", f"{EX}b", "_:b1"]
PREDICATES = [f"{EX}p", f"{EX}q"]
OBJECTS = [
    ("iri", f"{EX}a", None, None),
    ("iri", f"{EX}b", None, None),
    ("bnode", "_:b1", None, None),
    ("literal", "a", None, None),
    ("literal", "a", f"{XSD}string", None),
    ("literal", "chat", None, "en"),
    ("literal", "chat", None, "EN"),
    ("literal", "5", None, None),
    ("literal", "5", f"{XSD}integer", None),
    ("literal", "05", f"{XSD}integer", None),
    ("literal", "-3", f"{XSD}integer", None),
    ("literal", "1.5", f"{XSD}decimal", None),
    ("literal", "1e3", f"{XSD}double", None),
    ("literal", "2024-01-01", f"{XSD}date", None),
    # numeric datatypes with invalid lexical forms, and the forms Spark's
    # string-to-double cast accepts beyond the XSD grammar
    ("literal", "abc", f"{XSD}integer", None),
    ("literal", "1.5", f"{XSD}integer", None),
    ("literal", " 7", f"{XSD}integer", None),
    ("literal", "1_000", f"{XSD}integer", None),
    ("literal", "7d", f"{XSD}double", None),
    ("literal", "0x1p3", f"{XSD}double", None),
    ("literal", "NaN", f"{XSD}double", None),
    ("literal", "INF", f"{XSD}double", None),
    ("literal", "-inf", f"{XSD}float", None),
]
quads = st.lists(
    st.tuples(
        st.sampled_from(["", G1, G2]), st.sampled_from(SUBJECTS),
        st.sampled_from(PREDICATES), st.sampled_from(OBJECTS),
    ).map(lambda q: (q[0], q[1], q[2], *q[3])),
    min_size=12, max_size=40, unique=True,
)

# ------------------------------------------------------------ queries
VARS = ["?x", "?y", "?z"]
S_TERMS = VARS * 3 + [f"<{EX}a>", f"<{EX}b>", "_:n1"]
P_TERMS = ["?p", "?q", f"<{EX}p>", f"<{EX}q>"]
O_TERMS = VARS * 5 + [f"<{EX}a>", "_:n1", '"a"', '"a"^^xsd:string', '"chat"@en', "5",
                      '"5"^^xsd:integer', "1.5", '"abc"^^xsd:integer', '"05"^^xsd:integer']
NUMBERS = ["0", "5", "-3", "1.5", "1e3", "7", '"NaN"^^xsd:double', '"INF"^^xsd:double',
           '"7"^^xsd:float']
GRAPHS = [None, f"<{G1}>", f"<{G2}>", "?g"]


def _vars(text: str) -> list[str]:
    return sorted(set(re.findall(r"\?\w+", text)))


def _triple(draw, subjects=S_TERMS):
    return " ".join((draw(st.sampled_from(subjects)), draw(st.sampled_from(P_TERMS)),
                     draw(st.sampled_from(O_TERMS))))


@st.composite
def groups(draw, depth=0):
    """A group graph pattern: triples, then OPTIONALs keyed on a variable
    already used, nested GRAPH groups and FILTERs over used variables."""
    parts = [" . ".join(_triple(draw) for _ in range(draw(st.integers(1, 2))))]
    for _ in range(draw(st.integers(0, 2))):
        used = _vars(" ".join(parts))
        kind = draw(st.sampled_from(["optional", "graph", "filter"] if depth < 2 else ["filter"]))
        if kind == "optional" and used:
            inner = " . ".join(
                [_triple(draw, [draw(st.sampled_from(used))])]
                + [_triple(draw) for _ in range(draw(st.integers(0, 1)))]
            )
            parts.append(f"OPTIONAL {{ {inner} }}")
        elif kind == "graph":
            parts.append(f"GRAPH {draw(st.sampled_from(GRAPHS[1:]))} {{ {draw(groups(depth + 1))} }}")
        elif kind == "filter" and set(used) & set(VARS):
            tests = []
            for _ in range(draw(st.integers(1, 2))):
                v = draw(st.sampled_from(sorted(set(used) & set(VARS))))
                n = draw(st.sampled_from(NUMBERS))
                op = draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
                tests.append(f"{v} {op} {n}" if draw(st.booleans()) else f"{n} {op} {v}")
            parts.append(f"FILTER({' && '.join(tests)})")
    text = " ".join(parts)
    graph = draw(st.sampled_from(GRAPHS)) if depth == 0 else None
    return f"GRAPH {graph} {{ {text} }}" if graph else text


@st.composite
def query_texts(draw):
    where = draw(groups())
    used = [v for v in _vars(where) if v != "?n"] or ["?x"]
    form = draw(st.sampled_from(["star", "vars", "ask", "group", "count"]))
    if form == "star":
        head = "SELECT *"
    elif form == "vars":
        head = "SELECT " + " ".join(draw(st.lists(st.sampled_from(used + ["?unbound"]),
                                                  min_size=1, max_size=3, unique=True)))
    elif form == "ask":
        return f"{PREFIX}ASK {{ {where} }}"
    elif form == "group":
        keys = draw(st.lists(st.sampled_from(used), min_size=1, max_size=2, unique=True))
        counted = draw(st.sampled_from(["*"] + used))
        return (f"{PREFIX}SELECT {' '.join(keys)} (COUNT({counted}) AS ?n) "
                f"WHERE {{ {where} }} GROUP BY {' '.join(keys)}")
    else:
        head = f"SELECT (COUNT({draw(st.sampled_from(['*'] + used))}) AS ?n)"
    return f"{PREFIX}{head} WHERE {{ {where} }}"


def in_fragment(text: str) -> bool:
    return arrow_eval.plan_query(parse_sparql(text)) is not None


fragment_queries = query_texts().filter(in_fragment)


def _term_text(kind, value, dt, lang) -> str:
    if kind == "iri":
        return f"<{value}>"
    return f'"{value}"' + (f"@{lang}" if lang else f"^^<{dt}>" if dt else "")


@st.composite
def updates(draw, data):
    """An INSERT … WHERE into <out>, after an optional first operation on
    the same request's pending state."""
    where = draw(groups())
    used = _vars(where) or ["?x"]
    s, o = draw(st.sampled_from(used)), draw(st.sampled_from(used + [f"<{EX}a>"]))
    first = draw(st.sampled_from(["", "delete", "insert", "clear"]))
    prefix = ""
    plain = [q for q in data if not q[1].startswith("_:") and q[3] != "bnode"]
    if first == "delete" and plain:
        g, s0, p0, *obj = draw(st.sampled_from(plain))
        quad = f"<{s0}> <{p0}> {_term_text(*obj)}"
        prefix = f"DELETE DATA {{ {f'GRAPH <{g}> {{ {quad} }}' if g else quad} }} ; "
    elif first == "insert":
        prefix = f'INSERT DATA {{ GRAPH <{G1}> {{ <{EX}a> <{EX}p> "new" }} <{EX}c> <{EX}q> 5 }} ; '
    elif first == "clear":
        prefix = f"CLEAR GRAPH <{G1}> ; "
    return (f"{PREFIX}{prefix}INSERT {{ GRAPH <{EX}out> {{ {s} <{EX}made> {o} }} }} "
            f"WHERE {{ {where} }}")


# ------------------------------------------------------------ the three paths
def _store(spark, rows, tmp) -> QuadStore:
    store = QuadStore(str(tmp.mktemp("arrow-eval") / "quads"))
    if rows:
        store.commit(spark, adds=rows)
    return store


def _term(t):
    return None if t is None else (t["kind"], t["value"], t["datatype"], t["lang"])


def driver_answer(spark, store, text):
    ast = parse_sparql(text)
    plan = arrow_eval.plan_query(ast)
    snapshot = store.snapshot(spark)
    assert snapshot.small
    try:
        answer = plan.run(snapshot, store.SMALL_COMMIT_ROWS)
    finally:
        snapshot.release()
    if plan.vars is None:
        return answer
    names = [ast.var_names.get(v, v) for v in plan.vars]
    rows = arrow_eval.solutions(answer, plan.vars)
    return names, Counter(tuple(_term(t) for t in row.values()) for row in rows)


def spark_answer(spark, store, text, split: bool):
    if split:
        store.SMALL_COMMIT_ROWS = 0
    try:
        engine = SparqlEngine.from_store(spark, store)
        assert engine.snapshot.small != split
        try:
            _, result = engine.query_typed(text)
            if isinstance(result, bool):
                return result
            return result.columns, Counter(tuple(_term(t) for t in r) for r in result.collect())
        finally:
            engine.snapshot.release()
    finally:
        if split:
            del store.SMALL_COMMIT_ROWS


def http_answer(url, text):
    body = urllib.request.urlopen(urllib.request.Request(
        f"{url}/query", data=text.encode(), method="POST",
        headers={"Content-Type": "application/sparql-query"},
    )).read()
    j = json.loads(body)
    if "boolean" in j:
        return j["boolean"]
    return j["head"]["vars"], Counter(json.dumps(b, sort_keys=True) for b in j["results"]["bindings"])


def store_rows(spark, store) -> Counter:
    snapshot = store.snapshot(spark)
    try:
        return Counter(tuple(r.values()) for r in snapshot.arrow().to_pylist())
    finally:
        snapshot.release()


@settings(max_examples=25, deadline=None, derandomize=True, database=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data(), rows=quads)
def test_fragment_answers_agree_on_every_path(spark, tmp_path_factory, data, rows):
    texts = data.draw(st.lists(fragment_queries, min_size=3, max_size=3), label="queries")
    store = _store(spark, rows, tmp_path_factory)
    for text in texts:
        want = driver_answer(spark, store, text)
        assert spark_answer(spark, store, text, split=False) == want, text
        assert spark_answer(spark, store, text, split=True) == want, text
    # one query per example through HTTP, on the driver and on Spark
    srv = SparqlHttpServer(spark, store)
    url = f"http://127.0.0.1:{srv.start()}/ds"
    try:
        on_driver = http_answer(url, texts[0])
        store.SMALL_COMMIT_ROWS = 0
        try:
            assert http_answer(url, texts[0]) == on_driver, texts[0]
        finally:
            del store.SMALL_COMMIT_ROWS
        counts = srv.stats()["datasets"]["/ds"]["evaluations"]["query"]
        assert counts == {"driver": 1, "spark": 1}
    finally:
        srv.stop()


@settings(max_examples=12, deadline=None, derandomize=True, database=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data(), rows=quads)
def test_insert_where_leaves_one_store_on_both_template_paths(spark, tmp_path_factory, data, rows):
    text = data.draw(updates(rows), label="update")
    stores, paths = [], []
    for cap in (None, -1):
        store = _store(spark, rows, tmp_path_factory)
        if cap is not None:
            store.DRIVER_COMMIT_ROWS = cap
        UpdateEngine(spark, store, on_where=paths.append).update(text, txn_id="t")
        stores.append(store_rows(spark, store))
    assert stores[0] == stores[1], text
    assert paths[1] is False


SPARK_CAST_CASES = [
    " 5", "5 ", "\t5\n", "5d", "5F", "0x10", "0x1p3", "0X1P-2", "0x.8p1", "1e3", "+5", ".5",
    "5.", "inf", "Inf", "+inf", "-inf", "Infinity", "-INFINITY", "NaN", "nan", "-NaN", "-nan",
    "1_000", "١٢", "", " ", "abc", "1e", "0x", "1.5e-3f", "\xa05", "1e400", "-0",
    "5L", "\x0b5", "5\x00", "iNf", "1.5", "00012",
]


def test_spark_double_is_sparks_cast(spark):
    from pyspark.sql import functions as F

    got = [r[0] for r in spark.createDataFrame([(v,) for v in SPARK_CAST_CASES], "v string")
           .select(F.col("v").try_cast("double")).collect()]
    for value, spark_value in zip(SPARK_CAST_CASES, got):
        want = arrow_eval.spark_double(value)
        assert (spark_value is None) == (want is None), value
        if want is not None:
            assert repr(spark_value) == repr(want), value
