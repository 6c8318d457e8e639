"""SPARQL facade tests.

Fixtures mirror the reference's own SPARQL usage: the acceptance count
query (DockerTestConfigFK.java:394), the OPTIONAL/BIND/COALESCE pattern
(KafkaConnectorAssembler.java:380-390), plus spec-level checks for each
algebra operator (SURVEY.md §2B).
"""

import pytest

from pyspark.sql import functions as F

from jena_fuseki_kafka_spark.model import DEFAULT_GRAPH, QUAD_SCHEMA
from jena_fuseki_kafka_spark.sparql import SparqlEngine

EX = "http://example.org/"


def q(s, p, o, kind="iri", dt=None, lang=None, g=DEFAULT_GRAPH):
    return (g, EX + s, EX + p, kind, (EX + o) if kind == "iri" else o, dt, lang)


XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


@pytest.fixture(scope="module")
def engine(spark):
    rows = [
        # people with names, ages, knows-edges
        q("alice", "name", "Alice", kind="literal"),
        q("alice", "age", "30", kind="literal", dt=XSD_INT),
        q("alice", "knows", "bob"),
        q("bob", "name", "Bob", kind="literal"),
        q("bob", "age", "25", kind="literal", dt=XSD_INT),
        q("bob", "knows", "carol"),
        q("carol", "name", "Carol", kind="literal"),
        q("carol", "age", "35", kind="literal", dt=XSD_INT),
        q("dave", "name", "Dave", kind="literal"),  # no age, no knows
        # typed data in a named graph
        q("alice", "email", "alice@example.org", kind="literal", g=EX + "g1"),
        q("bob", "email", "bob@example.org", kind="literal", g=EX + "g1"),
        # labels with language tags
        q("alice", "label", "Alicia", kind="literal", lang="es"),
    ]
    quads = spark.createDataFrame(rows, QUAD_SCHEMA)
    return SparqlEngine(quads)


def vals(df, col):
    return [r[col] for r in df.collect()]


class TestBasicPatterns:
    def test_spo_scan(self, engine):
        df = engine.select_values("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
        assert df.count() == 10  # default graph only

    def test_constant_predicate(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> SELECT ?s ?name WHERE { ?s ex:name ?name }"
        )
        assert sorted(vals(df, "name")) == ["Alice", "Bob", "Carol", "Dave"]

    def test_bgp_join(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n1 ?n2 WHERE { ?a ex:knows ?b . ?a ex:name ?n1 . ?b ex:name ?n2 }"
        )
        got = {(r.n1, r.n2) for r in df.collect()}
        assert got == {("Alice", "Bob"), ("Bob", "Carol")}

    def test_literal_object_match(self, engine):
        df = engine.select_values(
            'PREFIX ex: <http://example.org/> SELECT ?s WHERE { ?s ex:name "Alice" }'
        )
        assert vals(df, "s") == [EX + "alice"]

    def test_reference_acceptance_query(self, engine):
        # DockerTestConfigFK.java:394 — the reference's golden-count query
        df = engine.query(
            "SELECT (count(*) AS ?C) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }"
        )
        row = df.collect()[0]
        assert row["C"]["value"] == "12"  # 10 default + 2 named


class TestAlgebra:
    def test_optional(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?name ?age WHERE { ?s ex:name ?name OPTIONAL { ?s ex:age ?age } }"
        )
        rows = {r.name: r.age for r in df.collect()}
        assert rows["Dave"] is None
        assert rows["Alice"] == "30"

    def test_optional_bind_coalesce(self, engine):
        # the KafkaConnectorAssembler.java:380-390 pattern shape
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?name ?x WHERE { ?s ex:name ?name "
            "OPTIONAL { ?s ex:age ?age } BIND(COALESCE(?age, 'none') AS ?x) }"
        )
        rows = {r.name: r.x for r in df.collect()}
        assert rows["Dave"] == "none"
        assert rows["Carol"] == "35"

    def test_union(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?v WHERE { { ?s ex:name ?v } UNION { ?s ex:label ?v } }"
        )
        assert len(vals(df, "v")) == 5

    def test_minus(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:name ?n MINUS { ?s ex:age ?a } }"
        )
        assert vals(df, "s") == [EX + "dave"]

    def test_filter_numeric(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:age ?age FILTER(?age > 28) }"
        )
        assert sorted(vals(df, "s")) == [EX + "alice", EX + "carol"]

    def test_filter_regex_and_str(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?n WHERE { ?s ex:name ?n FILTER(REGEX(?n, "^A")) }'
        )
        assert vals(df, "n") == ["Alice"]

    def test_filter_exists(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n FILTER EXISTS { ?s ex:knows ?o } }"
        )
        assert sorted(vals(df, "n")) == ["Alice", "Bob"]

    def test_filter_not_exists(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n FILTER NOT EXISTS { ?s ex:knows ?o } }"
        )
        assert sorted(vals(df, "n")) == ["Carol", "Dave"]

    def test_graph_var(self, engine):
        df = engine.select_values(
            "SELECT ?g ?s WHERE { GRAPH ?g { ?s ?p ?o } }"
        )
        assert set(vals(df, "g")) == {EX + "g1"}
        assert df.count() == 2

    def test_graph_iri(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?email WHERE { GRAPH ex:g1 { ?s ex:email ?email } }"
        )
        assert len(vals(df, "email")) == 2

    def test_values(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?age WHERE { ?s ex:age ?age VALUES ?s { ex:alice ex:bob } }"
        )
        assert sorted(vals(df, "age")) == ["25", "30"]

    def test_bind_arithmetic(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?agex2 WHERE { ?s ex:age ?age BIND(?age * 2 AS ?agex2) }"
        )
        rows = dict(zip(vals(df, "s"), vals(df, "agex2")))
        assert float(rows[EX + "alice"]) == 60.0

    def test_lang_accessor(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?l WHERE { ?s ex:label ?l FILTER(LANG(?l) = "es") }'
        )
        assert vals(df, "l") == ["Alicia"]


class TestCompatibleMappings:
    """SPARQL 1.1 §18.3 compatible-mapping semantics: a variable left
    unbound by an earlier OPTIONAL/UNION branch is compatible with any
    later binding (the behavior ARQ/Fuseki serves).  The classic
    double-OPTIONAL example is from the spec/Pérez et al."""

    @pytest.fixture(scope="class")
    def cengine(self, spark):
        rows = [
            q("a", "name", "A", kind="literal"),
            q("a", "email", "a@e", kind="literal"),
            q("b", "name", "B", kind="literal"),
            q("b", "web", "w-b", kind="literal"),
            q("c", "name", "C", kind="literal"),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_double_optional_unbound_compatible(self, cengine):
        # ARQ answer: a -> email, b -> web (unbound ?x from the first
        # OPTIONAL is compatible with the second's binding), c -> unbound
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x WHERE { ?s ex:name ?n "
            "OPTIONAL { ?s ex:email ?x } OPTIONAL { ?s ex:web ?x } }"
        )
        rows = {r.s.rsplit("/", 1)[1]: r.x for r in df.collect()}
        assert rows == {"a": "a@e", "b": "w-b", "c": None}

    def test_join_after_optional_unbound_compatible(self, cengine):
        # inner join of a maybe-unbound var: {A OPT B} . C — b's unbound
        # ?x joins with its web binding; a's bound email doesn't match
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x WHERE { { ?s ex:name ?n OPTIONAL { ?s ex:email ?x } } "
            "{ ?s ex:web ?x } }"
        )
        got = {(r.s.rsplit("/", 1)[1], r.x) for r in df.collect()}
        assert got == {("b", "w-b")}

    def test_conditioned_optional_with_unbound_left_var(self, cengine):
        # FILTER inside the OPTIONAL: the merged (coalesced) value feeds
        # the filter; rows whose only candidate is filtered out stay
        # null-extended, and rows already carrying nulls are not
        # duplicated by the anti join (null-safe)
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x WHERE { ?s ex:name ?n "
            "OPTIONAL { ?s ex:email ?x } "
            'OPTIONAL { ?s ex:web ?x FILTER(?x != "w-b") } }'
        )
        rows = [(r.s.rsplit("/", 1)[1], r.x) for r in df.collect()]
        assert sorted(rows) == [("a", "a@e"), ("b", None), ("c", None)]

    def test_conditioned_optional_left_nulls_not_duplicated(self, cengine):
        # left rows carrying unbound vars must appear exactly once when a
        # later conditioned OPTIONAL matches on a different variable
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x ?w WHERE { ?s ex:name ?n "
            "OPTIONAL { ?s ex:email ?x } "
            'OPTIONAL { ?s ex:web ?w FILTER(?w = "w-b") } }'
        )
        rows = sorted((r.s.rsplit("/", 1)[1], r.x, r.w) for r in df.collect())
        assert rows == [("a", "a@e", None), ("b", None, "w-b"), ("c", None, None)]

    def test_minus_domain_overlap(self, spark):
        # MINUS removes only when domains overlap AND bindings agree on
        # the overlap: (s=b, x=null) vs right (s=b, x="z") — compatible on
        # s (overlap non-empty) -> removed per spec §18.5
        rows = [
            q("a", "name", "A", kind="literal"),
            q("a", "email", "a@e", kind="literal"),
            q("b", "name", "B", kind="literal"),
            q("b", "other", "z", kind="literal"),
        ]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x WHERE { ?s ex:name ?n OPTIONAL { ?s ex:email ?x } "
            "MINUS { ?s ex:other ?x } }"
        )
        got = {(r.s.rsplit("/", 1)[1], r.x) for r in df.collect()}
        # a: right row (b,"z") incompatible on s -> kept
        # b: left x unbound, right (b,"z") compatible with overlap {s} -> removed
        assert got == {("a", "a@e")}

    def test_values_joins_unbound_left_var(self, cengine):
        # VALUES after an OPTIONAL: a left row whose ?x is unbound is
        # compatible with BOTH a bound VALUES row (taking its value) and
        # an UNDEF row (staying unbound) — each produces a solution
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?x WHERE { ?s ex:name ?n OPTIONAL { ?s ex:email ?x } "
            'VALUES ?x { UNDEF "a@e" } }'
        )
        got = sorted(
            ((r.s.rsplit("/", 1)[1], r.x) for r in df.collect()),
            key=lambda t: (t[0], t[1] or ""),
        )
        assert got == [
            ("a", "a@e"),  # bound x matches UNDEF row
            ("a", "a@e"),  # and the equal bound row
            ("b", None),   # unbound x + UNDEF row stays unbound
            ("b", "a@e"),  # unbound x + bound row takes the value
            ("c", None),
            ("c", "a@e"),
        ]

    def test_exists_with_unbound_var_matches_any(self, cengine):
        # ARQ substitution: an unbound outer ?x is NOT substituted into
        # EXISTS, so the inner pattern matches any web triple; a's bound
        # email matches no web value -> filtered out
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:name ?n OPTIONAL { ?s ex:email ?x } "
            "FILTER EXISTS { ?w ex:web ?x } }"
        )
        got = {r.s.rsplit("/", 1)[1] for r in df.collect()}
        assert got == {"b", "c"}  # a's x="a@e" matches no web binding

    def test_not_exists_with_unbound_var(self, cengine):
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:name ?n OPTIONAL { ?s ex:email ?x } "
            "FILTER NOT EXISTS { ?w ex:web ?x } }"
        )
        got = {r.s.rsplit("/", 1)[1] for r in df.collect()}
        assert got == {"a"}

    def test_certainly_bound_vars_keep_equi_join(self, cengine):
        # the plan guard: a BGP-only join has no maybe-null shared vars,
        # so the physical plan must still be a keyed equi-join (no
        # null-or-equal residuals, no nested loop)
        df = cengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:name ?n . ?s ex:email ?e }"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


class TestDatasetClause:
    """FROM / FROM NAMED (SPARQL 1.1 §13.2): the query-scoped dataset —
    default graph := merge of FROM graphs, named graphs := exactly the
    FROM NAMED set.  Fixture: g1 holds emails, g2 holds labels, default
    graph holds names."""

    @pytest.fixture(scope="class")
    def dengine(self, spark):
        rows = [
            q("a", "name", "A", kind="literal"),
            q("a", "email", "a@e", kind="literal", g=EX + "g1"),
            q("b", "email", "b@e", kind="literal", g=EX + "g1"),
            q("a", "label", "la", kind="literal", g=EX + "g2"),
            # same quad in both graphs: FROM g1 FROM g2 must merge to ONE
            q("c", "dup", "x", kind="literal", g=EX + "g1"),
            q("c", "dup", "x", kind="literal", g=EX + "g2"),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_from_single_graph_becomes_default(self, dengine):
        df = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s FROM ex:g1 WHERE { ?s ex:email ?e }"
        )
        assert sorted(r.s.rsplit("/", 1)[1] for r in df.collect()) == ["a", "b"]
        # and the store's real default graph is NOT part of the dataset
        df2 = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s FROM ex:g1 WHERE { ?s ex:name ?n }"
        )
        assert df2.count() == 0

    def test_from_merge_is_set_union(self, dengine):
        df = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s FROM ex:g1 FROM ex:g2 WHERE { ?s ex:dup ?x }"
        )
        assert df.count() == 1  # identical quads merge, not multiply

    def test_from_named_scopes_graph_patterns(self, dengine):
        df = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?g ?s FROM NAMED ex:g2 WHERE { GRAPH ?g { ?s ?p ?o } }"
        )
        got = {(r.g, r.s.rsplit("/", 1)[1]) for r in df.collect()}
        assert got == {(EX + "g2", "a"), (EX + "g2", "c")}

    def test_from_only_means_no_named_graphs(self, dengine):
        df = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?g FROM ex:g1 WHERE { GRAPH ?g { ?s ?p ?o } }"
        )
        assert df.count() == 0

    def test_protocol_dataset_overrides_from(self, dengine):
        # SPARQL Protocol: default-graph-uri replaces the FROM clause
        df = dengine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s FROM ex:g2 WHERE { ?s ex:email ?e }",
            dataset=([EX + "g1"], []),
        )
        assert sorted(r.s.rsplit("/", 1)[1] for r in df.collect()) == ["a", "b"]

    def test_construct_and_ask_honor_from(self, dengine):
        got = dengine.query(
            "PREFIX ex: <http://example.org/> "
            "CONSTRUCT { ?s ex:c ?e } FROM ex:g1 WHERE { ?s ex:email ?e }"
        )
        assert got.count() == 2
        assert dengine.query(
            "PREFIX ex: <http://example.org/> ASK FROM ex:g2 { ?s ex:email ?e }"
        ) is False


class TestAggregatesAndModifiers:
    def test_count_group_by(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s ORDER BY ?s"
        )
        rows = {r["s"]["value"]: r["n"]["value"] for r in df.collect()}
        assert rows[EX + "alice"] == "4"

    def test_sum_avg_min_max(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (SUM(?a) AS ?sum) (AVG(?a) AS ?avg) (MIN(?a) AS ?min) (MAX(?a) AS ?max) "
            "WHERE { ?s ex:age ?a }"
        )
        r = df.collect()[0]
        assert float(r["sum"]["value"]) == 90.0
        assert float(r["avg"]["value"]) == 30.0

    def test_group_concat(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            'SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?names) WHERE { ?s ex:name ?n }'
        )
        assert df.collect()[0]["names"]["value"] == "Alice,Bob,Carol,Dave"

    def test_group_concat_distinct_and_default_separator(self, engine):
        # contract (README "SPARQL conformance notes"): values sorted for
        # determinism; DISTINCT dedups; default separator is a single space
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (GROUP_CONCAT(DISTINCT ?p; SEPARATOR=\"|\") AS ?ps) "
            "WHERE { ?s ?p ?o }"
        )
        got = df.collect()[0]["ps"]["value"]
        assert got == "|".join(sorted(set(got.split("|"))))  # sorted + deduped
        df2 = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (GROUP_CONCAT(?n) AS ?names) WHERE { ?s ex:name ?n }"
        )
        assert df2.collect()[0]["names"]["value"] == "Alice Bob Carol Dave"

    def test_sum_avg_over_empty_is_zero(self, engine):
        # spec §18.5.1.6/.7 (and ARQ): Sum/Avg of the empty solution
        # sequence are 0, not unbound; Min/Max stay unbound (error)
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (SUM(?v) AS ?s) (AVG(?v) AS ?a) (MIN(?v) AS ?m) "
            "(COUNT(*) AS ?n) WHERE { ?x ex:no_such_predicate ?v }"
        )
        r = df.collect()[0]
        # ARQ types the empty-set Sum/Avg as "0"^^xsd:integer
        assert r["s"]["value"] == "0" and r["s"]["datatype"].endswith("#integer")
        assert r["a"]["value"] == "0" and r["a"]["datatype"].endswith("#integer")
        assert r["m"] is None  # Min of empty stays a type error -> unbound
        assert r["n"]["value"] == "0"

    def test_having(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s "
            "HAVING (COUNT(?o) > 2) ORDER BY ?s"
        )
        assert {r["s"]["value"] for r in df.collect()} == {EX + "alice", EX + "bob"}

    def test_order_limit_offset(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n } ORDER BY DESC(?n) LIMIT 2 OFFSET 1"
        )
        assert vals(df, "n") == ["Carol", "Bob"]

    def test_distinct(self, engine):
        df = engine.select_values("SELECT DISTINCT ?p WHERE { ?s ?p ?o }")
        assert df.count() == 4  # name, age, knows, label (email is named-graph only)


class TestQueryForms:
    def test_ask_true_false(self, engine):
        assert engine.query(
            'PREFIX ex: <http://example.org/> ASK { ?s ex:name "Alice" }'
        ) is True
        assert engine.query(
            'PREFIX ex: <http://example.org/> ASK { ?s ex:name "Nobody" }'
        ) is False

    @pytest.mark.parametrize(
        "where, expect",
        [
            ("?s ex:knows ?o FILTER EXISTS { ?o ex:knows ?z }", True),
            ("?s ex:knows ?o FILTER NOT EXISTS { ?o ex:name ?z }", False),
            # EXISTS inside an EXISTS pattern: only alice knows someone
            # (bob) who knows someone without a further knows-edge
            ("?s ex:knows ?o FILTER EXISTS { ?o ex:knows ?z FILTER NOT EXISTS "
             "{ ?z ex:knows ?w } }", True),
        ],
    )
    def test_ask_and_describe_with_exists(self, engine, where, expect):
        # FILTER [NOT] EXISTS answers ASK and DESCRIBE as it answers SELECT
        pre = "PREFIX ex: <http://example.org/> "
        sel = set(vals(engine.select_values(f"{pre}SELECT ?s WHERE {{ {where} }}"), "s"))
        assert bool(sel) is expect
        assert engine.query(f"{pre}ASK {{ {where} }}") is expect
        described = engine.query(f"{pre}DESCRIBE ?s WHERE {{ {where} }}").collect()
        assert {r.subject for r in described} == sel

    def test_construct(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> PREFIX foaf: <http://xmlns.com/foaf/0.1/> "
            "CONSTRUCT { ?s foaf:name ?n } WHERE { ?s ex:name ?n }"
        )
        assert df.count() == 4
        assert df.filter(F.col("predicate") == "http://xmlns.com/foaf/0.1/name").count() == 4


class TestExistsInExpressions:
    """EXISTS as a conjunct of a FILTER expression: ``!EXISTS`` is NOT
    EXISTS, a top-level ``&&`` splits into conjuncts that each filter, and
    an OPTIONAL's filter (the LeftJoin condition) takes the same path."""

    PRE = "PREFIX ex: <http://example.org/> "

    @pytest.mark.parametrize(
        "flt, names",
        [
            ("!EXISTS { ?s ex:knows ?o }", ["Carol", "Dave"]),
            ('?n != "Carol" && !EXISTS { ?s ex:knows ?o }', ["Dave"]),
            ('EXISTS { ?s ex:knows ?o } && ?n != "Alice"', ["Bob"]),
            ("!EXISTS { ?s ex:knows ?o } && EXISTS { ?s ex:age ?a }", ["Carol"]),
        ],
    )
    def test_select(self, engine, flt, names):
        df = engine.select_values(f"{self.PRE}SELECT ?n WHERE {{ ?s ex:name ?n FILTER({flt}) }}")
        assert sorted(vals(df, "n")) == names

    def test_ask(self, engine):
        where = '?s ex:name ?n FILTER(?n != "{}" && !EXISTS {{ ?s ex:age ?a }})'
        assert engine.query(f"{self.PRE}ASK {{ {where.format('Carol')} }}") is True
        assert engine.query(f"{self.PRE}ASK {{ {where.format('Dave')} }}") is False

    @pytest.mark.parametrize(
        "flt, knows",
        [
            # alice knows bob, who knows someone; bob knows carol, who does not
            ("FILTER EXISTS { ?o ex:knows ?z }", {"Alice": EX + "bob"}),
            ("FILTER(!EXISTS { ?o ex:knows ?z })", {"Bob": EX + "carol"}),
            ('FILTER(?n != "Alice" && !EXISTS { ?o ex:knows ?z })', {"Bob": EX + "carol"}),
        ],
    )
    def test_optional(self, engine, flt, knows):
        df = engine.select_values(
            f"{self.PRE}SELECT ?n ?o WHERE {{ ?s ex:name ?n OPTIONAL {{ ?s ex:knows ?o {flt} }} }}"
        )
        got = {r.n: r.o for r in df.collect()}
        assert got == {n: knows.get(n) for n in ("Alice", "Bob", "Carol", "Dave")}

    @pytest.mark.parametrize(
        "flt",
        ['?n = "Dave" || EXISTS { ?s ex:knows ?o }', "IF(EXISTS { ?s ex:knows ?o }, true, false)"],
    )
    def test_exists_under_or_or_in_a_call_is_unsupported(self, engine, flt):
        with pytest.raises(NotImplementedError, match=r"EXISTS under \|\| or inside a function call"):
            engine.query(f"{self.PRE}SELECT ?n WHERE {{ ?s ex:name ?n FILTER({flt}) }}")


class TestConstructBnodes:
    def test_template_bnode_fresh_per_solution(self, spark):
        # spec §10.2.1: a CONSTRUCT template bnode instantiates fresh per
        # solution, consistent across the template's triples
        rows = [
            (DEFAULT_GRAPH, EX + "s1", EX + "t", "literal", "x", None, None),
            (DEFAULT_GRAPH, EX + "s2", EX + "t", "literal", "y", None, None),
        ]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.query(
            "PREFIX ex: <http://example.org/> "
            "CONSTRUCT { ?s ex:has _:b . _:b ex:v ?o } WHERE { ?s ex:t ?o }"
        )
        out = [(r.subject, r.predicate, r.object_value) for r in df.collect()]
        has = {s: v for s, p, v in out if p == EX + "has"}
        vals = {s: v for s, p, v in out if p == EX + "v"}
        assert len(out) == 4
        assert has[EX + "s1"] != has[EX + "s2"]
        assert vals[has[EX + "s1"]] == "x" and vals[has[EX + "s2"]] == "y"

    def test_template_bnode_label(self, spark):
        # the label is <label>-c<hex xxhash64 of the solution's bindings>
        rows = [(DEFAULT_GRAPH, EX + "s1", EX + "t", "literal", "x", None, None)]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.query(
            'PREFIX ex: <http://example.org/> CONSTRUCT { ?s ex:has _:b } WHERE { ?s ex:t "x" }'
        )
        [label] = [r.object_value for r in df.collect()]
        sol_hash = spark.sql(
            "SELECT lower(hex(xxhash64(named_struct("
            f"'kind', 'iri', 'value', '{EX}s1', 'datatype', '', 'lang', ''))))"
        ).first()[0]
        assert label == f"_:b-c{sol_hash}"


class TestPropertyPaths:
    def test_sequence_path(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ex:alice ex:knows/ex:name ?n }"
        )
        assert vals(df, "n") == ["Bob"]

    def test_inverse_path(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ex:bob ^ex:knows ?s }"
        )
        assert vals(df, "s") == [EX + "alice"]

    def test_alternative_path(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?v WHERE { ex:alice ex:name|ex:age ?v }"
        )
        assert sorted(vals(df, "v")) == ["30", "Alice"]

    def test_alternative_path_is_bag_union(self, spark):
        """§9.1: alternation is a bag union — a solution reachable through
        BOTH branches appears TWICE, never deduped.  Here bob is alice's
        ``knows``-neighbor forward AND inverse (symmetric edge), so
        ``knows|^knows`` from alice must yield bob twice.  (r05's c_alt
        facet cannot observe this: on its forest the branches are
        disjoint, so its 2x|edges| count holds under either semantics.)"""
        rows = [
            q("alice", "knows", "bob"),
            q("bob", "knows", "alice"),
        ]
        engine = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?x WHERE { ex:alice ex:knows|^ex:knows ?x }"
        )
        assert sorted(vals(df, "x")) == [EX + "bob", EX + "bob"]

    def test_plus_path(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?x WHERE { ex:alice ex:knows+ ?x }"
        )
        assert sorted(vals(df, "x")) == [EX + "bob", EX + "carol"]

    def test_star_path_includes_self(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?x WHERE { ex:alice ex:knows* ?x }"
        )
        assert EX + "alice" in vals(df, "x")
        assert EX + "carol" in vals(df, "x")

    def _chain_engine(self, spark, depth):
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        rows = [
            ("", f"http://e/n{i}", "http://e/next", "iri", f"http://e/n{i+1}", None, None)
            for i in range(depth)
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_deep_closure_complete_and_plan_bounded(self, spark):
        # 40-edge chain: deeper than the old silent 32-iteration cap.
        # Closure must be complete (n0 reaches all 40 descendants) and the
        # localCheckpoint lineage truncation must keep the final plan flat
        # (a union of materialized leaves, not 2^iterations nested joins)
        eng = self._chain_engine(spark, 40)
        df = eng.select_values(
            "SELECT ?x WHERE { <http://e/n0> <http://e/next>+ ?x }"
        )
        assert df.count() == 40
        plan = df._jdf.queryExecution().toString()
        assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"

    def test_closure_cap_warns_not_silent(self, spark):
        import warnings

        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        rows = [
            ("", f"http://e/n{i}", "http://e/next", "iri", f"http://e/n{i+1}", None, None)
            for i in range(6)
        ]
        eng = SparqlEngine(
            spark.createDataFrame(rows, QUAD_SCHEMA), max_path_iterations=2
        )
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            eng.select_values(
                "SELECT ?x WHERE { <http://e/n0> <http://e/next>+ ?x }"
            ).count()
        assert any("iteration cap" in str(w.message) for w in caught)


class TestProjection:
    def test_never_bound_var_projects_as_unbound(self, engine):
        # legal SPARQL: a projected var the pattern never binds is simply
        # unbound in every solution (ARQ behavior), not an analysis error
        df = engine.query(
            "PREFIX ex: <http://example.org/> SELECT ?s ?zzz WHERE { ?s ex:name ?n }"
        )
        rows = df.collect()
        assert len(rows) == 4 and all(r["zzz"] is None for r in rows)

    def test_never_bound_var_with_order_by(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?zzz WHERE { ?s ex:name ?n } ORDER BY ?n"
        )
        assert all(r["zzz"] is None for r in df.collect())


class TestParserErrors:
    def test_unknown_prefix(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError):
            engine.query("SELECT ?s WHERE { ?s ex:name ?n }")

    def test_unterminated(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError):
            engine.query("SELECT ?s WHERE { ?s ?p ?o")


class TestDescribe:
    def test_describe_iri(self, engine):
        df = engine.query("DESCRIBE <http://example.org/alice>")
        rows = df.collect()
        assert rows and all(r.subject == "http://example.org/alice" for r in rows)

    def test_describe_var(self, engine):
        df = engine.query(
            """
            PREFIX ex: <http://example.org/>
            DESCRIBE ?p WHERE { ?p ex:age ?a . FILTER(?a > 28) }
            """
        )
        subs = {r.subject for r in df.collect()}
        assert subs  # at least one matching subject, fully described
        # every described subject carries ALL its quads, not just matched ones
        from collections import Counter
        c = Counter(r.subject for r in df.collect())
        assert all(n >= 1 for n in c.values())

    def test_describe_var_without_where_fails(self, engine):
        import pytest as _p
        from jena_fuseki_kafka_spark.model import RdfParseError
        with _p.raises(RdfParseError):
            engine.query("DESCRIBE ?x")

    def test_describe_includes_bnode_closure(self, spark):
        # Jena's default DESCRIBE is a Concise Bounded Description: a
        # blank-node object's own triples belong to the parent's
        # description, recursively — two levels deep here
        rows = [
            (DEFAULT_GRAPH, EX + "z", EX + "p", "bnode", "_:b1", None, None),
            (DEFAULT_GRAPH, "_:b1", EX + "q", "bnode", "_:b2", None, None),
            (DEFAULT_GRAPH, "_:b2", EX + "r", "literal", "1", None, None),
            (DEFAULT_GRAPH, EX + "other", EX + "p", "literal", "x", None, None),
        ]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.query(f"DESCRIBE <{EX}z>")
        got = {(r.subject, r.object_value) for r in df.collect()}
        assert got == {
            (EX + "z", "_:b1"),
            ("_:b1", "_:b2"),
            ("_:b2", "1"),
        }

    def test_construct_skips_unbound_template_triples(self, engine):
        # §10.2: a template triple with an unbound variable is dropped;
        # bob has no age>40 optional match but his name triple survives.
        # ?x is bound by no solution at all: its triple never appears
        df = engine.query(
            """
            PREFIX ex: <http://example.org/>
            CONSTRUCT { ?s ex:out ?n . ?s ex:big ?a . ?s ex:never ?x }
            WHERE { ?s ex:name ?n OPTIONAL { ?s ex:age ?a FILTER(?a > 31) } }
            """
        )
        rows = df.collect()
        assert all(r.object_value is not None for r in rows)
        preds = {r.predicate for r in rows}
        assert EX + "never" not in preds
        assert len([r for r in rows if r.predicate == EX + "out"]) == 4
        # only carol (35) matches the optional; alice/bob/dave emit no ex:big
        bigs = [r for r in rows if r.predicate == EX + "big"]
        assert len(bigs) == 1

    def test_mixed_type_comparison_is_type_error(self, engine):
        # §17.3: "Alice" > 0 is a TYPE ERROR (row dropped), not a lexical
        # comparison against "0"
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n FILTER(?n > 0) }"
        )
        assert df.count() == 0
        # both-string comparison stays lexical (fn:compare)
        df2 = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?n WHERE { ?s ex:name ?n FILTER(?n > "Bob") }'
        )
        assert set(vals(df2, "n")) == {"Carol", "Dave"}

    def test_if_error_condition_is_unbound(self, engine):
        # §17.4.1.2: IF(error, a, b) is an error, NOT the else branch
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?y WHERE { ?s ex:name ?n BIND(IF(?n > 0, "pos", "neg") AS ?y) }'
        )
        assert all(r["y"] is None for r in df.collect())

    def test_describe_no_driver_collect(self):
        # the bnode-closure frontier must stay distributed (VERDICT r5
        # item 5): no .collect( anywhere in the _describe implementation
        import inspect

        from jena_fuseki_kafka_spark.sparql.translate import Translator

        src = inspect.getsource(Translator._describe)
        assert ".collect(" not in src

    def test_describe_wide_bnode_tree(self, spark):
        # hub resource -> 1000 level-1 bnodes -> 1000 leaf bnodes: the
        # driver-bottleneck shape from VERDICT r5; closure must stay exact
        rows = [(DEFAULT_GRAPH, EX + "hub", EX + "p", "bnode", f"_:a{i}", None, None)
                for i in range(1000)]
        rows += [(DEFAULT_GRAPH, f"_:a{i}", EX + "q", "bnode", f"_:c{i}", None, None)
                 for i in range(1000)]
        rows += [(DEFAULT_GRAPH, f"_:c{i}", EX + "r", "literal", str(i), None, None)
                 for i in range(1000)]
        rows += [(DEFAULT_GRAPH, EX + "other", EX + "p", "literal", "x", None, None)]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.query(f"DESCRIBE <{EX}hub>")
        assert df.count() == 3000

    def test_describe_bnode_term_not_duplicated(self, spark):
        # ADVICE r5: a node that is BOTH described directly (via ?v) and
        # reachable through the frontier must emit its quads exactly once
        rows = [
            (DEFAULT_GRAPH, EX + "z", EX + "p", "bnode", "_:b1", None, None),
            (DEFAULT_GRAPH, "_:b1", EX + "q", "literal", "leaf", None, None),
        ]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        # ?v binds _:b1 (described directly) AND _:b1 is z's bnode object
        df = eng.query(
            f"DESCRIBE <{EX}z> ?v WHERE {{ <{EX}z> <{EX}p> ?v }}"
        )
        rows_out = [(r.subject, r.object_value) for r in df.collect()]
        assert sorted(rows_out) == [("_:b1", "leaf"), (EX + "z", "_:b1")]


class TestSubSelect:
    def test_subselect_join(self, engine):
        # oldest person via nested SELECT, name joined in the outer group
        df = engine.select_values(
            """
            PREFIX ex: <http://example.org/>
            SELECT ?name WHERE {
              { SELECT ?s WHERE { ?s ex:age ?a } ORDER BY DESC(?a) LIMIT 1 }
              ?s ex:name ?name
            }
            """
        )
        assert vals(df, "name") == ["Carol"]

    def test_subselect_aggregate(self, engine):
        # knows-degree per person via subquery, then filter in outer scope
        df = engine.select_values(
            """
            PREFIX ex: <http://example.org/>
            SELECT ?name ?n WHERE {
              { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ex:knows ?o } GROUP BY ?s }
              ?s ex:name ?name
            } ORDER BY ?name
            """
        )
        assert [(r["name"], r["n"]) for r in df.collect()] == [("Alice", "1"), ("Bob", "1")]


class TestNegatedPropertySet:
    def test_single_negated_iri(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> SELECT ?s ?o WHERE { ?s !ex:name ?o }"
        )
        # everything but the 4 name quads (default graph has 10 quads)
        assert df.count() == 6

    def test_negated_set(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?o WHERE { ?s !(ex:name|ex:age|ex:label) ?o }"
        )
        got = {(r.s, r.o) for r in df.collect()}
        assert got == {(EX + "alice", EX + "bob"), (EX + "bob", EX + "carol")}

    def test_negated_set_with_inverse(self, engine):
        # inverse member: ?x !(^ex:knows) ?y matches o<-s edges whose
        # predicate is anything except knows, i.e. inverted name/age/label
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> SELECT ?x ?y WHERE { ?x !(^ex:knows) ?y }"
        )
        assert df.count() == 8  # 10 default-graph quads - 2 knows edges


class TestLangFunctions:
    def test_langmatches_tag(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?l WHERE { ?s ex:label ?l FILTER(langMatches(LANG(?l), "es")) }'
        )
        assert vals(df, "l") == ["Alicia"]

    def test_langmatches_star_and_prefix(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?l WHERE { ?s ex:label ?l FILTER(langMatches(LANG(?l), "*")) }'
        )
        assert vals(df, "l") == ["Alicia"]
        # "es" must match "es-MX" (prefix rule): none stored, so empty
        df2 = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?n WHERE { ?s ex:name ?n FILTER(langMatches(LANG(?n), "es")) }'
        )
        assert df2.count() == 0

    def test_strlang_strdt(self, engine):
        df = engine.query(
            'SELECT ?x ?y WHERE { VALUES ?v { "hi" } '
            'BIND(STRLANG(?v, "en") AS ?x) '
            'BIND(STRDT(?v, <http://www.w3.org/2001/XMLSchema#token>) AS ?y) }'
        )
        row = df.collect()[0]
        assert row["x"]["value"] == "hi" and row["x"]["lang"] == "en"
        assert row["y"]["datatype"].endswith("#token")

    def test_xsd_constructor_casts(self, engine):
        # XPath constructor functions (§17.5): xsd:integer / xsd:string /
        # xsd:boolean as cast calls, retagged with the target datatype
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT (xsd:integer("42") AS ?i) (xsd:integer(?a) AS ?ia) '
            '(xsd:string(?a) AS ?s) (xsd:boolean("true") AS ?b) '
            '(xsd:double(?a) AS ?d) '
            "WHERE { ex:alice ex:age ?a }"
        )
        r = df.collect()[0]
        assert r["i"]["value"] == "42"
        assert r["ia"]["value"] == "30"
        assert r["ia"]["datatype"].endswith("integer")
        assert r["s"]["value"] == "30" and r["s"]["datatype"].endswith("#string")
        assert r["b"]["value"] == "true"
        assert r["d"]["value"] == "30.0"

    def test_xsd_cast_failure_is_unbound(self, engine):
        # uncastable lexical form -> type error -> the term is UNBOUND
        # (null struct: BOUND() must be false, ADVICE r5)
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?i (BOUND(?i) AS ?b) "
            "WHERE { ex:alice ex:name ?n BIND(xsd:integer(?n) AS ?i) }"
        )
        r = df.collect()[0]
        assert r["i"] is None
        assert r["b"]["value"] == "false"

    def test_xsd_integer_lexical_vs_numeric_source(self, engine):
        # XPath xs:integer: string "5.7" is a cast ERROR; a double-typed
        # source truncates; integers above 2^53 stay exact (no double hop)
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT (xsd:integer("5.7") AS ?bad) (xsd:integer(2.5 * 2) AS ?tr) '
            '(xsd:integer("9007199254740993") AS ?big) '
            "WHERE { ex:alice ex:age ?a }"
        )
        r = df.collect()[0]
        assert r["bad"] is None
        assert r["tr"]["value"] == "5"
        assert r["big"]["value"] == "9007199254740993"

    def test_xsd_derived_integer_ranges(self, engine):
        # nonNegativeInteger / positiveInteger enforce their value ranges
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            'SELECT (xsd:nonNegativeInteger("-4") AS ?nn) '
            '(xsd:nonNegativeInteger("0") AS ?z) '
            '(xsd:positiveInteger("0") AS ?p) (xsd:byte("200") AS ?by) '
            "WHERE { ex:alice ex:age ?a }"
        )
        r = df.collect()[0]
        assert r["nn"] is None and r["p"] is None and r["by"] is None
        assert r["z"]["value"] == "0"

    def test_sum_avg_type_error_and_typed_empty_zero(self, engine):
        # ADVICE r5: SUM over an empty set is "0"^^xsd:integer; SUM over a
        # NON-empty set of non-numeric values is a type error -> unbound
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (SUM(?x) AS ?s) WHERE { ex:nobody ex:nothing ?x }"
        )
        r = df.collect()[0]
        assert r["s"]["value"] == "0" and r["s"]["datatype"].endswith("#integer")
        df2 = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (SUM(?n) AS ?s) WHERE { ?p ex:name ?n }"
        )
        assert df2.collect()[0]["s"] is None

    def test_strbefore_column_delimiter(self, engine):
        # STRBEFORE with any expression delimiter (substring_index would
        # only take a Python-string one); no match -> ""
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            'SELECT (STRBEFORE(?n, "li") AS ?x) (STRBEFORE(?n, "zz") AS ?y) '
            'WHERE { ?s ex:name ?n FILTER(?n = "Alice") }'
        )
        r = df.collect()[0]
        assert r["x"]["value"] == "A" and r["y"]["value"] == ""

    def test_bnode_function_fresh_and_blank(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (BNODE() AS ?b) (isBlank(BNODE()) AS ?t) WHERE { ?s ex:name ?n }"
        )
        rows = df.collect()
        assert all(r["t"]["value"] == "true" for r in rows)
        labels = [r["b"]["value"] for r in rows]
        assert len(set(labels)) == len(labels)  # fresh per solution
        assert all(l.startswith("_:") for l in labels)

    def test_encode_for_uri(self, engine):
        df = engine.select_values(
            'SELECT ?e WHERE { VALUES ?v { "a b/c" } BIND(ENCODE_FOR_URI(?v) AS ?e) }'
        )
        assert vals(df, "e") == ["a%20b%2Fc"]


class TestOrderByAggregate:
    def test_order_by_count(self, engine):
        # people ordered by how many knows-edges they have, no ?n projected
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s WHERE { ?s ex:knows ?o } GROUP BY ?s ORDER BY DESC(COUNT(*)) ?s"
        )
        assert vals(df, "s") == [EX + "alice", EX + "bob"]

    def test_order_by_sum_with_projection(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } "
            "GROUP BY ?s ORDER BY DESC(COUNT(*)) ?s LIMIT 2"
        )
        rows = [(r.s, r.n) for r in df.collect()]
        assert rows[0][1] >= rows[1][1]
        assert len(rows) == 2


class TestCollections:
    def test_collection_pattern_matches_list(self, spark):
        # quads encoding ex:cfg ex:pair (ex:k ex:v) as rdf:first/rest chain
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            q("cfg", "pair", "b1"),
            (DEFAULT_GRAPH, EX + "b1", RDF + "first", "iri", EX + "k", None, None),
            (DEFAULT_GRAPH, EX + "b1", RDF + "rest", "iri", EX + "b2", None, None),
            (DEFAULT_GRAPH, EX + "b2", RDF + "first", "iri", EX + "v", None, None),
            (DEFAULT_GRAPH, EX + "b2", RDF + "rest", "iri", RDF + "nil", None, None),
        ]
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA as QS
        eng = SparqlEngine(spark.createDataFrame(rows, QS))
        # the reference's config idiom: ?s fk:config (?k ?v)
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?k ?v WHERE { ?s ex:pair (?k ?v) }"
        )
        assert [(r.k, r.v) for r in df.collect()] == [(EX + "k", EX + "v")]

    def test_empty_collection_is_nil(self, spark):
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [(DEFAULT_GRAPH, EX + "s", EX + "empty", "iri", RDF + "nil", None, None)]
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA as QS
        eng = SparqlEngine(spark.createDataFrame(rows, QS))
        df = eng.select_values(
            "PREFIX ex: <http://example.org/> SELECT ?s WHERE { ?s ex:empty () }"
        )
        assert vals(df, "s") == [EX + "s"]


class TestConstructWhere:
    def test_construct_where_shorthand(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> CONSTRUCT WHERE { ?s ex:knows ?o }"
        )
        got = {(r.subject, r.object_value) for r in df.collect()}
        assert got == {(EX + "alice", EX + "bob"), (EX + "bob", EX + "carol")}


class TestValuesUndef:
    def test_undef_matches_any(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?s ?n WHERE { ?s ex:name ?n "
            "VALUES (?s ?n) { (ex:alice UNDEF) (UNDEF \"Bob\") } }"
        )
        got = {(r.s, r.n) for r in df.collect()}
        assert got == {(EX + "alice", "Alice"), (EX + "bob", "Bob")}

    def test_values_all_bound_still_equi(self, engine):
        df = engine.select_values(
            "PREFIX ex: <http://example.org/> "
            'SELECT ?s WHERE { ?s ex:name ?n VALUES ?n { "Alice" "Carol" } }'
        )
        assert sorted(vals(df, "s")) == [EX + "alice", EX + "carol"]


class TestMiscBuiltins:
    def test_rand_bnode_tz(self, engine):
        df = engine.query(
            'SELECT ?r ?b ?z WHERE { VALUES ?v { "2024-01-02T03:04:05" } '
            "BIND(RAND() AS ?r) BIND(BNODE() AS ?b) BIND(TZ(?v) AS ?z) }"
        )
        row = df.collect()[0]
        assert 0.0 <= float(row["r"]["value"]) < 1.0
        assert row["b"]["value"].startswith("_:b")
        assert row["b"]["kind"] == "bnode"
        assert row["z"]["value"] == "Z"


class TestBucketPruning:
    """Constant-subject patterns must scan only the one store bucket the
    subject hashes to (the snapshot picks that bucket's leaves)."""

    def _store(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
        from jena_fuseki_kafka_spark.store import QuadStore

        store = QuadStore(str(tmp_path / "bp"), n_buckets=8)
        rows = [
            ("", f"http://e/s{i}", "http://e/p", "iri", f"http://e/o{i}", None, None)
            for i in range(64)
        ]
        store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA), txn_id="c1")
        return store

    def test_point_lookup_scans_one_bucket(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        store = self._store(spark, tmp_path)
        eng = SparqlEngine.from_store(spark, store)
        df = eng.query("SELECT ?o WHERE { <http://e/s7> <http://e/p> ?o }")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, plan
        from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket

        bucket = spark_bucket("http://e/s7", store.n_buckets)
        leaves = {f for f in store._read_manifest()["files"] if store._bucket_of(f) == bucket}
        scanned = {f.split("/files/")[1].rsplit("/", 1)[0] for f in df.inputFiles()}
        assert scanned and scanned <= leaves, (scanned, leaves)
        vals = [r["o"]["value"] for r in df.collect()]
        assert vals == ["http://e/o7"]

    def test_variable_subject_reads_all_buckets(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        store = self._store(spark, tmp_path)
        eng = SparqlEngine.from_store(spark, store)
        df = eng.query("SELECT ?s WHERE { ?s <http://e/p> ?o }")
        assert df.count() == 64  # nothing pruned away that shouldn't be

    def test_pruned_equals_unpruned(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.sparql import SparqlEngine

        store = self._store(spark, tmp_path)
        pruned = SparqlEngine.from_store(spark, store)
        flat = SparqlEngine(store.read(spark))
        q = "SELECT ?o WHERE { <http://e/s33> <http://e/p> ?o }"
        a = [r["o"]["value"] for r in pruned.query(q).collect()]
        b = [r["o"]["value"] for r in flat.query(q).collect()]
        assert a == b == ["http://e/o33"]


class TestValueSemantics:
    """SPARQL §17.3 operator-mapping semantics: numeric/temporal value
    promotion in comparisons, XPath numeric typing of expression results.
    ARQ is the behavioral reference (SURVEY.md §2B builtins row)."""

    @pytest.fixture(scope="class")
    def veng(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        XSD = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            (DEFAULT_GRAPH, "http://e/a", "http://e/v", "literal", "1", XSD + "integer", None),
            (DEFAULT_GRAPH, "http://e/b", "http://e/v", "literal", "1.0", XSD + "decimal", None),
            (DEFAULT_GRAPH, "http://e/c", "http://e/v", "literal", "01", XSD + "integer", None),
            (DEFAULT_GRAPH, "http://e/d", "http://e/v", "iri", "http://e/x", None, None),
            (DEFAULT_GRAPH, "http://e/e", "http://e/v", "bnode", "_:b1", None, None),
            (DEFAULT_GRAPH, "http://e/f", "http://e/v", "literal", "zzz", None, None),
            (DEFAULT_GRAPH, "http://e/t1", "http://e/ts", "literal",
             "2024-01-01T12:00:00+02:00", XSD + "dateTime", None),
            (DEFAULT_GRAPH, "http://e/t2", "http://e/ts", "literal",
             "2024-01-01T11:00:00Z", XSD + "dateTime", None),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_var_var_numeric_value_equality(self, veng):
        # "1"^^xsd:integer = "1.0"^^xsd:decimal = "01"^^xsd:integer (§17.3:
        # numeric = numeric compares values, not terms)
        df = veng.query(
            "SELECT ?x ?y WHERE { ?x <http://e/v> ?vx . ?y <http://e/v> ?vy . "
            "FILTER(?vx = ?vy && STR(?x) < STR(?y)) }"
        )
        pairs = sorted((r["x"]["value"], r["y"]["value"]) for r in df.collect())
        assert pairs == [
            ("http://e/a", "http://e/b"),
            ("http://e/a", "http://e/c"),
            ("http://e/b", "http://e/c"),
        ]

    def test_datetime_compares_on_timeline(self, veng):
        # 12:00+02:00 is 10:00Z < 11:00Z — a lexical compare would invert
        df = veng.query(
            "SELECT ?a ?b WHERE { ?a <http://e/ts> ?x . ?b <http://e/ts> ?y . "
            "FILTER(?x < ?y) }"
        )
        pairs = [(r["a"]["value"], r["b"]["value"]) for r in df.collect()]
        assert pairs == [("http://e/t1", "http://e/t2")]

    def test_unspaced_additive_tokenization(self, veng):
        # "1+1" tokenizes as "1","+1" — grammar rule [116] folds the signed
        # literal back into the sum; a silent swallow returned 1 before
        df = veng.query("SELECT (STR(1+1) AS ?s) (1+2*3 AS ?r) WHERE { }")
        r = df.collect()[0]
        assert r["s"]["value"] == "2"
        assert r["r"]["value"] == "7"

    def test_integer_arithmetic_stays_integer(self, veng):
        df = veng.query(
            "SELECT (1 + 1 AS ?add) (2 * 3 AS ?mul) (7 / 2 AS ?div) "
            "(4 / 2 AS ?divw) (1 + 0.5 AS ?mix) WHERE { }"
        )
        r = df.collect()[0]
        assert r["add"]["value"] == "2" and r["add"]["datatype"].endswith("#integer")
        assert r["mul"]["value"] == "6" and r["mul"]["datatype"].endswith("#integer")
        assert r["div"]["value"] == "3.5" and r["div"]["datatype"].endswith("#decimal")
        assert r["divw"]["value"] == "2.0"
        assert r["mix"]["value"] == "1.5"

    def test_round_ties_toward_positive_infinity(self, veng):
        # XPath fn:round(-2.5) = -2; Spark's default half-away rounds to -3
        df = veng.query(
            "SELECT (ROUND(-2.5) AS ?n) (ROUND(2.5) AS ?p) (ABS(-2) AS ?a) WHERE { }"
        )
        r = df.collect()[0]
        assert float(r["n"]["value"]) == -2.0
        assert float(r["p"]["value"]) == 3.0
        assert r["a"]["value"] == "2" and r["a"]["datatype"].endswith("#integer")

    def test_replace_flags(self, veng):
        df = veng.query('SELECT (REPLACE("a-A", "a", "X", "i") AS ?r) WHERE { }')
        assert df.collect()[0]["r"]["value"] == "X-X"

    def test_integer_cast_of_numeric_function_result_truncates(self, veng):
        # xsd:integer(FLOOR(x)) composes: FLOOR returns "1.0"^^double —
        # the cast must TRUNCATE the numeric result, not reject it on the
        # strict integer-lexical path (r8 regression: r17's bucket BIND
        # came back unbound)
        df = veng.query(
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT (xsd:integer(FLOOR(3.7)) AS ?f) "
            "(xsd:integer(CEIL(3.2)) AS ?c) "
            "(xsd:integer(ROUND(3.5)) AS ?r) "
            "(xsd:integer(xsd:double(\"4.9\")) AS ?d) WHERE { }"
        )
        r = df.collect()[0]
        assert r["f"]["value"] == "3" and r["f"]["datatype"].endswith("#integer")
        assert r["c"]["value"] == "4"
        assert r["r"]["value"] == "4"
        assert r["d"]["value"] == "4"

    def test_substr_and_datetime_accessors_ansi_safe(self, veng):
        # SUBSTR with a non-numeric position and YEAR on a non-dateTime
        # term are type errors -> unbound, never ANSI runtime aborts;
        # fractional SUBSTR positions round per fn:substring
        df = veng.query(
            "SELECT ?s ?bad ?yr ?frac WHERE { ?s <http://e/v> ?o "
            "BIND(SUBSTR(\"hello\", ?o) AS ?bad) "
            "BIND(YEAR(?o) AS ?yr) "
            "BIND(SUBSTR(\"12345\", 1.5, 2.6) AS ?frac) }"
        )
        rows = {r["s"]["value"]: r for r in df.collect()}
        assert len(rows) == 6  # no abort, every solution survives
        assert rows["http://e/f"]["bad"] is None       # "zzz" position
        assert rows["http://e/f"]["yr"] is None        # "zzz" not a dateTime
        # fn:substring(("12345", 1.5, 2.6)) = chars at round(1.5)=2..2+round(2.6)=3 -> "234"
        assert rows["http://e/a"]["frac"]["value"] == "234"
        # and YEAR on a real dateTime term still extracts
        df2 = veng.query(
            "SELECT ?s (YEAR(?x) AS ?yr) WHERE { ?s <http://e/ts> ?x }"
        )
        years = {r["s"]["value"]: r["yr"]["value"] for r in df2.collect()}
        assert years["http://e/t1"] == "2024"

    def test_numeric_builtins_on_non_numeric_are_unbound_not_error(self, veng):
        # FLOOR("zzz") is a type error -> unbound, and must never surface
        # as an ANSI runtime cast failure even when Catalyst evaluates the
        # expression on rows a later filter would prune (r8 regression:
        # xsd:integer(FLOOR(?t/...)) aborted the query on a 'big' literal)
        df = veng.query(
            "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
            "SELECT ?s ?b WHERE { ?s <http://e/v> ?o "
            "BIND(xsd:integer(FLOOR(?o / 2)) AS ?b) }"
        )
        rows = {r["s"]["value"]: r["b"] for r in df.collect()}
        assert len(rows) == 6  # every solution survives
        assert rows["http://e/f"] is None  # "zzz" -> unbound, no abort
        assert rows["http://e/a"]["value"] == "0"  # 1/2 = 0.5 -> floor 0

    def test_order_by_kind_rank(self, veng):
        # §15.1: blank nodes < IRIs < literals in ascending order
        df = veng.query("SELECT ?o WHERE { ?s <http://e/v> ?o } ORDER BY ?o")
        kinds = [r["o"]["kind"] for r in df.collect()]
        assert kinds[0] == "bnode" and kinds[1] == "iri"
        assert all(k == "literal" for k in kinds[2:])


class TestEbvAndLangSemantics:
    """§17.2.2 effective boolean value and RDF 1.1 language-tag rules."""

    @pytest.fixture(scope="class")
    def leng(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        XSD = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            (DEFAULT_GRAPH, "http://e/a", "http://e/v", "literal", "0", XSD + "integer", None),
            (DEFAULT_GRAPH, "http://e/b", "http://e/v", "literal", "", None, None),
            (DEFAULT_GRAPH, "http://e/c", "http://e/v", "literal", "x", None, None),
            (DEFAULT_GRAPH, "http://e/d", "http://e/v", "literal", "false", XSD + "boolean", None),
            (DEFAULT_GRAPH, "http://e/l1", "http://e/lab", "literal", "chat", None, "en"),
            (DEFAULT_GRAPH, "http://e/l2", "http://e/lab", "literal", "chat", None, "EN"),
            (DEFAULT_GRAPH, "http://e/l3", "http://e/lab", "literal", "chat", None, "fr"),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_ebv_is_datatype_driven(self, leng):
        # "0"^^xsd:integer and "false"^^xsd:boolean are FALSE, "" is FALSE,
        # a non-empty plain string is TRUE — not string-emptiness across
        # the board
        pos = leng.query("SELECT ?s WHERE { ?s <http://e/v> ?v . FILTER(?v) }")
        assert [r["s"]["value"] for r in pos.collect()] == ["http://e/c"]
        neg = leng.query("SELECT ?s WHERE { ?s <http://e/v> ?v . FILTER(!?v) }")
        assert sorted(r["s"]["value"] for r in neg.collect()) == [
            "http://e/a", "http://e/b", "http://e/d",
        ]

    def test_string_functions_keep_lang(self, leng):
        df = leng.query(
            "SELECT (UCASE(?l) AS ?u) (CONCAT(?l, ?l) AS ?c) (SUBSTR(?l, 2) AS ?m) "
            "WHERE { <http://e/l1> <http://e/lab> ?l }"
        )
        r = df.collect()[0]
        assert (r["u"]["value"], r["u"]["lang"]) == ("CHAT", "en")
        assert (r["c"]["value"], r["c"]["lang"]) == ("chatchat", "en")
        assert (r["m"]["value"], r["m"]["lang"]) == ("hat", "en")

    def test_lang_tags_compare_case_insensitively(self, leng):
        # "chat"@EN = "chat"@en (RDF 1.1 §3.3); data injected with mixed
        # case, so the comparison itself must normalize
        df = leng.query(
            "SELECT ?x ?y WHERE { ?x <http://e/lab> ?lx . ?y <http://e/lab> ?ly . "
            "FILTER(?lx = ?ly && STR(?x) < STR(?y)) }"
        )
        pairs = [(r["x"]["value"], r["y"]["value"]) for r in df.collect()]
        assert pairs == [("http://e/l1", "http://e/l2")]

    def test_count_distinct_is_term_level(self, leng):
        # three "chat" literals with tags en/EN/fr: same VALUE, distinct
        # TERMS (raw injected structs keep the case) -> 3, not 1
        df = leng.query("SELECT (COUNT(DISTINCT ?l) AS ?n) WHERE { ?s <http://e/lab> ?l }")
        assert df.collect()[0]["n"]["value"] == "3"

    def test_substr_xpath_low_start(self, leng):
        # fn:substring("12345", 0, 3): positions p with 0 <= p < 3 -> "12"
        df = leng.query('SELECT (SUBSTR("12345", 0, 3) AS ?r) WHERE { }')
        assert df.collect()[0]["r"]["value"] == "12"

    def test_parser_lowercases_lang_tags(self):
        from jena_fuseki_kafka_spark.rdf.turtle import parse_turtle

        ops = parse_turtle('<http://e/s> <http://e/p> "hi"@EN-GB .')
        assert ops[0][7] == "en-gb"


class TestAggregateTyping:
    """MIN/MAX order by value and return the original term; COUNT/SUM/AVG
    results are typed like ARQ returns them."""

    @pytest.fixture(scope="class")
    def aeng(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        XSD = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            (DEFAULT_GRAPH, "http://e/a", "http://e/n", "literal", "9", XSD + "integer", None),
            (DEFAULT_GRAPH, "http://e/b", "http://e/n", "literal", "10", XSD + "integer", None),
            (DEFAULT_GRAPH, "http://e/c", "http://e/n", "literal", "2", XSD + "integer", None),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_min_max_numeric_not_lexicographic(self, aeng):
        # lexicographically "10" < "2" < "9" — MIN/MAX must use VALUE order
        df = aeng.query("SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) WHERE { ?s <http://e/n> ?n }")
        r = df.collect()[0]
        assert r["lo"]["value"] == "2"
        assert r["hi"]["value"] == "10"
        # and the winning TERM keeps its datatype
        assert r["lo"]["datatype"].endswith("#integer")

    def test_count_sum_avg_typing(self, aeng):
        df = aeng.query(
            "SELECT (COUNT(*) AS ?c) (SUM(?n) AS ?s) (AVG(?n) AS ?a) "
            "WHERE { ?x <http://e/n> ?n }"
        )
        r = df.collect()[0]
        assert r["c"]["value"] == "3" and r["c"]["datatype"].endswith("#integer")
        assert r["s"]["value"] == "21" and r["s"]["datatype"].endswith("#integer")
        assert r["a"]["value"] == "7.0" and r["a"]["datatype"].endswith("#decimal")


class TestProjectionValidation:
    """§18.2.4 projection rules: AS/BIND targets must be fresh; plain
    projected vars must be group keys; group-key expressions project."""

    def test_bind_shadow_rejected(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError, match="already bound"):
            engine.query(
                "PREFIX ex: <http://example.org/> "
                "SELECT ?n WHERE { ?s ex:name ?n BIND(1 AS ?n) }"
            ).collect()

    def test_select_as_shadow_rejected(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError, match="reuses in-scope"):
            engine.query(
                "PREFIX ex: <http://example.org/> "
                "SELECT (1 AS ?n) WHERE { ?s ex:name ?n }"
            ).collect()

    def test_ungrouped_projection_rejected(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError, match="not grouped"):
            engine.query("SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }").collect()

    def test_group_key_expression_projects(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT (STRLEN(?n) AS ?L) (COUNT(*) AS ?c) "
            "WHERE { ?s ex:name ?n } GROUP BY ?n"
        )
        rows = {(r["L"]["value"], r["c"]["value"]) for r in df.collect()}
        # Alice=5, Carol=5 (two groups of len 5), Bob=3, Dave=4
        assert rows == {("5", "1"), ("3", "1"), ("4", "1")}


class TestArithmeticDifferential:
    """Differential fuzz: random (unspaced) integer arithmetic expressions
    evaluated by the engine vs Python Fraction ground truth.  This is the
    class of bug where "1+1" tokenized as "1","+1" and silently returned
    1 — the whole additive grammar gets exercised, including the signed-
    numeric-literal continuation rule [116]."""

    def test_random_integer_arithmetic(self, engine):
        import random
        from fractions import Fraction

        rng = random.Random(42)

        PREC = {"+": 1, "-": 1, "*": 2, "/": 2}

        def gen(depth=0):
            # returns (text, Fraction value, precedence) or None on div0;
            # NEVER inserts spaces — the tokenizer must handle "7-2*3" and
            # "(1+2)/4" raw.  Parens added only where precedence demands,
            # plus random redundant ones, so flat chains get exercised.
            if depth >= 3 or rng.random() < 0.4:
                n = rng.randint(0, 50)
                return str(n), Fraction(n), 3
            op = rng.choice("+-*/")
            a = gen(depth + 1)
            b = gen(depth + 1)
            if a is None or b is None:
                return None
            at, av, ap = a
            bt, bv, bp = b
            if op == "/" and bv == 0:
                return None
            if op == "+":
                val = av + bv
            elif op == "-":
                val = av - bv
            elif op == "*":
                val = av * bv
            else:
                val = av / bv
            # left-assoc: lhs needs parens below op's level; rhs also at
            # the same level when op is non-commutative-assoc (- /)
            fa = f"({at})" if ap < PREC[op] or rng.random() < 0.3 else at
            need_b = bp < PREC[op] or (bp == PREC[op] and op in "-/")
            fb = f"({bt})" if need_b or rng.random() < 0.3 else bt
            return f"{fa}{op}{fb}", val, PREC[op]

        checked = 0
        for _ in range(60):
            g = gen()
            if g is None:
                continue
            text, expected, _prec = g
            df = engine.query(f"SELECT ({text} AS ?r) WHERE {{ }}")
            got = df.collect()[0]["r"]
            assert got is not None, text
            assert abs(float(got["value"]) - float(expected)) <= 1e-9 * max(
                1.0, abs(float(expected))
            ), (text, expected, got)
            checked += 1
        assert checked >= 40


class TestComparisonOperandTypes:
    """§17.3: ordering comparisons are defined only between literals;
    ExpressionList may be empty (grammar [128])."""

    def test_iri_ordering_is_type_error(self, engine):
        # every person pair would lexically compare — all rows must drop
        df = engine.query(
            "PREFIX ex: <http://example.org/> SELECT ?a WHERE { "
            "?a ex:knows ?x . ?b ex:knows ?y . FILTER(?x < ?y) }"
        )
        assert df.count() == 0

    def test_iri_equality_still_allowed(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?a WHERE { ?a ex:knows ?x FILTER(?x = ex:bob) }"
        )
        assert [r["a"]["value"] for r in df.collect()] == [EX + "alice"]

    def test_empty_expression_list(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n FILTER(?n NOT IN ()) }"
        )
        assert df.count() == 4
        df2 = engine.query(
            "PREFIX ex: <http://example.org/> "
            "SELECT ?n WHERE { ?s ex:name ?n FILTER(?n IN ()) }"
        )
        assert df2.count() == 0


class TestConstructModifiers:
    """§16.2: solution modifiers apply to the solution sequence before
    the CONSTRUCT template projects it; trailing tokens are a parse
    error, never silently dropped."""

    def test_construct_order_limit(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "CONSTRUCT { ?s ex:top ?a } WHERE { ?s ex:age ?a } "
            "ORDER BY DESC(?a) LIMIT 1"
        )
        rows = [(r.subject, r.object_value) for r in df.collect()]
        assert rows == [(EX + "carol", "35")]

    def test_construct_shorthand_limit(self, engine):
        df = engine.query(
            "PREFIX ex: <http://example.org/> CONSTRUCT WHERE { ?s ex:age ?a } LIMIT 2"
        )
        assert len(df.collect()) == 2

    def test_construct_limit_cuts_solutions_not_triples(self, engine):
        # LIMIT 1 keeps one solution; the template makes two triples of it
        df = engine.query(
            "PREFIX ex: <http://example.org/> "
            "CONSTRUCT { ?s ex:x ?a . ?s ex:y ?a } WHERE { ?s ex:age ?a } "
            "ORDER BY ?s LIMIT 1"
        )
        rows = sorted((r.subject, r.predicate, r.object_value) for r in df.collect())
        assert rows == [(EX + "alice", EX + "x", "30"), (EX + "alice", EX + "y", "30")]

    def test_trailing_tokens_rejected(self, engine):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError, match="trailing"):
            engine.query("SELECT ?s WHERE { ?s ?p ?o } SPURIOUS")


class TestBgpJoinOrder:
    """The greedy variable-counting reorder must avoid cross joins for
    connected BGPs written in hostile syntactic order, without changing
    the result set."""

    def test_disconnected_middle_pattern_no_cross_join(self, engine):
        # syntactic order: (a) ?x knows ?y — (b) ?z age ?w (disconnected
        # from a) — (c) ?y name ?n (connects a).  Naive left-to-right
        # joins (a) x (b) as a CROSS join; the reorder keeps connected
        # patterns adjacent so the only cross is the final one (if any).
        df = engine.query(
            "PREFIX ex: <http://example.org/> SELECT ?n ?w WHERE { "
            "?x ex:knows ?y . ?z ex:age ?w . ?y ex:name ?n }"
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the knows/name pair must join BEFORE the disconnected age
        # pattern: exactly one cartesian in the tree, at the top
        assert plan.count("Join Cross") <= 1
        got = {(r["n"]["value"], r["w"]["value"]) for r in df.collect()}
        # (Bob|Carol) x (30|25|35)
        assert len(got) == 6

    def test_selective_pattern_joins_first(self, engine):
        from jena_fuseki_kafka_spark.sparql.translate import Translator

        # constant-subject+predicate pattern must sort ahead of ?s ?p ?o
        triples = [
            (("var", "s"), ("var", "p"), ("var", "o"), None),
            (("iri", EX + "alice"), ("iri", EX + "age"), ("var", "a"), None),
        ]
        ordered = Translator._order_bgp(triples)
        assert ordered[0][0] == ("iri", EX + "alice")


class TestStringArgumentCompatibility:
    """§17.4.3.1: two-string functions require compatible arguments —
    second arg simple/xsd:string, or both with the SAME language tag."""

    def test_incompatible_langs_are_type_error(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        E = "http://e/"
        rows = [
            (DEFAULT_GRAPH, E + "a", E + "l", "literal", "chat", None, "en"),
            (DEFAULT_GRAPH, E + "b", E + "l", "literal", "chatter", None, "fr"),
            (DEFAULT_GRAPH, E + "c", E + "l", "literal", "chatty", None, None),
        ]
        eng = SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))
        df = eng.query(
            "SELECT ?x ?y WHERE { ?x <http://e/l> ?lx . ?y <http://e/l> ?ly . "
            "FILTER(STRSTARTS(?ly, ?lx)) }"
        )
        pairs = sorted((r["x"]["value"], r["y"]["value"]) for r in df.collect())
        # en/fr and simple-arg1/tagged-arg2 pairs are ERRORS and drop;
        # only the same-term pairs survive
        assert pairs == [(E + "a", E + "a"), (E + "b", E + "b"), (E + "c", E + "c")]

    def test_strbefore_keeps_lang_on_compatible_args(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        eng = SparqlEngine(
            spark.createDataFrame(
                [(DEFAULT_GRAPH, "http://e/s", "http://e/p", "literal", "x", None, None)],
                QUAD_SCHEMA,
            )
        )
        r = eng.query('SELECT (STRBEFORE("abc"@en, "b"@en) AS ?r) WHERE { }').collect()[0]["r"]
        assert (r["value"], r["lang"]) == ("a", "en")


class TestAggregateEdges:
    """AVG(DISTINCT), case-colliding aliases, bare GROUP BY expressions."""

    @pytest.fixture(scope="class")
    def geng(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        XSD = "http://www.w3.org/2001/XMLSchema#"
        E = "http://e/"
        rows = [
            (DEFAULT_GRAPH, E + "a", E + "n", "literal", "2", XSD + "integer", None),
            (DEFAULT_GRAPH, E + "b", E + "n", "literal", "2", XSD + "integer", None),
            (DEFAULT_GRAPH, E + "c", E + "n", "literal", "4", XSD + "integer", None),
            (DEFAULT_GRAPH, E + "a", E + "w", "literal", "xx", None, None),
            (DEFAULT_GRAPH, E + "b", E + "w", "literal", "yy", None, None),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_avg_distinct(self, geng):
        df = geng.query("SELECT (AVG(DISTINCT ?n) AS ?s) WHERE { ?x <http://e/n> ?n }")
        assert float(df.collect()[0]["s"]["value"]) == 3.0

    def test_case_colliding_aliases(self, geng):
        # Spark resolves case-insensitively: ?m and ?M must not collide in
        # the internal aggregate aliases
        df = geng.query("SELECT (MIN(?w) AS ?m) (MAX(?w) AS ?M) WHERE { ?x <http://e/w> ?w }")
        r = df.collect()[0]
        assert (r["m"]["value"], r["M"]["value"]) == ("xx", "yy")

    def test_bare_group_by_expression(self, geng):
        df = geng.query(
            "SELECT (COUNT(*) AS ?c) WHERE { ?x <http://e/n> ?n } GROUP BY (STR(?n))"
        )
        assert sorted(r["c"]["value"] for r in df.collect()) == ["1", "2"]


class TestValueSemanticsR7:
    """Round-7 ADVICE fixes: datatype-gated temporal ordering, unbound
    propagation through term-level string functions, argument-typed
    numeric function results, aggregate projection-alias validation."""

    @pytest.fixture(scope="class")
    def veng7(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        XSD = "http://www.w3.org/2001/XMLSchema#"
        E = "http://e/"
        rows = [
            # simple literals that Spark's lenient cast would read as dates
            (DEFAULT_GRAPH, E + "a", E + "v", "literal", "2024-02-01", None, None),
            (DEFAULT_GRAPH, E + "b", E + "v", "literal", "2024-1-3", None, None),
            # a real typed dateTime
            (DEFAULT_GRAPH, E + "c", E + "d", "literal",
             "2024-06-01T00:00:00", XSD + "dateTime", None),
            (DEFAULT_GRAPH, E + "d", E + "d", "literal",
             "2024-06-01T02:00:00+02:00", XSD + "dateTime", None),
            # tagged strings + a subject with no extra property (for OPTIONAL)
            (DEFAULT_GRAPH, E + "x", E + "s", "literal", "abc", None, "en"),
            (DEFAULT_GRAPH, E + "x", E + "t", "literal", "b", None, "fr"),
            (DEFAULT_GRAPH, E + "y", E + "s", "literal", "xyz", None, None),
        ]
        return SparqlEngine(spark.createDataFrame(rows, QUAD_SCHEMA))

    def test_simple_literal_ordering_is_codepoint_not_timeline(self, veng7):
        # "2024-02-01" < "2024-1-3" by codepoint ('0' < '1'); the timeline
        # would invert it (Feb 1 > Jan 3).  The timestamp lane must be
        # gated on the xsd:dateTime/xsd:date datatype.
        df = veng7.query(
            "SELECT ?x WHERE { ?x <http://e/v> ?v . "
            'FILTER(?v < "2024-1-3") }'
        )
        assert [r["x"]["value"] for r in df.collect()] == ["http://e/a"]

    def test_typed_datetimes_still_compare_on_timeline(self, veng7):
        # +02:00 normalizes to equal instants: d is NOT strictly later
        df = veng7.query(
            "SELECT ?x WHERE { ?x <http://e/d> ?t . "
            'FILTER(?t > "2024-06-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>) }'
        )
        assert [r["x"]["value"] for r in df.collect()] == []

    def test_plain_vs_datetime_ordering_is_type_error(self, veng7):
        # a plain literal against an xsd:dateTime must DROP (type error),
        # not silently compare on either lane
        df = veng7.query(
            "SELECT ?x WHERE { ?x <http://e/v> ?v . "
            'FILTER(?v < "2025-01-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>) }'
        )
        assert df.count() == 0

    def test_string_function_type_error_stays_unbound(self, veng7):
        # STRBEFORE("abc"@en, "b"@fr) is a §17.4.3.1 type error: the
        # result must be UNBOUND (BOUND false), never the empty literal
        df = veng7.query(
            "SELECT ?r WHERE { <http://e/x> <http://e/s> ?a . "
            "<http://e/x> <http://e/t> ?b . BIND(STRBEFORE(?a, ?b) AS ?r) }"
        )
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["r"] is None

    def test_ucase_of_unbound_stays_unbound(self, veng7):
        # OPTIONAL leaves ?t unbound for e/y; UCASE(?t) must stay unbound
        # so COUNT(?u) sees 1, not 2
        df = veng7.query(
            "SELECT (COUNT(?u) AS ?c) WHERE { ?x <http://e/s> ?s . "
            "OPTIONAL { ?x <http://e/t> ?t } BIND(UCASE(?t) AS ?u) }"
        )
        assert df.collect()[0]["c"]["value"] == "1"

    def test_strbefore_empty_delimiter_keeps_kind(self, veng7):
        # STRBEFORE("abc"@en, "") is ""@en (empty arg matches, kind kept)
        r = veng7.query(
            'SELECT (STRBEFORE("abc"@en, "") AS ?r) WHERE { }'
        ).collect()[0]["r"]
        assert (r["value"], r["lang"]) == ("", "en")

    def test_abs_returns_argument_type(self, veng7):
        XSD = "http://www.w3.org/2001/XMLSchema#"
        r = veng7.query(
            f'SELECT (ABS("-1.5"^^<{XSD}double>) AS ?r) WHERE {{ }}'
        ).collect()[0]["r"]
        assert r["datatype"] == XSD + "double"
        assert float(r["value"]) == 1.5

    def test_decimal_arithmetic_stays_decimal(self, veng7):
        XSD = "http://www.w3.org/2001/XMLSchema#"
        r = veng7.query(
            "SELECT (1.5 + 2.25 AS ?r) WHERE { }"
        ).collect()[0]["r"]
        assert r["datatype"] == XSD + "decimal"
        assert float(r["value"]) == 3.75
        r2 = veng7.query(
            "SELECT (1.5 + 2.5e0 AS ?r) WHERE { }"
        ).collect()[0]["r"]
        assert r2["datatype"] == XSD + "double"

    def test_aggregate_projection_alias_collision_rejected(self, veng7):
        from jena_fuseki_kafka_spark.model import RdfParseError

        with pytest.raises(RdfParseError):
            veng7.query(
                "SELECT ?x (COUNT(*) AS ?x) WHERE { ?x <http://e/v> ?v } GROUP BY ?x"
            )


class TestConnectedComponentsGuard:
    def test_nonconvergence_raises_instead_of_partial_labels(self, spark):
        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        # a 6-node path graph converges in ~3 jump rounds and fixpoint
        # DETECTION needs a further no-change round; cap at 2 -> raise
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], ["doc_a", "doc_b"]
        )
        # driver_max_edges=0 forces the distributed fixpoint: the guard
        # under test lives in the round loop, not the driver fast path
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_rounds=2, driver_max_edges=0)

    def test_path_graph_converges_to_single_component(self, spark):
        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], ["doc_a", "doc_b"]
        )
        out = connected_components(pairs, max_rounds=50).collect()
        assert {r["comp"] for r in out} == {0} and len(out) == 6


class TestNonFiniteNumericBuiltins:
    """r12 engine fix: XPath fn:floor/ceil/round stay in the DOUBLE
    domain (floor(INF) = INF, floor(NaN) = NaN), but Spark's floor()/
    ceil() return LONG and clamp non-finite to Long.Max/MinValue (and
    floor(NaN) to 0).  Both builtin sites in translate.py — the
    term-construction branch (bare SELECT projection) and the plain
    value path (inside xsd:integer() &c.) — pass any |x| >= 2^52
    through unchanged, so a later xsd:integer() try_cast NULLs
    non-finite naturally: type error -> unbound, never a clamped
    9223372036854775807.  Reference behavior: Jena ARQ delegates to
    XPath F&O (jena XSDFuncOp), which keeps INF/NaN in the double
    value space."""

    @pytest.fixture(scope="class")
    def nfeng(self, spark):
        from jena_fuseki_kafka_spark.model import QUAD_SCHEMA

        return SparqlEngine(
            spark.createDataFrame([], QUAD_SCHEMA)
        )

    XSD = "http://www.w3.org/2001/XMLSchema#"

    def _one(self, eng, expr):
        return eng.query(f"SELECT ({expr} AS ?r) WHERE {{ }}").collect()[0]["r"]

    @pytest.mark.parametrize("fn", ["FLOOR", "CEIL", "ROUND"])
    def test_inf_passes_through_term_path(self, nfeng, fn):
        import math

        r = self._one(nfeng, f'{fn}("INF"^^<{self.XSD}double>)')
        assert r is not None and r["datatype"] == self.XSD + "double"
        assert math.isinf(float(r["value"])) and float(r["value"]) > 0

    @pytest.mark.parametrize("fn", ["FLOOR", "CEIL", "ROUND"])
    def test_nan_passes_through_term_path(self, nfeng, fn):
        import math

        r = self._one(nfeng, f'{fn}("NaN"^^<{self.XSD}double>)')
        assert r is not None and math.isnan(float(r["value"]))

    def test_neg_inf_floor(self, nfeng):
        import math

        r = self._one(nfeng, f'FLOOR("-INF"^^<{self.XSD}double>)')
        assert math.isinf(float(r["value"])) and float(r["value"]) < 0

    @pytest.mark.parametrize("fn", ["FLOOR", "CEIL", "ROUND"])
    def test_integer_of_nonfinite_is_unbound(self, nfeng, fn):
        # the value path (inside the xsd:integer constructor), where the
        # pre-r12 clamp produced 9223372036854775807
        XSD = self.XSD
        q = (
            f"PREFIX xsd: <{XSD}> "
            f'SELECT (xsd:integer({fn}("INF"^^<{XSD}double>)) AS ?r) WHERE {{ }}'
        )
        r = nfeng.query(q).collect()[0]["r"]
        assert r is None

    def test_big_finite_double_is_identity(self, nfeng):
        # |x| >= 2^52 doubles are already integral: passthrough, no clamp
        r = self._one(nfeng, f'FLOOR("1e300"^^<{self.XSD}double>)')
        assert float(r["value"]) == 1e300

    def test_small_finite_still_floors(self, nfeng):
        r = self._one(nfeng, f'FLOOR("2.75"^^<{self.XSD}double>)')
        assert float(r["value"]) == 2.0
        r2 = self._one(nfeng, f'ROUND("-2.5"^^<{self.XSD}double>)')
        # fn:round ties go toward +INF: round(-2.5) = -2
        assert float(r2["value"]) == -2.0
