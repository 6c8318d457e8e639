"""A declared SPARQL fragment answered on the driver with pyarrow.

A read or an update WHERE over a small store (``Snapshot.small``) costs
one Spark job on the translator's path, and a Spark job has a fixed cost
far above reading a small store on the driver.  This module evaluates a
fragment of the algebra over a quad source's ``arrow(filter)`` (a store
``Snapshot``, or an update request's ``_Pending`` state) with no Spark
job.  ``plan_query`` and ``plan_pattern`` return None outside it, and
the caller takes the translator unchanged.  The fragment:

- SELECT (plain variables or ``*``) and ASK, with no FROM or protocol
  dataset, DISTINCT, ORDER BY, LIMIT, OFFSET, HAVING or sub-select;
- triple patterns of variables, IRIs and object literals (a blank node
  label is a hidden variable), under the default graph, ``GRAPH <iri>``
  or ``GRAPH ?g``;
- FILTER conjunctions that each compare a variable with a numeric
  literal (``=  !=  <  <=  >  >=``);
- OPTIONAL with no filter, sharing at least one variable, and joins of
  groups; a shared variable an OPTIONAL may leave unbound is outside;
- GROUP BY variables with ``COUNT(*)`` / ``COUNT(?v)``, or those counts
  over the whole solution set.

A plan runs with a row bound (the store's ``SMALL_COMMIT_ROWS``): a join
whose result would hold more solutions raises ``TooLarge`` before it is
built, and the caller takes the translator, which spills to disk where
the driver would have to hold the rows.

A solution set is a pyarrow table with four string columns per variable,
``v.kind``, ``v.value``, ``v.datatype`` and ``v.lang`` (``""`` for no
datatype or language tag, all four null when unbound): the terms
``Translator`` builds as structs (``_subject_term``, ``_object_term``),
so both paths give the same bindings.  Every table also carries a
constant ``__one__`` column, which every join is keyed on: a join without
shared variables is then a cross join, and a pattern with no variable
keeps its row count.  A triple pattern is one ``source.arrow(filter)``
read with its constant terms and graph scope (``_scope_cond``) pushed into
the scan; joins are hash joins on the shared variables' columns
(``Table.join``), OPTIONAL a left outer one, and GROUP BY a hash
aggregate (``Table.group_by``).

The answers are the translator's, quirks included: a BGP joins in
``Translator._order_bgp``'s order and ``SELECT *`` lists its variables in
the column order Spark's joins give; a comparison with a number reads
any value Spark's string-to-double cast accepts, whatever its datatype,
and orders NaN above every number and equal to itself, as Spark does.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from ..model import DEFAULT_GRAPH, XSD_INTEGER, XSD_STRING
from .ast import AskQuery, BGP, Call, Filter, GraphPattern, Join, LeftJoin, Lit, Op, SelectQuery, Var
from .translate import NUMERIC_TYPES, Translator, _bnode_as_var, _certainly_bound, _conjuncts

FIELDS = ("kind", "value", "datatype", "lang")
_ONE = "__one__"
_FLIP = {"=": "=", "!=": "!=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
_TESTS = {
    "=": lambda c: c == 0, "!=": lambda c: c != 0, "<": lambda c: c < 0,
    "<=": lambda c: c <= 0, ">": lambda c: c > 0, ">=": lambda c: c >= 0,
}


class _Outside(Exception):
    """The query is outside the fragment."""


class TooLarge(Exception):
    """A join would give more solutions than the plan's row bound."""


def _cols(var: str) -> list[str]:
    return [f"{var}.{f}" for f in FIELDS]


@dataclass
class Plan:
    """A compiled query or pattern.  ``vars`` are its result variables, in
    the translator's column order (None for ASK); ``run(source,
    max_rows)`` of a plan from ``plan_query`` / ``plan_pattern`` is the
    solution table (the bool, for ASK).  ``maybe`` holds the variables a
    pattern may leave unbound: those only an OPTIONAL binds."""

    vars: list[str] | None
    run: Callable
    maybe: frozenset = frozenset()
    scans: tuple = ()  # (filter, constant subject or None) of each triple pattern


def plan_query(ast) -> Plan | None:
    """The plan of a SELECT or ASK query, or None outside the fragment."""
    try:
        if isinstance(ast, AskQuery):
            if ast.dataset is not None:
                raise _Outside
            node = _pattern(ast.pattern, None)
            ask = Plan(None, lambda source: node.run(source).num_rows > 0, scans=node.scans)
            return _reading_once(ask)
        if isinstance(ast, SelectQuery):
            return _reading_once(_select(ast))
    except _Outside:
        pass
    return None


def plan_pattern(pattern, graph) -> Plan | None:
    """The plan of an update's WHERE pattern under ``graph`` (the WITH
    graph as ("iri", g), or None), or None outside the fragment."""
    try:
        return _reading_once(_pattern(pattern, graph))
    except _Outside:
        return None


def _reading_once(plan: Plan) -> Plan:
    """``plan`` over one read of its source (``_OneRead``)."""
    return Plan(
        plan.vars,
        lambda source, max_rows: plan.run(_OneRead(source, plan.scans, max_rows)),
        plan.maybe,
    )


class _OneRead:
    """One ``arrow`` read of a source for all the triple patterns of a
    plan: the quads any of their filters matches, which each pattern then
    filters again in memory.  When every pattern names the same constant
    subject, only that subject's bucket is read.  ``max_rows`` bounds
    every join of the plan."""

    def __init__(self, source, scans: tuple, max_rows: int):
        self.scans, self.max_rows = scans, max_rows
        subjects = {subject for _, subject in scans}
        if scans:
            self.table = source.arrow(
                reduce(operator.or_, [f for f, _ in scans]),
                subjects.pop() if len(subjects) == 1 else None,
            )

    def arrow(self, filter):
        return self.table if len(self.scans) == 1 else self.table.filter(filter)


def solutions(table, variables: list[str], batch_rows: int = 8192):
    """The rows of a solution table as ``{variable: term or None}`` dicts,
    a term being ``{"kind", "value", "datatype", "lang"}`` as a Spark
    binding struct reads; one Arrow batch at a time."""
    for batch in table.select([c for v in variables for c in _cols(v)]).to_batches(batch_rows):
        terms = []
        for i in range(len(variables)):
            k, v, d, lg = (batch.column(4 * i + j).to_pylist() for j in range(4))
            terms.append([None if t[0] is None else dict(zip(FIELDS, t)) for t in zip(k, v, d, lg)])
        for row in zip(*terms):
            yield dict(zip(variables, row))


# ------------------------------------------------------------ query forms
def _select(q: SelectQuery) -> Plan:
    if (q.dataset is not None or q.distinct or q.order_by or q.limit is not None
            or q.offset or q.having is not None):
        raise _Outside
    node = _pattern(q.pattern, None)
    if q.group_by or any(expr is not None for _, expr in q.projection):
        return _aggregate(q, node)
    names = [n for n, _ in q.projection] or [v for v in node.vars if not v.startswith("__bn_")]
    if not names or len(set(names)) != len(names):
        raise _Outside

    def run(source):
        import pyarrow as pa

        t = node.run(source)
        nulls = pa.nulls(t.num_rows, pa.string())
        return pa.table({
            c: t[c] if n in node.vars else nulls for n in names for c in _cols(n)
        })

    return Plan(names, run, scans=node.scans)


def _aggregate(q: SelectQuery, node: Plan) -> Plan:
    """GROUP BY variables (or one group of every solution) with counts.
    A count is ``"n"^^xsd:integer``, as ``Translator._term_agg`` makes it."""
    group: list[str] = []
    for g in q.group_by:
        if not isinstance(g, Var) or g.name not in node.vars or g.name in group:
            raise _Outside
        group.append(g.name)
    out: list[tuple[str, str | None]] = []  # (name, None: a group key | "*" | counted var)
    for name, expr in q.projection:
        if name in (n for n, _ in out):
            raise _Outside
        if expr is None:
            if name not in group:
                raise _Outside
            out.append((name, None))
            continue
        if name in group or not (isinstance(expr, Call) and expr.name == "count") or expr.distinct:
            raise _Outside
        if not expr.args:
            out.append((name, "*"))
        elif len(expr.args) == 1 and isinstance(expr.args[0], Var) and expr.args[0].name in node.vars:
            out.append((name, expr.args[0].name))
        else:
            raise _Outside
    if not out:
        raise _Outside
    counted = list(dict.fromkeys(spec for _, spec in out if spec is not None))

    def run(source):
        import pyarrow as pa
        import pyarrow.compute as pc

        t = node.run(source)
        if group:
            aggs = [([], "count_all") if v == "*" else (f"{v}.kind", "count") for v in counted]
            res = t.group_by([c for v in group for c in _cols(v)]).aggregate(aggs)
            counts = {v: res[f"{a[0]}_{a[1]}" if a[0] else a[1]] for v, a in zip(counted, aggs)}
        else:
            res = pa.table({_ONE: pa.array([0], pa.int8())})
            counts = {v: pa.array([t.num_rows - (0 if v == "*" else t[f"{v}.kind"].null_count)])
                      for v in counted}
        n = res.num_rows
        cols = {}
        for name, spec in out:
            if spec is None:
                cols.update({c: res[c] for c in _cols(name)})
            else:
                cols.update(zip(_cols(name), (
                    pa.repeat(pa.scalar("literal"), n), pc.cast(counts[spec], pa.string()),
                    pa.repeat(pa.scalar(XSD_INTEGER), n), pa.repeat(pa.scalar(""), n),
                )))
        return pa.table(cols)

    return Plan([n for n, _ in out], run, scans=node.scans)


# ------------------------------------------------------------ patterns
def _pattern(node, graph) -> Plan:
    if isinstance(node, BGP):
        if not node.triples:
            return Plan([], lambda source: _unit(1))
        return reduce(_join, [
            _triple(s, p, o, g if g is not None else graph)
            for s, p, o, g in Translator._order_bgp(node.triples)
        ])
    if isinstance(node, GraphPattern):
        if node.graph[0] not in ("iri", "var"):
            raise _Outside
        return _pattern(node.pattern, node.graph)
    if isinstance(node, (Join, LeftJoin)):
        left, right = _pattern(node.left, graph), _pattern(node.right, graph)
        common = [v for v in left.vars if v in right.vars]
        # shared variables the translator cannot prove bound on both sides
        # get its compatible-mapping join; that is the plain join when
        # neither side can leave them unbound (a GRAPH ?g variable, which
        # every triple of the group binds), in the column order it gives
        mixed = Translator._mixed_cols(
            common, _certainly_bound(node.left), _certainly_bound(node.right)
        )
        if set(mixed) & (left.maybe | right.maybe):
            raise _Outside
        if isinstance(node, Join):
            return _join(left, right, compat=bool(mixed))
        if node.expr is not None or not common:
            raise _Outside
        return _join(left, right, "left outer", compat=bool(mixed))
    if isinstance(node, Filter):
        inner = _pattern(node.pattern, graph)
        tests = [_comparison(e, inner.vars) for e in _conjuncts(node.expr)]

        def run(source):
            t = inner.run(source)
            for test in tests:
                t = t.filter(test(t))
            return t

        return Plan(inner.vars, run, inner.maybe, inner.scans)
    raise _Outside


def _unit(n: int):
    import pyarrow as pa

    return pa.table({_ONE: pa.array([0] * n, pa.int8())})


def _join(left: Plan, right: Plan, how: str = "inner", compat: bool = False) -> Plan:
    """Hash join on the shared variables' columns.  The result lists them
    first, then the left side's other variables, then the right side's:
    Spark's column order for a join on column names.  A cross join, and
    the translator's ``compat`` join, list the left side's variables, then
    the right side's others."""
    common = [v for v in left.vars if v in right.vars]
    rest = [v for v in right.vars if v not in common]
    if common and not compat:
        order = common + [v for v in left.vars if v not in common] + rest
    else:
        order = left.vars + rest
    maybe = left.maybe | right.maybe | (frozenset(rest) if how == "left outer" else frozenset())
    keys = [_ONE] + [c for v in common for c in _cols(v)]

    def run(source):
        lt, rt = left.run(source), right.run(source)
        if lt.num_rows * max(rt.num_rows, 1) > source.max_rows:
            if _join_rows(lt, rt, keys, how) > source.max_rows:
                raise TooLarge
        out = lt.join(rt, keys=keys, join_type=how, use_threads=False)
        return out.select([_ONE] + [c for v in order for c in _cols(v)])

    return Plan(order, run, maybe, left.scans + right.scans)


def _join_rows(left, right, keys: list[str], how: str) -> int:
    """How many rows joining ``left`` and ``right`` on ``keys`` gives,
    from the row count of each key on each side."""
    import pyarrow.compute as pc

    counts = right.group_by(keys).aggregate([([], "count_all")])
    pairs = left.group_by(keys).aggregate([([], "count_all")]).join(
        counts.rename_columns(keys + ["right"]), keys, join_type=how, use_threads=False
    )
    per_left = pairs["right"] if how == "inner" else pc.fill_null(pairs["right"], 1)
    return pc.sum(pc.multiply(pairs["count_all"], per_left)).as_py() or 0


def _scope(graph):
    """``_scope_cond`` as a ``pyarrow.dataset`` filter."""
    import pyarrow.dataset as ds

    g = ds.field("graph")
    if graph is None:
        return g == DEFAULT_GRAPH
    if graph[0] == "iri":
        return g == graph[1]
    return g != DEFAULT_GRAPH


def _object_eq(term):
    """The filter a constant object term puts on the quads, as the
    translator's ``obj_eq`` does."""
    import pyarrow.dataset as ds

    kind, value = ds.field("object_kind"), ds.field("object_value")
    if term[0] != "literal":
        return (kind != "literal") & (value == term[1])
    dt, lang = ds.field("object_datatype"), ds.field("object_lang")
    c = (kind == "literal") & (value == term[1])
    c &= (dt.is_null() | (dt == XSD_STRING)) if term[2] is None else dt == term[2]
    return c & ((lang == term[3]) if term[3] else lang.is_null())


def _term(t, position: str) -> list:
    """The four binding columns of the term at ``position`` of quads ``t``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = t.num_rows
    empty = pa.repeat(pa.scalar(""), n)
    if position == "object":
        return [t["object_kind"], t["object_value"],
                pc.fill_null(t["object_datatype"], ""), pc.fill_null(t["object_lang"], "")]
    if position == "subject":
        kind = pc.if_else(pc.starts_with(t["subject"], pattern="_:"), "bnode", "iri")
    else:
        kind = pa.repeat(pa.scalar("iri"), n)
    return [kind, t[position], empty, empty]


def _triple(s, p, o, graph) -> Plan:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    s, o = _bnode_as_var(s), _bnode_as_var(o)
    if (s[0] not in ("var", "iri") or p[0] not in ("var", "iri")
            or o[0] not in ("var", "iri", "literal")
            or (graph is not None and graph[0] not in ("var", "iri"))):
        raise _Outside
    conds = [_scope(graph)]
    terms = []  # (variable, quad position) in the translator's order
    for term, position in ((s, "subject"), (p, "predicate"), (o, "object")):
        if term[0] == "var":
            terms.append((term[1], position))
        elif position == "object":
            conds.append(_object_eq(term))
        else:
            conds.append(ds.field(position) == term[1])
    if graph is not None and graph[0] == "var":
        terms.append((graph[1], "graph"))
    scan = reduce(operator.and_, conds)
    names = list(dict.fromkeys(v for v, _ in terms))

    def run(source):
        t = source.arrow(scan)
        if not names:
            return _unit(min(t.num_rows, 1))
        bound, same = {}, []
        for v, position in terms:
            cols = _term(t, position)
            if v in bound:  # a repeated variable: the two terms are equal
                same += [pc.equal(a, b) for a, b in zip(bound[v], cols)]
            else:
                bound[v] = cols
        out = pa.table(
            [pa.repeat(pa.scalar(0, pa.int8()), t.num_rows)] + [c for v in names for c in bound[v]],
            names=[_ONE] + [c for v in names for c in _cols(v)],
        )
        return out.filter(reduce(pc.and_, same)) if same else out

    return Plan(names, run, scans=((scan, s[1] if s[0] == "iri" else None),))


# ------------------------------------------------------------ FILTER
def _comparison(expr, variables: list[str]) -> Callable:
    """The row mask of one FILTER conjunct comparing a variable with a
    numeric literal, as ``Translator._cmp_operands`` computes it: the
    variable's value read as a double, compared with the literal as the
    translator puts it in the plan (an ordering also needs a literal)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not (isinstance(expr, Op) and expr.op in _FLIP):
        raise _Outside
    a, b = expr.args
    if isinstance(a, Var) and isinstance(b, Lit):
        var, lit, op = a.name, b, expr.op
    elif isinstance(a, Lit) and isinstance(b, Var):
        var, lit, op = b.name, a, _FLIP[expr.op]
    else:
        raise _Outside
    if var not in variables or lit.datatype not in NUMERIC_TYPES:
        raise _Outside
    try:
        if lit.datatype == XSD_INTEGER:
            n = int(lit.value)
            if not -(2**63) <= n < 2**63:
                raise _Outside
            bound = float(n)
        else:
            bound = float(lit.value)
    except ValueError:
        raise _Outside from None
    holds = _TESTS[op]

    def test(t):
        value = t[f"{var}.value"]
        ok = [v for v in pc.unique(value).to_pylist()
              if v is not None and (x := spark_double(v)) is not None
              and holds(_spark_compare(x, bound))]
        mask = pc.is_in(value, value_set=pa.array(ok, pa.string()))
        if op in ("=", "!="):
            return mask
        return pc.and_(mask, pc.equal(t[f"{var}.kind"], "literal"))

    return test


def _spark_compare(x: float, y: float) -> int:
    """Spark's double order: NaN above every number and equal to itself."""
    xn, yn = x != x, y != y
    if xn or yn:
        return xn - yn
    return (x > y) - (x < y)


_DEC = r"(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
_HEX = r"0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+"
_JAVA_DOUBLE = re.compile(rf"[+-]?(?:NaN|Infinity|(?P<dec>{_DEC})[fFdD]?|(?P<hex>{_HEX})[fFdD]?)")
_SPECIAL = {"inf": "inf", "+inf": "inf", "infinity": "inf", "+infinity": "inf",
            "-inf": "-inf", "-infinity": "-inf", "nan": "nan"}
_JAVA_SPACE = "".join(map(chr, range(33)))


def spark_double(s: str) -> float | None:
    """Spark's ``try_cast(s AS DOUBLE)``: Java's ``Double.parseDouble``
    grammar after trimming control characters and spaces (ASCII digits,
    an optional ``fFdD`` suffix, hex with a binary exponent, signed
    ``NaN`` / ``Infinity``), then Spark's case-insensitive ``inf``,
    ``infinity`` and ``nan``; None where both refuse."""
    t = s.strip(_JAVA_SPACE)
    m = _JAVA_DOUBLE.fullmatch(t)
    if m is None:
        special = _SPECIAL.get(t.lower()) if t.isascii() else None
        return None if special is None else float(special)
    sign = -1.0 if t[0] == "-" else 1.0
    if m["hex"] is not None:
        return sign * float.fromhex(m["hex"])
    if m["dec"] is not None:
        return sign * float(m["dec"])
    return float("nan") if "NaN" in t else sign * float("inf")
