"""Algebra / AST nodes for the SPARQL facade.

Mirrors the SPARQL 1.1 algebra (public W3C spec) at the granularity the
translator needs.  Terms are plain tuples: ("var", name), ("iri", value),
("bnode", label), ("literal", lexical, datatype|None, lang|None).
Property paths appear in the predicate position as
("path", op, *args) with op in {"seq", "alt", "inv", "plus", "star", "opt"}.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

Term = tuple  # ("var"|"iri"|"bnode"|"literal"|"path", ...)


# ---------------------------------------------------------------- patterns
@dataclass
class BGP:
    triples: list  # list[(s, p, o, g)] — g is None (default scope) or a Term

@dataclass
class Join:
    left: Any
    right: Any

@dataclass
class LeftJoin:
    left: Any
    right: Any
    expr: Any | None = None

@dataclass
class Union:
    left: Any
    right: Any

@dataclass
class Minus:
    left: Any
    right: Any

@dataclass
class Filter:
    expr: Any
    pattern: Any

@dataclass
class Extend:  # BIND
    pattern: Any
    var: str
    expr: Any

@dataclass
class GraphPattern:
    graph: Term  # var or iri
    pattern: Any

@dataclass
class SubSelect:  # nested SELECT inside a group graph pattern
    query: Any  # SelectQuery

@dataclass
class ValuesPattern:
    variables: list[str]
    rows: list[list[Term | None]]  # None = UNDEF

@dataclass
class ServicePattern:  # federated SERVICE <endpoint> { pattern }
    endpoint: str
    pattern: Any        # parsed inner group (variable scoping / validation)
    silent: bool
    raw: str            # inner group as re-serializable token text "{ ... }"
    prefixes: dict      # prologue prefixes in scope, for re-serialization


# ---------------------------------------------------------------- expressions
@dataclass
class Var:
    name: str

@dataclass
class Lit:
    value: str
    datatype: str | None = None
    lang: str | None = None

@dataclass
class Iri:
    value: str

@dataclass
class Op:  # unary/binary operators: || && ! = != < <= > >= + - * / in notin
    op: str
    args: list

@dataclass
class Call:  # builtin function call
    name: str
    args: list
    distinct: bool = False  # for aggregates
    separator: str | None = None  # GROUP_CONCAT

@dataclass
class ExistsExpr:
    pattern: Any
    negated: bool = False


# ---------------------------------------------------------------- query forms
# `dataset` on every form: None = the store's dataset; else (default_iris,
# named_iris) from FROM / FROM NAMED clauses (SPARQL 1.1 §13.2) — default
# graph := merge of default_iris, named graphs := exactly named_iris.
@dataclass
class SelectQuery:
    projection: list  # [(var_name, expr|None)] — expr None = plain var; [] = *
    pattern: Any = None
    distinct: bool = False
    group_by: list = field(default_factory=list)  # [Var|expr]
    having: Any | None = None
    order_by: list = field(default_factory=list)  # [(expr, ascending)]
    limit: int | None = None
    offset: int | None = None
    dataset: tuple | None = None
    # {column name: SPARQL name} of variables the parser renamed apart
    var_names: dict = field(default_factory=dict)

@dataclass
class AskQuery:
    pattern: Any = None
    dataset: tuple | None = None

@dataclass
class ConstructQuery:
    template: list = field(default_factory=list)  # [(s,p,o,g)]
    pattern: Any = None
    group_by: list = field(default_factory=list)
    having: Any = None
    order_by: list = field(default_factory=list)
    limit: int | None = None
    offset: int = 0
    dataset: tuple | None = None

@dataclass
class DescribeQuery:
    terms: list = field(default_factory=list)  # [("iri", v) | ("var", name)]
    pattern: Any = None
    dataset: tuple | None = None
