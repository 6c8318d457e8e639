"""SPARQL 1.1 recursive-descent parser (practical subset).

Grammar coverage (per the public SPARQL 1.1 spec; the subset is the surface
the reference contract exercises plus the standard algebra — SURVEY.md §2B):

  Prologue:   PREFIX, BASE
  Forms:      SELECT [DISTINCT|REDUCED] (vars | (expr AS ?v) | *),
              ASK, CONSTRUCT { template }, CONSTRUCT WHERE { bgp },
              DESCRIBE, nested sub-SELECT
  Patterns:   triple blocks with ';' ',' 'a', '[]' and '( ... )'
              collection sugar, OPTIONAL, UNION, MINUS, GRAPH ?g|<iri>,
              FILTER, BIND, VALUES, nested '{}' groups,
              SERVICE [SILENT] <endpoint> { ... } federation
  Paths:      ^p, p1/p2, p1|p2, p+, p*, p?, !(p|^q)  (predicate position)
  Exprs:      || && ! comparisons arithmetic, IN / NOT IN,
              EXISTS / NOT EXISTS, all the §2B builtin functions,
              aggregates COUNT/SUM/AVG/MIN/MAX/GROUP_CONCAT/SAMPLE
  Modifiers:  GROUP BY, HAVING, ORDER BY [ASC|DESC], LIMIT, OFFSET

Not covered (documented scope cut): SPARQL Update via this parser (the
reference deliberately rejects update over the stream — CHANGELOG.md:177-181;
store mutation goes through sparql/update.py and the ingest/store APIs).
"""

from __future__ import annotations

import re

from ..model import RdfParseError, XSD_BOOLEAN, XSD_DECIMAL, XSD_DOUBLE, XSD_INTEGER
from ..rdf.terms import unescape_string
from .ast import (
    AskQuery,
    BGP,
    Call,
    ConstructQuery,
    DescribeQuery,
    ExistsExpr,
    Extend,
    Filter,
    GraphPattern,
    Iri,
    Join,
    LeftJoin,
    Lit,
    Minus,
    Op,
    SelectQuery,
    ServicePattern,
    SubSelect,
    Union,
    ValuesPattern,
    Var,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

_TOKEN_RE = re.compile(
    r"""
      \s+ | \#[^\n]*
    | (?P<iri><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<str3>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<str>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<lang>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<bnode>_:[A-Za-z0-9][A-Za-z0-9\-_.]*)
    | (?P<op2>\^\^|&&|\|\||!=|<=|>=)
    | (?P<pname>[A-Za-z_][\w\-]*:[\w.\-:%]*|:[\w.\-:%]*|[A-Za-z_][\w]*)
    | (?P<punct>[{}()\[\];,.=<>!+\-*/|^?@])
    """,
    re.VERBOSE,
)

KEYWORDS = {
    "prefix", "base", "select", "distinct", "reduced", "where", "filter",
    "optional", "union", "minus", "graph", "bind", "values", "as", "group",
    "by", "having", "order", "asc", "desc", "limit", "offset", "ask",
    "construct", "undef", "in", "not", "exists", "a", "true", "false",
    "separator", "service", "silent",
}

AGGREGATES = {"count", "sum", "avg", "min", "max", "group_concat", "sample"}

BUILTINS = {
    "str", "lang", "langmatches", "datatype", "bound", "iri", "uri", "bnode", "rand",
    "abs", "ceil", "floor", "round", "concat", "strlen", "ucase", "lcase",
    "encode_for_uri", "contains", "strstarts", "strends", "strbefore",
    "strafter", "year", "month", "day", "hours", "minutes", "seconds",
    "timezone", "tz", "now", "uuid", "struuid", "md5", "sha1", "sha256",
    "sha384", "sha512", "coalesce", "if", "strlang", "strdt", "sameterm",
    "isiri", "isuri", "isblank", "isliteral", "isnumeric", "regex",
    "substr", "replace",
}


def _rejoin_tokens(toks: list[str]) -> str:
    """Re-serialize a token span into valid SPARQL for a remote endpoint.

    A plain space-join would split literal suffixes off their literals —
    ``"lit"@en`` -> ``"lit" @en`` and ``"5"^^xsd:int`` -> ``"5" ^^ xsd:int``
    — which some endpoints reject (the grammar attaches LANGTAG/'^^'
    directly to the string).  Reattach ``@lang`` and ``^^type`` to the
    preceding string token without intervening whitespace.
    """
    out: list[str] = []
    for t in toks:
        prev = out[-1] if out else ""
        if prev.endswith("^^"):
            out[-1] += t  # datatype IRI/pname after ^^
        elif prev.endswith(('"', "'")) and (
            t == "^^" or (t.startswith("@") and len(t) > 1 and t[1].isalpha())
        ):
            out[-1] += t  # LANGTAG or ^^ after a string literal
        else:
            out.append(t)
    return " ".join(out)


def _tokenize(text: str) -> list[str]:
    toks, pos, n = [], 0, len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            raise RdfParseError(f"sparql: cannot tokenize at {pos}: {text[pos:pos+30]!r}")
        t = m.group(0)
        pos = m.end()
        if t[0].isspace() or t.startswith("#"):
            continue
        toks.append(t)
    return toks


def _rename_case_variants(toks: list[str]) -> dict[str, str]:
    """Give each variable whose name case-folds onto an earlier one's
    (``?S`` after ``?s``) a name of its own, in place: SPARQL variable
    names are case-sensitive but Spark resolves column names without
    case.  Returns {new name: SPARQL name} for the renamed ones, which
    the engine puts back on the result's columns."""
    is_var = lambda t: t[0] in "?$" and len(t) > 1  # noqa: E731
    taken = {t[1:].lower() for t in toks if is_var(t)}
    owner: dict[str, str] = {}  # folded name -> the variable that has it
    alias: dict[str, str] = {}
    for i, t in enumerate(toks):
        if not is_var(t):
            continue
        name = t[1:]
        if name not in alias:
            alias[name] = name
            if owner.setdefault(name.lower(), name) != name:
                n = 1
                while f"{name}_{n}".lower() in taken:
                    n += 1
                alias[name] = f"{name}_{n}"
                taken.add(alias[name].lower())
        toks[i] = t[0] + alias[name]
    return {a: name for name, a in alias.items() if a != name}


class SparqlParser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.var_names = _rename_case_variants(self.toks)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self._anon = 0

    # ------------------------------------------------------------ plumbing
    def peek(self, k: int = 0) -> str | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def peek_kw(self, kw: str) -> bool:
        t = self.peek()
        return t is not None and t.lower() == kw

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise RdfParseError("sparql: unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t.lower() != tok.lower():
            raise RdfParseError(f"sparql: expected {tok!r}, got {t!r}")

    def _fresh_bnode(self) -> tuple:
        self._anon += 1
        return ("bnode", f"_:sparqlAnon{self._anon}")

    # ------------------------------------------------------------ entry
    def parse(self):
        while self.peek_kw("prefix") or self.peek_kw("base"):
            kw = self.next().lower()
            if kw == "prefix":
                pname = self.next()
                if not pname.endswith(":"):
                    raise RdfParseError(f"sparql: bad PREFIX {pname!r}")
                iri = self.next()
                self.prefixes[pname[:-1]] = self._iri_value(iri)
            else:
                self.base = self._iri_value(self.next())
        t = self.peek()
        if t is None:
            raise RdfParseError("sparql: empty query")
        tl = t.lower()
        if tl == "select":
            q = self._select()
        elif tl == "ask":
            q = self._ask()
        elif tl == "construct":
            q = self._construct()
        elif tl == "describe":
            q = self._describe()
        else:
            raise RdfParseError(f"sparql: unsupported query form {t!r}")
        if self.i < len(self.toks):
            # trailing tokens mean part of the query was silently dropped
            # (e.g. a modifier the form-specific parser didn't consume)
            raise RdfParseError(
                f"sparql: unexpected trailing input {self.toks[self.i]!r}"
            )
        if isinstance(q, SelectQuery):
            q.var_names = self.var_names
        return q

    # ------------------------------------------------------------ forms
    def _dataset_clause(self) -> tuple | None:
        """FROM <iri> / FROM NAMED <iri> clauses (SPARQL 1.1 §13.2) ->
        (default_iris, named_iris), or None when absent (store dataset)."""
        def iri() -> str:
            t = self.next()
            return self._iri_value(t) if t.startswith("<") else self._resolve_pname(t)

        default: list[str] = []
        named: list[str] = []
        while self.peek_kw("from"):
            self.next()
            if self.peek_kw("named"):
                self.next()
                named.append(iri())
            else:
                default.append(iri())
        return (default, named) if (default or named) else None

    def _select(self) -> SelectQuery:
        self.expect("select")
        q = SelectQuery(projection=[])
        if self.peek_kw("distinct"):
            self.next()
            q.distinct = True
        elif self.peek_kw("reduced"):
            self.next()
        if self.peek() == "*":
            self.next()
        else:
            while True:
                t = self.peek()
                if t is None or t.lower() in ("where", "from") or t == "{":
                    break
                if t.startswith(("?", "$")):
                    q.projection.append((self.next()[1:], None))
                elif t == "(":
                    self.next()
                    expr = self._expression()
                    self.expect("as")
                    var = self.next()
                    if not var.startswith(("?", "$")):
                        raise RdfParseError("sparql: AS must bind a variable")
                    self.expect(")")
                    q.projection.append((var[1:], expr))
                else:
                    raise RdfParseError(f"sparql: bad projection token {t!r}")
        q.dataset = self._dataset_clause()
        if self.peek_kw("where"):
            self.next()
        q.pattern = self._group_graph_pattern()
        self._solution_modifiers(q)
        return q

    def _ask(self) -> AskQuery:
        self.expect("ask")
        ds = self._dataset_clause()
        if self.peek_kw("where"):
            self.next()
        return AskQuery(pattern=self._group_graph_pattern(), dataset=ds)

    def _construct(self) -> ConstructQuery:
        self.expect("construct")
        ds = self._dataset_clause()  # shorthand form: clauses before WHERE
        if self.peek_kw("where"):
            # CONSTRUCT WHERE { bgp } shorthand (SPARQL 1.1 §10.2.2): the
            # pattern doubles as the template; triples and GRAPH groups only
            self.next()
            triples = self._quad_template()
            q = ConstructQuery(template=list(triples), pattern=BGP(triples), dataset=ds)
            self._solution_modifiers(q)
            return q
        template = self._quad_template()
        ds = self._dataset_clause()  # full form: clauses after the template
        if self.peek_kw("where"):
            self.next()
        q = ConstructQuery(
            template=template, pattern=self._group_graph_pattern(), dataset=ds
        )
        self._solution_modifiers(q)
        return q

    def _describe(self) -> DescribeQuery:
        self.expect("describe")
        terms: list = []
        while True:
            t = self.peek()
            if t is None or t.lower() in ("where", "from") or t == "{":
                break
            if t.startswith(("?", "$")):
                terms.append(("var", self.next()[1:]))
            else:
                terms.append(("iri", self._iri_value(self.next())))
        if not terms:
            raise RdfParseError("sparql: DESCRIBE needs at least one term")
        q = DescribeQuery(terms=terms, dataset=self._dataset_clause())
        if self.peek_kw("where"):
            self.next()
        if self.peek() == "{":
            q.pattern = self._group_graph_pattern()
        elif any(k == "var" for k, _ in terms):
            raise RdfParseError("sparql: DESCRIBE ?var requires a WHERE pattern")
        return q

    def _solution_modifiers(self, q: SelectQuery) -> None:
        if self.peek_kw("group"):
            self.next()
            self.expect("by")
            while True:
                t = self.peek()
                if t is None or t.lower() in ("having", "order", "limit", "offset"):
                    break
                if t.startswith(("?", "$")):
                    q.group_by.append(Var(self.next()[1:]))
                elif t == "(":
                    self.next()
                    expr = self._expression()
                    if self.peek_kw("as"):
                        self.next()
                        var = self.next()[1:]
                        q.group_by.append(("as", expr, var))
                    else:
                        q.group_by.append(expr)
                    self.expect(")")
                else:
                    break
        if self.peek_kw("having"):
            self.next()
            self.expect("(")
            q.having = self._expression()
            self.expect(")")
        if self.peek_kw("order"):
            self.next()
            self.expect("by")
            while True:
                t = self.peek()
                if t is None:
                    break
                tl = t.lower()
                if tl in ("limit", "offset"):
                    break
                if tl in ("asc", "desc"):
                    self.next()
                    self.expect("(")
                    expr = self._expression()
                    self.expect(")")
                    q.order_by.append((expr, tl == "asc"))
                elif t.startswith(("?", "$")):
                    q.order_by.append((Var(self.next()[1:]), True))
                elif t == "(":
                    self.next()
                    expr = self._expression()
                    self.expect(")")
                    q.order_by.append((expr, True))
                else:
                    break
        # LIMIT/OFFSET in either order
        for _ in range(2):
            if self.peek_kw("limit"):
                self.next()
                q.limit = int(self.next())
            elif self.peek_kw("offset"):
                self.next()
                q.offset = int(self.next())

    # ------------------------------------------------------------ patterns
    def _group_graph_pattern(self):
        self.expect("{")
        pattern = None
        filters: list = []

        def add(p):
            nonlocal pattern
            pattern = p if pattern is None else Join(pattern, p)

        while True:
            t = self.peek()
            if t is None:
                raise RdfParseError("sparql: unterminated group pattern")
            if t == "}":
                self.next()
                break
            tl = t.lower()
            if tl == "filter":
                self.next()
                if self.peek_kw("exists") or (
                    self.peek_kw("not") and (self.peek(1) or "").lower() == "exists"
                ):
                    filters.append(self._exists_expr())
                else:
                    self.expect("(")
                    filters.append(self._expression())
                    self.expect(")")
            elif tl == "optional":
                self.next()
                right = self._group_graph_pattern()
                expr = None
                if isinstance(right, Filter):
                    right, expr = right.pattern, right.expr
                pattern = LeftJoin(pattern if pattern is not None else BGP([]), right, expr)
            elif tl == "minus":
                self.next()
                right = self._group_graph_pattern()
                pattern = Minus(pattern if pattern is not None else BGP([]), right)
            elif tl == "graph":
                self.next()
                g = self._var_or_iri()
                sub = self._group_graph_pattern()
                add(GraphPattern(g, sub))
            elif tl == "service":
                self.next()
                silent = False
                if self.peek_kw("silent"):
                    self.next()
                    silent = True
                ep = self._var_or_iri()
                if ep[0] != "iri":
                    raise RdfParseError("sparql: SERVICE endpoint must be an IRI")
                # capture the raw token span of the inner group so the
                # translator can re-serialize it verbatim for the remote
                # endpoint (tokens re-join into valid SPARQL)
                start = self.i
                sub = self._group_graph_pattern()
                raw = _rejoin_tokens(self.toks[start : self.i])
                add(ServicePattern(ep[1], sub, silent, raw, dict(self.prefixes)))
            elif tl == "bind":
                self.next()
                self.expect("(")
                expr = self._expression()
                self.expect("as")
                var = self.next()
                self.expect(")")
                pattern = Extend(pattern if pattern is not None else BGP([]), var[1:], expr)
            elif tl == "values":
                self.next()
                add(self._values())
            elif t == "{":
                if (self.peek(1) or "").lower() == "select":
                    # nested sub-SELECT: its projection is the only scope
                    # visible to the outer group (SPARQL 1.1 subqueries)
                    self.next()
                    sub = SubSelect(self._select())
                    self.expect("}")
                else:
                    sub = self._group_graph_pattern()
                while self.peek_kw("union"):
                    self.next()
                    sub = Union(sub, self._group_graph_pattern())
                add(sub)
            elif t == ".":
                self.next()
            else:
                triples = self._triples_same_subject(graph=None)
                add(BGP(triples))
                if self.peek() == ".":
                    self.next()
        result = pattern if pattern is not None else BGP([])
        for f in filters:
            result = Filter(f, result)
        return result

    def _values(self) -> ValuesPattern:
        t = self.peek()
        if t is not None and t.startswith(("?", "$")):
            var = self.next()[1:]
            self.expect("{")
            rows = []
            while self.peek() != "}":
                rows.append([self._data_value()])
            self.expect("}")
            return ValuesPattern([var], rows)
        self.expect("(")
        variables = []
        while self.peek() != ")":
            variables.append(self.next()[1:])
        self.expect(")")
        self.expect("{")
        rows = []
        while self.peek() != "}":
            self.expect("(")
            row = []
            while self.peek() != ")":
                row.append(self._data_value())
            self.expect(")")
            rows.append(row)
        self.expect("}")
        return ValuesPattern(variables, rows)

    def _data_value(self):
        if self.peek_kw("undef"):
            self.next()
            return None
        return self._term()

    def _quad_template(self, graph=None) -> list:
        """``{ triples... GRAPH g { triples... } ... }``: a CONSTRUCT template
        or WHERE shorthand, an update's quad template or data.  A GRAPH
        group puts its triples in graph g (Jena's CONSTRUCT quads, Update's
        QuadPattern)."""
        self.expect("{")
        out: list = []
        while self.peek() != "}":
            if graph is None and self.peek_kw("graph"):
                self.next()
                out.extend(self._quad_template(self._var_or_iri()))
            else:
                out.extend(self._triples_same_subject(graph))
            if self.peek() == ".":
                self.next()
        self.expect("}")
        return out

    def _triples_same_subject(self, graph) -> list:
        triples: list = []
        t = self.peek()
        if t == "[":
            self.next()
            subj = self._fresh_bnode()
            if self.peek() != "]":
                self._predicate_object_list(subj, triples, graph)
            self.expect("]")
            if self.peek() not in (".", "}", None) and not self._at_keyword():
                self._predicate_object_list(subj, triples, graph)
            return triples
        if t == "(":
            subj = self._collection(triples, graph)
            if self.peek() not in (".", "}", None) and not self._at_keyword():
                self._predicate_object_list(subj, triples, graph)
            return triples
        subj = self._term()
        if subj[0] == "literal":
            raise RdfParseError("sparql: literal subject")
        self._predicate_object_list(subj, triples, graph)
        return triples

    def _collection(self, triples, graph) -> tuple:
        """RDF collection sugar ``( e1 e2 ... )`` -> rdf:first/rdf:rest
        chain of fresh bnodes (SPARQL 1.1 §4.2.3; the reference's own
        config SPARQL matches ``fk:config (?k ?v)`` this way,
        KafkaConnectorAssembler.java:303-309).  ``()`` is rdf:nil."""
        self.expect("(")
        elements = []
        while self.peek() != ")":
            t = self.peek()
            if t is None:
                raise RdfParseError("sparql: unterminated collection")
            if t == "[":
                self.next()
                node = self._fresh_bnode()
                if self.peek() != "]":
                    self._predicate_object_list(node, triples, graph)
                self.expect("]")
                elements.append(node)
            elif t == "(":
                elements.append(self._collection(triples, graph))
            else:
                elements.append(self._term())
        self.expect(")")
        if not elements:
            return ("iri", RDF_NIL)
        head = self._fresh_bnode()
        node = head
        for i, el in enumerate(elements):
            triples.append((node, ("iri", RDF_FIRST), el, graph))
            if i + 1 < len(elements):
                nxt = self._fresh_bnode()
                triples.append((node, ("iri", RDF_REST), nxt, graph))
                node = nxt
            else:
                triples.append((node, ("iri", RDF_REST), ("iri", RDF_NIL), graph))
        return head

    def _at_keyword(self) -> bool:
        t = self.peek()
        return t is not None and t.lower() in (
            "filter", "optional", "union", "minus", "graph", "bind", "values",
        )

    def _predicate_object_list(self, subj, triples, graph) -> None:
        while True:
            pred = self._path()
            while True:
                t = self.peek()
                if t == "[":
                    self.next()
                    onode = self._fresh_bnode()
                    triples.append((subj, pred, onode, graph))
                    if self.peek() != "]":
                        self._predicate_object_list(onode, triples, graph)
                    self.expect("]")
                elif t == "(":
                    onode = self._collection(triples, graph)
                    triples.append((subj, pred, onode, graph))
                else:
                    obj = self._term()
                    triples.append((subj, pred, obj, graph))
                if self.peek() == ",":
                    self.next()
                    continue
                break
            if self.peek() == ";":
                self.next()
                if self.peek() in (".", "}", "]", None) or self._at_keyword():
                    return
                continue
            return

    # ------------------------------------------------------------ paths
    def _path(self):
        alts = [self._path_seq()]
        while self.peek() == "|":
            self.next()
            alts.append(self._path_seq())
        if len(alts) == 1:
            return alts[0]
        return ("path", "alt", *alts)

    def _path_seq(self):
        elts = [self._path_elt_or_inverse()]
        while self.peek() == "/":
            self.next()
            elts.append(self._path_elt_or_inverse())
        if len(elts) == 1:
            return elts[0]
        return ("path", "seq", *elts)

    def _path_elt_or_inverse(self):
        if self.peek() == "^":
            self.next()
            return ("path", "inv", self._path_elt())
        return self._path_elt()

    def _path_elt(self):
        prim = self._path_primary()
        t = self.peek()
        if t == "+":
            self.next()
            return ("path", "plus", prim)
        if t == "*":
            self.next()
            return ("path", "star", prim)
        if t == "?":
            # only a path-modifier if not followed by a var name (tokenizer
            # emits vars as one token, so a lone '?' is always a modifier)
            self.next()
            return ("path", "opt", prim)
        return prim

    def _path_primary(self):
        t = self.peek()
        if t == "!":
            # negated property set: !iri, !^iri, or !(iri|^iri|...)
            self.next()
            fwd, inv = [], []

            def one():
                if self.peek() == "^":
                    self.next()
                    inv.append(self._neg_set_iri())
                else:
                    fwd.append(self._neg_set_iri())

            if self.peek() == "(":
                self.next()
                one()
                while self.peek() == "|":
                    self.next()
                    one()
                self.expect(")")
            else:
                one()
            return ("path", "neg", fwd, inv)
        if t == "(":
            self.next()
            p = self._path()
            self.expect(")")
            return p
        if t is not None and t.lower() == "a":
            self.next()
            return ("iri", RDF_TYPE)
        term = self._term()
        if term[0] != "iri":
            if term[0] == "var":
                return term  # variable predicate
            raise RdfParseError(f"sparql: bad path primary {term!r}")
        return term

    def _neg_set_iri(self) -> str:
        """A member of a negated property set: an IRI (or ``a``)."""
        t = self.peek()
        if t is not None and t.lower() == "a":
            self.next()
            return RDF_TYPE
        term = self._term()
        if term[0] != "iri":
            raise RdfParseError(f"sparql: negated property set needs IRIs, got {term!r}")
        return term[1]

    # ------------------------------------------------------------ terms
    def _iri_value(self, tok: str) -> str:
        if not (tok.startswith("<") and tok.endswith(">")):
            raise RdfParseError(f"sparql: expected IRI, got {tok!r}")
        iri = unescape_string(tok[1:-1])
        if self.base and "://" not in iri and not iri.startswith(("urn:", "mailto:")):
            return self.base + iri
        return iri

    def _resolve_pname(self, tok: str) -> str:
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise RdfParseError(f"sparql: unknown prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def _var_or_iri(self):
        t = self.next()
        if t.startswith(("?", "$")):
            return ("var", t[1:])
        if t.startswith("<"):
            return ("iri", self._iri_value(t))
        if ":" in t:
            return ("iri", self._resolve_pname(t))
        raise RdfParseError(f"sparql: expected var or IRI, got {t!r}")

    def _term(self):
        t = self.next()
        if t.startswith(("?", "$")):
            return ("var", t[1:])
        if t.startswith("<"):
            return ("iri", self._iri_value(t))
        if t.startswith("_:"):
            return ("bnode", t)
        if t.startswith(('"', "'")):
            if t.startswith(('"""', "'''")):
                lex = unescape_string(t[3:-3])
            else:
                lex = unescape_string(t[1:-1])
            nxt = self.peek()
            if nxt == "^^":
                self.next()
                dt_tok = self.next()
                dt = self._iri_value(dt_tok) if dt_tok.startswith("<") else self._resolve_pname(dt_tok)
                return ("literal", lex, dt, None)
            if nxt is not None and nxt.startswith("@") and len(nxt) > 1:
                self.next()
                # RDF 1.1 §3.3: language tags compare case-insensitively
                return ("literal", lex, None, nxt[1:].lower())
            return ("literal", lex, None, None)
        tl = t.lower()
        if tl == "true" or tl == "false":
            return ("literal", tl, XSD_BOOLEAN, None)
        if re.fullmatch(r"[+-]?\d+", t):
            return ("literal", t, XSD_INTEGER, None)
        if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.\d+)", t):
            return ("literal", t, XSD_DECIMAL, None)
        if re.fullmatch(r"[+-]?(?:\d+\.?\d*|\.\d+)[eE][+-]?\d+", t):
            return ("literal", t, XSD_DOUBLE, None)
        if tl == "a":
            return ("iri", RDF_TYPE)
        if ":" in t:
            return ("iri", self._resolve_pname(t))
        raise RdfParseError(f"sparql: unexpected term token {t!r}")

    # ------------------------------------------------------------ expressions
    def _exists_expr(self) -> ExistsExpr:
        negated = False
        if self.peek_kw("not"):
            self.next()
            negated = True
        self.expect("exists")
        return ExistsExpr(self._group_graph_pattern(), negated)

    def _expression(self):
        return self._or_expr()

    def _or_expr(self):
        left = self._and_expr()
        while self.peek() == "||":
            self.next()
            left = Op("||", [left, self._and_expr()])
        return left

    def _and_expr(self):
        left = self._rel_expr()
        while self.peek() == "&&":
            self.next()
            left = Op("&&", [left, self._rel_expr()])
        return left

    def _rel_expr(self):
        left = self._add_expr()
        t = self.peek()
        if t in ("=", "!=", "<", ">", "<=", ">="):
            op = self.next()
            return Op(op, [left, self._add_expr()])
        if t is not None and t.lower() == "in":
            self.next()
            return Op("in", [left, self._expr_list()])
        if t is not None and t.lower() == "not" and (self.peek(1) or "").lower() == "in":
            self.next()
            self.next()
            return Op("notin", [left, self._expr_list()])
        return left

    def _expr_list(self) -> list:
        self.expect("(")
        items = []
        if self.peek() == ")":  # grammar [128]: ExpressionList may be NIL
            self.next()
            return items
        while True:
            items.append(self._expression())
            if self.peek() == ",":
                self.next()
                continue
            break
        self.expect(")")
        return items

    _SIGNED_NUM = re.compile(r"[+-](?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?")

    def _add_expr(self):
        left = self._mul_expr()
        while True:
            t = self.peek()
            if t in ("+", "-"):
                op = self.next()
                left = Op(op, [left, self._mul_expr()])
                continue
            # SPARQL 1.1 grammar [116] AdditiveExpression: a signed numeric
            # literal continues the sum ("1+1" tokenizes as "1","+1"), and
            # any following *|/ binds to that literal, not the whole sum
            if t is not None and self._SIGNED_NUM.fullmatch(t):
                self.next()
                term = self._num_lit(t[1:])
                while self.peek() in ("*", "/"):
                    op = self.next()
                    term = Op(op, [term, self._unary_expr()])
                left = Op("+" if t[0] == "+" else "-", [left, term])
                continue
            return left

    @staticmethod
    def _num_lit(text: str) -> Lit:
        if re.fullmatch(r"\d+", text):
            return Lit(text, XSD_INTEGER, None)
        if re.fullmatch(r"\d+\.\d*|\.\d+", text):
            return Lit(text, XSD_DECIMAL, None)
        return Lit(text, XSD_DOUBLE, None)

    def _mul_expr(self):
        left = self._unary_expr()
        while self.peek() in ("*", "/"):
            op = self.next()
            left = Op(op, [left, self._unary_expr()])
        return left

    def _unary_expr(self):
        t = self.peek()
        if t == "!":
            self.next()
            return Op("!", [self._unary_expr()])
        if t == "-":
            self.next()
            return Op("neg", [self._unary_expr()])
        if t == "+":
            self.next()
            return self._unary_expr()
        return self._primary_expr()

    def _primary_expr(self):
        t = self.peek()
        if t is None:
            raise RdfParseError("sparql: unexpected end in expression")
        if t == "(":
            self.next()
            e = self._expression()
            self.expect(")")
            return e
        if t.startswith(("?", "$")):
            return Var(self.next()[1:])
        tl = t.lower()
        if tl in ("exists", "not") and (tl == "exists" or (self.peek(1) or "").lower() == "exists"):
            return self._exists_expr()
        if tl in AGGREGATES:
            return self._aggregate()
        if tl in BUILTINS:
            name = self.next().lower()
            args = []
            if self.peek() == "(":
                self.next()
                while self.peek() != ")":
                    args.append(self._expression())
                    if self.peek() == ",":
                        self.next()
                self.expect(")")
            return Call(name, args)
        term = self._term()
        if term[0] == "iri":
            # XPath constructor call (SPARQL 1.1 §17.5): <iri>(expr) /
            # xsd:integer(?v) — an IRI followed by an argument list casts
            if self.peek() == "(":
                self.next()
                args = []
                while self.peek() != ")":
                    args.append(self._expression())
                    if self.peek() == ",":
                        self.next()
                self.expect(")")
                return Call(term[1], args)  # name = the datatype IRI
            return Iri(term[1])
        if term[0] == "literal":
            return Lit(term[1], term[2], term[3])
        raise RdfParseError(f"sparql: bad expression term {term!r}")

    def _aggregate(self) -> Call:
        name = self.next().lower()
        self.expect("(")
        distinct = False
        if self.peek_kw("distinct"):
            self.next()
            distinct = True
        if self.peek() == "*":
            self.next()
            args = []
        else:
            args = [self._expression()]
        separator = None
        if self.peek() == ";":
            self.next()
            self.expect("separator")
            self.expect("=")
            sep_tok = self.next()
            separator = unescape_string(sep_tok[1:-1])
        self.expect(")")
        return Call(name, args, distinct=distinct, separator=separator)


def parse_sparql(text: str):
    return SparqlParser(text).parse()
